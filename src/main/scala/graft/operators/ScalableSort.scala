package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.util.control.NonFatal

/** Cluster-width knob for CPU-bound repartitions and range ranks.
  *
  * Per-row CPU stages (shingling, per-char window explodes, rank
  * exchanges) must parallelize to the CLUSTER's width, not the scan's
  * file count (a single parquet file at small SF = one task doing all
  * the work) and not a hard-coded constant (32 caps a 1000-core
  * cluster at 32 tasks). `defaultParallelism` is total scheduler cores
  * on any deployment; the floor of 32 keeps the tuned local-bench
  * shape when tests run with fewer local threads.
  */
object Par {
  def width(spark: SparkSession): Int =
    math.max(32, spark.sparkContext.defaultParallelism)

  /** Estimated number of scan splits Spark will give `df`'s underlying
    * files — Spark's own packing formula (FilePartition.maxSplitBytes:
    * each file padded by openCostInBytes, split size capped at
    * maxPartitionBytes and floored at bytes-per-core) applied to the
    * plan's file listing. Driver-side metadata only: no physical
    * planning, no jobs, and crucially no AQE stage materialization
    * (which `df.rdd.getNumPartitions` would trigger on a plan with
    * exchanges). 0 when the plan has no file sources (in-memory
    * relations) or the listing fails — callers treat that as "cannot
    * prove parallelism". */
  def estimatedScanSplits(df: DataFrame): Long = {
    val files = try df.inputFiles catch { case NonFatal(_) => Array.empty[String] }
    if (files.isEmpty) return 0L
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val maxPartitionBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(spark.sparkContext.defaultParallelism)
    val hconf = spark.sparkContext.hadoopConfiguration
    var total = 0L
    var n = 0L
    files.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(hconf).getFileStatus(p).getLen
        n += 1
      } catch { case _: java.io.IOException => }
    }
    if (n == 0) return 0L
    val padded = total + n * openCost
    val bytesPerCore = padded / math.max(1, minPartitionNum)
    val maxSplit = math.min(maxPartitionBytes, math.max(openCost, bytesPerCore))
    (padded + maxSplit - 1) / math.max(1L, maxSplit)
  }

  /** Width-repartition `df` ONLY when its scan cannot already supply
    * the parallelism (r17 VERDICT ask #3; guide §2.3/§2.5). The r17
    * unconditional `repartition(width)` before per-row CPU stages fixed
    * the bench fixture's one-file/one-task scans, but at 100 TB the
    * same scans have thousands of splits and the exchange becomes a
    * pure corpus-payload shuffle that buys nothing. Gate: skip the
    * exchange when the estimated scan split count already reaches the
    * cluster width. At bench SF every table is one small file → splits
    * ≪ width → the exchange stays (plans unchanged); a many-split scan
    * passes through untouched. */
  def widen(df: DataFrame): DataFrame = {
    val w = width(df.sparkSession)
    if (estimatedScanSplits(df) >= w) df else df.repartition(w)
  }
}

/** Scale-safe global ordering — the Spark mapping of the reference's
  * full Sort executor (`/root/reference/dbms/src/Flash/Planner/Plans/
  * PhysicalWindowSort.cpp`, external merge sort under fine-grained
  * shuffle, `docs/design/2022-06-14-fine-grained-shuffle.md`).
  *
  * A naive `row_number() OVER (ORDER BY ...)` with no PARTITION BY
  * collapses the whole table into one task — the classic scale-killer.
  * This operator computes the identical global rank with bounded
  * per-task state: range-partition on the sort key (Spark's
  * RangePartitioner, the same machinery `ORDER BY` itself uses), sort
  * within partitions, then `zipWithIndex` assigns contiguous global
  * indices from per-partition counts.
  */
object ScalableSort {

  /** Append a global `row_number() OVER (ORDER BY sortCols)` column
    * named `out` without a single-partition window.
    *
    * Consistency: ranks need ONE view of the range boundaries. If two
    * separate DataFrame actions each executed the range exchange, the
    * sampled boundaries could differ between runs (observed under
    * cached upstream lineage — duplicate/skipped ranks). Dropping to
    * the RDD layer fixes this structurally: `zipWithIndex` runs its
    * per-partition count job and its output pass over the SAME RDD, so
    * the shuffle map stage executes once and the second pass reuses
    * the shuffle files — boundaries are sampled exactly once, and no
    * persist is needed (the round-7 internal `.persist()` here leaked
    * an input-sized cache at every call site and degraded every bench
    * query that ran after it).
    *
    * EAGER-EXECUTION CONTRACT: `zipWithIndex` runs its count job at
    * construction, so CALLING this method executes the whole upstream
    * lineage — callers get a fully-determined frame, not a lazy plan.
    * Consequences for call sites: (a) plan-only harnesses (Plans.scala)
    * pay real compute and must sweep caches per query; (b) an operator
    * that feeds the same expensive upstream into globalRowNumber more
    * than once (q247's two midrank passes over the tokenized corpus)
    * must persist that upstream FIRST or it recomputes per call —
    * cheap pruned scans (q228's 3-column double rank) are fine; (c) the
    * lineage downstream of the returned frame starts from an RDD scan,
    * so whole-stage codegen resumes only after the next exchange
    * (see docs/PLANS.md "RDD-layer codegen boundary").
    */
  def globalRowNumber(df: DataFrame, out: String, sortCols: Column*): DataFrame = {
    val spark = df.sparkSession
    // Persist the input ACROSS the range exchange (r18, the q209
    // profile): materializing a RangePartitioning exchange evaluates
    // the input lineage TWICE — once for the boundary-sample job, once
    // for the shuffle map write — so an expensive upstream (q209's
    // per-row tokenize+score) paid itself double at every call site.
    // zipWithIndex is EAGER (count job at construction), so by the time
    // this method returns the map output exists and downstream actions
    // read shuffle files, never the cache — the persist is released
    // before returning. (The round-7 lesson was a persist with NO
    // unpersist leaking an input-sized cache per call; the bounded
    // persist-use-release here is the q215/q201 discipline.)
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val parted = cached
        .repartitionByRange(Par.width(spark), sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
      val schema = StructType(
        parted.schema.fields :+ StructField(out, LongType, nullable = false))
      // INTERNAL-row zipWithIndex (r17 optimization): `parted.rdd`
      // decoded every field to external Scala objects (strings included)
      // and re-encoded them through createDataFrame — guide §1.4's
      // `df.rdd` conversion cost, paid on the full ranked table at every
      // call site. `toRdd` keeps Tungsten rows end to end: copy the
      // iterator-reused UnsafeRow, append the rank as a 1-field joined
      // row. The consistency contract is unchanged — zipWithIndex still
      // runs its count job and its output pass over the SAME RDD, so
      // range boundaries are sampled exactly once.
      val rdd = parted.queryExecution.toRdd.zipWithIndex().map { case (r, i) =>
        new org.apache.spark.sql.catalyst.expressions.JoinedRow(
          r.copy(),
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](i + 1L)))
      }
      org.apache.spark.sql.graftshim.ColumnBridge
        .internalCreateDataFrame(spark,
          rdd.asInstanceOf[org.apache.spark.rdd.RDD[
            org.apache.spark.sql.catalyst.InternalRow]], schema)
    } finally cached.unpersist(blocking = false)
  }
}
