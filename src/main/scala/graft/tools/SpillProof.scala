package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.util.control.NonFatal

/** Spill-path proof (round-9 VERDICT ask #4): run a query subset under
  * a constrained heap (the harness passes `-Xmx2g` via run/javaOptions)
  * against scaled data and record per-query
  * `memoryBytesSpilled`/`diskBytesSpilled` from task metrics — nonzero
  * spill proves the EXTERNAL sort/aggregation/join paths actually
  * engaged (matching the reference's spill posture:
  * `/root/reference/dbms/src/Interpreters/Aggregator.cpp:1268`,
  * `HashJoinSpillContext.h`), while the parquet dump feeds
  * `tools/check_oracle.py` so the under-pressure results are
  * hash-verified unchanged, not just "didn't crash".
  *
  * Two ways to engage the spill paths:
  *  - heap pressure alone (no threshold): realistic, but local[32] on a
  *    small heap gives each task ~heap/64 of execution memory — an
  *    operator holding a non-spillable page then dies with
  *    UNABLE_TO_ACQUIRE_MEMORY instead of spilling (observed: q215 at
  *    10×/2 GiB), and comfortably-sized queries never spill at all.
  *  - SPARK_GRAFT_SPILL_THRESHOLD=<n>: force the EXTERNAL paths
  *    deterministically — UnsafeExternalSorter (sort/shuffle/agg
  *    fallback), window and sort-merge-join row buffers all spill
  *    after n elements. This drives the same spill code a 100 TB
  *    deployment relies on, with measurable bytes, regardless of heap.
  *
  * Usage: runMain graft.tools.SpillProof <sfDir> <outDir> <q1,q2,...>
  * Prints one JSON line per query:
  *   {"query":...,"sec":...,"memSpilledBytes":...,"diskSpilledBytes":...}
  */
object SpillProof {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.tools.SpillProof <sfDir> <outDir> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, namesS) = args.take(3)
    val names = namesS.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE_PARTITIONS: size the exchanges to the data
    // instead of the default cores=32 — the knob every 100 TB cluster
    // sets (~2-3x total cores / ~128 MB per partition). The r12 100x
    // runs show it IS the memory-pressure story: 32 partitions puts
    // ~80M group keys in one hash-agg task and dies AGGREGATE_OUT_OF-
    // _MEMORY at 16 GiB, while 256 partitions (or the spill threshold)
    // completes with identical hashes (docs/BENCH_NOTES.md r12).
    val parts = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(cpus.toInt)
    var builder = graft.GraftSession.builder(s"local[$cpus]", parts)
    sys.env.get("SPARK_GRAFT_SPILL_THRESHOLD").foreach { th =>
      builder = builder
        .config("spark.shuffle.spill.numElementsForceSpillThreshold", th)
        .config("spark.sql.windowExec.buffer.spill.threshold", th)
        .config("spark.sql.sortMergeJoinExec.buffer.spill.threshold", th)
        .config("spark.sql.cartesianProductExec.buffer.spill.threshold", th)
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    val mem = new AtomicLong(0L)
    val disk = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          mem.addAndGet(m.memoryBytesSpilled)
          disk.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    println(s"""{"heapMaxBytes":${Runtime.getRuntime.maxMemory}}""")
    names.foreach { name =>
      mem.set(0L); disk.set(0L)
      val t0 = System.nanoTime()
      val ok =
        try {
          graft.SparkEntry.queries(name)(spark, sfDir)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          true
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[spill] $name FAILED: $e"); false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      graft.CacheHygiene.sweep(spark, name)
      // listener events are posted asynchronously (and the bus is
      // private[spark], so no waitUntilEmpty): the job is complete when
      // write() returns, so a short settle covers the posting lag. The
      // counters reset at the top of the NEXT iteration (i.e. after
      // this settle), but an event outliving the settle on a loaded box
      // would still bleed forward — "settleMs" records the window so a
      // reader can judge that residual race.
      Thread.sleep(1000)
      println(f"""{"query":"$name","ok":$ok,"sec":$sec%.2f,""" +
        s""""memSpilledBytes":${mem.get},"diskSpilledBytes":${disk.get},""" +
        s""""settleMs":1000}""")
    }
    spark.stop()
  }
}
