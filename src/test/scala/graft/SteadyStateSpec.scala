package graft

import java.nio.file.{Files, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.streaming.Ingest

/** Steady state: once a query, an ingest tick or a snapshot read has run,
  * repeating it compiles no generated class.
  *
  *  - The olap mix: the codegen cache (`spark.sql.codegen.cache.maxEntries`,
  *    set in `GraftSession.builder`) holds the mix's working set. Guards
  *    that size as the query surface grows; re-measure with
  *    `graft.tools.CodegenWorkingSet`.
  *  - Ingest ticks: every AvailableNow query runs under the one shared
  *    class loader (`spark.sql.artifact.isolation.enabled=false`), so its
  *    classes hit the cache on the next tick.
  *  - Queries whose codegen stages race (AQE numbers them as shuffles
  *    finish): class names carry no stage id
  *    (`spark.sql.codegen.useIdInClassName=false`), so a rerun generates
  *    the same source.
  *  - Snapshot reads: `Ingest.snapshot` binds the read version as a value,
  *    so a read at a new version reuses the previous version's classes. */
class SteadyStateSpec extends SparkTestBase {
  // the olap_tpch mix of the repository benchmark (perfbench/layers.py)
  private val mix = Seq("q1_agg", "q111_tpch_q6", "q110_tpch_q3", "q90_tpch_q5",
    "q92_tpch_q18", "q40_window_rank", "q35_like_regexp", "q185_mysql_json",
    "q51_knn_bruteforce", "q61_dedup_minhash")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compilesOf(body: => Unit): Long = {
    val before = compiles
    body
    compiles - before
  }

  test("a second pass over the olap mix does zero Janino compiles") {
    val d = sf01
    def pass(): Map[String, Long] = mix.map { q =>
      q -> compilesOf(SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save())
    }.toMap
    pass()
    assert(compiles > 0L, "the compile counter must be live")
    val second = pass().filter(_._2 > 0)
    assert(second.isEmpty, s"second-pass compiles per query: $second")
  }

  test("queries whose codegen stages race compile nothing on passes 2 and 3") {
    // q201_ssjoin_prefix pins its rank join to sort-merge: left to AQE, the
    // join flipped to broadcast-hash on some runs and compiled a new class
    val raced = Seq("q197_kneser_ney", "q201_ssjoin_prefix", "q209_auc_eval",
      "q218_ivfpq_rerank", "q258_crawl_capstone")
    def pass(): Map[String, Long] = raced.map { q =>
      q -> compilesOf {
        SparkEntry.queries(q)(spark, sf01).write.format("noop").mode("overwrite").save()
        CacheHygiene.sweep(spark, q)
      }
    }.toMap
    pass()
    val later = Seq(pass(), pass())
    assert(later.forall(_.values.forall(_ == 0L)),
      s"compiles per query on passes 2 and 3: ${later.mkString(" then ")}")
  }

  /** sf0.01 `events` in `n` event_id ranges, one flat parquet file each
    * (the stream source lists its input directory non-recursively), with
    * the newest version (event_id) each batch commits. */
  private def stageBatches(base: Path, n: Int): Seq[(Path, Long)] = {
    val events = spark.read.parquet(s"$sf01/events.parquet")
    val ids = events.select(col("event_id")).collect().map(_.getLong(0)).sorted
    val bounds = (0 to n).map(k => if (k == n) Long.MaxValue else ids(k * ids.length / n))
    (0 until n).map { k =>
      val stage = base.resolve(s"stage$k")
      events.filter(col("event_id") >= bounds(k) && col("event_id") < bounds(k + 1))
        .coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, base.resolve(f"batch$k%02d.parquet")) -> ids((k + 1) * ids.length / n - 1)
    }
  }

  private def segments(pile: String): Int =
    Option(new java.io.File(pile).list).map(_.count(_.startsWith("seg="))).getOrElse(0)

  /** Ten ticks of the htap ingest path over sf0.01 `events`, the agg-MV
    * compacting every fourth segment: (tick, compacted, compiles) per
    * tick, the changelog pile and the version each batch committed. */
  private lazy val ingested: (Seq[(Int, Boolean, Long)], String, Seq[Long]) = {
    val base = Files.createTempDirectory("graft-steady-ingest")
    val in = base.resolve("in")
    Files.createDirectories(in)
    val log = s"$base/changelog"
    val mv = s"$base/mv"
    val batches = stageBatches(base, 10)
    val ticks = batches.map(_._1).zipWithIndex.map { case (b, k) =>
      Files.move(b, in.resolve(b.getFileName))
      val before = segments(mv)
      val n = compilesOf {
        Ingest.streamIngest(spark, in.toString, log)
        Ingest.streamAggMaintain(spark, in.toString, mv, autoCompactSegments = 4)
      }
      (k, segments(mv) <= before, n)
    }
    (ticks, log, batches.map(_._2))
  }

  test("repeated ingest ticks and compactions do zero Janino compiles after the first") {
    val (ticks, _, _) = ingested
    val report = ticks.map { case (k, c, n) => s"tick $k${if (c) " (compaction)" else ""}: $n" }
      .mkString(", ")
    val compactions = ticks.filter(_._2)
    assert(compactions.map(_._1) === Seq(3, 7), s"compacting ticks: $report")
    assert(compiles > 0L, "the compile counter must be live")
    assert(ticks.drop(1).filterNot(_._2).forall(_._3 == 0L), s"compiles per tick: $report")
    assert(compactions(1)._3 == 0L, s"the second compaction compiled; compiles per tick: $report")
  }

  test("snapshot reads at successive versions do zero Janino compiles after the first") {
    val (_, log, versions) = ingested
    // aggregate the snapshot at each newly committed version, as an htap reader does
    val reads = versions.takeRight(4).map { v =>
      v -> compilesOf(Ingest.snapshot(spark.read.parquet(log), v)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(30,2)")).as("vsum"))
        .collect())
    }
    assert(reads.drop(1).forall(_._2 == 0L),
      s"compiles per snapshot read (version -> compiles): ${reads.mkString(", ")}")
  }
}
