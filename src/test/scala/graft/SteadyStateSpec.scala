package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Steady state of a repeated query mix: once one pass has run, the next
  * pass compiles no generated class, because the codegen cache
  * (`spark.sql.codegen.cache.maxEntries`, set in `GraftSession.builder`)
  * holds the mix's working set. Guards that size as the query surface
  * grows; re-measure with `graft.tools.CodegenWorkingSet`. */
class SteadyStateSpec extends SparkTestBase {
  // the olap_tpch mix of the repository benchmark (perfbench/layers.py)
  private val mix = Seq("q1_agg", "q111_tpch_q6", "q110_tpch_q3", "q90_tpch_q5",
    "q92_tpch_q18", "q40_window_rank", "q35_like_regexp", "q185_mysql_json",
    "q51_knn_bruteforce", "q61_dedup_minhash")

  test("a second pass over the olap mix does zero Janino compiles") {
    val d = sf01
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Map[String, Long] = mix.map { q =>
      val before = compiles
      SparkEntry.queries(q)(spark, d).write.format("noop").mode("overwrite").save()
      q -> (compiles - before)
    }.toMap
    pass()
    assert(compiles > 0L, "the compile counter must be live")
    val second = pass().filter(_._2 > 0)
    assert(second.isEmpty, s"second-pass compiles per query: $second")
  }
}
