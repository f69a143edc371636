package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Headline-query timings: one noop-write per query and one JSON line.
  * Performance claims are measured with `perfbench/` (repeated,
  * output-checked runs); this line is a single run. */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional subset (scale-proof runs time a handful of headliners at
    // 10x/100x without paying for the full suite); full run by default.
    val names = sys.env.get("SPARK_GRAFT_QUERIES").filter(_.trim.nonEmpty).map { list =>
      val want = list.split(",").map(_.trim).filter(_.nonEmpty)
      val known = SparkEntry.queries.keySet
      want.filterNot(known).foreach(q =>
        System.err.println(s"[bench] unknown query in SPARK_GRAFT_QUERIES: $q"))
      want.filter(known).toSeq
    }
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (line, allOk) = run(spark, sfDir, names)
    try spark.stop() catch { case NonFatal(e) =>
      System.err.println(s"[bench] spark.stop: $e") }
    // printed after spark.stop() so nothing can follow it on stdout
    println(line)
    System.out.flush()
    if (!allOk) sys.exit(1)
  }

  /** Times `names` (the headline set when None) and returns the metric
    * line and whether every query passed. Failed queries report null
    * and are listed in "failed". */
  def run(spark: SparkSession, sfDir: String, names: Option[Seq[String]])
      : (String, Boolean) = {
    // Warmup: JVM/codegen/parquet-footer costs land here, not on the
    // first timed query.
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case NonFatal(e) => System.err.println(s"[bench] warmup q1_agg: $e") }
    CacheHygiene.sweep(spark, "warmup")
    val timedNames = names.getOrElse(SparkEntry.benchNames)
    // Per-query untimed warmups (QueryDef.benchWarmup): state a live
    // pipeline maintains incrementally (q258's piles) is built here so
    // the timed region measures the probe — the production shape — not
    // one-off state construction. A failed warmup is stamped in the
    // line: the timed run then rebuilds that state cold.
    val defsByName = SparkEntry.defs.map(q => q.name -> q).toMap
    val warmupFailed = scala.collection.mutable.ListBuffer[String]()
    timedNames.flatMap(defsByName.get).foreach { q =>
      q.benchWarmup.foreach { w =>
        System.err.println(s"[bench] warmup ${q.name}")
        try w(spark, sfDir)
        catch { case NonFatal(e) =>
          warmupFailed += q.name
          System.err.println(s"[bench] warmup ${q.name}: $e") }
        CacheHygiene.sweep(spark, s"warmup-${q.name}")
      }
    }
    // Noop write forces full materialization (a bare count() would let
    // Catalyst prune the computed columns away). Each query's leftover
    // cache is swept outside its timed region.
    val timed = timedNames.map { name =>
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case NonFatal(e) => System.err.println(s"[bench] $name: $e"); false }
      val ms = (System.nanoTime() - t0 + 500000) / 1000000
      CacheHygiene.sweep(spark, name)
      (name, ms, ok)
    }
    // seconds at ms precision; the total is the sum of the printed values
    def sec(ms: Long) = f"${ms / 1000.0}%.3f"
    def quoted(s: String) = "\"" + s + "\""
    val qs = timed.map { case (k, ms, ok) =>
      quoted(k) + ":" + (if (ok) sec(ms) else "null")
    }.mkString("{", ",", "}")
    val failed = timed.collect { case (k, _, false) => quoted(k) }.mkString("[", ",", "]")
    val total = timed.collect { case (_, ms, true) => ms }.sum
    // "subset":true marks a partial run so its total can never be
    // mistaken for a full headline reading.
    val subsetMark = names.fold("")(n => s""""subset":true,"nQueries":${n.size},""")
    val warmupMark =
      if (warmupFailed.isEmpty) ""
      else warmupFailed.map(quoted).mkString(""""warmupFailed":[""", ",", "],")
    val line = s"""{"metric":"total","value":${sec(total)},"unit":"sec",""" +
      s"""$subsetMark$warmupMark"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    (line, timed.forall(_._3))
  }
}
