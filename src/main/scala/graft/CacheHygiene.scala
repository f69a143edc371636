package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query cache hygiene for shared-session harnesses (Bench,
  * Verify): operators release their corpus-sized persists themselves
  * (blocking), and deliberately return their SMALL materialized
  * results persisted (q201 pairs, q215 spans, q210 pairs, cc labels);
  * the harness sweeps those after consuming each query's output so no
  * cache — large or small — can leak into the next query's run.
  *
  * The round-7 official bench failed its 2× gate solely because
  * corpus-sized caches leaked across queries (every query after
  * q215/q201 inflated 2.2–5.6×); this sweep turns that failure mode
  * into a logged, self-healing invariant instead of a forensic
  * exercise.
  */
object CacheHygiene {

  /** Release everything still persisted; returns the number of
    * offenders found (0 = the query cleaned up after itself entirely).
    * Offenders are logged, not fatal: small materialized results are
    * expected to be swept here by design. */
  def sweep(spark: SparkSession, tag: String): Int = {
    // Record what the query left persisted BEFORE clearing — this is
    // the regression signal (expected residue: the small materialized
    // results q201/q215/q210/cc-labels return by design). The snapshot
    // also keeps the RDD HANDLES: clearCache unpersists plan-level
    // caches NON-blocking and deregisters their RDDs immediately, so a
    // post-clearCache scan of getPersistentRDDs would never see them —
    // blocking on the snapshot handles is what actually guarantees the
    // blocks are gone before the next query starts.
    val left = spark.sparkContext.getPersistentRDDs
    if (left.nonEmpty)
      System.err.println(s"[hygiene] after $tag: sweeping ${left.size} " +
        s"persisted RDD(s): ${left.keys.toSeq.sorted.mkString(",")}")
    // Release the snapshot handles' blocks FIRST, synchronously (this
    // is the actual guarantee) …
    left.values.foreach(_.unpersist(blocking = true))
    // … then drop the plan-level (DataFrame.persist) cacheManager
    // entries; their RDDs' blocks are already gone, so clearCache's
    // non-blocking unpersist has nothing left to release
    // asynchronously. Final pass catches anything registered between
    // the snapshot and here.
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    left.size
  }

  /** `df` persisted and materialized — the small result a probe hands
    * back for the harness to sweep. If materializing fails, the cache
    * is released before the failure propagates. An older entry for the
    * same plan is dropped first: Spark matches a file scan by its root
    * path, so a probe of a pile that has since gained or compacted
    * segments would otherwise be served the earlier probe's rows. */
  def materialized(df: DataFrame): DataFrame = {
    df.unpersist(blocking = true)
    val out = df.persist()
    var done = false
    try { out.count(); done = true; out }
    finally if (!done) out.unpersist(blocking = false)
  }
}
