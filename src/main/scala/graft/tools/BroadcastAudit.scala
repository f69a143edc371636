package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import scala.util.control.NonFatal

/** Broadcast-at-scale audit (the q215 bug class, round 11).
  *
  * The 100× scale run caught Catalyst planning broadcast joins over
  * CORPUS-DERIVED candidate sets: after a `HAVING count(*) >= 2`
  * aggregation its row estimate is a guess, the set actually grows
  * linearly with the corpus, and at 100× the broadcast collect blew
  * `spark.driver.maxResultSize` (5+ GB). That failure is invisible at
  * sf0.1 — estimates and reality are both "small" — so this tool makes
  * the check systematic instead of anecdotal: plan EVERY query against
  * scaled data (/tmp/sf10, 100×) and flag any broadcast whose subtree
  * reads a table that scales with the corpus THROUGH an
  * estimate-unreliable operator (Aggregate / Join / Generate / Window /
  * Expand). A broadcast of a filtered dimension scan is fine (its size
  * estimate tracks the file bytes); a broadcast of "the duplicated keys
  * of the corpus" is a latent 100 TB driver-OOM regardless of what the
  * estimate says today.
  *
  * The session runs with AQE off so `executedPlan` is the fully
  * prepared STATIC plan — `BroadcastExchangeExec` inserted, subqueries
  * planned — i.e. exactly the decision a cold planner makes from
  * statistics. (AQE's own runtime shuffle→broadcast conversions are
  * out of scope by design: they act on measured sizes, not estimates,
  * and are safe by construction.) Cached subtrees are audited too by
  * recursing into `InMemoryRelation.cachedPlan`.
  *
  * A flag is a REVIEW item, not automatically a bug: a derived set can
  * be bounded by construction (top-k, k centroids, a capped vocab).
  * The verdict per flag lives in docs/BENCH_NOTES.md.
  *
  * Cost note: the audit itself only PLANS, but queries that
  * materialize inside their builder fn (persist + count, the
  * q215/q201/q212 cache discipline) run those jobs while being
  * "planned" — budget minutes per such query at /tmp/sf10, and read
  * an "error" line for them as a runtime failure, not a planner one.
  *
  * Usage: runMain graft.tools.BroadcastAudit <sfDir> [q1,q2,...|ALL]
  * One JSON line per query with a nonzero result, plus a summary line.
  */
object BroadcastAudit {
  private def scansOf(p: SparkPlan): Seq[String] = {
    val names = scala.collection.mutable.ListBuffer.empty[String]
    // subquery-aware: a corpus scan feeding the build side THROUGH a
    // planned scalar/exists subquery must be attributed too, or the
    // gate has a silent false negative (r11 ADVICE)
    p.foreachWithSubqueries {
      case f: FileSourceScanExec =>
        val loc = f.relation.location.rootPaths.mkString(",")
        graft.sources.Tables.all.foreach(t =>
          if (loc.contains(s"$t.parquet")) names += t)
      case im: InMemoryTableScanExec =>
        names ++= scansOf(im.relation.cachedPlan)
      case leaf if leaf.children.isEmpty =>
        // Other scans: match the node string for a parquet table path.
        // RDD-backed leaves (ScalableSort's rank outputs) are lineage-
        // opaque and can be corpus-sized — mark them so a broadcast over
        // one is ALWAYS a review item rather than silently unattributed.
        val s = leaf.simpleString(maxFields = 25)
        graft.sources.Tables.all.foreach(t =>
          if (s.contains(s"$t.parquet")) names += t)
        if (leaf.nodeName.contains("ExistingRDD") ||
            leaf.getClass.getSimpleName.contains("RDDScan"))
          names += "(rdd-opaque)"
      case _ =>
    }
    names.toList.distinct
  }

  /** Does the subtree contain an operator whose output-size estimate is
    * a guess rather than a measurement? (Post-aggregation / post-join /
    * post-explode cardinalities are where Catalyst under- or
    * over-estimates by orders of magnitude.) */
  private def unreliable(p: SparkPlan): Seq[String] = {
    val kinds = scala.collection.mutable.LinkedHashSet.empty[String]
    p.foreachWithSubqueries { n =>
      val c = n.getClass.getSimpleName
      if (c.contains("Aggregate")) kinds += "agg"
      else if (c.contains("Join")) kinds += "join"
      else if (c.contains("Generate")) kinds += "explode"
      else if (c.contains("Window")) kinds += "window"
      else if (c.contains("Expand")) kinds += "expand"
      else if (c.contains("InMemoryTableScan"))
        kinds ++= unreliable(
          n.asInstanceOf[InMemoryTableScanExec].relation.cachedPlan)
    }
    kinds.toSeq
  }

  /** All broadcast exchanges in the prepared plan, including those
    * inside planned subqueries and cached subtrees. */
  private def broadcasts(p: SparkPlan): Seq[BroadcastExchangeExec] =
    p.collectWithSubqueries {
      case b: BroadcastExchangeExec => Seq(b)
      case im: InMemoryTableScanExec => broadcasts(im.relation.cachedPlan)
    }.flatten

  private def jarr(xs: Seq[String]): String =
    xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")

  /** The one flag rule: a broadcast is flagged when its build side
    * scans a non-dimension table and its size estimate is unreliable
    * (an unreliable node kind, or a scan the planner cannot see into).
    * Gives the offending tables and the unreliable kinds. */
  private def flagged(b: BroadcastExchangeExec): Option[(Seq[String], Seq[String])] = {
    val bad = scansOf(b.child).filterNot(graft.sources.Tables.dims)
    val kinds = unreliable(b.child)
    if (bad.nonEmpty && (kinds.nonEmpty || bad.contains("(rdd-opaque)"))) Some((bad, kinds))
    else None
  }

  /** Flag descriptors ("tables via kinds") for one prepared plan —
    * reusable by `BroadcastAuditSpec`, which gates every NEW query's
    * plan against the reviewed allowlist. The session must have AQE
    * disabled so the STATIC decision is what gets audited. */
  def flagsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    broadcasts(df.queryExecution.executedPlan).flatMap(flagged).map {
      case (bad, kinds) => s"${bad.mkString("+")} via ${kinds.mkString("+")}"
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf10")
    val wanted = args.drop(1).headOption.filterNot(_ == "ALL")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val defs = graft.SparkEntry.defs
      .filter(q => wanted.forall(_(q.name)))
    var totalB = 0
    var totalFlags = 0
    val flaggedQueries = scala.collection.mutable.ListBuffer.empty[String]
    defs.foreach { q =>
      val t0 = System.nanoTime()
      try {
        val df = q.fn(spark, sfDir)
        // Prepares the plan; queries that materialize INSIDE their fn
        // (q215/q201/q212-style persist+count) execute those jobs here
        // — at /tmp/sf10 that is minutes per such query, and a runtime
        // failure in one is reported below as an audit "error" line.
        val plan = df.queryExecution.executedPlan
        val bs = broadcasts(plan)
        totalB += bs.size
        val flags = bs.flatMap(b => flagged(b).map { case (bad, kinds) =>
          val est = b.child.logicalLink
            .map(_.stats.sizeInBytes.toString).getOrElse("?")
          if (sys.env.contains("AUDIT_VERBOSE")) {
            System.err.println(s"### ${q.name} broadcast subtree " +
              s"(tables=$bad via=$kinds est=$est):")
            System.err.println(
              b.child.treeString.linesIterator.take(30).mkString("\n"))
          }
          s"""{"tables":${jarr(bad)},""" +
            s""""via":${jarr(kinds)},""" +
            s""""estBytes":"$est"}"""
        })
        val sec = (System.nanoTime() - t0) / 1e9
        if (flags.nonEmpty) {
          totalFlags += flags.size
          flaggedQueries += q.name
          println(f"""{"query":"${q.name}","sec":$sec%.1f,""" +
            s""""broadcasts":${bs.size},"flagged":[${flags.mkString(",")}]}""")
        }
      } catch {
        case NonFatal(e) =>
          println(s"""{"query":"${q.name}","error":"${e.getClass.getName}"}""")
          System.err.println(s"[audit] ${q.name}: $e")
      }
      graft.CacheHygiene.sweep(spark, q.name)
    }
    println(s"""{"summary":true,"sfDir":"$sfDir","queries":${defs.size},""" +
      s""""broadcastExchanges":$totalB,"flags":$totalFlags,""" +
      s""""flaggedQueries":${jarr(flaggedQueries.toSeq)}}""")
    spark.stop()
  }
}
