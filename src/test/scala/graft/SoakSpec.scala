package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Ingest
import graft.sources.Tables
import graft.operators.{InvertedText, TextPipeline}

/** Long-horizon soak of the incremental-index lifecycle (r13 VERDICT
  * ask #2): 12 maintenance ticks across five segment piles (agg MV,
  * postings, LSH banding, ExactSubstr window state, and — r17 — the
  * IVF vector index) — 60 micro-batches total — with SEEDED-random crash injection between ticks (stale
  * fold, mid-promote kill, lost checkpoint commit, torn marker), the
  * policy-driven auto-compaction live (threshold 4, so every pile folds
  * ~3× from ingest alone), and from-scratch-rebuild equivalence
  * asserted at checkpoints and at the end. This is the composed
  * endurance run the reference's background delta-merge gets from its
  * fullstack suites (`/root/reference/dbms/src/Storages/DeltaMerge/
  * DeltaMergeStore_InternalBg.cpp:572-637`) — the per-state recovery
  * contracts live in `StreamingSpec`; this proves they COMPOSE over a
  * long horizon.
  *
  * Crash states are manufactured on disk exactly as the per-state
  * tests do (the real crash is a process kill; the on-disk state it
  * leaves is what recovery sees, and that state is what's constructed
  * here). The RNG is seeded — the run is deterministic, reproducible,
  * and injects every crash class at least once (asserted). */
class SoakSpec extends SparkTestBase {

  private val Ticks = 12
  private val Threshold = 4

  /** One pile kind under soak: how to ingest a tick, compact, snapshot
    * the read view, and recompute that view from scratch over the
    * prefix ingested so far. */
  private case class Pile(
      name: String,
      path: String,
      ingest: () => Unit,
      compact: () => Unit,
      view: () => Set[String],
      fromScratch: Int => Set[String])

  private def segDirs(path: String): Set[String] = {
    val d = new java.io.File(path)
    if (!d.exists) Set.empty
    else d.listFiles.map(_.getName).filter(_.startsWith("seg=")).toSet
  }

  test("crash-injected micro-batches keep all eight piles consistent and bounded") {
    val rng = new scala.util.Random(20260815L)
    val base = Files.createTempDirectory("graft-soak")
    val inDocs = base.toString + "/in-docs"
    val inEv = base.toString + "/in-ev"
    val docs = Tables.documents(spark, sf)
    val events = Tables.events(spark, sf)

    def docPrefix(tick: Int) = docs.filter(pmod(col("doc_id"), lit(Ticks)) <= tick)
    def evPrefix(tick: Int) = events.filter(pmod(col("event_id"), lit(Ticks)) <= tick)

    val agg = Pile("agg", base.toString + "/agg",
      ingest = () => Ingest.streamAggMaintain(spark, inEv,
        base.toString + "/agg", autoCompactSegments = Threshold),
      compact = () => Ingest.compactAggState(spark, base.toString + "/agg"),
      view = () => Ingest.aggViewOf(spark.read.parquet(base.toString + "/agg"))
        .select(col("event_type"), col("day"), col("cnt"),
          col("vsum").cast("decimal(30,2)"),
          hll_sketch_estimate(col("users_hll")))
        .collect().map(_.mkString("|")).toSet,
      fromScratch = t => Ingest.aggPartial(evPrefix(t))
        .select(col("event_type"), col("day"), col("cnt"),
          col("vsum").cast("decimal(30,2)"),
          hll_sketch_estimate(col("users_hll")))
        .collect().map(_.mkString("|")).toSet)

    val post = Pile("postings", base.toString + "/post",
      ingest = () => Ingest.streamPostingsIngest(spark, inDocs,
        base.toString + "/post", autoCompactSegments = Threshold),
      compact = () => Ingest.compactPostings(spark, base.toString + "/post"),
      view = () => Ingest.mergePostingsSegments(
          spark.read.parquet(base.toString + "/post").drop("tbucket", "seg"))
        .collect().map(r => s"${r.getString(0)}|${r.getSeq[Long](1).mkString(",")}|${r.getLong(2)}").toSet,
      fromScratch = t => InvertedText.buildPostings(docPrefix(t))
        .collect().map(r => s"${r.getString(0)}|${r.getSeq[Long](1).mkString(",")}|${r.getLong(2)}").toSet)

    val lsh = Pile("lsh", base.toString + "/lsh",
      ingest = () => Ingest.streamLshIngest(spark, inDocs,
        base.toString + "/lsh", autoCompactSegments = Threshold),
      compact = () => Ingest.compactLshIndex(spark, base.toString + "/lsh"),
      view = () => TextPipeline.lshPairsFromBands(
          spark.read.parquet(base.toString + "/lsh")
            .select(col("doc_id"), col("band"), col("bucket")))
        .collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSet,
      fromScratch = t => TextPipeline.lshPairsFromBands(
          TextPipeline.minhashBands(docPrefix(t)))
        .collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSet)

    val span = Pile("span", base.toString + "/span",
      ingest = () => Ingest.streamDupSpanMaintain(spark, inDocs,
        base.toString + "/span", autoCompactSegments = Threshold),
      compact = () => Ingest.compactDupSpanState(spark, base.toString + "/span"),
      view = () => Ingest.dupHashView(spark.read.parquet(base.toString + "/span"))
        .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}").toSet,
      fromScratch = t => TextPipeline.dupSpanPartial(docPrefix(t))
        .filter(col("c") >= 2).select(col("hk"), col("g"))
        .collect().map(r => s"${r.getLong(0)}|${r.getString(1)}").toSet)

    // The IVF pile (r17, the 7th incremental surface, in the
    // crash-injection rotation): assignment rows against the FIXED
    // quantizer are immutable facts, so the view is the rows
    // themselves (cid partition values read back as ints — cast long).
    val inEmb = base.toString + "/in-emb"
    val emb = Tables.embeddings(spark, sf)
    val cent = graft.operators.Similarity.ivfCentroids(emb)
    def embPrefix(tick: Int) = emb.filter(pmod(col("vec_id"), lit(Ticks)) <= tick)
    val ivf = Pile("ivf", base.toString + "/ivf",
      ingest = () => Ingest.streamIvfIngest(spark, inEmb,
        base.toString + "/ivf", cent, autoCompactSegments = Threshold),
      compact = () => Ingest.compactIvfIndex(spark, base.toString + "/ivf"),
      view = () => spark.read.parquet(base.toString + "/ivf")
        .select(col("vec_id"), col("cid").cast("long"))
        .collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSet,
      fromScratch = t => graft.operators.Similarity.ivfAssign(embPrefix(t), cent)
        .select(col("vec_id"), col("cid"))
        .collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSet)

    // The tf-postings + doc-stats pair (late r17, behind the q267 BM25
    // probe): tf rows are immutable per-(doc, term) facts with the
    // denormalized doc length; doc-stats is the keyless mergeable-sum
    // fold.
    val tfPost = Pile("tf-postings", base.toString + "/tfpost",
      ingest = () => Ingest.streamTfPostingsIngest(spark, inDocs,
        base.toString + "/tfpost", autoCompactSegments = Threshold),
      compact = () => Ingest.compactTfPostings(spark, base.toString + "/tfpost"),
      view = () => spark.read.parquet(base.toString + "/tfpost")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"))
        .collect().map(_.mkString("|")).toSet,
      fromScratch = t => InvertedText.buildTfPostings(docPrefix(t))
        .collect().map(_.mkString("|")).toSet)
    val stats = Pile("doc-stats", base.toString + "/docstats",
      ingest = () => Ingest.streamDocStatsIngest(spark, inDocs,
        base.toString + "/docstats", autoCompactSegments = Threshold),
      compact = () => Ingest.compactDocStats(spark, base.toString + "/docstats"),
      view = () => Ingest.docStatsView(
          spark.read.parquet(base.toString + "/docstats"))
        .collect().map(_.mkString("|")).toSet,
      fromScratch = t => Ingest.docStatsPartial(docPrefix(t))
        .collect().map(_.mkString("|")).toSet)

    val posPost = Pile("pos-postings", base.toString + "/pospost",
      ingest = () => Ingest.streamPosPostingsIngest(spark, inDocs,
        base.toString + "/pospost", autoCompactSegments = Threshold),
      compact = () => Ingest.compactPosPostings(spark, base.toString + "/pospost"),
      view = () => spark.read.parquet(base.toString + "/pospost")
        .select(col("term"), col("doc_id"), col("pos"))
        .collect().map(_.mkString("|")).toSet,
      fromScratch = t => docPrefix(t).select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "term")))
        .select(col("term"), col("doc_id"), col("pos"))
        .collect().map(_.mkString("|")).toSet)

    val piles = Seq(agg, post, lsh, span, ivf, tfPost, stats, posPost)
    val fs = new Path(base.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val injected = scala.collection.mutable.Set[String]()
    // Randomized schedule with guaranteed class coverage: a seeded
    // shuffle of the crash classes over the 11 injection slots (ticks
    // 1..11) — every class fires at least twice, in random order, on a
    // randomly chosen pile, deterministically reproducible.
    val schedule = rng.shuffle((0 until Ticks - 1).map(_ % 5).toList)

    /** Manufacture a crash state on a random pile, then recover (or
      * assert the refusal the state demands). Only states a real kill
      * can leave; content is always a LEGAL generation or garbage in a
      * location recovery may discard. */
    def inject(tick: Int): Unit = {
      val pick = rng.nextInt(piles.size)
      val p = piles(pick)
      val live = new Path(p.path)
      schedule(tick - 1) match {
        case 0 => // no crash this tick
        case 1 =>
          // crash AFTER a fold wrote its tmp, BEFORE the demote: live
          // intact, stale tmp garbage — recovery discards the tmp
          injected += "stale-tmp"
          fs.mkdirs(new Path(p.path + ".compact-tmp/seg=-1"))
          val o = fs.create(new Path(p.path + ".compact-tmp/seg=-1/garbage"), true)
          o.write("stale".getBytes("UTF-8")); o.close()
          assert(Ingest.recoverCompaction(spark, p.path) === "live-intact",
            s"[${p.name} tick $tick] stale-tmp recovery")
        case 2 =>
          // full fold, then a kill between the promote's two renames:
          // live gone, the folded generation durable at .compact-tmp
          // (markers ride it — the StreamingSpec contract) — recovery
          // must promote it
          injected += "mid-promote"
          val want = p.view()
          p.compact()
          assert(fs.rename(live, new Path(p.path + ".compact-tmp")))
          assert(Ingest.recoverCompaction(spark, p.path) === "promoted-tmp",
            s"[${p.name} tick $tick] mid-promote recovery")
          assert(p.view() === want,
            s"[${p.name} tick $tick] mid-promote recovery must preserve reads")
        case 3 =>
          // lost checkpoint commit (sink committed, commit log lost):
          // compaction must REFUSE inside the replay window; the next
          // maintenance tick replays idempotently and heals the log.
          // Only meaningful while un-folded segments exist — a
          // just-folded pile (seg=-1 only) has nothing in the replay
          // window, and its compaction is legal. Rotate from the
          // random pick to the first ELIGIBLE pile so the class fires
          // whenever any pile is eligible (a fixed-seed schedule must
          // stay class-complete as piles are added).
          piles.indices.map(j => piles((pick + j) % piles.size))
            .find(c => segDirs(c.path).exists(_ != "seg=-1") &&
              fs.exists(new Path(c.path + "-ckpt/commits")))
            .foreach { c =>
              val commits = new Path(c.path + "-ckpt/commits")
              injected += "lost-commit"
              val last = fs.listStatus(commits).map(_.getPath.getName)
                .filter(_.forall(_.isDigit)).map(_.toLong).max
              assert(fs.delete(new Path(s"$commits/$last"), false))
              val e = intercept[java.io.IOException] { c.compact() }
              assert(e.getMessage.contains("not yet committed"),
                s"[${c.name} tick $tick] replay-window refusal")
              // heal: re-run the maintenance tick (idempotent replay)
              c.ingest()
            }
        case 4 =>
          // torn marker write (kill mid-create): 0-byte _buckets on a
          // marker-carrying pile — the next ingest must refuse loudly
          // until the operator restores it
          val marker = new Path(lsh.path + "/_buckets")
          if (fs.exists(marker)) {
            injected += "torn-marker"
            val o = fs.create(marker, true); o.close()
            val e = intercept[java.io.IOException] { lsh.ingest() }
            assert(e.getMessage.contains("corrupt _buckets marker"),
              s"[lsh tick $tick] torn-marker refusal")
            val o2 = fs.create(marker, true)
            o2.write("16".getBytes("UTF-8")); o2.close()
          }
      }
    }

    for (tick <- 0 until Ticks) {
      docs.filter(pmod(col("doc_id"), lit(Ticks)) === tick)
        .write.mode("append").parquet(inDocs)
      events.filter(pmod(col("event_id"), lit(Ticks)) === tick)
        .write.mode("append").parquet(inEv)
      emb.filter(pmod(col("vec_id"), lit(Ticks)) === tick)
        .write.mode("append").parquet(inEmb)
      if (tick > 0) inject(tick)
      piles.foreach(_.ingest())
      // the policy bounds every pile's not-yet-folded segment count:
      // ingest adds one segment per tick, the threshold folds at 4, so
      // a post-tick pile can never hold 4+ live segments
      piles.foreach { p =>
        val live = segDirs(p.path).filter(_ != "seg=-1")
        assert(live.size < Threshold,
          s"[${p.name} tick $tick] policy failed to bound the pile: $live")
      }
      // from-scratch equivalence at checkpoints (cost control: every
      // 4th tick + the end; the cheap bound above runs every tick)
      if (tick % 4 == 3 || tick == Ticks - 1)
        piles.foreach { p =>
          val v = p.view()
          assert(v === p.fromScratch(tick) && v.nonEmpty,
            s"[${p.name} tick $tick] pile view diverged from the from-scratch rebuild")
        }
    }
    // every crash class must have fired at least once (the seed is
    // fixed; if it rotates, re-pick one that covers all four)
    assert(injected === Set("stale-tmp", "mid-promote", "lost-commit", "torn-marker"),
      s"seed must exercise every crash class, got $injected")
    // probe-level equivalence on the fully-ingested corpus: the
    // dup-span probe of the final slice must reproduce batch q215's
    // rows for those docs (the StreamingSpec contract, re-proven after
    // 12 ticks + injected crashes + ~3 policy folds)
    def spanRows(df: DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probed = spanRows(Ingest.dupSpanProbe(spark, span.path,
      docs.filter(pmod(col("doc_id"), lit(Ticks)) === Ticks - 1)))
    val direct = spanRows(TextPipeline.q215DupSpans.fn(spark, sf)
      .filter(pmod(col("doc_id"), lit(Ticks)) === Ticks - 1))
    CacheHygiene.sweep(spark, "q215_dup_spans")
    assert(probed === direct,
      s"post-soak dup-span probe diverged from batch q215 (${probed.size} vs ${direct.size})")
  }
}
