package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.streaming.Trigger
import graft.QueryDef
import graft.functions.BoundLong
import graft.sources.Tables

/** Continuous ingest + MVCC snapshot reads — the Spark mapping of the
  * reference's only write path: Raft learner logs applied to the Delta
  * layer, queried through snapshot-consistent MVCC reads
  * (`/root/reference/dbms/src/Storages/KVStore/`, version filter
  * `Storages/DeltaMerge/DMVersionFilterBlockInputStream.h:32-41,66-67`:
  * rows carry hidden version + delmark; reads keep the newest
  * version <= read_ts and drop delete-marked rows).
  *
  * Mapping (SURVEY §2.6): TiFlash has no user-facing stream operators —
  * the streaming-shaped capability is continuous ingest + consistent
  * snapshot, realized as Structured Streaming `readStream` →
  * `foreachBatch` append of (pk, version, delmark) rows, with the
  * snapshot view as a window query and a compaction job ≙ delta-merge
  * (`DeltaMergeStore_InternalBg.cpp`).
  */
object Ingest {

  /** events → versioned changelog: pk = user_id, version = event_id
    * (monotonic), delmark = 'error' events (demo convention). */
  def versioned(df: DataFrame): DataFrame =
    df.select(
      col("user_id"), col("event_id").as("version"),
      (col("event_type") === "error").as("delmark"),
      col("event_type"), col("value"), col("ts"))

  /** MVCC snapshot at `readTs`: newest surviving version per pk.
    * ≙ DMVersionFilter MVCC mode (COMPACT). The window partitions on
    * the pk — high-cardinality, so this scales as a hash shuffle.
    * `readTs` is bound as a value, not a literal: every committed tick
    * gives readers a new version, and a literal would make each one a
    * new generated class. */
  def snapshot(versionedDf: DataFrame, readTs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("version").desc)
    versionedDf
      .filter(col("version") <= ColumnBridge.column(BoundLong(readTs)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && !col("delmark"))
      .drop("rn")
  }

  /** Background compaction POLICY ≙ the reference's GC triggers
    * (`/root/reference/dbms/src/Storages/DeltaMerge/
    * DeltaMergeStore_InternalBg.cpp:572-637`): a segment compacts when
    * MVCC garbage crosses a ratio threshold. Two triggers, mirrored
    * exactly:
    *
    *  - `shouldCompactStableWithTooManyInvalidVersion`: ratio < 1 →
    *    always; no data older than the GC safepoint → never; else
    *    versions > rows·ratio (many superseded versions) or
    *    versions > puts·ratio (many non-effective versions);
    *  - `shouldCompactDeltaWithStable`: nothing delete-ranged → never;
    *    else delete_rows ≥ stable_rows·ratio OR delete_bytes ≥
    *    stable_bytes·ratio — `≥` (not `>`) so an all-delta segment with
    *    stable_rows = 0 still compacts (the small-table edge the
    *    reference comments on).
    */
  object CompactionPolicy {
    final case class SegmentStats(
        numRows: Long, // distinct live pks in the stable snapshot
        numPuts: Long, // non-delete changelog entries
        numVersions: Long, // total changelog entries
        gcHintVersion: Long) // oldest version that GC could reclaim

    def shouldCompactInvalidVersions(
        s: SegmentStats, gcSafepoint: Long, ratio: Double): Boolean =
      if (ratio < 1.0) true
      else if (s.gcHintVersion > gcSafepoint) false
      else s.numVersions > s.numRows * ratio || s.numVersions > s.numPuts * ratio

    def shouldCompactDeleteRange(
        deleteRows: Long, deleteBytes: Long,
        stableRows: Long, stableBytes: Long, ratio: Double): Boolean =
      (deleteRows > 0 || deleteBytes > 0) &&
        (deleteRows >= stableRows * ratio || deleteBytes >= stableBytes * ratio)

    /** Derive the per-table stats the triggers need from a versioned
      * changelog — one aggregate scan (the reference reads them from
      * per-segment properties). */
    def stats(versionedDf: DataFrame): SegmentStats = {
      val r = versionedDf.agg(
        approx_count_distinct(col("user_id")).as("rows"),
        sum(when(!col("delmark"), 1L).otherwise(0L)).as("puts"),
        count(lit(1)).as("versions"),
        min(col("version")).as("gc_hint")).first()
      if (r.isNullAt(2) || r.getLong(2) == 0L) SegmentStats(0, 0, 0, Long.MaxValue)
      else SegmentStats(r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3))
    }
  }

  /** Compaction ≙ background delta-merge: fold the changelog into a
    * stable table holding only live rows at the max version. */
  def compact(versionedDf: DataFrame): DataFrame = {
    val row = versionedDf.agg(max(col("version"))).first()
    // empty changelog → max(version) is NULL; the snapshot is empty at any ts
    val maxV = if (row.isNullAt(0)) Long.MinValue else row.getLong(0)
    snapshot(versionedDf, maxV)
  }

  /** Structured Streaming replay: events parquet → foreachBatch append
    * into a versioned parquet table ≙ Raft apply into the Delta layer.
    * Synchronous for tests (AvailableNow + awaitTermination). */
  def streamIngest(spark: SparkSession, inputDir: String, outPath: String): Unit =
    runAvailableNow(spark, inputDir, s"$outPath-ckpt",
      // same type-conditional ts normalization as Tables.load
      prep = df => versioned(Tables.normalizeEventsTs(df))) {
      (batch, id) => batch.write.mode("overwrite").parquet(seg(outPath, id))
    }

  /** Deterministic per-batch segment directory. Sinks write
    * mode("overwrite") into `seg=<batchId>` instead of appending to
    * the pile root: foreachBatch gives at-least-once delivery (a crash
    * after the sink commit but before the checkpoint commit REPLAYS
    * the batch), and an append sink would then double-count — for the
    * dup-span state that marks the whole replayed batch as duplicated
    * (every window reaches c ≥ 2), for LSH it fabricates self-pairs.
    * Overwriting the batch's own segment makes every sink idempotent —
    * the standard Spark exactly-once discipline. Readers see `seg` as
    * an inferred partition column and ignore it. */
  private def seg(path: String, batchId: Long): String = s"$path/seg=$batchId"

  /** Shared AvailableNow replay scaffolding: schema-inferred parquet
    * stream → optional stream-side transform → foreachBatch sink,
    * synchronous (awaitTermination) so tests see the committed result.
    * perBatch receives the micro-batch AND its batchId so sinks can
    * write idempotently (see [[seg]]). */
  private def runAvailableNow(spark: SparkSession, inputDir: String, ckpt: String,
      prep: DataFrame => DataFrame = identity)(
      perBatch: (DataFrame, Long) => Unit): Unit = {
    val batchSchema = spark.read.parquet(inputDir).schema
    val stream = prep(spark.readStream.schema(batchSchema).parquet(inputDir))
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) => perBatch(batch, id) }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .start()
    q.awaitTermination()
  }

  // ---------------------------------------------------------------
  // The segment pile: the one mechanism every incremental index and
  // materialized view below is maintained through (≙ the reference
  // keeping every table in one DeltaTree segment structure,
  // `DeltaMergeStore`). A pile is a directory of immutable per-batch
  // segments `seg=<batchId>` and, once compacted, one `seg=-1`
  // generation. Everything else a pile needs lives in the same root
  // under an underscore-prefixed name no parquet read lists: the
  // identity markers every ingest, compaction and probe must agree on,
  // and IVF's `_quantizer`. The root is the unit [[promoteCompacted]]
  // replaces, so one promote and one recovery ([[recoverCompaction]])
  // cover every file of a pile. Families differ only in their
  // [[SegmentPile]] value ([[Piles]]); ingest ([[ingestPile]]),
  // compaction ([[compactPile]] through [[promoteCompacted]]) and
  // marker handling are shared.

  /** An identity marker: the file `name` in a pile's root, written
    * before the first segment commits and carried into every compacted
    * generation. `what` names the identity in refusals. A marker with
    * `ints` > 0 holds that many integers, so a value that does not
    * parse is refused as corrupt rather than as different. */
  final case class Marker(name: String, what: String, ints: Int = 0)
  object Marker {
    /** The bucket-hash modulus: a probe or compactor recomputing it
      * with a different value silently drops matches (rows land in
      * partitions the reader never joins). */
    val Buckets = Marker("_buckets", "bucket modulus", 1)
    /** MinHash banding parameters: banding a batch with different
      * (numHashes, bandSize) computes incomparable bucket keys. */
    val Banding = Marker("_banding", "(numHashes, bandSize)", 2)
    /** The fingerprint of an IVF pile's fixed centroid set. */
    val Centroids = Marker("_centroids", "centroid set")
  }

  /** How a pile compacts into its one `seg=-1` generation. */
  sealed trait Compaction
  /** Rows are immutable facts: drop `seg`, repartition on the
    * partition columns and rewrite — file-count hygiene, read-identical
    * by construction (the Lucene-segment / delta-merge rewrite form). */
  case object Rewrite extends Compaction
  /** Rows are mergeable states: `view(spark, pile)` is the family's
    * read view over the rows [[readPile]] gives, folding them into a
    * generation the same view re-folds unchanged. `stamped` marks the
    * generation `_folded` (one row per key), which the dup-span probe's
    * fast path trusts. */
  final case class Fold(view: (SparkSession, String) => DataFrame => DataFrame,
      stamped: Boolean = false) extends Compaction

  /** A pile family, parameterized by the identity `I` an ingest
    * supplies: the per-batch segment transform, the partition columns
    * of every segment and generation, the identity markers and their
    * values, the compaction form, the stream-side `prep`, and an
    * `artifact` step that runs after the markers are verified and
    * before they are written (IVF's `_quantizer`). */
  final case class SegmentPile[I](
      segment: I => DataFrame => DataFrame,
      partitionCols: Seq[String] = Nil,
      markers: Seq[(Marker, I => String)] = Nil,
      compaction: Compaction = Rewrite,
      prep: DataFrame => DataFrame = identity,
      artifact: (SparkSession, String, I) => Unit =
        (_: SparkSession, _: String, _: I) => ())

  /** The pile families. Rows of the rewrite families are immutable
    * per-document (or per-vector) facts; the fold families hold
    * mergeable states. */
  object Piles {
    import graft.operators.{InvertedText, Similarity, TextPipeline}
    private val buckets: Seq[(Marker, Int => String)] =
      Seq(Marker.Buckets -> ((b: Int) => b.toString))
    private def withTermBucket(b: Int)(df: DataFrame): DataFrame =
      df.withColumn("tbucket", bucketOf(col("term"), b))

    /** IVF assignments to a fixed centroid set, per inverted list. The
      * centroids persist in the pile's `_quantizer`, before its marker. */
    val ivf: SegmentPile[DataFrame] = SegmentPile(
      cent => batch => Similarity.ivfAssign(batch, cent), Seq("cid"),
      Seq(Marker.Centroids -> ((cent: DataFrame) => centroidFingerprint(cent))),
      artifact = (spark, path, cent) => {
        val q = new org.apache.hadoop.fs.Path(quantizerPath(path))
        if (!q.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(q))
          cent.write.mode("overwrite").parquet(q.toString)
      })
    /** Boolean postings (term → sorted doc list, df); the fold merges
      * the per-segment lists term by term. */
    val postings: SegmentPile[Int] = SegmentPile(
      b => batch => withTermBucket(b)(InvertedText.buildPostings(batch)),
      Seq("tbucket"), buckets,
      Fold((spark, path) => rows =>
        withTermBucket(bucketsOf(spark, path))(mergePostingsSegments(rows))))
    /** (term, doc_id, tf, dl) rows for BM25. */
    val tfPostings: SegmentPile[Int] = SegmentPile(
      b => batch => withTermBucket(b)(InvertedText.buildTfPostings(batch)),
      Seq("tbucket"), buckets)
    /** (term, doc_id, pos) occurrence rows for phrase search. */
    val posPostings: SegmentPile[Int] = SegmentPile(
      b => batch => withTermBucket(b)(batch.select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "term")))),
      Seq("tbucket"), buckets)
    /** BM25's corpus constants as one mergeable-sum row per segment. */
    val docStats: SegmentPile[Unit] = SegmentPile(_ => docStatsPartial,
      compaction = Fold((_, _) => docStatsView))
    /** MinHash banding rows per (band, bucket-hash). */
    val lsh: SegmentPile[(Int, Int, Int)] = SegmentPile(
      { case (b, nh, bs) => batch => TextPipeline.minhashBands(batch, nh, bs)
          .withColumn("bbucket", bucketOf(col("bucket"), b)) },
      Seq("band", "bbucket"),
      Seq(Marker.Buckets -> ((i: (Int, Int, Int)) => i._1.toString),
        Marker.Banding -> ((i: (Int, Int, Int)) => s"${i._2} ${i._3}")))
    /** Distinct 3-gram shingle sets of ≥ 3-token documents, per
      * doc-id bucket. */
    val shingles: SegmentPile[Int] = SegmentPile(
      b => batch => batch.filter(size(TextPipeline.tokens) >= 3)
        .select(col("doc_id"),
          array_distinct(TextPipeline.shingles(TextPipeline.tokens, 3)).as("sh"))
        .withColumn("dbucket", bucketOf(col("doc_id"), b)),
      Seq("dbucket"), buckets)
    /** ExactSubstr window counts keyed on (hash, window text); the fold
      * sums them — its size-derived repartition on the group keys IS
      * the aggregate's exchange — and stamps the generation. */
    val dupSpan: SegmentPile[Column => Column] = SegmentPile(
      hashOf => batch => TextPipeline.dupSpanPartial(batch, hashOf),
      compaction = Fold((spark, path) => rows => dupSpanCounts(
          rows.repartition(foldPartitions(spark, path), col("hk"), col("g"))),
        stamped = true))
    /** The events rollup's mergeable partial states. */
    val aggMv: SegmentPile[Unit] = SegmentPile(_ => aggPartial,
      compaction = Fold((_, _) => aggViewOf),
      prep = Tables.normalizeEventsTs)
  }

  /** Ingest every new micro-batch of `inputDir` into the pile at
    * `path` as its own segment. Each marker is checked against the
    * pile's before anything is written, and written before the first
    * segment can commit: a crash at any point leaves a self-describing
    * pile, never segments without identity. A pile whose live segment
    * count reaches `autoCompactSegments` is then compacted. */
  private def ingestPile[I](spark: SparkSession, pile: SegmentPile[I], id: I,
      inputDir: String, path: String, autoCompactSegments: Int): Unit = {
    val markers = pile.markers.map { case (m, value) => m -> value(id) }
    markers.foreach { case (m, v) => requireConsistent(spark, path, m, v) }
    pile.artifact(spark, path, id)
    markers.foreach { case (m, v) => writeMarker(spark, markerPath(path, m), v) }
    runAvailableNow(spark, inputDir, s"$path-ckpt", pile.prep) { (batch, batchId) =>
      writeGeneration(pile.segment(id)(batch), pile.partitionCols, seg(path, batchId))
    }
    if (SegmentCompactionPolicy.shouldCompact(segmentDirs(spark, path).count(_ >= 0),
        autoCompactSegments))
      compactPile(spark, pile, path)
  }

  /** Compact the pile at `path` into one generation in its family's
    * form; a pile with no data has nothing to compact. The live markers
    * are checked (a missing or corrupt one refuses the compaction) and
    * ride the new generation through [[promoteCompacted]]. */
  private def compactPile(spark: SparkSession, pile: SegmentPile[_], path: String): Unit =
    readPile(spark, path).foreach { read =>
      pile.markers.foreach { case (m, _) => liveMarker(spark, path, m) }
      requireCheckpointCaughtUp(spark, path, read.segments)
      promoteCompacted(spark, path) { tmp =>
        pile.compaction match {
          case Rewrite =>
            val cols = pile.partitionCols.map(col)
            writeGeneration(if (cols.isEmpty) read.rows else read.rows.repartition(cols: _*),
              pile.partitionCols, compactedSeg(tmp))
          case Fold(view, stamped) =>
            writeGeneration(view(spark, path)(read.rows), pile.partitionCols,
              compactedSeg(tmp))
            if (stamped) stampFolded(spark, compactedSeg(tmp))
        }
      }
    }

  private def writeGeneration(df: DataFrame, partitionCols: Seq[String], dir: String): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*)).parquet(dir)
  }

  // ---------------------------------------------------------------
  // Incremental IVF vector index: the delta-merge posture applied to
  // q58's inverted-file ANN index (≙ per-segment vector index build
  // during delta-merge, `Storages/DeltaMerge/Index/VectorIndex/`). The
  // FIXED trained centroid set is the pile's identity, as
  // `_buckets`/`_banding` are the hash piles': assigning against
  // different centroids computes incomparable list ids and silently
  // drops matches. The centroids (k ≈ √N rows, broadcast-bounded by the
  // q58 sizing rule) persist as parquet in the pile's own root, under
  // `_quantizer`, and their SHA-256 fingerprint is the `_centroids`
  // marker; both ride every promoted generation, and every probe
  // verifies quantizer against marker before trusting either.
  // Re-clustering for centroid drift is the offline rebuild
  // [[rebuildIvfIndex]], an ordinary promote.

  /** Order-independent fingerprint of a centroid set: SHA-256 over the
    * sorted (cid, exact float bits) rows. The collect is k rows — the
    * centroid set is broadcast-bounded BY DESIGN (√N-rule sizing,
    * ~80 MB at N = 10¹¹; the assignment crossJoin already broadcasts
    * it), so the driver-side walk is bounded the same way. Exact bit
    * patterns, not decimal renderings: two centroid sets differing in
    * one ULP assign differently and must fingerprint differently. */
  def centroidFingerprint(cent: org.apache.spark.sql.DataFrame): String = {
    val parts = cent.select(col("cid"), col("cv")).collect().map { r =>
      r.getLong(0) + ":" + r.getSeq[Float](1)
        .map(f => java.lang.Float.floatToRawIntBits(f).toHexString).mkString(",")
    }.sorted
    java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(parts.mkString("\n").getBytes("UTF-8")))
  }

  private def quantizerPath(path: String) = s"$path/_quantizer"

  /** The quantizer of the pile at `path`, read from its part files:
    * given the `_quantizer` directory itself, Spark reads it but warns
    * that the underscore path is ignored. */
  private def readQuantizer(spark: SparkSession, path: String): DataFrame = {
    val q = new org.apache.hadoop.fs.Path(quantizerPath(path))
    spark.read.parquet(q.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(q).map(_.getPath.toString).filter(_.endsWith(".parquet")).toSeq: _*)
  }

  /** Read the pile's trained centroid set from its `_quantizer`,
    * verifying it against the `_centroids` fingerprint first: trusting
    * a swapped or corrupted quantizer unverified would silently
    * re-route every probe. */
  def readIvfCentroids(spark: SparkSession, indexPath: String): DataFrame = {
    val stored = liveMarker(spark, indexPath, Marker.Centroids)
    val q = new org.apache.hadoop.fs.Path(quantizerPath(indexPath))
    if (!q.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(q))
      throw new java.io.IOException(
        s"IVF index at $indexPath is marked with centroid fingerprint $stored " +
          s"but its quantizer $q is missing; restore it or rebuild")
    val cent = readQuantizer(spark, indexPath)
    val fp = centroidFingerprint(cent)
    if (fp != stored) throw new java.io.IOException(
      s"quantizer $q (fingerprint $fp) does not match the pile's " +
        s"_centroids marker ($stored); refusing to probe against a swapped " +
        "quantizer — restore the original centroids or rebuild the index")
    cent
  }

  /** Incremental IVF index maintenance ≙ the reference building
    * storage indexes DURING delta-merge rather than rebuilding them:
    * each micro-batch assigns only its NEW vectors to the fixed
    * broadcast centroid set ([[graft.operators.Similarity.ivfAssign]] —
    * a map-side-collapsed min_by, O(batch × k)) and appends them as an
    * immutable cid-partitioned segment. Existing inverted lists are
    * never rewritten; a probe — partition-pruned on cid — sees
    * stream-ingested vectors as soon as their batch commits. Same
    * segment/replay/marker/auto-compaction lifecycle as every other
    * pile; ingest cost per batch is O(batch × k), never O(corpus). */
  def streamIvfIngest(spark: SparkSession, inputDir: String,
      indexPath: String, cent: DataFrame,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.ivf, cent, inputDir, indexPath, autoCompactSegments)

  /** Compact the IVF pile: rewrite, per cid partition. */
  def compactIvfIndex(spark: SparkSession, indexPath: String): Unit =
    compactPile(spark, Piles.ivf, indexPath)

  /** ANN probe against the maintained IVF pile — the production read:
    * per query, the nProbe nearest centroids (an O(|Q| × k) broadcast
    * pass over the verified `_quantizer`) select the inverted
    * lists to scan; the pile read partition-prunes to exactly those
    * cid partitions; candidates rank by exact cosine distance for the
    * final top-k. Semantics ≡ [[graft.operators.Similarity.ivfSearch]]
    * with the same centroids over the same corpus (`StreamingSpec`
    * pins probe-≡-batch; q262 oracles it end-to-end) — the stored
    * index only re-materializes the assignment ivfSearch computes
    * inline, so a probe at any tick sees everything ingested so far.
    * Query cost is |probed lists| ≈ nProbe · N/k rows, never |corpus|. */
  def ivfProbe(spark: SparkSession, indexPath: String, queries: DataFrame,
      nProbe: Int, k: Int = 10): DataFrame = {
    import graft.functions.VectorFunctions.{vec_l2_distance, vec_cosine_distance}
    val pile = readPile(spark, indexPath) match {
      case Some(p) => p
      case None => return spark.range(0).select(col("id").as("qid"),
        col("id").as("vec_id"), col("id").cast("int").as("rnk"),
        col("id").cast("double").as("dist"))
    }
    val cent = readIvfCentroids(spark, indexPath)
    val wProbe = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cid"))
    val probed = queries.select(col("qid"), col("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("cdist", vec_l2_distance(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("qid"), col("qv"), col("cid"))
      .persist()
    try {
      // touched lists are BOUNDED by the centroid count (itself
      // broadcast-bounded by the √N sizing rule), so the collect is a
      // ≤ k-int driver-side set — pushed into the pile scan as
      // partition filters so a probe reads only the lists it can match
      // (the lshProbe touched-partition discipline)
      val touched = probed.select(col("cid")).distinct()
        .collect().map(_.getLong(0))
      val pruned = pile.rows
        .filter(col("cid").isin(touched: _*))
        .select(col("vec_id"), col("embedding"), col("cid"))
      val wRank = Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))
      // probe side is |Q| × nProbe rows — broadcast it so the
      // corpus-side inverted lists never shuffle (the ivfSearch shape)
      broadcast(probed).join(pruned, Seq("cid"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("dist", vec_cosine_distance(col("qv"), col("embedding")))
        .withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("vec_id"), col("rnk"),
          round(col("dist"), 6).as("dist"))
    } finally probed.unpersist(blocking = false)
  }

  /** Offline quantizer rotation ≙ the reference's FULL index rebuild
    * path (re-clustering for centroid drift is a rebuild, not an
    * incremental step — `Storages/DeltaMerge/Index/VectorIndex/`; the
    * same posture this pile documents at [[streamIvfIngest]]): the
    * pile's stored vectors are re-assigned to `newCent` and the pile
    * atomically replaced — the ONLY legal way a pile's quantizer can
    * change, since ingest refuses mixed quantizers. One corpus-pass
    * background job by design.
    *
    * An ordinary [[promoteCompacted]]: the temp root receives the
    * re-assigned generation, the new `_quantizer` and its `_centroids`
    * fingerprint, and one promote makes all three live at once. The
    * fingerprint and the assignment are taken from the quantizer as
    * written, so the three agree even if `newCent` is not
    * deterministic. A crash anywhere recovers through
    * [[recoverCompaction]]: one before the promote's renames leaves
    * the old pile live, one between them promotes the new one. */
  def rebuildIvfIndex(spark: SparkSession, indexPath: String,
      newCent: DataFrame): Unit = {
    val pile = readPile(spark, indexPath).getOrElse(throw new java.io.IOException(
      s"rebuildIvfIndex: pile $indexPath holds no vectors to re-assign"))
    requireCheckpointCaughtUp(spark, indexPath, pile.segments)
    promoteCompacted(spark, indexPath) { tmp =>
      newCent.write.mode("overwrite").parquet(quantizerPath(tmp))
      val cent = readQuantizer(spark, tmp)
      writeMarker(spark, markerPath(tmp, Marker.Centroids), centroidFingerprint(cent))
      writeGeneration(graft.operators.Similarity.ivfAssign(
          pile.rows.select(col("vec_id"), col("embedding")), cent),
        Piles.ivf.partitionCols, compactedSeg(tmp))
    }
  }

  /** Embedding near-dup at ingest — SemDeDup's candidate generation
    * served from the maintained IVF pile: a NEW batch of embeddings is
    * assigned to the pile's fixed quantizer (O(batch × k), the same
    * map-side min_by ingest pays), candidates are the stored corpus
    * vectors sharing the nearest-centroid LIST (learned blocking — the
    * ANN analog of q54's projection blocks and q61's LSH buckets; the
    * pile read partition-prunes to the batch's touched lists), and an
    * exact cosine confirm keeps only pairs with similarity above
    * `simThreshold`. Output: (new_id, old_id, sim) — the reject/keep
    * decision joins it exactly like the crawl gate's LSH candidates.
    *
    * Scale shape: candidates per new vector ≈ its list's size (N/k —
    * √N under the q58 sizing rule), so the confirm is batch × √N
    * work, never batch × corpus; the batch side grows with the ingest
    * tick, so the join is shuffle_hash on cid (k lists — at the √N
    * rule that is √N-way parallelism), NEVER a broadcast (the q215
    * rule: corpus-growth sets don't broadcast). Recall posture is
    * q58's single-probe IVF curve (SURVEY §2.8) — a near-dup whose
    * pair straddles a list boundary is missed, the documented
    * ANN-blocking trade every SemDeDup deployment makes; exactness
    * contracts stay with the LSH+Jaccard text gate. Deterministic
    * given the pile's centroids, so fully DuckDB-oracled (q263). */
  def ivfNearDupProbe(spark: SparkSession, indexPath: String,
      batchEmb: DataFrame, simThreshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.vec_cosine_distance
    val pile = readPile(spark, indexPath) match {
      case Some(p) => p
      case None => return spark.range(0).select(col("id").as("new_id"),
        col("id").as("old_id"), col("id").cast("double").as("sim"))
    }
    val cent = readIvfCentroids(spark, indexPath)
    val assigned = graft.operators.Similarity.ivfAssign(batchEmb, cent)
      .select(col("vec_id").as("new_id"), col("embedding").as("nv"), col("cid"))
      .persist()
    try {
      // touched lists bounded by the centroid count (broadcast-bounded
      // by the √N rule) — pushed as partition filters like every probe
      val touched = assigned.select(col("cid")).distinct()
        .collect().map(_.getLong(0))
      val pruned = pile.rows
        .filter(col("cid").isin(touched: _*))
        .select(col("vec_id").as("old_id"), col("embedding").as("ov"), col("cid"))
      graft.CacheHygiene.materialized(
        assigned.hint("shuffle_hash").join(pruned, Seq("cid"))
          .filter(col("new_id") =!= col("old_id"))
          .withColumn("sim", lit(1.0) - vec_cosine_distance(col("nv"), col("ov")))
          .filter(col("sim") > simThreshold)
          .select(col("new_id"), col("old_id"), round(col("sim"), 6).as("sim")))
    } finally assigned.unpersist(blocking = true)
  }

  /** Incremental FULL-TEXT index maintenance: each micro-batch builds
    * postings over its OWN documents only and appends them as an
    * immutable segment, partitioned by a term-hash bucket. A term probe
    * partition-prunes to the term's bucket and read-side
    * `mergePostingsSegments` unions the per-segment lists (the Lucene
    * segment model; compaction folds them). Ingest cost per batch is
    * O(batch tokens), never O(corpus). */
  def streamPostingsIngest(spark: SparkSession, inputDir: String,
      indexPath: String, buckets: Int = 16,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.postings, buckets, inputDir, indexPath, autoCompactSegments)

  /** Incremental TF-POSTINGS pile — the ranked-retrieval (BM25) side
    * of the inverted index (≙ the reference's scored FullTextIndex
    * reads, `Index/FullTextIndex/Reader.h`, maintained per segment
    * during delta-merge like the boolean postings above): each
    * micro-batch stores (term, doc_id, tf, dl) rows for its OWN
    * documents only ([[graft.operators.InvertedText.buildTfPostings]]
    * — dl denormalized so probes never join a corpus-side doc-length
    * table), partitioned by term-hash bucket. doc_ids are
    * batch-disjoint, so segments are append-only facts needing no
    * read-side merge; ingest cost per batch is O(batch tokens), never
    * O(corpus). The corpus-level BM25 constants (N, avgdl) live in the
    * companion [[streamDocStatsIngest]] stats pile. */
  def streamTfPostingsIngest(spark: SparkSession, inputDir: String,
      indexPath: String, buckets: Int = 16,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.tfPostings, buckets, inputDir, indexPath, autoCompactSegments)

  /** Compact the tf-postings pile: rewrite, per tbucket partition. */
  def compactTfPostings(spark: SparkSession, indexPath: String): Unit =
    compactPile(spark, Piles.tfPostings, indexPath)

  /** Per-batch corpus-stats partial for BM25's (N, avgdl): document
    * count and total token length — two mergeable sums, the keyless
    * degenerate of [[aggPartial]]'s mergeable-state posture. The
    * token rule is the SAME whitespace split the tf rows use, so
    * total_len ≡ Σ dl by construction. */
  def docStatsPartial(batch: DataFrame): DataFrame =
    batch.select(size(split(trim(col("text")), "\\s+")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))

  /** Read-side fold of doc-stats segments — idempotent (sum of sums),
    * so the compacted single row re-folds unchanged. */
  def docStatsView(segments: DataFrame): DataFrame =
    segments.agg(sum(col("n_docs")).as("n_docs"),
      sum(col("total_len")).as("total_len"))

  /** Incremental BM25 corpus-stats maintenance: each micro-batch
    * appends its 1-row partial; the read view folds by addition
    * (associative + commutative). */
  def streamDocStatsIngest(spark: SparkSession, inputDir: String,
      statePath: String,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.docStats, (), inputDir, statePath, autoCompactSegments)

  /** Compact the doc-stats pile: fold to its one (n_docs, total_len) row. */
  def compactDocStats(spark: SparkSession, statePath: String): Unit =
    compactPile(spark, Piles.docStats, statePath)

  /** BM25-ranked retrieval served from the maintained piles — the
    * production recurring read of ranked full-text search on a live
    * crawl: the probed terms' rows come from a term-bucket
    * partition-pruned scan of the tf-postings pile (cost ∝ posting
    * sizes, never corpus size — dl rides each row, so no corpus-side
    * join), df per term is counted over those rows alone, and the
    * corpus constants (N, avgdl) fold from the stats pile's segment
    * partials (a ≤ segments-row read). Scoring math, double
    * determinism (single contribution per (doc, term), FIXED
    * literal-order final sum), and tie ordering are exactly
    * [[graft.operators.InvertedText.q75bBm25]]'s — the probe is
    * oracled by that SQL verbatim (q267). */
  def bm25Probe(spark: SparkSession, indexPath: String, statsPath: String,
      terms: Seq[String], k: Int = 10): DataFrame = {
    val (tfPile, statsPile) =
      (readPile(spark, indexPath), readPile(spark, statsPath)) match {
        case (Some(t), Some(st)) => (t, st)
        case _ => return spark.range(0).select(col("id").as("doc_id"),
          col("id").as("n_terms"), col("id").cast("double").as("bm25"))
      }
    val tf = tfPile.rows
      .filter(col("tbucket").isin(termBucketIds(spark, indexPath, terms): _*) &&
        col("term").isin(terms.map(_.asInstanceOf[Any]): _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val st = docStatsView(statsPile.rows)
      .select(col("n_docs").as("n"), col("total_len").as("total"))
    val contrib = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
      (col("tf") * 2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") /
        (col("total").cast("double") / col("n"))))
    val co = tf.join(broadcast(df), "term")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), col("term"), contrib.as("c"))
    def termSum(t: String) =
      coalesce(sum(when(col("term") === t, col("c"))), lit(0.0))
    co.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        round(terms.map(termSum).reduce(_ + _), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Incremental POSITIONAL-postings pile — the phrase/proximity side
    * of the inverted index (the with-positions layout of
    * [[streamTfPostingsIngest]]'s family): each micro-batch stores
    * flat (term, doc_id, pos) occurrence rows for its OWN documents,
    * partitioned by term-hash bucket — append-only immutable facts
    * (batch-disjoint doc_ids, no merge fold), ingest cost O(batch
    * tokens). A phrase probe reads ONLY the probed terms' buckets and
    * runs the adjacency join over those occurrence rows — cost ∝
    * posting sizes, never corpus size. */
  def streamPosPostingsIngest(spark: SparkSession, inputDir: String,
      indexPath: String, buckets: Int = 16,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.posPostings, buckets, inputDir, indexPath, autoCompactSegments)

  /** Compact the positional pile: rewrite, per tbucket partition. */
  def compactPosPostings(spark: SparkSession, indexPath: String): Unit =
    compactPile(spark, Piles.posPostings, indexPath)

  /** Exact-phrase search served from the maintained positional pile:
    * occurrences of `second` at `first`'s position + 1, both sides
    * read bucket-pruned from stored state (positions are a per-doc
    * property, so segment boundaries are adjacency-invisible). Same
    * semantics as [[graft.operators.InvertedText.searchPhrase]] over
    * a from-scratch index — oracled by q142's SQL verbatim (q269). */
  def phraseProbe(spark: SparkSession, indexPath: String,
      first: String, second: String): DataFrame = {
    val pile = readPile(spark, indexPath) match {
      case Some(p) => p
      case None => return spark.range(0).select(col("id").as("doc_id"),
        col("id").as("n_occurrences"))
    }
    val pruned = pile.rows
      .filter(col("tbucket").isin(termBucketIds(spark, indexPath, Seq(first, second)): _*))
      .select(col("term"), col("doc_id"), col("pos"))
    val a = pruned.filter(col("term") === first)
      .select(col("doc_id"), col("pos").as("pa"))
    val bb = pruned.filter(col("term") === second)
      .select(col("doc_id").as("doc_b"), col("pos").as("pb"))
    a.join(bb, col("doc_id") === col("doc_b") && col("pb") === col("pa") + 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_occurrences"))
  }

  /** Incremental MinHash-LSH index maintenance — the delta-merge
    * posture applied to near-dup detection (r11 VERDICT ask #6): each
    * micro-batch computes (doc_id, band, bucket) banding rows for its
    * OWN documents only ([[graft.operators.TextPipeline.minhashBands]]
    * — a document's rows depend on nothing but its own text) and
    * appends them as an immutable segment partitioned by
    * (band, bucket-hash). Existing segments are never rewritten;
    * ingest cost per batch is O(batch shingles), never O(corpus).
    * Reference analog: index build during continuous Delta-layer
    * ingest rather than rebuild
    * (`/root/reference/dbms/src/Storages/DeltaMerge/DeltaMergeStore_Ingest.cpp`).
    *
    * Read side needs NO merge step: candidate pairs come from grouping
    * the segment UNION on (band, bucket)
    * ([[graft.operators.TextPipeline.lshPairsFromBands]]), which is
    * segment-boundary-blind — so batch-incremental maintenance is
    * ≡ a full q61 rebuild by construction (`StreamingSpec` proves it).
    * A new-batch-vs-corpus probe equi-joins the batch's banding rows
    * against the stored index, partition-pruned on (band, bbucket). */
  def streamLshIngest(spark: SparkSession, inputDir: String,
      indexPath: String, buckets: Int = 16,
      numHashes: Int = 16, bandSize: Int = 4,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.lsh, (buckets, numHashes, bandSize), inputDir, indexPath,
      autoCompactSegments)

  /** Identity markers are underscore-prefixed files, invisible to the
    * parquet reader like _SUCCESS. */
  private def markerPath(path: String, m: Marker) =
    new org.apache.hadoop.fs.Path(s"$path/${m.name}")

  private def readMarker(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** The integers of an integer marker; anything else (a torn write
    * leaves a 0-byte file) is refused loudly and prescriptively, never
    * as a bare parse error. */
  private def markerInts(path: String, m: Marker, s: String): Seq[Int] = {
    val parts = s.split("\\s+").toSeq
    val ints = parts.flatMap(_.toIntOption)
    if (m.ints > 0 && (parts.size != m.ints || ints.size != m.ints))
      throw new java.io.IOException(
        s"corrupt ${m.name} marker at $path (content: '$s'); restore it or rebuild the pile")
    ints
  }

  private def missingMarker(path: String, m: Marker) = new java.io.IOException(
    s"pile at $path has segments but no ${m.name} marker; refusing to guess its " +
      s"${m.what} — restore the marker or rebuild the pile")

  /** The pile's marker `m`, checked for corruption. A missing marker is
    * refused: markers are written before the first segment can commit,
    * so a pile that holds data without one is foreign or corrupted, and
    * guessing its identity is exactly the silent match-dropping the
    * marker exists to prevent. */
  private def liveMarker(spark: SparkSession, path: String, m: Marker): String = {
    val s = readMarker(spark, markerPath(path, m)).getOrElse(throw missingMarker(path, m))
    markerInts(path, m, s)
    s
  }

  private def bucketsOf(spark: SparkSession, path: String): Int =
    markerInts(path, Marker.Buckets, liveMarker(spark, path, Marker.Buckets)).head

  /** Refuse an ingest whose identity differs from the pile's, or into
    * a pile that has segments but no marker to verify it against. An
    * empty or absent pile passes: its markers are about to be created. */
  private def requireConsistent(spark: SparkSession, path: String, m: Marker,
      value: String): Unit =
    readMarker(spark, markerPath(path, m)) match {
      case Some(stored) if stored != value =>
        markerInts(path, m, stored)
        throw new java.io.IOException(
          s"pile at $path was built with a different ${m.what} ($stored); refusing " +
            s"ingest with $value — a pile mixing them assigns incomparable keys and " +
            "silently drops matches. Rebuild the pile to change it")
      case None if segmentDirs(spark, path).nonEmpty => throw missingMarker(path, m)
      case _ => ()
    }

  /** Marker writes are crash-atomic and idempotent: a marker's value
    * can never legally change once written (requireConsistent verified
    * equality first), so an existing marker is left untouched — a
    * truncate-and-rewrite on every tick would open a crash window that
    * leaves a 0-byte marker (and a torn concurrent read could parse a
    * PREFIX of the value, silently dropping matches). Fresh markers are
    * written to a temp sibling and renamed into place.
    *
    * Race hardening (ADVICE r13 #2): requireConsistent passes on an
    * EMPTY pile, so two concurrent FIRST ingests with different
    * identities both reach this writer — treating the loser as a
    * same-value writer would let it continue ingesting with its own
    * modulus while the pile's marker records the winner's (exactly the
    * silent mixed-modulus state the markers exist to prevent). Every
    * lost race therefore re-reads the surviving marker and refuses
    * loudly unless it matches this writer's intended value. */
  private[graft] def writeMarker(spark: SparkSession,
      p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def verifySurviving(): Unit = {
      val surviving = readMarker(spark, p)
      if (!surviving.contains(content)) throw new java.io.IOException(
        s"marker race at $p: a concurrent first-ingest recorded " +
          s"'${surviving.getOrElse("<missing>")}' where this writer intended " +
          s"'$content' — two ingests with different identities raced on an " +
          "empty pile; pick ONE identity and rebuild before ingesting further")
    }
    // immutable once present — but verify, don't assume: the marker may
    // have appeared between the caller's requireConsistent check and
    // now (the concurrent-first-ingest window)
    if (fs.exists(p)) { verifySurviving(); return }
    val tmp = new org.apache.hadoop.fs.Path(p.toString + ".tmp")
    val out = fs.create(tmp, true)
    out.write(content.getBytes("UTF-8")); out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, true)
      verifySurviving() // lost the rename race: only a same-value winner is legal
    }
  }

  /** The `seg=<id>` directories of a pile, the compacted generation's
    * -1 included; empty for an absent pile. The marker checks and the
    * compaction trigger need no more than this. */
  private def segmentDirs(spark: SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
      .filter(_.startsWith("seg=")).map(_.stripPrefix("seg=").toLong)
  }

  /** A pile as the engine reads it: `rows` without the `seg` column
    * partition discovery adds, resolved on first use (so a compaction
    * resolves them inside [[promoteCompacted]], after the listing its
    * concurrent-append guard compares); the live segment ids, seg=-1
    * excluded (it never replays); and `folded`, the probes' fast-path
    * test: seg=-1 only AND the fold compactor's `_folded` stamp. The
    * stamp, not seg-emptiness, is the evidence: a REWRITE compactor
    * also leaves one seg=-1 generation but keeps per-batch partial
    * rows, so trusting "one generation ⇒ one row per window" would
    * under-match split c=1+c=1 rows. */
  final class PileRead private[Ingest] (spark: SparkSession, path: String,
      val segments: Seq[Long], val folded: Boolean) {
    lazy val rows: DataFrame = spark.read.parquet(path).drop("seg")
  }

  /** The one place a pile directory becomes rows: every engine read of
    * a pile goes through it. Lists the pile once; a pile without a
    * parquet data file reads as None — absent, marker-only, or holding
    * only empty-batch segments (the write of a 0-partition frame
    * commits a segment directory with nothing but _SUCCESS, and
    * inferring a schema from it would throw). */
  def readPile(spark: SparkSession, path: String): Option[PileRead] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val segs = segmentDirs(spark, path)
    def hasData(id: Long): Boolean = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, s"seg=$id"), true)
      var found = false
      while (!found && it.hasNext) found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (!segs.exists(hasData)) None
    else {
      val live = segs.filter(_ >= 0)
      Some(new PileRead(spark, path, live, live.isEmpty &&
        fs.exists(new org.apache.hadoop.fs.Path(root, "seg=-1/_folded"))))
    }
  }

  /** The one bucket rule: the partition value ingest writes for key `c`
    * under modulus `b`, and the value every probe recomputes to prune
    * its scan. A probe computing it any other way silently drops
    * matches — their rows sit in partitions it never reads. */
  private[graft] def bucketOf(c: Column, b: Int): Column = pmod(abs(hash(c)), lit(b))

  /** The term buckets of `terms` under the pile's own modulus (its
    * marker): a |terms|-row driver-side evaluation, so the bucket
    * literals reach the pile scan as partition filters. */
  private[graft] def termBucketIds(spark: SparkSession, path: String,
      terms: Seq[String]): Seq[Int] = {
    import spark.implicits._
    terms.toDF("term").select(bucketOf(col("term"), bucketsOf(spark, path)).cast("int"))
      .collect().map(_.getInt(0)).distinct.toSeq
  }

  /** Stamp a freshly-written FOLD generation (`gen` = its seg=-1 dir)
    * as fold-shaped — one row per distinct window. Underscore-prefixed
    * so the parquet reader never sees it, written INTO the temp
    * generation so it rides the atomic promote with the data it
    * describes. */
  private def stampFolded(spark: SparkSession, gen: String): Unit = {
    val m = new org.apache.hadoop.fs.Path(s"$gen/_folded")
    m.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(m, true).close()
  }

  /** Segment-pile background-compaction TRIGGER ≙ the reference's
    * delta-layer merge trigger (`shouldSplit`/delta-packs thresholds in
    * `/root/reference/dbms/src/Storages/DeltaMerge/DeltaMergeStore_InternalBg.cpp:572-637`
    * — a segment compacts when accumulated delta crosses a count/size
    * threshold, not on manual demand): a pile folds when its
    * not-yet-compacted segment count reaches `maxSegments`. Invoked at
    * the end of every maintenance tick, so long-running ingest drives
    * its own file-count hygiene; `maxSegments <= 0` disables the
    * trigger (manual-only compaction). */
  object SegmentCompactionPolicy {
    val DefaultMaxSegments = 8
    def shouldCompact(nSegments: Long,
        maxSegments: Int = DefaultMaxSegments): Boolean =
      maxSegments > 0 && nSegments >= maxSegments
  }

  /** Refuse to fold a pile whose newest segment has not been COMMITTED
    * by its stream's checkpoint (ADVICE r12 #1). The at-least-once
    * window — sink committed seg=N, checkpoint commit lost — is
    * harmless to ingest (the restarted stream overwrites seg=N
    * idempotently), but FATAL to a compaction run inside it: the fold
    * absorbs seg=N into seg=-1 and deletes it, then the replay appends
    * a fresh seg=N, double-counting the whole batch (dup-span counts
    * reach c >= 2 for every window, LSH fabricates self-pairs).
    * Spark's commit log (`<ckpt>/commits/<batchId>`) is the durable
    * record of which batches can never replay; compaction requires
    * max committed id >= max seg id. A pile with segments but no
    * commit log at the conventional checkpoint path is refused too —
    * its replay horizon is unknowable. */
  private def requireCheckpointCaughtUp(spark: SparkSession,
      pilePath: String, segs: Seq[Long]): Unit = {
    if (segs.isEmpty) return // only seg=-1 (or nothing): nothing can replay
    val maxSeg = segs.max
    val commits = new org.apache.hadoop.fs.Path(s"$pilePath-ckpt/commits")
    val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lastCommitted =
      if (!fs.exists(commits)) None
      else fs.listStatus(commits).map(_.getPath.getName).toSeq
        .filter(_.forall(_.isDigit)).map(_.toLong)
        .reduceOption(_ max _)
    if (!lastCommitted.exists(_ >= maxSeg)) throw new java.io.IOException(
      s"compaction: pile $pilePath has segment seg=$maxSeg not yet committed " +
        s"in its checkpoint (last committed: ${lastCommitted.getOrElse("none")}) — " +
        "folding inside the at-least-once replay window would double-count the " +
        "batch on restart; finish or re-run the ingest stream first")
  }

  /** Dedup-at-ingest probe — the production read of the LSH index: a
    * NEW batch of documents is banded (O(batch) work) and equi-joined
    * against the STORED index on (band, bbucket, bucket), yielding
    * (new_doc, old_doc) near-dup candidates without ever re-banding
    * the corpus — the q230 asymmetric new-vs-corpus shape on top of
    * the incremental index. Self-pairs are excluded so an
    * already-ingested document never pairs with itself. A touched
    * index-side bucket with more than [[LshMaxBucket]] members is
    * refused with an IOException: join fan-out stays bounded at the
    * cap per probe row, and no candidate is ever silently dropped. */
  def lshProbe(spark: SparkSession, indexPath: String,
      batchDocs: DataFrame): DataFrame = {
    // first-boot ordering: probing a never-created (or created-but-
    // data-less) index is an empty result, not an AnalysisException
    val pile = readPile(spark, indexPath) match {
      case Some(p) => p
      case None => return spark.range(0)
        .select(col("id").as("new_doc"), col("id").as("old_doc"))
    }
    // read the markers, never guess (a mismatched recompute drops
    // matches silently); segments are present here, so a missing
    // marker is refused
    val b = bucketsOf(spark, indexPath)
    val Seq(nh, bs) = markerInts(indexPath, Marker.Banding,
      liveMarker(spark, indexPath, Marker.Banding))
    // the banding job is O(batch shingles) — the probe's advertised
    // cost. It feeds TWO consumers (the touched-partition collect and
    // the join's probe side), so persist it for the probe's lifetime
    // or the whole job runs twice (ADVICE r12 #4). Released in the
    // finally (ADVICE r13 #1): a transient executor/IO failure in any
    // of the jobs below must not strand the cache in a long-running
    // per-tick gate loop.
    val probe = graft.operators.TextPipeline.minhashBands(batchDocs, nh, bs)
      .withColumn("bbucket", bucketOf(col("bucket"), b))
      .withColumnRenamed("doc_id", "new_doc")
      .persist()
    try {
      // The batch touches at most nBands × b (band, bbucket) partitions
      // (64 at defaults — grows with those two parameters, fine at any
      // sane config) — collect that BOUNDED set and push it into the
      // index scan as partition filters, so a small batch reads only the
      // partitions it can match instead of aggregating the whole index.
      val touched = probe.select(col("band"), col("bbucket")).distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      val prune = touched
        .map { case (bd, bb) => col("band") === bd && col("bbucket") === bb }
        .reduceOption(_ || _).getOrElse(lit(false))
      val grouped = pile.rows.filter(prune)
        .groupBy(col("band"), col("bbucket"), col("bucket"))
        .agg(collect_list(col("doc_id")).as("old_ids"))
      // The degenerate-bucket cap bounds join fan-out under boilerplate
      // skew (the q61 discipline). Dropping an over-cap bucket would
      // cost RECALL — its members would never reach the confirm step —
      // so a touched over-cap bucket raises loudly instead. The guard
      // is FUSED into the probe join (one action per probe, no separate
      // per-tick count() pass over the touched partitions): an over-cap
      // group poisons its old_ids with raise_error, which fires when the
      // join's single materializing action evaluates the group — the
      // error is unwrapped below into a prescriptive IOException.
      val msg = concat(
        lit(s"$OverCapMarker="),
        lit(s"$LshMaxBucket in $indexPath (a touched (band, bucket) group of "),
        size(col("old_ids")).cast("string"),
        lit(" members) — the index holds a degenerate (boilerplate) bucket"))
      // cast the raise_error branch to old_ids' ACTUAL element type: a
      // hardcoded array<bigint> would widen the when/otherwise coercion
      // if the indexed doc_id were ever non-bigint, pushing an implicit
      // coercion onto downstream old_doc comparisons
      val idx = grouped.withColumn("old_ids",
        when(size(col("old_ids")) > LshMaxBucket,
          raise_error(msg).cast(grouped.schema("old_ids").dataType))
          .otherwise(col("old_ids")))
      // shuffle_hash, NOT broadcast (the q215 rule): the probe side is
      // batch × nBands banding rows (grows with the ingest tick) and the
      // pruned index side is still a corpus FRACTION (touched/total
      // partitions of the whole index) — the static estimator reads both
      // as small, and at a production tick broadcasting either is the
      // 100 TB driver-OOM class. The join keys on the high-cardinality
      // (band, bbucket, bucket), so the shuffle partitions evenly.
      // Materialize the (bounded: candidate-pair-sized) result while the
      // banding cache is alive, then release it; the small persisted
      // result is swept by the harness after use.
      try graft.CacheHygiene.materialized(
        probe.join(idx.hint("shuffle_hash"), Seq("band", "bbucket", "bucket"))
          .select(col("new_doc"), explode(col("old_ids")).as("old_doc"))
          .filter(col("new_doc") =!= col("old_doc"))
          .distinct())
      catch { case scala.util.control.NonFatal(t) =>
        // the fused guard surfaces as a task-level SparkRuntimeException
        // wrapped by the job failure — re-raise it as the documented
        // prescriptive refusal. The walk is BOUNDED (ADVICE r15 #3:
        // self-referential cause chains are legal and do occur in
        // wrapped executor exceptions — an unbounded takeWhile would
        // hang the error path) and matches the raise_error class/
        // condition in addition to the message text (ADVICE r15 #1:
        // message-only matching is brittle across Spark versions).
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20)
          .flatMap(overCapText)
          .nextOption()
          .foreach(m => throw new java.io.IOException("lshProbe: " + m))
        throw t
      }
    } finally probe.unpersist(blocking = true)
  }

  /** Marker prefix the fused [[lshProbe]] over-cap guard raises with;
    * the probe's materializer unwraps it from the task failure into the
    * prescriptive IOException refusal. */
  private val OverCapMarker = "touched group(s) exceed maxBucket"

  /** [[lshProbe]]'s degenerate-bucket cap: the most index-side members
    * one touched (band, bucket) group may hold. */
  val LshMaxBucket = 256

  /** Extract the prescriptive over-cap text from one cause-chain link.
    * Primary match is the marker in the message (we control the
    * raise_error payload, so it is always present there today);
    * additionally a [[org.apache.spark.SparkThrowable]] whose error
    * condition is `USER_RAISED_EXCEPTION` is searched through its
    * message PARAMETERS — the class-level match ADVICE r15 #1 asked
    * for, robust to a future Spark changing how raise_error formats
    * getMessage. */
  private def overCapText(c: Throwable): Option[String] = {
    val msg = Option(c.getMessage).getOrElse("")
    if (msg.contains(OverCapMarker))
      Some(msg.substring(msg.indexOf(OverCapMarker)))
    else c match {
      case st: org.apache.spark.SparkThrowable
          if st.getCondition == "USER_RAISED_EXCEPTION" =>
        import scala.jdk.CollectionConverters._
        Option(st.getMessageParameters).toSeq
          .flatMap(_.asScala.values)
          .find(_.contains(OverCapMarker))
          .map(v => v.substring(v.indexOf(OverCapMarker)))
      case _ => None
    }
  }

  // ---------------------------------------------------------------
  // Shingle-set pile (r13 VERDICT ask #3): the crawl gate's near-dup
  // exact confirm needs each candidate PARTNER's distinct 3-gram
  // shingle set. Fetching it by scanning the documents table costs one
  // corpus pass per ingest tick; storing the sets alongside the LSH
  // banding index (maintained in tandem, same micro-batches) turns the
  // fetch into a partition-pruned point read — the same posture as
  // every other probe. Rows are per-document immutable facts
  // (doc_id, sh[]), partitioned by a doc-id hash bucket the fetch
  // prunes on. Reference analog: the delta layer storing per-segment
  // auxiliary index data next to the primary index rather than
  // re-deriving it at query time
  // (`/root/reference/dbms/src/Storages/DeltaMerge/DeltaMergeStore_Ingest.cpp`).

  /** Incremental shingle-set maintenance — one (doc_id, sh) row per
    * >= 3-token document per micro-batch (documents below 3 tokens have
    * no 3-gram shingles and no banding rows; the near-dup gate is
    * DEFINED over >= 3-token docs). Same segment/replay/marker/
    * compaction lifecycle as [[streamLshIngest]]; ingest cost per batch
    * is O(batch tokens), never O(corpus). */
  def streamShingleIngest(spark: SparkSession, inputDir: String,
      pilePath: String, buckets: Int = 16,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.shingles, buckets, inputDir, pilePath, autoCompactSegments)

  /** Point-read of candidate partners' shingle sets: `ids` (one
    * `old_doc` column, candidate-bounded) is hashed to its touched
    * dbuckets — at most the pile's bucket modulus, collected as a
    * BOUNDED set — and the pile scan is partition-pruned to those
    * buckets before the semi-join. Output: (old_doc, sh). A pile with
    * no data while candidates exist is REFUSED loudly: the empty fetch
    * would silently drop every near-dup confirm (the pile must be
    * maintained in tandem with the LSH index that produced the
    * candidates). */
  def shingleFetch(spark: SparkSession, pilePath: String,
      ids: DataFrame): DataFrame = {
    val pile = readPile(spark, pilePath) match {
      case Some(p) => p
      case None =>
        if (!ids.isEmpty) throw new java.io.IOException(
          s"shingle pile at $pilePath has no data but candidate partners need " +
            "their shingle sets — maintain the pile in tandem with the LSH " +
            "index (streamShingleIngest per micro-batch) or fall back to the " +
            "documents-table fetch")
        return spark.range(0)
          .select(col("id").as("old_doc"),
            array().cast("array<string>").as("sh"))
    }
    val b = bucketsOf(spark, pilePath)
    val want = ids.select(col("old_doc")).distinct()
      .withColumn("dbucket", bucketOf(col("old_doc"), b))
      .persist()
    try {
      // touched buckets are bounded by the modulus itself (<= b ints)
      val touched = want.select(col("dbucket")).distinct()
        .collect().map(_.getInt(0))
      val prune = touched.map(col("dbucket") === _)
        .reduceOption(_ || _).getOrElse(lit(false))
      // shuffle_hash (the q215 rule): both sides are corpus-fraction /
      // candidate-scale — the static estimator reads them as tiny at
      // any SF; keep the exchange keyed on the high-cardinality doc id.
      // Materialize (candidate-bounded rows) while the `want` cache is
      // alive; the small persisted result is swept by the caller.
      graft.CacheHygiene.materialized(pile.rows.filter(prune)
        .join(want.select(col("old_doc")).hint("shuffle_hash"),
          col("doc_id") === col("old_doc"), "left_semi")
        .select(col("doc_id").as("old_doc"), col("sh")))
    } finally want.unpersist(blocking = true)
  }

  /** Compact the shingle pile: rewrite, per dbucket partition. */
  def compactShinglePile(spark: SparkSession, pilePath: String): Unit =
    compactPile(spark, Piles.shingles, pilePath)

  /** Incremental ExactSubstr (q215) index maintenance — the
    * delta-merge posture applied to the Lee-et-al dup-span pass: each
    * micro-batch appends its PARTIAL 50-char-window counts keyed on
    * (hash, window TEXT)
    * ([[graft.operators.TextPipeline.dupSpanPartial]]; counts merge by
    * addition like the agg-MV states) as an immutable segment. Ingest
    * cost per batch is O(batch chars), never O(corpus); nothing
    * existing is rewritten. The same asymptotic unit as the paper's
    * suffix array (one entry per char), stored as mergeable aggregate
    * state instead of a monolithic index. */
  def streamDupSpanMaintain(spark: SparkSession, inputDir: String,
      statePath: String,
      hashOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_),
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.dupSpan, hashOf, inputDir, statePath, autoCompactSegments)

  /** Fold the window segments to the duplicated-WINDOW set: total
    * count ≥ 2 grouped on (hash, window text) — identical to running
    * q215's phase 1 AND its phase-2 exact confirm over the full
    * history. Counts are exact BIGINTs, so the fold is exact; grouping
    * on g (not hk alone) means two distinct windows colliding on the
    * 64-bit hash can never pool their counts into a false duplicate. */
  def dupHashView(segments: DataFrame): DataFrame =
    dupSpanCounts(segments).filter(col("c") >= 2).select(col("hk"), col("g"))

  /** The dup-span pile's read view: window counts summed per (hash,
    * window text) — exactly the generation its fold writes. */
  def dupSpanCounts(segments: DataFrame): DataFrame =
    segments.groupBy(col("hk"), col("g"))
      .agg(sum(col("c")).cast("long").as("c"))

  /** Dedup-at-ingest probe for dup spans: mark the MAXIMAL duplicated
    * spans of a NEW batch against everything ingested so far (batch
    * included), re-windowing only the batch — O(batch chars) — and
    * joining its windows against the folded state on (hash, WINDOW
    * TEXT). The text equality is the exact-confirm phase batch q215
    * runs as phase 2 (r12 VERDICT ask #1): a hash-only join fabricates
    * spans at the 100 TB target (~1e14 windows birthday-collide
    * against a multi-billion-key dup set); joining on g as well kills
    * every collision while hk keeps the shuffle keyed on 8 bytes
    * first. Span merge reuses q215's gaps-and-islands kernel, so on a
    * fully-ingested corpus the probe of any doc subset EXACTLY equals
    * the batch q215 rows for those docs (`StreamingSpec` asserts it,
    * plus a planted-collision contract via the `hashOf` seam).
    * `hashOf` must be the SAME function the state was maintained with
    * (it is a test seam, not a tuning knob): a mismatch yields empty
    * joins — never false spans — because the text column still has to
    * match. */
  def dupSpanProbe(spark: SparkSession, statePath: String,
      batchDocs: DataFrame,
      hashOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_)): DataFrame = {
    // first-boot ordering: probing before any maintenance run has
    // created (and populated) the state is an empty result, not an
    // AnalysisException
    val dup = readPile(spark, statePath) match {
      case None => spark.range(0).select(col("id").as("hk"), lit("").as("g"))
      case Some(pile) if pile.folded =>
        // the pile is a single FOLD-compacTED generation (seg=-1 only
        // AND carrying the compactor's `_folded` stamp — ADVICE r14 #2:
        // seg-emptiness alone is NOT fold-shaped evidence: a rewrite-
        // form generation keeps split c=1+c=1 rows): the fold's groupBy
        // left exactly one row per (hk, g) with the summed count, so the
        // probe-side re-group
        // is a wasted corpus-scale shuffle — filter and project
        // instead. This is the steady-state production read: piles
        // fold on the compaction policy, so most ticks probe a folded
        // generation. An unstamped single generation falls through to
        // the re-group below — always correct, just not fast-pathed.
        pile.rows.filter(col("c") >= 2).select(col("hk"), col("g"))
      case Some(pile) => dupHashView(pile.rows)
    }
    val hits = graft.operators.TextPipeline.charWindowHashes(batchDocs, hashOf)
      // corpus-derived: never broadcast (q215 rule)
      .join(dup.hint("shuffle_hash"), Seq("hk", "g"))
      .select(col("doc_id"), col("i"), (col("i") + 49).as("e"))
    graft.operators.TextPipeline.mergeSpans(hits)
  }

  /** Read-side merge of postings segments: per term, concatenate the
    * per-segment sorted lists and re-sort (each segment is disjoint in
    * doc_id, so this is a k-way list merge), summing document
    * frequency. Equals a from-scratch `buildPostings` over the full
    * corpus. */
  def mergePostingsSegments(segments: DataFrame): DataFrame =
    segments.groupBy(col("term"))
      .agg(sort_array(flatten(collect_list(col("postings")))).as("postings"),
        sum(col("df")).as("df"))

  // ------------------------------------------------------------------
  // Incremental aggregate materialized view (delta-merge for aggregates)

  /** Per-batch PARTIAL aggregate states for the events rollup MV:
    * (event_type, day) → count / exact-decimal value sum. These are
    * the mergeable states the reference ships between MPP stages as
    * `ColumnAggregateFunction` columns
    * (`/root/reference/dbms/src/Columns/ColumnAggregateFunction.h`) —
    * count and sum merge by addition, so segments fold without
    * re-reading the fact stream. */
  def aggPartial(batch: DataFrame): DataFrame =
    batch.groupBy(col("event_type"),
        to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(30,2)")).as("vsum"),
        // mergeable DISTINCT state: HLL registers fold by per-register
        // max — associative + commutative, so segments union in any
        // order to the one-shot sketch (≙ uniqRawRes partial states,
        // `AggregateFunctionUniq.h`)
        hll_sketch_agg(col("user_id"), lit(12)).as("users_hll"))

  /** Incremental AGGREGATE-view maintenance, the delta-merge posture
    * applied to a rollup: each micro-batch appends its partial states
    * as an immutable segment; nothing existing is rewritten, so ingest
    * cost per batch is O(batch), never O(history). The read view
    * (`aggViewOf`) folds segments by re-adding the mergeable states —
    * the reference's delta + stable read path; `compactAggState`
    * collapses the segment pile into one, ≙ background delta-merge
    * (`DeltaMergeStore_InternalBg.cpp`). */
  def streamAggMaintain(spark: SparkSession, inputDir: String, statePath: String,
      autoCompactSegments: Int = SegmentCompactionPolicy.DefaultMaxSegments): Unit =
    ingestPile(spark, Piles.aggMv, (), inputDir, statePath, autoCompactSegments)

  /** Fold the partial-state segments into the current MV contents.
    * Identical result to a from-scratch groupBy over the full history;
    * the fold input is segments × groups, not the event history. */
  def aggViewOf(segments: DataFrame): DataFrame =
    segments.groupBy(col("event_type"), col("day"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("vsum")).as("vsum"),
        hll_union_agg(col("users_hll")).as("users_hll"))

  /** Compact the agg-MV pile: fold to one segment of merged partial states. */
  def compactAggState(spark: SparkSession, statePath: String): Unit =
    compactPile(spark, Piles.aggMv, statePath)

  /** The compacted generation lives in its own `seg=-1` segment so the
    * pile keeps one consistent partition layout: post-compaction
    * ingest appends seg=<batchId> (batch ids are never negative)
    * alongside it, and partition discovery keeps working. */
  private def compactedSeg(tmp: String): String = s"$tmp/seg=-1"

  /** Atomic segment-pile replacement shared by every compactor: the
    * folded generation is fully written to a sibling temp path FIRST,
    * then promoted with two filesystem renames. Every underscore entry
    * of the live root that the writer did not make itself (identity
    * markers, IVF's `_quantizer`) is copied into the temp root first,
    * so the promote replaces the whole pile. The live pile is never
    * deleted before the replacement is durable — a crash mid-compaction
    * leaves either the old generation live (crash before promote) or
    * parked at `<path>.compact-old` (crash between renames; recovery =
    * rename it back or re-promote the committed temp). ≙ the
    * reference's atomic segment replacement in delta-merge
    * (`DeltaMergeStore_InternalBg.cpp`). */
  private def promoteCompacted(spark: SparkSession, livePath: String)(
      writeTmp: String => Unit): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val tmpPath = livePath + ".compact-tmp"
    val live = new Path(livePath)
    val tmp = new Path(tmpPath)
    val old = new Path(livePath + ".compact-old")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = live.getFileSystem(conf)
    // Concurrent-append guard: compaction and ingest are meant to be
    // serialized by the maintenance driver (the reference's delta-merge
    // lock discipline), but a scheduling bug here would SILENTLY drop
    // the segments a concurrent batch appended between the fold's read
    // and the demote rename. Snapshot the segment listing before the
    // fold and refuse to promote if it changed — losing a compaction
    // attempt is cheap, losing ingested data is not.
    def segListing(): Set[String] =
      if (!fs.exists(live)) Set.empty
      else fs.listStatus(live).map(_.getPath.getName).toSet
    val before = segListing()
    // a temp root left by a failed attempt must not lend this one its
    // entries
    fs.delete(tmp, true)
    writeTmp(tmpPath)
    // the root's underscore entries ride the temp generation, so
    // neither a crash after the promote nor recoverCompaction's
    // promoted-tmp path can strand a pile without them
    for (name <- before if name.startsWith("_") && !fs.exists(new Path(tmp, name)))
      if (!FileUtil.copy(fs, new Path(live, name), fs, new Path(tmp, name), false, conf))
        throw new java.io.IOException(s"compaction: carrying $name into $tmp failed")
    if (segListing() != before) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"compaction: concurrent append detected under $live — retry when ingest is quiesced")
    }
    fs.delete(old, true)
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"compaction: demote failed for $live")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // roll back so the pile stays readable
      throw new java.io.IOException(s"compaction: promote failed for $tmp")
    }
    fs.delete(old, true)
  }

  /** Recover a segment pile after a crash mid-[[promoteCompacted]] —
    * the executable form of the choreography's recovery contract.
    * States, in program order of the promote:
    *  - live exists (crash before demote, or after completion): the
    *    pile is authoritative; any leftover tmp/old generation is
    *    garbage and is removed.
    *  - live missing, tmp exists (crash between the two renames): the
    *    fold was fully durable BEFORE the demote started (writeTmp
    *    completes first), so promote it and drop the parked old.
    *  - live missing, only old (promote rename failed and rollback
    *    also crashed): roll the old generation back.
    * Idempotent; returns the action taken. */
  def recoverCompaction(spark: SparkSession, livePath: String): String = {
    import org.apache.hadoop.fs.Path
    val live = new Path(livePath)
    val tmp = new Path(livePath + ".compact-tmp")
    val old = new Path(livePath + ".compact-old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(live) && fs.exists(tmp) && fs.exists(old))
      // live + a durable fold + the parked pre-fold pile can only mean
      // the crash happened between the renames AND an ingest tick
      // recreated `live` with post-crash segments before recovery ran.
      // Deleting old/tmp here would destroy the whole pre-crash corpus
      // state; surface it loudly instead — recovery = move live's new
      // seg=N dirs into the promoted generation, then re-run.
      throw new java.io.IOException(
        s"recoverCompaction: $livePath was recreated after a mid-promote " +
          "crash (live, .compact-tmp and .compact-old all exist); merge " +
          "live's new segments into .compact-tmp, delete live, then re-run")
    if (fs.exists(live)) {
      fs.delete(tmp, true); fs.delete(old, true); "live-intact"
    } else if (fs.exists(tmp)) {
      if (!fs.rename(tmp, live))
        throw new java.io.IOException(s"recoverCompaction: promote failed for $tmp")
      fs.delete(old, true); "promoted-tmp"
    } else if (fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(s"recoverCompaction: rollback failed for $old")
      "rolled-back"
    } else throw new java.io.IOException(
      s"recoverCompaction: nothing to recover at $livePath")
  }

  /** Partition count for the ExactSubstr fold shuffles: one shuffle
    * partition per ~64 MB of pile bytes, floored at the session
    * parallelism, capped sanely. A CONSTANT partition count is the
    * 100 TB failure mode here — the fold shuffles the whole
    * accumulated O(corpus chars) state, so per-task memory must scale
    * with pile size, not with a config default. Proven by the r14
    * audit run: the 192M-row fold at a fixed 32 partitions OOMed an
    * 8 GiB JVM (≈ 400 MB of hash table per task × 32 concurrent
    * tasks + parquet writer buffers); size-derived partitioning
    * completes in the same JVM. The reference sizes its delta-merge
    * working set the same way — by segment bytes, not a constant
    * (`/root/reference/dbms/src/Storages/DeltaMerge/DeltaMergeStore_InternalBg.cpp`). */
  private def foldPartitions(spark: SparkSession, statePath: String): Int = {
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    math.min(4096, math.max(spark.sessionState.conf.numShufflePartitions,
      (bytes / (64L << 20)).toInt))
  }

  /** Compact the ExactSubstr window-hash pile: fold the counts by
    * addition into one stamped (hk, g, c) generation, which tracks only
    * the distinct-window cardinality. */
  def compactDupSpanState(spark: SparkSession, statePath: String): Unit =
    compactPile(spark, Piles.dupSpan, statePath)

  /** Compact the postings pile: fold the per-segment lists (the
    * Lucene forceMerge analog), keeping the term-bucket partitioning a
    * probe prunes on. */
  def compactPostings(spark: SparkSession, indexPath: String): Unit =
    compactPile(spark, Piles.postings, indexPath)

  /** Compact the LSH banding pile: rewrite, per (band, bbucket) partition. */
  def compactLshIndex(spark: SparkSession, indexPath: String): Unit =
    compactPile(spark, Piles.lsh, indexPath)

  // ------------------------------------------------------------ queries
  /** MVCC snapshot as a verifiable query (read_ts fixed). */
  val q70MvccSnapshot: QueryDef = QueryDef(
    "q70_mvcc_snapshot",
    """WITH v AS (
      |  SELECT user_id, event_id AS version, (event_type = 'error') AS delmark,
      |         event_type, value
      |  FROM events WHERE event_id <= 8000),
      |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY version DESC) AS rn
      |      FROM v)
      |SELECT user_id, version, event_type, value
      |FROM r WHERE rn = 1 AND NOT delmark""".stripMargin) { (s, d) =>
    snapshot(versioned(Tables.events(s, d)), 8000L)
      .select(col("user_id"), col("version"), col("event_type"), col("value"))
  }

  /** Fast-scan mode ≙ raw read skipping MVCC resolution
    * (`Storages/DeltaMerge/ReadMode.h:20-32`): all versions, with a
    * tombstone count per pk. */
  val q71FastScan: QueryDef = QueryDef(
    "q71_fast_scan",
    """SELECT user_id, COUNT(*) AS n_versions,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_tombstones,
      |  MAX(event_id) AS max_version
      |FROM events GROUP BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        count(when(col("event_type") === "error", 1)).as("n_tombstones"),
        max(col("event_id")).as("max_version"))
  }

  /** Event-time tumbling-window aggregation — the batch equivalent of
    * the streaming windowed agg (same `window()` operator Structured
    * Streaming uses with a watermark). */
  val q72EventWindowAgg: QueryDef = QueryDef(
    "q72_event_window_agg",
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 2)))
          .cast("double").as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))
  }

  /** Sessionization over the changelog: gap > 30 min starts a new
    * session per user (window lag + running sum — the batch analog of
    * stateful mapGroupsWithState sessionization). */
  val q73Sessionize: QueryDef = QueryDef(
    "q73_sessionize",
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) -
      |      lag(epoch_us(CAST(ts AS TIMESTAMP)), 1, epoch_us(CAST(ts AS TIMESTAMP)))
      |        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |s AS (SELECT user_id, event_id,
      |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |      FROM g)
      |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
      |  COUNT(*) AS n_events, MIN(event_id) AS first_event
      |FROM s GROUP BY user_id, sess_id""".stripMargin) { (s, d) =>
    // Integer microseconds end-to-end: DuckDB's epoch() returns a double
    // whose ~0.5 µs resolution at 1.7e9 s can flip a boundary gap test;
    // unix_micros here vs epoch_us in the oracle are both exact BIGINTs.
    val ep = unix_micros(col("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val g = Tables.events(s, d)
      .withColumn("new_sess",
        when(ep - lag(ep, 1).over(w) > 1800L * 1000000L, 1).otherwise(0))
    g.withColumn("sess_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
  }.copy(headline = true)

  /** Custom stateful sessionization via `flatMapGroupsWithState` — the
    * KeyValueGroupedDataset custom-state surface (SURVEY §2.6). Same
    * gap semantics as q73's window-lag batch form (new session when the
    * gap exceeds 30 min), but with EXPLICIT per-key state carried
    * across micro-batches: state = (current session id, last event
    * µs), events within a batch processed in (ts, event_id) order.
    * Works identically on a batch Dataset (Spark runs the function per
    * group with empty initial state), which is what makes it testable
    * against the window-lag analog. */
  def sessionizeStateful(df: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    df.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        val evs = it.toArray.sortBy(e => (e._3, e._2))
        var (sessId, lastTs) = state.getOption.getOrElse((0L, Long.MinValue))
        val out = evs.map { case (_, eid, ts) =>
          if (lastTs != Long.MinValue && ts - lastTs > 1800L * 1000000L) sessId += 1
          lastTs = ts
          (uid, eid, sessId)
        }
        state.update((sessId, lastTs))
        out.iterator
      }
      .toDF("user_id", "event_id", "sess_id")
  }

  /** Spark 4's arbitrary-state API (`transformWithState`, the successor
    * to flatMapGroupsWithState): the same gap-sessionization semantics
    * as [[sessionizeStateful]], but with NAMED typed state
    * (`ValueState`) acquired from the `StatefulProcessorHandle` — the
    * API that supports multiple state variables, TTL, and timers, and
    * runs on the RocksDB state store in streaming mode. State is
    * (current session id, last event µs) per user. */
  class SessionizeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("sess",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[(Long, Long, Long)],
        tv: TimerValues): Iterator[(Long, Long, Long)] = {
      val evs = rows.toArray.sortBy(e => (e._3, e._2))
      var (sessId, lastTs) = if (st.exists()) st.get() else (0L, Long.MinValue)
      val out = evs.map { case (_, eid, ts) =>
        if (lastTs != Long.MinValue && ts - lastTs > 1800L * 1000000L) sessId += 1
        lastTs = ts
        (uid, eid, sessId)
      }
      st.update((sessId, lastTs))
      out.iterator
    }
  }

  def sessionizeTws(df: DataFrame)(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    df.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionizeProcessor, TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "event_id", "sess_id")
  }

  /** Native session windows (`session_window`, the engine's stateful
    * sessionization operator — works identically in batch and
    * Structured Streaming with a watermark; `StreamingSpec` runs the
    * streaming side). Gap semantics: events merge iff the gap is
    * STRICTLY less than 30 min (session_window's [start, last+gap)
    * interval), which the oracle spells as `>= 1800s starts new`. */
  def sessionAgg(df: DataFrame, gap: String = "30 minutes"): DataFrame =
    df.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n_events"), col("first_event"))

  val q74SessionWindow: QueryDef = QueryDef(
    "q74_session_window",
    """WITH g AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) -
      |      lag(epoch_us(CAST(ts AS TIMESTAMP)), 1, epoch_us(CAST(ts AS TIMESTAMP)))
      |        OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |s AS (SELECT user_id, event_id, ts,
      |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |      FROM g)
      |SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS sess_start,
      |  COUNT(*) AS n_events, MIN(event_id) AS first_event
      |FROM s GROUP BY user_id, sess_id""".stripMargin) { (s, d) =>
    sessionAgg(Tables.events(s, d))
  }

  /** Snapshot DIFF between two read timestamps — the CDC view an HTAP
    * replica answers ("what changed between my last read and now"):
    * per pk, classify added / deleted / updated / unchanged from the
    * newest surviving version at each ts. Both snapshots shuffle on the
    * same pk, so the full-outer join is co-partitioned — one exchange
    * per side serves the window AND the join; high-cardinality pk keeps
    * every stage scalable. */
  val q141MvccDiff: QueryDef = QueryDef(
    "q141_mvcc_diff",
    """WITH v AS (
      |  SELECT user_id, event_id AS version, (event_type = 'error') AS delmark
      |  FROM events),
      |s1 AS (SELECT user_id, version FROM (
      |    SELECT user_id, version, delmark,
      |      row_number() OVER (PARTITION BY user_id ORDER BY version DESC) AS rn
      |    FROM v WHERE version <= 5000) WHERE rn = 1 AND NOT delmark),
      |s2 AS (SELECT user_id, version FROM (
      |    SELECT user_id, version, delmark,
      |      row_number() OVER (PARTITION BY user_id ORDER BY version DESC) AS rn
      |    FROM v WHERE version <= 8000) WHERE rn = 1 AND NOT delmark)
      |SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
      |  s1.version AS v1, s2.version AS v2,
      |  CASE WHEN s1.user_id IS NULL THEN 'added'
      |       WHEN s2.user_id IS NULL THEN 'deleted'
      |       WHEN s1.version = s2.version THEN 'unchanged'
      |       ELSE 'updated' END AS change
      |FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id""".stripMargin) {
    (s, d) =>
    val v = versioned(Tables.events(s, d))
    val a = snapshot(v, 5000L).select(col("user_id"), col("version").as("v1"))
    val b = snapshot(v, 8000L).select(col("user_id"), col("version").as("v2"))
    a.join(b, Seq("user_id"), "full_outer")
      .select(col("user_id"), col("v1"), col("v2"),
        when(col("v1").isNull, "added")
          .when(col("v2").isNull, "deleted")
          .when(col("v1") === col("v2"), "unchanged")
          .otherwise("updated").as("change"))
  }

  val all: Seq[QueryDef] = Seq(
    q70MvccSnapshot, q71FastScan, q72EventWindowAgg, q73Sessionize,
    q74SessionWindow, q141MvccDiff)
}
