package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Ingest
import graft.sources.Tables
import graft.operators.Similarity

/** The on-disk contract every segment-pile family shares, pinned
  * family by family through the public ingest and compaction entry
  * points: two real micro-batches, then a compaction, must leave a
  * read view equal to the two-segment one, and a root holding exactly
  * the promoted `seg=-1` generation plus the family's identity markers
  * with their exact contents (and, for IVF, its `_quantizer`). A crash
  * between the promote's two renames must recover with every marker
  * intact. At every stage the engine's read (`Ingest.readPile`) gives
  * the same view as a raw read of the directory, and nothing of the
  * pile lives outside its root and its stream checkpoint. */
class SegmentPileSpec extends SparkTestBase {

  /** One pile family: its source rows, how to ingest a micro-batch and
    * compact, its read view of the pile's rows (sorted rows as text, so
    * a multiset compares exactly), the markers its root must carry,
    * whether its compacted generation is stamped `_folded`, and whether
    * its root holds a `_quantizer` whose fingerprint is `_centroids`. */
  private case class Family(
      name: String,
      source: () => DataFrame,
      key: String,
      ingest: (String, String) => Unit,
      compact: String => Unit,
      view: DataFrame => Seq[String],
      markers: () => Map[String, String] = () => Map.empty,
      folded: Boolean = false,
      quantizer: Boolean = false)

  private def docs = Tables.documents(spark, sf).orderBy(col("doc_id")).limit(200)
  private def events = Tables.events(spark, sf01)
  private def embeddings = Tables.embeddings(spark, sf01)
  private lazy val cent = Similarity.ivfCentroids(embeddings)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted
  private def pile(p: String) = spark.read.parquet(p)

  private val families = Seq(
    Family("ivf", () => embeddings, "vec_id",
      (in, p) => Ingest.streamIvfIngest(spark, in, p, cent),
      p => Ingest.compactIvfIndex(spark, p),
      p => rows(p.select(col("vec_id"), col("cid").cast("long"))),
      () => Map("_centroids" -> Ingest.centroidFingerprint(cent)),
      quantizer = true),
    Family("postings", () => docs, "doc_id",
      (in, p) => Ingest.streamPostingsIngest(spark, in, p, buckets = 8),
      p => Ingest.compactPostings(spark, p),
      p => rows(Ingest.mergePostingsSegments(p.drop("tbucket", "seg"))),
      () => Map("_buckets" -> "8")),
    Family("tf-postings", () => docs, "doc_id",
      (in, p) => Ingest.streamTfPostingsIngest(spark, in, p),
      p => Ingest.compactTfPostings(spark, p),
      p => rows(p.select(col("term"), col("doc_id"), col("tf"), col("dl"))),
      () => Map("_buckets" -> "16")),
    Family("doc-stats", () => docs, "doc_id",
      (in, p) => Ingest.streamDocStatsIngest(spark, in, p),
      p => Ingest.compactDocStats(spark, p),
      p => rows(Ingest.docStatsView(p))),
    Family("pos-postings", () => docs, "doc_id",
      (in, p) => Ingest.streamPosPostingsIngest(spark, in, p, buckets = 4),
      p => Ingest.compactPosPostings(spark, p),
      p => rows(p.select(col("term"), col("doc_id"), col("pos"))),
      () => Map("_buckets" -> "4")),
    Family("lsh", () => docs, "doc_id",
      (in, p) => Ingest.streamLshIngest(spark, in, p, buckets = 8,
        numHashes = 32, bandSize = 2),
      p => Ingest.compactLshIndex(spark, p),
      p => rows(p.select(col("doc_id"), col("band"), col("bucket"))),
      () => Map("_buckets" -> "8", "_banding" -> "32 2")),
    Family("shingles", () => docs, "doc_id",
      (in, p) => Ingest.streamShingleIngest(spark, in, p),
      p => Ingest.compactShinglePile(spark, p),
      p => rows(p.select(col("doc_id"), sort_array(col("sh")))),
      () => Map("_buckets" -> "16")),
    Family("dup-span", () => docs, "doc_id",
      (in, p) => Ingest.streamDupSpanMaintain(spark, in, p),
      p => Ingest.compactDupSpanState(spark, p),
      p => rows(Ingest.dupHashView(p)),
      folded = true),
    Family("agg-mv", () => events, "event_id",
      (in, p) => Ingest.streamAggMaintain(spark, in, p),
      p => Ingest.compactAggState(spark, p),
      p => rows(Ingest.aggViewOf(p).select(col("event_type"), col("day"),
        col("cnt"), col("vsum"), hll_sketch_estimate(col("users_hll")))))
  )

  families.foreach { f =>
    test(s"${f.name}: two ticks then compaction keep the read view, the layout and the markers") {
      val base = Files.createTempDirectory(s"graft-pile-${f.name}").toString
      val in = s"$base/in"
      val p = s"$base/pile"
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def children(dir: String): Set[String] =
        fs.listStatus(new Path(dir)).map(_.getPath.getName)
          .filterNot(_.startsWith(".")).toSet // checksum sidecars
      def read(file: String): String = {
        val s = fs.open(new Path(file))
        try scala.io.Source.fromInputStream(s, "UTF-8").mkString finally s.close()
      }
      // the engine's read equals the raw read, with the pile's live
      // segments and fold stamp as the directory shows them
      def engineRead(stage: String, segments: Seq[Long], folded: Boolean): Unit = {
        val read = Ingest.readPile(spark, p).getOrElse(fail(s"$stage: no data"))
        assert(read.segments.sorted === segments, s"$stage: live segments")
        assert(read.folded === folded, s"$stage: fold stamp")
        assert(f.view(read.rows) === f.view(pile(p)), s"$stage: engine read = raw read")
      }
      val artifacts = if (f.quantizer) Set("_quantizer") else Set.empty[String]
      def quantizerIsMarked(stage: String): Unit = if (f.quantizer)
        assert(Ingest.centroidFingerprint(spark.read.parquet(s"$p/_quantizer")) ===
          read(s"$p/_centroids"), s"$stage: quantizer fingerprint = _centroids")
      val src = f.source()
      for (m <- 0 until 2) {
        src.filter(pmod(col(f.key), lit(2)) === m).write.mode("append").parquet(in)
        f.ingest(in, p)
      }
      val markers = f.markers()
      assert(children(p) === Set("seg=0", "seg=1") ++ markers.keySet ++ artifacts)
      val before = f.view(pile(p))
      assert(before.nonEmpty, "the fixture must put rows in the pile")
      engineRead("two segments", Seq(0L, 1L), folded = false)

      f.compact(p)
      assert(f.view(pile(p)) === before, "compaction must not change the read view")
      assert(children(p) === Set("seg=-1") ++ markers.keySet ++ artifacts)
      engineRead("compacted", Nil, f.folded)
      markers.foreach { case (name, value) =>
        assert(read(s"$p/$name") === value, s"$name content")
      }
      quantizerIsMarked("compacted")
      assert(fs.exists(new Path(s"$p/seg=-1/_folded")) === f.folded,
        "only the dup-span text fold stamps its generation")

      // crash between the promote's renames: the live pile parked at
      // .compact-old, the compacted generation durable at .compact-tmp
      assert(fs.rename(new Path(p), new Path(s"$p.compact-tmp")))
      fs.mkdirs(new Path(s"$p.compact-old/seg=0"))
      assert(Ingest.recoverCompaction(spark, p) === "promoted-tmp")
      assert(!fs.exists(new Path(s"$p.compact-old")))
      assert(children(p) === Set("seg=-1") ++ markers.keySet ++ artifacts)
      markers.foreach { case (name, value) =>
        assert(read(s"$p/$name") === value, s"$name content after recovery")
      }
      quantizerIsMarked("recovered")
      assert(f.view(pile(p)) === before, "recovery must not change the read view")
      engineRead("recovered", Nil, f.folded)

      if (f.quantizer) {
        // a rotation swaps the generation, the quantizer and its marker
        // in the root, through the same promote
        val cent16 = Similarity.ivfCentroids(embeddings, k = 16)
        Ingest.rebuildIvfIndex(spark, p, cent16)
        assert(children(p) === Set("seg=-1") ++ markers.keySet ++ artifacts)
        assert(read(s"$p/_centroids") === Ingest.centroidFingerprint(cent16))
        quantizerIsMarked("rotated")
        engineRead("rotated", Nil, folded = false)
      }
      // the pile is its root: nothing of it lives beside the root but
      // its stream checkpoint
      assert(children(base) === Set("in", "pile", "pile-ckpt"))
    }
  }


  test("readPile: absent, empty-batch, mixed and stamped piles; marker refusal") {
    val base = Files.createTempDirectory("graft-pile-edges").toString
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def touch(file: String): Unit = fs.create(new Path(file), true).close()
    def write(df: DataFrame, dir: String): Unit = df.write.mode("overwrite").parquet(dir)
    val three = spark.range(3).toDF("x")

    assert(Ingest.readPile(spark, s"$base/absent").isEmpty, "an absent directory")
    // an empty batch commits a segment directory holding only _SUCCESS
    fs.mkdirs(new Path(s"$base/empty/seg=0"))
    touch(s"$base/empty/seg=0/_SUCCESS")
    touch(s"$base/empty/_buckets")
    assert(Ingest.readPile(spark, s"$base/empty").isEmpty, "only _SUCCESS is no data")

    // live segments next to a stamped seg=-1: not one folded generation,
    // and the empty-batch segment still counts as live
    write(three, s"$base/mixed/seg=-1")
    touch(s"$base/mixed/seg=-1/_folded")
    write(spark.range(3, 5).toDF("x"), s"$base/mixed/seg=2")
    fs.mkdirs(new Path(s"$base/mixed/seg=3"))
    touch(s"$base/mixed/seg=3/_SUCCESS")
    val mixed = Ingest.readPile(spark, s"$base/mixed").get
    assert(mixed.segments.sorted === Seq(2L, 3L))
    assert(!mixed.folded)
    assert(mixed.rows.columns.toSeq === Seq("x"), "the seg column is dropped")
    assert(mixed.rows.collect().map(_.getLong(0)).sorted.toSeq === (0L until 5L))

    // a stamped fold versus an unstamped rewrite generation
    write(three, s"$base/folded/seg=-1")
    touch(s"$base/folded/seg=-1/_folded")
    write(three, s"$base/rewritten/seg=-1")
    assert(Ingest.readPile(spark, s"$base/folded").get.folded)
    assert(!Ingest.readPile(spark, s"$base/rewritten").get.folded)
    assert(Ingest.readPile(spark, s"$base/folded").get.segments.isEmpty)

    // a pile with data but no marker reads, and every probe refuses it
    val in = s"$base/in"
    write(docs, in)
    Ingest.streamPosPostingsIngest(spark, in, s"$base/pos", buckets = 4)
    assert(fs.delete(new Path(s"$base/pos/_buckets"), false))
    assert(Ingest.readPile(spark, s"$base/pos").nonEmpty)
    val e = intercept[java.io.IOException] {
      Ingest.phraseProbe(spark, s"$base/pos", "hash", "join")
    }
    assert(e.getMessage.contains("no _buckets marker"))
  }

  test("the bucket a probe computes is the partition value ingest wrote") {
    val base = Files.createTempDirectory("graft-pile-buckets").toString
    val in = s"$base/in"
    docs.write.mode("overwrite").parquet(in)
    Ingest.streamTfPostingsIngest(spark, in, s"$base/tf", buckets = 8)
    Ingest.streamShingleIngest(spark, in, s"$base/sh", buckets = 8)
    Ingest.streamLshIngest(spark, in, s"$base/lsh", buckets = 8)
    for ((pilePath, key, part) <- Seq(("tf", "term", "tbucket"),
        ("sh", "doc_id", "dbucket"), ("lsh", "bucket", "bbucket"))) {
      val raw = pile(s"$base/$pilePath")
      val wrong = raw.filter(Ingest.bucketOf(col(key), 8) =!= col(part)).count()
      assert(wrong === 0L, s"$pilePath: rows whose $part differs from the probe's bucket")
      assert(raw.select(col(part)).distinct().count() > 1L,
        s"$pilePath: the fixture must spread over buckets")
    }
    // the term probes' bucket literals, term by term
    val written = pile(s"$base/tf").select(col("term"), col("tbucket")).distinct()
      .orderBy(col("term")).limit(40).collect().map(r => r.getString(0) -> r.getInt(1))
    written.foreach { case (term, bucket) =>
      assert(Ingest.termBucketIds(spark, s"$base/tf", Seq(term)) === Seq(bucket), term)
    }
  }
}
