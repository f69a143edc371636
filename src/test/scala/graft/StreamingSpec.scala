package graft

import java.nio.file.Files
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.Ingest
import graft.sources.Tables

/** End-to-end Structured Streaming ingest: replay the events table as a
  * stream, append to a versioned store, and check the streamed snapshot
  * equals the batch-computed snapshot (continuous ingest + consistent
  * read, SURVEY §2.6). */
class StreamingSpec extends SparkTestBase {

  /** Recursive parquet-file listing of a segment pile — shared by the
    * append-only immutability assertions so a layout change is fixed
    * in one place. */
  private def parquetFiles(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    if (!d.exists) Set.empty
    else {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(d).map(_.getPath).filter(_.endsWith(".parquet")).toSet
    }
  }

  test("streamed versioned table snapshot equals batch snapshot") {
    val base = Files.createTempDirectory("graft-ingest")
    val in = base.resolve("in")
    Files.createDirectories(in)
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val out = base.toString + "/versioned"
    Ingest.streamIngest(spark, in.toString, out)

    val streamed = spark.read.parquet(out)
    val batch = Ingest.versioned(Tables.events(spark, sf))
    assert(streamed.count() === batch.count())

    val snapStream = Ingest.snapshot(streamed, 800L)
      .select(col("user_id"), col("version"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val snapBatch = Ingest.snapshot(batch, 800L)
      .select(col("user_id"), col("version"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snapStream === snapBatch && snapStream.nonEmpty)
  }

  test("streaming session_window sessionization matches the batch sessionization") {
    import org.apache.spark.sql.streaming.Trigger
    val in = Files.createTempDirectory("graft-stream-sess").resolve("in")
    Files.createDirectories(in)
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val schema = spark.read.parquet(in.toString).schema
    val stream = spark.readStream.schema(schema).parquet(in.toString)
      .transform(Tables.normalizeEventsTs)
      .withWatermark("ts", "1 hour")
    val q = Ingest.sessionAgg(stream).writeStream
      .outputMode("complete").format("memory").queryName("sess_win")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = key(spark.table("sess_win"))
    val batch = key(Ingest.sessionAgg(Tables.events(spark, sf)))
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) collapses a replayed input") {
    import org.apache.spark.sql.streaming.Trigger
    val in = Files.createTempDirectory("graft-stream-dedup").resolve("in")
    Files.createDirectories(in)
    // feed the same data twice — the at-least-once replay a real
    // ingest pipeline must absorb
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events_a.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events_b.parquet"))
    val schema = spark.read.parquet(in.toString).schema
    val stream = spark.readStream.schema(schema).parquet(in.toString)
      .transform(Tables.normalizeEventsTs)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.select("event_id").writeStream
      .outputMode("append").format("memory").queryName("dedup_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamedCount = spark.table("dedup_stream").count()
    val batchDistinct = Tables.events(spark, sf).select("event_id").distinct().count()
    assert(streamedCount === batchDistinct,
      s"streaming dedup $streamedCount vs batch distinct $batchDistinct")
  }

  test("flatMapGroupsWithState sessionization matches the window-lag sessionize") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val in = Files.createTempDirectory("graft-stream-state").resolve("in")
    Files.createDirectories(in)
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val schema = spark.read.parquet(in.toString).schema
    val stream = spark.readStream.schema(schema).parquet(in.toString)
      .transform(Tables.normalizeEventsTs)
    val q = Ingest.sessionizeStateful(stream).writeStream
      .outputMode("append").format("memory").queryName("state_sess")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = key(spark.table("state_sess"))
    // window-lag analog of the same gap rule (q73's shape, per event)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ep = unix_micros(col("ts"))
    val batch = key(Tables.events(spark, sf)
      .withColumn("new_sess",
        when(ep - lag(ep, 1).over(w) > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("sess_id")))
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("stream-static dimension join matches the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    val in = Files.createTempDirectory("graft-stream-dim").resolve("in")
    Files.createDirectories(in)
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val schema = spark.read.parquet(in.toString).schema
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val nCust = dim.count()
    def enrich(events: org.apache.spark.sql.DataFrame) = events
      .withColumn("ck", pmod(col("user_id"), lit(nCust)) + 1)
      .join(dim, col("ck") === col("c_custkey")) // stream-static: dim broadcasts
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val stream = spark.readStream.schema(schema).parquet(in.toString)
      .transform(Tables.normalizeEventsTs)
    val q = enrich(stream).writeStream
      .outputMode("complete").format("memory").queryName("dim_join")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val streamed = key(spark.table("dim_join"))
    val batch = key(enrich(Tables.events(spark, sf)))
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("watermarked streaming window agg matches the batch window agg") {
    import org.apache.spark.sql.streaming.Trigger
    val in = Files.createTempDirectory("graft-stream-agg").resolve("in")
    Files.createDirectories(in)
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val schema = spark.read.parquet(in.toString).schema
    val stream = spark.readStream.schema(schema).parquet(in.toString)
      .transform(Tables.normalizeEventsTs)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_agg")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("win_agg")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("transformWithState sessionization matches the flatMapGroupsWithState form") {
    // the Spark 4 arbitrary-state API with named ValueState on the
    // RocksDB state store — must reproduce the legacy API's sessions
    import org.apache.spark.sql.streaming.Trigger
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = Files.createTempDirectory("graft-stream-tws").resolve("in")
      Files.createDirectories(in)
      Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
        in.resolve("events.parquet"))
      val schema = spark.read.parquet(in.toString).schema
      val stream = spark.readStream.schema(schema).parquet(in.toString)
        .transform(Tables.normalizeEventsTs)
      val q = Ingest.sessionizeTws(stream).writeStream
        .outputMode("append").format("memory").queryName("tws_sess")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      def key(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val streamed = key(spark.table("tws_sess"))
      val legacy = key(Ingest.sessionizeStateful(Tables.events(spark, sf)))
      assert(streamed === legacy && streamed.nonEmpty)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream interval join matches the batch interval join") {
    // the remaining stateful streaming operator: two watermarked streams
    // joined on key + event-time range (errors within 30 min after a
    // click), state bounded by the watermark — Structured Streaming's
    // analog of a time-bounded co-partitioned join at 100 TB/day rates
    import org.apache.spark.sql.streaming.Trigger
    val in = Files.createTempDirectory("graft-stream-ssj").resolve("in")
    Files.createDirectories(in)
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val schema = spark.read.parquet(in.toString).schema
    def mkStream() = spark.readStream.schema(schema).parquet(in.toString)
      .transform(Tables.normalizeEventsTs)
    val clicks = mkStream().filter(col("event_type") =!= "error")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val errs = mkStream().filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val joined = clicks.join(errs,
      expr("c_user = e_user AND err_ts >= click_ts AND err_ts <= click_ts + interval 30 minutes"))
    val q = joined.select(col("c_user"), col("click_id"), col("err_id"))
      .writeStream.outputMode("append").format("memory").queryName("ssj")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = key(spark.table("ssj"))
    val ev = Tables.events(spark, sf)
    val bc = ev.filter(col("event_type") =!= "error")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val be = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"),
        col("ts").as("err_ts"))
    val batch = key(bc.join(be,
        expr("c_user = e_user AND err_ts >= click_ts AND err_ts <= click_ts + interval 30 minutes"))
      .select(col("c_user"), col("click_id"), col("err_id")))
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("incremental IVF index maintenance: streamed vectors findable without rebuild") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    // centroids fixed from the initial corpus — the IVF ingest contract
    val cent = Similarity.ivfCentroids(e)
    val base = Files.createTempDirectory("graft-inc-ivf")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    def indexFiles(): Set[String] = {
      val d = new java.io.File(idx)
      if (!d.exists) Set.empty
      else {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
        walk(d).map(_.getPath).filter(_.endsWith(".parquet")).toSet
      }
    }
    // batch 1 arrives: half the corpus
    e.filter(col("vec_id") % 2 === 0).write.mode("overwrite").parquet(in)
    Ingest.streamIvfIngest(spark, in, idx, cent)
    val files1 = indexFiles()
    assert(files1.nonEmpty)
    // batch 2 arrives as NEW files in the source dir
    e.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(in)
    Ingest.streamIvfIngest(spark, in, idx, cent)
    // append-only maintenance: every batch-1 index file survives untouched
    assert(files1.subsetOf(indexFiles()), "incremental ingest must not rewrite existing lists")
    // the stored index now equals the from-scratch batch assignment
    val stored = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Similarity.ivfAssign(e, cent)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === direct && stored.nonEmpty,
      "stream-built index must equal the batch-built assignment")
    // and a probe still partition-prunes: only the probed lists are read
    val probedCids = cent.select(col("cid")).collect().map(_.getLong(0)).sorted.take(2).toSeq
    val probe = spark.read.parquet(idx).filter(col("cid").isin(probedCids: _*))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"probe over the streamed index must partition-prune on cid:\n$plan")
  }

  test("IVF pile: probe ≡ batch ivfSearch, compaction read-identical, centroid identity enforced") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val cent = Similarity.ivfCentroids(e)
    val base = Files.createTempDirectory("graft-ivf-pile")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    // three real micro-batches through the maintenance (the capstone
    // tick discipline), auto-compaction policy LIVE at threshold 2 so
    // the pile folds from ingest alone
    for (m <- 0 until 3) {
      e.filter(pmod(col("vec_id"), lit(3)) === m).write.mode("append").parquet(in)
      Ingest.streamIvfIngest(spark, in, idx, cent, autoCompactSegments = 2)
    }
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // probe-≡-batch (r16 VERDICT ask #2): the pile probe must return
    // exactly the candidate ranking batch q58's ivfSearch computes
    // inline over the same corpus with the same quantizer
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val probed = key(Ingest.ivfProbe(spark, idx, queries, nProbe = 4)
      .select(col("qid"), col("vec_id"), col("rnk")))
    val batch = key(Similarity.ivfSearch(e, nProbe = 4,
        centroids = Some(cent))
      .select(col("qid"), col("vec_id"), col("rnk")))
    assert(probed === batch && probed.nonEmpty,
      "pile probe must equal batch ivfSearch's result")
    // fold-≡-rebuild: an explicit compaction (rewrite form) changes
    // nothing a reader sees — assignment rows ≡ from-scratch ivfAssign
    Ingest.compactIvfIndex(spark, idx)
    val stored = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Similarity.ivfAssign(e, cent)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored === direct && stored.nonEmpty)
    // the promoted generation carries the identity marker and the
    // quantizer, and the probe still works (quantizer verified against
    // the marker) after the fold
    assert(key(Ingest.ivfProbe(spark, idx, queries, nProbe = 4)
      .select(col("qid"), col("vec_id"), col("rnk"))) === batch)
    // centroid identity: ingest with a DIFFERENT quantizer is refused
    // loudly (the mixed-modulus discipline applied to centroids)
    val otherCent = Similarity.ivfCentroids(e, k = 16)
    val ex = intercept[java.io.IOException] {
      Ingest.streamIvfIngest(spark, in, idx, otherCent)
    }
    assert(ex.getMessage.contains("different centroid set"))
    // a swapped quantizer is caught by the fingerprint check
    otherCent.write.mode("overwrite").parquet(idx + "/_quantizer")
    val ex2 = intercept[java.io.IOException] {
      Ingest.ivfProbe(spark, idx, queries, nProbe = 4).collect()
    }
    assert(ex2.getMessage.contains("does not match the pile's"))
    cent.write.mode("overwrite").parquet(idx + "/_quantizer") // restore
    // first-boot ordering: probing a never-created pile is an empty
    // result, not an AnalysisException
    assert(Ingest.ivfProbe(spark, base.toString + "/nonexistent",
      queries, nProbe = 4).isEmpty)
  }

  test("IVF near-dup probe ≡ direct ANN-blocked pair computation") {
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.vec_cosine_distance
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(pmod(col("vec_id"), lit(10)) < 8)
    val batch = e.filter(pmod(col("vec_id"), lit(10)) >= 8)
    val cent = Similarity.ivfCentroids(corpus)
    val base = Files.createTempDirectory("graft-ivf-nd")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    for (m <- 0 until 2) {
      corpus.filter(pmod(col("vec_id"), lit(2)) === m)
        .write.mode("append").parquet(in)
      Ingest.streamIvfIngest(spark, in, idx, cent)
    }
    Ingest.compactIvfIndex(spark, idx)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val probed = key(Ingest.ivfNearDupProbe(spark, idx, batch, simThreshold = 0.2))
    // first principles: batch and corpus assigned to the same fixed
    // quantizer, candidates share the list, exact cosine confirm
    val ac = Similarity.ivfAssign(corpus, cent)
      .select(col("vec_id").as("old_id"), col("embedding").as("ov"), col("cid"))
    val ab = Similarity.ivfAssign(batch, cent)
      .select(col("vec_id").as("new_id"), col("embedding").as("nv"), col("cid"))
    val direct = key(ab.join(ac, Seq("cid"))
      .withColumn("sim", lit(1.0) - vec_cosine_distance(col("nv"), col("ov")))
      .filter(col("sim") > 0.2)
      .select(col("new_id"), col("old_id"), round(col("sim"), 6)))
    assert(probed === direct && probed.nonEmpty,
      "pile near-dup probe must equal the direct ANN-blocked pair set")
    // a batch member never pairs with itself even if ingested: probe
    // the CORPUS against its own pile — self-pairs must be excluded
    val selfProbe = Ingest.ivfNearDupProbe(spark, idx,
      corpus.limit(20), simThreshold = -1.0)
    assert(selfProbe.filter(col("new_id") === col("old_id")).isEmpty)
    selfProbe.unpersist()
    // first-boot: no pile yet → empty result, not an exception
    assert(Ingest.ivfNearDupProbe(spark, base.toString + "/none",
      batch, 0.2).isEmpty)
  }

  test("IVF quantizer rotation: rebuild re-assigns atomically, crash window fails safe and recovers") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf)
    val cent32 = Similarity.ivfCentroids(e)
    val base = Files.createTempDirectory("graft-ivf-rot")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    for (m <- 0 until 2) {
      e.filter(pmod(col("vec_id"), lit(2)) === m).write.mode("append").parquet(in)
      Ingest.streamIvfIngest(spark, in, idx, cent32)
    }
    def stored() = spark.read.parquet(idx)
      .select(col("vec_id"), col("cid").cast("long").as("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def directOn(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssign(e, c).select(col("vec_id"), col("cid"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rotate to a RE-TRAINED quantizer (k=16): the offline rebuild path
    val cent16 = Similarity.ivfCentroids(e, k = 16)
    Ingest.rebuildIvfIndex(spark, idx, cent16)
    assert(stored() === directOn(cent16),
      "rebuilt pile must hold the new quantizer's assignment")
    // the old quantizer can no longer ingest; the new one can
    val ex = intercept[java.io.IOException] {
      Ingest.streamIvfIngest(spark, in, idx, cent32)
    }
    assert(ex.getMessage.contains("different centroid set"))
    // a probe against the rotated pile answers with the new quantizer
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def probeOn(c: org.apache.spark.sql.DataFrame) =
      key(Similarity.ivfSearch(e, nProbe = 4, centroids = Some(c))
        .select(col("qid"), col("vec_id"), col("rnk")))
    def probed() = key(Ingest.ivfProbe(spark, idx, queries, nProbe = 4)
      .select(col("qid"), col("vec_id"), col("rnk")))
    val on16 = probeOn(cent16)
    assert(probed() === on16)
    // a crash inside a rotation is a crash inside its promote: rebuild
    // for real, then park its complete temp root and put back the pile
    // as it stood before, to stage the states recoverCompaction meets
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(idx).getFileSystem(conf)
    def interruptedRotation(c: org.apache.spark.sql.DataFrame, prevAt: String): Unit = {
      assert(FileUtil.copy(fs, new Path(idx), fs, new Path(idx + ".prev"), false, conf))
      Ingest.rebuildIvfIndex(spark, idx, c)
      assert(fs.rename(new Path(idx), new Path(idx + ".compact-tmp")))
      assert(fs.rename(new Path(idx + ".prev"), new Path(prevAt)))
    }
    // crash before the demote: the stale temp generation is dropped and
    // the probe answers with the old quantizer
    interruptedRotation(cent32, idx)
    assert(Ingest.recoverCompaction(spark, idx) === "live-intact")
    assert(!fs.exists(new Path(idx + ".compact-tmp")))
    assert(probed() === on16 && stored() === directOn(cent16))
    // crash between the promote's two renames: the new generation,
    // quantizer and marker are promoted together
    interruptedRotation(cent32, idx + ".compact-old")
    assert(Ingest.recoverCompaction(spark, idx) === "promoted-tmp")
    assert(!fs.exists(new Path(idx + ".compact-old")))
    assert(probed() === probeOn(cent32) && stored() === directOn(cent32))
  }

  test("stream-stream LEFT OUTER interval join: unmatched rows flush as the watermark passes") {
    // outer stream-stream join adds the state-expiry contract: a click
    // with no error inside its 30-minute window may only emit its
    // null-extended row once the watermark proves no match can still
    // arrive. Matched rows must equal the batch inner join; every
    // emitted null row must be a true batch non-match; and every click
    // older than (max ts - watermark - window) must have been flushed.
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-stream-ssoj")
    val in = base.resolve("in"); Files.createDirectories(in)
    val sink = base.resolve("sink").toString
    val ckpt = base.resolve("ckpt").toString
    val evAll = Tables.events(spark, sf)
    // time-split halves: run 1 ingests the old half and leaves its
    // watermark (split - 1h) in the checkpoint; run 2 ingests the new
    // half, so run-1 state older than that watermark must evict
    val bounds = evAll.agg(min(col("ts")), max(col("ts"))).first()
    val minMs = bounds.getTimestamp(0).getTime
    val maxMs = bounds.getTimestamp(1).getTime
    val splitMs = minMs + (maxMs - minMs) / 2
    val split = new java.sql.Timestamp(splitMs)
    def runOnce(): Unit = {
      val schema = spark.read.parquet(in.toString).schema
      def mkStream() = spark.readStream.schema(schema).parquet(in.toString)
      val clicks = mkStream().filter(col("event_type") =!= "error")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val errs = mkStream().filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("event_id").as("err_id"),
          col("ts").as("err_ts"))
        .withWatermark("err_ts", "1 hour")
      val joined = clicks.join(errs,
        expr("c_user = e_user AND err_ts >= click_ts AND err_ts <= click_ts + interval 30 minutes"),
        "left_outer")
      val q = joined.select(col("c_user"), col("click_id"), col("err_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // the streamed input carries real timestamps (Tables.load already
    // converted ns→µs), so no stream-side prep is needed. Each half is
    // dropped into `in/` as a single flat file (the source does not
    // recurse into subdirectories).
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = base.resolve(s"tmp-$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, in.resolve(name))
    }
    addFile(evAll.filter(col("ts") <= split), "old.parquet")
    runOnce()
    addFile(evAll.filter(col("ts") > split), "new.parquet")
    runOnce()
    val out = spark.read.parquet(sink).collect()
    val matched = out.filter(!_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val nulls = out.filter(_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1))).toSet

    val ev = Tables.events(spark, sf)
    val bc = ev.filter(col("event_type") =!= "error")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val be = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"),
        col("ts").as("err_ts"))
    val cond =
      expr("c_user = e_user AND err_ts >= click_ts AND err_ts <= click_ts + interval 30 minutes")
    val batchInner = bc.join(be, cond)
      .select(col("c_user"), col("click_id"), col("err_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched === batchInner && matched.nonEmpty,
      "matched outer-join rows must equal the batch inner join")
    val batchUnmatched = bc.join(be, cond, "left_anti")
      .select(col("c_user"), col("click_id"), col("click_ts")).collect()
    val unmatchedKeys = batchUnmatched.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nulls.subsetOf(unmatchedKeys),
      "every emitted null row must be a true batch non-match")
    // flush completeness: run 2 executes with run 1's checkpointed
    // watermark (split - 1h), so any unmatched click whose 30-minute
    // window closed before that watermark must have emitted its null
    // row (1-minute margin for boundary semantics)
    val flushCutoff = splitMs - 3600 * 1000L - 30 * 60 * 1000L - 60 * 1000L
    val mustFlush = batchUnmatched.filter { r =>
      r.getTimestamp(2).getTime < flushCutoff
    }.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mustFlush.subsetOf(nulls),
      s"${(mustFlush -- nulls).size} provably-expired clicks never flushed")
    assert(nulls.nonEmpty, "no null-extended rows emitted at all")
  }

  test("incremental postings maintenance: streamed docs searchable without rebuild") {
    import graft.operators.InvertedText
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-inc-post")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    def indexFiles(): Set[String] = {
      val d = new java.io.File(idx)
      if (!d.exists) Set.empty
      else {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
        walk(d).map(_.getPath).filter(_.endsWith(".parquet")).toSet
      }
    }
    // batch 1: half the corpus becomes the first postings segment
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in)
    Ingest.streamPostingsIngest(spark, in, idx)
    val files1 = indexFiles()
    assert(files1.nonEmpty)
    // batch 2 arrives: a second immutable segment, batch-1 files untouched
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(in)
    Ingest.streamPostingsIngest(spark, in, idx)
    assert(files1.subsetOf(indexFiles()),
      "incremental ingest must not rewrite existing segments")
    // read-side segment merge equals a from-scratch postings build
    def key(df: org.apache.spark.sql.DataFrame): Map[String, (Seq[Long], Long)] =
      df.collect().map(r =>
        r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val merged = key(Ingest.mergePostingsSegments(
      spark.read.parquet(idx)).select(col("term"), col("postings"), col("df")))
    val direct = key(InvertedText.buildPostings(docs)
      .select(col("term"), col("postings"), col("df")))
    assert(merged === direct && merged.nonEmpty,
      "merged segments must equal the batch-built postings")
    // a term probe partition-prunes to the term's hash bucket
    val probe = spark.read.parquet(idx)
      .filter(col("tbucket") === pmod(abs(hash(lit("hash"))), lit(16)) &&
        col("term") === "hash")
    assert(probe.collect().nonEmpty)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tbucket"),
      s"term probe must partition-prune on tbucket:\n$plan")
  }

  test("tf-postings + doc-stats piles: append-only segments, BM25 probe ≡ batch, compaction read-identical") {
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-tfpost")
    val in = base.toString + "/in"
    val tf = base.toString + "/tf"
    val st = base.toString + "/stats"
    def pileFiles(p: String): Set[String] = {
      val d = new java.io.File(p)
      if (!d.exists) Set.empty
      else {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
        walk(d).map(_.getPath).filter(_.endsWith(".parquet")).toSet
      }
    }
    // batch 1
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in)
    Ingest.streamTfPostingsIngest(spark, in, tf)
    Ingest.streamDocStatsIngest(spark, in, st)
    val files1 = pileFiles(tf)
    assert(files1.nonEmpty)
    // batch 2: new immutable segments, batch-1 files untouched
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(in)
    Ingest.streamTfPostingsIngest(spark, in, tf)
    Ingest.streamDocStatsIngest(spark, in, st)
    assert(files1.subsetOf(pileFiles(tf)),
      "incremental tf ingest must not rewrite existing segments")
    // stats fold ≡ the batch-side totals (count + Σ token length)
    val folded = Ingest.docStatsView(spark.read.parquet(st)).collect()(0)
    val direct = docs
      .select(size(split(trim(col("text")), "\\s+")).as("dl"))
      .agg(count(lit(1)), sum(col("dl"))).collect()(0)
    assert(folded.getLong(0) === direct.getLong(0) &&
      folded.getLong(1) === direct.getLong(1))
    // the served BM25 answer ≡ the from-scratch q75b ranking, scores
    // included, and the probe partition-prunes to the probed buckets
    def key(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    val probe = Ingest.bm25Probe(spark, tf, st, Seq("hash", "join", "scan"))
    val want = key(graft.operators.InvertedText.q75bBm25.fn(spark, sf))
    assert(key(probe) === want && want.nonEmpty)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tbucket"),
      s"BM25 probe must partition-prune on tbucket:\n$plan")
    // compaction: answer byte-identical across both piles' rewrites
    Ingest.compactTfPostings(spark, tf)
    Ingest.compactDocStats(spark, st)
    assert(key(Ingest.bm25Probe(spark, tf, st, Seq("hash", "join", "scan")))
      === want, "compaction must not change the served ranking")
    // first-boot contract: data-less paths answer empty, not throw
    assert(Ingest.bm25Probe(spark, base.toString + "/absent",
      base.toString + "/absent2", Seq("hash")).isEmpty)
  }

  test("incremental aggregate MV: appended partial states fold to the batch rollup") {
    val base = Files.createTempDirectory("graft-aggmv")
    val in = base.resolve("in")
    Files.createDirectories(in)
    val state = base.toString + "/state"
    val events = Tables.events(spark, sf)
    // replay in two halves → two independent partial-state segments
    // (staged as flat files: the stream source lists in/ non-recursively)
    def addHalf(parity: Int): Unit = {
      val stage = base.resolve(s"stage$parity")
      events.filter(col("event_id") % 2 === parity)
        .coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, in.resolve(s"half$parity.parquet"))
    }
    addHalf(0)
    Ingest.streamAggMaintain(spark, in.toString, state)
    addHalf(1)
    Ingest.streamAggMaintain(spark, in.toString, state)

    def mv = Ingest.aggViewOf(spark.read.parquet(state))
      .select(col("event_type"), col("day"), col("cnt"),
        col("vsum").cast("decimal(30,2)"),
        hll_sketch_estimate(col("users_hll")).as("du"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getDecimal(3), r.getLong(4))).toSet
    val batch = Ingest.aggPartial(events)
      .select(col("event_type"), col("day"), col("cnt"),
        col("vsum").cast("decimal(30,2)"),
        hll_sketch_estimate(col("users_hll")).as("du"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getDecimal(3), r.getLong(4))).toSet
    assert(mv === batch && mv.nonEmpty,
      "folded partial-state segments must equal the from-scratch rollup")
    // at least two segments exist before compaction (append-only ingest)
    val filesBefore = spark.read.parquet(state).inputFiles.length
    assert(filesBefore >= 2, s"expected a segment pile, got $filesBefore files")
    // background compaction collapses the pile without changing the view
    Ingest.compactAggState(spark, state)
    assert(mv === batch, "compaction must not change read results")
    // a second compaction is a no-op fold of one segment
    Ingest.compactAggState(spark, state)
    assert(mv === batch)
  }

  test("incremental aggregate MV equals the batch recompute at EVERY micro-batch boundary, with mid-stream compaction") {
    // End-to-end consistency at each checkpoint, not just the final
    // state: after every ingested slice the folded MV must equal a
    // from-scratch rollup over the prefix ingested so far — including
    // immediately after a mid-stream compaction collapses the pile
    // while later appends keep arriving (the reference's delta-merge
    // invariant: background merges never perturb the read view).
    val base = Files.createTempDirectory("graft-aggmv-ckpt")
    val in = base.resolve("in")
    Files.createDirectories(in)
    val state = base.toString + "/state"
    val events = Tables.events(spark, sf)
    val slices = 4
    def addSlice(i: Int): Unit = {
      val stage = base.resolve(s"stage$i")
      events.filter(col("event_id") % slices === i)
        .coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, in.resolve(s"slice$i.parquet"))
    }
    def snap(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, java.math.BigDecimal, Long)] =
      df.select(col("event_type"), col("day"), col("cnt"),
          col("vsum").cast("decimal(30,2)"),
          hll_sketch_estimate(col("users_hll")).as("du"))
        .collect().map(r => (r.getString(0), r.getDate(1).toString,
          r.getLong(2), r.getDecimal(3), r.getLong(4))).toSet
    for (i <- 0 until slices) {
      addSlice(i)
      Ingest.streamAggMaintain(spark, in.toString, state)
      val mv = snap(Ingest.aggViewOf(spark.read.parquet(state)))
      val prefix = snap(Ingest.aggPartial(
        events.filter(col("event_id") % slices <= i)))
      assert(mv === prefix && mv.nonEmpty,
        s"MV after micro-batch $i must equal the batch rollup over slices 0..$i")
      if (i == 1) { // compact mid-stream; boundary invariant must hold
        Ingest.compactAggState(spark, state)
        assert(snap(Ingest.aggViewOf(spark.read.parquet(state))) === prefix,
          "mid-stream compaction must not change the checkpoint view")
      }
    }
  }

  test("incremental MinHash-LSH index: appended segments yield the full-rebuild candidate pairs") {
    import graft.operators.TextPipeline
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-inc-lsh")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    def indexFiles(): Set[String] = parquetFiles(idx)
    // batch 1: half the corpus becomes the first banding segment
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, idx)
    val files1 = indexFiles()
    assert(files1.nonEmpty)
    // batch 2 arrives as NEW source files → a second immutable segment
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(in)
    Ingest.streamLshIngest(spark, in, idx)
    assert(files1.subsetOf(indexFiles()),
      "incremental ingest must not rewrite existing segments")
    // candidate pairs over the segment UNION equal a full q61 rebuild —
    // banding rows are per-document and pair grouping is segment-blind
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = pairs(TextPipeline.lshPairsFromBands(
      spark.read.parquet(idx).select(col("doc_id"), col("band"), col("bucket"))))
    val direct = pairs(TextPipeline.lshPairsFromBands(TextPipeline.minhashBands(docs)))
    assert(stored === direct && stored.nonEmpty,
      "stream-built LSH index must yield the batch-built candidate pairs")
    // a new-batch probe partition-prunes to its (band, bucket-hash)
    val probe = spark.read.parquet(idx)
      .filter(col("band") === 0 && col("bbucket") === 3)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bbucket"),
      s"band probe over the streamed index must partition-prune:\n$plan")
  }

  test("LSH dedup-at-ingest probe: new batch vs stored index equals the direct cross-pair set") {
    import graft.operators.TextPipeline
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-lsh-probe")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    // corpus = even half, already indexed incrementally
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, idx)
    // probe the odd half WITHOUT re-banding the corpus
    val got = Ingest.lshProbe(spark, idx, docs.filter(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent expectation: band everything in batch, cross-join the
    // halves on (band, bucket) with the old-side degenerate-bucket cap —
    // no stored index, no bbucket path
    val bandsAll = TextPipeline.minhashBands(docs)
    val evenGroups = bandsAll.filter(col("doc_id") % 2 === 0)
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("old_ids"))
      .filter(size(col("old_ids")) <= Ingest.LshMaxBucket)
    val expected = bandsAll.filter(col("doc_id") % 2 === 1)
      .withColumnRenamed("doc_id", "new_doc")
      .join(evenGroups, Seq("band", "bucket"))
      .select(col("new_doc"), explode(col("old_ids")).as("old_doc"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected && got.nonEmpty,
      s"probe must equal the direct cross-pair set (got ${got.size}, expected ${expected.size})")
    // asymmetry: only (new=odd, old=even) pairs — the corpus was never re-banded
    assert(got.forall { case (n, o) => n % 2 == 1 && o % 2 == 0 })
  }

  test("incremental ExactSubstr index: merged counts equal phase 1; probe equals q215's rows") {
    import graft.operators.TextPipeline
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-inc-dupspan")
    val in = base.toString + "/in"
    val state = base.toString + "/state"
    def stateFiles(): Set[String] = parquetFiles(state)
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in)
    Ingest.streamDupSpanMaintain(spark, in, state)
    val files1 = stateFiles()
    assert(files1.nonEmpty)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(in)
    Ingest.streamDupSpanMaintain(spark, in, state)
    assert(files1.subsetOf(stateFiles()),
      "incremental ingest must not rewrite existing segments")
    // folded segment counts ≡ from-scratch dup-WINDOW set (exact BIGINT
    // sums on (hash, text) keys — cross-batch duplicates only exist in
    // the fold, and the text key makes the set collision-exact)
    val merged = Ingest.dupHashView(spark.read.parquet(state))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val direct = TextPipeline.dupSpanPartial(docs).filter(col("c") >= 2)
      .select(col("hk"), col("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(merged === direct && merged.nonEmpty,
      "merged window state must equal the batch dup-window set")
    // probing HALF the corpus against the full state reproduces the
    // batch q215 pass restricted to those docs — without re-windowing
    // the other half
    def spanRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val probe = spanRows(Ingest.dupSpanProbe(spark, state,
      docs.filter(col("doc_id") % 2 === 1)))
    val full = spanRows(TextPipeline.q215DupSpans.fn(spark, sf)
      .filter(col("doc_id") % 2 === 1))
    CacheHygiene.sweep(spark, "q215_dup_spans")
    assert(probe === full && probe.nonEmpty,
      s"probe must equal q215's rows for the probed docs (probe ${probe.size}, q215 ${full.size})")
    // the q215 broadcast rule applies to the probe too: the folded
    // dup-hash state is corpus-derived, so the probe join must plan as
    // a shuffle join — a refactor dropping the hint would reintroduce
    // the 100x driver-OOM class at ingest time
    val pplan = Ingest.dupSpanProbe(spark, state,
      docs.filter(col("doc_id") % 2 === 1)).queryExecution.executedPlan.toString
    assert(pplan.contains("ShuffledHashJoin") && !pplan.contains("BroadcastHashJoin"),
      s"dupSpanProbe must shuffle-join the corpus-derived state:\n$pplan")
    // empty probe batches are a no-op, not an error (a crawl tick with
    // no new docs)
    assert(Ingest.dupSpanProbe(spark, state,
      docs.filter(col("doc_id") < 0)).isEmpty)
  }

  test("LSH probe with an empty batch is a no-op") {
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-lsh-empty")
    val in = base.toString + "/in"
    val idx = base.toString + "/index"
    docs.limit(50).write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, idx)
    assert(Ingest.lshProbe(spark, idx, docs.filter(col("doc_id") < 0)).isEmpty)
  }

  test("segment-pile compaction preserves reads for postings, LSH, and dup-span state") {
    import graft.operators.TextPipeline
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-compact")
    val in = base.toString + "/in"
    // two-batch piles for all three index kinds over the same corpus
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite").parquet(in)
    val (post, lsh, span) =
      (base.toString + "/post", base.toString + "/lsh", base.toString + "/span")
    Ingest.streamPostingsIngest(spark, in, post)
    Ingest.streamLshIngest(spark, in, lsh)
    Ingest.streamDupSpanMaintain(spark, in, span)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(in)
    Ingest.streamPostingsIngest(spark, in, post)
    Ingest.streamLshIngest(spark, in, lsh)
    Ingest.streamDupSpanMaintain(spark, in, span)

    // postings: merged view identical across compaction; pruning preserved
    def postView = Ingest.mergePostingsSegments(
        spark.read.parquet(post).drop("tbucket"))
      .collect().map(r => r.getString(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val postBefore = postView
    Ingest.compactPostings(spark, post)
    assert(postView === postBefore && postBefore.nonEmpty,
      "postings compaction must not change the merged view")
    val pplan = spark.read.parquet(post)
      .filter(col("tbucket") === 3).queryExecution.executedPlan.toString
    assert(pplan.contains("PartitionFilters") && pplan.contains("tbucket"),
      "compacted postings must still partition-prune on tbucket")

    // LSH: candidate pairs identical; partition pruning preserved;
    // the pile actually shrank (file-count hygiene is the point)
    def lshPairs = TextPipeline.lshPairsFromBands(
        spark.read.parquet(lsh).select(col("doc_id"), col("band"), col("bucket")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshBefore = lshPairs
    val lshFilesBefore = spark.read.parquet(lsh).inputFiles.length
    Ingest.compactLshIndex(spark, lsh)
    assert(lshPairs === lshBefore && lshBefore.nonEmpty,
      "LSH compaction must not change candidate pairs")
    assert(spark.read.parquet(lsh).inputFiles.length < lshFilesBefore,
      "LSH compaction must shrink the segment pile")
    val lplan = spark.read.parquet(lsh)
      .filter(col("band") === 0 && col("bbucket") === 3)
      .queryExecution.executedPlan.toString
    assert(lplan.contains("PartitionFilters") && lplan.contains("bbucket"))

    // dup-span: folded dup set identical; probe result identical;
    // the compacted state has one row per distinct (hash, text) window
    def dupSet = Ingest.dupHashView(spark.read.parquet(span))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def probeRows = Ingest.dupSpanProbe(spark, span,
        docs.filter(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (dupBefore, probeBefore) = (dupSet, probeRows)
    Ingest.compactDupSpanState(spark, span)
    assert(dupSet === dupBefore && dupBefore.nonEmpty,
      "dup-span compaction must not change the folded dup-hash set")
    assert(probeRows === probeBefore,
      "dup-span compaction must not change probe results")
    val st = spark.read.parquet(span)
    assert(st.count() === st.select(col("hk"), col("g")).distinct().count(),
      "compacted state must hold exactly one row per distinct window")
    // a second compaction is a no-op fold of one segment
    Ingest.compactDupSpanState(spark, span)
    assert(dupSet === dupBefore)

    // retention (r14 VERDICT ask #5): compaction must DELETE superseded
    // segments/generations, not strand them — a production pile keeping
    // every pre-fold generation grows without bound. Post-compaction,
    // each pile root holds ONLY the promoted seg=-1 generation plus its
    // underscore markers, and no .compact-tmp/.compact-old sibling
    // survives the promote.
    for (pile <- Seq(post, lsh, span)) {
      val entries = new java.io.File(pile).listFiles.map(_.getName).toSet
      assert(entries.filter(_.startsWith("seg=")) === Set("seg=-1"),
        s"$pile retains a superseded generation: $entries")
      // markers (_x) and local-FS checksum sidecars (._x.crc) are the
      // only legal root companions of the promoted generation
      assert(entries.forall(e =>
          e == "seg=-1" || e.startsWith("_") || e.startsWith(".")),
        s"$pile root holds non-generation non-marker entries: $entries")
      for (sib <- Seq(".compact-tmp", ".compact-old"))
        assert(!new java.io.File(pile + sib).exists,
          s"stranded compaction sibling $pile$sib")
    }
  }

  test("text-state folded fast path trusts only the _folded stamp (ADVICE r14 #2)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-folded-gate")
    val state = base.toString + "/span"
    val g = "x" * 50
    val hk = Seq(g).toDF("g").select(xxhash64(col("g"))).head.getLong(0)
    // a single seg=-1 generation that is NOT fold-shaped: the same
    // window's count split c=1 + c=1 across former segments (what a
    // rewrite-form compactor would leave). No _folded stamp.
    Seq((hk, g, 1L), (hk, g, 1L)).toDF("hk", "g", "c")
      .write.mode("overwrite").parquet(state + "/seg=-1")
    val probe = Seq((7L, g)).toDF("doc_id", "text")
    def spans = Ingest.dupSpanProbe(spark, state, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans === Set((7L, 1L, 50L, 50L)),
      "an unstamped single generation must take the re-group path " +
        "(split c=1+c=1 rows sum to a duplicate); fast-pathing it would " +
        "silently under-match")
    // the stamped fold-shaped generation gives the same answer through
    // the fast path
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    Seq((hk, g, 2L)).toDF("hk", "g", "c")
      .write.mode("overwrite").parquet(state + "/seg=-1")
    fs.create(new org.apache.hadoop.fs.Path(state + "/seg=-1/_folded"), true).close()
    assert(spans === Set((7L, 1L, 50L, 50L)),
      "the stamped folded generation must fast-path to the same spans")
  }

  test("compaction crash recovery: every interrupted state restores an equivalent pile") {
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft-compact-crash")
    val in = base.toString + "/in"
    val state = base.toString + "/span"
    val docs = Tables.documents(spark, sf)
    docs.limit(200).write.mode("overwrite").parquet(in)
    Ingest.streamDupSpanMaintain(spark, in, state)
    val fs = new Path(state).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dupSet = Ingest.dupHashView(spark.read.parquet(state))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = dupSet
    def foldedToTmp(): Unit =
      spark.read.parquet(state).groupBy(col("hk"), col("g"))
        .agg(sum(col("c")).cast("long").as("c"))
        .write.mode("overwrite").parquet(state + ".compact-tmp/seg=-1")
    // crash AFTER the fold, BEFORE the demote: live intact + stale tmp
    foldedToTmp()
    assert(Ingest.recoverCompaction(spark, state) === "live-intact")
    assert(!fs.exists(new Path(state + ".compact-tmp")) && dupSet === want)
    // crash BETWEEN the renames: live parked at .compact-old, tmp durable
    foldedToTmp()
    assert(fs.rename(new Path(state), new Path(state + ".compact-old")))
    assert(Ingest.recoverCompaction(spark, state) === "promoted-tmp")
    assert(dupSet === want && !fs.exists(new Path(state + ".compact-old")))
    // crash with only the parked old generation (promote + rollback lost)
    assert(fs.rename(new Path(state), new Path(state + ".compact-old")))
    assert(Ingest.recoverCompaction(spark, state) === "rolled-back")
    assert(dupSet === want)
    // recovery is idempotent; nothing-to-recover is loud, not silent
    assert(Ingest.recoverCompaction(spark, state) === "live-intact")
    // the dangerous ambiguity — live RECREATED by an ingest tick after
    // a mid-promote crash (live + tmp + old all present) — must refuse
    // loudly instead of deleting the pre-crash pile
    foldedToTmp()
    assert(fs.rename(new Path(state), new Path(state + ".compact-old")))
    docs.limit(50).write.mode("overwrite").parquet(state + "/seg=99")
    val amb = intercept[java.io.IOException] {
      Ingest.recoverCompaction(spark, state)
    }
    assert(amb.getMessage.contains("recreated"))
    assert(fs.exists(new Path(state + ".compact-old")) &&
      fs.exists(new Path(state + ".compact-tmp")),
      "ambiguous-state recovery must not delete any generation")
    fs.delete(new Path(state), true)
    fs.delete(new Path(state + ".compact-tmp"), true)
    fs.delete(new Path(state + ".compact-old"), true)
    intercept[java.io.IOException] { Ingest.recoverCompaction(spark, state) }
  }

  test("ingest replay is idempotent and probes are safe before first ingest") {
    import graft.operators.TextPipeline
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-replay")
    val in = base.toString + "/in"
    val state = base.toString + "/span"
    val lshIdx = base.toString + "/lsh"
    // probes BEFORE any ingest: empty results, not AnalysisException
    assert(Ingest.dupSpanProbe(spark, state, docs.limit(10)).isEmpty)
    assert(Ingest.lshProbe(spark, lshIdx, docs.limit(10)).isEmpty)
    // ingest once, snapshot the folded state
    docs.limit(300).write.mode("overwrite").parquet(in)
    Ingest.streamDupSpanMaintain(spark, in, state)
    def dupSet = Ingest.dupHashView(spark.read.parquet(state))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = dupSet
    // simulate the at-least-once replay window: the sink committed but
    // the checkpoint didn't — a restart reprocesses the SAME batch.
    // With seg=<batchId> overwrite sinks this must be a no-op; an
    // append sink would double every count and mark the whole batch
    // as duplicated (every window hash reaches c >= 2).
    val ckpt = new java.io.File(state + "-ckpt")
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(deleteRec); f.delete()
    }
    deleteRec(ckpt)
    Ingest.streamDupSpanMaintain(spark, in, state)
    assert(dupSet === want, "a replayed micro-batch must not change the state")
    // mixed bucket moduli are refused loudly, not silently mismatched
    docs.limit(100).write.mode("overwrite").parquet(base.toString + "/in2")
    Ingest.streamLshIngest(spark, base.toString + "/in2", lshIdx, buckets = 8)
    intercept[java.io.IOException] {
      Ingest.streamLshIngest(spark, base.toString + "/in2", lshIdx, buckets = 16)
    }
    // mixed BANDING params are part of the index identity too
    intercept[java.io.IOException] {
      Ingest.streamLshIngest(spark, base.toString + "/in2", lshIdx, buckets = 8,
        numHashes = 32, bandSize = 2)
    }
    // the probe reads modulus + banding from the index's markers (there
    // is no caller-supplied value to get wrong), and still works
    val probed = Ingest.lshProbe(spark, lshIdx, docs.limit(100))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed.nonEmpty)
  }

  test("marker-ordering crash window: segments without markers are refused loudly") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-markerless")
    val in = base.toString + "/in"
    val lshIdx = base.toString + "/lsh"
    docs.limit(100).write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, lshIdx, buckets = 8)
    val fs = new Path(lshIdx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // markers are written BEFORE the stream starts, so segments imply
    // markers; simulate the old crash window (or a foreign pile) by
    // deleting them
    assert(fs.delete(new Path(lshIdx + "/_buckets"), false))
    // a re-ingest with a DIFFERENT modulus must refuse — defaulting to
    // the caller's value would silently mix moduli in one pile (the
    // r12 VERDICT #2 failure). Same for the probe.
    val e1 = intercept[java.io.IOException] {
      Ingest.streamLshIngest(spark, in, lshIdx, buckets = 16)
    }
    assert(e1.getMessage.contains("no _buckets marker"))
    intercept[java.io.IOException] { Ingest.lshProbe(spark, lshIdx, docs.limit(10)) }
    // even a SAME-modulus ingest refuses: with the marker gone there is
    // nothing to verify the caller's value against
    intercept[java.io.IOException] {
      Ingest.streamLshIngest(spark, in, lshIdx, buckets = 8)
    }
    // operator restores the marker by hand (the prescribed recovery);
    // now the banding marker is the remaining gap
    def restore(name: String, content: String): Unit = {
      val o = fs.create(new Path(lshIdx + "/" + name), true)
      o.write(content.getBytes("UTF-8")); o.close()
    }
    restore("_buckets", "8")
    assert(fs.delete(new Path(lshIdx + "/_banding"), false))
    val e2 = intercept[java.io.IOException] {
      Ingest.streamLshIngest(spark, in, lshIdx, buckets = 8, numHashes = 32, bandSize = 2)
    }
    assert(e2.getMessage.contains("no _banding marker"))
    intercept[java.io.IOException] { Ingest.lshProbe(spark, lshIdx, docs.limit(10)) }
    // a marker-only pile (crash after marker write, before any segment
    // commit) is an EMPTY index, not an error
    val fresh = base.toString + "/fresh"
    val ffs = new Path(fresh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    ffs.mkdirs(new Path(fresh))
    val out = ffs.create(new Path(fresh + "/_buckets"), true)
    out.write("8".getBytes("UTF-8")); out.close()
    assert(Ingest.lshProbe(spark, fresh, docs.limit(10)).isEmpty)
  }

  test("dupSpanProbe exact-confirm rejects a planted hash collision") {
    // r12 VERDICT ask #1: at ~1e14 windows, 64-bit birthday collisions
    // fabricate dup spans under a hash-only probe. Real xxhash64
    // collisions aren't brute-forceable in a test, so the hashOf seam
    // substitutes a TRUNCATED hash (mod 64) — collisions become
    // constructible while the probe code path is byte-identical.
    val trunc: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => pmod(xxhash64(c), lit(64))
    // brute-force two DISTINCT 50-char texts with equal truncated hash
    // (256 candidates into 64 buckets: a collision is guaranteed)
    import spark.implicits._
    val cands = (0 until 256).map(i => f"collision candidate number $i%03d " + "x" * 19)
    cands.foreach(c => assert(c.length == 50))
    val hashed = cands.toDF("g")
      .select(col("g"), trunc(col("g")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (w1, w2) = hashed.groupBy(_._2).values.find(_.size >= 2)
      .map(g => (g(0)._1, g(1)._1))
      .getOrElse(fail("no truncated-hash collision among 256 candidates"))
    assert(w1 != w2)
    val base = Files.createTempDirectory("graft-collision")
    val in = base.toString + "/in"
    val state = base.toString + "/state"
    import spark.implicits._
    // Ingested corpus: docs 1 and 3 share text w1 (a TRUE duplicate);
    // doc 2 holds w2 — same truncated hash as w1, DIFFERENT text (the
    // planted collision). Hash-level count for the collided key is 3.
    Seq((1L, w1), (2L, w2), (3L, w1)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    Ingest.streamDupSpanMaintain(spark, in, state, hashOf = trunc)
    val hashCounts = spark.read.parquet(state)
      .groupBy(col("hk")).agg(sum(col("c")).as("c"))
      .filter(col("c") >= 3).count()
    assert(hashCounts >= 1, "fixture must actually collide at the hash level")
    // the pre-fix hash-only probe would fabricate a full-doc dup span
    // for doc 2; the exact-confirm join must reject it (w2 occurs once)
    val fabricated = Ingest.dupSpanProbe(spark, state,
      Seq((2L, w2)).toDF("doc_id", "text"), hashOf = trunc)
    assert(fabricated.isEmpty,
      "exact-confirm must reject a hash collision: w2 occurs exactly once")
    // true positives still pass: doc 3's window IS a real duplicate
    val dup = Ingest.dupSpanProbe(spark, state,
      Seq((3L, w1)).toDF("doc_id", "text"), hashOf = trunc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(dup.toSeq === Seq((3L, 1L, 50L, 50L)),
      s"a real duplicate window must still produce its span, got ${dup.toSeq}")
  }

  test("compaction refuses to fold inside the at-least-once replay window") {
    // ADVICE r12 #1: sink-committed seg=N + lost checkpoint commit,
    // then compaction, then restart ⇒ the replayed batch N double-
    // counts (the fold already absorbed it into seg=-1). The guard
    // requires the checkpoint's commit log to cover every live segment.
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-replay-guard")
    val in = base.toString + "/in"
    val state = base.toString + "/span"
    docs.limit(200).write.mode("overwrite").parquet(in)
    Ingest.streamDupSpanMaintain(spark, in, state)
    def dupSet = Ingest.dupHashView(spark.read.parquet(state))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = dupSet
    // simulate the lost checkpoint commit: seg=0 is durable but the
    // commit log no longer covers it
    val commit0 = new Path(state + "-ckpt/commits/0")
    val fs = commit0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(commit0))
    assert(fs.delete(commit0, false))
    val e = intercept[java.io.IOException] { Ingest.compactDupSpanState(spark, state) }
    assert(e.getMessage.contains("not yet committed"))
    // ...and the same refusal if the whole checkpoint is missing
    // (replay horizon unknowable). Restore by re-running the stream:
    // the replayed batch overwrites seg=0 idempotently and re-commits.
    Ingest.streamDupSpanMaintain(spark, in, state)
    assert(dupSet === want)
    Ingest.compactDupSpanState(spark, state) // now allowed
    assert(dupSet === want, "post-replay compaction must preserve the state")
  }

  test("compaction crash recovery preserves the identity markers (promoted-tmp path)") {
    // ADVICE r12 #2: the tmp generation must carry _buckets/_banding so
    // recoverCompaction's promoted-tmp path (and a crash between the
    // two renames) can never strand a marker-less pile.
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-marker-recovery")
    val in = base.toString + "/in"
    val lsh = base.toString + "/lsh"
    val post = base.toString + "/post"
    docs.limit(200).write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, lsh, buckets = 8)
    Ingest.streamPostingsIngest(spark, in, post, buckets = 8)
    val fs = new Path(lsh).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LSH: compact (markers must ride into the generation), then
    // reconstruct the between-renames crash state (live gone, folded
    // generation at .compact-tmp) and recover
    Ingest.compactLshIndex(spark, lsh)
    assert(fs.rename(new Path(lsh), new Path(lsh + ".compact-tmp")))
    assert(Ingest.recoverCompaction(spark, lsh) === "promoted-tmp")
    assert(fs.exists(new Path(lsh + "/_buckets")),
      "_buckets must survive promoted-tmp recovery")
    assert(fs.exists(new Path(lsh + "/_banding")),
      "_banding must survive promoted-tmp recovery")
    // the recovered pile is fully usable: probe works without markers
    // being restored by hand
    assert(Ingest.lshProbe(spark, lsh, docs.limit(50)).columns
      .sameElements(Array("new_doc", "old_doc")))
    // postings: same contract
    Ingest.compactPostings(spark, post)
    assert(fs.rename(new Path(post), new Path(post + ".compact-tmp")))
    assert(Ingest.recoverCompaction(spark, post) === "promoted-tmp")
    assert(fs.exists(new Path(post + "/_buckets")),
      "_buckets must survive promoted-tmp recovery (postings)")
  }

  test("crawl capstone: planted fixture hits every gate with first-failure attribution") {
    import graft.streaming.CrawlPipeline
    import spark.implicits._
    // corpus: a benchmark doc (1000), a base doc (10), a span-source
    // doc (20). Batch: one planted failure per gate + an accepted doc +
    // an identical pair exercising keep-first.
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val t10 = words("base", 60)
    val runR = "zebra quokka walrus mongoose ferret badger otter weasel stoat"
    assert(runR.length >= 50, s"planted run must exceed the window width: ${runR.length}")
    val t20 = words("src", 20) + " " + runR + " " + words("srctail", 20)
    val corpus = Seq(
      (10L, t10), (20L, t20), (30L, "tiny pair"), (1000L, benchText))
    val batch = Seq(
      // fails decontamination (8 consecutive bench words) AND gopher —
      // attribution must pick the FIRST gate
      (101L, "alpha beta gamma delta epsilon zeta eta theta " + words("c", 20)),
      // near-dup of corpus doc 10 (one word changed, J ≈ 0.9); its dup
      // spans are also over threshold — near_dup attributes first
      (102L, t10.replace("base30", "changed")),
      // heavy dup spans (the 61-char run from doc 20) but low Jaccard;
      // total length keeps dup fraction > 20%
      (103L, words("u", 20) + " " + runR),
      // gopher-fail only (too short, nothing duplicated)
      (104L, "the of tiny document"),
      // clean: passes every gate
      (105L, words("clean", 60)),
      // identical pair: keep-first spares 106 from the near-dup gate
      // (its only partner arrived LATER), but ExactSubstr semantics
      // still mark BOTH copies' duplicated spans (Lee et al. remove
      // the span text from every copy) — so 106 falls to dup_span
      (106L, words("twin", 60)),
      (107L, words("twin", 60)),
      // EMPTY text: zero windows, zero length — dup_span_ppm must be 0
      // by definition, not an ANSI 0-div-0 crash (r13 review finding)
      (108L, ""),
      // identical 2-token pair (one copy in corpus as doc 30): the
      // near-dup gate is DEFINED over >= 3-token docs (no 3-gram bands
      // exist below that), so 109 falls through to gopher — the same
      // verdict the oracle's >= 3-token-restricted sh CTE produces
      (109L, "tiny pair"))
    val base = Files.createTempDirectory("graft-capstone")
    val in = base.toString + "/in"
    val lsh = base.toString + "/lsh"
    val span = base.toString + "/span"
    val shp = base.toString + "/shingles"
    def tick(): Unit = {
      Ingest.streamLshIngest(spark, in, lsh, numHashes = 32, bandSize = 2)
      Ingest.streamDupSpanMaintain(spark, in, span)
      Ingest.streamShingleIngest(spark, in, shp)
    }
    corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    tick()
    batch.toDF("doc_id", "text").write.mode("append").parquet(in)
    tick()
    val corpusIds = corpus.map(_._1)
    val out = CrawlPipeline.crawlGate(spark,
      batchDocs = batch.toDF("doc_id", "text"),
      benchDocs = Seq((1000L, benchText)).toDF("doc_id", "text"),
      lshIndexPath = lsh, spanStatePath = span, shinglePilePath = shp,
      arrivedEarlier = (n, o) => o.isin(corpusIds: _*) || o < n)
    val got = out.select(col("doc_id"), col("rejected_by"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.unpersist(blocking = true)
    assert(got === Map(
      101L -> "decontamination", 102L -> "near_dup", 103L -> "dup_span",
      104L -> "gopher", 105L -> "accepted",
      106L -> "dup_span", 107L -> "near_dup",
      108L -> "gopher", 109L -> "gopher"),
      s"per-gate attribution mismatch: $got")
  }

  test("crawl gate precedence: tick-order rejects where id-order keeps (q260 semantics)") {
    // q260's distinguishing case: a tick-2 document whose near-dup
    // partner arrived in tick 1 with a LARGER id. Id-order precedence
    // (q258's single-tick rule) keeps the tick-2 doc — the partner
    // neither is corpus nor has a smaller id; tick-order precedence
    // (q260) rejects it — the partner's whole tick precedes. Text is
    // kept under 50 chars so the dup_span gate has no windows and the
    // near_dup flag isolates the branch under test.
    import spark.implicits._
    val base = Files.createTempDirectory("graft-tick-precedence")
    val in = base.toString + "/in"
    val lsh = base.toString + "/lsh"
    val span = base.toString + "/span"
    val shp = base.toString + "/shingles"
    val text = (1 to 10).map(i => s"tk$i").mkString(" ") // 40 chars, 10 tokens
    def tick(): Unit = {
      Ingest.streamLshIngest(spark, in, lsh, numHashes = 32, bandSize = 2)
      Ingest.streamDupSpanMaintain(spark, in, span)
      Ingest.streamShingleIngest(spark, in, shp)
    }
    Seq((18L, text)).toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    tick() // tick 1 ingests doc 18
    Seq((9L, text)).toDF("doc_id", "text").write.mode("append").parquet(in)
    tick() // tick 2 ingests doc 9
    val batchB = Seq((9L, text)).toDF("doc_id", "text")
    def nearDup(earlier: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Long = {
      val out = graft.streaming.CrawlPipeline.crawlGate(spark, batchB,
        benchDocs = Seq.empty[(Long, String)].toDF("doc_id", "text"),
        lshIndexPath = lsh, spanStatePath = span, shinglePilePath = shp,
        arrivedEarlier = earlier)
      val flag = out.select(col("near_dup")).head.getLong(0)
      out.unpersist(blocking = true)
      flag
    }
    assert(nearDup((n, o) => pmod(o, lit(10)) < 8 || o < n) === 0L,
      "id-order precedence must KEEP doc 9 (partner 18 is later by id)")
    assert(nearDup((n, o) => pmod(o, lit(10)) <= 8 || o < n) === 1L,
      "tick-order precedence must REJECT doc 9 (partner's tick precedes)")
  }

  test("lshProbe raises on an over-cap bucket instead of silently under-matching") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-degenerate")
    val in = base.toString + "/in"
    val idx = base.toString + "/lsh"
    // identical >= 3-token docs: every (band, bucket) group they band
    // into holds all of them
    val text = (1 to 20).map(i => s"boiler$i").mkString(" ")
    val cap = Ingest.LshMaxBucket
    (1 to cap).map(i => (i.toLong, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, idx)
    val probe = Seq((100000L, text)).toDF("doc_id", "text")
    // a bucket AT the cap: every pair comes through
    val atCap = Ingest.lshProbe(spark, idx, probe)
    assert(atCap.count() === cap)
    // one more member puts it over: the probe refuses loudly
    Seq((cap + 1L, text)).toDF("doc_id", "text").write.mode("append").parquet(in)
    Ingest.streamLshIngest(spark, in, idx)
    val e = intercept[java.io.IOException] { Ingest.lshProbe(spark, idx, probe) }
    assert(e.getMessage.contains("exceed maxBucket"))
  }

  test("crawl gate over three-tick planted piles rejects a tick-2 dup of earlier ticks") {
    // q260 at test scale: a three-micro-batch pile history (corpus →
    // tick-1 → tick-2, folds included), gated with tick-order
    // precedence. Pins the planted verdicts: tick-2 doc 9's
    // identical-text partners arrived in earlier ticks → near_dup.
    import spark.implicits._
    val base = Files.createTempDirectory("graft-tick2")
    val textDup = (1 to 60).map(i => s"stable$i").mkString(" ")
    val textUniq = (1 to 60).map(i => s"alone$i").mkString(" ")
    val corpus = Seq((10L, textDup))
    val tick1 = Seq((18L, textDup))
    val tick2 = Seq((9L, textDup), (29L, textUniq))
    val in = s"$base/in"
    val lsh = s"$base/lsh"; val span = s"$base/span"; val shp = s"$base/sh"
    for (t <- Seq(corpus, tick1, tick2)) {
      t.toDF("doc_id", "text").write.mode("append").parquet(in)
      Ingest.streamLshIngest(spark, in, lsh, numHashes = 32, bandSize = 2)
      Ingest.streamDupSpanMaintain(spark, in, span)
      Ingest.streamShingleIngest(spark, in, shp)
    }
    Ingest.compactLshIndex(spark, lsh)
    Ingest.compactDupSpanState(spark, span)
    Ingest.compactShinglePile(spark, shp)
    // tick-order keep-first: every partner outside tick 2 precedes;
    // within tick 2, smaller id wins
    val out = graft.streaming.CrawlPipeline.crawlGate(spark,
      tick2.toDF("doc_id", "text"),
      benchDocs = Seq.empty[(Long, String)].toDF("doc_id", "text"),
      lshIndexPath = lsh, spanStatePath = span, shinglePilePath = shp,
      arrivedEarlier = (n, o) => !o.isin(9L, 29L) || o < n)
    val t = out.orderBy("doc_id").collect().toSeq
    out.unpersist(blocking = true)
    val doc9 = t.find(_.getLong(0) == 9L).get
    assert(doc9.getAs[String]("rejected_by") === "near_dup",
      "tick-2 dup of earlier-tick docs must reject under tick-order precedence")
    assert(t.find(_.getLong(0) == 29L).get.getAs[Long]("near_dup") === 0L)
  }

  test("pilesFor cache cannot serve stale piles after the input is regenerated in-JVM") {
    // r15 VERDICT ask #4: the per-JVM pile cache was keyed on the
    // sfDir STRING — a dataset regenerated at the same path mid-JVM
    // (e.g. a ScaleUp re-run onto its previous /tmp target) would
    // silently serve piles built from the old bytes. The key now
    // carries the source table's file signature, so every end-to-end
    // re-run below must answer from the REGENERATED table, not v1's.
    // One case per pile builder over the shared cache: the crawl
    // capstone (q258, documents), the agg-MV probe (q265, events) and
    // the IVF pipeline (q262, embeddings).
    import spark.implicits._
    val d = Files.createTempDirectory("graft-regen-input").toString
    def words(w: String) = (1 to 60).map(i => s"$w$i").mkString(" ")
    // the batch repeats the corpus text in v1 only, so near_dup of the
    // first batch doc depends on which corpus the piles hold
    def genDocs(corpusWord: String, batchIds: Seq[Long]): Unit =
      ((1L to 5L).map(i => (i * 10, s"corpus $i ${words(corpusWord)}")) ++
        batchIds.map(i => (i, s"batch $i ${words("stable")}")))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
    def genEvents(kinds: Seq[String]): Unit =
      kinds.zipWithIndex.map { case (k, i) =>
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), i.toLong % 2, k, 1.5)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    // queries 0..4 each get a near twin `twin + i`: the probe must
    // return the CURRENT table's twins
    def genEmbeddings(twin: Long): Unit =
      (0L until 5L).flatMap { i =>
        val v = Array(i + 1f, (i * 3 % 5) + 1f, (i * 7 % 5) + 1f, 1f)
        Seq((i, v), (twin + i, v.updated(0, v(0) + 0.01f)))
      }.toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    def values(c: org.apache.spark.sql.Column)(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(c.cast("string")).as[String].collect().toSet
    // (query, its answer's values, generate version v, values at v)
    val cases = Seq[(QueryDef, org.apache.spark.sql.DataFrame => Set[String],
        Int => Unit, Int => Set[String])](
      (graft.streaming.CrawlPipeline.q258CrawlCapstone,
        values(concat_ws(":", col("doc_id"), col("near_dup"))),
        v => if (v == 1) genDocs("stable", Seq(8L, 18L))
          else genDocs("other", Seq(9L, 28L, 38L)),
        v => if (v == 1) Set("8:1", "18:1") else Set("9:0", "28:1", "38:1")),
      (graft.streaming.PileProbes.q265AggMvStream, values(col("event_type")),
        v => genEvents(if (v == 1) Seq("click", "click") else Seq("view", "buy", "view")),
        v => if (v == 1) Set("click") else Set("view", "buy")),
      // every neighbour outside the queries is a twin, and each query
      // finds its own
      (graft.streaming.IvfPipeline.q262AnnIvfStream,
        df => values(col("vec_id"))(df.filter(col("vec_id") >= 5)),
        v => genEmbeddings(if (v == 1) 5L else 100L),
        v => (0L until 5L).map(i => (i + (if (v == 1) 5L else 100L)).toString).toSet))
    for ((q, answer, gen, want) <- cases) {
      def run(): Set[String] = {
        val got = answer(q.fn(spark, d))
        CacheHygiene.sweep(spark, q.name)
        got
      }
      gen(1)
      assert(run() === want(1), s"${q.name} v1")
      gen(2) // regenerate IN-JVM at the same path
      assert(run() === want(2),
        s"${q.name}: the answer must come from the regenerated table — " +
          "v1 values mean a stale pile was read")
    }
  }

  test("lshProbe refuses a touched over-cap bucket even when no probe row matches it") {
    // ADVICE r15 #1: the fused guard poisons old_ids with raise_error
    // inside a Project below the build-side exchange, so every TOUCHED
    // (band, bbucket) partition's groups are materialized whether or
    // not the join finds a matching bucket value. That is a plan-shape
    // property (an optimizer change pruning unmatched build rows below
    // the Project would let an over-cap bucket pass silently) — this
    // pins it: the index holds an over-cap group whose bucket value the
    // probe can never match (disjoint vocabulary), in a partition the
    // probe DOES touch (buckets = 1 → every bbucket is 0, and the probe
    // emits a row for every band), and the refusal must still fire.
    import spark.implicits._
    val base = Files.createTempDirectory("graft-degenerate-untouched")
    val in = base.toString + "/in"
    val idx = base.toString + "/lsh"
    val textA = (1 to 20).map(i => s"boiler$i").mkString(" ")
    (1 to Ingest.LshMaxBucket + 1).map(i => (i.toLong, textA)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, idx, buckets = 1)
    // disjoint vocabulary → disjoint shingles → no shared MinHash band
    // signature, so the probe's bucket values miss the over-cap group
    val textB = (1 to 20).map(i => s"fresh$i").mkString(" ")
    val probe = Seq((100000L, textB)).toDF("doc_id", "text")
    val e = intercept[java.io.IOException] { Ingest.lshProbe(spark, idx, probe) }
    assert(e.getMessage.contains("exceed maxBucket"))
  }

  test("a corrupt (truncated) identity marker is a loud prescriptive refusal, not a parse error") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = Files.createTempDirectory("graft-corrupt-marker")
    val in = base.toString + "/in"
    val idx = base.toString + "/lsh"
    val text = (1 to 20).map(i => s"word$i").mkString(" ")
    Seq((1L, text)).toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    Ingest.streamLshIngest(spark, in, idx)
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate the torn-write crash state: a 0-byte _buckets marker
    val out = fs.create(new Path(idx + "/_buckets"), true); out.close()
    val e = intercept[java.io.IOException] {
      Ingest.lshProbe(spark, idx, Seq((9L, text)).toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("corrupt _buckets marker"))
    // markers are immutable once present: a re-ingest must NOT "heal"
    // (truncate-and-rewrite) a corrupt marker silently — same refusal
    intercept[java.io.IOException] { Ingest.streamLshIngest(spark, in, idx) }
  }

  test("crawl capstone: LSH-probe near-dup gate equals the exact Jaccard gate on the fixture") {
    // The q258 oracle recomputes the near-dup gate as ALL-pairs exact
    // Jaccard >= 0.5; the capstone computes it as incremental-LSH
    // candidates + exact confirm. This contract pins their equivalence
    // at HEAD on the real documents fixture (the (32,2) banding's
    // per-pair miss probability at the fixture's J >= 0.8 planted dups
    // is 8.4e-8; a banding/param regression would break this loudly).
    import graft.streaming.CrawlPipeline
    import graft.operators.TextPipeline
    val out = CrawlPipeline.q258CrawlCapstone.fn(spark, sf)
    val got = out.filter(col("near_dup") === 1L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    CacheHygiene.sweep(spark, "q258_crawl_capstone")
    val sh = Tables.documents(spark, sf).select(col("doc_id"),
      array_distinct(TextPipeline.shingles(TextPipeline.tokens, 3)).as("sh"))
    val a = sh.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id").as("ida"), col("sh").as("sha"))
    val b = sh.select(col("doc_id").as("idb"), col("sh").as("shb"))
    val exactJ = a.join(b, col("ida") =!= col("idb"))
      .filter(col("idb") % 10 < 8 || col("idb") < col("ida"))
      .withColumn("ni", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("j", col("ni").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("ni")))
      .filter(col("j") >= CrawlPipeline.JaccardThreshold)
      .select(col("ida"), col("j")).persist()
    val exact = exactJ.select(col("ida")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(got === exact && got.nonEmpty,
      s"LSH+confirm gate must equal the exact gate (got ${got.size}, exact ${exact.size})")
    // ADVICE r13 #4: the equivalence above is contingent on the
    // fixture's J distribution staying BIMODAL — a confirmed pair at
    // J ≈ 0.5–0.75 can deterministically miss all 16 (32,2) bands
    // (miss prob up to ~1% at J = 0.75, ~11% at J = 0.6), so a
    // data-generator drift into that band could fail the capstone's
    // oracle (or mask real under-matching) with no code regression.
    // Pin the attribution: every gate-relevant pair must sit at
    // J >= 0.75, where the per-pair miss probability is < 1e-2 and the
    // fixture's actual dups (J >= 0.8) are at < 1e-7.
    val inMissBand = exactJ.filter(col("j") < 0.75).count()
    exactJ.unpersist(blocking = true)
    assert(inMissBand === 0L,
      s"fixture drift: $inMissBand confirmed pair(s) in the LSH miss band " +
        "J ∈ [0.5, 0.75) — regenerate the fixture or re-parameterize the " +
        "banding; this is a DATA change, not a gate regression")
  }

  test("marker write race: a lost rename against a DIFFERENT identity refuses loudly") {
    // ADVICE r13 #2: two concurrent FIRST ingests with different
    // moduli both pass requireConsistent* (no marker exists yet); the
    // loser of the marker race must not continue ingesting with its own
    // modulus. Simulate the loser's view: the winner's marker appears
    // between the caller's consistency check and the write.
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft-marker-race")
    val pile = base.toString + "/lsh"
    val fs = new Path(pile).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(pile))
    val marker = new Path(pile + "/_buckets")
    // winner wrote 16; the loser intended 8 — must refuse
    Ingest.writeMarker(spark, marker, "16")
    val e = intercept[java.io.IOException] {
      Ingest.writeMarker(spark, marker, "8")
    }
    assert(e.getMessage.contains("marker race"))
    // a same-value lost race stays legal (idempotent first ingest)
    Ingest.writeMarker(spark, marker, "16")
  }

  test("shingle pile: incremental maintenance, point-read fetch, pruning, and compaction") {
    import graft.operators.TextPipeline
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-shingles")
    val in = base.toString + "/in"
    val pile = base.toString + "/sh"
    docs.filter(col("doc_id") % 3 === 0).write.mode("overwrite").parquet(in)
    Ingest.streamShingleIngest(spark, in, pile)
    val files1 = parquetFiles(pile)
    assert(files1.nonEmpty)
    docs.filter(col("doc_id") % 3 === 1).write.mode("append").parquet(in)
    Ingest.streamShingleIngest(spark, in, pile)
    assert(files1.subsetOf(parquetFiles(pile)),
      "incremental ingest must not rewrite existing segments")
    // fetch equals the direct computation for a bounded partner set
    val ids = docs.limit(40).select(col("doc_id").as("old_doc"))
    def key(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).sorted).toMap
    def direct(ingested: org.apache.spark.sql.Column) =
      key(docs.filter(ingested && size(TextPipeline.tokens) >= 3)
        .join(ids, col("doc_id") === col("old_doc"), "left_semi")
        .select(col("doc_id"),
          array_distinct(TextPipeline.shingles(TextPipeline.tokens, 3)).as("sh")))
    val twoTicks = direct(col("doc_id") % 3 < 2)
    val got = key(Ingest.shingleFetch(spark, pile, ids))
    assert(got === twoTicks && got.nonEmpty,
      s"pile fetch must equal the direct shingle computation (${got.size} vs ${twoTicks.size})")
    // the fetch partition-prunes on dbucket (the point-read posture)
    val plan = spark.read.parquet(pile).filter(col("dbucket") === 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dbucket"),
      s"shingle fetch must partition-prune on dbucket:\n$plan")
    // compaction is read-identical and shrinks the pile
    val filesBefore = spark.read.parquet(pile).inputFiles.length
    Ingest.compactShinglePile(spark, pile)
    assert(key(Ingest.shingleFetch(spark, pile, ids)) === twoTicks,
      "compaction must not change fetch results")
    assert(spark.read.parquet(pile).inputFiles.length < filesBefore,
      "compaction must shrink the segment pile")
    // a third tick and a second compaction bring seg=-1 back at the
    // same path: the same fetch, the earlier result still persisted,
    // must see the new documents
    docs.filter(col("doc_id") % 3 === 2).write.mode("append").parquet(in)
    Ingest.streamShingleIngest(spark, in, pile)
    Ingest.compactShinglePile(spark, pile)
    val all = direct(lit(true))
    assert(all.size > twoTicks.size, "the third tick must add partners")
    assert(key(Ingest.shingleFetch(spark, pile, ids)) === all,
      "a fetch after the pile changed must not be served an earlier fetch")
    // a data-less pile with a nonempty id set refuses loudly — the
    // empty fetch would silently drop every near-dup confirm
    val e = intercept[java.io.IOException] {
      Ingest.shingleFetch(spark, base.toString + "/nope", ids)
    }
    assert(e.getMessage.contains("maintain the pile in tandem"))
    // ...but an empty id set against a missing pile is a no-op
    assert(Ingest.shingleFetch(spark, base.toString + "/nope",
      ids.filter(col("old_doc") < 0)).isEmpty)
  }

  test("segment-count policy triggers background compaction from ingest alone") {
    // r12 VERDICT ask #5: the piles compact themselves when the
    // maintenance tick sees the segment count cross the threshold —
    // no manual compactor invocation anywhere in this test.
    import graft.operators.TextPipeline
    val docs = Tables.documents(spark, sf)
    val base = Files.createTempDirectory("graft-autocompact")
    val in = base.toString + "/in"
    val state = base.toString + "/span"
    // policy unit contract
    assert(!Ingest.SegmentCompactionPolicy.shouldCompact(1, 2))
    assert(Ingest.SegmentCompactionPolicy.shouldCompact(2, 2))
    assert(Ingest.SegmentCompactionPolicy.shouldCompact(5, 2))
    assert(!Ingest.SegmentCompactionPolicy.shouldCompact(100, 0),
      "maxSegments <= 0 disables the trigger")
    def segDirs(): Set[String] = {
      val d = new java.io.File(state)
      if (!d.exists) Set.empty
      else d.listFiles.map(_.getName).filter(_.startsWith("seg=")).toSet
    }
    // three batches with threshold 2: batch 1 leaves seg=0; batch 2
    // crosses the threshold and folds into seg=-1; batch 3 appends
    // seg=2 next to the compacted generation
    for (i <- 0 until 3) {
      docs.filter(col("doc_id") % 3 === i).write.mode("append").parquet(in)
      Ingest.streamDupSpanMaintain(spark, in, state, autoCompactSegments = 2)
    }
    val dirs = segDirs()
    assert(dirs.contains("seg=-1"),
      s"ingest alone must have driven the pile through a compaction: $dirs")
    assert(!dirs.contains("seg=0") && !dirs.contains("seg=1"),
      s"folded segments must be gone from the pile: $dirs")
    // reads unchanged vs the from-scratch computation
    val folded = Ingest.dupHashView(spark.read.parquet(state))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val direct = TextPipeline.dupSpanPartial(docs).filter(col("c") >= 2)
      .select(col("hk"), col("g"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(folded === direct && folded.nonEmpty,
      "auto-compacted state must equal the from-scratch dup-window set")
  }
}
