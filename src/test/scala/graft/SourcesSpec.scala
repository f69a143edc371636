package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Source-format breadth: the engine's ingest surface is not
  * parquet-only — ORC, CSV, and JSON inputs round-trip through the same
  * DataFrame pipeline with identical content (the reference ingests
  * from the row store and re-encodes into its columnar format; here
  * each format is just another DSv2 scan feeding the same operators).
  * Schema-on-read formats (CSV/JSON) get the parquet schema applied
  * explicitly, the production posture for text inputs at scale. */
class SourcesSpec extends SparkTestBase {

  private def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("doc_id"), col("lang"), col("n_chars"), md5(col("text")).as("h"))
      .collect().map(_.mkString("|")).toSet

  test("documents round-trip identically through orc, csv, and json sources") {
    val base = Files.createTempDirectory("graft-sources").toString
    val src = Tables.documents(spark, sf)
    val expected = canon(src)
    assert(expected.nonEmpty)

    src.write.mode("overwrite").orc(s"$base/docs_orc")
    assert(canon(spark.read.orc(s"$base/docs_orc")) === expected, "orc")

    // multiline text fields force proper CSV quoting/escaping
    src.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .csv(s"$base/docs_csv")
    val csv = spark.read.schema(src.schema)
      .option("header", "true").option("escape", "\"").option("multiLine", "true")
      .csv(s"$base/docs_csv")
    assert(canon(csv) === expected, "csv")

    src.write.mode("overwrite").json(s"$base/docs_json")
    val json = spark.read.schema(src.schema).json(s"$base/docs_json")
    assert(canon(json) === expected, "json")
  }

  test("a filter pushes down into the orc scan like the parquet scan") {
    val base = Files.createTempDirectory("graft-sources-orc").toString
    Tables.documents(spark, sf).write.mode("overwrite").orc(s"$base/docs_orc")
    val plan = spark.read.orc(s"$base/docs_orc")
      .filter(col("n_chars") > 500).select(col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,500)"),
      s"expected pushed filter in ORC scan:\n$plan")
  }

  test("events-schema drift canary: ts reads as a timestamp at every SF dir") {
    // The generator has shipped events.ts both as TIMESTAMP(NANOS)
    // (read as long under nanosAsLong) and TIMESTAMP(MICROS);
    // Tables.normalizeEventsTs must absorb either. If the testdata is
    // regenerated with yet another vintage, THIS test fails loudly by
    // name instead of 90+ downstream suites.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val ev = Tables.events(spark, d)
      val t = ev.schema("ts").dataType
      assert(t == org.apache.spark.sql.types.TimestampNTZType
          || t == org.apache.spark.sql.types.TimestampType,
        s"$d: events.ts normalized to $t, expected a timestamp")
      assert(ev.limit(1).count() === 1L, s"$d: 1-row events read failed")
    }
  }

  test("all-tables schema drift canary: every column the queries rely on, at every SF dir") {
    // Generalizes the events-ts canary to the whole catalog: if the
    // driver regenerates ANY table with a changed column set, this one
    // named test fails instead of dozens of downstream suites. Types
    // are pinned loosely (name presence + a 1-row read) because benign
    // width changes (int32/int64) are absorbed by Spark casts.
    val expected: Map[String, Seq[String]] = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"),
      "events" -> Seq("event_id", "user_id", "event_type", "ts", "value"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      for ((name, cols) <- expected) {
        val df = Tables.load(spark, d, name)
        val have = df.columns.toSet
        val missing = cols.filterNot(have)
        assert(missing.isEmpty, s"$d/$name: missing columns $missing (have $have)")
        assert(df.limit(1).count() === 1L, s"$d/$name: 1-row read failed")
      }
    }
  }

  test("a corrupted single table breaks only its own view, not the other nine") {
    // Failure isolation in Relational.views: one table's schema drift /
    // corrupt file must never poison unrelated queries (in round 5 one
    // stale events cast zeroed out 25 queries that never read events).
    val base = Files.createTempDirectory("graft-corrupt").toString
    for (t <- Tables.all) {
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$base/$t.parquet"))
    }
    Files.write(java.nio.file.Paths.get(s"$base/events.parquet"),
      "this is not a parquet file".getBytes)
    try {
      // an earlier suite may have registered a healthy events view on the
      // shared session; drop it so absence after views() is observable
      spark.catalog.dropTempView("events")
      operators.Relational.views(spark, base)
      assert(spark.sql("SELECT count(*) AS n FROM region").first().getLong(0) === 5L,
        "queries on healthy tables must still run")
      assert(spark.sql(
        "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
        .first().getLong(0) > 0L)
      assert(!spark.catalog.tableExists("events"),
        "the corrupted table's view must be absent")
      intercept[Exception] { spark.sql("SELECT count(*) FROM events").collect() }
    } finally {
      // restore the healthy views for any later suite sharing the session
      operators.Relational.views(spark, sf)
    }
  }

  test("the resident catalog serves a rewritten table's new content to load and to views") {
    val base = Files.createTempDirectory("graft-rewrite").toString
    for (t <- Tables.all) {
      Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$base/$t.parquet"))
    }
    try {
      operators.Relational.views(spark, base)
      val before = Tables.load(spark, base, "region")
      assert(before.count() === 5L)
      assert(spark.sql("SELECT count(*) FROM region").first().getLong(0) === 5L)
      // rewrite region.parquet in place: fewer rows and one more column
      val staged = s"$base/region_new"
      before.filter(col("r_regionkey") < 3).withColumn("r_extra", lit(1))
        .coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, java.nio.file.Paths.get(s"$base/region.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)

      val after = Tables.load(spark, base, "region")
      assert(after.columns.contains("r_extra"), after.columns.mkString(","))
      assert(after.count() === 3L)
      operators.Relational.views(spark, base)
      assert(spark.table("region").columns.contains("r_extra"))
      assert(spark.sql("SELECT count(*) FROM region").first().getLong(0) === 3L)
    } finally {
      operators.Relational.views(spark, sf)
    }
  }

  test("views is idempotent: an unchanged table keeps its view, a dropped or replaced one returns") {
    def view(t: String): AnyRef = spark.sessionState.catalog.getRawTempView(t).orNull
    operators.Relational.views(spark, sf)
    val kept = Tables.all.map(view)
    assert(kept.forall(_ != null))
    operators.Relational.views(spark, sf)
    assert(Tables.all.map(view).zip(kept).forall { case (a, b) => a eq b },
      "a second views() over unchanged files must not re-register")

    spark.catalog.dropTempView("nation")
    spark.range(1).toDF("x").createOrReplaceTempView("region")
    operators.Relational.views(spark, sf)
    assert(spark.sql("SELECT count(*) FROM nation").first().getLong(0) > 0L)
    assert(spark.table("region").columns.contains("r_regionkey"),
      "a view replaced by someone else must be registered again")
  }

  test("every load is a fresh relation: two loads of one table share no attribute ids") {
    // Self-joins (q51 crosses embeddings with itself, q93 joins nation
    // twice) need distinct attributes on each side; the catalog keeps
    // schemas, never DataFrames.
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    for (t <- Seq("nation", "embeddings", "events")) {
      val a = Tables.load(spark, sf, t)
      val b = Tables.load(spark, sf, t)
      assert((ids(a) intersect ids(b)).isEmpty, s"$t: loads share attribute ids")
    }
  }

  test("self-joining queries q51 and q93 match their DuckDB oracles with a warm catalog") {
    val d = sf01
    val out = Files.createTempDirectory("graft-selfjoin").toString
    val names = Seq("q51_knn_bruteforce", "q93_tpch_q7")
    Tables.all.foreach(t => Tables.load(spark, d, t)) // schemas now resident
    for (q <- names)
      SparkEntry.queries(q)(spark, d).coalesce(1).write.parquet(s"$out/$q")
    val oracle = new java.util.HashMap[String, String]()
    names.foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
    Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracle))
    val log = new StringBuilder
    val rc = scala.sys.process.Process(Seq("python3", "tools/check_oracle.py", d, out))
      .!(scala.sys.process.ProcessLogger(l => log ++= l + "\n", l => log ++= l + "\n"))
    assert(rc === 0 && log.toString.contains("2 pass, 0 fail"), log.toString)
  }

  test("late materialization: a selective filter on one column skips row groups under a wide projection") {
    // ≙ the reference's late-materialization read path
    // (`/root/reference/dbms/src/Storages/DeltaMerge/LateMaterializationBlockInputStream.h:26-31`):
    // evaluate the pushed predicate against column statistics first, and
    // only materialize the remaining (wide) columns for surviving blocks.
    // Spark-native analog: parquet row-group/page-stat skipping — the
    // scan's numOutputRows is the rows actually READ, which must be far
    // below the table's row count when the filter column is clustered.
    val base = Files.createTempDirectory("graft-latemat").toString
    Tables.documents(spark, sf).orderBy(col("doc_id")).coalesce(1)
      .write.option("parquet.block.size", 16 * 1024)
      .mode("overwrite").parquet(s"$base/docs")
    val total = spark.read.parquet(s"$base/docs").count()
    val probe = spark.read.parquet(s"$base/docs")
      .filter(col("doc_id") <= 10) // all columns projected = wide materialization
    assert(probe.count() === 11L)
    probe.collect()
    val scan = probe.queryExecution.executedPlan.collectLeaves().head
    val readRows = scan.metrics("numOutputRows").value
    assert(readRows < total,
      s"row-group skipping should read < $total rows, read $readRows")
  }

  test("parquet compression codecs round-trip identically; zstd compresses text") {
    // ≙ the reference's per-column compression codecs (ClickHouse
    // heritage, CompressedStream settings): the storage codec is a
    // layout choice that must never change query results, only bytes
    // on disk. documents.text is compressible prose — zstd must beat
    // an uncompressed write by a wide margin.
    val base = Files.createTempDirectory("graft-codec").toString
    val docs = Tables.documents(spark, sf).orderBy(col("doc_id")).coalesce(1)
    def sizeOf(dir: String): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }
    val expected = docs.count()
    val sizes = Seq("uncompressed", "snappy", "zstd").map { codec =>
      val dir = s"$base/$codec"
      docs.write.option("compression", codec).mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      assert(back.count() === expected, s"$codec round-trip lost rows")
      assert(back.agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
        .crc32(col("text")))).first().getLong(0) ===
        docs.agg(org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions
          .crc32(col("text")))).first().getLong(0),
        s"$codec round-trip changed content")
      codec -> sizeOf(dir)
    }.toMap
    assert(sizes("zstd") < sizes("uncompressed") / 2,
      s"zstd should halve prose: $sizes")
    assert(sizes("snappy") < sizes("uncompressed"), s"snappy should compress: $sizes")
  }
}
