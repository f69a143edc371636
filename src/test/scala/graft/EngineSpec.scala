package graft

/** The switch-over story: SQL against the attached catalog with the
  * custom functions available, no DataFrame code needed. */
class EngineSpec extends SparkTestBase {

  test("attached session answers SQL over catalog views + custom functions") {
    Engine.attach(spark, sf)
    val r = spark.sql(
      """SELECT count(*) AS n,
        |  round(avg(vec_l2_norm(embedding)), 3) AS avg_norm
        |FROM embeddings""".stripMargin).first()
    assert(r.getLong(0) === 500L)
    assert(r.getDouble(1) > 0.0)

    val joined = spark.sql(
      """SELECT n_name, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    assert(joined.count() === 25)
  }

  test("one function table: the extension injects it and attach installs it") {
    import org.apache.spark.sql.SparkSessionExtensions
    val names = GraftExtensions.functions.map(_._1.funcName)
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = injected += f._1.funcName
    })
    assert(injected.toSeq === names, "the extension injects exactly the table")
    assert(names.distinct === names)
    // a session that lacks them gets every one from attach, each
    // described by its own expression class
    val bare = spark.newSession()
    GraftExtensions.functions.foreach { case (id, _, _) =>
      bare.sessionState.functionRegistry.dropFunction(id)
    }
    assert(names.filter(bare.catalog.functionExists) === Nil)
    Engine.attach(bare, sf)
    GraftExtensions.functions.foreach { case (id, info, _) =>
      val described = bare.sql(s"DESCRIBE FUNCTION ${id.funcName}")
        .collect().map(_.getString(0)).toSeq
      assert(described.contains(s"Class: ${info.getClassName}"), described)
    }
    assert(bare.sql("SELECT nfc_normalize('Cafe\u0301')").head().getString(0) === "Café")
  }

  test("every query Plans dumps beside the headliners is a query") {
    val names = SparkEntry.defs.map(_.name).toSet
    assert(Plans.extra.filterNot(names) === Set.empty[String])
  }

  test("execution summaries analog: observed metrics report per-stage counts") {
    // ≙ the reference streaming per-executor execution summaries back
    // to TiDB (`dbms/src/Flash/Statistics/ExecutionSummaryCollector.h`)
    // — operator-level row counts collected DURING execution. Spark's
    // CollectMetrics (`df.observe`) is the native analog: accumulator-
    // backed aggregates at any plan point, zero extra passes.
    import org.apache.spark.sql.functions._
    val df = sources.Tables.lineitem(spark, sf)
      .observe("scan", count(lit(1)).as("rows_scanned"))
      .filter(col("l_quantity") > 25)
      .observe("filtered", count(lit(1)).as("rows_out"),
        sum(col("l_quantity").cast("decimal(30,2)")).cast("double").as("qty_out"))
    // collect() runs THIS dataset's execution (count() would derive a
    // new aggregated plan whose metrics land elsewhere)
    val out = df.collect().length.toLong
    val m = df.queryExecution.observedMetrics
    assert(m("scan").getAs[Long]("rows_scanned") > out,
      "scan-level summary must see pre-filter rows")
    assert(m("filtered").getAs[Long]("rows_out") === out,
      "post-filter summary must equal the query's own count")
    assert(m("filtered").getAs[Double]("qty_out") > 25.0 * out)
  }

  test("nfc_normalize composes decomposed accents (codegen + SQL registration)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextNormalize.nfc_normalize
    // decomposed e + U+0301 (2 codepoints) -> composed é (1 codepoint);
    // already-composed and ASCII inputs are fixed points; NULL propagates
    val t = Seq(Some("Café"), Some("Café"), Some("plain"), None)
      .toDF("s")
    val got = t.select(nfc_normalize($"s"), length(nfc_normalize($"s"))).collect()
    assert(got.map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq ===
      Seq("Café", "Café", "plain", null))
    assert(got.filter(!_.isNullAt(1)).map(_.getInt(1)).toSeq === Seq(4, 4, 5))
    // SQL-registered via GraftExtensions
    assert(spark.sql("SELECT nfc_normalize('Café')").head().getString(0)
      === "Café")
  }

  test("MySQL-JSON and regexp surfaces are pure-SQL callable") {
    graft.Engine.attach(spark, "/root/testdata/sf0.001")
    val j = spark.sql(
      """SELECT
        |  mysql_json_extract('{"a":{"b":[1,2]}}', '$.a.b[1]') AS ex,
        |  mysql_json_unquote(mysql_json_extract('{"k":"v"}', '$.k')) AS unq,
        |  mysql_json_keys('{"bb":1, "a":2}') AS ks,
        |  mysql_json_length('[1,2,3]') AS len,
        |  mysql_json_valid('{"x":1}') AS ok,
        |  mysql_json_contains_path('{"a":1}', 'one', '$.a') AS cp,
        |  mysql_json_array('1', '"s"') AS arr,
        |  mysql_json_object('k', '1') AS obj,
        |  mysql_cast_string_as_json(' {"z" :  1} ') AS norm
        |""".stripMargin).head()
    assert(j.getString(0) === "2")
    assert(j.getString(1) === "v")
    assert(j.getString(2) === """["a", "bb"]""") // length-then-bytes key order
    assert(j.getInt(3) === 3 && j.getInt(4) === 1 && j.getInt(5) === 1)
    assert(j.getString(6) === """[1, "s"]""")
    assert(j.getString(7) === """{"k": 1}""")
    assert(j.getString(8) === """{"z": 1}""")
    val r = spark.sql(
      """SELECT
        |  mysql_regexp_instr('aBb', 'bb', 1, 1, 0, 'i') AS pos,
        |  mysql_regexp_substr('seafood', 'foo(.?)', 1, 1, '') AS sub,
        |  mysql_regexp_replace('seafood fool', 'foo(.?)', '[\\1]', 1, 0, '') AS rep
        |""".stripMargin).head()
    assert(r.getInt(0) === 2)
    assert(r.getString(1) === "food")
    assert(r.getString(2) === "sea[d] [l]")
  }
}
