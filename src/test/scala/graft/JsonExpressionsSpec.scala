package graft

import org.apache.spark.sql.functions._
import graft.functions.JsonFunctions

/** JsonDepth semantics vs the MySQL JSON_DEPTH documentation examples
  * (the contract the reference's jsonDepth implements,
  * `/root/reference/dbms/src/Functions/FunctionsJson.cpp`). */
class JsonExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("json_depth matches MySQL documented examples") {
    val cases = Seq(
      ("{}", 1), ("[]", 1), ("\"abc\"", 1), ("true", 1), ("42", 1),
      ("[10, 20]", 2), ("[[], {}]", 2), ("{\"a\": 1}", 2),
      ("[10, {\"a\": 20}]", 3), ("{\"a\": {\"b\": [1, 2]}}", 4))
    val got = cases.toDF("js", "expected")
      .select(col("expected"), JsonFunctions.json_depth(col("js")).as("got"))
      .collect()
    got.foreach(r => assert(r.getInt(1) === r.getInt(0)))
  }

  test("json_depth: unbalanced input is NULL, null input is NULL") {
    val r = Seq(("{oops"), ("[1, 2"), ("}")).toDF("js")
      .select(JsonFunctions.json_depth(col("js"))).collect()
    assert(r.forall(_.isNullAt(0)))
    val n = Seq(Option.empty[String]).toDF("js")
      .select(JsonFunctions.json_depth(col("js"))).collect()
    assert(n.forall(_.isNullAt(0)))
  }

  test("json_depth escaped quotes and brackets inside strings don't count") {
    val r = Seq(("""{"a": "br[ack}ets \" quote"}""")).toDF("js")
      .select(JsonFunctions.json_depth(col("js"))).first()
    assert(r.getInt(0) === 2)
  }

  test("json_depth registered for SQL") {
    assert(spark.sql("SELECT json_depth('[10, {\"a\": 20}]')").first().getInt(0) === 3)
  }
}
