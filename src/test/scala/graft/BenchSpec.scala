package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** The Bench metric line: one `{"metric":"total",...}` object whose
  * total is the sum of the passing queries, a failed query null in
  * `queries` and listed in `failed`. */
class BenchSpec extends SparkTestBase {

  test("Bench.run emits the total line; a failing query is null and listed") {
    // not a SparkEntry query: its lookup throws inside the timed region
    val broken = "q_no_such_query"
    val names = Seq("q1_agg", "q111_tpch_q6", broken)
    val (line, allOk) = Bench.run(spark, sf01, Some(names))
    assert(!allOk)
    val js = new ObjectMapper().readTree(line)
    assert(js.get("metric").asText === "total")
    assert(js.get("unit").asText === "sec")
    assert(js.get("sf").asText === sf01)
    assert(js.get("subset").asBoolean)
    assert(js.get("nQueries").asInt === names.size)
    val qs = js.get("queries")
    assert(qs.fieldNames.asScala.toSeq === names)
    assert(qs.get(broken).isNull)
    val passed = Seq("q1_agg", "q111_tpch_q6").map(qs.get)
    passed.foreach(v => assert(v.isNumber && v.asDouble >= 0.0))
    assert(math.abs(js.get("value").asDouble - passed.map(_.asDouble).sum) < 5e-4)
    assert(js.get("failed").elements.asScala.map(_.asText).toSeq === Seq(broken))
    // exactly the contract keys: no load-probe, retry or maintenance blocks
    assert(js.fieldNames.asScala.toSet === Set("metric", "value", "unit", "subset",
      "nQueries", "queries", "failed", "sf"), line)
  }
}
