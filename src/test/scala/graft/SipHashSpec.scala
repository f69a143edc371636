package graft

import org.apache.spark.sql.functions._
import graft.functions.SipHash

/** Ground-truth contract for sip_hash64 (no DuckDB oracle exists for
  * it): the SipHash-2-4 implementation must reproduce the OFFICIAL
  * reference vectors from the SipHash paper's C implementation
  * (key = 00 01 02 ... 0f, messages = first n bytes of 00 01 02 ...),
  * and the Catalyst expression's codegen path must agree with both the
  * interpreted path and the raw implementation. */
class SipHashSpec extends SparkTestBase {

  private val k0 = 0x0706050403020100L // bytes 00..07 little-endian
  private val k1 = 0x0f0e0d0c0b0a0908L // bytes 08..0f little-endian

  test("SipHash-2-4 reproduces the paper's official reference vectors") {
    val expected = Seq(
      0x726fdb47dd0e0e31L, // len 0
      0x74f839c593dc67fdL, // len 1
      0x0d6c8009d9a94f5aL, // len 2
      0x85676696d7fb7e2dL) // len 3
    expected.zipWithIndex.foreach { case (want, len) =>
      val msg = Array.tabulate[Byte](len)(_.toByte)
      assert(SipHash.hash64(msg, k0, k1) === want,
        f"vector len=$len: got ${SipHash.hash64(msg, k0, k1)}%016x want $want%016x")
    }
  }

  test("sip_hash64 expression: codegen, interpreted, and SQL paths agree") {
    import spark.implicits._
    val docs = sources.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val viaColumn = docs
      .select(col("doc_id"), SipHash.sipHash64(col("text")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // raw implementation on the driver
    val direct = docs.as[(Long, String)].collect().map { case (id, t) =>
      id -> SipHash.hash64(t.getBytes("UTF-8"), 0L, 0L)
    }.toMap
    assert(viaColumn === direct && viaColumn.nonEmpty)
    // SQL registration path
    docs.createOrReplaceTempView("sip_docs")
    val viaSql = spark.sql("SELECT doc_id, sip_hash64(text) AS h FROM sip_docs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(viaSql === direct)
    // null propagates
    val n = spark.sql("SELECT sip_hash64(CAST(NULL AS STRING)) AS h").first()
    assert(n.isNullAt(0))
  }
}
