package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SipHash-2-4 ≙ the reference's registered `sipHash64`
  * (`/root/reference/dbms/src/Functions/FunctionsHashing.cpp:30`,
  * ClickHouse-heritage keyed 64-bit hash; the reference uses the
  * all-zero key). Implemented from the published SipHash specification
  * (Aumasson & Bernstein, "SipHash: a fast short-input PRF") — 2
  * compression rounds per 8-byte block, 4 finalization rounds —
  * and pinned to the paper's official reference vectors in
  * `SipHashSpec`. Not ANSI-SQL-expressible, so it carries a
  * ground-truth contract test instead of a DuckDB oracle (the q20/q53
  * rows-only convention).
  */
object SipHash {
  @inline private def rotl(x: Long, b: Int): Long = (x << b) | (x >>> (64 - b))

  /** SipHash-2-4 of `data` under key (k0, k1). */
  def hash64(data: Array[Byte], k0: Long, k1: Long): Long = {
    var v0 = 0x736f6d6570736575L ^ k0
    var v1 = 0x646f72616e646f6dL ^ k1
    var v2 = 0x6c7967656e657261L ^ k0
    var v3 = 0x7465646279746573L ^ k1

    @inline def sipRound(): Unit = {
      v0 += v1; v1 = rotl(v1, 13); v1 ^= v0; v0 = rotl(v0, 32)
      v2 += v3; v3 = rotl(v3, 16); v3 ^= v2
      v0 += v3; v3 = rotl(v3, 21); v3 ^= v0
      v2 += v1; v1 = rotl(v1, 17); v1 ^= v2; v2 = rotl(v2, 32)
    }

    val n = data.length
    val end = n - (n % 8)
    var i = 0
    while (i < end) {
      var m = 0L
      var j = 7
      while (j >= 0) { m = (m << 8) | (data(i + j) & 0xffL); j -= 1 }
      v3 ^= m
      sipRound(); sipRound()
      v0 ^= m
      i += 8
    }
    var b = (n.toLong & 0xffL) << 56
    var j = n - end - 1
    while (j >= 0) { b |= (data(end + j) & 0xffL) << (8 * j); j -= 1 }
    v3 ^= b
    sipRound(); sipRound()
    v0 ^= b
    v2 ^= 0xffL
    sipRound(); sipRound(); sipRound(); sipRound()
    v0 ^ v1 ^ v2 ^ v3
  }

  /** Column API: sip_hash64(stringCol) with the reference's zero key. */
  def sipHash64(c: Column): Column =
    ColumnBridge.column(SipHash64Expr(ColumnBridge.expression(c)))
}

/** `sip_hash64(string) -> long` with the zero key, matching the
  * reference's default. Codegen emits one static call per row — no
  * boxing, stays inside whole-stage codegen. */
case class SipHash64Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "sip_hash64"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    SipHash.hash64(input.asInstanceOf[UTF8String].getBytes, 0L, 0L)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SipHash.hash64($c.getBytes(), 0L, 0L)")

  override protected def withNewChildInternal(newChild: Expression): SipHash64Expr =
    copy(child = newChild)
}
