package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-run `Long` bound into a plan as a value instead of a constant.
  *
  * A `lit(v)` is inlined into the generated Java source as `vL`, so every
  * new `v` is a new source and a new Janino compile, even though the plan
  * is otherwise the same. This leaf hands `v` to the generated class
  * through `ctx.addReferenceObj`: the source reads `references[i]`, which
  * is the same for every `v`, and the codegen cache serves the compiled
  * class. The interpreted `eval` returns the same value.
  *
  * It is deterministic but not foldable, so the optimizer keeps it as
  * is. The cost: a comparison against it is not a data-source filter,
  * so Parquet cannot skip row groups on it.
  *
  * Used by `Ingest.snapshot` for the MVCC read version, which changes
  * with every committed ingest tick. */
case class BoundLong(value: Long) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "bound_long"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLong", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}
