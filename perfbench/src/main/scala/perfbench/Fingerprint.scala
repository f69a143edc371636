package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result: (row count, sum of
  * the low 32 bits of each row's xxhash64). Columns are taken in name
  * order and doubles are rounded to 9 decimals, as tools/check_oracle.py
  * canonicalizes them, with -0.0 folded into 0.0, so the fingerprint
  * does not depend on row order, column order or floating-point
  * summation order. */
object Fingerprint {
  def of(df: DataFrame): DataFrame = {
    val byName = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    // positional rename: results may carry duplicate column names
    val renamed = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cols = byName.map { case (f, i) => canon(col(s"_c$i"), f.dataType) }
    renamed.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("s"))
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => round(c + lit(0.0), 9)
    case FloatType => round(c.cast(DoubleType) + lit(0.0), 9)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case _: MapType | _: StructType => to_json(c)
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType | _: StructType => true
    case ArrayType(et, _) => needsCanon(et)
    case _ => false
  }
}
