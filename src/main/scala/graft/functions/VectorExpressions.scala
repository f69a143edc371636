package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Vector distance functions over `ArrayType(FloatType)` — the Spark
  * analog of the reference's vector function family
  * (`/root/reference/dbms/src/Functions/FunctionsVector.cpp`, sig map
  * `DAGUtils.cpp:717-724`: vecL1Distance, vecL2Distance,
  * vecNegativeInnerProduct, vecCosineDistance, vecL2Norm, vecDims) and
  * its SIMD kernels (`dbms/src/VectorSearch/`).
  *
  * Implemented as native Catalyst expressions with whole-stage codegen
  * (`doGenCode` emits a tight primitive loop over the two ArrayData;
  * every local comes from `ctx.freshName` so multiple instances can
  * share one generated function) — no UDF boxing, no per-row closure
  * dispatch. Accumulation is ascending-index double addition, which the
  * DuckDB oracle reproduces with `list_reduce` for bit-identical
  * results.
  *
  * Null semantics: null input → null; mismatched dimensions → null
  * (the reference errors; null keeps the expression total for SQL use).
  */
abstract class VectorBinaryExpression extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** Number of double accumulators (initialized to 0.0). */
  protected def accCount: Int
  /** Loop body; x/y are the current elements as doubles. */
  protected def loopBodyGen(x: String, y: String, acc: Seq[String]): String
  /** Expression producing the final double from the accumulators. */
  protected def finishGen(acc: Seq[String]): String

  /** Statement assigning the result (overridable for null-producing
    * finishes, e.g. cosine's zero-norm case). */
  protected def resultGen(ev: ExprCode, acc: Seq[String]): String =
    s"${ev.value} = ${finishGen(acc)};"

  /** May return null (boxed) for undefined results. */
  protected def computeScala(a: ArrayData, b: ArrayData): Any

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else computeScala(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val acc = Seq.tabulate(accCount)(k => ctx.freshName(s"acc$k"))
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  ${acc.map(v => s"double $v = 0.0;").mkString(" ")}
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    ${loopBodyGen(x, y, acc)}
         |  }
         |  ${resultGen(ev, acc)}
         |}
       """.stripMargin
    })
  }
}

/** SUM(|x-y|) — vecL1Distance. */
case class VecL1Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_l1_distance"
  protected def accCount: Int = 1
  protected def loopBodyGen(x: String, y: String, acc: Seq[String]): String =
    s"${acc.head} += Math.abs($x - $y);"
  protected def finishGen(acc: Seq[String]): String = acc.head
  protected def computeScala(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { acc += math.abs(a.getFloat(i).toDouble - b.getFloat(i).toDouble); i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** sqrt(SUM((x-y)^2)) — vecL2Distance. */
case class VecL2Distance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_l2_distance"
  protected def accCount: Int = 1
  protected def loopBodyGen(x: String, y: String, acc: Seq[String]): String =
    s"${acc.head} += ($x - $y) * ($x - $y);"
  protected def finishGen(acc: Seq[String]): String = s"Math.sqrt(${acc.head})"
  protected def computeScala(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0; var i = 0; val n = a.numElements()
    while (i < n) {
      val dxy = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += dxy * dxy; i += 1
    }
    math.sqrt(acc)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** -SUM(x*y) — vecNegativeInnerProduct. */
case class VecNegativeInnerProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_negative_inner_product"
  protected def accCount: Int = 1
  protected def loopBodyGen(x: String, y: String, acc: Seq[String]): String =
    s"${acc.head} += $x * $y;"
  protected def finishGen(acc: Seq[String]): String = s"-${acc.head}"
  protected def computeScala(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    -acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** 1 - dot/(|a||b|) — vecCosineDistance. Zero-norm input (0/0) yields
  * NULL, not NaN — the reference explicitly converts NaN to NULL
  * (`dbms/src/Functions/FunctionsVector.h:377-380`); NaN would poison
  * top-k ordering and comparison filters. */
case class VecCosineDistance(left: Expression, right: Expression)
    extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine_distance"
  protected def accCount: Int = 3
  protected def loopBodyGen(x: String, y: String, acc: Seq[String]): String = {
    val Seq(dot, na, nb) = acc
    s"$dot += $x * $y; $na += $x * $x; $nb += $y * $y;"
  }
  protected def finishGen(acc: Seq[String]): String = {
    val Seq(dot, na, nb) = acc
    s"1.0 - $dot / (Math.sqrt($na) * Math.sqrt($nb))"
  }
  override protected def resultGen(ev: ExprCode, acc: Seq[String]): String =
    s"""double ${acc.head}_r = ${finishGen(acc)};
       |if (Double.isNaN(${acc.head}_r)) { ${ev.isNull} = true; }
       |else { ${ev.value} = ${acc.head}_r; }""".stripMargin
  protected def computeScala(a: ArrayData, b: ArrayData): Any = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0; val n = a.numElements()
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val r = 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    if (r.isNaN) null else r
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** sqrt(SUM(x^2)) — vecL2Norm. */
case class VecL2Norm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "vec_l2_norm"
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var acc = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val x = a.getFloat(i).toDouble; acc += x * x; i += 1 }
    math.sqrt(acc)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  $acc += $x * $x;
         |}
         |${ev.value} = Math.sqrt($acc);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Numeric-exact codegen fold kernels (r17 optimization round):
  * drop-in replacements for the interpreted `aggregate(zip_with(...))`
  * higher-order-function folds in the iterative-trainer hot paths
  * (k-means distances, PCA/GD integer dot products, SemDeDup integer
  * dots, PQ-ADC sub-distances). HOF lambdas evaluate OUTSIDE
  * whole-stage codegen — per-element interpreter dispatch — while
  * these loop over the ArrayData in generated code. Semantics match
  * the HOF form EXACTLY: ascending-index fold from the zero
  * accumulator (identical IEEE sequence / wrapping integer ops),
  * length mismatch → NULL (zip_with pads the shorter side with nulls
  * and the fold's `+` propagates them), any NULL element → NULL. */
abstract class VectorFoldExpression extends BinaryExpression with ExpectsInputTypes {
  override def nullable: Boolean = true

  /** Java primitive type of the accumulator/elements. */
  protected def elemJava: String
  /** ArrayData getter name for the element type. */
  protected def getter: String
  /** Java expression combining elements x and y into the fold term. */
  protected def termGen(x: String, y: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    foldScala(a, b)
  }
  protected def foldScala(a: ArrayData, b: ArrayData): Any

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  $elemJava $acc = ($elemJava) 0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $elemJava $x = $a.$getter($i);
         |    $elemJava $y = $b.$getter($i);
         |    $acc += ${termGen(x, y)};
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
}

/** SUM((x-y)^2) over array<double> — the k-means/SemDeDup distance fold
  * (`aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, +)`), no
  * sqrt: ascending-index double adds, bit-identical to the HOF form
  * and to the DuckDB oracle's list_reduce. */
case class VecL2SqDistanceD(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "vec_l2sq_distance_d"
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  protected def elemJava = "double"
  protected def getter = "getDouble"
  protected def termGen(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  protected def foldScala(a: ArrayData, b: ArrayData): Any = {
    var acc = 0.0; var i = 0; val n = a.numElements()
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); acc += d * d; i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** SUM(x*y) over array<bigint> — the exact integer dot product of the
  * PCA projection / GD residual / SemDeDup grid folds
  * (`aggregate(zip_with(a, b, (x,y) -> x*y), 0L, +)`); wrapping 64-bit
  * ops, identical to Spark's non-ANSI long arithmetic. */
case class VecDotLong(left: Expression, right: Expression)
    extends VectorFoldExpression {
  override def prettyName: String = "vec_dot_long"
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  protected def elemJava = "long"
  protected def getter = "getLong"
  protected def termGen(x: String, y: String): String = s"$x * $y"
  protected def foldScala(a: ArrayData, b: ArrayData): Any = {
    var acc = 0L; var i = 0; val n = a.numElements()
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** SUM((x-y)^2) over array<float> (doubles inside, no sqrt) — the
  * PQ-ADC sub-distance fold (`aggregate(zip_with(a, b, (x,y) ->
  * (double(x)-double(y))^2), 0.0, +)`). */
case class VecL2SqDistanceF(left: Expression, right: Expression)
    extends VectorFoldExpression {
  // matches the Column facade's vec_l2sq_distance_f (ADVICE r17 #4):
  // the bare name substring-matched the _d kernel in plan assertions
  override def prettyName: String = "vec_l2sq_distance_f"
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  protected def elemJava = "double"
  protected def getter = "getFloat"
  protected def termGen(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $acc += ($x - $y) * ($x - $y);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })
  protected def foldScala(a: ArrayData, b: ArrayData): Any = {
    var acc = 0.0; var i = 0; val n = a.numElements()
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Column-API facade (SQL names: [[graft.GraftExtensions.functions]]). */
object VectorFunctions {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def x(col: Column): Expression = ColumnBridge.expression(col)

  def vec_l1_distance(a: Column, b: Column): Column = c(VecL1Distance(x(a), x(b)))
  def vec_l2_distance(a: Column, b: Column): Column = c(VecL2Distance(x(a), x(b)))
  def vec_negative_inner_product(a: Column, b: Column): Column =
    c(VecNegativeInnerProduct(x(a), x(b)))
  def vec_cosine_distance(a: Column, b: Column): Column =
    c(VecCosineDistance(x(a), x(b)))
  def vec_l2_norm(a: Column): Column = c(VecL2Norm(x(a)))
  // r17 fold kernels (Column-only: internal operator hot paths, not
  // part of the SQL surface — no registry entries, no new features)
  def vec_l2sq_distance_d(a: Column, b: Column): Column =
    c(VecL2SqDistanceD(x(a), x(b)))
  def vec_dot_long(a: Column, b: Column): Column = c(VecDotLong(x(a), x(b)))
  def vec_l2sq_distance_f(a: Column, b: Column): Column =
    c(VecL2SqDistanceF(x(a), x(b)))
}
