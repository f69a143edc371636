package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions._

/** Unit semantics for the custom Catalyst vector expressions
  * (≙ `/root/reference/dbms/src/Functions/tests/gtest_vector_*`). */
class VectorExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    (1L, Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
    (2L, Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
    (3L, Array(3f, 4f, 0f), Array(0f, 0f, 0f))
  ).toDF("id", "a", "b")

  test("cosine distance of a zero-norm vector is NULL, not NaN") {
    // ≙ reference FunctionsVecCosineDistance NaN→NULL conversion
    // (/root/reference/dbms/src/Functions/FunctionsVector.h:377-380);
    // NaN would poison top-k ordering and comparison filters
    import spark.implicits._
    val df = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(0f, 0f, 0f)),
      (Array(0f, 0f, 0f), Array(0f, 0f, 0f))).toDF("a", "b")
    val r = df.select(vec_cosine_distance($"a", $"b")).collect()
    assert(r.forall(_.isNullAt(0)), "zero-norm cosine must be NULL")
    // interpreted path too (no codegen)
    import graft.functions.VecCosineDistance
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val conv = CatalystTypeConverters.createToCatalystConverter(ArrayType(FloatType))
    val zero = Literal.create(conv(Array(0f, 0f)), ArrayType(FloatType))
    val one = Literal.create(conv(Array(1f, 2f)), ArrayType(FloatType))
    assert(VecCosineDistance(zero, one).eval() == null)
  }

  test("l1/l2/inner/cosine hand values") {
    val r = df.select($"id",
      vec_l1_distance($"a", $"b").as("l1"),
      vec_l2_distance($"a", $"b").as("l2"),
      vec_negative_inner_product($"a", $"b").as("nip"),
      vec_cosine_distance($"a", $"b").as("cos"),
      vec_l2_norm($"a").as("nrm"))
      .orderBy($"id").collect()
    assert(r(0).getDouble(1) === 0.0)          // identical vectors
    assert(r(0).getDouble(2) === 0.0)
    assert(r(0).getDouble(3) === -14.0)        // -(1+4+9)
    assert(math.abs(r(0).getDouble(4)) < 1e-15)
    assert(math.abs(r(0).getDouble(5) - math.sqrt(14.0)) < 1e-15)
    assert(r(1).getDouble(1) === 2.0)          // orthogonal unit vectors
    assert(math.abs(r(1).getDouble(2) - math.sqrt(2.0)) < 1e-15)
    assert(r(1).getDouble(4) === 1.0)          // cosine distance 1
    assert(r(2).getDouble(5) === 5.0)          // 3-4-5 norm
  }

  test("dimension mismatch and nulls yield null") {
    val odd = Seq(
      (1L, Array(1f, 2f), Array(1f, 2f, 3f)),
      (2L, null.asInstanceOf[Array[Float]], Array(1f, 2f))
    ).toDF("id", "a", "b")
    val r = odd.select(vec_cosine_distance($"a", $"b")).collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("SQL registration") {
    val r = spark.sql(
      "SELECT vec_l2_distance(array(cast(0 as float), cast(3 as float)), " +
        "array(cast(4 as float), cast(0 as float)))").first()
    assert(r.getDouble(0) === 5.0)
  }

  test("codegen and interpreted agree on real embeddings") {
    val e = sources.Tables.embeddings(spark, sf).limit(50)
      .select($"vec_id", $"embedding")
    val pairs = e.crossJoin(e.select($"vec_id".as("id2"), $"embedding".as("e2")))
      .filter($"vec_id" < $"id2").limit(200)
    val both = pairs.select(
      vec_cosine_distance($"embedding", $"e2").as("via_expr"),
      (lit(1.0) - aggregate(zip_with($"embedding", $"e2",
        (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (a, x) => a + x)
        / (sqrt(aggregate(transform($"embedding", x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, x) => a + x))
          * sqrt(aggregate(transform($"e2", x => x.cast("double") * x.cast("double")),
            lit(0.0), (a, x) => a + x)))).as("via_fold")).collect()
    assert(both.nonEmpty)
    both.foreach { case Row(a: Double, b: Double) =>
      assert(a === b, "custom expression must be bit-identical to the built-in fold")
    }
  }

  test("r17 fold kernels are bit-identical to the interpreted HOF folds") {
    // the optimization-round contract: vec_l2sq_distance_d / vec_dot_long /
    // vec_l2sq_distance_f replaced aggregate(zip_with(...)) folds in the
    // k-means / PCA / GD / SemDeDup / PQ-ADC hot paths — outputs must be
    // indistinguishable, including null and length-mismatch behavior
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dd = (0 until 200).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")
    val hofD = aggregate(zip_with($"a", $"b", (x, y) => { val d = x - y; d * d }),
      lit(0.0), (acc, v) => acc + v)
    dd.select(vec_l2sq_distance_d($"a", $"b").as("k"), hofD.as("h"))
      .collect().foreach { case Row(k: Double, h: Double) =>
        assert(java.lang.Double.doubleToRawLongBits(k) ==
          java.lang.Double.doubleToRawLongBits(h), s"$k != $h") }

    val dl = (0 until 200).map { i =>
      (i.toLong,
        Array.fill(5)(rnd.nextLong() % 2000000L),
        Array.fill(5)(rnd.nextLong() % 2000000L))
    }.toDF("id", "a", "b")
    val hofL = aggregate(zip_with($"a", $"b", (x, y) => x * y),
      lit(0L), (acc, v) => acc + v)
    dl.select(vec_dot_long($"a", $"b").as("k"), hofL.as("h"))
      .collect().foreach { case Row(k: Long, h: Long) => assert(k == h) }

    val df2 = (0 until 200).map { i =>
      (i.toLong,
        Array.fill(16)(rnd.nextFloat() * 2 - 1),
        Array.fill(16)(rnd.nextFloat() * 2 - 1))
    }.toDF("id", "a", "b")
    val hofF = aggregate(zip_with($"a", $"b",
      (x, y) => { val d = x.cast("double") - y.cast("double"); d * d }),
      lit(0.0), (acc, v) => acc + v)
    df2.select(vec_l2sq_distance_f($"a", $"b").as("k"), hofF.as("h"))
      .collect().foreach { case Row(k: Double, h: Double) =>
        assert(java.lang.Double.doubleToRawLongBits(k) ==
          java.lang.Double.doubleToRawLongBits(h)) }

    // null / mismatch parity: zip_with pads with nulls -> fold yields null
    val edge = Seq(
      (Array[java.lang.Double](1.0, 2.0), Array[java.lang.Double](1.0)),
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 2.0)),
      (null, Array[java.lang.Double](1.0))
    ).toDF("a", "b")
    val hofEdge = aggregate(zip_with($"a", $"b", (x, y) => { val d = x - y; d * d }),
      lit(0.0), (acc, v) => acc + v)
    edge.select(vec_l2sq_distance_d($"a", $"b").as("k"), hofEdge.as("h"))
      .collect().foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1))
        if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1)) }

    // interpreted (no-codegen) eval path of the kernels matches too
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val convD = CatalystTypeConverters.createToCatalystConverter(ArrayType(DoubleType))
    val a = Literal.create(convD(Array(1.0, 2.0, 3.5)), ArrayType(DoubleType))
    val b = Literal.create(convD(Array(0.5, 2.0, -1.0)), ArrayType(DoubleType))
    val expected = { val d1 = 0.5; val d2 = 0.0; val d3 = 4.5; d1*d1 + d2*d2 + d3*d3 }
    assert(graft.functions.VecL2SqDistanceD(a, b).eval() == expected)
    val mism = Literal.create(convD(Array(1.0)), ArrayType(DoubleType))
    assert(graft.functions.VecL2SqDistanceD(a, mism).eval() == null)
  }
}
