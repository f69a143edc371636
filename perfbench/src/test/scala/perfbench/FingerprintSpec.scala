package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fp(rows: Seq[(Long, String, Double)], names: Seq[String] = Seq("k", "s", "d")) = {
    import spark.implicits._
    val r = Fingerprint.of(rows.toDF(names: _*)).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private val rows = Seq((1L, "a", 0.5), (2L, "b", 1.25), (3L, null, -2.0))

  test("ignores row order and counts rows") {
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows)._1 == 3L)
  }

  test("ignores column order: columns are taken by name") {
    import spark.implicits._
    val swapped = rows.map { case (k, s, d) => (d, k, s) }.toDF("d", "k", "s")
    val r = Fingerprint.of(swapped).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == fp(rows))
  }

  test("rounds doubles to 9 decimals and folds -0.0 into 0.0") {
    val noisy = rows.map { case (k, s, d) => (k, s, d + 1e-12) }
    assert(fp(noisy) == fp(rows))
    assert(fp(Seq((1L, "a", -0.0))) == fp(Seq((1L, "a", 0.0))))
  }

  test("tells different results apart") {
    assert(fp(rows) != fp(rows.take(2)))
    assert(fp(rows) != fp(rows.updated(0, (1L, "a", 0.51))))
    assert(fp(rows ++ rows.take(1)) != fp(rows))
  }

  test("an empty result fingerprints as (0, 0)") {
    assert(fp(Seq.empty) == ((0L, 0L)))
  }

  test("handles duplicate column names") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b").toDF("x", "x")
    assert(Fingerprint.of(df).collect()(0).getLong(0) == 1L)
  }
}
