package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (mirrors the reference's executor
  * test harness, `/root/reference/dbms/src/TestUtils/ExecutorTestUtils.cpp`). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
  /** Ten times `sf`, for tests that need more rows. */
  val sf01: String = sf.stripSuffix("sf0.001") + "sf0.01"
}
