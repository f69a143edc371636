package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import scala.jdk.CollectionConverters._
import graft.{CacheHygiene, GraftSession, SparkEntry}

/** Measures the codegen working set that `spark.sql.codegen.cache.maxEntries`
  * (set in `GraftSession.builder`) has to hold: the Janino compiles of one
  * pass over the queries with an unbounded cache, the source and bytecode
  * bytes the cache then keeps on the heap, and the compiles of a second
  * pass, per query (none when the cache holds the whole set). Usage:
  *   sbt "runMain graft.tools.CodegenWorkingSet <sfDir> [q1,q2,...]"
  * The queries default to the headline set (`SparkEntry.benchNames`); extra
  * names given are added to it. Reads SPARK_GRAFT_CPUS like Bench (default 4). */
object CodegenWorkingSet {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sys.error("usage: CodegenWorkingSet <sfDir> [q1,q2,...]"))
    val extra = args.drop(1).headOption.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val names = (SparkEntry.benchNames ++ extra).distinct
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.sql.codegen.cache.maxEntries", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val queries = SparkEntry.queries

    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Map[String, Long] = names.map { q =>
      val before = compiles
      queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      CacheHygiene.sweep(spark, q)
      q -> (compiles - before)
    }.toMap

    val first = pass().values.sum
    val again = pass().filter(_._2 > 0)
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val holder = m.invoke(CodeGenerator) // a Spark-private NonFateSharingCache
    val cache = holder.getClass.getMethod("cache").invoke(holder)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[AnyRef, AnyRef]]
    val entries = cache.asMap.asScala.toSeq
    val sourceBytes = entries.map { case (k, _) =>
      k.asInstanceOf[(AnyRef, CodeAndComment)]._2.body.length.toLong }.sum
    val bytecodeBytes = entries.map { case (_, v) =>
      val loader = v.asInstanceOf[(AnyRef, AnyRef)]._1.getClass.getClassLoader
      val f = loader.getClass.getDeclaredField("classes")
      f.setAccessible(true)
      f.get(loader).asInstanceOf[java.util.Map[String, Array[Byte]]]
        .values.asScala.map(_.length.toLong).sum
    }.sum
    println(s"""{"queries": ${names.size}, "first_pass_compiles": $first, """ +
      s""""second_pass_compiles": ${again.values.sum}, "cache_entries": ${entries.size}, """ +
      s""""source_bytes": $sourceBytes, "bytecode_bytes": $bytecodeBytes, """ +
      again.map { case (q, n) => s""""$q": $n""" }.mkString(""""second_pass_by_query": {""", ", ", "}}"))
    spark.stop()
  }
}
