package graft

import org.apache.spark.sql.SparkSession

/** User-facing entry point — what a user of the reference switches to:
  * one call yields a configured session with the table catalog
  * registered as SQL views and the engine's custom functions installed
  * (≙ TiFlash node bootstrap: storage catalog + closed function
  * registry, `/root/reference/dbms/src/Server/Server.cpp` startup).
  *
  * {{{
  * val spark = Engine.start("local[32]", "/data/tables")
  * spark.sql("SELECT vec_cosine_distance(a.embedding, b.embedding) ...")
  * }}}
  */
object Engine {
  def start(master: String, dataDir: String, shufflePartitions: Int = 32): SparkSession = {
    val spark = GraftSession.builder(master, shufflePartitions).getOrCreate()
    attach(spark, dataDir)
    spark
  }

  /** Register catalog views + custom functions on an existing session. */
  def attach(spark: SparkSession, dataDir: String): SparkSession = {
    operators.Relational.views(spark, dataDir)
    GraftExtensions.functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
    spark
  }
}
