package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query inventory mirrors the reference's executor surface
  * (`/root/reference/dbms/src/Flash/Planner/PhysicalPlan.cpp:95-255`)
  * plus the beyond-reference LLM-pipeline operators; each entry has a
  * DuckDB oracle where the semantics are ANSI-SQL-expressible.
  */
object SparkEntry {
  /** All modules contributing verifiable queries. */
  def defs: Seq[QueryDef] =
    operators.Relational.all ++ operators.Coverage.all ++
      operators.TpchShapes.all ++
      functions.ScalarQueries.all ++ functions.ScalarQueries2.all ++
      functions.ScalarQueries3.all ++ functions.ScalarQueries4.all ++
      functions.ScalarQueries5.all ++
      functions.OrderedConcat.all ++
      operators.Windows.all ++ operators.Similarity.all ++
      operators.TextPipeline.all ++ operators.InvertedText.all ++
      operators.Tokenizer.all ++
      operators.TemporalJoins.all ++ operators.Curation.all ++
      operators.Analytics.all ++ operators.Clustering.all ++
      operators.SqlFrontier.all ++ operators.LangModel.all ++
      operators.Pca.all ++ operators.Classifier.all ++
      operators.Evaluation.all ++ operators.SkewRemedy.all ++
      functions.BigIntSum.all ++ functions.ApproxTopK.all ++
      streaming.Ingest.all ++ streaming.CrawlPipeline.all ++
      streaming.IvfPipeline.all ++ streaming.PileProbes.all ++
      operators.Multimodal.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1Agg.fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline subset timed by [[Bench]] when no query list is given:
    * one noop-write per query, reported in its one-line JSON. */
  def benchNames: Seq[String] = defs.filter(_.headline).map(_.name)
}
