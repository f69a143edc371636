package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Scored-query surface for the incremental IVF index (r16 VERDICT
  * ask #2): q262 ingests the embeddings table through the REAL
  * [[Ingest.streamIvfIngest]] maintenance as three consecutive
  * micro-batches (the capstone tick discipline), fold-compacts the
  * pile, then answers the q58 ANN query purely through
  * [[Ingest.ivfProbe]] — partition-pruned inverted-list reads against
  * maintained state, never an inline corpus assignment. Assignment is
  * deterministic given the fixed hash-sample quantizer (q58's), so the
  * probe is oracled by the SAME first-principles DuckDB SQL as batch
  * q58: a pile probe diverging from the batch answer is a maintenance
  * bug by construction, exactly the contract the LSH/ExactSubstr piles
  * carry. Reference analog: per-segment vector index build + read
  * (`/root/reference/dbms/src/Storages/DeltaMerge/Index/VectorIndex/`).
  */
object IvfPipeline {
  /** An IVF pile keyed by `tag` (the split identity): `ticks` are
    * ingested as consecutive REAL micro-batches against the fixed
    * `cent` quantizer, then the pile is compacted to the promoted
    * single generation (the steady state the policy keeps a production
    * pile in). Built once per input through [[PileCache]]. */
  private def buildPile(s: SparkSession, d: String, tag: String,
      cent: DataFrame, ticks: Seq[DataFrame]): String =
    PileCache.build(s, d, "embeddings", tag, ticks)(
      (in, work) => Ingest.streamIvfIngest(s, in, s"$work/index", cent),
      work => Ingest.compactIvfIndex(s, s"$work/index")) + "/index"

  /** q262's pile: quantizer = q58's deterministic hash-sample
    * centroids over the full table, three vec_id % 3 micro-batch
    * ticks. */
  private def pileFor(s: SparkSession, d: String): String = {
    val e = Tables.embeddings(s, d)
    buildPile(s, d, "full#mod3", graft.operators.Similarity.ivfCentroids(e),
      (0 until 3).map(m => e.filter(pmod(col("vec_id"), lit(3)) === m)))
  }

  /** q263's pile: the CORPUS only (vec_id % 10 < 8 — the capstone
    * split convention), quantizer trained on the corpus, two
    * micro-batch ticks. The arriving batch (% 10 >= 8) is NOT
    * ingested — it is what the near-dup probe gates. */
  private def corpusPileFor(s: SparkSession, d: String): String = {
    val corpus = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(10)) < 8)
    buildPile(s, d, "corpus-mod10lt8#mod2",
      graft.operators.Similarity.ivfCentroids(corpus),
      (0 until 2).map(m => corpus.filter(pmod(col("vec_id"), lit(2)) === m)))
  }

  /** q262: q58's ANN answer served from the maintained pile. Same
    * oracle SQL as q58 verbatim — the probe must reproduce the batch
    * answer exactly (deterministic quantizer, exact distance math). */
  val q262AnnIvfStream: QueryDef = QueryDef(
    "q262_ann_ivf_stream",
    graft.operators.Similarity.q58AnnIvf.oracle.get) { (s, d) =>
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Ingest.ivfProbe(s, pileFor(s, d), queries, nProbe = 4)
  }.copy(headline = true, benchWarmup = Some { (s, d) =>
    // the pile is built UNTIMED (a live pipeline maintains it
    // incrementally across its ingest history), so the timed region
    // measures the PROBE — the production recurring read.
    pileFor(s, d); ()
  })

  /** q263: embedding near-dup at INGEST — SemDeDup's candidate
    * generation served from the maintained corpus pile
    * ([[Ingest.ivfNearDupProbe]]): the arriving batch (vec_id % 10 >= 8,
    * the capstone split convention) is assigned to the corpus-trained
    * quantizer, candidates share the nearest-centroid list (learned
    * blocking), and an exact cosine confirm keeps sim > 0.2 (q54's
    * threshold on this data). The oracle recomputes quantizer,
    * assignment, blocking, and confirm from first principles in SQL —
    * assignment is deterministic given the fixed centroid rule, so the
    * ANN-blocked probe is exactly reproducible. */
  val q263EmbedNearDupIngest: QueryDef = {
    import graft.operators.Similarity.{duckCosineDist, duckL2Dist}
    QueryDef(
      "q263_embed_neardup_ingest",
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 < 8),
         |batch AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 >= 8),
         |cent AS (SELECT vec_id AS cid, embedding AS cv FROM corpus
         |         ORDER BY (vec_id % 1000003) * 2654435761 % 4294967296, vec_id LIMIT 32),
         |ac AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT c.vec_id, c.embedding, ct.cid,
         |    row_number() OVER (PARTITION BY c.vec_id
         |      ORDER BY ${duckL2Dist("c.embedding", "ct.cv")}, ct.cid) AS rn
         |  FROM corpus c CROSS JOIN cent ct) WHERE rn = 1),
         |ab AS (SELECT vec_id, embedding, cid FROM (
         |  SELECT b.vec_id, b.embedding, ct.cid,
         |    row_number() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${duckL2Dist("b.embedding", "ct.cv")}, ct.cid) AS rn
         |  FROM batch b CROSS JOIN cent ct) WHERE rn = 1)
         |SELECT ab.vec_id AS new_id, ac.vec_id AS old_id,
         |  round(1.0 - (${duckCosineDist("ab.embedding", "ac.embedding")}), 6) AS sim
         |FROM ab JOIN ac USING (cid)
         |WHERE 1.0 - (${duckCosineDist("ab.embedding", "ac.embedding")}) > 0.2""".stripMargin) {
      (s, d) =>
      val batch = Tables.embeddings(s, d)
        .filter(pmod(col("vec_id"), lit(10)) >= 8)
      Ingest.ivfNearDupProbe(s, corpusPileFor(s, d), batch, simThreshold = 0.2)
    }
  }

  val all: Seq[QueryDef] = Seq(q262AnnIvfStream, q263EmbedNearDupIngest)
}
