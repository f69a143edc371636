package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables

/** Scored-query surface for the two piles that until now carried only
  * contract tests — the inverted-postings index and the aggregate MV —
  * plus the IVF quantizer-rotation path and BM25-at-ingest. With
  * these, EVERY incremental index surface answers a hash-oracled query
  * through its maintained pile (LSH/span/shingle via the q258/q260
  * capstones and q230, IVF via q262/q263, postings via q264, agg MV
  * via q265, rotation via q266, ranked retrieval via q267): a probe
  * diverging from the batch semantics is a maintenance bug caught by
  * the DuckDB gate, not just by a unit test.
  *
  * Reference analogs: segment-incremental inverted/full-text index
  * build + read (`/root/reference/dbms/src/Storages/DeltaMerge/Index/InvertedIndex/`,
  * `Index/FullTextIndex/Reader.h`), mergeable aggregate states shipped
  * between stages (`/root/reference/dbms/src/Columns/ColumnAggregateFunction.h`),
  * and the full vector-index rebuild on re-train
  * (`Storages/DeltaMerge/Index/VectorIndex/`).
  */
object PileProbes {
  /** A pile over `table`: `ticks` are ingested as consecutive REAL
    * micro-batches by `ingest(in, pile)`, then `finish(pile)` runs
    * (compaction — or, for q266, the quantizer rotation). Built once
    * per input through [[PileCache]]. */
  private def buildPile(s: SparkSession, d: String, table: String,
      tag: String, ticks: Seq[DataFrame],
      ingest: (String, String) => Unit,
      finish: String => Unit): String =
    PileCache.build(s, d, table, tag, ticks)(
      (in, work) => ingest(in, s"$work/pile"), work => finish(s"$work/pile")) + "/pile"

  // ---------------------------------------------------- q264: postings

  private val probeTerms = Seq("hash", "join")

  /** Postings pile over the documents table: three doc_id % 3
    * micro-batch ticks through the REAL [[Ingest.streamPostingsIngest]]
    * maintenance, then compacted to the promoted single generation. */
  private def postingsPileFor(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    buildPile(s, d, "documents", "post#mod3",
      (0 until 3).map(m => docs.filter(pmod(col("doc_id"), lit(3)) === m)),
      (in, pile) => Ingest.streamPostingsIngest(s, in, pile),
      pile => Ingest.compactPostings(s, pile))
  }

  /** q264: q75's CONTAINS-all answer served from the maintained
    * postings pile — a term-bucket partition-pruned read of the probed
    * terms' rows, [[Ingest.mergePostingsSegments]] over just those
    * rows, then the same posting-intersection as batch q75. Same
    * oracle SQL as q75 verbatim: the pile probe must reproduce the
    * from-scratch index answer exactly (segment merge is proven ≡
    * rebuild in `StreamingSpec`; this scores it end-to-end). */
  val q264FulltextStream: QueryDef = QueryDef(
    "q264_fulltext_stream",
    graft.operators.InvertedText.q75FulltextAnd.oracle.get) { (s, d) =>
    val path = postingsPileFor(s, d)
    Ingest.readPile(s, path) match {
      case None => s.range(0).select(col("id").as("doc_id"), col("id").as("n_terms"))
      case Some(pile) =>
        // the probed terms' bucket ids come from the pile's OWN
        // term→bucket rule and modulus (the lshProbe touched-partition
        // discipline)
        val pruned = pile.rows
          .filter(col("tbucket").isin(Ingest.termBucketIds(s, path, probeTerms): _*) &&
            col("term").isin(probeTerms.map(_.asInstanceOf[Any]): _*))
          .select(col("term"), col("postings"), col("df"))
        graft.operators.InvertedText.searchAll(
          Ingest.mergePostingsSegments(pruned), probeTerms)
    }
  }.copy(headline = true, benchWarmup = Some { (s, d) =>
    // the pile is built UNTIMED (a live pipeline maintains it across
    // its ingest history), so the timed region measures the PROBE —
    // the production recurring read.
    postingsPileFor(s, d); ()
  })

  // ------------------------------------------------- q267: BM25 piles

  /** q267's piles: tf-postings (`<work>/tf`) + doc-stats
    * (`<work>/stats`) over the documents table, three doc_id % 3
    * micro-batch ticks through the REAL maintenance, both compacted. */
  private def bm25PilesFor(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    PileCache.build(s, d, "documents", "bm25#mod3",
      (0 until 3).map(m => docs.filter(pmod(col("doc_id"), lit(3)) === m)))(
      (in, work) => {
        Ingest.streamTfPostingsIngest(s, in, s"$work/tf")
        Ingest.streamDocStatsIngest(s, in, s"$work/stats")
      },
      work => {
        Ingest.compactTfPostings(s, s"$work/tf")
        Ingest.compactDocStats(s, s"$work/stats")
      })
  }

  /** q267: q75b's BM25-ranked top-10 served ENTIRELY from maintained
    * state — the tf-postings pile (term-pruned, dl denormalized) and
    * the doc-stats pile (mergeable (N, Σdl) partials) — through
    * [[Ingest.bm25Probe]]. Same oracle SQL as q75b verbatim: scoring
    * math, double determinism, and tie order must reproduce the
    * from-scratch ranked answer exactly. */
  val q267Bm25Stream: QueryDef = QueryDef(
    "q267_bm25_stream",
    graft.operators.InvertedText.q75bBm25.oracle.get) { (s, d) =>
    val pile = bm25PilesFor(s, d)
    Ingest.bm25Probe(s, s"$pile/tf", s"$pile/stats",
      Seq("hash", "join", "scan"))
  }

  // ----------------------------------------------- q269: phrase search

  /** q269's pile: positional postings over the documents table, three
    * doc_id % 3 micro-batch ticks, compacted. */
  private def posPileFor(s: SparkSession, d: String): String = {
    val docs = Tables.documents(s, d)
    buildPile(s, d, "documents", "pos#mod3",
      (0 until 3).map(m => docs.filter(pmod(col("doc_id"), lit(3)) === m)),
      (in, pile) => Ingest.streamPosPostingsIngest(s, in, pile),
      pile => Ingest.compactPosPostings(s, pile))
  }

  /** q269: q142's exact-phrase answer ("hash join") served from the
    * maintained positional pile — bucket-pruned occurrence reads +
    * the adjacency join, oracled by q142's SQL verbatim. Completes
    * the retrieval-at-ingest family: AND (q264), ranked (q267),
    * hybrid (q268), phrase (q269). */
  val q269PhraseStream: QueryDef = QueryDef(
    "q269_phrase_stream",
    graft.operators.InvertedText.q142PhraseSearch.oracle.get) { (s, d) =>
    Ingest.phraseProbe(s, posPileFor(s, d), "hash", "join")
  }

  // --------------------------------------------- q268: hybrid at ingest

  /** q268: hybrid retrieval with reciprocal-rank fusion where BOTH
    * legs are served from maintained piles — the lexical top-20 via
    * [[Ingest.bm25Probe]] (tf-postings + doc-stats, q267's read) and
    * the vector top-20 via [[Ingest.ivfProbe]] over the ROTATED pile
    * (whose quantizer is q58's full-corpus rule, so the ANN leg is
    * exactly reproducible). Fusion is q187's: integer-ppm RRF over
    * two bounded 20-row sets, engine-independent by construction. The
    * oracle recomputes the BM25 leg (q75b's CTEs), the IVF leg (q58's
    * CTEs at nProbe=4, self-excluded, rank ≤ 20), and the fusion from
    * first principles. Unlike q187's brute-force vector leg, the ANN
    * leg here carries q58's single-probe recall posture — the
    * documented trade an index-served hybrid makes. */
  val q268HybridRrfStream: QueryDef = {
    import graft.operators.Similarity.{duckCosineDist, duckL2Dist}
    QueryDef(
      "q268_hybrid_rrf_stream",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
         |  FROM documents),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(SUM(dl) AS BIGINT) AS total FROM dl),
         |tfq AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
         |       WHERE term IN ('hash', 'join', 'scan') GROUP BY doc_id, term),
         |dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY term),
         |co AS (SELECT tfq.doc_id, tfq.term,
         |         ln((st.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
         |           * (tfq.tf * 2.2)
         |           / (tfq.tf + 1.2 * (0.25 + 0.75 * dl.dl
         |                / (CAST(st.total AS DOUBLE) / st.n))) AS c
         |       FROM tfq JOIN dfq ON tfq.term = dfq.term
         |       JOIN dl ON tfq.doc_id = dl.doc_id CROSS JOIN st),
         |bm AS (SELECT doc_id,
         |  round(COALESCE(SUM(CASE WHEN term = 'hash' THEN c END), 0)
         |      + COALESCE(SUM(CASE WHEN term = 'join' THEN c END), 0)
         |      + COALESCE(SUM(CASE WHEN term = 'scan' THEN c END), 0), 6) AS bm25
         |  FROM co GROUP BY doc_id),
         |brank AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rb
         |  FROM bm QUALIFY rb <= 20),
         |cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
         |         ORDER BY (vec_id % 1000003) * 2654435761 % 4294967296, vec_id LIMIT 32),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckL2Dist("e.embedding", "c.cv")}, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cent c),
         |a2 AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 0),
         |probe AS (
         |  SELECT q.qid, q.qv, c.cid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${duckL2Dist("q.qv", "c.cv")}, c.cid) AS rn
         |  FROM q CROSS JOIN cent c),
         |p2 AS (SELECT qid, qv, cid FROM probe WHERE rn <= 4),
         |cand AS (SELECT p2.qid, a2.vec_id, p2.qv, a2.embedding
         |         FROM p2 JOIN a2 USING (cid) WHERE a2.vec_id <> p2.qid),
         |vrank AS (SELECT vec_id,
         |    CAST(row_number() OVER (
         |      ORDER BY ${duckCosineDist("qv", "embedding")}, vec_id) AS INTEGER) AS rv
         |  FROM cand QUALIFY rv <= 20)
         |SELECT COALESCE(b.doc_id, v.vec_id) AS doc_id,
         |  COALESCE(b.rb, 0) AS rb, COALESCE(v.rv, 0) AS rv,
         |  CAST(CASE WHEN b.rb IS NULL THEN 0 ELSE 1000000 // (60 + b.rb) END
         |     + CASE WHEN v.rv IS NULL THEN 0 ELSE 1000000 // (60 + v.rv) END
         |    AS BIGINT) AS rrf_ppm
         |FROM brank b FULL OUTER JOIN vrank v ON b.doc_id = v.vec_id
         |ORDER BY rrf_ppm DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pile = bm25PilesFor(s, d)
      // rank windows run over bounded ≤20-row leg outputs only (the
      // q187 fusion discipline — no corpus-scale unpartitioned window)
      val brank = Ingest.bm25Probe(s, s"$pile/tf", s"$pile/stats",
          Seq("hash", "join", "scan"), k = 20)
        .withColumn("rb", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))).cast("int"))
        .select(col("doc_id"), col("rb"))
      val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val vrank = Ingest.ivfProbe(s, rotatedPileFor(s, d), q, nProbe = 4, k = 20)
        .select(col("vec_id"), col("rnk").cast("int").as("rv"))
      brank.join(vrank, col("doc_id") === col("vec_id"), "full_outer")
        .select(
          coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
          coalesce(col("rb"), lit(0)).as("rb"),
          coalesce(col("rv"), lit(0)).as("rv"),
          (when(col("rb").isNull, 0L)
            .otherwise(expr("1000000L div (60 + rb)")) +
           when(col("rv").isNull, 0L)
            .otherwise(expr("1000000L div (60 + rv)"))).cast("long").as("rrf_ppm"))
        .orderBy(col("rrf_ppm").desc, col("doc_id")).limit(10)
    }
  }

  // ------------------------------------------------------ q265: agg MV

  /** Agg-MV pile over the events table: three event_id % 3 micro-batch
    * ticks of mergeable partial states through the REAL
    * [[Ingest.streamAggMaintain]], then fold-compacted. */
  private def aggMvPileFor(s: SparkSession, d: String): String = {
    val ev = Tables.events(s, d)
    buildPile(s, d, "events", "aggmv#mod3",
      (0 until 3).map(m => ev.filter(pmod(col("event_id"), lit(3)) === m)),
      (in, pile) => Ingest.streamAggMaintain(s, in, pile),
      pile => Ingest.compactAggState(s, pile))
  }

  /** q265: the (event_type, day) rollup served from the maintained
    * aggregate-MV pile through the canonical read view
    * ([[Ingest.aggViewOf]] — the segment fold every reader goes
    * through), oracled by a from-scratch GROUP BY over the raw events
    * stream. count and the exact-decimal value sum are
    * order-insensitive mergeable states, so the folded MV must equal
    * the rebuild bit-for-bit (the HLL distinct-user state stays
    * contract-land: `StreamingSpec` and `SoakSpec` check its estimate;
    * it is never hashed here). */
  val q265AggMvStream: QueryDef = QueryDef(
    "q265_agg_mv_stream",
    """SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS vsum
      |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
    Ingest.readPile(s, aggMvPileFor(s, d)) match {
      case None => s.range(0).select(lit(null).cast("string").as("event_type"),
        lit(null).cast("date").as("day"), col("id").as("cnt"),
        lit(null).cast("double").as("vsum"))
      case Some(pile) => Ingest.aggViewOf(pile.rows)
        .select(col("event_type"), col("day"), col("cnt"),
          col("vsum").cast("double").as("vsum"))
    }
  }

  // ------------------------------------------- q266: quantizer rotation

  /** q266's pile: ingest the full embeddings table as three vec_id % 3
    * ticks against a SEED quantizer trained on the first tick only,
    * then run the REAL [[Ingest.rebuildIvfIndex]] rotation to the
    * full-corpus quantizer (q58's hash-sample rule) — the
    * centroid-drift re-train a production pipeline runs after its
    * corpus has grown past the training sample. */
  private def rotatedPileFor(s: SparkSession, d: String): String = {
    val e = Tables.embeddings(s, d)
    val seedCent = graft.operators.Similarity.ivfCentroids(
      e.filter(pmod(col("vec_id"), lit(3)) === 0))
    buildPile(s, d, "embeddings", "ivfrot#mod3",
      (0 until 3).map(m => e.filter(pmod(col("vec_id"), lit(3)) === m)),
      (in, pile) => Ingest.streamIvfIngest(s, in, pile, seedCent),
      // rotation runs while the checkpoint still exists (it asserts
      // caught-up ingest) and REPLACES compaction: the rebuild itself
      // promotes one re-assigned generation under the new marker
      pile => Ingest.rebuildIvfIndex(s, pile,
        graft.operators.Similarity.ivfCentroids(e)))
  }

  /** q266: q58's ANN answer served from the ROTATED pile. After the
    * rotation the pile's quantizer is exactly q58's full-corpus
    * hash-sample rule, so the probe is oracled by q58's SQL verbatim —
    * scoring that the rebuild re-assigned every stored vector to the
    * new quantizer (a partial or stale re-assignment cannot
    * hash-match), the end-to-end complement of the rotation crash/
    * recovery contracts in `StreamingSpec`. */
  val q266AnnIvfRotate: QueryDef = QueryDef(
    "q266_ann_ivf_rotate",
    graft.operators.Similarity.q58AnnIvf.oracle.get) { (s, d) =>
    val queries = Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Ingest.ivfProbe(s, rotatedPileFor(s, d), queries, nProbe = 4)
  }

  val all: Seq[QueryDef] =
    Seq(q264FulltextStream, q265AggMvStream, q266AnnIvfRotate,
      q267Bm25Stream, q268HybridRrfStream, q269PhraseStream)
}
