package graft

/** Broadcast-at-scale regression gate (round 11).
  *
  * `tools.BroadcastAudit` caught q215's corpus-derived broadcast (the
  * driver-killing 100× failure) and its review cleared every other
  * flag — 68 flagged queries all executed clean at 100×
  * (docs/BENCH_NOTES.md "systematic broadcast-at-scale audit"). This
  * spec makes that review durable: every query's STATIC plan (AQE off
  * — the cold planner's estimate-driven decision) is audited at
  * sf0.001, and any query outside the reviewed allowlist that plans a
  * corpus-table broadcast through an estimate-unreliable operator
  * fails the suite until its build side is either bounded by
  * construction (then: add it here WITH the reason) or hinted
  * `shuffle_hash` (the q215 fix).
  *
  * The allowlist is the union of the reviewed sf0.001 and /tmp/sf10
  * (100×) flag sets. Estimates only shrink at smaller SF, so sf0.001
  * flags are a superset per query shape — a NEW query with a q215-class
  * join cannot plan clean here while flagging at scale.
  */
class BroadcastAuditSpec extends SparkTestBase {

  /** Reviewed flags: every name here was classified in
    * docs/BENCH_NOTES.md (1-row scalars, top-k caps, label/calendar/
    * partition-bounded sides, AQE-corrected self-limiting estimates)
    * and EXECUTED clean at 100×. */
  private val reviewed: Set[String] = Set(
    // TPC-H / relational: 1-row scalar summaries + AQE-corrected
    // candidate semi-joins (q92/q99/q11/q46b/q7/q101 ran clean at 100×)
    "q7_join_right", "q11_join_left_outer_semi",
    "q46b_null_aware_semi_flag", "q92_tpch_q18", "q97b_tpch_q15",
    "q98b_tpch_q20", "q99_correlated_scalar", "q101_tpch_q17",
    "q102_tpch_q22", "q130_quantified_any_all",
    // ANN / similarity: bounded query sets, 16-row codebooks,
    // |labels| centroid tables
    "q53_ann_lsh", "q56_ann_pq", "q58_ann_ivf", "q218_ivfpq_rerank",
    "q241_label_centroids",
    // dedup / novelty / graph: corpus-derived sets behind exchanges —
    // AQE runtime sizes govern; all executed clean at 100×
    "q114_dedup_clusters", "q115_repetition", "q201_ssjoin_prefix",
    "q230_incremental_dedup", "q234_ngram_novelty",
    "q238_dup_rate_by_source", "q242_split_leakage",
    "q250_triangle_count", "q255_crawl_novelty",
    "q257_pagerank_dupgraph", "q210_image_neardup",
    // retrieval / LM / text: Heaps-bounded model tables, top-k caps,
    // benchmark-bounded decontamination sides
    "q75b_bm25_ranked", "q139_ngram_decontaminate", "q142_phrase_search",
    "q158_bpe_encode", "q164_boilerplate", "q170_unigram_lm",
    "q174_bigram_lm", "q175_textrank", "q176_naive_bayes",
    "q177_tfidf_keywords", "q182_dsir_weights", "q187_hybrid_rrf",
    "q196_pmi_collocations", "q197_kneser_ney", "q198_countmin",
    "q203_ccnet_buckets", "q212_bloom_decontaminate",
    "q213_trigram_jm_lm", "q227_js_divergence", "q231_chi2_keywords",
    "q232_good_turing", "q239_oov_rate", "q253_vocab_overlap",
    "q256_heldout_perplexity",
    // curation / analytics / eval: 1-row totals, per-lang/source/
    // decile/fold alphabets, calendar grids, partition-count tables
    "q119_domain_mixture", "q124_cohort_retention", "q149_mad_outliers",
    "q150_benford", "q188_curriculum_buckets", "q190_cohort_funnel",
    "q191_stickiness", "q195_rfm", "q202_pca_power", "q214_winsorize",
    "q217_gap_fill", "q225_equi_depth_hist", "q226_roc_curve",
    "q228_quantile_normalize", "q229_token_budget_select",
    "q233_stratified_kfold", "q240_decay_weighted_value",
    "q248_mutual_info", "q249_psi_drift", "q251_burstiness",
    "q252_salted_skew_join",
    // r13 crawl capstone: the batch-scale sides (gate tables, shingle
    // arrays, the shingle-pile fetch) carry shuffle_hash hints; the
    // flag that REMAINS is bounded by construction — the benchmark-gram
    // side of the decontamination confirm ("documents via
    // agg+explode": the doc_id % 41 = 0 benchmark sample's 8-gram set,
    // the q212 reviewed reasoning), bounded by the benchmark's size,
    // not a corpus-growth set
    "q258_crawl_capstone",
    // r15 tick-2 capstone: the SAME crawlGate with tick-order
    // precedence (r16: over its own three-micro-batch piles) — its
    // plan carries q258's reviewed benchmark-gram flag, nothing new
    // to review
    "q260_crawl_capstone_tick2",
    // r17 incremental-IVF probe (q58's reviewed "bounded query sets"
    // class, BENCH_NOTES "r17 BroadcastAudit flag-diff"): the flagged
    // "embeddings via window+join" broadcast sides are (a) the
    // centroid set — a LIMIT-k TakeOrderedAndProject, broadcast-
    // bounded at any corpus by the √N sizing rule — and (b) the
    // probed (qid, qv, cid) set, ≤ |Q|·nProbe rows after the
    // row_number ≤ nProbe filter over the pinned vec_id < 5 query
    // set; broadcasting it is what keeps the corpus-side inverted
    // lists from shuffling. Flag-diffed at 100× statistics, r17.
    "q262_ann_ivf_stream",
    // r17 rotation probe: q266 answers through the SAME ivfProbe path
    // as q262 (the pile differs only in its quantizer history), so it
    // carries q262's exact reviewed flag — the broadcast-bounded
    // centroid set and the ≤ |Q|·nProbe probed side. Flag-diffed at
    // /tmp/sf10 statistics late r17: one flag, identical class
    // ("embeddings via window+join"), zero new.
    "q266_ann_ivf_rotate",
    // late-r17 pile-served hybrid: the vector leg goes through the
    // SAME ivfProbe path as q262/q266 (rotated pile, q58 quantizer),
    // so it carries the identical reviewed flag class — the
    // broadcast-bounded centroid set and the ≤ |Q|·nProbe probed
    // side; the lexical leg's broadcasts are the |terms|-row df and
    // the 1-row corpus stats. Flag-diffed at /tmp/sf10 statistics.
    "q268_hybrid_rrf_stream")

  test("no query outside the reviewed allowlist plans a corpus-derived broadcast (static, AQE off)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    var flaggedKnown = 0
    SparkEntry.defs.foreach { q =>
      // finally-sweep: a failing fn/audit must not leave the query's
      // persisted frames behind for every later suite in this JVM
      try {
        val fl =
          try tools.BroadcastAudit.flagsOf(q.fn(s, sf))
          catch { case e: Throwable => fail(s"${q.name}: audit threw $e") }
        if (fl.nonEmpty) {
          if (reviewed(q.name)) flaggedKnown += 1
          else offenders += q.name -> fl
        }
      } finally CacheHygiene.sweep(s, q.name)
    }
    // canary: the audit must actually SEE broadcasts — if config drift
    // (threshold, AQE propagation) made the gate vacuous, fail loudly
    // rather than silently passing everything.
    assert(flaggedKnown >= 30,
      s"audit canary: only $flaggedKnown reviewed queries flagged — the " +
        "gate has gone vacuous (threshold/AQE config drift?)")
    assert(offenders.isEmpty,
      "UNREVIEWED corpus-derived broadcast(s) — bound the build side or " +
        "hint shuffle_hash (q215 fix), or review + allowlist with reason:\n" +
        offenders.map { case (n, f) => s"  $n: ${f.mkString("; ")}" }
          .mkString("\n"))
  }

  test("gate necessity: the unhinted q215 candidate join flags; the hinted shape plans clean") {
    // The allowlist test above proves the reviewed set is SUFFICIENT
    // (nothing new sneaks in); this proves the audit is NECESSARY —
    // stripping q215's shuffle_hash hint reconstructs the exact
    // pre-fix plan whose corpus-derived broadcast killed the 100×
    // driver, and the audit must go red on it. Guards the regression
    // where a refactor drops the hint and everything still passes at
    // small SF.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val bad = tools.BroadcastAudit.flagsOf(
      operators.TextPipeline.dupSpanCandidateShape(s, sf, hinted = false))
    assert(bad.nonEmpty,
      "audit did NOT flag the unhinted q215 candidate join — the exact " +
        "plan that died at 100× would pass the gate")
    assert(bad.exists(f => f.contains("documents") && f.contains("agg")),
      s"flag should attribute the documents scan via an aggregate: $bad")
    val good = tools.BroadcastAudit.flagsOf(
      operators.TextPipeline.dupSpanCandidateShape(s, sf, hinted = true))
    assert(good.isEmpty,
      s"the hinted (shipped) shape should plan with zero flags: $good")
  }
}
