package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit artifact: dumps the formatted physical plans of the
  * headline + scale-critical queries to docs/PLANS.md so the shuffle /
  * pushdown / broadcast shape is reviewable without running Spark.
  * Regenerate after plan-affecting changes:
  * `sbt "runMain graft.Plans /root/testdata/sf0.01"`. */
object Plans {
  /** The scale-critical queries dumped beside the headliners. Every
    * name must be a query in [[SparkEntry.defs]] (`EngineSpec` checks):
    * a stale name would drop its plan from the file without a word. */
  private[graft] val extra: Set[String] = Set(
    "q26_sort_full", "q58_ann_ivf", "q75_fulltext_and",
    "q77_hash_embedding", "q90_tpch_q5", "q51b_knn_partial_topk",
    // round-3 scale-shape additions
    "q63_ngram_jaccard", "q69_edit_distance", "q46b_null_aware_semi_flag",
    "q85_stratified_sample", "q98b_tpch_q20", "q99_correlated_scalar",
    // round-5 additions: completed TPC-H tail + repetition signals.
    // q114_dedup_clusters is deliberately absent: its DataFrame's
    // lineage is the whole iterative propagation (a several-thousand-
    // line formatted plan), but execution reads the persisted final
    // labels — the per-round shape is the ccLabels join+groupBy.
    "q110_tpch_q3", "q111_tpch_q6", "q112_tpch_q11", "q113_tpch_q16",
    "q115_repetition",
    // inequality joins + behavioral analytics
    "q120_asof_join", "q121_range_join", "q123_funnel",
    "q124_cohort_retention",
    // round-5 (cont.): quantified-subquery broadcast rewrite
    "q130_quantified_any_all",
    // round-5 (cont.): curation additions — sharded packing window,
    // broadcast n-gram decontamination, positional phrase probe
    "q138_sequence_pack", "q139_ngram_decontaminate",
    "q142_phrase_search",
    // round-5 (cont.): SQL frontier + LM scoring — recursion loop,
    // decorrelated lateral top-k, LM scoring joins
    "q168_recursive_cte", "q169_lateral_topk", "q170_unigram_lm",
    "q174_bigram_lm",
    // round-6: semantic dedup (cluster-local pair join over the
    // materialized k-means assignment), DSIR scoring join, Gopher gate
    "q181_semdedup", "q182_dsir_weights", "q183_gopher_rules",
    // round-6 (cont.): span-level dedup (one span-keyed rank shuffle),
    // hybrid RRF fusion (two bounded top-20 legs), MySQL-JSON scalars
    "q186_span_dedup", "q187_hybrid_rrf", "q185_mysql_json",
    // round-6 (cont.): event-analytics composites + curriculum rank
    "q190_cohort_funnel", "q191_stickiness", "q192_time_to_convert",
    "q188_curriculum_buckets",
    // round-6 (cont. 2): event paths / attribution / RFM / anomaly,
    // LM additions, exact SSJoin, PCA projection pass
    "q193_event_paths", "q194_attribution", "q195_rfm",
    "q196_pmi_collocations", "q199_hourly_anomaly",
    "q201_ssjoin_prefix", "q202_pca_power",
    // round-7: GD classifier gradient pass, Bloom decontamination
    // (prefilter + exact confirm), JM trigram scoring join, global
    // order-statistic winsorize (q215_dup_spans rides headline)
    "q211_quality_classifier", "q212_bloom_decontaminate",
    "q213_trigram_jm_lm", "q214_winsorize",
    // round-7 (cont.): SCD2 windows, gap-fill spine join, fused
    // IVFADC+refine, evaluation rollups, DQ audit unions
    "q216_scd2", "q217_gap_fill", "q218_ivfpq_rerank",
    "q220_eval_prf", "q222_calibration", "q223_dq_audit",
    "q224_group_kfold", "q225_equi_depth_hist",
    // round-8: two-level ROC cumulative, JSD broadcasted model join,
    // double-rank quantile normalization, blocked prefix-sum budget
    // selection, asymmetric incremental dedup, χ² top-k, novelty join
    "q226_roc_curve", "q227_js_divergence", "q228_quantile_normalize",
    "q229_token_budget_select", "q230_incremental_dedup",
    "q231_chi2_keywords", "q234_ngram_novelty",
    // round-8 (cont.): confusion rollup, cascade single-pass, OOV
    // broadcast join, decay rollup, centroid matrix
    // (q236 MMR is driver-iterative — its per-round shape is the
    // broadcast-selected cross join; final frame is local rows)
    "q235_lang_confusion", "q237_cascade_attrition", "q239_oov_rate",
    "q240_decay_weighted_value", "q241_label_centroids",
    // round-8 (cont. 2): leakage anti-join, alpha weights, hard
    // negatives, k-anonymity rollup, Gini rank moment
    "q242_split_leakage", "q243_alpha_sampling", "q244_hard_negatives",
    "q245_k_anonymity", "q246_key_skew_gini",
    // round-8 (cont. 3): midrank moments, MI cells, PSI decile
    // broadcast, the triangle multi-way self-join
    "q247_spearman_signals", "q248_mutual_info", "q249_psi_drift",
    "q250_triangle_count", "q251_burstiness",
    // round-9: hot-cold salted skew join
    "q252_salted_skew_join",
    // round-9 (cont.): word-keyed vocab-overlap self-join, range-
    // exchange embargo split, hash-keyed novelty rollup, unigram-LM
    // perplexity scoring join, iterative BIGINT PageRank (the
    // returned frames are persisted materializations — the cached
    // plan under InMemoryTableScan is the reviewable shape)
    "q253_vocab_overlap", "q254_embargo_split", "q255_crawl_novelty",
    "q256_heldout_perplexity", "q257_pagerank_dupgraph",
    // round-13: the crawl capstone (builds its piles via streaming
    // maintenance, then probes them; the returned frame is the
    // persisted gate assembly — the cached plan under
    // InMemoryTableScan is the reviewable shape)
    "q258_crawl_capstone",
    // round-15: the tick-2 capstone (tick-order precedence; r16
    // builds its piles as three real micro-batches — the reviewable
    // shape is the same gate assembly)
    "q260_crawl_capstone_tick2",
    // round-17: the incremental-IVF probe (q262 rides headline) and
    // the ANN-blocked embedding near-dup probe — the reviewable
    // shapes are the broadcast-bounded centroid/probe sides, the
    // partition-pruned inverted-list scan, and (q263) the
    // shuffle_hash batch-side join
    "q263_embed_neardup_ingest",
    // late r17: BM25 served from maintained piles — the reviewable
    // shapes are the term-bucket partition-pruned tf scan, the
    // |terms|-row broadcast df side, and the 1-row stats broadcast
    "q267_bm25_stream",
    // late r17: the pile-served hybrid — both legs bounded top-20,
    // fusion a full-outer join over ≤40 rows
    "q268_hybrid_rrf_stream",
    // late r17: phrase from the positional pile — two bucket-pruned
    // occurrence scans + the adjacency join
    "q269_phrase_stream")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("docs/PLANS.md")
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val picked = SparkEntry.defs.filter(q => q.headline || extra(q.name))
    val sb = new StringBuilder
    sb.append("# Physical plans — generated by `graft.Plans` at sf0.01\n")
    sb.append("\nWhat to look for: `PushedFilters`/`ReadSchema` at every scan,\n")
    sb.append("`BroadcastHashJoin` for dimension sides, `TakeOrderedAndProject`\n")
    sb.append("for top-k, no unpartitioned `Window` over raw relations, and\n")
    sb.append("exchange counts matching the shuffle budget in `PlanShapeSpec`.\n")
    sb.append("\n## RDD-layer codegen boundary (accepted trade)\n\n")
    sb.append("Plans that rank via `ScalableSort.globalRowNumber` (q26, q204,\n")
    sb.append("q214, q225, q228, q229, q233, q247, ...) show `Scan ExistingRDD`\n")
    sb.append("where the rank is produced: the operator drops to `zipWithIndex`\n")
    sb.append("so the range-exchange boundaries are sampled exactly once (rank\n")
    sb.append("consistency without any persist — the round-7 leak class).\n")
    sb.append("Consequence: lineage DOWNSTREAM of the rank starts outside\n")
    sb.append("whole-stage codegen and rejoins it only after the next exchange,\n")
    sb.append("so a `WholeStageCodegen` span is deliberately split there. The\n")
    sb.append("trade is measured-acceptable (Verify dropped to 165 s when the\n")
    sb.append("zipWithIndex rank replaced the persist+window form; rank-family\n")
    sb.append("queries read at or below their prior bench bands) and buys\n")
    sb.append("bit-stable ranks at every scale — re-proved by the 10x DuckDB\n")
    sb.append("hash checks. Revisit only if a rank feeds a long codegen-only\n")
    sb.append("pipeline with no intervening exchange (none today does).\n")
    sb.append("\n## `WindowExec: No Partition Defined` warnings (audited, benign)\n\n")
    sb.append("The test log shows this Spark warning near the q229/q226-family\n")
    sb.append("specs. Audited r13 (VERDICT \"What's wrong\" #1): every such\n")
    sb.append("window is a two-level-rollup FINAL pass over a BOUNDED table —\n")
    sb.append("per-block offsets (<= N/2^20 rows) or ROC ppm rows (<= 1e6+1 by\n")
    sb.append("construction) — never over a raw relation. The \"no unpartitioned\n")
    sb.append("Window over raw relations\" invariant above holds everywhere;\n")
    sb.append("do not re-audit on the warning alone.\n")
    picked.foreach { q =>
      // NOTE: q.fn is not guaranteed to be lazy — ScalableSort-based
      // operators run real jobs at construction (zipWithIndex's eager
      // count), and the multi-consumer operators deliberately return
      // persisted frames. Sweep after every query so plan generation
      // keeps the same per-query cache invariant as Bench/Verify
      // (harmless at sf0.01; without it 20+ persisted results
      // accumulate across the 90+-plan run).
      val df = q.fn(spark, sfDir)
      sb.append(s"\n## ${q.name}\n\n```\n")
      sb.append(df.queryExecution.explainString(FormattedMode).trim)
      sb.append("\n```\n")
      CacheHygiene.sweep(spark, q.name)
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
    println(s"wrote $out (${picked.size} plans)")
  }
}
