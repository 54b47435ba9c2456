package graft

import org.apache.spark.sql.execution.ExplainMode

/** Formatted-plan dump for headline queries — the `.explain` audit
  * loop as a repeatable entry point (regenerates repo:PLANS.md).
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q01_pricing_agg", "q02_filter_pushdown", "q03_join_agg",
      "q05_threshold_trigger", "q07_dedup_antijoin", "q21_dedup_ngram_jaccard",
      "q22_dedup_minhash_lsh", "q23_dedup_simhash", "q25_ann_bruteforce_topk",
      "q41_grouped_topk", "q51_lake_roundtrip", "q52_skew_salted_join",
      "q55_dedup_cosine_srp_banded", "q56_winnow_containment",
      "q58_decontaminate", "q61_tfidf_topk", "q62_pack_sequences",
      "q63_pii_scrub", "q65_split_assign", "q66_label_centroids",
      "q67_bucketed_join", "q71_vocab_topk", "q73_stratified_fixed_k",
      // q83 is audited by hand: its driver-held bitmap literal makes
      // the formatted dump unreadable (2048-long array printed twice)
      "q79_semantic_dedup", "q80_ewma_decay", "q81_gap_fill_locf",
      "q82_fuzzy_er_join", "q85_zscore_outliers",
      "q86_pagerank_copurchase", "q88_pq_encode", "q90_bigram_lm_score",
      "q91_percentile_gate", "q105_prefix_filter_jaccard",
      "q106_pq_adc_topk", "q109_dpp_join", "q111_mad_outliers",
      "q112_triangle_count", "q116_global_rownum",
      "q146_boilerplate_removal", "q147_dup_span_stats",
      "q148_dsir_importance", "q152_bm25_topk", "q153_cdc_chunk_dedup",
      "q155_clustering_coefficient", "q157_peak_concurrency",
      "q159_ivfpq_topk", "q161_interval_coverage", "q162_multiprobe_lsh",
      "q170_khop_bfs", "q171_pareto_skyline", "q174_gram_top_pairs",
      "q175_sorted_neighborhood", "q180_association_rules",
      "q182_shortest_path", "q184_funnel_k", "q190_greedy_cover",
      "q191_cusum_changepoint", "q192_chi_square", "q194_tpch_q17",
      "q196_decision_stump", "q197_naive_bayes",
      "q198_quantile_normalize", "q207_countmin_sketch",
      "q209_bootstrap_ci", "q211_kcore", "q212_knn_label_audit",
      "q213_grid_density_outliers", "q214_mutual_knn",
      "q216_next_event_eval", "q217_whiten_embeddings", "q219_tpch_q8",
      "q223_negative_samples", "q224_stl_decompose", "q226_align_spans",
      "q227_ann_recall", "q231_joinable_columns", "q232_balanced_shards",
      "q236_threshold_calibration", "q244_link_prediction",
      "q246_fd_discovery", "q248_kcenter_coreset", "q250_token_bucket",
      "q252_survival_curve", "q254_shard_rebalance", "q255_trending_parts",
      "q270_lsh_param_sweep", "q273_power_iteration",
      "q278_dedup_threshold_sweep", "q280_audio_match",
      "q285_ks_per_source", "q288_avg_neighbor_degree",
      "q290_joinable_sketch",
      "q297_tpch_q2", "q298_tpch_q9", "q301_suffix_array",
      "q302_matrix_profile", "q304_ols_regression",
      "q306_rake_keywords", "q307_mahalanobis_outliers",
      "q309_ransac_line", "q313_beaconing", "q317_aqp_estimate",
      "q318_revenue_bridge", "q321_ipf_raking", "q326_stationary_distribution",
      "q329_temporal_reach", "q333_blast_radius",
      "q132_tpch_q18", "q353_hard_negatives", "q354_intra_repetition",
      "q355_chunk_sliding", "q356_cosine_sweep", "q362_presto_dialect3",
      "q363_sgns_shards", "q364_presto_dialect4",
      "q366_gopher_rules", "q367_fuzzy_decontaminate",
      "q369_contamination_overlap", "q370_remove_dup_spans",
      "q372_bloom_decontaminate", "q375_source_overlap",
      "q376_wordpiece_fertility",
      "q379_curriculum_order", "q380_kneser_ney_score",
      "q381_url_canonical_dedup",
      "q385_dsir_selection", "q386_repetition_filter",
      "q387_idn_host_dedup", "q389_crawl_frontier", "q391_robots_gate",
      "q392_priority_sample", "q393_chunk_windows",
      "q397_crawl_pipeline", "q398_length_buckets",
      "q399_recrawl_priority", "q402_crawl_delay_schedule",
      "q404_presto_dialect10", "q405_crawler_traps",
      "q406_param_relevance", "q410_learned_killset_dedup",
      "q411_warc_ingest", "q412_warc_binary_source",
      "q413_presto_dialect13", "q31_multimodal_metadata",
      "q414_warc_image_chain", "q415_wav_vad", "q416_wav_audio_match",
      "q417_warc_html_text_chain", "q418_presto_reduce_agg",
      "q419_html_text_scale", "q420_wav_g711")
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("ERROR")
    // GRAFT_EXPLAIN_EXEC=1: execute the query first so the dump shows
    // the FINAL adaptive plan (isFinalPlan=true — AQE join rewrites,
    // coalesced reads), not the initial one
    val exec = sys.env.get("GRAFT_EXPLAIN_EXEC").contains("1")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n===== $name =====")
          val df = fn(spark, sfDir)
          if (exec) df.collect()
          println(df.queryExecution
            .explainString(ExplainMode.fromString("formatted")))
        case None => System.err.println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
