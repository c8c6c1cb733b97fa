package graft

/** Machine-readable scale-evidence inventory (round-13 verdict item 5):
  * every registered query must either be PROBED (on [[ScaleProbe]]'s
  * 10×/100× lists, or measured ad hoc via SPARK_GRAFT_ONLY and merged
  * into a committed `scale_probe_r{N}.json`) or carry a WRITTEN
  * exemption here — one line naming the plan shape that makes a trend
  * measurement uninformative, and, where one exists, the probed
  * exemplar whose curve the query rides. ProbeInventorySpec asserts
  * the partition is total and non-overlapping, so a new query cannot
  * land without either a probe entry or a written note — the gap the
  * round-13 verdict found (three unprobed, un-noted queries) cannot
  * silently reopen.
  *
  * Exemption discipline (the table_checksum convention, rounds 9–13):
  * a query is exempt when its executed plan is one of the shapes whose
  * scaling is already pinned — a stateless projection feeding a keyed
  * aggregate on a BOUNDED key alphabet (map-side combine collapses the
  * exchange), a dimension-bounded relational face, a strict subset of
  * a probed plan, or a gate-scale exact companion that exists only to
  * score a probed approximate operator. Reasons name the exemplar so a
  * reviewer can check the ride is real.
  */
object ProbeInventory {

  /** Queries measured ad hoc (SPARK_GRAFT_ONLY) with entries merged
    * into a committed probe record rather than listed in the default
    * sweep — kept here so the coverage assertion sees them.
    */
  val adhocProbed: Set[String] = Set(
    "dedup_boundary_continuation",  // r13: 10x = 1.20, hash-keyed boundary pairs
    "sonata_h5_v2_source",          // r13: 10x = 0.81, planned container scan
    "sonata_h5_v2_scan_agg",        // r14: the read-path checksum face, probed ad hoc
    "sonata_h5_wide",               // r13: 10x = 1.10, 2048-member multi-SNOD groups
    "quality_nb_confusion",         // r14: re-measured honest under the noop sink
                                    //     (10x 0.55, 100x 9.97; the old 0.25 timed only
                                    //     the eager train side - count() pruned the fold)
    "quality_filter_topk_pct",      // r14: 10x = 0.83 (two-phase exact-rank filter apply)
    "dedup_bq_banded_pairs",        // r14: 10x = 2.40, quadratic-at-fixed-band-width by
                                    //      design — see the ratio_note on the record
    "dedup_bq_banded_adaptive",     // r14: 10x = 0.28, the occupancy-adaptive width knob
    "unigram_apply_segment",        // r14 continuation: HOF decode, 10x 0.33 / 100x 7.36
                                    //     on the record (was exemption-noted pre-rewrite)
    "lm_backoff_doc_ppl",           // r14 continuation: the bigram-LM scoring chain
    "dedup_paragraph_checksum",     // r14 continuation: the UNPRUNABLE keep-first timing
    "paragraph_dup_profile",        // r14 continuation: narrow-exchange winner profile
    "paragraph_boilerplate_profile", // r14 continuation: hash-keyed df-count profile
    "dedup_paragraph_keepfirst",    // r14 continuation: honestly timed once the noop
                                    //     sink landed (count() join-eliminated it)
    "quality_ensemble_matrix",      // r14 continuation: the 3-signal vote-frame chain
    "dedup_paragraph_incremental",  // r14 continuation: standing-corpus anti-join ingest
    "mixture_quality_tiers",        // r14 continuation: vote frame + 4-row fill window
    "lm_loo_source_value")          // r14 continuation-2: 10x = 1.37 warm-over-warm

  /** 100×-listed queries whose 10× evidence lives on CARRIED probe-record
    * entries (measured in the round they landed, flagged `carried_from`
    * per the r12 drift adjudication) rather than the default sweep.
    */
  val carried10x: Set[String] = Set(
    "anova_f_oneway", "kruskal_wallis_h",      // r11 session wave, ad-hoc 10x
    "assoc_rules_lift", "fingerprint_winnow",  // r10 third wave, ad-hoc 10x
    "pipeline_tokenize_pack",                  // r10 third wave, ad-hoc 10x
    "bradley_terry_strength")                  // r13: 10x = 1.24 on the record

  private def fam(reason: String)(names: String*): Seq[(String, String)] =
    names.map(_ -> reason)

  /** name -> one-line exemption reason. */
  val exempt: Map[String, String] = (
    // ---- individually-argued notes (round-13 verdict item 5) ----
    Seq(
      "sonata_h5_v2_pruned" ->
        ("strict planned-subset of the probed sonata_h5_v2_source scan (same splits, fewer " +
          "column regions); Hdf5SourceSpec's byte meter asserts bytes read = planned_rows x " +
          "pruned row width EXACTLY, a stronger invariant than a timing ratio"),
      "ann_ivf_cell_stats" ->
        ("cell-keyed occupancy/imbalance aggregate over the probed IVF build's cell assignment " +
          "(ann_ivf_topk 10x+100x); output is nlist-bounded, the scan is one corpus pass"),
      "vocab_growth_heaps" ->
        ("log2-bounded prefix panel (≤ ~40 cutoffs) x word-keyed distinct aggregate; corpus " +
          "pass count is fixed by the cutoff count, and the Heaps-sublinearity claim itself " +
          "carries the bpe_train_merges 100x curve"),
      "anomaly_seasonal_residual" ->
        ("hour-of-week-bounded seasonal profile join + residual scan; board cost adjudicated " +
          "r9/r10 by isolated A/B (construction-time dominated)"),
      "batch_length_buckets" ->
        "stateless projection + floor-log2-bounded keyed aggregate (≤ ~40 groups)",
      "dedup_substring_span_ranges" ->
        ("RLE range compaction of the probed dedup_substring_spans output (strict " +
          "post-processing of a probed plan, rle_group_ranges-shaped)"),
      "ann_bruteforce_topk" ->
        ("broadcast-panel corpus-linear scan, query side fixed at 10: the identical shape " +
          "probed as ann_bq_topk (10x 0.97, 100x 0.94) at 32x the per-row width"),
      "table_checksum" ->
        "single conditional-sum scan — the canonical exempt shape the convention is named for",
      "shard_manifest_checksum" ->
        "per-shard xxhash64 fold: one scan, shard-keyed aggregate, manifest-sized output",
      "preference_margin_distribution" ->
        ("the probed dpo_pair_construction explode minus its budget window, feeding a " +
          "floor-log2-bounded keyed aggregate (≤ ~40 buckets)"),
      "bt_strength_calibration" ->
        ("rides the probed bradley_terry_strength fit (10x 1.24, 100x 2.47): two " +
          "pair-keyed equi-joins + an 11-band keyed aggregate on top of the same chain"),
      "unigram_vs_bpe_fertility" ->
        ("one extra lattice join round + a lang-keyed aggregate on top of the probed " +
          "unigram_lm_train fit; the BPE side is the exempt tokenizer_fertility scan"),
      "unigram_prune_refit" ->
        ("the probed unigram_lm_train fit + a 1-row mean-threshold broadcast + one more " +
          "EM round of the identical shape"),
      "unigram_multichar_coverage" ->
        ("the fertility face's lattice join with a len-conditional sum instead of a " +
          "length fold; rides unigram_lm_train's curve"),
      "preference_rater_agreement" ->
        ("pair-keyed aggregate into a 6-band decisiveness alphabet on the probed " +
          "bradley_terry comparisons table; map-side combine collapses the exchange"),
      "quality_nb_model" ->
        ("feature-alphabet-bounded keyed aggregate (≤ ~60 (feat,val) cells) over the " +
          "stateless gopher-stat projection; the full chain carries the " +
          "quality_nb_confusion probe (10x 0.25)"),
      "quality_nb_source_rates" ->
        ("the probed quality_nb_confusion score chain with a #sources-keyed finisher " +
          "instead of the 1-row confusion fold"),
      "quality_nb_ablation" ->
        ("the probed quality_nb_confusion score chain + a constant 5-way in-row " +
          "explode into a variant-alphabet confusion aggregate"),
      "grpo_group_advantage" ->
        ("group-keyed aggregate + co-partitioned group-keyed equi-join back (the probed " +
          "winsorize_by_group shape) feeding a sign x ~40-band alphabet aggregate"),
      "reward_best_of_n_gain" ->
        ("one group-keyed aggregate into a floor-log2 size-band alphabet; " +
          "plan-trivially linear like batch_length_buckets"),
      "mixture_waterfill_budget" ->
        ("one corpus token-count scan + source-alphabet rank windows (k rows; " +
          "kind-scoped in the plan sweep) — the mixture_epochs_budget shape with a " +
          "water-level fold"),
      "quality_ensemble_keep" ->
        ("the probed quality_ensemble_matrix vote frame (gopher + NB + backoff-LM " +
          "chains, each probed on its own) with a #sources-keyed finisher"),
      "quality_filter_kappa" ->
        ("the probed quality_ensemble_matrix vote frame folded into ONE row of pair " +
          "marginals, fanned to 3 rows in-row — no data-sized work past the fold"),
      "lm_backoff_coverage" ->
        ("the probed lm_backoff_doc_ppl scoring chain (pair explode + two token-keyed " +
          "model joins) with a #sources-keyed finisher instead of the doc-keyed one"),
      "lm_backoff_ppl_bands" ->
        ("the probed lm_backoff_doc_ppl chain + a #langs-row exact-percentile broadcast " +
          "and a (lang, band)-bounded aggregate — the curriculum_phase_manifest " +
          "threshold discipline"),
      "curation_funnel_audit" ->
        ("the probed pipeline_curate_corpus chain evaluated ONCE (stage id-frames " +
          "persisted) + five id-keyed count joins — strict audit superset of the " +
          "probed plan"),
      "dsir_bucket_weights" ->
        ("strict prefix of the probed dsir_doc_scores chain (the model build alone); " +
          "output is Buckets-bounded (1024 rows) by construction"),
      "dsir_source_scores" ->
        ("the probed dsir_doc_scores chain with a #sources-keyed finisher instead of " +
          "the doc-keyed one (the lm_backoff_coverage convention); also the " +
          "streaming_dsir_monitor oracle donor"),
      "wordpiece_symbol_vocab" ->
        ("strict suffix of the probed wordpiece_train_merges chain: the same 5-round " +
          "trainCore plus one vocabulary-keyed aggregate (type-bounded output)"),
      "dsir_vs_nb_agreement" ->
        ("composition of two probed chains (the dsir_select_quota exact rank + the " +
          "quality_nb_confusion scoring chain) joined doc-keyed into a 1-row " +
          "kappa fold — no new exchange shape"),
      "wordpiece_apply_merges" ->
        ("the probed wordpiece_train_merges chain (10x 1.13, 100x 1.55) + ONE " +
          "word-keyed equi-join fanning the type stream to instances — the " +
          "bpe_apply_merges recover step on the wordpiece stream"),
      "wordpiece_vs_bpe_overlap" ->
        ("composition of two probed trainers (wordpiece_train_merges + the " +
          "bpe_train_merges 10x/100x record) intersected on a 5-row merge list"),
      "pack_fill_sorted" ->
        ("the corpus_pack_shards plan (two-phase weighted prefix scan, probed via " +
          "pipeline_tokenize_pack 10x/100x) with sort key (n_tokens desc, doc_id) " +
          "and a shard-keyed rollup — no new exchange shape"),
      "vocab_heaps_exponent" ->
        ("strict suffix of the vocab_growth_heaps chain (itself exempt: log2-bounded " +
          "prefix panel) + a 1-row integer least-squares fold over <= log2(D) buckets"),
      "sonata_h5_chunked_v2" ->
        ("FIXTURE-bounded foreign-container read (600 rows, committed bytes — no " +
          "scale axis); the split/scan machinery is the probed sonata_h5_v2_source " +
          "path, chunked columns reading identical byte counts (byte-meter-asserted " +
          "in ForeignHdf5FixtureSpec)"),
      "sonata_h5_chunked_pruned" ->
        ("strict planned-subset of sonata_h5_chunked_v2 (same fixture, fewer " +
          "column regions + edge_id range); pruning exactness is byte-meter-asserted"),
      "sonata_h5_v2sb_source" ->
        ("FIXTURE-bounded new-style-container read (20 rows, committed bytes); " +
          "the planned scan machinery is the probed sonata_h5_v2_source path — " +
          "only the metadata walk (superblock v2 / OHDR v2 / compact links) differs, " +
          "and metadata is header-sized at any container scale")
    )
    // ---- bounded-alphabet keyed aggregates (map-side combine; the
    // exchange carries partitions x alphabet rows, never the data) ----
    ++ fam("stateless scan + keyed aggregate on a bounded alphabet (bins/classes/sources/" +
      "hours/thresholds); map-side combine collapses the exchange — plan-trivially linear")(
      "abtest_auc", "abtest_conversion", "abtest_diff_in_diff", "abtest_srm_check",
      "calibration_ece_brier", "calibration_reliability", "chi2_independence",
      "cohens_kappa", "cramers_v", "fleiss_kappa", "krippendorff_alpha",
      "matthews_corr", "mcnemar_test", "multiclass_prf", "pr_curve_by_threshold",
      "welch_ttest", "langid_confusion", "lang_id_ngram", "doc_char_classes",
      "text_quality", "text_readability", "quality_gopher_rules",
      "quality_gopher_by_source", "quality_repetition", "corpus_burstiness",
      "topic_mix_by_source", "moment_stats", "correlation_by_group",
      "regression_by_group", "histogram_by_key", "global_max", "global_sum",
      "count_records", "count_distinct", "distinct_rows", "approx_distinct_hll",
      "cms_token_counts", "hll_distinct_check", "hll_rollup_check",
      "kmv_vocab_overlap", "frequent_tokens_check", "frequent_tokens_sketch",
      "dq_constraints", "dq_profile", "dq_freshness", "dq_benford",
      "dq_skew_profile", "dq_k_anonymity", "dq_l_diversity", "dq_t_closeness",
      "drift_js_bins", "drift_ks_binned", "drift_psi_bins",
      "gini_impurity_by_user", "dau_wau_stickiness", "cumulative_distinct_users",
      "seasonality_profile", "timeseries_autocorr", "timeseries_twap",
      "timeseries_ohlc", "outlier_iqr", "outlier_mad", "percentile_agg",
      "percentile_approx_agg", "percentile_approx_check", "equidepth_bins",
      "standardize_by_group", "lm_oov_coverage", "tokenizer_fertility",
      "vocab_build", "vocab_spectrum", "source_overlap_jaccard",
      "doc_fingerprint", "chunk_documents", "sample_hash_pct",
      "train_valid_test_split", "mixture_fixed_weights", "mixture_epochs_budget",
      "theilsen_trend", "funnel_steps", "markov_transitions",
      "longest_increasing_streak", "event_window_agg", "event_sliding_window",
      "survival_kaplan_meier", "survival_logrank", "survival_nelson_aalen",
      "cohort_retention", "cohort_conversion_delay", "cohort_ltv",
      "time_decay_revenue", "fairness_equalized_odds", "fairness_parity_gap",
      "recsys_coverage", "corpus_duplication_rate")
    // ---- dimension-bounded relational faces ----
    ++ fam("dimension-bounded relational face (TPC-H-scale dims / bounded per-key window " +
      "depth); the canonical Catalyst plan at any scale, pushdown machine-checked by " +
      "PlanSweepSpec")(
      "q1_agg", "q3_shipping_priority", "q5_local_supplier_volume", "topk_orders",
      "join_broadcast", "join_shuffle", "join_semi", "join_anti", "join_theta",
      "join_full_outer", "join_null_safe", "join_bucketed", "join_asof_nearest",
      "join_asof_tolerance", "asof_join", "join_bloom_prefilter",
      "join_range_binned", "join_interval_overlap_auto", "union_all",
      "union_schema_evolution", "intersect_keys", "except_keys", "window_rank",
      "window_lag_lead", "window_first_last", "window_running_sum",
      "window_range_frame", "window_dist_stats", "cube_agg", "rollup_agg",
      "grouping_sets_agg", "pivot_agg", "unpivot_long", "topk_agg_check",
      "topk_per_key", "topk_window_rewrite", "topk_others_rollup", "limit_n",
      "drop_columns", "cast_narrow", "project_rename_flatten",
      "bit_unpack_branch_type", "validate_range", "scalar_functions",
      "array_functions", "json_extract_props", "text_normalize", "text_tokens",
      "text_bpe_tokens", "scan_parquet_dir", "scan_merge_schema",
      "scan_metadata_sidecar", "partitioned_scan_prune", "compact_small_files",
      "sink_parquet", "sink_csv_roundtrip", "sink_jsonl_roundtrip",
      "sink_orc_roundtrip", "share_of_parent", "snapshot_diff", "upsert_latest",
      "scd2_intervals", "skyline_pareto", "dq_referential", "merge_intervals",
      "interval_coverage", "open_intervals_per_day", "sessionize",
      "sessionize_native")
    // ---- fixed-width container faces ----
    ++ fam("record-aligned fixed-width container face, linear by construction; the heavy " +
      "container I/O paths carry probes (edges_to_sonata_h5, sonata_h5_indices at 10x AND " +
      "100x)")(
      "scan_touch_index", "scan_touch_v2_source",
      "touch2parquet_pipeline", "synapse_id_gen", "enum_library_codes",
      "partition_uniform")
    // ---- range-shuffle + bucket-prefix-sum layout idiom ----
    ++ fam("range-repartition + per-bucket prefix-sum layout idiom; probed via " +
      "csr_secondary_index, rfm_segments, winsorize_by_group")(
      "csr_primary_index", "sort_ranges", "shuffle_by_key_range",
      "dense_left_join_sequence", "exclusive_prefix_sum", "global_position",
      "hilbert_layout", "zorder_layout", "corpus_shuffle_order")
    // ---- two-phase exact-rank shape ----
    ++ fam("two-phase exact-rank shape (range repartition + broadcast bucket offsets, no " +
      "global window); probed via quantile_normalize, exact_median_selection, " +
      "spearman_bucketed")(
      "ecdf_normalize", "contribution_pareto", "gini_coefficient",
      "mannwhitney_u", "lm_zipf_bitlog", "spearman_doc_signals",
      "grouped_median_exact", "sample_stratified_exact", "sample_per_class_cap",
      "sample_bottomk_kmv", "sample_temperature_quota", "sample_weighted",
      "length_match_resample")
    // ---- hash-keyed dedup faces riding probed shapes ----
    ++ fam("hash-keyed dedup face riding the probed exact/banded candidate shapes " +
      "(dedup_minhash_lsh, dedup_ngram_jaccard, dedup_ppjoin at 10x; minhash at 100x)")(
      "dedup_exact", "dedup_exact_prefix", "dedup_keep_best", "dedup_containment",
      "dedup_sorted_neighborhood", "dedup_incremental_jaccard",
      "dedup_minhash_incremental", "dedup_simhash", "dedup_simhash_pairs",
      "golden_record_survivorship", "fuzzy_title_pairs",
      "edit_distance_neighbors", "multimodal_dedup_exact", "split_cluster_aware")
    // ---- gate-scale exact companions ----
    ++ fam("gate-scale exact companion BY DESIGN: a full-pair or full-rank exact side " +
      "scoring a probed approximate operator's recall — never the production path " +
      "(the dedup_simhash_recall adjudication, round 9)")(
      "dedup_simhash_recall", "dedup_minhash_recall", "dedup_minhash_incr_recall",
      "dedup_bq_banded_recall",
      "ann_lsh_recall", "ann_ivf_recall", "ann_pq_recall", "ann_ivfpq_recall",
      "ann_matryoshka_recall", "ann_mrr_check", "ann_kendall_tau")
    // ---- ANN / embedding faces riding probed generators ----
    ++ fam("bounded-query-panel ANN/embedding face riding the probed cell/bucket " +
      "generators (ann_ivf_topk, ann_lsh_bucketed at 10x AND 100x; ann_bq_topk; " +
      "embedding_pca_power; ann_hard_negatives)")(
      "ann_pq_topk", "ann_ivfpq_topk", "ann_bq_rerank_recall",
      "hard_negative_mining", "knn_graph_mutual", "embedding_kmeans_assign",
      "kmeans_inertia", "kmeans_silhouette", "embedding_outlier_score",
      "embedding_covariance", "embedding_dim_stats", "embedding_sq8_stats",
      "dedup_embedding_cosine", "dedup_semantic")
    // ---- graph faces riding probed round shapes ----
    ++ fam("frontier-round / wedge graph face riding the probed shapes " +
      "(graph_pagerank_dangling/_personalized, graph_triangles at 10x+100x, " +
      "graph_multi_source_bfs, graph_link_prediction)")(
      "graph_pagerank", "graph_bfs_layers", "graph_sssp_weighted", "graph_kcore",
      "graph_label_propagation", "graph_label_propagation_weighted",
      "graph_modularity", "graph_clustering_coeff", "graph_assortativity",
      "degree_distribution", "graph_bipartite_projection",
      "graph_harmonic_landmarks", "graph_landmark_ecc", "link_pred_adamic_adar")
    // ---- streaming harness faces ----
    ++ fam("memory-sink streaming harness face sharing its batch twin's oracle " +
      "bit-for-bit; complete-mode state rides bounded keys; the stateful-depth curves " +
      "are probed via streaming_dedup + streaming_cusum (10x AND 100x) and " +
      "streaming_checksum")(
      "streaming_anova_f", "streaming_calibration", "streaming_cdc_upsert",
      "streaming_drift_psi", "streaming_fertility", "streaming_freshness_monitor",
      "streaming_funnel", "streaming_hll_window", "streaming_join",
      "streaming_join_outer", "streaming_length_buckets", "streaming_ohlc",
      "streaming_backoff_monitor",
      "streaming_nb_quality", "streaming_oov_monitor", "streaming_pii_monitor",
      "streaming_quality_monitor", "streaming_sessionize",
      "streaming_sliding_window", "streaming_static_antijoin",
      "streaming_surprisal_monitor", "streaming_topic_mix",
      "streaming_topk_window", "streaming_vocab_drift", "streaming_window_agg",
      "streaming_dsir_monitor")
    // ---- multimodal codec faces ----
    ++ fam("pure-JVM codec face in mapPartitions over class-bounded blob sets; per-row " +
      "decode, no exchange; the pair/pack exchanges carry probes " +
      "(multimodal_image_ahash_pairs, multimodal_pack_shards)")(
      "multimodal_blob_roundtrip", "multimodal_catalog",
      "multimodal_channel_stats", "multimodal_decode_bmp",
      "multimodal_decode_ppm", "multimodal_decode_quarantine",
      "multimodal_decode_wav", "multimodal_features", "multimodal_frame_sample",
      "multimodal_image_embed_topk", "multimodal_thumbnail_bmp",
      "multimodal_wav_frames", "multimodal_wav_resample",
      "multimodal_wav_silence_runs")
    // ---- tokenizer-chain faces riding the probed BPE chain ----
    ++ fam("vocabulary-bounded tokenizer-chain face riding the probed BPE train/pack " +
      "chain (bpe_train_merges, pipeline_tokenize_pack at 10x AND 100x)")(
      "bpe_apply_merges", "pack_fill_audit", "corpus_pack_shards")
    // ---- text/LM faces riding probed keyed-join shapes ----
    ++ fam("word/ngram-keyed face riding a probed text exemplar (tfidf_top_terms " +
      "10x+100x, lm_kn_continuation 10x+100x, memorization_ngrams, " +
      "quality_surprisal_by_source)")(
      "bm25_topk", "colloc_pmi_bigrams", "lm_bigram_novelty",
      "quality_unigram_surprisal", "decontaminate_ngrams", "bm25_prf_expansion")
    ++ fam("stateless per-row substring arithmetic (no exchange) + a source-keyed " +
      "audit aggregate; the doc-sample face is doc_id<40-bounded like pii_redact_docs")(
      "fim_transform_docs", "fim_split_audit")
    ++ fam("the probed curriculum_phase_manifest chain + a <= phases-row bounded " +
      "cumulative window")(
      "curriculum_pacing_schedule")
    ++ fam("value/key-alphabet keyed aggregates (the dq_skew_profile shape): the " +
      "unpivot/histogram exchange rides each column's value alphabet with map-side " +
      "combine, one summary row out")(
      "encoding_entropy_audit", "join_cardinality_forecast")
    // ---- misc rides ----
    ++ fam("span-bounded grid face: scale densifies observations per cell, not rows; " +
      "probed via timeseries_interpolate / seasonal_decompose")(
      "timeseries_gap_fill")
    ++ fam("basket-bounded co-occurrence face riding the probed itemset miner " +
      "(assoc_rules_lift at 10x AND 100x)")(
      "itemset_top_triples")
    ++ fam("per-user bounded-fanout attribution face; probed via attribution_linear")(
      "attribution_last_touch")
    ++ fam("#sources-keyed triple-regex projection + bounded aggregate; the scan shape " +
      "carries the pii_detect_counts probe (10x = 1.15)")(
      "pii_redact_audit", "pii_redact_docs", "pii_source_quarantine")
    ).toMap

  /** Every name that carries scale evidence: the default 10× sweep, the
    * pinned 100× list, and ad-hoc-probed entries on a committed record.
    */
  def probed: Set[String] =
    ScaleProbe.Probed10x.toSet ++ ScaleProbe.Scale100Queries ++ adhocProbed ++ carried10x
}
