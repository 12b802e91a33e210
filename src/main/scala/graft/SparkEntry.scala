package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's public catalog: one named, self-contained
  * program per operator in SURVEY.md §2 (plus the LLM-pipeline
  * extensions). Each program is either a DataFrame program or its own
  * oracle text served through `operators.SqlProgram` (where Catalyst
  * compiles the text to the plan the DataFrame program built, the
  * text is the one program). `oracleSql` carries the ANSI-SQL equivalent the driver runs
  * in DuckDB over the same parquet for hash-compare; entries are omitted
  * only where the operator is not SQL-expressible (those get a rows-only
  * check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Flagship.flagship(spark, "/root/testdata/sf0.001")

  /** The operator-family modules making up the catalog. */
  private val modules: Seq[QueryModule] = Seq(ReadPath, Joins, WritePath, Olap, Events, Dedup, TextAnalysis,
      PipelineOps, Similarity, Multimodal, Scalars, StarSchema, Windows, CatalogOps, Graph)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap +
      ("flagship_buyer_home" -> (Flagship.flagship _)) +
      ("flagship_admin_home" -> (Flagship.adminHome _)) +
      ("flagship_worker_home" -> (Flagship.workerHome _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap +
      ("flagship_buyer_home" -> Flagship.flagshipSql) +
      ("flagship_admin_home" -> Flagship.adminHomeSql) +
      ("flagship_worker_home" -> Flagship.workerHomeSql)

  /** One-time artifact builds backing catalog queries — the persisted
    * graph/index warehouse tables and the memoized trained indexes that
    * by bench policy used to charge their Θ(corpus) build to whichever
    * serving query ran first. The bench runs each build SEPARATELY
    * (timed into the artifact's `builds` map) before timing its served
    * queries, so every per-query number is pure SERVE and a serve-path
    * regression can never hide inside build noise (r11 verdict #2).
    * Entries: (build name, query names it serves, idempotent ensure).
    * s3 is deliberately absent: its bucket table is the IN-QUERY index
    * tier, rebuilt per invocation by design — s6 is the persisted tier
    * whose build is split here. */
  def artifactBuilds: Seq[(String, Set[String], (SparkSession, String) => Unit)] = Seq(
    ("graph_frames", Set("g1_pagerank", "g2_bfs_hops", "g3_knn_graph",
      "g4_knn_triangles", "g5_cheapest_path", "g6_label_prop", "g7_kcore",
      "g8_link_predict"), (s, d) => Graph.ensureGraphFrames(s, d)),
    ("ann_srp_index", Set("s6_ann_persistent_index"),
      (s, d) => Similarity.ensureAnnIndex(s, d)),
    ("pq_index", Set("s11_pq_adc"),
      (s, d) => Similarity.ensurePqIndex(s, d)),
    ("ivf_index", Set("s12_ann_ivf_adc"),
      (s, d) => Similarity.ensureIvfIndex(s, d)),
    ("minhash_lsh_index", Set("d10_incremental_neardup"),
      (s, d) => Dedup.ensureLshIndex(s, d)))

  /** The oracle texts that run VERBATIM on Spark SQL under the parity
    * profile (GraftExtensions dialect-compat spellings +
    * `spark.sql.parser.escapedStringLiterals=true`) — the engine's
    * one-text-three-engines surface. Asserted row-identical to the
    * catalog programs by `SqlParitySpec`, and served over the
    * Thrift/JDBC wire by `ThriftServe` (hash-compared end-to-end by
    * `ThriftServerSpec`). The remaining oracle texts use constructs
    * with no shared spelling (see SqlParitySpec's scaladoc). */
  val sqlPortable: Seq[String] = Seq(
    "p1_point_lookup_key", "p2_point_lookup_id", "p3_conjunctive_lookup",
    "p4_filter_scan", "p5_ne_null_semantics", "p6_in_list",
    "p9_projection_rename", "s3_dynamic_scan", "o1_sort_desc_feed", "o2_topk",
    "a1_filtered_counts", "a2_compound_count", "a3_global_sum_empty0",
    "a4_filter_sum", "a5_conditional_counts", "a6_null_safe_sum",
    "j1_semi_join", "j2_enrichment_join", "j3_two_hop_chase",
    "j4_existence_check", "j5_anti_join_guard", "j6_range_band_join",
    "j7_bloom_semi_join", "j8_skew_salted_join", "j10_fuzzy_join",
    "j11_interval_overlap", "j12_asof_join",
    "w1_insert_defaults", "w2_masked_update", "w3_balance_ledger",
    "w4_delete_rewrite", "w5_capacity_rule", "w6_scd2_intervals",
    "w7_partitioned_write", "w8_merge_upsert", "w9_compaction",
    "x1_json_roundtrip", "x2_csv_roundtrip",
    "a7_grouped_agg", "olap_rollup", "olap_cube", "olap_grouping_sets",
    "olap_distinct", "olap_count_distinct", "olap_ntile_quartiles",
    "olap_corr", "olap_regr", "olap_histogram", "olap_pivot", "olap_unpivot",
    "olap_string_agg", "olap_bool_aggregates", "olap_percentiles",
    "olap_approx_distinct", "olap_approx_percentiles", "olap_sketch_rollup",
    "olap_window_suite", "olap_window_suite2", "olap_grouped_topk_udaf",
    "olap_scalar_subquery",
    "set_union", "set_intersect", "set_except",
    "tpch_q1", "tpch_q2", "tpch_q3", "tpch_q4", "tpch_q5", "tpch_q6",
    "tpch_q7", "tpch_q8", "tpch_q9", "tpch_q10", "tpch_q11", "tpch_q12",
    "tpch_q13", "tpch_q14",
    "tpch_q15", "tpch_q16", "tpch_q17", "tpch_q18", "tpch_q19", "tpch_q20",
    "tpch_q21", "tpch_q22",
    "dim_supplier_geo", "skew_salted_agg",
    "s1_ann_bruteforce_topk", "s2_embedding_near_dup", "s7_ann_quantized",
    "s4_ann_ivf",
    "s13_filtered_ann", "s14_hard_negatives", "s15_retrieval_metrics",
    "s16_mmr_rerank",
    "m1_media_catalog", "m2_media_features", "m3_frame_sample",
    "m4_frame_stats", "m5_storage_budget", "m6_perceptual_neardup",
    "m7_audio_features",
    "t4_fingerprint", "t12_bigram_top",
    "t13_repetition_ratio", "t23_bigram_logprob", "t14_decontamination",
    "t30_bm25",
    "d3_dedup_ngram_jaccard", "d4_dedup_minhash_lsh", "d9_block_dedup",
    "d14_containment",
    "d10_incremental_neardup", "pipe2_incremental_ingest",
    "s9_embedding_covariance", "d5b_simhash_oracle",
    "t26_stratified_sample",
    "e1_json_extract", "e2_json_grouped", "e3_tumbling_window",
    "e4_sliding_window", "e5_session_window", "e6_latest_per_user", "e8_funnel",
    "e10_zscore_outliers", "e11_interarrival", "e12_transition_matrix",
    "e13_dau_wau", "e14_attribution", "e15_count_anomaly",
    "e16_session_paths", "e17_rfm_segments", "e19_ab_test",
    "t18_char_entropy", "t19_unigram_logprob", "t20_heavy_hitters",
    "t21_quality_tiers", "t22_zipf_fit", "j9_runtime_bloom_join",
    "g1_pagerank", "g2_bfs_hops", "g3_knn_graph", "g4_knn_triangles",
    "g5_cheapest_path", "g6_label_prop", "g7_kcore", "g8_link_predict",
    "t27_quality_rules",
    "w10_zorder_cluster", "w11_cdc_apply", "w13_time_travel",
    "w15_expectations",
    "w12_incremental_rollup", "x5_schema_evolution", "d13_semantic_dedup",
    "x6_corrupt_tolerant", "pipe4_curation_report",
    "pipe3_train_manifest", "pipe5_data_audit", "pipe6_hybrid_rrf",
    "w14_dynamic_overwrite",
    "t28_mixture_resample", "x4_text_roundtrip", "x7_xml_roundtrip",
    "x8_variant_extract",
    "s5_embedding_centroids", "s8_kmeans_iteration",
    "c4_dynamic_pruning", "x3_orc_roundtrip",
    "d1_dedup_exact_groups", "d2_dedup_exact_select", "d6_dedup_normalized",
    "d8_incremental_dedup",
    "t1_token_counts", "t2_quality_score", "t3_language_id",
    "t5_quality_filter", "t5b_quality_filter_approx", "t7_stratified_sample",
    "t6_corpus_stats", "t8_text_scrub",
    "t9_tfidf_top_terms", "t10_train_split", "t11_source_cap",
    "t15_doc_chunks", "t16_seq_packing", "t17_mixture_weights",
    "pipe1_corpus_prep",
    "f_string_suite", "f_null_semantics", "f_map_suite",
    "c1_catalog_sql", "c2_bucketed_join", "c3_catalog_view",
    "flagship_buyer_home", "flagship_admin_home", "flagship_worker_home")
}
