"""Named query registry: every operator exposed to the driver harness.

Each entry pairs a Spark DataFrame callable ``(spark, sf_dir) -> DF``
with an equivalent DuckDB ``oracle`` SQL string (or None for
non-SQL-expressible operators, which get a weaker rows-only check).

Determinism rules (the driver hash-compares values order-insensitively
but exactly):
- alias every computed column identically on both sides;
- ROUND floating aggregates to a fixed scale on both sides (double
  summation order differs between Spark partitions and DuckDB);
- cast timestamps to DATE or strings where the value is date-like;
- break ties deterministically (min/row_number with full ORDER BY).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL over pre-registered fixture views
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    """Decorator registering a (spark, sf_dir) -> DataFrame callable."""

    def wrap(fn: SparkQuery) -> SparkQuery:
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def spark_queries() -> dict[str, SparkQuery]:
    return {name: spec.spark for name, spec in REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


# Importing the modules below populates REGISTRY via the decorator;
# the explicit ROUND*_FRONT reorder below then pins the driver-facing
# front block exactly (the external harness verifies registry entries
# front-to-back with a ~50/round budget, so the front block is a
# deliberate, rotated choice — see dso_import_spark/rotation.py).
from dso_import_spark.queries_pkg import (  # noqa: E402,F401
    ref_semantics,
    windows,
    similarity,
    text,
    multimodal,
    scale,
    streaming_queries,
    tpch_rest,
    wkt_scan,
    modern_sql,
    cleaning,
    core,
    dedup,
    extras,
    layout,
    llm_pipeline,
    advanced,
    corpus_quality,
    curation,
    analytics,
    placement,
    stats_ops,
    mlops,
    compositions,
    mlops2,
    mlops3,
    mlops4,
    tsops,
    mlops5,
    retrieval,
)

# ROUND 13 FRONT BLOCK (applied): zero never-verified rows remain, so
# the whole front keeps draining the dep-aware stale backlog — exactly
# the head of last round's pre-staged ROUND13_QUEUE, confirmed against
# `python -m dso_import_spark.rotation` this round (109 stale greens,
# set-equal to the staged queue: the r5-era mlops/streaming/semdedup
# rows lead, then the r5/r6 tpch-era block). New queries born this
# round go at the HEAD (cadence rule).
ROUND13_FRONT = [
    # (-1) born/behavior-changed THIS round (r13): the persisted-index
    # serving path gained its own driver row; ann_ivf_pq_topk's
    # oracle split its query/corpus CTEs (the r12 advisory — NULL-label
    # QUERY rows are now scored by both sides, matching the kernel);
    # the funnel's pair dispatch gained the max-df predicate
    # (VERDICT r12 #4) on both engines
    "ann_ivf_pq_indexed_topk", "ann_ivf_pq_topk", "corpus_curation_pipeline",
    "unpivot_melt_measures", "table_profile", "cms_frequency_estimate",
    "bpe_regex_token_count",
    "vocab_oov_rates", "temperature_mix_weights", "ann_pq_topk",
    "hopping_window_counts", "stream_hopping_hour", "stream_static_enrich",
    "funnel_conversion", "gapfill_locf_hourly", "semdedup_prune",
    "semdedup_prune_autok", "cohort_retention", "sliding_distinct_users",
    "sparse_tfidf_topk", "activity_streaks", "mode_event_type",
    "value_outliers_mad", "stream_session_dynamic_gap",
    "decimal_money_totals", "schema_evolution_scan",
    "partition_overwrite_merge", "cdc_apply_changes",
    "boilerplate_ngram_mass", "bpe_pair_merge_counts",
    "length_quantile_filter", "rfm_segmentation", "bitmap_exact_distinct",
    "seasonal_baseline_residuals", "q02_min_cost_supplier",
    "q07_volume_shipping", "q08_market_share", "q09_product_type_profit",
    "q15_top_supplier", "q19_disjunctive_revenue",
    "q20_part_promotion_suppliers", "q21_waiting_suppliers",
    "q05_nation_revenue", "set_ops_nations", "q17_small_quantity_revenue",
    "equi_depth_histogram", "equi_depth_histogram_approx",
    "compaction_bin_packing", "pivot_event_matrix",
    "skyline_pareto_frontier",
]

# Highest CORRECTNESS_r{N} round the front block above was chosen
# against: queries green in rounds <= this were deliberately excluded
# (unless stale or FORCE_REVERIFY). Bump when rotating
# (tests/test_rotation.py checks the choice against exactly these
# rounds, so a *new* round's results landing mid-cycle doesn't
# retroactively red the suite).
FRONT_CHOSEN_AGAINST_ROUND = 12

# Deliberate evidence-freshness picks that are neither never-verified
# nor dep-stale. Empty this round: the dep-aware stale set (109 rows)
# exceeds the front budget on its own, so every slot goes to genuinely
# stale evidence — spending one on a fresh-green row would be waste.
FORCE_REVERIFY: list[str] = []

# ROUND 14 QUEUE (pre-staged): the dep-stale backlog the round-13
# front could not fit — same oldest-driver-evidence-first order as the
# round-12 staging (the r5/r6 tpch-era tail, then the retrieval/ANN
# certification block, then the rows re-staled by round-12's own
# edits, whose r8-r11 evidence is the freshest in the queue). Surplus
# driver budget (or the next rotation) lands here before any fresh
# green. New queries added mid-round go at the HEAD of the FRONT.
# Recompute with `python -m dso_import_spark.rotation` when rotating.
# Any commit that touches a module a registered query depends on must
# append the rows it re-stales to this queue IN THAT SAME COMMIT: the
# rotation CLI lists them (stale greens outside front + queue) once the
# edit is committed. Round 14 skipped this step and left 23 stale
# greens unstaged until they were appended below.
ROUND14_QUEUE = [
    # displaced from the round-13 front by this round's head slots
    "theil_sen_trend", "q10_returned_items", "q11_important_balances",
    "q12_late_shipment_priority",
    "q13_customer_order_distribution", "q14_promo_revenue",
    "q16_supplier_part_counts", "q22_idle_customers", "q01_pricing_summary",
    "q03_top_revenue_orders", "q06_forecast_revenue",
    "conditional_agg_pivot", "distinct_agg", "semi_join_big_spenders",
    "anti_join_no_orders", "rollup_lineitem", "cube_orders",
    "pivot_returnflag", "percentile_quantity", "range_join_price_bands",
    "json_extract_events", "string_math_funcs", "q04_order_priority",
    "q18_large_orders", "variant_json_events", "sql_pipe_syntax",
    "histogram_width_bucket", "regression_stats", "retrieval_hybrid_topk",
    "rerank_hashed_crossencoder", "ann_multiprobe_topk",
    "ann_crosssource_topk", "ann_recall_report", "banding_estimator_cert",
    "shingle_containment_banded", "dedup_simhash_fingerprints",
    "semdedup_autok_kernel", "stream_tail_ingest",
    # re-staled IN round 12 by the advisory-fix commit (dep-aware
    # checker working as designed): module siblings of the three
    # behavior-changed queries — their own code paths are identical
    # (extras/mlops4/compositions/dedup/ann_kernel shared-module
    # edits), and their r8-r11 evidence is the freshest here, so
    # they go last; the local hostile gate re-runs them anyway.
    "bh_fdr_correction", "randomized_response_debias",
    "mutual_information_cols", "ratio_metric_delta_ci", "eb_shrunken_rates",
    "jsonl_rescue_scan", "pinball_loss_eval", "wasserstein_drift",
    "theil_sen_capped", "zorder_layout_stats", "bm25_scoring",
    "source_quality_blocklist", "decile_lift_table", "auc_mann_whitney",
    "cusum_changepoint", "weighted_sample_es",
    "shingle_containment", "minhash_recall_cert", "cluster_aware_split",
    "l_diversity_audit", "woe_feature_binning", "join_cardinality_estimate",
    "dedup_minhash_lsh", "ann_lsh_topk",
    # re-staled IN round 13 by the persisted-index commit (module
    # siblings in extras + the similarity family sharing
    # operators/ann_kernel.py); their r12 evidence is the freshest in
    # the queue, so they go last — the local hostile gate re-runs them
    "ann_brute_force_topk", "ann_ivf_topk", "embedding_near_dup_lsh",
    "embedding_near_dup", "ivf_kmeans_train", "wkt_coerce_geometries",
    "date_parse_variants", "hash_split_train_test",
    "dedup_cluster_components", "dedup_cluster_canonical",
    "sql_entry_point", "udaf_geometric_mean", "udtf_sentence_split",
    "spatial_bbox_join",
    # re-staled IN round 13 by the funnel max-df commit (compositions
    # module sibling, r12 evidence)
    "shingle_containment_prefix",
    # re-staled IN round 13 by the optimization pass (dep-aware
    # checker working as designed): shared-module edits only —
    # operators/similarity.py (batched PQ training, trainer update
    # shuffle), operators/dedup.py (components limit-probe),
    # operators/ann_kernel.py (index write/read), queries_pkg/
    # compositions.py (shingle checkpoint), queries_pkg/core.py
    # (band-table slicing). No query's RESULTS changed (every
    # touched family re-verified against the oracle at sf0.001/
    # sf0.01 this round); evidence here is r8-r12, freshest in the
    # queue, so they go last.
    "dedup_exact_stats",
    "dedup_prefix_groups",
    "dedup_ngram_jaccard",
    "dedup_minhash_banded",
    "incremental_corpus_dedup",
    "dedup_substring_spans",
    "stratified_sample_lang",
    "seq_packing_bins",
    "decontam_ngram_overlap",
    "corpus_pipeline_stats",
    "lm_bigram_quality",
    "source_overlap_matrix",
    "quality_classifier_score",
    "priority_sample_topk",
    "dsir_importance_scores",
    "diversity_distinct_ngrams",
    "bloom_join_prune",
    "basket_pair_affinity",
    "record_linkage_fuzzy",
    "pagerank_shipments",
    "incremental_agg_refresh",
    "feature_scale_normalize",
    "notin_null_semantics",
    "ewma_fixed_lags",
    "drift_psi_periods",
    "benford_first_digit",
    "triangle_count_parts",
    "dedup_prefix_filter_pairs",
    "capped_running_balance",
    "incremental_distinct_sketch",
    "attribution_first_last_touch",
    "exact_quota_sample",
    "twap_time_weighted",
    "ohlc_hourly_bars",
    "table_content_checksum",
    "event_path_trigrams",
    "ab_test_welch_t",
    "revenue_gini",
    "dq_expectations_report",
    "hard_negative_mining",
    "drift_ks_statistic",
    "cuped_variance_reduction",
    "did_difference_in_differences",
    "srm_sample_ratio_check",
    "winsorized_variant_means",
    "spatial_knn_radius",
    "weekly_growth_rates",
    "arrival_anomaly_days",
    "funnel_time_to_convert",
    "abc_pareto_classes",
    "event_transition_matrix",
    "rendezvous_sharding",
    "session_duration_stats",
    "daily_retention_d1_d7",
    "char_entropy_quality",
    "gopher_quality_gate",
    "ngram_novelty_decay",
    "word_zipf_slope",
    "embedding_dim_stats",
    "embedding_quantize_int8",
    "k_anonymity_audit",
    "join_key_skew_profile",
    "embedding_covariance",
    "stratified_sample_exact",
    "ridge_regression_normal_eq",
    "dp_sensitivity_audit",
    "selectivity_estimate_cert",
    # re-staled IN round 14 by the merge-counts commit (f8f6cb0:
    # operators/merge.py + queries_pkg/ref_semantics.py) and the two
    # SemDeDup checkpoint-gate commits (def2e92, 83a96f7:
    # operators/similarity.py, which queries_pkg/windows.py reaches
    # transitively). Their r9-r12 evidence is among the freshest in
    # the queue, so they go last; stale_green() order.
    "surrogate_key", "multi_id_zip", "safe_int_cast", "tri_state_boolean",
    "interval_validity_filter", "open_interval_gate", "temporal_overlap",
    "fk_validation", "delete_detection", "merge_insert_update",
    "merge_counts_scale", "explode_bridge",
    "window_topk_per_group", "running_sum", "lag_lead_delta",
    "sessionize_events", "tumbling_hour_window", "asof_join_last_signup",
    "ntile_rank_analytics", "rolling_hour_stats", "group_exact_percentiles",
    "revenue_share_window", "asof_tolerance_cogroup",
]


def _apply_front_block(front: list[str], then: list[str] = ()) -> None:
    """Reorder REGISTRY in place: `front` first, then `then` (the
    staged next-round queue — if the driver's per-round budget ever
    exceeds the front block, the surplus lands on never-verified
    queries instead of already-green ones), rest in import order."""
    missing = [n for n in [*front, *then] if n not in REGISTRY]
    if missing:  # fail loudly — a typo here silently wastes driver slots
        raise KeyError(f"front-block names not in registry: {missing}")
    head = [*front, *(n for n in then if n not in set(front))]
    chosen = set(head)
    reordered = {n: REGISTRY[n] for n in head}
    reordered.update((n, s) for n, s in REGISTRY.items() if n not in chosen)
    REGISTRY.clear()
    REGISTRY.update(reordered)


_apply_front_block(ROUND13_FRONT, ROUND14_QUEUE)
