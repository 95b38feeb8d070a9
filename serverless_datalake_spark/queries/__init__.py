"""Oracle-verified query registry (the driver contract's substance).

Every operator claimed in SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
an equivalent ANSI-SQL string for the DuckDB oracle. ``__spark_entry__``
re-exports this registry.

Rules enforced by convention here (driver compares by sorted column
name + order-insensitive value hash):
* alias every computed column identically in Spark and SQL;
* round floating aggregates on BOTH sides (double summation order
  differs between engines);
* cast timestamps used as output values to DATE / epoch seconds (the
  fixtures store ns timestamps; engines disagree on sub-second repr);
* make top-k / limit queries deterministic via total tie-break order.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, Query] = {}


def _spark_round_sql(expr: str, nd: str) -> str:
    """DuckDB expression reproducing Spark's round(double, n) exactly.

    Spark rounds HALF_UP on the double's SHORTEST DECIMAL REPR
    (BigDecimal.valueOf). A repr-based mimic fails because DuckDB's
    double→VARCHAR prints only 15 significant digits (0.7062499999999999
    prints "0.70625" → wrong HALF_UP decision). Repr-free algorithm:

    No DuckDB string/decimal conversion of doubles is faithful (VARCHAR
    prints 15 digits, printf('%.17g') returns a different double's
    digits, double→DECIMAL goes through ~15 digits), so the algorithm
    uses ONLY IEEE double arithmetic plus exact small-integer values:

      i  = FLOOR(|x|), fr = |x| - i        (both IEEE-exact)
      gf = FLOOR(fr·10^n)                  (±1 error self-corrects below)
      candidate grid doubles (one correctly-rounded division each,
      numerators < 2^53 in the valid domain |x| < 9e14/10^n):
        lo  = (i·10^n + gf) / 10^n,  hi = lo + grid step
        c10a/c10b = the two (n+1)-digit neighbors
      1. grid identity: lo or hi round-trips to |x| → the shortest
         repr has ≤ n fractional digits → Spark returns x unchanged;
      2. (n+1)-digit tie: c10a/c10b round-trips to |x| → the shortest
         repr IS that (n+1)-digit decimal; HALF_UP on its last digit
         (the 8285.425 case: binary sits below the midpoint but the
         repr is exactly ON it → rounds up);
      3. else no ≤(n+1)-digit decimal identifies x → no repr sits ON
         the midpoint → binary comparison of |x| against the
         midpoint's correctly-rounded double (one exact-numerator
         division; |x| == that double is impossible here — it would
         be the (n+1)-digit tie, caught above — so the strict
         comparison is exact; a fr·10^n product compare would round
         ONTO the midpoint for values a ulp below it).
      Reattach sign (HALF_UP is away-from-zero). Outside the domain
      falls back to native ROUND (query outputs never go there).
    """
    try:
        p = 10 ** int(nd)
    except ValueError:  # non-literal digit count: leave native ROUND
        return f"ROUND({expr}, {nd})"
    p10 = p * 10
    limit = 9.0e14 / p
    x = f"CAST(({expr}) AS DOUBLE)"
    ax = f"ABS({x})"
    i = f"FLOOR({ax})"
    fr = f"({ax} - {i})"
    gf = f"FLOOR({fr} * {p})"
    k10 = f"FLOOR({fr} * {p10})"
    lo = f"(({i} * {p} + {gf}) / {p})"
    hi = f"(({i} * {p} + {gf} + 1) / {p})"
    c10a = f"(({i} * {p10} + {k10}) / {p10})"
    c10b = f"(({i} * {p10} + {k10} + 1) / {p10})"
    # result from an (n+1)-digit repr K (last digit decides HALF_UP)
    res_a = (
        f"(({i} * {p} + FLOOR({k10} / 10) + "
        f"(CASE WHEN {k10} - FLOOR({k10} / 10) * 10 >= 5 THEN 1 ELSE 0 END)) / {p})"
    )
    res_b = (
        f"(({i} * {p} + FLOOR(({k10} + 1) / 10) + "
        f"(CASE WHEN ({k10} + 1) - FLOOR(({k10} + 1) / 10) * 10 >= 5 THEN 1 ELSE 0 END)) / {p})"
    )
    return (
        f"CAST(CASE "
        f"WHEN isnan({x}) OR NOT isfinite({x}) OR {ax} >= {limit!r} THEN ROUND({x}, {nd}) "
        f"ELSE (CASE WHEN {x} < 0 THEN -1.0 ELSE 1.0 END) * "
        f"(CASE WHEN {lo} = {ax} OR {hi} = {ax} THEN {ax} "
        # when both (n+1)-digit neighbors round-trip to x (wide-ulp
        # band), the shortest repr is the CLOSER one — test it first
        f"WHEN {fr} * {p10} - {k10} >= 0.5 AND {c10b} = {ax} THEN {res_b} "
        f"WHEN {c10a} = {ax} THEN {res_a} "
        f"WHEN {c10b} = {ax} THEN {res_b} "
        f"WHEN {ax} > (({i} * {p} * 2 + {gf} * 2 + 1) / {p * 2}) THEN {hi} "
        f"ELSE {lo} END) "
        f"END AS DOUBLE)"
    )


def rewrite_spark_round(sql: str) -> str:
    """Rewrite every ROUND(expr, n) in oracle SQL to reproduce Spark's
    rounding bit-for-bit (see _spark_round_sql)."""
    low = sql.lower()
    i = low.find("round(")
    while i != -1:
        # must be a word boundary (not e.g. "xround(")
        if i > 0 and (low[i - 1].isalnum() or low[i - 1] == "_"):
            i = low.find("round(", i + 1)
            continue
        open_i = i + len("round")
        depth, close_i, split = 0, None, None
        in_str = False
        for j in range(open_i, len(sql)):
            c = sql[j]
            if c == "'":
                in_str = not in_str
            elif not in_str:
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        close_i = j
                        break
                elif c == "," and depth == 1:
                    split = j
        if close_i is None or split is None:
            i = low.find("round(", i + 1)
            continue
        expr = rewrite_spark_round(sql[open_i + 1 : split])
        nd = sql[split + 1 : close_i].strip()
        repl = _spark_round_sql(expr, nd)
        sql = sql[:i] + repl + rewrite_spark_round(sql[close_i + 1 :])
        return sql
    return sql


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a query under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name, fn, rewrite_spark_round(oracle) if oracle else oracle, tags
        )
        return fn

    return deco


# The driver's per-round CORRECTNESS check covers the FIRST 50 registry
# entries in iteration order.  To get every query driver-verified at
# least once, each round fronts a window of not-yet-driver-checked
# queries; everything else keeps local oracle parity via
# tests/test_oracle_parity.py (which always runs ALL oracled queries).
#
# Rotation ledger:
#   round 1 (alphabetical import order): agg_*, datapipe, funnel, fn_*,
#     join_*, dedup_*, sim_topk_* — 44 green, 6 no_oracle, 0 fail.
#   round 2: 50 oracled queries never seen by the driver — text
#     analysis, multimodal metadata, pipeline R8–R12, scan/filter/
#     sort, reshape, set ops, skew, SQL dialect, streaming-batch twins,
#     windows, UDF/UDTF, and 5 representative TPC-H shapes. 50/50 green.
#   round 3 (this window): the exact set of 46 queries with no green
#     driver row across rounds 1–2 (computed from CORRECTNESS_r01+r02:
#     the 40 never-windowed + the 6 round-1 `no_oracle` rows that have
#     since gained oracles), plus 4 re-confirmation slots for
#     production paths touched this round (flagship replay, exact
#     dedup, brute-force ANN baseline, tf-idf). Green ⇒ every one of
#     the 140 pre-round-3 registry queries has appeared driver-green
#     at least once.
#   round 4 (planned): the 8 data-guard queries added in round 3
#     (pii_detect, pii_redact, text_clean_normalize,
#     dedup_url_canonical, decontaminate_semantic, text_heavy_hitters,
#     dedup_intra_lines, pipeline_guarded_curation), the 3
#     feature-engineering queries
#     (feature_minmax_scale, feature_zscore, feature_winsorize),
#     window_ignore_nulls, sim_topk_ivfpq_residual,
#     sql_recursive_cte, sample_balanced_cap, dedup_keep_longest, and
#     the 6 curation/analytics queries added late in round 3
#     (dedup_semdedup, sample_weighted, agg_quantile_sketch,
#     ts_resample_interpolate, ts_anomaly_zscore, join_asof_forward,
#     join_asof_tolerance, text_kl_divergence, text_chunk_sliding,
#     dedup_chunk_exact, ts_ewma), plus the continued-session
#     additions (text_unigram_logprob, dedup_bloom_incremental,
#     sim_topk_ivfpq_rerank, validate_expectations,
#     text_minhash_containment, graph_pagerank, ts_holt_linear,
#     stream_topk_windowed, agg_cms_heavy_hitters,
#     feature_hashing_trick, text_bigram_logprob, market_basket_rules,
#     sample_temperature_mixture, window_gaps_islands,
#     cdc_latest_by_key, agg_mode_deterministic, ts_autocorrelation,
#     pipeline_llm_curation2, embedding_quantize_int8,
#     sim_range_search, fn_variant_json, dedup_minhash_pairs,
#     join_asof_nearest, agg_histogram_equiwidth, fn_collation_join,
#     text_vocab_coverage, text_zipf_fit, split_group_holdout,
#     privacy_k_anonymity, ts_cross_correlation, agg_entropy_by_group,
#     ts_changepoint_meanshift, agg_gini_concentration,
#     sql_lateral_topn, retention_cohorts, ts_seasonal_strength,
#     agg_weighted_median, text_burstiness,
#     sample_poisson_bootstrap, sim_topk_truncated_dims,
#     set_intersect_all, set_except_all, agg_time_hierarchy_rollup,
#     sql_named_window, ts_rolling_quantile, text_js_divergence,
#     fn_try_arithmetic, agg_moments_shape, window_pareto_share,
#     pipeline_dq_quarantine, events_dau_stickiness,
#     text_lang_confusion, mm_modality_mix,
#     pipeline_source_freshness, window_longest_streak,
#     agg_benford_deviation, agg_bitmap_presence, agg_mad_robust,
#     sim_centroid_drift, udtf_ngram_generator,
#     session_duration_histogram, dedup_threshold_sweep,
#     ts_period_over_period, fn_inline_struct_array,
#     scd2_dimension_build, scd2_point_in_time,
#     events_transition_matrix, agg_correlation_pinned,
#     agg_linear_regression, ts_theil_sen, ts_mann_kendall,
#     privacy_l_diversity, graph_triangle_count, sql_pivot_syntax,
#     sql_grouping_id, fn_binary_codecs, orders_rfm_segmentation,
#     orders_abc_classification, events_new_users_cumulative,
#     validate_referential_integrity, embedding_pca_power,
#     sim_knn_graph_blocked, events_session_path_topk,
#     text_bm25_topk, sim_hybrid_rrf, sim_mmr_rerank,
#     join_bloom_prefilter, scan_orc_roundtrip, scan_csv_roundtrip,
#     graph_jaccard_links, feature_target_encode,
#     feature_quantile_bucketize, feature_onehot_topn,
#     agg_kmv_distinct_union, ts_concurrency_sweep, udf_map_in_arrow,
#     scan_python_datasource, stats_ks_two_sample, stats_chi_square,
#     sim_maxsim_late_interaction, txlog_time_travel,
#     sql_unpivot_syntax, split_time_embargo, fn_url_parse,
#     fn_aes_roundtrip, sample_hard_negatives,
#     matview_incremental_refresh, graph_bfs_levels,
#     sql_parameterized_query, ts_rolling_ols_slope, geo_grid_join,
#     events_attribution_linear, sql_filter_clause,
#     udtf_dynamic_schema, sql_scalar_udf, sql_ddl_insert_select,
#     tokenizer_bpe_train, sample_coreset_kcenter,
#     privacy_pseudonymize_consistent, events_bot_gap_regularity,
#     mm_audio_chunk_plan, fn_xml_parse, sql_group_by_all,
#     sql_lateral_alias, validate_cross_table_totals,
#     agg_share_of_parent, stream_sliding_distinct_users,
#     ts_backtest_snaive, window_running_distinct, fn_array3,
#     retention_ltv_cumulative, graph_assortativity,
#     pipeline_dataset_card, graph_modularity,
#     privacy_generalize_enforce, fn_datetime3, events_diff_in_diff,
#     agg_trimmed_mean, text_keywords_tfidf, fn_map_hof,
#     stream_lateness_audit, orders_xyz_classification,
#     fn_surrogate_key_uuid, fn_json_struct_roundtrip,
#     scan_observe_metrics, sql_join_hint_broadcast,
#     funnel_window_bounded, sim_recall_eval, join_fuzzy_blocked,
#     lake_schema_drift_report, sample_neyman_allocation,
#     eval_calibration_ece, eval_ngram_novelty, mm_image_tile_plan,
#     text_subsampling_word2vec, stats_ratio_delta_ci,
#     text_gazetteer_tag, sim_index_health, scan_binary_files,
#     udf_grouped_ols_fit, agg_median_of_means, stats_survival_km,
#     stats_mann_whitney_u — see each; the registry now holds 330
#     oracled queries
#     module; the registry now holds 231 oracled queries, so rounds
#     4–6 can each front a fresh 50-entry window) — plus any round-3
#     window row that did not come back green, then free slots for
#     re-confirmations. (More than 50 candidates now exist; round 4
#     fronts the first 50 by this ledger order, round 5 the rest.)
DRIVER_WINDOW: tuple[str, ...] = (
    # ROUND 10 window: per WINDOWS.md (round-10 block). Round 9 closed
    # the pre-round-9 registry; the 32 names below are EXACTLY the
    # registry queries with no driver row across rounds 1–10
    # (set-checked by
    # tests/test_window_audit.py::test_windows_plan_covers_backlog),
    # so a green round 10 closes the registry at 448/448
    # driver-verified.
    "stats_kendall_tau",
    "graph_clustering_coeff",
    "feature_mutual_info",
    "stats_jackknife_groups",
    "eval_krippendorff_alpha",
    "ts_ljung_box",
    "agg_theil_inequality",
    "model_isotonic_pava",
    "eval_mrr_at_5",
    "model_kmeans_lloyd",
    "skyline_frontier_2d",
    "eval_kendall_w",
    "dedup_cdc_chunks",
    "ts_granger_lag1",
    "stats_wilcoxon_signed_rank",
    "stats_binom_wilson_ci",
    "text_readability_forcast",
    "txlog_delete_vacuum",
    "mm_av_sync_join",
    "stats_cmh_pooled_odds",
    "stats_hedges_g",
    "eval_mbr_select",
    "graph_adamic_adar",
    "stats_friedman_test",
    "ts_hampel_filter",
    "stats_cochran_q",
    "stats_page_trend",
    "stats_bartlett",
    "ts_seasonal_mann_kendall",
    "stats_icc_oneway",
    "ts_durbin_watson",
    "join_asof_interpolate",
    # --- re-check slots (already driver-green): the other four
    # queries that run on the txlog engine, whose replay and commit
    # steps were rewritten ---
    "txlog_time_travel",
    "matview_incremental_refresh",
    "txlog_partition_prune",
    "txlog_zonemap_prune",
    # --- re-check slots: queries whose code changed in rounds 9-10
    # after their last driver row ---
    "dedup_ngram_spans",
    "dedup_span_removal",
    "dedup_semdedup",
    "dedup_bloom_incremental",
    "sample_dsir_importance",
    "sample_poisson_bootstrap",
    "stats_permutation_test",
    "dedup_minhash_components",
    "dedup_cluster_report",
    "split_leakage_free",
)


def load_registry() -> dict[str, Query]:
    """Import all query modules (side effect: fills REGISTRY), then
    order the result so DRIVER_WINDOW comes first (driver rotation —
    see the ledger above)."""
    from serverless_datalake_spark.queries import (  # noqa: F401
        aggregates,
        datapipe,
        evaluation,
        features,
        funnel,
        functions,
        functions2,
        graph,
        joins,
        llm_dedup,
        llm_guard,
        llm_similarity,
        llm_text,
        multimodal,
        pipeline,
        relational,
        relational2,
        reshape,
        retrieval,
        scaletech,
        setops,
        skew_resilience,
        sql_dialect,
        statistics,
        streaming_batch,
        timeseries,
        tpch_shapes,
        tpch_shapes2,
        tpch_shapes3,
        udfs,
        warehouse,
        windows,
    )

    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise KeyError(f"DRIVER_WINDOW names absent from registry: {missing}")
    ordered = {n: REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in REGISTRY.items() if n not in ordered)
    return ordered
