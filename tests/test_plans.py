"""Physical-plan assertions: the properties that make these queries
scale are in the plan, not the output — pin them so a refactor can't
silently regress them (SURVEY.md §4)."""

from __future__ import annotations

import pytest

from serverless_datalake_spark.queries import load_registry

REGISTRY = load_registry()


def plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "scan_project")
    # predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    # column pruning: 11-column table, 6-column read
    assert "l_comment" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_shipdate" not in read_schema


def test_flagship_range_pushdown_on_ns_fixture(spark, sf_dir):
    """The replay BETWEEN must reach the parquet scan as raw-int64
    comparisons even though the fixture stores TIMESTAMP(NANOS)."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = plan_of(spark, sf_dir, "replay_range")
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "GreaterThanOrEqual(ts," in plan and "LessThanOrEqual(ts," in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_broadcast_dims")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_aggregate_is_partial_before_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "agg_pricing_summary")
    # map-side combine: partial aggregate below the exchange
    assert "partial_sum" in plan or "partial" in plan.lower()
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_global_sort_limit_avoids_total_sort(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "sort_limit")
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_pushes_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in plan


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    # AQE finalizes the physical tree only on execution
    df = REGISTRY["agg_pricing_summary"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark WholeStageCodegen stages; both the partial
    # and final aggregate must be inside codegen spans
    assert "*(1) HashAggregate" in plan and "*(2) HashAggregate" in plan


def test_semi_join_no_row_explosion(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_semi")
    assert "LeftSemi" in plan


@pytest.mark.parametrize("name", ["join_nonequi_range", "join_asof"])
def test_no_cartesian_in_composed_joins(spark, sf_dir, name):
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_on_lake_join(spark, sf_dir, tmp_path):
    """Joining a partitioned fact to a filtered dim must inject a
    dynamic pruning subquery into the fact's PartitionFilters — at
    scale only the dim-selected source partitions are read."""
    from pyspark.sql import functions as F

    from serverless_datalake_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").withColumn("source", F.col("event_type"))
    lake_path = str(tmp_path / "dpp_lake")
    e.write.partitionBy("source").parquet(lake_path)

    dim = spark.createDataFrame(
        [("click", "web"), ("view", "web"), ("purchase", "commerce"),
         ("signup", "growth"), ("error", "ops")],
        "source string, category string",
    )
    fact = spark.read.parquet(lake_path)
    j = fact.join(dim.where(F.col("category") == "commerce"), "source")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_pure_range_join_avoids_nested_loop(spark, sf_dir):
    """A point-in-interval join has no equi key, which Spark plans as
    BroadcastNestedLoopJoin — the binned rewrite must turn it into a
    hash join on the bin with the BETWEEN as residual."""
    plan = plan_of(spark, sf_dir, "join_interval_binned")
    assert "BroadcastNestedLoop" not in plan, plan[:2000]
    assert "HashJoin" in plan


def test_indexed_ann_probe_is_partition_pruned(spark, sf_dir):
    """The materialized ANN probe must read only the query's bucket
    partitions — the plan shows PartitionFilters on `bucket`, the
    at-rest layout doing the work a corpus scan would."""
    plan = plan_of(spark, sf_dir, "sim_topk_lsh_indexed")
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_tpch_q2_broadcasts_dims_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q2_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_pack_greedy_bins_single_shuffle(spark, sf_dir):
    """Packing is one window over (lang, doc_id): exactly one data
    exchange (the hash partitioning by lang) — a second would mean the
    cumulative sum recomputed the shuffle."""
    plan = plan_of(spark, sf_dir, "pack_greedy_bins")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """Scale posture pin: with a hot key and SMJ forced, AQE's skew
    handling must split the oversized partition (OptimizeSkewedJoin
    marks the join 'skew=true'). Thresholds are lowered so fixture-
    scale data exercises the same code path a 100 TB skew would."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 90% of left rows share one key — a classic hot key
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 != 0, 7).otherwise(F.col("id") % 1000).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        j.collect()  # AQE finalizes THIS DataFrame's physical plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_guard_scans_stay_shuffle_free(spark, sf_dir):
    """The regexp guard passes must be pure projections: no exchange,
    no UDF in the plan (whole-stage codegen end to end)."""
    for name in ("pii_detect", "pii_redact", "text_clean_normalize"):
        plan = plan_of(spark, sf_dir, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_heavy_hitters_prunes_group_limit(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "text_heavy_hitters")
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_literal_ann_paths_are_map_only_before_probe(spark, sf_dir):
    """The literal-codebook/centroid encode must not shuffle the corpus
    before the probe join: sim_topk_pq's whole corpus side is scan +
    projection (2 exchanges total: the top-k window + AQE read), and
    the ivfpq variants keep the corpus-side assignment join-free."""
    plan = plan_of(spark, sf_dir, "sim_topk_pq")
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert "SortMergeJoin" not in plan
    for name in ("sim_topk_ivfpq", "sim_topk_ivfpq_residual"):
        plan = plan_of(spark, sf_dir, name)
        # one broadcast probe join; no shuffle join anywhere
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_feature_stats_broadcast_back(spark, sf_dir):
    for name in ("feature_minmax_scale", "feature_zscore"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_semdedup_hash_joins_no_sort_no_cartesian(spark, sf_dir):
    """SemDeDup's pair join must stay a co-partitioned HASH join on
    the cluster key (no SMJ sorts over vector payloads, no cartesian),
    and the encode side must be a map-only fold (no join before the
    cluster shuffle)."""
    plan = plan_of(spark, sf_dir, "dedup_semdedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("ShuffledHashJoin") == 2


def test_quantile_sketch_partial_aggregates(spark, sf_dir):
    """Both passes (stats, histogram) must partial-aggregate map-side
    — the mergeability that makes the sketch the 100 TB path."""
    plan = plan_of(spark, sf_dir, "agg_quantile_sketch")
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_resample_windows_are_partitioned(spark, sf_dir):
    """Gap-fill windows run per event_type — no global single-partition
    window (the zorder lesson)."""
    df = REGISTRY["ts_resample_interpolate"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[", plan):
        tail = plan[m.start() : m.start() + 400]
        assert "event_type" in tail, tail


def test_kl_divergence_single_count_relation(spark, sf_dir):
    """The window restructure must hold: token counts are aggregated
    once and totals ride on windows — no self-joins of the count
    relation (≤1 join total: the 1-row grand-total broadcast)."""
    plan = plan_of(spark, sf_dir, "text_kl_divergence")
    assert plan.count("SortMergeJoin") == 0
    joins = (
        plan.count("BroadcastHashJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastNestedLoopJoin")
    )
    assert joins <= 1, joins


def test_chunk_dedup_single_shuffle(spark, sf_dir):
    """Chunk expansion is map-only and the survivor window + count
    aggregate share the ONE chunk_fp exchange — the dedup_exact plan
    family, keyed one level finer."""
    plan = plan_of(spark, sf_dir, "dedup_chunk_exact")
    assert plan.count("Exchange") == 1, plan.count("Exchange")
    assert "Join" not in plan


def final_plan_of(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()  # AQE finalizes this DataFrame's physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # toString appends the pre-adaptive "== Initial Plan ==" section;
    # negative assertions must only see the adaptive FINAL plan
    return plan.split("== Initial Plan ==")[0]


def test_bloom_membership_broadcast_only(spark, sf_dir):
    """The bloom screen must never shuffle-join the reference: the
    bitset and the fingerprint set ride in as broadcasts; no
    sort-merge join, no cartesian anywhere."""
    plan = final_plan_of(spark, sf_dir, "dedup_bloom_incremental")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_pagerank_iterations_broadcast_ranks(spark, sf_dir):
    """Every per-iteration rank join must be broadcast (node-sized
    side), never sort-merge; no cartesian; the persisted edge
    relation is reused (InMemoryTableScan present)."""
    plan = final_plan_of(spark, sf_dir, "graph_pagerank")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_cms_probe_joins_broadcast_grid(spark, sf_dir):
    """The CMS probe joins the constant-size grid as a broadcast; the
    build side is a plain two-level aggregate."""
    plan = final_plan_of(spark, sf_dir, "agg_cms_heavy_hitters")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert "partial_count" in plan or "HashAggregate" in plan


def test_rerank_stage_adds_no_sort_merge(spark, sf_dir):
    """sim_topk_ivfpq_rerank's refine stage joins shortlist ids back
    broadcast-only — the corpus-wide stage stays the IVF-PQ shape."""
    plan = final_plan_of(spark, sf_dir, "sim_topk_ivfpq_rerank")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rerank_np8_same_plan_shape_as_np4(spark, sf_dir):
    """The high-recall operating point (nprobe=8, 150-deep shortlist)
    must change only knob VALUES, not plan shape: wider probing and a
    deeper shortlist still mean broadcast-only joins and no
    corpus-wide sort-merge/cartesian — recall is bought with a larger
    probed fraction, never with a new shuffle."""
    plan = final_plan_of(spark, sf_dir, "sim_topk_ivfpq_rerank_np8")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # shortlist ids + query vecs


def test_scd2_point_in_time_broadcasts_dim(spark, sf_dir):
    """The versioned dimension is entity-sized → must broadcast; the
    interval predicate rides as a residual on the hash join, never a
    nested loop."""
    plan = plan_of(spark, sf_dir, "scd2_point_in_time")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_triangle_count_uses_cached_orientation(spark, sf_dir):
    """The oriented-edge relation feeds three join sides — the plan
    must read the one cached materialization, not replay the
    orientation lineage, and never fall into a nested loop."""
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    assert "InMemoryTableScan" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pinned_statistics_partial_aggregate(spark, sf_dir):
    """Sufficient statistics must combine map-side (that is the whole
    point of exact decimal sums) — one exchange on the group key."""
    plan = plan_of(spark, sf_dir, "agg_correlation_pinned")
    assert "partial" in plan.lower()
    assert plan.count("Exchange hashpartitioning(grp") <= 1


def test_knn_graph_blocked_hash_join_and_group_limit(spark, sf_dir):
    """Blocking must make the self-join an equi hash join on the cell
    id, and the per-src top-k must push a group limit below the rank
    window's exchange."""
    plan = plan_of(spark, sf_dir, "sim_knn_graph_blocked")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_session_path_topk_is_take_ordered(spark, sf_dir):
    """The final top-5 must be a TakeOrdered, not a global sort of all
    distinct paths."""
    plan = plan_of(spark, sf_dir, "events_session_path_topk")
    assert "TakeOrderedAndProject" in plan


def test_bloom_prefilter_is_map_side_before_join(spark, sf_dir):
    """The bloom membership test must sit in a Filter ABOVE the
    lineitem scan and BELOW the order join (fact rows drop before any
    join shuffle); bitset and dim sides broadcast; no sort-merge."""
    plan = final_plan_of(spark, sf_dir, "join_bloom_prefilter")
    assert "SortMergeJoin" not in plan
    # the packed-bitset membership predicate (word fetch + bit test)
    # survived as a Filter, not a join condition
    assert "shiftleft" in plan and "element_at" in plan
    # the probe join is a plain equi-join on l_orderkey afterwards
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_retrieval_topk_uses_window_group_limit(spark, sf_dir):
    """BM25 / RRF shortlists must keep the global rank-filter top-k
    distributed: either WindowGroupLimit or a TakeOrderedAndProject
    below the rank window (partial per-partition top-k + merge), never
    a full sort of the scored corpus feeding the window directly."""
    for name in ("text_bm25_topk", "sim_hybrid_rrf"):
        plan = plan_of(spark, sf_dir, name)
        assert "WindowGroupLimit" in plan or "TakeOrderedAndProject" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_jaccard_links_broadcasts_degrees(spark, sf_dir):
    """Degree lookups and the edge-exclusion anti join must broadcast;
    the wedge join is the only data-sized exchange."""
    plan = final_plan_of(spark, sf_dir, "graph_jaccard_links")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bpe_rounds_broadcast_winners(spark, sf_dir):
    """Each BPE round adopts its winner via a 1-row broadcast (no
    sort-merge join anywhere in the unrolled loop)."""
    plan = plan_of(spark, sf_dir, "tokenizer_bpe_train")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dataset_card_single_fact_pass_no_smj(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pipeline_dataset_card")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_cached_edges_prepartitioned(spark, sf_dir):
    """The cached edge relation must carry hash partitioning on dst so
    iteration aggregates add no exchange: the FINAL plan's exchange
    count stays far below one-per-iteration."""
    plan = final_plan_of(spark, sf_dir, "graph_pagerank")
    # The property that matters is per-iteration growth: 5
    # un-prepartitioned iterations would each contribute their own dst
    # exchange for the groupBy, so the count would be >= the iteration
    # count. An upper bound (cache-build repartition, plus slack for
    # incidental renderer/AQE differences) is asserted instead of an
    # exact count, which proved brittle against plan-string drift.
    n_iters = 5
    n_dst_exchanges = plan.count("Exchange hashpartitioning(dst")
    assert n_dst_exchanges <= 2, n_dst_exchanges
    assert n_dst_exchanges < n_iters, n_dst_exchanges


def test_hamming_topk_plan(spark, sf_dir):
    """Binary ANN: the corpus side must stay a scan + packed-word
    projection (no shuffle join), with per-query partial top-k."""
    plan = plan_of(spark, sf_dir, "sim_topk_hamming")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_pass_at_k_partial_agg(spark, sf_dir):
    """pass@k reduces attempts to task grain with a partial aggregate
    before the shuffle — no join, no sort of the attempt log."""
    plan = plan_of(spark, sf_dir, "eval_pass_at_k")
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_ngram_spans_no_pairs(spark, sf_dir):
    """Substring-dup audit must never form document pairs: the dup
    set comes from one fp aggregate and joins back hash-on-fp."""
    plan = plan_of(spark, sf_dir, "dedup_ngram_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_moments_mean_not_inlined(spark, sf_dir):
    """Regression pin for the O(N^2) lambda-inlining bug: the mean's
    array fold must appear ONCE (behind the join barrier), not be
    re-inlined into every m2/m3/m4 element lambda by project
    collapsing (4 references per element -> quadratic interpreted
    eval; this query stalled two full-registry sweeps at sf0.1)."""
    plan = plan_of(spark, sf_dir, "agg_moments_shape")
    # good plan: mean fold (1) + three moment folds + normalizer uses;
    # the inlined-blowup plan carries ~14+ aggregate( occurrences
    assert plan.count("aggregate(") <= 8, plan.count("aggregate(")


def test_kcore_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "graph_k_core")
    assert "CartesianProduct" not in plan


def test_doremi_lm_broadcast(spark, sf_dir):
    """The vocabulary-sized LM side must broadcast into the
    (source, token) join — never a corpus-wide sort-merge."""
    plan = plan_of(spark, sf_dir, "mixture_doremi_excess")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_fdr_bh_fact_join_broadcasts_dim(spark, sf_dir):
    """stats_fdr_bh: the orders→customer join must broadcast the
    dimension (no fact-side sort-merge), and the BH window machinery
    must sit above the GROUP-cardinality aggregate, not the fact
    scan."""
    plan = plan_of(spark, sf_dir, "stats_fdr_bh")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_histogram_log2_single_shuffle_partial_agg(spark, sf_dir):
    """agg_histogram_log2: one hash-partitioned exchange (the bucket
    agg) with a map-side partial aggregate below it; the cumulative
    window adds no further fact-grain exchange."""
    plan = plan_of(spark, sf_dir, "agg_histogram_log2")
    assert plan.count("Exchange hashpartitioning(bucket_bits") == 1
    assert "partial" in plan.lower()
    assert "SortMergeJoin" not in plan


def test_welch_pairs_broadcast_self_join(spark, sf_dir):
    """stats_welch_tstat: the pair enumeration is a broadcast
    nested-loop over the GROUP-cardinality relation — acceptable only
    because both sides are group-sized; the fact table contributes
    exactly one partial-agg shuffle."""
    plan = plan_of(spark, sf_dir, "stats_welch_tstat")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_dpp_join_prunes_partitions_at_runtime(spark, sf_dir):
    """join_dpp_runtime_prune: the partitioned fact scan must carry a
    dynamicpruningexpression in its PartitionFilters (runtime subquery
    pruning), and the dim must broadcast — no sort-merge join."""
    plan = plan_of(spark, sf_dir, "join_dpp_runtime_prune")
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bootstrap_single_pass_no_generate(spark, sf_dir):
    """sample_poisson_bootstrap folds all 32 replicas into agg columns
    over one digest projection: no row-expanding Generate/Expand node
    anywhere (the 32x explode alone measured ~11 s at sf0.1). The
    replicas are split into 4 slice aggregates whose 1-row results are
    combined by broadcast nested-loop cross joins; no shuffle join and
    no cartesian product ever touches the fact rows."""
    plan = plan_of(spark, sf_dir, "sample_poisson_bootstrap")
    for node in ("Generate", "Expand", "SortMergeJoin", "CartesianProduct"):
        assert node not in plan, (node, plan[:1500])
    # the only joins are the 3 that combine the 4 single-row slices
    assert plan.count("Join") == plan.count("BroadcastNestedLoopJoin") == 3, plan[:1500]


def test_ngram_lambdas_tokenize_once(spark, sf_dir):
    """The SCALE.md aliased-fold rule, pinned: the token-array split
    must appear ONCE in the optimized plan of each n-gram query — an
    inlined tokenization captured by the per-position lambda would
    re-run split+filter per element (3-10x measured)."""
    for name in ("text_top_bigrams", "text_repetition"):
        df = REGISTRY[name].fn(spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("split(") <= 1, (name, opt.count("split("))
    # split_contamination_ngram checkpoints its gram relation, which
    # hides the tokenize subtree from the registry query's plan — pin
    # the property on the PRE-checkpoint builder instead
    from serverless_datalake_spark.queries.datapipe import _contamination_grams
    from serverless_datalake_spark.tables import load_table

    g = _contamination_grams(load_table(spark, sf_dir, "documents"))
    opt = g._jdf.queryExecution().optimizedPlan().toString()
    # ≤2: one in the projection, one the optimizer pushes into the
    # row filter (both per-ROW). The regression this pins is per-GRAM
    # re-tokenization — 6+ occurrences (five element_at + size inside
    # the generator lambda)
    assert 1 <= opt.count("split(") <= 2, opt.count("split(")


def test_triangle_count_no_wedge_shuffle(spark, sf_dir):
    """graph_triangle_count counts via per-edge adjacency
    array_intersect: no wedge relation is ever materialized through a
    join, so the plan carries no sort-merge join and no cartesian
    product; the intersection expression must be present."""
    plan = final_plan_of(spark, sf_dir, "graph_triangle_count")
    assert "array_intersect" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_jaccard_links_packed_key_and_broadcast_exclusion(spark, sf_dir):
    """graph_jaccard_links: the Sigma-d^2 candidate-pair aggregate
    shuffles on ONE packed long key, and the existing-edge exclusion
    is a broadcast (never shuffle) anti join - the 101M-row pair
    relation must not shuffle again after its count."""
    plan = final_plan_of(spark, sf_dir, "graph_jaccard_links")
    assert "shiftleft" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan.split("BroadcastHashJoin")[0]


def test_span_removal_no_pairwise_work(spark, sf_dir):
    """dedup_span_removal: the ExactSubstr surrogate must stay on the
    inverted-index plan — fp-keyed aggregate + flag join + doc-local
    rewrite. No sort-merge or nested-loop join anywhere (pairwise
    document comparison would be the scale-killer the gram index
    exists to avoid)."""
    plan = plan_of(spark, sf_dir, "dedup_span_removal")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_grams_single_agg_pass(spark, sf_dir):
    """dedup_boilerplate_grams: one gram expansion feeding one
    distinct-doc aggregate (two-phase: (gram, doc_id) partial then
    gram final) plus the 20-row rank window — no join at all, and no
    extra shuffle beyond the distinct-aggregate pair + the single-row
    window collect."""
    plan = plan_of(spark, sf_dir, "dedup_boilerplate_grams")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 4, plan.count("Exchange")


def test_ridge_gram_is_single_reduction(spark, sf_dir):
    """model_ridge_gram must be ONE partial-agg reduction: a single
    exchange (to one row), no joins, no windows — the petabyte
    linear-probe shape its docstring claims."""
    plan = plan_of(spark, sf_dir, "model_ridge_gram")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan and "Window" not in plan


def test_query_likelihood_topk_is_group_limited(spark, sf_dir):
    """retrieval_query_likelihood_dirichlet: corpus stats arrive via
    broadcast and the global top-20 runs as WindowGroupLimit (partial
    top-k per partition), never a full global sort of the corpus."""
    plan = plan_of(spark, sf_dir, "retrieval_query_likelihood_dirichlet")
    # the global top-20 materializes as a partial-per-partition top-k
    # (TakeOrderedAndProject feeding the rank window), never a full
    # global sort of the corpus
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan


# --- round 6: entity-grain global-window eviction pins ------------------
# Every global ordering over a relation that grows with the data now
# runs through operators/ranking.py (range-partitioned two-pass) or a
# WindowGroupLimit / TakeOrdered shape. Pin each rewritten query so a
# refactor can't silently bring the single-partition window back.

_PID_PARTITIONED = [
    # (query, allowed partition keys any Window node may carry instead)
    ("ts_concurrency_sweep", ("user_id",)),
    ("stream_lateness_audit", ()),
    ("feature_quantile_bucketize", ()),
    ("feature_winsorize", ()),
    ("sample_systematic_weighted", ()),
    ("sample_curriculum_stages", ()),
    ("sample_dsir_importance", ()),
    ("text_zipf_fit", ()),
    ("sim_index_health", ()),
]


@pytest.mark.parametrize("name,extra", _PID_PARTITIONED, ids=[n for n, _ in _PID_PARTITIONED])
def test_entity_grain_windows_are_pid_partitioned(spark, sf_dir, name, extra):
    """Every Window node in the plan carries a partition spec — either
    the two-pass primitive's __pid range bucket or a legitimate
    entity partition (e.g. the per-user sessionize window)."""
    plan = plan_of(spark, sf_dir, name)
    import re

    for m in re.finditer(r"Window \[", plan):
        tail = plan[m.start() : m.start() + 500]
        ok = "__pid" in tail or any(k in tail for k in extra)
        assert ok, f"{name}: unpartitioned window node: {tail}"


def test_kmv_distinct_union_bounded_state(spark, sf_dir):
    """agg_kmv_distinct_union: per-type k-th minima ride a rank filter
    Spark rewrites to WindowGroupLimit (k rows per group per partition
    before the shuffle); the union leg's k-minima are a distributed
    sort().limit(k) (TakeOrderedAndProject), never a global window."""
    plan = plan_of(spark, sf_dir, "agg_kmv_distinct_union")
    assert "WindowGroupLimit" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    import re

    for m in re.finditer(r"Window \[", plan):
        tail = plan[m.start() : m.start() + 500]
        assert "event_type" in tail, tail


def test_kmv_jaccard_no_window_at_all(spark, sf_dir):
    """agg_kmv_jaccard's sketch is sort().limit(k) + two 1-row
    aggregates — the rank window is gone entirely."""
    plan = plan_of(spark, sf_dir, "agg_kmv_jaccard")
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_vocab_coverage_group_limited_shortlist(spark, sf_dir):
    """text_vocab_coverage ranks only a top-24 shortlist: the rank
    filter must bound per-partition state to 24 rows (Spark rewrites
    it to TakeOrderedAndProject via LimitPushDownThroughWindow, or at
    minimum WindowGroupLimit) and the corpus total must be a broadcast
    aggregate, not an unbounded SUM window."""
    plan = plan_of(spark, sf_dir, "text_vocab_coverage")
    assert "TakeOrderedAndProject(limit=24" in plan or "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_quality_screen_moments_broadcast(spark, sf_dir):
    """embedding_quality_screen computes corpus moments as a 1-row
    broadcast aggregate; the only window is the top-10 outlier rank,
    bounded per partition (TakeOrderedAndProject / WindowGroupLimit)."""
    plan = plan_of(spark, sf_dir, "embedding_quality_screen")
    assert "TakeOrderedAndProject(limit=10" in plan or "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_reservoir_hash_is_take_ordered(spark, sf_dir):
    """sample_reservoir_hash must plan as TakeOrderedAndProject —
    per-partition k-row heaps merged on the driver, never a global
    sort or an unpartitioned rank window (round-7 addition)."""
    plan = plan_of(spark, sf_dir, "sample_reservoir_hash")
    assert "TakeOrderedAndProject(limit=100" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_sq8_rerank_bounded_windows_and_broadcasts(spark, sf_dir):
    """sim_topk_sq8_rerank: both rank windows are per-query
    (WindowGroupLimit-bounded), the dequantize grid and the shortlist
    re-read ride broadcasts, and no window is unpartitioned."""
    plan = plan_of(spark, sf_dir, "sim_topk_sq8_rerank")
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" in plan, plan
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "query_id" in ln, ln


def test_spearman_windows_all_pid_partitioned(spark, sf_dir):
    """stats_spearman_rank: fractional tie-ranks come from value-grain
    counts + the two-pass cumsum — every window is __pid-partitioned,
    no per-row global rank anywhere (round-7 addition)."""
    plan = plan_of(spark, sf_dir, "stats_spearman_rank")
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "__pid" in ln, ln


def test_plan_report_regex_bounded_capture():
    """The PushedFilters/PartitionFilters capture must survive BOTH
    failure modes found in review: nested ']' inside In(col, [v1,v2])
    (round-7: a lazy [^\\]]* truncated there, dropping later filters)
    and a later bracketed segment on the same line such as DSv2
    RuntimeFilters (round-8 ADVICE: a greedy (.*)\\] swallowed it into
    pushed_filters). Tests the module's OWN pattern, not a copy."""
    import re as _re

    from serverless_datalake_spark.plans.inspect import FILTER_SECTION_RE

    plan = (
        "FileScan parquet [a,b] Batched: true, "
        "PushedFilters: [IsNotNull(a), In(a, [1,2,3]), GreaterThan(b,4)], "
        "RuntimeFilters: [dynamicpruning#123], "
        "ReadSchema: struct<a:int,b:int>\n"
        "Scan parquet PartitionFilters: [isnotnull(day#1), "
        "day#1 IN (2024-01-01,2024-01-02)], PushedFilters: [], "
        "ReadSchema: struct<c:int>"
    )
    pushed = [
        m
        for m in _re.findall(r"PushedFilters: " + FILTER_SECTION_RE, plan, _re.M)
        if m.strip()
    ]
    part = [
        m
        for m in _re.findall(r"PartitionFilters: " + FILTER_SECTION_RE, plan, _re.M)
        if m.strip()
    ]
    # nested In-list survives AND RuntimeFilters is NOT swallowed
    assert pushed == ["IsNotNull(a), In(a, [1,2,3]), GreaterThan(b,4)"]
    assert part == ["isnotnull(day#1), day#1 IN (2024-01-01,2024-01-02)"]
