"""Plan-shape regression tests — assert the physical plans have the
properties the 100 TB design point depends on (SURVEY.md §4): predicate
pushdown into scans, broadcast joins for dims, partition pruning, top-k via
TakeOrderedAndProject (no global sort), and salted-join correctness."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bossarrowstorageengine_spark.catalog import load_table
from bossarrowstorageengine_spark.plans import fan_out, salted_join

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_parquet_scan(spark):
    df = QUERIES["q_filter_basic"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_returnflag" in plan.split("PushedFilters:")[1][:300]


def test_scan_prunes_columns(spark):
    df = QUERIES["q_scan_parquet"](spark, SF)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_extendedprice" not in read_schema  # unreferenced → pruned


def test_broadcast_join_used_for_dims(spark):
    plan = _plan(QUERIES["q_join_broadcast"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_multiway_join_broadcasts_dims(spark):
    plan = _plan(QUERIES["q_join_multiway"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_topk_avoids_global_sort(spark):
    plan = _plan(QUERIES["q_sort_multi"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    # no full-width exchange for a global sort
    assert "rangepartitioning" not in plan.lower()


def test_aggregate_is_partial_then_final(spark):
    plan = _plan(QUERIES["q_agg_basic"](spark, SF))
    assert "partial_sum" in plan or "partial" in plan.lower()
    assert "HashAggregate" in plan


def test_partitioned_sink_prunes_directories(spark):
    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT

    QUERIES["q_sink_partitioned"](spark, SF).collect()  # writes the layout
    back = spark.read.parquet(os.path.join(
        _SCRATCH_ROOT, os.path.basename(SF), "partitioned"))
    pruned = back.filter(F.col("o_orderstatus") == "F")
    plan = _plan(pruned)
    # partition filter resolves at listing time, not as a data filter
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1][:200]


def test_salted_join_matches_plain_join(spark):
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    plain = orders.join(cust, "o_custkey").groupBy("c_mktsegment").count()
    salted = salted_join(orders, cust, "o_custkey").groupBy("c_mktsegment").count()
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_range_join_is_hash_not_nested_loop(spark):
    """The bucketed range join executes as an equi-join (hash/sort-merge on
    user_id+bucket) with the range predicate residual — never a
    BroadcastNestedLoopJoin, which would be quadratic at scale."""
    plan = _plan(QUERIES["q_join_range_events"](spark, SF))
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_rollup_time_single_scan(spark):
    """GROUPING SETS rollup reads events once (Expand feeds one aggregate),
    not once per granularity."""
    plan = _plan(QUERIES["q_rollup_time"](spark, SF))
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_bucketed_join_has_no_shuffle_on_join_keys(spark):
    """Both sides bucketed on the join key at write time → the join reads
    bucket files directly; no Exchange on o_custkey/c_custkey (the only
    shuffle left is the final groupBy on c_mktsegment)."""
    plan = _plan(QUERIES["q_sink_bucketed"](spark, SF))
    assert "hashpartitioning(o_custkey" not in plan
    assert "hashpartitioning(c_custkey" not in plan
    # the scan reads bucket files (at tiny SF Spark may still choose a
    # broadcast join — also shuffle-free; at scale the bucketed SMJ wins)
    assert "SelectedBucketsCount" in plan


def test_no_python_udf_outside_udf_family(spark):
    """Hot-path queries stay JVM-side: no Python eval nodes in their plans
    (the declared UDF family and data-source round-trips excepted)."""
    exempt = {"q_udf_python", "q_udf_pandas", "q_udaf_pandas", "q_udtf_apply",
              "q_udtf_python", "q_udf_arrow", "q_map_in_arrow",
              "q_multimodal_binary", "q_scan_arrow_roundtrip"}
    for name, fn in QUERIES.items():
        if name in exempt:
            continue
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF"


def test_tpch_q5_snowflake_all_hash_joins(spark):
    """Six-way snowflake must never degrade to a nested-loop join; the
    dimension legs broadcast."""
    plan = _plan(QUERIES["q_tpch_q5"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_systematic_sample_is_scan_local(spark):
    """The sampling predicate must not induce a shuffle of its own — the
    only Exchange is the final aggregation's."""
    plan = _plan(QUERIES["q_sample_systematic"](spark, SF))
    assert plan.count("Exchange") == 1


def test_salted_join_key_includes_salt(spark):
    """The join must key on (okey, _salt) so hot keys split across
    reducers; the only nested-loop piece is the S-row salt replication."""
    plan = _plan(QUERIES["q_join_salted"](spark, SF))
    assert "_salt" in plan


def test_ann_lsh_bucket_signature_is_map_side(spark):
    """The hyperplane bucket signature is an array-HOF fold evaluated in
    the scan's projection — no posexplode and no extra shuffle to assign
    buckets (the only Exchanges belong to the bucket join + window)."""
    plan = _plan(QUERIES["q_ann_lsh"](spark, SF))
    assert "Generate" not in plan  # no explode anywhere in the plan
    assert "aggregate(" in plan    # the HOF fold, inside a Project


def test_dedup_embedding_join_is_bucket_keyed(spark):
    """Candidate pairs must come from the LSH-bucket equi-join; the
    vec_a < vec_b predicate is a residual, never the join itself (no
    nested-loop / cartesian all-pairs stage)."""
    plan = _plan(QUERIES["q_dedup_embedding"](spark, SF))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) \
        or ("BroadcastHashJoin" in plan)


def test_bloom_runtime_filter_injects_at_scale_conditions(spark):
    """q_join_bloom: when neither join side can broadcast (the cluster-scale
    condition, simulated by disabling the broadcast threshold), Catalyst
    injects a bloom filter from the selective orders side into the lineitem
    side — semi-join reduction before the shuffle."""
    # Build the (lazy) DataFrame first: the queries() wrapper re-applies
    # engine conf, so the threshold override must land after construction
    # and before the plan is optimized.
    df = QUERIES["q_join_bloom"](spark, SF)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "might_contain" in plan and "bloom_filter_agg" in plan


def test_weighted_sample_is_distributed_topk(spark):
    """q_sample_weighted must compile to TakeOrderedAndProject (per-partition
    heaps, k rows to the driver) with NO shuffle of the corpus — the plan a
    weighted sample needs to survive 100 TB."""
    plan = _plan(QUERIES["q_sample_weighted"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_pack_chunks_single_bucket_shuffle(spark):
    """q_pack_chunks: the per-shard window and the chunk aggregation share
    the bucket hash partitioning — exactly one Exchange end-to-end."""
    plan = _plan(QUERIES["q_pack_chunks"](spark, SF))
    assert plan.count("Exchange") == 1


def test_new_tpch_plans_have_no_cartesian_or_bnlj(spark):
    """The round-3 TPC-H additions include every decorrelation-heavy shape
    (correlated min, double NOT EXISTS, nested IN): all must plan as hash
    joins — a BroadcastNestedLoopJoin or CartesianProduct would be a
    scale-killer at 100 TB."""
    for key in ("q_tpch_q1", "q_tpch_q2", "q_tpch_q4", "q_tpch_q8",
                "q_tpch_q9", "q_tpch_q11", "q_tpch_q12", "q_tpch_q16",
                "q_tpch_q19", "q_tpch_q20", "q_tpch_q21"):
        plan = _plan(QUERIES[key](spark, SF))
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key


def test_tpch_q19_disjunctive_predicate_reaches_lineitem_scan(spark):
    """Q19's point: the OR-of-ANDs must still push the shared join input
    filters into the scan (quantity bounds survive as pushable ranges)."""
    plan = _plan(QUERIES["q_tpch_q19"](spark, SF))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:500]
    assert "l_quantity" in pushed or "p_brand" in pushed


def test_repetition_gram_build_is_map_side(spark):
    """q_text_repetition's 2-gram construction must happen in the scan
    stage, upstream of every shuffle.  Plan strings print top-down, so the
    scan stage is the text AFTER the last Exchange: it must hold the
    zip_with gram build, the explode, a partial pair-count, and the
    FileScan — i.e. the shuffle only ever carries (doc, gram, count)."""
    plan = _plan(QUERIES["q_text_repetition"](spark, SF))
    scan_stage = plan.rsplit("Exchange", 1)[1]
    assert "zip_with" in scan_stage
    assert "explode" in scan_stage
    assert "partial_count" in scan_stage
    assert "FileScan" in scan_stage


def test_mixture_sampling_is_scan_local(spark):
    """q_dataset_mixture's keep/drop decision must not shuffle the corpus:
    the only Exchange feeds the final per-source aggregate."""
    plan = _plan(QUERIES["q_dataset_mixture"](spark, SF))
    assert plan.count("Exchange") <= 2  # partial→final agg only (AQE may add one)
    assert "Sort" not in plan.split("Exchange")[0]


def test_bpe_pairs_is_topk_not_global_sort(spark):
    plan = _plan(QUERIES["q_bpe_pairs"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_ivf_training_has_no_python_stage(spark):
    """The fixed-point IVF pipeline must be pure JVM (no Python workers in
    the training loop) and its centroid joins must broadcast."""
    plan = _plan(QUERIES["q_ann_ivf"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_sim_search_topk_is_two_stage(spark):
    """q_sim_search must never sort the full scored corpus in one reducer
    per probe: the first Window partitions by (probe_id, salt) — many
    parallel local top-5s — and only the ≤5·salts survivors reach the
    final per-probe Window."""
    import re

    plan = _plan(QUERIES["q_sim_search"](spark, SF))
    assert "pmod" in plan, "salt sub-key missing from the plan"
    # the stage-1 shuffle must hash on more than probe_id alone
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    salted = [e for e in exchanges
              if "probe_id" in e and len(e.split(",")) > 2]
    assert salted, f"no salted per-probe exchange found: {exchanges}"
    # and each stage pre-limits map-side, so no reducer ever receives more
    # than top-5 per upstream partition per group
    assert plan.count("WindowGroupLimit") >= 2


def test_knn_graph_join_is_bucket_keyed(spark):
    """The kNN-graph self-join must be keyed on the LSH bucket — never a
    cartesian/BNLJ over the corpus."""
    plan = _plan(QUERIES["q_knn_graph"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bucket" in plan


def test_interval_overlap_is_equi_join_on_bin(spark):
    """Banding must reduce the overlap join to an equi-join on the hour
    bin (broadcast of the tiny outage side) — never a theta join between
    the two interval sets.  (The one BroadcastNestedLoopJoin in the plan
    is the 1-row max_ts broadcast, the sanctioned scalar-join pattern.)"""
    plan = _plan(QUERIES["q_join_interval_overlap"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin [hbin" in plan
    # the only nested-loop piece is the 1-row scalar broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_domain_cap_is_scan_local_filter(spark):
    """The keep decision must come from a broadcast counts join + map-side
    predicate — no per-source window/rank (hot-reducer hazard)."""
    plan = _plan(QUERIES["q_domain_cap"](spark, SF))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_doc_chunk_overlap_is_map_only(spark):
    """Chunking must be pure row expansion: no Exchange anywhere."""
    plan = _plan(QUERIES["q_doc_chunk_overlap"](spark, SF))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_text_readability_is_map_only(spark):
    plan = _plan(QUERIES["q_text_readability"](spark, SF))
    assert "Exchange" not in plan


def test_outlier_mad_broadcasts_group_stats(spark):
    """The per-group median/MAD tables join back by broadcast — no shuffle
    of the fact table beyond the two percentile aggregations."""
    plan = _plan(QUERIES["q_outlier_mad"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_mode_window_runs_over_count_table(spark):
    """The rank window must sit above the (user, type) aggregate, never
    directly over the raw event scan."""
    plan = _plan(QUERIES["q_agg_mode"](spark, SF))
    w = plan.find("Window")
    agg = plan.find("HashAggregate")
    assert w != -1 and agg != -1
    # In executedPlan's top-down print, Window appears before (above) the
    # aggregate that feeds it.
    assert w < agg


def test_running_distinct_single_user_shuffle(spark):
    """Both windows partition by user_id — exactly one hashpartitioning
    exchange on user_id-led keys, none on anything else."""
    plan = _plan(QUERIES["q_win_running_distinct"](spark, SF))
    import re
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan
    assert all(p.strip().startswith("user_id") for p in parts)


def test_triangles_has_no_cartesian(spark):
    plan = _plan(QUERIES["q_graph_triangles"](spark, SF))
    assert "CartesianProduct" not in plan
    # The only cross joins are the 1-row stat frames glued at the end.
    assert "BroadcastNestedLoopJoin" not in plan or plan.count(
        "BroadcastNestedLoopJoin") <= 2


def test_interpolate_windows_share_one_partitioning(spark):
    """prev/next context frames must reuse one event_type partitioning."""
    plan = _plan(QUERIES["q_rollup_interpolate"](spark, SF))
    import re
    parts = [p for p in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
             if p.strip().startswith("event_type")]
    # one exchange for the window ordering (AQE may add the agg exchange);
    # the two frames must not each force their own event_type exchange.
    assert 1 <= len(parts) <= 2, plan


def test_boilerplate_is_single_agg_topk(spark):
    """Gram mining must be one keyed aggregation + TakeOrdered — no joins,
    nothing pairwise."""
    plan = _plan(QUERIES["q_dedup_boilerplate"](spark, SF))
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_tokenize_vocab_join_is_broadcast(spark):
    plan = _plan(QUERIES["q_tokenize_apply"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_tolerance_single_user_shuffle(spark):
    """Same linear shape as q_join_asof: the only hashpartitioning
    exchanges are on user_id."""
    import re
    plan = _plan(QUERIES["q_join_asof_tolerance"](spark, SF))
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts and all(p.strip().startswith("user_id") for p in parts)


def test_boss_select_pushes_predicate_to_scan(spark):
    """The compiled BOSS expression must behave like native DataFrame code:
    the quantity/returnflag predicate reaches the parquet scan."""
    plan = _plan(QUERIES["q_boss_select_project"](spark, SF))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1][:300]
    assert "l_quantity" in pushed and "l_returnflag" in pushed


def test_boss_group_join_broadcasts_dim(spark):
    plan = _plan(QUERIES["q_boss_group_join"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_session_paths_user_shuffles_then_path_agg(spark):
    """Session windows and the per-session path build shuffle only on
    user-led keys; the final path count is its own keyed aggregation."""
    import re
    plan = _plan(QUERIES["q_session_paths"](spark, SF))
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts
    for p in parts:
        assert p.strip().startswith(("user_id", "path")), p
    assert "TakeOrderedAndProject" in plan


def test_langid_confusion_is_map_side_plus_one_agg(spark):
    plan = _plan(QUERIES["q_langid_confusion"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial/final agg pair


def test_embedding_drift_join_is_centroid_sized(spark):
    """The half-vs-half join runs over the tiny centroid table (post-agg),
    never over exploded fact rows — no SortMergeJoin of the dim explosion."""
    plan = _plan(QUERIES["q_embedding_drift"](spark, SF))
    agg = plan.find("HashAggregate")
    assert agg != -1
    # Generate (posexplode) feeds the aggregate, not the join side directly:
    # the join appears ABOVE (before, in print order) the explode.
    j = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
    g = plan.find("Generate")
    assert j != -1 and g != -1 and j < g


def test_topk_stratum_partitions_by_stratum(spark):
    """The exact-N draw windows per language — never a global order."""
    import re
    plan = _plan(QUERIES["q_sample_topk_stratum"](spark, SF))
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts and all(p.strip().startswith("lang") for p in parts)


def test_temperature_weights_post_agg_is_broadcast_sized(spark):
    """Everything after the one corpus aggregation joins 1-row/visible
    lang-cardinality frames — broadcast or tiny BNLJ, no shuffle joins."""
    plan = _plan(QUERIES["q_lang_temperature_weights"](spark, SF))
    assert "SortMergeJoin" not in plan


def test_windowed_dedup_single_composite_shuffle(spark):
    import re
    plan = _plan(QUERIES["q_dedup_within_window"](spark, SF))
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts and all(
        p.strip().startswith("user_id") for p in parts), parts


def test_bm25_broadcasts_stats_and_heaps_topk(spark):
    """BM25: corpus stats attach via 1-row broadcast (BNLJ, not a shuffle
    join) and the top-20 resolves via per-partition heaps — never a global
    sort of the scored corpus."""
    plan = _plan(QUERIES["q_text_bm25"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_reservoir_sample_is_single_topk(spark):
    """The determinized reservoir is ONE TakeOrderedAndProject over the
    scan — no exchange before the heads merge."""
    plan = _plan(QUERIES["q_sample_reservoir"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_skyline_dominance_join_is_blocked_not_cartesian(spark):
    """The dominance test must join ON the brand block key — a cartesian
    pair expansion would be quadratic in the table, not the block."""
    plan = _plan(QUERIES["q_skyline_pareto"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_attribution_single_user_shuffle(spark):
    """Last-touch attribution: one user_id exchange feeds the window; the
    final channel aggregation partial-aggregates before its exchange."""
    import re
    plan = _plan(QUERIES["q_event_attribution"](spark, SF))
    assert "Window" in plan
    user_parts = re.findall(r"hashpartitioning\(user_id", plan)
    assert len(user_parts) == 1, plan.count("Exchange")
    assert "partial_count" in plan or "partial" in plan.lower()


def test_embedding_dim_stats_partial_aggregates(spark):
    """posexplode streams map-side; the only exchange carries per-dim
    partial aggregates (dims-sized), never exploded rows."""
    plan = _plan(QUERIES["q_embedding_dim_stats"](spark, SF))
    assert "Generate posexplode" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_multi_grain_rollup_is_one_scan_expand(spark):
    """GROUPING SETS must compile to ONE scan + Expand, never three
    aggregation passes."""
    plan = _plan(QUERIES["q_rollup_multi_grain"](spark, SF))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1


def test_price_bands_broadcast_boundaries(spark):
    """The quartile boundary table attaches by 1-row broadcast; banding is
    a map-side CASE — no shuffle join anywhere."""
    plan = _plan(QUERIES["q_price_bands"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lateral_topk_decorrelates_to_window_join(spark):
    """The LATERAL ORDER BY/LIMIT subquery must decorrelate into a ranked
    window + join — no per-row subquery execution, no cartesian product."""
    plan = _plan(QUERIES["q_lateral_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_event_anomaly_broadcasts_type_stats(spark):
    """The per-type stats table (type-cardinality rows) must come back by
    broadcast, not a shuffled join against the hourly counts."""
    plan = _plan(QUERIES["q_event_anomaly"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_timetravel_diff_is_keyed_join_no_cartesian(spark):
    """The snapshot diff must join the two versions on the narrow primary
    key (one shuffle per side), never exceptAll over full rows and never a
    cartesian/BNLJ — the shape that holds when both snapshots are 100 TB."""
    plan = _plan(QUERIES["q_storage_timetravel_diff"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()
    assert "doc_id" in plan
    # The Python DataSource API has no column-pruning hook, so the reader's
    # explicit `columns` option must narrow both version scans to the two
    # referenced columns — the table's other columns (lang, source) must
    # not surface anywhere in the plan, the scans included.
    assert "lang#" not in plan and "source#" not in plan


def test_ivfpq_is_jvm_only_with_broadcasts(spark):
    """The composed IVF-PQ pipeline must stay pure JVM (integer HOF
    arithmetic, no Python workers) with every small side — centroids,
    codebooks, probe residuals — broadcast, and the final top-k as
    windows over probe-partitioned candidates (never a global sort)."""
    plan = _plan(QUERIES["q_ann_ivfpq"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 3
    assert "rangepartitioning" not in plan.lower()


def test_perplexity_model_join_no_python(spark):
    """The bigram-LM scoring path is JVM HOFs + one gram-keyed join; the
    vocab scalar must broadcast (1-row cross join), and no Python worker
    appears anywhere."""
    plan = _plan(QUERIES["q_text_perplexity"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bpe_train_rules_broadcast_and_topk(spark):
    """Each BPE iteration's 1-row rule table must broadcast onto the token
    stream, and the final count must be top-k (TakeOrderedAndProject),
    not a global sort."""
    plan = _plan(QUERIES["q_bpe_train"](spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # two rule attaches
    assert "TakeOrderedAndProject" in plan


def test_span_sliding_no_pair_expansion(spark):
    """The sliding-span dedup must stay inverted-index shaped: hash
    partitioning on the window hash, no cartesian/nested-loop join
    anywhere (a pair expansion would explode at 100 TB)."""
    plan = _plan(QUERIES["q_dedup_span_sliding"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_is_banded_equi_join(spark):
    """Nearest-direction as-of must find candidates through the 3-bucket
    banded equi-join — no cartesian/nested-loop pair expansion (the trap
    a naive |gap|<=tol range join falls into at 100 TB)."""
    plan = _plan(QUERIES["q_join_asof_nearest"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_graph_communities_rounds_are_keyed_joins(spark):
    """Each LPA round must be a keyed join + keyed aggregation over the
    edge list — no cartesian anywhere, and the per-node pick is a
    partitioned window (no global sort)."""
    plan = _plan(QUERIES["q_graph_communities"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()


def test_fan_out_identity_on_well_split_input(spark):
    """fan_out must add NOTHING when the input already has >= the
    session's default parallelism splits — at 100 TB every scan is
    thousands of row groups and the helper must never insert a shuffle
    there (plans/hints.py).  Identity is literal: the same DataFrame
    object comes back."""
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 10_000, 1, numPartitions=target)
    assert fan_out(df, "id") is df
    wide = spark.range(0, 10_000, 1, numPartitions=target * 2)
    assert fan_out(wide) is wide


def test_fan_out_single_keyed_exchange_on_narrow_scan(spark):
    """On a single-split input (the sf0.1 one-row-group corpus shape that
    made q_dedup_chunk_cdc run its HOF chunking on ONE core) fan_out must
    add exactly one exchange — hash-partitioned on the key when given,
    round-robin otherwise — and nothing else."""
    df = spark.range(0, 10_000, 1, numPartitions=1)
    keyed = _plan(fan_out(df, "id"))
    assert keyed.count("Exchange") == 1
    assert "hashpartitioning(id#" in keyed
    unkeyed = _plan(fan_out(df))
    assert unkeyed.count("Exchange") == 1
    assert "roundrobin" in unkeyed.lower()


def test_chunk_cdc_single_chunk_shuffle_no_pairs(spark):
    """The CDC chunk dedup must stay array-side: chunking is JVM HOFs on
    the scan (no Python workers, no token explode joins), and the only
    data movement is the distinct-chunk aggregation — no cartesian or
    nested-loop pair expansion anywhere (the all-pairs trap)."""
    plan = _plan(QUERIES["q_dedup_chunk_cdc"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # chunk_hash-keyed aggregation is the ONLY wide op: every exchange in
    # the plan is either fan_out's keyed widen or the agg's chunk_hash
    # hashpartitioning — nothing else may shuffle.
    import re as _re
    parts = _re.findall(r"hashpartitioning\(([a-zA-Z_]+)#", plan)
    assert set(parts) <= {"chunk_hash", "doc_id"}, parts


def test_stream_interval_join_is_keyed_equi_join(spark):
    """The batch face of the stream-stream interval join must keep
    user_id as the EQUI key (hash or sort-merge join — both shuffle/build
    on the key once) with the time interval as a residual predicate; if
    the equi key ever fell out of the condition Spark would plan a
    BroadcastNestedLoopJoin, the shape that cannot run at 100 TB."""
    plan = _plan(QUERIES["q_stream_interval_join"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin [user_id" in plan \
        or "SortMergeJoin [user_id" in plan \
        or "ShuffledHashJoin [user_id" in plan
    # the interval residual rides the join, not a post-join filter
    joinline = [ln for ln in plan.splitlines()
                if "HashJoin [user_id" in ln or
                "SortMergeJoin [user_id" in ln][0]
    assert "click_ts" in joinline and "view_ts" in joinline


def test_dedup_pipeline_no_pair_expansion_no_python(spark):
    """The composed dedup pipeline must keep every stage's attested
    shape: no cartesian/nested-loop pair expansion anywhere (LSH buckets
    + candidate-restricted verification bound all pairs) and no Python
    workers (pure JVM HOF hashing).  Asserted on the PRE-checkpoint
    edges frame: q_dedup_pipeline's own final plan is truncated at
    _cc_min_label's localCheckpoints, so the LSH + verify stages this
    test exists for would not even appear in it."""
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _pipeline_edges,
    )

    _, edges = _pipeline_edges(load_table(spark, SF, "documents"))
    plan = _plan(edges)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the final (post-checkpoint) report stays clean too
    final = _plan(QUERIES["q_dedup_pipeline"](spark, SF))
    assert "CartesianProduct" not in final
    assert "BatchEvalPython" not in final and "ArrowEvalPython" not in final


def test_unigram_train_stays_jvm_with_broadcast_variants(spark):
    """The unigram trainer's (word x removed-piece) Viterbi grid must be
    broadcast-composed JVM folds with no Python eval and no global sort.
    The DP grid lives BEHIND localCheckpoints in the shipped key, so
    assert on the seg stage directly: the grid must broadcast its
    variant/map sides and stay sort-free JVM."""
    from bossarrowstorageengine_spark.operators.curation import (
        _unigram_scored,
        _unigram_seg,
        _unigram_variants,
        _unigram_words,
    )

    words = _unigram_words(spark, SF)
    scored = _unigram_scored(words)
    seg = _unigram_seg(words, scored, _unigram_variants(scored))
    plan = _plan(seg)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_feed_compact_consumer_single_exchange_no_python(spark):
    """The post-compaction consumer read (one feed scan, per-commit
    conditional sums) must partial-aggregate map-side and shuffle ONCE
    on lang — however the feed's physical layout was rewritten, the
    consumer's plan shape is layout-independent: scan -> partial
    HashAggregate -> one Exchange -> final HashAggregate, no Python
    eval, no sort."""
    import os

    from bossarrowstorageengine_spark.operators.scans import (
        _SCRATCH_ROOT,
        _read_feed,
    )
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _commit_deltas,
    )

    register_arrowipc(spark)
    import __spark_entry__ as entrymod

    entrymod.queries()["q_feed_compact"](spark, SF).collect()
    feed = os.path.join(_SCRATCH_ROOT, os.path.basename(SF),
                        "feed_compact")
    compact_feed_thru(spark, feed, thru=3)  # fully checkpointed layout
    consumer = _commit_deltas(_read_feed(spark, feed, [1, 2, 3]), ["lang"],
                              [1, 2, 3])
    plan = _plan(consumer)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1, plan
    assert "Sort" not in plan
