from __future__ import annotations

import sys
import tempfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from bossarrowstorageengine_spark.session import build_session  # noqa: E402
from bossarrowstorageengine_spark.sources import register_arrowipc  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = build_session("pytest", master="local[8]")
    # Warm up here, so the session's first-job cost is not charged to
    # whichever test runs first against SLOW_CALL_LIMIT_S: one small job
    # collected through Arrow (perfbench/run.py's warm-up), then a tiny
    # arrowipc write and read, which start the Python data-source workers
    # (about 12 s of the first test's call phase without it).
    spark.range(1000).selectExpr("id", "id * 2 AS x").toPandas()
    register_arrowipc(spark)
    with tempfile.TemporaryDirectory() as warm:
        spark.range(8).write.format("arrowipc").mode("append").save(warm)
        spark.read.format("arrowipc").load(warm).toPandas()
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


# ---------------------------------------------------------------------------
# Fast-by-default suite (r17, VERDICT r16 item 2): the full suite grew to
# ~47 min, so the driver's bounded pytest run kept timing out mid-stream
# (VERIFY_r16 tests_ok=false on an all-dots truncated tail).  Every test
# measured >= 5 s in the full r17 timing run (--durations=0, committed
# threshold) is auto-marked `slow` here and DESELECTED BY DEFAULT via
# pytest.ini's `-m "not slow"` — the default run covers the other 560
# tests in ~8-10 min.  The slow set stays runnable as an opt-in:
#
#     python -m pytest tests/ -m ""            # full suite
#     python -m pytest tests/ -m slow          # only the slow set
#
# The list cannot go stale silently: an unmarked test whose call phase runs
# longer than SLOW_CALL_LIMIT_S fails (pytest_runtest_makereport below), so
# a new slow test must be added here or marked `slow`.
#
# Coverage note: the deselected set is dominated by the maintained-ANN /
# streaming E2E twins and heavy oracle keys, all of which tools/check.py
# (293/293) exercises independently of pytest.
SLOW_CALL_LIMIT_S = 30.0
SLOW_TESTS = {
    "test_arrowipc.py::test_compaction_with_zorder_clusters_both_dimensions",
    "test_arrowipc.py::test_manifest_commits_are_delta_sized_with_checkpoints",
    "test_arrowipc.py::test_merge_preserves_duplicate_target_key_multiplicity",
    "test_arrowipc.py::test_merge_upserts_by_key_in_one_snapshot_commit",
    "test_arrowipc.py::test_roundtrip_identity_per_codec[zstd]",
    "test_arrowipc.py::test_stream_restart_from_checkpoint_is_exactly_once",
    "test_arrowipc.py::test_zorder_compaction_on_partitioned_table",
    "test_arrowipc_property.py::test_ann_index_lsm_matches_dict_replay",
    "test_arrowipc_property.py::test_cow_delete_equals_filter",
    "test_arrowipc_property.py::test_cow_update_equals_projection",
    "test_arrowipc_property.py::test_feed_compact_content_invariant_arbitrary_histories",
    "test_arrowipc_property.py::test_partitioned_cow_update_equals_projection_and_placement",
    "test_arrowipc_property.py::test_roundtrip_identity_arbitrary_rows",
    "test_arrowipc_property.py::test_roundtrip_identity_stream_encoding",
    "test_boss_property.py::test_compiled_matches_rendered_sql",
    "test_curation.py::test_label_propagation_flags_unconverged_long_chain",
    "test_determinism.py::test_result_invariant_to_shuffle_width[q_storage_timetravel_diff]",
    "test_llm_ops.py::test_ann_ivf_deterministic_and_sane",
    "test_llm_ops.py::test_ann_ivfpq_shape_and_rerank_order",
    "test_llm_ops.py::test_ann_ivfpq_trained_codebooks_reduce_residual_distortion",
    "test_llm_ops.py::test_minhash_lsh_deterministic_and_finds_planted_dupe",
    "test_oracle.py::test_query_matches_oracle[q_ann_generations]",
    "test_oracle.py::test_query_matches_oracle[q_ann_generations_payload]",
    "test_oracle.py::test_query_matches_oracle[q_ann_index_maintain]",
    "test_oracle.py::test_query_matches_oracle[q_ann_ivf_maintained]",
    "test_oracle.py::test_query_matches_oracle[q_ann_ivfpq_maintained]",
    "test_oracle.py::test_query_matches_oracle[q_ann_lsh_maintained]",
    "test_oracle.py::test_query_matches_oracle[q_ann_recall_report]",
    "test_oracle.py::test_query_matches_oracle[q_bpe_train_n]",
    "test_oracle.py::test_query_matches_oracle[q_changefeed_consume]",
    "test_oracle.py::test_query_matches_oracle[q_dedup_apply]",
    "test_oracle.py::test_query_matches_oracle[q_dedup_pipeline]",
    "test_oracle.py::test_query_matches_oracle[q_feed_compact]",
    "test_oracle.py::test_query_matches_oracle[q_feed_consumer_groups]",
    "test_oracle.py::test_query_matches_oracle[q_feed_index_cocompact]",
    "test_oracle.py::test_query_matches_oracle[q_feed_vacuum]",
    "test_oracle.py::test_query_matches_oracle[q_mv_fanout]",
    "test_oracle.py::test_query_matches_oracle[q_mv_maintain]",
    "test_oracle.py::test_query_matches_oracle[q_mv_restore]",
    "test_oracle.py::test_query_matches_oracle[q_purge_derived]",
    "test_oracle.py::test_query_matches_oracle[q_purge_propagate]",
    "test_oracle.py::test_query_matches_oracle[q_purge_restore_guard]",
    "test_oracle.py::test_query_matches_oracle[q_purge_text]",
    "test_oracle.py::test_query_matches_oracle[q_storage_changefeed]",
    "test_oracle.py::test_query_matches_oracle[q_storage_timetravel_diff]",
    "test_oracle.py::test_query_matches_oracle[q_storage_vacuum]",
    "test_plans.py::test_feed_compact_consumer_single_exchange_no_python",
    "test_plans.py::test_no_python_udf_outside_udf_family",
    "test_round10_props.py::test_cc_large_small_star_matches_min_label_and_union_find",
    "test_round10_props.py::test_changefeed_consume_is_consistent_and_nonvacuous",
    "test_round11_props.py::test_ann_recall_report_orders_sanely",
    "test_round12_props.py::test_ann_index_maintain_consistent_and_nonvacuous",
    "test_round12_props.py::test_ann_recall_report_trained_methods",
    "test_round12_props.py::test_feed_compact_behind_head_then_absorb_and_time_travel",
    "test_round12_props.py::test_mv_maintain_versions_consistent_and_nonvacuous",
    "test_round12_props.py::test_mv_restore_rolls_back_and_enforces_detection",
    "test_round13_props.py::test_ann_lsh_maintained_matches_inline_rebucketing",
    "test_round13_props.py::test_ann_lsh_maintained_probe3_rebucketed",
    "test_round13_props.py::test_cocompact_flags_and_state_cardinality",
    "test_round13_props.py::test_feed_vacuum_flags_and_content",
    "test_round13_props.py::test_mv_fanout_grains_consistent_and_rollup",
    "test_round13_props.py::test_purge_guard_unit_positional_and_missing_ledger",
    "test_round13_props.py::test_purge_propagate_flags_versions_nonvacuous",
    "test_round13_props.py::test_purge_restore_guard_flags_and_positional",
    "test_round13_props.py::test_purge_text_handoff_nonvacuous_and_consistent",
    "test_round14_props.py::test_ann_ivf_maintained_properties",
    "test_round14_props.py::test_bucketby_write_and_grouped_read_roundtrip",
    "test_round14_props.py::test_bucketed_index_read_is_shuffle_free",
    "test_round14_props.py::test_consumer_group_driven_maintainers",
    "test_round14_props.py::test_feed_consumer_groups_properties",
    "test_round14_props.py::test_purge_derived_properties",
    "test_round14_props.py::test_purge_text_audit_reads_persisted_table",
    "test_round14_props.py::test_timestamp_as_of_batch_time_travel",
    "test_round15_props.py::test_generational_rollover_inherits_payload_and_checks_gen_tags",
    "test_round15_props.py::test_index_payload_roundtrip_and_shuffle_free",
    "test_round15_props.py::test_merge_ledger_state_property_matches_full_outer",
    "test_round15_props.py::test_stream_ivf_generation_rollover",
    "test_round5_props.py::test_pareto_frontier_matches_bruteforce",
    "test_round8_props.py::test_bpe_train_n_matches_reference_trainer",
    "test_round9_props.py::test_cc_min_label_matches_union_find",
    "test_round9_props.py::test_chunk_incremental_batch_face_matches_streaming",
    "test_round9_props.py::test_dedup_apply_accounting_closes",
    "test_round9_props.py::test_lsh_hot_bucket_cap_star_splits_boilerplate_bucket",
    "test_round9_props.py::test_unigram_prune_drops_cheapest_pieces_and_renormalizes",
    "test_stream_batch_differential.py::test_differential_stream_session",
    "test_stream_batch_differential.py::test_differential_stream_sliding",
    "test_stream_batch_differential.py::test_differential_stream_tumbling",
    "test_streaming.py::test_custom_stateful_running_totals",
    "test_streaming.py::test_manifest_mode_stream_reader",
    "test_streaming.py::test_session_window_gap_merge",
    "test_streaming.py::test_stateful_profile_across_micro_batches",
    "test_streaming.py::test_stream_ann_index_maintain_matches_rebuild",
    "test_streaming.py::test_stream_bootstrap_after_compaction_then_tail",
    "test_streaming.py::test_stream_bootstrap_then_tail_after_backlog",
    "test_streaming.py::test_stream_chunk_dedup_probes_index_incrementally",
    "test_streaming.py::test_stream_chunk_dedup_replay_without_marker_is_identical",
    "test_streaming.py::test_stream_drift_monitor_matches_batch_key",
    "test_streaming.py::test_stream_guarded_index_fails_loudly_on_resurrection",
    "test_streaming.py::test_stream_mv_fanout_commits_consumer_group_position",
    "test_streaming.py::test_stream_mv_fanout_matches_batch_twin",
    "test_streaming.py::test_stream_mv_maintain_matches_batch_twin",
    "test_streaming.py::test_stream_mv_maintain_through_feed_compaction",
    "test_streaming.py::test_stream_native_maintained_index_tails_feed",
    "test_streaming.py::test_stream_session_gap_contract_violation_fails_loudly[2024-01-01",
    "test_streaming.py::test_stream_session_gap_matches_batch_twin",
    "test_streaming.py::test_stream_session_gap_real_events_two_batches",
    "test_streaming.py::test_stream_session_gap_reordered_matches_batch_twin",
    "test_streaming.py::test_stream_skip_change_commits",
    "test_streaming.py::test_stream_starting_timestamp",
    "test_streaming.py::test_stream_stream_interval_join",
    "test_streaming.py::test_stream_vocab_refresh_matches_batch_trainer",
    "test_streaming.py::test_streaming_dedup_within_watermark",
    "test_streaming.py::test_tumbling_append_emits_closed_windows_and_drops_late",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        tail = item.nodeid.split("tests/")[-1]
        if tail in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_makereport(item, call):
    report = (yield).get_result()
    if (call.when == "call" and report.passed
            and item.get_closest_marker("slow") is None
            and call.duration > SLOW_CALL_LIMIT_S):
        report.outcome = "failed"
        report.longrepr = (
            f"{item.nodeid} ran {call.duration:.1f} s, over the "
            f"{SLOW_CALL_LIMIT_S:.0f} s limit for tests not marked slow: "
            "add it to SLOW_TESTS in tests/conftest.py or mark it slow")
