"""Operator surface (SURVEY.md §2 Part B) — importing this package populates
the query/oracle registries in ``registry``."""

from __future__ import annotations

import importlib

from bossarrowstorageengine_spark.operators.registry import ORACLES, QUERIES

#: Operator-family modules; each registers its queries on import.
_MODULES = [
    "aggregates",
    "boss",
    "curation",
    "event_time",
    "filters",
    "graph",
    "joins",
    "llm_pipeline",
    "multimodal",
    "reshape",
    "scalar_funcs",
    "scans",
    "setops",
    "sorts",
    "subqueries",
    "training_data",
    "udfs",
    "windows",
]

for _m in _MODULES:
    importlib.import_module(f"bossarrowstorageengine_spark.operators.{_m}")

#: The driver's correctness gate checks the FIRST 50 keys of ``queries()``
#: in dict order, so this window is re-curated each round (the rotation
#: POLICY is documented in SURVEY.md §5 and ENFORCED by
#: ``tests/test_driver_window.py``):
#:
#:   1. every key with no driver-green row in any committed
#:      CORRECTNESS_r*.json (new operators + never-sampled backlog);
#:   2. every key in ``_MODIFIED_UNATTESTED`` below (implementation changed
#:      after its newest green row — the row attests stale behavior);
#:   3. remaining slots rotate through already-green keys, OLDEST green
#:      round first (alphabetical within a round) — so long-unverified
#:      greens are re-attested opportunistically, ~20 per round once the
#:      backlog clears (full re-attestation cycle ≈ surface/20 rounds).
#:
#: OVERFLOW rule (r15): a green key older than FRESHNESS_HORIZON (=7)
#: rounds is rotation-DUE.  When never-green + modified + due keys exceed
#: the window, due keys OUTRANK modified re-attestation (a carried
#: modified key keeps its _MODIFIED_UNATTESTED tripwire; an aging green
#: has nothing) and modified slots go to the priority PREFIX of the
#: _MODIFIED_UNATTESTED list — the suffix carries to the next window.
#:
#: Keys absent from this list follow in registration order.
#:
#: The list is REGENERATED by ``tools/curate_window.py`` (which also
#: refreshes the shared-module hashes in ``_staleness.py``); edit the
#: policy there, not the list here.
# BEGIN _DRIVER_WINDOW (generated)
_DRIVER_WINDOW = [
    "q_agg_approx_quantile",
    "q_agg_mode",
    "q_bpe_pairs",
    "q_cdc_scd2",
    "q_dataset_mixture",
    "q_dedup_chunk_apply",
    "q_dedup_chunk_incremental",
    "q_dedup_incremental",
    "q_doc_chunk_overlap",
    "q_domain_cap",
    "q_embedding_mrl",
    "q_event_pattern",
    "q_subquery_in",
    "q_subquery_scalar",
    "q_tpch_q10",
    "q_tpch_q13",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q17",
    "q_tpch_q22",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q7",
    "q_train_test_split",
    "q_udtf_apply",
    "q_vocab_topk",
    "q_win_session_gap",
    "q_storage_changefeed",
    "q_storage_timetravel_diff",
    "q_storage_vacuum",
    "q_arrowipc_snapshot",
    "q_timetravel_asof",
    "q_purge_derived",
    "q_mv_fanout",
    "q_feed_consumer_groups",
    "q_ann_ivf_maintained",
    "q_ann_generations_payload",
    "q_ann_ivfpq_maintained",
    "q_ann_generations",
    "q_ann_lsh_maintained",
    "q_ann_index_maintain",
    "q_feed_index_cocompact",
    "q_feed_compact",
    "q_feed_vacuum",
    "q_purge_propagate",
    "q_purge_restore_guard",
    "q_positions_asof",
    "q_agg_basic",
    "q_scan_parquet",
    "q_join_multiway",
]
# END _DRIVER_WINDOW (generated)

#: Keys whose CURRENT implementation postdates their newest driver-green
#: row (re-curated each round; drives window priority 2 above).
_MODIFIED_UNATTESTED = [
    # ORDER MATTERS: under window overflow (tools/curate_window.py, r15
    # policy) only the longest fitting PREFIX of this list gets driver
    # slots; the suffix is CARRIED to the next window (and must be
    # verified locally via tools/check.py in the meantime — SURVEY §7
    # records the run).  Rank keys most exercised by the round's diffs
    # first.
    #
    # Round-17 start: the 50 keys the r16 window attested green
    # (CORRECTNESS_r16.json, 50/50 — including the whole generational /
    # maintained-ANN family and the r16-optimization dependents) are
    # cleared; the carried tail below re-attests this round.  Round-17
    # shared-module diffs append their dependents as they land (see
    # per-block comments).
    #
    # r17 — streaming/ann_index.py action-count cuts (VERDICT r16 item
    # 1: apply_index_batch's emptiness probe rides the commit-list
    # collect; seed/roll row counts come from the writer's stats
    # sidecars instead of corpus-sized count jobs) + per-query
    # restructurings in llm_pipeline.py (concurrent independent
    # training/fixture branches, materialized exceptAll audit sides,
    # tagged-union count fusions).  Outputs bit-identical; every key
    # below check.py-green on the new paths.  Ranked first: these carry
    # the round's heaviest diffs:
    #
    # sources/arrowipc.py: small files are packed into shared scan tasks
    # and every input partition is one (path, batches, seek) item list,
    # read by one loop (batch reads, groupByBucket and stream
    # micro-batches alike).  Every arrowipc dependent reads through the
    # new planner; these were not yet carried:
    "q_storage_changefeed",
    "q_storage_timetravel_diff",
    "q_storage_vacuum",
    "q_arrowipc_snapshot",
    "q_timetravel_asof",
    "q_purge_derived",
    "q_mv_fanout",
    "q_feed_consumer_groups",
    "q_ann_ivf_maintained",
    "q_ann_generations_payload",
    "q_ann_ivfpq_maintained",
    "q_ann_generations",
    "q_ann_lsh_maintained",
    "q_ann_index_maintain",
    # r17 — sources/feed_maintain.py: compact_feed_thru gained an
    # optional caller-supplied schema on its checkpoint-rewrite read
    # (VERDICT r16 item 3); the three feed-maintenance keys now pass it.
    # Outputs content-identical (tests/test_round17_opt.py pins the
    # schema-vs-inference equality); all three check.py-green on the
    # new path:
    "q_feed_index_cocompact",
    "q_feed_compact",
    "q_feed_vacuum",
    # ann_index.py dependents touched only through the shared fixes:
    "q_purge_propagate",
    "q_purge_restore_guard",
    "q_positions_asof",
    # r17 — catalog.py joins SHARED_MODULE_DEPS (ADVICE r16 medium): its
    # hash was never recorded, so the tripwire fires once to schedule
    # the representative slice for attestation on the now-tracked path
    # (the file's AST is unchanged since the r16-attested tree, so these
    # rank below every behaviorally-diffed key):
    "q_agg_basic",
    "q_scan_parquet",
    "q_join_multiway",
    "q_text_stats",
    "q_sim_search",
    "q_stream_tumbling",
    # Carried tail from the r15/r16 overflow (all locally
    # check.py-verified each round; 293/293 full-surface run at r17
    # start):
    "q_changefeed_consume",
    "q_changefeed_evolve",
    "q_mv_maintain",
    "q_mv_restore",
    "q_scan_arrow_roundtrip",
    "q_scan_arrow_stream",
    "q_arrowipc_partitioned",
    "q_scan_merge_schema",
    "q_scan_dictionary",
    "q_storage_delete",
    "q_storage_merge",
    "q_storage_update",
    "q_storage_compact",
    "q_schema_drift",
    "q_storage_history",
    "q_storage_restore",
    # r17 — functions/components.py: check_every parameter REMOVED
    # (VERDICT r16 item 7; the r16 deprecation soaked one round).  The
    # five dependents were already carried from r16's warning-only diff:
    "q_dedup_cluster",
    "q_dedup_pipeline",
    "q_dedup_apply",
    "q_entity_components",
    "q_purge_text",
]


def _reorder_registry() -> None:
    missing = [k for k in _DRIVER_WINDOW if k not in QUERIES]
    if missing:
        raise ValueError(f"_DRIVER_WINDOW keys not registered: {missing}")
    ordered = {k: QUERIES[k] for k in _DRIVER_WINDOW}
    ordered.update({k: v for k, v in QUERIES.items() if k not in ordered})
    QUERIES.clear()
    QUERIES.update(ordered)
    oracles = {k: ORACLES[k] for k in ordered if k in ORACLES}
    ORACLES.clear()
    ORACLES.update(oracles)


_reorder_registry()

__all__ = ["QUERIES", "ORACLES"]
