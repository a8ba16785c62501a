"""Shared-module staleness tracking (VERDICT r5 item 2).

``_MODIFIED_UNATTESTED`` in ``operators/__init__`` is curated per QUERY
FUNCTION, so a rework of a SHARED module (the arrowipc data source, the CoW
maintenance layer, the streaming pipeline builders) used to leave dependent
keys driver-attested on pre-rework internals without any tripwire — round 5
did exactly that to four arrowipc read-path keys.

The mechanism here closes that hole at file granularity:

- ``SHARED_MODULE_DEPS`` maps each shared source file to every registered
  query whose behavior flows through it (hand-curated; an auto-derived
  subset check in tests/test_driver_window.py catches omissions for new
  queries that reference the module directly).
- ``SHARED_MODULE_HASHES`` records the sha256 of each file AS OF the last
  window curation (``tools/curate_window.py`` refreshes them).
- tests/test_driver_window.py recomputes the hashes: a mismatch fails the
  suite until the curator both (a) adds every dependent key to
  ``_MODIFIED_UNATTESTED`` and (b) re-records the hash — so a shared-module
  diff can no longer ship without scheduling its dependents for fresh
  driver attestation.

The map is deliberately file-level and conservative: touching one helper in
maintenance.py schedules the whole q_storage_* family.  Re-attestation is
cheap (one driver-window slot each); a silently stale green row is not.
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

PKG_ROOT = Path(__file__).resolve().parents[1]

#: shared source file (relative to the package root) -> dependent query keys.
SHARED_MODULE_DEPS: dict[str, list[str]] = {
    "sources/arrowipc.py": [
        "q_changefeed_consume",
        "q_mv_maintain",
        "q_mv_restore",
        "q_changefeed_evolve",
        "q_ann_index_maintain",
        "q_feed_compact",
        "q_scan_arrow_roundtrip",
        "q_scan_arrow_stream",
        "q_arrowipc_partitioned",
        "q_arrowipc_snapshot",
        "q_scan_merge_schema",
        "q_scan_dictionary",
        "q_timetravel_asof",
        "q_storage_delete",
        "q_storage_merge",
        "q_storage_update",
        "q_storage_compact",
        "q_storage_timetravel_diff",
        "q_storage_changefeed",
        "q_schema_drift",
        "q_storage_history",
        "q_storage_restore",
        "q_storage_vacuum",
        "q_feed_vacuum",
        "q_ann_lsh_maintained",
        "q_ann_ivf_maintained",
        "q_ann_ivfpq_maintained",
        "q_ann_generations",
        "q_ann_generations_payload",
        "q_purge_propagate",
        "q_purge_derived",
        "q_mv_fanout",
        "q_purge_restore_guard",
        "q_feed_index_cocompact",
        "q_feed_consumer_groups",
        "q_positions_asof",
    ],
    "sources/maintenance.py": [
        "q_purge_restore_guard",
        "q_feed_index_cocompact",
        "q_ann_ivf_maintained",
        "q_ann_ivfpq_maintained",
        "q_ann_generations",
        "q_ann_generations_payload",
        "q_purge_derived",
        "q_changefeed_consume",
        "q_mv_maintain",
        "q_mv_restore",
        "q_ann_index_maintain",
        "q_storage_delete",
        "q_storage_merge",
        "q_storage_update",
        "q_storage_compact",
        "q_storage_timetravel_diff",
        "q_storage_changefeed",
        "q_schema_drift",
        "q_storage_history",
        "q_storage_restore",
        "q_storage_vacuum",
        "q_feed_vacuum",
        "q_mv_fanout",
    ],
    "sources/feed_maintain.py": [
        "q_feed_compact",
        "q_feed_vacuum",
        "q_feed_index_cocompact",
    ],
    "sources/feed_consume.py": [
        "q_feed_consumer_groups",
        "q_positions_asof",
    ],
    "streaming/mv_maintain.py": [
        "q_feed_consumer_groups",
    ],
    "streaming/pipelines.py": [
        "q_stream_profile",
        "q_stream_interval_join",
    ],
    "streaming/ann_index.py": [
        "q_ann_generations",
        "q_ann_generations_payload",
        "q_ann_lsh_maintained",
        "q_ann_ivf_maintained",
        "q_ann_ivfpq_maintained",
        "q_purge_propagate",
        "q_purge_restore_guard",
        "q_feed_index_cocompact",
    ],
    "functions/zorder.py": [
        "q_zorder_layout",
    ],
    "functions/components.py": [
        "q_dedup_cluster",
        "q_dedup_pipeline",
        "q_dedup_apply",
        "q_entity_components",
        "q_purge_text",
    ],
    # catalog.py sits on EVERY query's scan path (ADVICE r16 medium).
    # Scheduling all 293 keys per diff would eat the whole 50-key window,
    # so the dependent set is a curated representative slice: one key per
    # fixture table family, covering the schema-cache path and the
    # events ns→µs normalization (the one semantic transform in there).
    "catalog.py": [
        "q_agg_basic",        # lineitem
        "q_scan_parquet",     # lineitem, cache-then-reload
        "q_join_multiway",    # orders/customer/nation/region joins
        "q_text_stats",       # documents
        "q_sim_search",       # embeddings
        "q_stream_tumbling",  # events (ns→µs normalization)
    ],
}

#: sha256 of each shared file as of the last `tools/curate_window.py` run.
#: REGENERATED BY THE TOOL — do not edit by hand.
SHARED_MODULE_HASHES: dict[str, str] = {
    "catalog.py":
        "e24833c4588ad91b27409cbef37ac3187311ef8b79edb6679a34fc7463c3d18c",
    "functions/components.py":
        "c124fbf14d4bf91c77f2e9fb90677de360ff5ae8d963c68763ef4968f2bff8e9",
    "functions/zorder.py":
        "efcfa982491ac135131a4395882285af32bd8e00b5efa171053dcd38531ffb10",
    "sources/arrowipc.py":
        "92613edd466054909ea2abda049610689a7dbf0569c1ff65f890b33b9f3560e8",
    "sources/feed_consume.py":
        "70324fe69b9868287686818026ba5a3313d808165116027c446c95f6a3422400",
    "sources/feed_maintain.py":
        "44afb611117e79ca45df00a5e11f931f844da3e0ae36a580ebc683c90557b874",
    "sources/maintenance.py":
        "b08eec8cce9aa8a18aff6be9e4a5a3abb3854b33a6efeb0d90d8aa0c9ace58b9",
    "streaming/ann_index.py":
        "c863ca3d67b5989c9d335b5caffdbff120c0c816d6d8dd9a03472875ad67400d",
    "streaming/mv_maintain.py":
        "0b54152e8e81484a8d31382796f815f7be8aaab9fae5c10d2d05571b662e61e1",
    "streaming/pipelines.py":
        "38a41f7ac431b15aa3169e22116ae71cc5c228ad742e4f96611d1b19ecac7c12",
}


def module_hash(relpath: str) -> str:
    """Hash of the module's ABSTRACT SYNTAX, not its bytes: ``#`` comments
    and whitespace/formatting cannot change behavior, so they must not
    schedule a whole dependent family for re-attestation (round 9: an
    ADVICE-requested comment in maintenance.py would have burned 8 of the
    window's 50 slots).  Everything the interpreter executes — including
    docstrings, which are runtime values — still trips the wire.  Files
    that fail to parse fall back to the byte hash (never silently pass)."""
    src = (PKG_ROOT / relpath).read_bytes()
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return hashlib.sha256(src).hexdigest()
    return hashlib.sha256(
        ast.dump(tree, include_attributes=False).encode()).hexdigest()


def stale_modules() -> dict[str, list[str]]:
    """Shared files whose current content differs from the recorded hash,
    with their dependent keys (empty dict = everything curated)."""
    return {
        rel: SHARED_MODULE_DEPS[rel]
        for rel in SHARED_MODULE_DEPS
        if SHARED_MODULE_HASHES.get(rel) != module_hash(rel)
    }
