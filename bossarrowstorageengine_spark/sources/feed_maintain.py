"""Changefeed CHECKPOINT COMPACTION for the ``arrowipc`` feed layout.

A CDC feed accumulates one small ``commit_seq=k`` partition per source
commit (each holding a mutation-sized handful of part files).  A consumer
catching up from scratch then pays one directory + a few tiny file reads
PER COMMIT — at 100 TB with thousands of commits the listing and per-file
task overhead dominate the actual change volume.  ``compact_feed_thru``
rewrites every commit partition up to ``thru`` into ONE checkpoint file
set (the Debezium/Kafka-compacted-topic "snapshot + tail" idiom applied
to a table-formatted feed):

- the checkpoint parts land under ``compacted_thru=<thru>/`` and keep
  ``commit_seq`` as an ordinary DATA column (the writer always stores
  partition columns physically, so nothing is lost by collapsing the
  directory level) — consumers keep filtering ``commit_seq`` exactly as
  before, the pruning just moves from directory level to file stats;
- the rewrite is sorted by ``commit_seq`` so each checkpoint file's
  min/max stats record the contiguous commit range it covers — a reader
  pruning to commits beyond ``thru`` still skips the checkpoint at plan
  time;
- commits beyond ``thru`` are untouched (compaction runs behind the feed
  head while producers keep appending);
- the swap is a LOGICAL manifest commit (add checkpoints, remove the
  rewritten parts) — readers flip atomically, pre-compaction versions
  stay time-travelable until vacuum, and a concurrent producer append
  survives via the manifest CAS retry loop.

A later compaction with a larger ``thru`` re-absorbs earlier checkpoints
(a ``compacted_thru=N`` set is in scope whenever ``N <= thru``), so the
feed converges to one checkpoint plus a short tail no matter how often
maintenance runs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from bossarrowstorageengine_spark.sources.arrowipc import _partition_int
from bossarrowstorageengine_spark.sources.maintenance import _Rewrite


def _scope_key(path: str, part_file: str) -> int | None:
    """The feed position a part file covers: ``k`` for a file under a
    ``commit_seq=k`` directory, ``n`` for one under ``compacted_thru=n``
    (an earlier checkpoint covers commits 1..n), else ``None`` (not a
    feed-positioned file — never compacted by this routine)."""
    for col in ("commit_seq", "compacted_thru"):
        if (k := _partition_int(path, part_file, col)) is not None:
            return k
    return None


def compact_feed_thru(
    spark: SparkSession,
    path: str,
    thru: int,
    compression: str = "zstd",
    target_files: int = 1,
    schema=None,
) -> dict:
    """Collapse the feed's commit partitions ``1..thru`` (and any earlier
    checkpoints they subsume) into one checkpoint part set under
    ``compacted_thru=<thru>/``.  ``target_files`` bounds the rewrite
    width: at test scale one file is right, but a checkpoint of
    thousands of commits on a real feed wants several — the range
    repartition keeps each output file a CONTIGUOUS ``commit_seq``
    span, so per-file min/max stats still prune commit-range reads.

    ``schema``: the feed's FULL on-disk row schema (DDL string or
    StructType), when the caller knows it — the rewrite's internal read
    then skips the Python-datasource schema-inference planner round trip
    (about 0.01 s per call on 4 cores once the planner worker is warm).
    Partition columns (``commit_seq``) are stored physically by the
    writer, so the written frame's schema IS the read schema; a type
    mismatch fails the read loudly via ``_validate_declared_schema``.
    ``None`` keeps inference (callers compacting a feed of unknown
    layout).

    Returns ``{"files_before", "files_after", "compacted", "rows",
    "version", "thru"}``; no-op (no manifest commit) when nothing is in
    scope."""
    with _Rewrite(spark, path, "feedcompact") as tx:
        before = tx.visible
        in_scope = sorted(f for f in before
                          if (k := _scope_key(path, f)) is not None
                          and k <= thru)
        if not in_scope:
            return {"files_before": len(before),
                    "files_after": len(before), "compacted": 0, "rows": 0,
                    "version": tx.head, "thru": thru}
        # Checkpoint files range-keyed and sorted by feed position, so
        # each file's min/max stats record the exact commit span it
        # covers (readers pruning past `thru` skip them at plan time).
        # commit_seq rides along as a data column — it was stored
        # physically by the partitioned write, so the collapse loses
        # nothing.  Only the in-scope files are pinned: a concurrent
        # producer commit landing mid-compaction is neither rewritten
        # nor removed.
        tx.stage(tx.read(in_scope, schema=schema)
                 .repartitionByRange(max(1, target_files), "commit_seq")
                 .sortWithinPartitions("commit_seq"),
                 into=f"compacted_thru={thru}", compression=compression)
        rows = tx.staged_rows()
        promoted = tx.commit(remove=in_scope)
    files_after = len(before) - len(in_scope) + len(promoted)
    return {"files_before": len(before), "files_after": files_after,
            "compacted": len(in_scope), "rows": rows, "version": tx.version,
            "thru": thru}
