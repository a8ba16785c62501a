"""Changefeed CONSUMER GROUPS (SURVEY §7 round-14 runway item 2e) — the
Kafka consumer-group idiom over an arrowipc changefeed: multiple NAMED
consumers tail the same feed independently, each with a durable committed
position in a small offsets table, with ``commit`` / ``seek`` / ``lag``
surfaces.  This is the first thing a second team hitting the feed asks
for: today each consumer invents its own ledger (the MV maintainer's
``src_commit``, the LSM index's segment high-water); the offsets table
makes position tracking a shared, auditable primitive.

Mechanics:

- The OFFSETS TABLE is an arrowipc snapshot table of audit rows
  ``(group, position, op, seq)`` — every ``commit_position`` / ``seek``
  appends ONE row under the ConditionalPut manifest CAS, and a group's
  current position is its max-``seq`` row (an append-only audit log read
  last-wins, exactly the MV-ledger pattern, so position history is time
  travelable and a rewind is visible as an ``op='seek'`` row rather than
  lost history).  Offsets are METADATA (consumer-count-sized, the
  ``__consumer_offsets`` analogue), so reads and commits run
  driver-side — pyarrow IPC + the manifest CAS, no Spark job per
  commit — while the table stays a perfectly ordinary arrowipc table
  any Spark reader can audit.
- ``consume_next`` hands the caller every feed row with
  ``commit_seq > position`` plus the feed head — the caller applies the
  rows (idempotently, keyed by its own sink's ledger as the MV/index
  maintainers already do) and then ``commit_position(head)``.  The
  crash window between apply and commit re-delivers, which the sink
  ledger absorbs: at-least-once delivery + idempotent apply =
  exactly-once effect, per consumer.
- ``consumer_lag`` reports ``(group, position, head, lag)`` for every
  registered group — the backlog dashboard.  The head is read from the
  feed's ``commit_seq=`` partition directories in the manifest
  (metadata only; a Spark aggregate is the fallback for feeds without
  the partition layout).

Concurrency contract (Kafka's): ONE writer per group.  Offsets commits
for different groups interleave safely — ``seq`` is assigned inside the
manifest-CAS loop, so concurrent commits get globally unique, totally
ordered audit seqs (r15); two concurrent committers for the SAME group
still race apply-vs-commit semantics and must be serialized by the
caller.

Scale: the offsets table is consumer-count-sized; ``consume_next`` reads
feed rows beyond the position (commit-partition pruned: the feed is
partitioned by ``commit_seq``, so the position filter prunes whole
directories before any file opens).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Offsets-table row layout (append-only audit log, last-wins by seq).
OFFSETS_SCHEMA = "group string, position long, op string, seq long"

_OFFSETS_ARROW = pa.schema([
    pa.field("group", pa.string()),
    pa.field("position", pa.int64()),
    pa.field("op", pa.string()),
    pa.field("seq", pa.int64()),
])


def _offset_rows(offsets_dir: str, version: int | None = None) -> list[dict]:
    """Every audit row in the offsets table — driver-side pyarrow read
    of the manifest-visible files (consumer-count-sized by design).
    ``version`` pins the read to one snapshot (the seq-CAS loop needs
    the rows AT the version its commit will land on)."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions,
        _read_manifest,
    )

    if version is None:
        versions = _manifest_versions(offsets_dir)
        if not versions:
            return []
        version = versions[-1]
    rows: list[dict] = []
    for f in _read_manifest(offsets_dir, version):
        with pa.OSFile(f, "rb") as fh:
            rows.extend(pa.ipc.open_file(fh).read_all().to_pylist())
    return rows


def _append(offsets_dir: str, group: str, position: int, op: str) -> None:
    """Append one audit row with the next global ``seq``.  The seq is
    computed INSIDE the manifest-CAS loop against the pinned snapshot
    the commit will land on (VERDICT r14 item 5): two different groups
    committing concurrently can no longer both observe the same max and
    tie — the loser's commit is rejected by ``expected_prev`` and it
    recomputes.  (Same-GROUP writers must still be serialized by the
    caller — the documented Kafka contract.)"""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ConcurrentWriteConflict,
        _manifest_versions,
        _write_manifest,
        commit_backend,
    )

    while True:
        versions = _manifest_versions(offsets_dir)
        prev = versions[-1] if versions else 0
        rows = _offset_rows(offsets_dir, version=prev) if prev else []
        seq = max((r["seq"] for r in rows), default=0) + 1
        tbl = pa.table(
            {"group": [group], "position": [int(position)], "op": [op],
             "seq": [int(seq)]}, schema=_OFFSETS_ARROW)
        final = os.path.join(offsets_dir,
                             f"part-{uuid.uuid4().hex}.arrows")
        buf = pa.BufferOutputStream()
        with pa.ipc.new_file(buf, _OFFSETS_ARROW) as w:
            w.write_table(tbl)
        commit_backend().put(final, buf.getvalue().to_pybytes())
        try:
            _write_manifest(offsets_dir, [final], replace=False,
                            expected_prev=prev)
            return
        except ConcurrentWriteConflict:
            os.remove(final)  # lost the race: recompute seq and retry


def committed_position(spark: SparkSession, offsets_dir: str,
                       group: str) -> int:
    """The group's current committed feed position (0 = never
    committed): its newest offsets row, last-wins by ``seq``."""
    rows = [r for r in _offset_rows(offsets_dir) if r["group"] == group]
    if not rows:
        return 0
    return int(max(rows, key=lambda r: r["seq"])["position"])


def commit_position(spark: SparkSession, offsets_dir: str, group: str,
                    position: int) -> None:
    """Commit the group's position after a successful apply.  Commits
    must move FORWARD — a lower position is a rewind and must be an
    explicit, audited ``seek`` (refusing here is what makes an
    accidental stale-position commit loud instead of silently
    re-delivering a backlog to an idempotent sink forever)."""
    cur = committed_position(spark, offsets_dir, group)
    if position < cur:
        raise ValueError(
            f"consumer group {group!r}: commit_position({position}) is "
            f"behind the committed position {cur} — rewinds must be "
            "explicit: use seek(), which records an audited op='seek' "
            "row")
    _append(offsets_dir, group, position, "commit")


def seek(spark: SparkSession, offsets_dir: str, group: str,
         position: int) -> None:
    """Reposition the group explicitly (rewind for replay or skip-ahead)
    — recorded as an ``op='seek'`` audit row, so the position history
    shows WHO rewound and from where."""
    if position < 0:
        raise ValueError(f"seek position must be >= 0, got {position}")
    _append(offsets_dir, group, position, "seek")


def position_advancer(offsets_dir: str | None, group: str | None,
                      maintainer: str):
    """The position step of a streaming maintainer registered as a named
    consumer group: a function that, after the maintainer's apply,
    advances ``group``'s position to a micro-batch's max ``commit_seq``.
    ``offsets_dir`` and ``group`` come together (``ValueError``
    otherwise); without them the step does nothing.  The position is
    advisory observability — replay safety stays on the maintainer's
    own ledger — and a batch at or below the committed position is
    skipped, so a restarted query re-observing an old batch never trips
    ``commit_position``'s forward-only guard."""
    if (offsets_dir is None) != (group is None):
        raise ValueError(
            f"{maintainer}: offsets_dir and group come together — a "
            "position needs a group name and a table to land in")

    def advance(batch: DataFrame) -> None:
        if offsets_dir is None:
            return
        spark = batch.sparkSession
        head = batch.agg(F.max("commit_seq")).collect()[0][0]
        if head is not None and int(head) > committed_position(
                spark, offsets_dir, group):
            commit_position(spark, offsets_dir, group, int(head))

    return advance


def feed_head(spark: SparkSession, feed_dir: str) -> int:
    """The feed's newest commit position.  Metadata-only on the standard
    layout (max over the manifest's ``commit_seq=`` partition dirs);
    one mutation-sized Spark aggregate as the fallback."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _head_partition_max,
    )

    head = _head_partition_max(feed_dir, "commit_seq")
    if head is not None:
        return head
    feed = (spark.read.format("arrowipc")
            .option("columns", "commit_seq").schema("commit_seq long")
            .load(feed_dir))
    head = feed.agg(F.max("commit_seq")).collect()[0][0]
    return int(head) if head is not None else 0


def consume_next(spark: SparkSession, feed_dir: str, offsets_dir: str,
                 group: str, columns: str,
                 schema: str) -> tuple[DataFrame, int, int]:
    """The group's next delivery: ``(rows, from_position, head)`` where
    ``rows`` carries every feed row with ``position < commit_seq <=
    head`` — capped at the head read in the SAME call (ADVICE r14), so
    the delivered set matches the position the caller will commit
    exactly: a commit landing between this read and the apply is simply
    the next cycle's delivery, never applied-but-uncommitted.  The
    feed's ``commit_seq=`` partition dirs prune both bounds before any
    file opens.  The caller applies ``rows`` idempotently, then
    ``commit_position(head)`` — a crash in between re-delivers and the
    sink's own ledger makes the re-apply a no-op."""
    pos = committed_position(spark, offsets_dir, group)
    head = feed_head(spark, feed_dir)
    feed = (spark.read.format("arrowipc")
            .option("columns", columns).schema(schema).load(feed_dir))
    rows = feed.filter((F.col("commit_seq") > pos)
                       & (F.col("commit_seq") <= head))
    return rows, pos, head


def consumer_lag(spark: SparkSession, feed_dir: str,
                 offsets_dir: str) -> DataFrame:
    """Per registered group: ``(group, position, head, lag)`` — the
    backlog dashboard.  A never-committed group does not appear
    (register it with ``seek(group, 0)``)."""
    head = feed_head(spark, feed_dir)
    latest: dict[str, dict] = {}
    for r in _offset_rows(offsets_dir):
        cur = latest.get(r["group"])
        if cur is None or r["seq"] > cur["seq"]:
            latest[r["group"]] = r
    rows = [(g, int(r["position"]), head, head - int(r["position"]))
            for g, r in sorted(latest.items())]
    return spark.createDataFrame(
        rows, "group string, position long, head long, lag long")


def consume_and_apply(spark: SparkSession, feed_dir: str,
                      offsets_dir: str, group: str, columns: str,
                      schema: str, apply) -> dict:
    """One consumer-group REFRESH CYCLE: deliver the rows beyond the
    group's position, run the caller's idempotent ``apply(rows_df)``
    (the MV maintainer's / index maintainer's batch apply — each keyed
    by its own sink ledger), then commit the head position.  Returns
    ``{"from": pos, "to": head, "delivered_commits": n}``.

    This is the composition the per-sink maintainers were missing: ALL
    consumers of one feed share the audited offsets table, so a single
    ``consumer_lag`` call reports the backlog of every derived artifact
    (MV grains, ANN index, downstream teams) instead of each sink
    hiding its position in its own ledger.  The delivery is capped at
    the head read inside ``consume_next`` (ADVICE r14), so the applied
    set and the committed position agree exactly; a commit landing
    mid-cycle is the NEXT cycle's delivery.  The crash window between
    ``apply`` and the commit re-delivers on the next cycle; the sink
    ledger makes the re-apply a no-op (exactly-once effect) — the same
    at-least-once + idempotence contract the foreachBatch maintainers
    already satisfy, now with the position durable OUTSIDE the Spark
    checkpoint (a rebuilt checkpoint does not reset the group)."""
    rows, pos, head = consume_next(spark, feed_dir, offsets_dir, group,
                                   columns, schema)
    if head > pos:
        apply(rows)
        commit_position(spark, offsets_dir, group, head)
    return {"from": pos, "to": max(head, pos),
            "delivered_commits": max(0, head - pos)}


def positions_asof(spark: SparkSession, offsets_dir: str,
                   anchor: str) -> DataFrame:
    """Every group's committed position AS OF a wall-clock anchor
    (epoch seconds or ISO-8601, naive = UTC) — consumer-position time
    travel (r15): the offsets table is an ordinary arrowipc snapshot
    table, so the anchor resolves through the shared run-max
    ``timestampAsOf`` rule to one manifest version, and the positions
    are that snapshot's last-wins rows.  Answers "where was every
    consumer when the incident started?" from the audit log alone.

    Driver-side metadata, like every offsets read: O(versions) manifest
    stats + consumer-count-sized rows — no Spark job."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _parse_ts_option,
        _version_as_of,
    )

    version = _version_as_of(offsets_dir, _parse_ts_option(anchor))
    latest: dict[str, dict] = {}
    for r in _offset_rows(offsets_dir, version=version):
        cur = latest.get(r["group"])
        if cur is None or r["seq"] > cur["seq"]:
            latest[r["group"]] = r
    rows = [(g, int(r["position"]), int(r["seq"]))
            for g, r in sorted(latest.items())]
    return spark.createDataFrame(
        rows, "group string, position long, seq long")
