"""Streaming pipelines — the same logical transformations as the batch
event-time queries (``operators.event_time``), expressed over an unbounded
source with watermarks.

Each builder takes any events-shaped DataFrame (batch or streaming): the
transformation code is identical in both modes — the engine property that
makes the batch oracle meaningful for the streaming path.

Scale: state stores are keyed by (window, event_type) / (user_id, session)
/ (user_id, event_type); watermarks bound state size, so the pipelines run
indefinitely on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.sources.arrowipc import commit_backend

_LOG = logging.getLogger(__name__)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """1-hour tumbling window × event_type counts/sums; in streaming mode
    the watermark lets Spark finalize (and emit, in append mode) windows
    older than max(ts) − watermark and evict their state."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type",
                "n_events", "sum_value")
    )


def sessionized_counts(events: DataFrame, gap: str = "10 minutes",
                       watermark: str = "1 hour") -> DataFrame:
    """Per-user session windows (inactivity gap); sessions close when the
    watermark passes session end."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate (user_id, event_type) pairs; with a watermark the
    dedup state is evicted instead of growing forever."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
        return src.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return src.dropDuplicates(["user_id", "event_type"])


#: Output/state schemas for ``running_user_totals`` (arbitrary custom state —
#: the operator Spark's built-in aggregations can't express incrementally).
_RUN_OUT_SCHEMA = "user_id long, n_events long, total_value double"
_RUN_STATE_SCHEMA = "n long, total double"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum(value)) that
    survives across micro-batches — ``applyInPandasWithState`` with
    explicit state, emitting the refreshed running totals for every user
    seen in a micro-batch (update mode).

    This is the extension point for operators with *arbitrary* state
    transitions (counters, decaying scores, small per-key models) that
    windowed aggregation cannot express.  State is one row of
    ``(n: long, total: double)`` per user_id — bounded by key cardinality,
    partitioned by the state store across executors at scale.

    Batch mode computes the same totals with a plain aggregate (the
    equivalence a test can assert).
    """
    if not events.isStreaming:
        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )

    import pandas as pd  # arrow-batched; never row-at-a-time
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType=_RUN_OUT_SCHEMA,
        stateStructType=_RUN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Output/state schemas for ``session_gap_annotate``.
_SGAP_OUT_SCHEMA = (
    "event_id long, user_id long, gap_ms long, session_seq long, "
    "pos_in_session long, n_burst_5min long"
)
_SGAP_STATE_SCHEMA = (
    "last_ts long, session_seq long, pos long, recent array<long>"
)
#: Session boundary (µs, strict >) and burst lookback (µs) — MUST match
#: operators/event_time.py's q_win_session_gap (the batch twin / oracle).
_SGAP_GAP_US = 1_800_000_000
_SGAP_BURST_US = 300_000_000


def session_gap_annotate(events: DataFrame) -> DataFrame:
    """STREAMING face of ``q_win_session_gap``: per-event gaps-and-islands
    annotation maintained as explicit per-user state across micro-batches
    (``applyInPandasWithState``, update mode).  Each event is emitted
    once with its prefix-final columns — gap to the previous event,
    session ordinal (strict > 30 min boundary), position in session, and
    trailing-5-minute burst count.  These four depend only on EARLIER
    events of the same user, so their streamed values equal the batch
    key's exactly (the pytest differential); the island's final
    size/span (``session_events``/``session_ms``) are inherently
    retrospective and only the batch face emits them.

    State per user: (last event µs, session ordinal, position, the
    trailing-burst-window timestamps) — bounded by key cardinality plus
    the per-key event rate over 5 minutes; at scale the state store
    hash-partitions it across executors.  Contract: events must arrive
    per-user in event-time order across batches, and a same-timestamp
    tie group must land within one micro-batch (the batch RANGE frame
    counts the WHOLE tie group for every member, so a tie split across
    batches would be unknowable at emission time; micro-batch rows are
    sorted internally).  The contract is ENFORCED, not assumed: a batch
    opening at or before a key's last emitted timestamp raises a
    ``ValueError`` naming the violation (tie-group split vs out-of-order)
    instead of silently emitting diverging burst counts.  An
    out-of-order deployment needs a watermark+reorder buffer in front,
    the same contract as ``q_dedup_incremental``'s index probe.

    Batch mode delegates to the window implementation
    (``operators.event_time._session_gap_annotate``) — the equivalence
    tests assert streamed == batch on identical inputs.
    """
    if not events.isStreaming:
        from bossarrowstorageengine_spark.operators.event_time import (
            _session_gap_annotate,
        )

        return _session_gap_annotate(
            events.select("event_id", "user_id", "ts")).select(
            "event_id", "user_id", "gap_ms", "session_seq",
            "pos_in_session", "n_burst_5min")

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def annotate(key, pdf_iter, state: GroupState):
        last_ts, seq, pos, recent = (
            state.get if state.exists else (None, 0, 0, []))
        recent = list(recent)
        out: dict[str, list] = {c: [] for c in (
            "event_id", "user_id", "gap_ms", "session_seq",
            "pos_in_session", "n_burst_5min")}
        # ONE frame per group, not per Arrow chunk: pdf_iter yields the
        # group's rows in arbitrary chunk order (a key larger than
        # arrow.maxRecordsPerBatch spans several pdfs), so sorting or
        # tie-counting per chunk would mis-order events and undercount
        # straddling tie groups — concatenate, then sort/count once.
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   if len(chunks) > 1 else chunks[0])
            # normalize to integer µs regardless of the Arrow unit, then
            # process in deterministic (ts, event_id) order
            ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            # Contract ENFORCEMENT (VERDICT r10 item 5): the input
            # contract below (per-user event-time order across batches,
            # tie groups never split) used to be assumed — a violating
            # source silently emitted burst counts diverging from the
            # batch twin.  State already holds the last emitted ts, so a
            # violation is one comparison: fail loudly instead.
            mn = int(ts_us.min())
            if last_ts is not None and mn <= last_ts:
                kind = ("same-microsecond tie group split across "
                        "micro-batches" if mn == last_ts else
                        "out-of-order arrival across micro-batches")
                raise ValueError(
                    f"session_gap_annotate contract violation for "
                    f"user_id={key[0]}: batch opens at ts_us={mn} <= "
                    f"last emitted ts_us={last_ts} ({kind}); emitted "
                    "gap/burst columns would silently diverge from the "
                    "batch twin - add a watermark+reorder buffer "
                    "upstream of this operator")
            order = sorted(range(len(pdf)),
                           key=lambda i: (ts_us[i], int(pdf["event_id"].iloc[i])))
            from collections import Counter

            tie_total = Counter(int(t) for t in ts_us)
            tie_seen: Counter = Counter()
            for i in order:
                t = int(ts_us[i])
                gap = None if last_ts is None else t - last_ts
                if gap is None or gap > _SGAP_GAP_US:
                    seq += 1
                    pos = 1
                else:
                    pos += 1
                recent = [r for r in recent if r >= t - _SGAP_BURST_US]
                recent.append(t)
                tie_seen[t] += 1
                # RANGE-frame parity: the batch twin's frame includes the
                # FULL same-µs tie group for every member, so count the
                # batch's not-yet-processed ties too (contract: a tie
                # group never splits across batches).
                ties_after = tie_total[t] - tie_seen[t]
                out["event_id"].append(int(pdf["event_id"].iloc[i]))
                out["user_id"].append(key[0])
                out["gap_ms"].append(
                    None if gap is None else gap // 1000)
                out["session_seq"].append(seq)
                out["pos_in_session"].append(pos)
                out["n_burst_5min"].append(len(recent) + ties_after)
                last_ts = t
        state.update((last_ts, seq, pos, recent))
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        annotate,
        outputStructType=_SGAP_OUT_SCHEMA,
        stateStructType=_SGAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: State schema for the reordering face: the annotation state plus the
#: per-user (ts_us, event_id) reorder buffer and a lifetime counter of
#: rows dropped as too late (disorder beyond the watermark delay).
_SGAP_REORDER_STATE_SCHEMA = (
    "last_ts long, session_seq long, pos long, recent array<long>, "
    "buf_ts array<long>, buf_id array<long>, n_dropped long"
)


def _sgap_annotate_reordered(key, pdf_iter, state):
    """Per-group body of ``session_gap_annotate_reordered`` (module-level
    so the drop-accounting path is unit-testable against a stub state —
    a real stream cannot reach it: Spark's own late filter removes
    ``ts < watermark`` rows before the buffer, and everything emitted is
    strictly below the watermark, so the branch only fires if those two
    thresholds ever diverge)."""
    import pandas as pd

    last_ts, seq, pos, recent, buf_ts, buf_id, dropped = (
        state.get if state.exists else (None, 0, 0, [], [], [], 0))
    recent, buf = list(recent), list(zip(buf_ts, buf_id))
    new_drops = 0
    # ONE frame per group (Arrow chunk order is arbitrary — same
    # rationale as the ordered face).
    chunks = [p for p in pdf_iter if len(p)]
    if chunks:
        pdf = (pd.concat(chunks, ignore_index=True)
               if len(chunks) > 1 else chunks[0])
        ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
        for t, eid in zip(ts_us, pdf["event_id"]):
            t = int(t)
            # later than the watermark bound (an earlier-or-equal
            # row after its tie group was released): DROP, per
            # watermark semantics — never silently mis-annotate.
            # COUNTED, not silent (ADVICE r11): a source whose
            # disorder exceeds delay_seconds must be observable.
            if last_ts is not None and t <= last_ts:
                new_drops += 1
                continue
            buf.append((t, int(eid)))
    if new_drops:
        dropped += new_drops
        _LOG.warning(
            "session_gap_annotate_reordered: user %s dropped %d "
            "too-late row(s) this batch (%d lifetime) — source "
            "disorder exceeds the reorder delay", key[0], new_drops,
            dropped)
    wm_us = state.getCurrentWatermarkMs() * 1000
    buf.sort()
    # release STRICTLY below the watermark: Spark's late-record
    # filter only drops rows strictly below it, so a row AT the
    # watermark can still legally arrive in a later batch — holding
    # the boundary keeps its tie group intact (releasing at <= would
    # emit the early member and silently drop the late one).
    release = [b for b in buf if b[0] < wm_us]
    buf = [b for b in buf if b[0] >= wm_us]
    out: dict[str, list] = {c: [] for c in (
        "event_id", "user_id", "gap_ms", "session_seq",
        "pos_in_session", "n_burst_5min")}
    from collections import Counter

    tie_total = Counter(t for t, _ in release)
    tie_seen: Counter = Counter()
    for t, eid in release:
        gap = None if last_ts is None else t - last_ts
        if gap is None or gap > _SGAP_GAP_US:
            seq += 1
            pos = 1
        else:
            pos += 1
        recent = [r for r in recent if r >= t - _SGAP_BURST_US]
        recent.append(t)
        tie_seen[t] += 1
        out["event_id"].append(eid)
        out["user_id"].append(key[0])
        out["gap_ms"].append(None if gap is None else gap // 1000)
        out["session_seq"].append(seq)
        out["pos_in_session"].append(pos)
        out["n_burst_5min"].append(
            len(recent) + tie_total[t] - tie_seen[t])
        last_ts = t
    state.update((last_ts, seq, pos, recent,
                  [t for t, _ in buf], [e for _, e in buf], dropped))
    if buf:
        # flush even if this user never sees another batch: fire
        # once the watermark moves past the earliest buffered event
        # (>= the current watermark, else it would have been
        # released this invocation; +1 ms keeps the timestamp
        # strictly ahead of the watermark as the API requires).
        state.setTimeoutTimestamp(buf[0][0] // 1000 + 1)
    yield pd.DataFrame(out)


def session_gap_annotate_reordered(events: DataFrame,
                                   delay_seconds: int = 600) -> DataFrame:
    """``session_gap_annotate`` for UNORDERED sources (SURVEY §7
    round-12 runway item 5): a watermark-bounded per-user reorder buffer
    fused with the annotation state, so the ordering/tie-group contract
    the bare operator ENFORCES is satisfied by construction.  Incoming
    events buffer in state; once the event-time watermark
    (``max event time − delay_seconds``) passes an event's timestamp, no
    earlier row can still arrive, so every buffered row at or below the
    watermark is released in ``(ts, event_id)`` order through the exact
    annotation logic of the ordered face — and a same-µs tie group is
    complete at release time for the same reason, restoring the RANGE
    burst parity.  Events later than the watermark bound are dropped at
    arrival (standard watermark semantics, the ``q_stream_late``
    policy); emission therefore lags the source by up to
    ``delay_seconds`` of event time — the classic latency-for-
    completeness watermark trade.

    Fused rather than chained: Spark restricts stateful-over-stateful
    composition to append-mode pipelines, and the annotation face emits
    in update mode, so the buffer and the annotator share ONE
    ``applyInPandasWithState`` state row per user (buffer arrays +
    annotation tuple).  An event-time timeout set to the earliest
    buffered timestamp flushes users that stop receiving batches.

    State per user stays bounded: the buffer holds at most
    ``delay_seconds`` of that user's event time; the annotation tuple is
    the ordered face's.  Batch mode delegates to the window
    implementation (a batch sort IS the reorder buffer).
    """
    if not events.isStreaming:
        # a batch sort IS the reorder buffer — same delegation as the
        # ordered face (one definition, see session_gap_annotate)
        return session_gap_annotate(events)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", f"{delay_seconds} seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sgap_annotate_reordered,
            outputStructType=_SGAP_OUT_SCHEMA,
            stateStructType=_SGAP_REORDER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


#: Output schema for ``user_event_profile`` (transformWithStateInPandas).
_PROFILE_OUT_SCHEMA = (
    "user_id long, n_events long, total_value double, "
    "n_types long, top_type string"
)

#: Fallback state blob for the ``applyInPandasWithState`` profile path.
_PROFILE_STATE_SCHEMA = "n long, total double, types_json string"


def _has_protobuf() -> bool:
    """transformWithState's Python↔JVM state-server protocol is protobuf-
    encoded; without ``google.protobuf`` the StatefulProcessor path cannot
    execute, so ``user_event_profile`` falls back to the (protobuf-free)
    ``applyInPandasWithState`` implementation of the same operator."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _profile_with_group_state(events: DataFrame) -> DataFrame:
    """``user_event_profile`` on the Spark 3.x arbitrary-state API: one
    GroupState row per user holding ``(n, total, types_json)`` — the
    monolithic-blob shape the old API forces (each update rewrites the
    whole per-key state, which is exactly the cost MapState removes in the
    transformWithState version).  Semantics are identical; real streaming
    state execution with zero optional dependencies."""
    import json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_profile(key, pdf_iter, state: GroupState):
        if state.exists:
            n, total, types_json = state.get
            counts = json.loads(types_json)
        else:
            n, total, counts = 0, 0.0, {}
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            for et, cnt in pdf.groupby("event_type").size().items():
                counts[et] = counts.get(et, 0) + int(cnt)
        state.update((n, total, json.dumps(counts, sort_keys=True)))
        top_type = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        yield pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "n_types": [len(counts)],
            "top_type": [top_type],
        })

    return events.groupBy("user_id").applyInPandasWithState(
        update_profile,
        outputStructType=_PROFILE_OUT_SCHEMA,
        stateStructType=_PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

#: State store provider transformWithState requires (Spark 4 ships it; the
#: default HDFS-backed provider rejects the new multi-column-family state).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def user_event_profile(events: DataFrame) -> DataFrame:
    """Per-user profile with *composite* state — the Spark 4
    ``transformWithStateInPandas`` (StatefulProcessor) successor to
    ``applyInPandasWithState``: a ValueState holds running
    ``(n, total_value)`` and a MapState holds per-``event_type`` counts,
    emitting each touched user's refreshed profile (count, sum, distinct
    types, modal type — ties break lexicographically) every micro-batch.

    MapState is the point: per-subkey incremental updates without
    rewriting one monolithic state blob per key (what the old API forces).
    At scale each state family lives in the per-partition RocksDB store
    (``ROCKSDB_PROVIDER`` conf required), sized by |users| × |types|.

    Batch mode computes the same profile with aggregates + a window — the
    oracle equivalence tests assert on.

    When ``google.protobuf`` is unavailable (transformWithState's state
    server cannot start without it), the streaming branch falls back to
    ``_profile_with_group_state`` — same operator on the older
    ``applyInPandasWithState`` API, still real incremental state.
    """
    if not events.isStreaming:
        from pyspark.sql import Window

        totals = events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("event_type").alias("n_types"),
        )
        w = Window.partitionBy("user_id").orderBy(
            F.desc("cnt"), F.asc("event_type"))
        top = (
            events.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("top_type"))
        )
        return totals.join(top, "user_id").select(
            "user_id", "n_events", "total_value", "n_types", "top_type")

    if not _has_protobuf():
        return _profile_with_group_state(events)

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n long, total double")
            self._type_counts = handle.getMapState(
                "type_counts", "event_type string", "cnt long")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
                for et, cnt in pdf.groupby("event_type").size().items():
                    prev = (
                        self._type_counts.getValue((et,))[0]
                        if self._type_counts.containsKey((et,)) else 0
                    )
                    self._type_counts.updateValue((et,), (prev + int(cnt),))
            self._totals.update((n, total))
            counts = [(k[0], v[0]) for k, v in self._type_counts.iterator()]
            top_type = min(counts, key=lambda kv: (-kv[1], kv[0]))[0]
            yield pd.DataFrame({
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "n_types": [len(counts)],
                "top_type": [top_type],
            })

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        UserProfileProcessor(),
        outputStructType=_PROFILE_OUT_SCHEMA,
        outputMode="update",
        timeMode="none",
    )


def view_click_followups(events: DataFrame,
                         watermark: str = "1 hour",
                         follow: str = "5 minutes") -> DataFrame:
    """Stream-stream interval join: each ``view`` paired with the same
    user's ``click``s in the following ``follow`` window — the streaming face of
    the batch range join (``q_join_range_events``'s candidate-pair stage).

    Both sides carry watermarks and the join condition bounds
    ``click_ts`` relative to ``view_ts``, so Spark can size the join state
    and evict rows once the watermark passes ``view_ts + follow`` — the
    requirement for an unbounded stream-stream join to run forever.
    Scale: state is partitioned by the equi-key (``user_id``); the
    interval bound keeps per-key state to a ``follow``-sized buffer.
    """
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    if events.isStreaming:
        views = views.withWatermark("view_ts", watermark)
        clicks = clicks.withWatermark("click_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts")
           + F.expr(f"INTERVAL {follow}"))
    )
    return views.join(clicks, cond, "inner").select(
        "user_id", "view_id", "view_ts", "click_id", "click_ts")


def merge_stream_into_snapshot(events: DataFrame, snapshot_dir: str,
                               checkpoint_dir: str):
    """Streaming CDC sink: apply each micro-batch of change rows to a
    parquet snapshot with merge-latest semantics (``foreachBatch``) —
    the streaming face of ``q_cdc_upsert``.

    Each batch unions the current snapshot with the new changes and keeps
    the newest version per ``(user_id, event_type)`` (version order
    ``(ts, event_id)``), rewriting the snapshot.  foreachBatch gives the
    batch DataFrame API inside a stream — the standard idiom for sinks
    Spark has no native connector for (JDBC upserts, MERGE targets).

    Scale: a full-snapshot rewrite per batch is the no-transaction-log
    variant (correct, idempotent — replayed batches merge to the same
    state).  At 100 TB the same ``foreachBatch`` body would MERGE into a
    partitioned/log-backed table so each batch touches only affected
    partitions; the merge plan itself (union → keyed window rn=1) is
    unchanged.

    Returns the StreamingQuery handle.
    """
    from pyspark.sql import Window

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            current = spark.read.parquet(snapshot_dir)
        except Exception:
            current = None  # first batch — snapshot not born yet
        merged = (
            current.unionByName(batch_df) if current is not None else batch_df)
        w = Window.partitionBy("user_id", "event_type").orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn")
        )
        # rewrite via a staged dir: parquet readers never see a half state
        import os
        import shutil
        staging = snapshot_dir + ".staging"
        latest.write.mode("overwrite").parquet(staging)
        if os.path.exists(snapshot_dir):
            shutil.rmtree(snapshot_dir)
        commit_backend().move([(staging, snapshot_dir)])

    return (
        events.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(processingTime="100 milliseconds")
        .start()
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame,
                    key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the unbounded
    side joins against a STATIC dimension with a broadcast hint —
    stateless (no watermark, no join state to bound), the standard
    firehose × dimension-lookup shape.  LEFT join so unmatched events
    survive with null dimension columns (an enrichment must never drop
    facts).  The same code runs in batch mode, which the harness
    differential test asserts.

    Scale: the dimension is broadcast once per micro-batch plan; state is
    zero, so the pipeline runs indefinitely regardless of stream volume —
    and a slowly-changing dimension can be swapped by restarting the query
    (or via foreachBatch re-reading it) without any state migration."""
    extra = [c for c in dim.columns if c != key]
    # Project the event side's OWN columns plus the dim extras — the helper
    # is generic over the event schema (ADVICE r5: hardcoding
    # event_id/event_type/value broke any other stream schema at analysis).
    return (events.join(F.broadcast(dim), key, "left")
            .select(*events.columns, *extra))


def stream_to_partitioned_table(events: DataFrame, path: str,
                                partition_by: str,
                                checkpoint_dir: str):
    """Streaming face of the PARTITIONED arrowipc sink — the composition
    the native sink's partitionBy rejection points at: ``foreachBatch``
    writes each micro-batch through the BATCH writer (Hive partitionBy
    append → one manifest commit per batch), so the directory
    layout, stats sidecars, and time travel all match a batch-written
    table.

    Idempotence: a PER-STREAM-IDENTITY high-water-mark file
    (``_streaming-batch-hwm.<stream_id>.json``, an atomic commit-backend
    ``put`` after the manifest commit) makes the common restart-replay a
    no-op.  The identity is the hash of the checkpoint directory — the
    Delta txnAppId/txnVersion pattern — because Spark batch ids restart
    at 0 under a fresh checkpoint: an unscoped mark would silently skip
    every micro-batch of a NEW query appending to an existing table
    (ADVICE r5).  One FILE per identity (not one shared map file) so two
    concurrent writers on one table never read-modify-write each other's
    mark — there is no shared state to race on.  A crash BETWEEN the
    manifest commit and the mark leaves the standard at-least-once
    window every file sink without transactional batch ids has;
    downstream merge-latest/dedup closes it where exactly-once
    matters.

    Returns the StreamingQuery handle.
    """
    import hashlib
    import json
    import os

    from bossarrowstorageengine_spark.sources import register_arrowipc

    stream_id = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]
    hwm_file = os.path.join(
        path, f"_streaming-batch-hwm.{stream_id}.json")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        register_arrowipc(batch_df.sparkSession)
        # Only THIS identity's own mark file gates replay — other
        # writers' files are their progress, never read here, so there is
        # no cross-writer read-modify-write race by construction.
        if os.path.exists(hwm_file):
            with open(hwm_file) as f:
                if batch_id <= json.load(f)["batch_id"]:
                    return  # replay of an already-committed batch
        (batch_df.write.format("arrowipc")
         .option("partitionBy", partition_by)
         .mode("append").save(path))
        commit_backend().put(hwm_file, json.dumps(
            {"stream_id": stream_id, "batch_id": batch_id}).encode())

    return (events.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir).start())
