"""Streaming ANN INDEX maintainer — the streaming face of
``q_ann_index_maintain`` (the round-13 runway's index-maintenance story
continued): a ``foreachBatch`` consumer tails the bucket-grain changefeed
(the batch key's `_ann_idx_changes` layout: re-bucket / insert / delete
rows per source commit) and maintains the persisted LSH signature index
as an LSM-shaped arrowipc table:

- the index = a base segment (``seg=0``, the one corpus-sized build)
  plus ONE mutation-sized delta segment per absorbed feed commit
  (``seg=<commit_seq>``: upsert rows carry the new bucket, deletes a
  tombstone) — applying a commit writes O(Δ) rows, never touching the
  corpus-sized base (the point of index maintenance at 100 TB);
- reads are merge-on-read: last-wins per ``vec_id`` by segment number,
  tombstones dropped (``read_index``) — at scale the index table is
  bucketed on ``vec_id`` so the last-wins window is co-located, and
  ``compact_index`` (LSM major compaction) bounds read amplification by
  folding segments ``<= thru`` into one merged segment with tombstones
  physically removed;
- idempotence keys on FEED POSITION with no markers: a segment is
  applied iff its number is <= the head manifest's high-water segment
  (one write job per commit = one atomic manifest commit, and segments
  apply in ascending order, so the high-water survives compaction's
  directory collapse) — a redelivered batch, a crash between the
  segment write and the stream checkpoint, or a fresh-checkpoint
  restart over a backlog all re-apply nothing.

The batch face is oracle-gated; the differential test pins
``read_index`` after the stream to a from-scratch re-bucketing of the
final corpus (the batch key's own audit) and to the batch key's
maintained rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Persisted index-segment row layout.
INDEX_SCHEMA = "vec_id long, bucket int, tombstone boolean, seg long"

#: Row layout of the bucket-grain changefeed the maintainer reads.
FEED_SCHEMA = "vec_id long, bucket int, change string, commit_seq long"


def _put_json(path: str, doc: dict) -> None:
    """Publish a small metadata JSON through the commit backend."""
    from bossarrowstorageengine_spark.sources.arrowipc import commit_backend

    commit_backend().put(path, json.dumps(doc).encode())


def _get_json(path: str) -> dict | None:
    """A metadata JSON written by ``_put_json``, or None if absent."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _payload_cols(ddl: str) -> list[str]:
    """Column names of a DDL string (comma-free types only — enforced
    for payloads at seed time)."""
    return [c.strip().split(" ")[0] for c in ddl.split(",")]


def read_feed(spark: SparkSession, feed_dir: str,
              payload: str | None = None, *, stream: bool = False,
              tagged: bool = False) -> DataFrame:
    """Load an index changefeed: ``FEED_SCHEMA`` with the index's payload
    DDL (e.g. ``"codes array<bigint>"``) after ``bucket``, and, for a
    generation-tagged feed, the producer's ``gen long`` last.  A batch
    read (fresh ``load()`` per call: FORMAT.md §8's plan-cache hazard)
    follows the head manifest; ``stream=True`` tails the feed instead."""
    schema = FEED_SCHEMA
    if payload:
        schema = schema.replace("bucket int,", f"bucket int, {payload},")
    if tagged:
        schema += ", gen long"
    reader = spark.readStream if stream else spark.read
    return (reader.format("arrowipc")
            .option("columns", ",".join(_payload_cols(schema)))
            .schema(schema).load(feed_dir))


def seed_index(idx_dir: str, bucketed: DataFrame,
               layout_buckets: int | None = None,
               payload: str | None = None,
               base_seg: int = 0) -> None:
    """Publish the base segment (``seg=<base_seg>``, default 0) — the
    one corpus-sized build.  ``bucketed`` must carry ``(vec_id,
    bucket)``.

    ``base_seg`` (the generation-rollover face): a re-trained
    generation's base already REFLECTS every feed commit up to the
    position it trained at, so it seeds with that position as its base
    segment — the segment high-water then makes a redelivered
    pre-rollover commit a natural no-op, the same ledger invariant as
    every delta apply.

    ``layout_buckets=N`` additionally buckets the PHYSICAL layout on
    ``vec_id`` (the arrowipc ``bucketBy`` option: ``__sb=<vec_id % N>``
    directories).  Every later delta segment inherits the same layout
    (``apply_index_batch`` auto-detects it), so a key's whole history —
    base row, re-buckets, tombstone — lives in ONE storage bucket and
    ``read_index``'s last-wins merge runs partition-locally with NO
    shuffle (the groupByBucket + mapInPandas path).  Size N so a
    bucket's merged rows fit one task's memory.

    ``payload`` (the IVF-PQ face): extra per-key column DDL (e.g.
    ``"codes array<int>"``) carried through every segment and the
    merge-on-read — the delta segments are then DELTA-ENCODED CODES,
    not just list moves.  Payload columns ride last-wins with their
    row: an upsert replaces bucket AND payload atomically; deletes
    tombstone both.  Recorded once at seed time (``_payload.json``) —
    every later writer and reader auto-detects it, exactly like the
    physical layout."""
    cols = ["vec_id", F.col("bucket").cast("int")]
    if payload:
        for entry in payload.split(","):
            parts = entry.strip().split(None, 1)
            # Splitting the DDL on commas means a comma-bearing type
            # (struct/map) shows up here as a fragment with unbalanced
            # angle brackets, and a missing type / trailing comma as a
            # one-token (or empty) entry — both are ValueError, never a
            # bare IndexError.
            if len(parts) != 2 or parts[1].count("<") != parts[1].count(">"):
                raise ValueError(
                    f"payload DDL {payload!r}: entry {entry.strip()!r} "
                    "must be '<name> <comma-free type>' (struct/map "
                    "types and trailing commas are not supported)")
        cols += [F.col(c) for c in _payload_cols(payload)]
    w = (bucketed.select(
        *cols,
        F.lit(False).alias("tombstone"),
        F.lit(int(base_seg)).cast("long").alias("seg"))
        .write.format("arrowipc").option("partitionBy", "seg")
        .option("compression", "lz4"))
    if layout_buckets:
        w = w.option("bucketBy", "vec_id").option(
            "buckets", str(layout_buckets))
    w.mode("append").save(idx_dir)
    if layout_buckets:
        # The bucket COUNT is part of the table's contract (every later
        # writer must split keys identically — inferring it from the
        # __sb= dirs would under-count when high buckets happen to be
        # empty), so the seed records it once.
        _put_json(os.path.join(idx_dir, "_layout.json"),
                  {"bucket_by": "vec_id", "buckets": int(layout_buckets)})
    if payload:
        _put_json(os.path.join(idx_dir, "_payload.json"), {"ddl": payload})


def _payload_ddl(idx_dir: str) -> str | None:
    """The index table's recorded payload DDL (the seed's
    ``_payload.json``), or None for the plain ``(vec_id, bucket)``
    layout."""
    doc = _get_json(os.path.join(idx_dir, "_payload.json"))
    return None if doc is None else str(doc["ddl"])


def _index_schema(idx_dir: str) -> tuple[str, list[str]]:
    """Full on-disk segment schema + payload column names."""
    ddl = _payload_ddl(idx_dir)
    if not ddl:
        return INDEX_SCHEMA, []
    return (f"vec_id long, bucket int, {ddl}, tombstone boolean, "
            "seg long"), _payload_cols(ddl)


def _layout_buckets(idx_dir: str) -> int | None:
    """The index table's recorded physical bucket count (the seed's
    ``_layout.json``), or None for an unbucketed layout."""
    doc = _get_json(os.path.join(idx_dir, "_layout.json"))
    return None if doc is None else int(doc["buckets"])


def _seg_high_water(idx_dir: str) -> int:
    """Highest segment number visible in the head manifest — metadata
    only (manifest read + directory-segment parse; no data file opened).
    Survives compaction: folded segments collapse into the fold's
    ``seg=<thru>`` directory, and commits apply in ascending order, so
    ``k <= high-water`` ⇔ commit k was absorbed."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _head_partition_max,
        _manifest_versions,
    )

    hw = _head_partition_max(idx_dir, "seg")
    if hw is None and not _manifest_versions(idx_dir):
        raise ValueError(
            f"index table {idx_dir!r} is not seeded — write the base "
            "segment with seed_index(idx_dir, bucketed) first (the one "
            "corpus-sized pass)")
    return -1 if hw is None else hw


def apply_index_batch(batch_df: DataFrame, batch_id: int,
                      idx_dir: str) -> None:
    """Apply one feed micro-batch: one delta segment per DISTINCT feed
    commit beyond the index's high-water segment, ascending.  Replay-
    safe by feed position — ``batch_id`` is checkpoint-scoped and only
    appears because foreachBatch supplies it."""
    # One materialization before the mixed filtered actions below (the
    # documented arrowipc pushdown plan-cache hazard), and each commit
    # re-reads it anyway.  The commit list doubles as the emptiness
    # probe (an empty batch's checkpoint is a no-op job).
    batch = batch_df.localCheckpoint()
    all_commits = sorted(
        int(r["commit_seq"])
        for r in batch.select("commit_seq").distinct().collect())
    if not all_commits:
        return
    hw = _seg_high_water(idx_dir)
    layout = _layout_buckets(idx_dir)   # delta segments inherit the seed's
    _, pay_cols = _index_schema(idx_dir)
    commits = [c for c in all_commits if c > hw]
    for seq in commits:
        rows = batch.filter(F.col("commit_seq") == seq)
        seg_rows = rows.select(
            "vec_id",
            F.when(F.col("change") != "delete", F.col("bucket"))
            .cast("int").alias("bucket"),
            *[F.when(F.col("change") != "delete", F.col(c)).alias(c)
              for c in pay_cols],
            (F.col("change") == "delete").alias("tombstone"),
            F.lit(seq).cast("long").alias("seg"))
        # one write job per commit = one atomic manifest commit: the
        # segment is the ledger entry, no marker files
        w = (seg_rows.write.format("arrowipc").option("partitionBy", "seg")
             .option("compression", "lz4"))
        if layout:
            w = w.option("bucketBy", "vec_id").option("buckets",
                                                      str(layout))
        w.mode("append").save(idx_dir)


def read_index(spark: SparkSession, idx_dir: str,
               thru: int | None = None) -> DataFrame:
    """The index's logical state ``(vec_id, bucket[, payload...])`` —
    merge-on-read: last-wins per vec_id by segment number, tombstones
    dropped; payload columns (the seed's ``payload=`` DDL, e.g. IVF-PQ
    code vectors) ride with their winning row.  ``thru``
    limits the merge to segments ``<= thru`` (the state as of that feed
    commit — segment-grain time travel; None = current).

    On a BUCKETED layout (``seed_index(layout_buckets=N)``) the merge is
    SHUFFLE-FREE: the groupByBucket read plans one task per storage
    bucket (a key's whole history — base row, re-buckets, tombstone —
    co-locates by the fixed ``vec_id % N`` split every segment write
    used), and the last-wins fold runs inside the task as a vectorized
    Arrow-batched pass; the plan carries NO Exchange
    (tests/test_round14_props.py pins this).  Unbucketed tables keep the
    vec_id-keyed window (one exchange); ``compact_index`` bounds the
    merged segment count either way."""
    layout = _layout_buckets(idx_dir)
    schema, pay_cols = _index_schema(idx_dir)
    out_cols = ["vec_id", "bucket"] + pay_cols
    ddl = _payload_ddl(idx_dir)
    out_schema = ("vec_id long, bucket int"
                  + (f", {ddl}" if ddl else ""))
    if layout:
        rows = (spark.read.format("arrowipc")
                .option("groupByBucket", "true")
                .schema(schema).load(idx_dir))
        if thru is not None:
            rows = rows.filter(F.col("seg") <= thru)

        def _merge(pdfs):
            import pandas as pd

            df = pd.concat(list(pdfs), ignore_index=True)
            if df.empty:
                return
            # last-wins per vec_id by segment, tombstones dropped — the
            # whole bucket is in-task by the co-location contract
            df = (df.sort_values(["vec_id", "seg"])
                  .groupby("vec_id", as_index=False).tail(1))
            df = df[~df["tombstone"]]
            yield df[out_cols]

        return rows.mapInPandas(_merge, schema=out_schema)
    rows = (spark.read.format("arrowipc")
            .schema(schema).load(idx_dir))
    if thru is not None:
        rows = rows.filter(F.col("seg") <= thru)
    w = Window.partitionBy("vec_id").orderBy(F.col("seg").desc())
    return (rows.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & ~F.col("tombstone"))
            .select(*out_cols))


def compact_index(spark: SparkSession, idx_dir: str, thru: int,
                  target_files: int = 1) -> dict:
    """LSM major compaction: fold every segment ``<= thru`` into ONE
    merged segment at ``seg=<thru>`` — last-wins applied, tombstones
    physically removed (any later segment still wins over the fold, so
    dropping them is safe) — published as a logical add/remove manifest
    commit; segments beyond ``thru`` and the pre-compaction history stay
    untouched.  ``target_files`` bounds the rewrite width for a
    corpus-sized fold (each output file a contiguous ``vec_id`` range,
    so the merged base keeps stats-prunable point lookups).  Returns
    ``{"files_before", "files_after", "rows"}``."""
    from bossarrowstorageengine_spark.sources.arrowipc import _partition_int
    from bossarrowstorageengine_spark.sources.maintenance import _Rewrite

    hw = _seg_high_water(idx_dir)
    if thru > hw:
        # The fold's output is stamped ``seg=<thru>`` and the apply
        # ledger IS the segment high-water: folding past it would mark
        # never-seen commits as absorbed and the maintainer would
        # silently skip them.
        raise ValueError(
            f"compact_index thru={thru} exceeds the absorbed high-water "
            f"segment {hw} — compaction may only fold segments that "
            "exist")

    with _Rewrite(spark, idx_dir, "idxcompact") as tx:
        before = tx.visible
        in_scope = sorted(
            f for f in before
            if (s := _partition_int(idx_dir, f, "seg")) is not None
            and s <= thru)
        if not in_scope:
            return {"files_before": len(before), "files_after": len(before),
                    "rows": 0}
        schema, pay_cols = _index_schema(idx_dir)
        w = Window.partitionBy("vec_id").orderBy(F.col("seg").desc())
        merged = (tx.read(in_scope, schema=schema)
                  .withColumn("_rn", F.row_number().over(w))
                  .filter((F.col("_rn") == 1) & ~F.col("tombstone"))
                  .select("vec_id", "bucket", *pay_cols, "tombstone",
                          F.lit(thru).cast("long").alias("seg")))
        layout = _layout_buckets(idx_dir)
        if layout:
            # Preserve the bucketed layout through the fold: shuffle by
            # the SAME storage-bucket function so each task holds whole
            # buckets (one merged file per bucket dir, not
            # target_files × buckets fragments).
            out = merged.repartition(max(1, target_files),
                                     F.pmod("vec_id", F.lit(layout)))
            bucketing = {"bucketBy": "vec_id", "buckets": str(layout)}
        else:
            out = merged.repartitionByRange(max(1, target_files), "vec_id")
            bucketing = {}
        tx.stage(out.sortWithinPartitions("vec_id"), into=f"seg={thru}",
                 compression="lz4", **bucketing)
        rows = tx.staged_rows()
        promoted = tx.commit(remove=in_scope)
    return {"files_before": len(before),
            "files_after": len(before) - len(in_scope) + len(promoted),
            "rows": rows}


def ann_index_stream(spark: SparkSession, feed_dir: str, idx_dir: str,
                     checkpoint_dir: str,
                     offsets_dir: str | None = None,
                     group: str | None = None):
    """Start the maintainer: tail the bucket-grain changefeed and roll
    the persisted index one segment per feed commit.  Returns the
    ``StreamingQuery``.

    ``offsets_dir``/``group`` (both or neither) register the maintainer
    as a NAMED CONSUMER GROUP, committing its position to the shared
    offsets table after each micro-batch
    (``feed_consume.position_advancer``; replay safety stays on the
    segment high-water)."""
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.feed_consume import (
        position_advancer,
    )

    advance = position_advancer(offsets_dir, group, "ann_index_stream")
    register_arrowipc(spark)
    feed = read_feed(spark, feed_dir, stream=True)

    def _apply(df: DataFrame, bid: int) -> None:
        apply_index_batch(df, bid, idx_dir)
        advance(df)

    return (feed.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .start())


class PurgeViolation(RuntimeError):
    """A feed batch would re-insert keys recorded in the purge ledger
    (right-to-be-forgotten): e.g. the SOURCE was RESTOREd to a pre-purge
    version, so the next diff commit re-inserts the purged rows.  The
    maintainer refuses rather than silently resurrecting them; pass
    ``allow_unpurge=True`` to record an explicit un-purge (the ledger
    entries are removed in the same step, so the override is itself
    audited)."""


#: Purge-ledger row layout: key + the feed commit whose DELETE purged it.
LEDGER_SCHEMA = "vec_id long, purged_at long"


def record_purge(keys_df: DataFrame, ledger_dir: str,
                 purged_at: int) -> None:
    """Append purged keys to the ledger (one snapshotted commit).  Call
    at purge time — the same transaction boundary as the source DELETE's
    feed commit, so ``purged_at`` is the feed position consumers compare
    against."""
    (keys_df.select(F.col("vec_id").cast("long"),
                    F.lit(purged_at).cast("long").alias("purged_at"))
     .write.format("arrowipc")
     .option("compression", "lz4").mode("append").save(ledger_dir))


def read_purge_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    """Current ledger state; empty frame when no purge was ever
    recorded (a missing ledger is the common case, not an error)."""
    if not os.path.isdir(ledger_dir):
        return spark.createDataFrame([], LEDGER_SCHEMA)
    return (spark.read.format("arrowipc")
            .schema(LEDGER_SCHEMA).load(ledger_dir))


def apply_index_batch_guarded(batch_df: DataFrame, batch_id: int,
                              idx_dir: str, ledger_dir: str,
                              allow_unpurge: bool = False) -> dict:
    """``apply_index_batch`` behind the right-to-be-forgotten guard: a
    batch row that would (re-)insert a ledgered key at a feed position
    AFTER its purge raises :class:`PurgeViolation` — the restore-after-
    purge resurrection path fails loudly instead of silently undoing the
    purge.  With ``allow_unpurge=True`` the offending keys are removed
    from the ledger (a snapshotted overwrite commit — the override is
    itself a ledger version, auditable via time travel) and the batch
    applies normally.  Returns ``{"n_unpurged": k}``.

    Scale: the ledger is purge-sized; the check is one equi-join of the
    mutation-sized batch against it — O(Δ + purges), never the corpus."""
    spark = batch_df.sparkSession
    batch = batch_df.localCheckpoint()
    ledger = read_purge_ledger(spark, ledger_dir)
    viol = (batch.filter(F.col("change") != "delete")
            .join(ledger, "vec_id")
            .filter(F.col("commit_seq") > F.col("purged_at"))
            .localCheckpoint())
    n_viol = viol.count()
    if n_viol and not allow_unpurge:
        raise PurgeViolation(
            f"feed batch {batch_id} would re-insert {n_viol} purged "
            f"key(s) into {idx_dir} (ledger {ledger_dir}) — a source "
            "RESTORE past a purge resurrects forgotten rows.  Either "
            "restore to a post-purge version, or re-run with "
            "allow_unpurge=True to record an explicit audited un-purge.")
    if n_viol:
        # un-purge: new ledger version WITHOUT the overridden keys
        # (overwrite commit — pre-override ledger stays time-travelable)
        remaining = ledger.join(viol.select("vec_id").distinct(),
                                "vec_id", "left_anti").localCheckpoint()
        (remaining.write.format("arrowipc")
         .option("compression", "lz4").mode("overwrite").save(ledger_dir))
    apply_index_batch(batch, batch_id, idx_dir)
    return {"n_unpurged": n_viol}


# ---------------------------------------------------------------------------
# Generation rollover: the batch re-train arm of
# q_ann_ivf_maintained as a LIVE foreachBatch face — the maintainer rolls
# the TRAINED index to generation k+1 when the drift monitor trips, while
# searches stay pinned to the generation they opened.
# ---------------------------------------------------------------------------

#: Pointer file naming the CURRENT generation (flipped by an atomic
#: commit-backend ``put``).
GENERATION_POINTER = "_generation.json"


def generation_dir(idx_root: str, gen: int) -> str:
    """One generation's index table — an ordinary LSM index dir, append-
    only and never deleted by a roll (pinned searches keep reading it)."""
    return os.path.join(idx_root, f"gen={gen}")


def current_generation(idx_root: str) -> dict:
    """The pointer: ``{"generation": k, "trained_thru": c}`` — generation
    k's base reflects every feed commit ``<= c``."""
    doc = _get_json(os.path.join(idx_root, GENERATION_POINTER))
    if doc is None:
        raise ValueError(
            f"generational index {idx_root!r} has no generation pointer "
            "— seed generation 0 with seed_generation() first")
    return doc


def _publish_generation(idx_root: str, gen: int, trained_thru: int) -> None:
    """Atomically flip the pointer (the commit backend's ``put`` — a
    reader sees the old or the new generation, never a partial write)."""
    _put_json(os.path.join(idx_root, GENERATION_POINTER),
              {"generation": int(gen), "trained_thru": int(trained_thru)})


def _seeded_rows(idx_dir: str) -> int:
    """Row count of a freshly seeded index table from its stats sidecars
    (the writer emits one per part; the manifest names the parts) —
    metadata only, no Spark job.  Exactly the rows the seed's save just
    streamed, so it replaces a second corpus-sized ``count()`` pass."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions,
        _read_manifest,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        _part_row_count,
    )

    versions = _manifest_versions(idx_dir)
    return sum(_part_row_count(f)
               for f in _read_manifest(idx_dir, versions[-1]))


def seed_generation(idx_root: str, bucketed: DataFrame,
                    layout_buckets: int | None = None,
                    payload: str | None = None) -> None:
    """Seed generation 0 (the one corpus-sized build) and publish the
    pointer at ``trained_thru=0``."""
    os.makedirs(idx_root, exist_ok=True)
    gdir = generation_dir(idx_root, 0)
    seed_index(gdir, bucketed,
               layout_buckets=layout_buckets, payload=payload)
    _write_gen_meta(gdir, 0, _seeded_rows(gdir))
    _publish_generation(idx_root, 0, 0)


def read_index_generation(spark: SparkSession, idx_root: str,
                          gen: int | None = None,
                          thru: int | None = None
                          ) -> tuple[int, DataFrame]:
    """Merge-on-read state of ONE generation, returned with its number.
    ``gen=None`` pins the CURRENT pointer at call time — the snapshot a
    search holds through a concurrent rollover (generation dirs are
    immutable-append, so the pinned read stays correct while the
    maintainer flips the pointer under it); pass an explicit ``gen`` to
    time-travel the generation axis."""
    g = current_generation(idx_root)["generation"] if gen is None else gen
    return g, read_index(spark, generation_dir(idx_root, g), thru=thru)


def _gen_meta_path(gdir: str) -> str:
    return os.path.join(gdir, "_gen.json")


def _write_gen_meta(gdir: str, base_seg: int, base_rows: int) -> None:
    """Per-generation seed metadata: the base segment number and its
    row count — what the churn monitor divides by, recorded ONCE at
    seed time so the per-batch monitor never re-scans the corpus-sized
    base."""
    _put_json(_gen_meta_path(gdir),
              {"base_seg": int(base_seg), "base_rows": int(base_rows)})


def _read_gen_meta(gdir: str) -> dict | None:
    return _get_json(_gen_meta_path(gdir))


def generation_churn(spark: SparkSession, idx_root: str,
                     gen: int) -> float:
    """THE churn of one generation, the re-train trigger every maintained
    index uses (the batch keys ``q_ann_ivf_maintained``,
    ``q_ann_ivfpq_maintained``, ``q_ann_generations[_payload]`` and the
    streaming ``ivf_index_stream``): distinct keys in the generation's
    DELTA segments over its base row count — the fraction of the trained
    corpus whose index row has changed or died since training.  A key
    counts once however many commits touched it, and a change that never
    reached the index (an update that keeps a vector's list and payload
    is index-noise, dropped before the feed) does not count at all.

    Scale: the monitor may run after every micro-batch, so it never
    re-scans the corpus-sized base — the base row count comes from the
    seed-time ``_gen.json``, and the delta read pushes ``seg >
    base_seg`` down to the partition directories (O(deltas) per call).
    A generation without the meta file pays one full scan, once: the
    fallback records what it scanned."""
    gdir = generation_dir(idx_root, gen)
    meta = _read_gen_meta(gdir)
    if meta is None:   # pre-meta generation: one full scan, then backfill
        rows = (spark.read.format("arrowipc")
                .option("columns", "vec_id,seg")
                .schema("vec_id long, seg long").load(gdir)
                .localCheckpoint())
        base = int(rows.agg(F.min("seg")).collect()[0][0])
        n_base = rows.filter(F.col("seg") == base).count()
        n_delta = (rows.filter(F.col("seg") > base)
                   .select("vec_id").distinct().count())
        # Backfill: every later call on this generation takes the
        # O(deltas) path.
        _write_gen_meta(gdir, base, n_base)
        return (n_delta / n_base) if n_base else 0.0
    n_base = int(meta["base_rows"])
    deltas = (spark.read.format("arrowipc")
              .option("columns", "vec_id,seg")
              .schema("vec_id long, seg long").load(gdir)
              .filter(F.col("seg") > int(meta["base_seg"])))
    n_delta = deltas.select("vec_id").distinct().count()
    return (n_delta / n_base) if n_base else 0.0


class GenerationMismatch(RuntimeError):
    """A generation-tagged feed batch carries UNABSORBED rows encoded
    against a generation the maintainer has already rolled past (the
    producer read the pointer, the roll won the race, the producer
    committed anyway).  Those rows' buckets/codes live in the OLD
    generation's quantizer space — applying them to the current
    generation would corrupt it, and the maintainer cannot re-encode
    them (it has no embeddings).  The producer must re-encode against
    the current generation and re-commit."""


def ivf_index_stream(spark: SparkSession, feed_dir: str, idx_root: str,
                     checkpoint_dir: str, retrain,
                     churn_min: float = 0.10,
                     generation_tagged: bool = False):
    """Start the GENERATIONAL maintainer: tail the vector-grain
    changefeed, apply each commit to the CURRENT generation, and ROLL
    to generation k+1 live when the churn monitor trips.  Returns the
    ``StreamingQuery``.

    - each micro-batch applies to the current generation's index
      (per-generation segment high-water = the usual replay safety);
    - after the apply, ``generation_churn`` evaluates the cumulative
      drift; when it crosses ``churn_min`` the maintainer calls
      ``retrain(spark) -> DataFrame`` — the caller's corpus-sized
      re-train on the CURRENT head corpus, carrying ``(vec_id,
      bucket)`` plus the index's payload columns if it has any — and
      rolls the result to generation k+1 through
      :func:`roll_generation`, which states what the new generation
      inherits from generation k;
    - searches pin a generation (``read_index_generation``): an
      in-flight search during the roll keeps reading generation k,
      which the roll never mutates; the next search picks up k+1.

    ``generation_tagged=True`` (the producer-coordination face): feed
    rows carry a ``gen`` column stamped by the producer from the
    pointer it encoded against.  The maintainer then applies only
    rows tagged with the CURRENT generation; stale-tagged rows whose
    ``commit_seq`` the current generation's training already absorbed
    are skipped silently (their effect is in the base), but
    stale-tagged UNABSORBED rows raise :class:`GenerationMismatch` —
    the producer lost the pointer race and must re-encode, never be
    silently merged into the wrong quantizer space.  Future-tagged
    rows always raise (a producer cannot be ahead of the pointer).

    Replay safety across the roll: a redelivered pre-roll commit hits
    generation k+1 whose base segment IS the absorbed position — the
    high-water skips it; the churn monitor reads index state, which
    the no-op apply left alone, so a replay cannot double-roll."""
    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    # The payload DDL is a schema contract ACROSS generations (each roll
    # inherits it), so reading it once from the current generation at
    # stream start is stable through any mid-stream rollover.
    ptr0 = current_generation(idx_root)
    pay_ddl = _payload_ddl(generation_dir(idx_root,
                                          int(ptr0["generation"])))
    feed = read_feed(spark, feed_dir, pay_ddl, stream=True,
                     tagged=generation_tagged)

    def _apply(df: DataFrame, bid: int) -> None:
        apply_generational_batch(spark, df, bid, idx_root, retrain,
                                 churn_min=churn_min,
                                 generation_tagged=generation_tagged)

    return (feed.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .start())


def apply_generational_batch(spark: SparkSession, df: DataFrame,
                             bid: int, idx_root: str, retrain,
                             churn_min: float = 0.10,
                             generation_tagged: bool = False) -> dict:
    """One generational maintenance step — ``ivf_index_stream``'s
    foreachBatch body, callable from batch consumers too (e.g. a
    ``consume_and_apply`` refresh cycle): apply the batch's commits to
    the CURRENT generation, evaluate churn, roll to generation k+1 if
    the monitor trips (:func:`roll_generation`).  Returns
    ``{"generation": k', "rolled": bool}`` (the pointer after the step).
    Semantics, replay safety, and the ``generation_tagged`` contract are
    documented on :func:`ivf_index_stream`."""
    ptr = current_generation(idx_root)
    gen = int(ptr["generation"])
    gdir = generation_dir(idx_root, gen)
    batch = df
    if generation_tagged:
        batch = df.localCheckpoint()
        ahead = batch.filter(F.col("gen") > gen).count()
        if ahead:
            raise GenerationMismatch(
                f"feed batch {bid}: {ahead} row(s) tagged for a "
                f"FUTURE generation (> {gen}) — the producer cannot "
                "be ahead of the published pointer; check the "
                "producer's pointer read")
        stale_live = (batch.filter(
            (F.col("gen") < gen)
            & (F.col("commit_seq") > int(ptr["trained_thru"])))
            .count())
        if stale_live:
            raise GenerationMismatch(
                f"feed batch {bid}: {stale_live} row(s) encoded "
                f"against a rolled-past generation (< {gen}) with "
                f"commit_seq beyond the generation's training "
                f"position {ptr['trained_thru']} — their buckets/"
                "codes are in the old quantizer space; the producer "
                "must re-encode against the current generation and "
                "re-commit")
        batch = batch.filter(F.col("gen") == gen).drop("gen")
    apply_index_batch(batch, bid, gdir)
    if generation_churn(spark, idx_root, gen) <= churn_min:
        return {"generation": gen, "rolled": False}
    return roll_generation(idx_root, lambda: retrain(spark))


def roll_generation(idx_root: str, new_base) -> dict:
    """Publish a re-trained base as the NEXT generation — the one roll
    path of every maintained index (:func:`apply_generational_batch` and
    the trained batch keys, all triggered by :func:`generation_churn`).
    ``new_base`` is a zero-arg thunk producing the retrained ``(vec_id,
    bucket[, payload...])`` frame.

    Generation k+1 INHERITS what generation k recorded: its physical
    bucket layout (``_layout.json``), its payload DDL (``_payload.json``)
    and, as its training position, generation k's segment high-water —
    every feed commit generation k absorbed.  That position is seeded as
    the new ``base_seg`` (so redelivered pre-roll commits no-op) and
    published as ``trained_thru``: one schema and replay contract across
    the generation axis, decided here and nowhere else.

    Crash-idempotent: the seed lands in a temp dir committed by ONE
    atomic backend ``move``, so the target directory's existence proves a
    COMPLETE seed.  A replay after a crash between the move and the
    pointer flip resumes by publishing — the thunk is never re-invoked
    (a second append-mode seed would stack a duplicate base segment at
    the same seg, and a non-deterministic retrain would mix rows from
    two trainings under last-wins).  A crash MID-seed leaves only a
    ``.tmp`` orphan, swept on the next roll attempt."""
    import shutil

    from bossarrowstorageengine_spark.sources.arrowipc import commit_backend

    cur = int(current_generation(idx_root)["generation"])
    gdir = generation_dir(idx_root, cur)
    ndir = generation_dir(idx_root, cur + 1)
    if os.path.exists(ndir):
        meta = _read_gen_meta(ndir)
        _publish_generation(
            idx_root, cur + 1,
            int(meta["base_seg"]) if meta else _seg_high_water(gdir))
        return {"generation": cur + 1, "rolled": True}
    absorbed = _seg_high_water(gdir)
    # The seed's save is the frame's ONLY consumer (the meta row count
    # comes from the stats sidecars below), so it needs no
    # materialization point.
    tmp = ndir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    seed_index(tmp, new_base(), layout_buckets=_layout_buckets(gdir),
               payload=_payload_ddl(gdir), base_seg=absorbed)
    _write_gen_meta(tmp, absorbed, _seeded_rows(tmp))
    commit_backend().move([(tmp, ndir)])
    _publish_generation(idx_root, cur + 1, absorbed)
    return {"generation": cur + 1, "rolled": True}


def vacuum_generations(idx_root: str, keep: int = 2) -> dict:
    """Retention for rolled-past generations: delete every generation
    directory older than the newest ``keep`` (pointer generation always
    survives).  Pinned searches hold a generation NUMBER, not a lock —
    the retention window is the operator's promise about how long a
    pinned search may run, exactly like snapshot-vacuum's contract for
    time travel.  Returns ``{"removed_generations": [...],
    "kept": [...]}``.

    Also silently sweeps DEAD ``gen=<k>.tmp`` seed orphans (crashed
    mid-seed before the atomic move — see :func:`roll_generation`)
    for ``k <= current``: those can never be moved into place (the
    target exists or was rolled past), while ``gen=<current+1>.tmp``
    may be a LIVE in-flight roll and is never touched."""
    import re
    import shutil

    cur = int(current_generation(idx_root)["generation"])
    for d in os.listdir(idx_root):
        if (m := re.fullmatch(r"gen=(\d+)\.tmp", d)) \
                and int(m.group(1)) <= cur:
            shutil.rmtree(os.path.join(idx_root, d), ignore_errors=True)
    gens = sorted(
        int(m.group(1)) for d in os.listdir(idx_root)
        if (m := re.fullmatch(r"gen=(\d+)", d)))
    keep = max(1, int(keep))
    # Retention counts directories actually PRESENT, not generation
    # numbers: with gaps (dirs gen=0 and gen=5, keep=2) a
    # number window ``g > cur - keep`` would delete gen=0 even though
    # only one newer generation exists.
    kept_set = set(gens[-keep:]) | {cur}
    kept = [g for g in gens if g in kept_set]
    removed = [g for g in gens if g not in kept_set]
    for g in removed:
        shutil.rmtree(generation_dir(idx_root, g))
    return {"removed_generations": removed, "kept": kept}
