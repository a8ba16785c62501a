"""Streaming MATERIALIZED-VIEW maintainer — the streaming face of
``q_mv_maintain`` (SURVEY §7 round-13 runway item 1): a ``foreachBatch``
consumer tails the changefeed table through the arrowipc streaming
source and applies the feed's commits to a PERSISTED aggregate table,
writing ONE MV VERSION PER FEED COMMIT — the batch loops over the
distinct ``commit_seq`` values it received, so the MV's version history
mirrors the feed's commit history even when the source collapses
several pending commits into one micro-batch (the stream reader's
``latestOffset`` jumps to the newest manifest version) or the query is
restarted from a fresh checkpoint over a backlog.

State lives in the MV table itself, not executor memory: every version
is a row set stamped with ``(mv_version, src_commit)``, the head is the
max-version row set, and version k+1 = head + commit k+1's deltas (the
algebraic merge of ``q_incremental_agg`` — counts and sums add; the
source corpus is NEVER rescanned after the seed).

Idempotence keys on FEED POSITION, not the checkpoint: ``src_commit``
records the feed commit each version absorbed, so a redelivered or
re-observed commit (foreachBatch replay after a lost checkpoint commit,
or a fresh-checkpoint restart whose first batch spans the whole feed)
filters down to only the commits beyond the head's — no markers, no
dependence on Spark's checkpoint-scoped ``batch_id`` (which resets to 0
on a new checkpoint and would both skip new work and double-apply old
work if used as the ledger key).  The crash window between an MV append
and the checkpoint commit is covered by exactly this check, and tested
by applying the same commit twice.

Scale: each refresh reads one mutation-sized feed commit plus the
group-cardinality-sized MV head, and writes one group-cardinality-sized
version — O(|delta| + |MV|) per commit at any corpus size.  The batch
face (``q_mv_maintain``) is oracle-gated; the stream is pinned to it by
a pytest differential (streamed MV versions == the batch key's rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Persisted MV row layout (the version ledger): ``src_commit`` is the
#: feed ``commit_seq`` the version absorbed (0 = the seed).
MV_SCHEMA = ("lang string, docs long, chars long, mv_version long, "
             "src_commit long")

#: Column set the maintainer reads back from the feed.
FEED_SCHEMA = ("lang string, change string, delta long, commit_seq long")


def seed_mv(mv_dir: str, base: DataFrame) -> None:
    """Publish MV version 1 — the base aggregate of the source's first
    snapshot, the one corpus-sized pass the maintainer ever needs.
    ``base`` must carry ``(lang, docs, chars)``; ``src_commit = 0``
    marks the seed as preceding every feed commit."""
    (base.select(
        "lang", F.col("docs").cast("long"), F.col("chars").cast("long"),
        F.lit(1).cast("long").alias("mv_version"),
        F.lit(0).cast("long").alias("src_commit"))
     .write.format("arrowipc")
     .option("compression", "lz4").mode("append").save(mv_dir))


def _mv_head(spark: SparkSession, mv_dir: str) -> tuple[DataFrame, int,
                                                        int]:
    """The MV's current head: ``(rows, head_version, thru_commit)``.
    Two cheap steps — a 2-column scan for the maxima (one driver-side
    row), then a pruned re-read of just the head version's rows — so the
    head read never scales with the version history."""
    versions = (spark.read.format("arrowipc")
                .option("columns", "mv_version,src_commit")
                .schema("mv_version long, src_commit long").load(mv_dir))
    head = versions.agg(F.max("mv_version").alias("v"),
                        F.max("src_commit").alias("c")).collect()[0]
    if head["v"] is None:
        raise ValueError(
            f"MV table {mv_dir!r} is empty — write version 1 with "
            "seed_mv(mv_dir, base_aggregate) before starting the "
            "maintainer (the seed is the only corpus-sized pass)")
    rows = (spark.read.format("arrowipc")
            .schema(MV_SCHEMA).load(mv_dir)
            .filter(F.col("mv_version") == int(head["v"])))
    return rows, int(head["v"]), int(head["c"])


def _merge_ledger_state(head: DataFrame, deltas: DataFrame,
                        keys: list[str], head_ver: int,
                        seq: int) -> DataFrame:
    """Next ledger version = head + one commit's deltas, WITHOUT
    shuffling the ledger side (r15, VERDICT r14 item 7): the old
    ``full_outer`` join hash-partitioned BOTH sides — including the
    group-cardinality head — for a mutation-sized delta.  Deltas
    broadcast instead: existing keys merge through a broadcast LEFT
    join (zero Exchange on the head), and brand-new keys come from a
    broadcast anti join against the head's KEY COLUMNS only (key-width
    × group-cardinality — strictly smaller than the full head the old
    plan shuffled).  ``head`` carries ``(*keys, docs, chars)``;
    ``deltas`` carries ``(*keys, docs_delta, chars_delta)`` and must be
    pre-materialized (the callers localCheckpoint it).

    GRAIN ASSUMPTION (VERDICT r15): the anti-join arm broadcasts the
    head's key columns, which is sound ONLY because these ledgers
    aggregate at per-lang / per-(lang, source) grain — group
    cardinality is dozens, so key-width × groups is trivially
    broadcastable.  A ledger keyed at DOCUMENT grain would make that
    broadcast corpus-sized: do NOT reuse this merge for per-doc state —
    flip the anti-join arm to a shuffled join (or bucket both sides)
    before raising the key grain."""
    base = head.select(*keys, "docs", "chars")
    existing = (
        base.join(F.broadcast(deltas), keys, "left")
        .select(
            *keys,
            (F.col("docs") + F.coalesce("docs_delta", F.lit(0)))
            .cast("long").alias("docs"),
            (F.col("chars") + F.coalesce("chars_delta", F.lit(0)))
            .cast("long").alias("chars")))
    fresh = (
        deltas.join(F.broadcast(base.select(*keys)), keys, "left_anti")
        .select(*keys,
                F.col("docs_delta").cast("long").alias("docs"),
                F.col("chars_delta").cast("long").alias("chars")))
    return (existing.unionByName(fresh)
            .select(*keys, "docs", "chars",
                    F.lit(head_ver + 1).cast("long").alias("mv_version"),
                    F.lit(seq).cast("long").alias("src_commit")))


def apply_feed_batch(batch_df: DataFrame, batch_id: int,
                     mv_dir: str) -> None:
    """Apply one feed micro-batch to the persisted MV: one new version
    per DISTINCT feed commit beyond the ledger's high-water commit.
    Replay-safe by feed position — commits the ledger has already
    absorbed are filtered out, whatever ``batch_id`` says (it is
    checkpoint-scoped and appears here only because foreachBatch
    supplies it)."""
    spark = batch_df.sparkSession
    if not os.path.isdir(mv_dir):
        raise ValueError(
            f"MV table {mv_dir!r} not seeded — write version 1 with "
            "seed_mv(mv_dir, base_aggregate) before starting the "
            "maintainer (the seed is the only corpus-sized pass)")
    if len(batch_df.take(1)) == 0:
        return  # empty micro-batch: no deltas, no version bump
    # Materialize the batch ONCE before the mixed filtered/unfiltered
    # action sequence below: Spark (≤4.1) caches a Python data source's
    # planned partition list on the shared relation and filter pushdown
    # OVERWRITES it (the hazard documented at arrowipc.pushFilters), so
    # reusing one frame for the distinct-commit scan AND the per-commit
    # filters could silently read a pruned file list.  The checkpoint
    # severs that relation; the batch is mutation-sized, and each commit
    # below re-reads it anyway, so this also avoids N re-scans.
    batch = batch_df.localCheckpoint()
    _, _, thru = _mv_head(spark, mv_dir)
    new_commits = sorted(
        int(r["commit_seq"])
        for r in batch.select("commit_seq").distinct().collect()
        if int(r["commit_seq"]) > thru)
    for seq in new_commits:
        head, head_ver, _ = _mv_head(spark, mv_dir)
        deltas = (batch.filter(F.col("commit_seq") == seq).groupBy(
            "lang").agg(
            F.sum((F.col("change") == "insert").cast("long")
                  - (F.col("change") == "delete").cast("long"))
            .cast("long").alias("docs_delta"),
            F.sum("delta").cast("long").alias("chars_delta"))
            .localCheckpoint())   # mutation-sized; broadcast twice below
        # an insert commit can introduce a lang the MV has never seen;
        # a lang absent from the commit keeps its state — the broadcast
        # decomposition covers both without shuffling the ledger.
        new_state = _merge_ledger_state(head, deltas, ["lang"],
                                        head_ver, seq)
        (new_state.write.format("arrowipc")
         .option("compression", "lz4").mode("append").save(mv_dir))


def mv_maintain_stream(spark: SparkSession, feed_dir: str, mv_dir: str,
                       checkpoint_dir: str, ignore_changes: bool = False):
    """Start the maintainer: tail ``feed_dir`` and roll ``mv_dir``
    forward one version per feed commit.  Returns the
    ``StreamingQuery``.

    ``ignore_changes=True`` lets the tail stream THROUGH feed
    maintenance commits (``compact_feed_thru`` checkpoints rewrite
    already-emitted commit partitions, so the stream source refuses
    them by default): the checkpoint's re-delivered rows carry their
    original ``commit_seq``, and the ledger's feed-position filter in
    ``apply_feed_batch`` makes already-absorbed commits a no-op.

    CONTRACT (the Kafka log-compaction rule): compaction may only cover
    commits this consumer has ALREADY absorbed (``thru`` <= the MV
    ledger's high-water).  The ledger dedupes re-delivery ACROSS
    batches, not within one: a consumer tailing from offset zero over a
    feed compacted mid-backlog receives a commit's original partition
    AND its checkpoint copy in the SAME micro-batch and would
    double-apply.  A fresh consumer over a compacted feed must
    therefore bootstrap with one BATCH apply of the feed's head read
    (each logical row exactly once by manifest construction — the
    fresh-checkpoint backlog pattern) rather than replaying the
    manifest log.  Consumers without a feed-position ledger must leave
    the default (fail loudly) and restart from a fresh checkpoint."""
    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    reader = (spark.readStream.format("arrowipc")
              .option("columns", "lang,change,delta,commit_seq")
              .schema(FEED_SCHEMA))
    if ignore_changes:
        reader = reader.option("ignoreChanges", "true")
    feed = reader.load(feed_dir)
    return (feed.writeStream
            .foreachBatch(lambda df, bid: apply_feed_batch(df, bid, mv_dir))
            .option("checkpointLocation", checkpoint_dir)
            .start())


# ---------------------------------------------------------------------------
# N-grain MV FANOUT maintainer (SURVEY §7 round-14 runway item 2b) — the
# streaming face of ``q_mv_fanout``: ONE foreachBatch consumer maintains
# SEVERAL persisted aggregate ledgers at different grains from one feed
# micro-batch.  The fine-grain deltas are computed ONCE per commit
# (feed-batch-sized); every coarser grain's deltas are a rollup of them —
# never a second feed pass, so adding a grain costs one group-sized
# aggregation, not another stream.
#
# Replay-safety is per grain: each ledger's high-water ``src_commit`` is
# checked independently, so a crash BETWEEN two grains' writes of the same
# commit (the new window fanout introduces) re-applies only the grains
# that missed it — the feed-position discipline of ``apply_feed_batch``
# extended to a vector of ledgers.
# ---------------------------------------------------------------------------


def _grain_schema(keys: list[str]) -> str:
    return (", ".join(f"{k} string" for k in keys)
            + ", docs long, chars long, mv_version long, src_commit long")


def seed_mv_fanout(grains: list[tuple[str, list[str]]],
                   base_fine: DataFrame) -> None:
    """Publish version 1 of every grain's ledger from ONE fine-grain base
    aggregate: ``base_fine`` carries ``(fine keys..., docs, chars)`` (the
    one corpus-sized pass); each grain's base is its exact
    sum-decomposition rollup.  ``grains`` = ``[(mv_dir, key_cols), ...]``
    with the FINE grain first; every other grain's keys must be a subset
    of the fine grain's (the rollup requirement)."""
    fine_keys = grains[0][1]
    for mv_dir, keys in grains:
        if not set(keys) <= set(fine_keys):
            raise ValueError(
                f"fanout grain {keys} is not a subset of the fine grain "
                f"{fine_keys} — its deltas cannot be a rollup; feed it "
                "from its own maintainer instead")
        agg = (base_fine if keys == fine_keys
               else base_fine.groupBy(*keys).agg(
                   F.sum("docs").alias("docs"),
                   F.sum("chars").alias("chars")))
        (agg.select(
            *keys, F.col("docs").cast("long"), F.col("chars").cast("long"),
            F.lit(1).cast("long").alias("mv_version"),
            F.lit(0).cast("long").alias("src_commit"))
         .write.format("arrowipc")
         .option("compression", "lz4").mode("append").save(mv_dir))


def _grain_head(spark: SparkSession, mv_dir: str,
                keys: list[str]) -> tuple[DataFrame, int, int]:
    """``(head rows, head_version, thru_commit)`` for one grain —
    ``_mv_head``'s two-step read with a grain-shaped schema."""
    versions = (spark.read.format("arrowipc")
                .option("columns", "mv_version,src_commit")
                .schema("mv_version long, src_commit long").load(mv_dir))
    head = versions.agg(F.max("mv_version").alias("v"),
                        F.max("src_commit").alias("c")).collect()[0]
    if head["v"] is None:
        raise ValueError(
            f"fanout ledger {mv_dir!r} is empty — seed every grain with "
            "seed_mv_fanout(grains, base_fine) first")
    rows = (spark.read.format("arrowipc")
            .schema(_grain_schema(keys)).load(mv_dir)
            .filter(F.col("mv_version") == int(head["v"])))
    return rows, int(head["v"]), int(head["c"])


def apply_fanout_batch(batch_df: DataFrame, batch_id: int,
                       grains: list[tuple[str, list[str]]]) -> None:
    """Apply one feed micro-batch to EVERY grain's ledger: one new
    version per grain per distinct feed commit beyond THAT grain's
    high-water.  The fine-grain deltas are computed once per commit and
    checkpointed (group-cardinality-sized); coarser grains roll them
    up.  Replay-safe per grain by feed position — ``batch_id`` is
    checkpoint-scoped and appears only because foreachBatch supplies
    it."""
    spark = batch_df.sparkSession
    fine_keys = grains[0][1]
    if len(batch_df.take(1)) == 0:
        return
    batch = batch_df.localCheckpoint()   # sever the shared datasource plan
    thrus = {mv_dir: _grain_head(spark, mv_dir, keys)[2]
             for mv_dir, keys in grains}
    floor = min(thrus.values())
    new_commits = sorted(
        int(r["commit_seq"])
        for r in batch.select("commit_seq").distinct().collect()
        if int(r["commit_seq"]) > floor)
    for seq in new_commits:
        fine_deltas = (batch.filter(F.col("commit_seq") == seq)
                       .groupBy(*fine_keys).agg(
                           F.sum((F.col("change") == "insert").cast("long")
                                 - (F.col("change") == "delete")
                                 .cast("long"))
                           .cast("long").alias("docs_delta"),
                           F.sum("delta").cast("long").alias("chars_delta"))
                       .localCheckpoint())   # computed ONCE, N consumers
        for mv_dir, keys in grains:
            if seq <= thrus[mv_dir]:
                continue   # this grain already absorbed it (crash replay)
            deltas = (fine_deltas if keys == fine_keys
                      else fine_deltas.groupBy(*keys).agg(
                          F.sum("docs_delta").cast("long")
                          .alias("docs_delta"),
                          F.sum("chars_delta").cast("long")
                          .alias("chars_delta")).localCheckpoint())
            head, head_ver, _ = _grain_head(spark, mv_dir, keys)
            new_state = _merge_ledger_state(head, deltas, keys,
                                            head_ver, seq)
            (new_state.write.format("arrowipc")
             .option("compression", "lz4")
             .mode("append").save(mv_dir))
            thrus[mv_dir] = seq


def mv_fanout_stream(spark: SparkSession, feed_dir: str,
                     grains: list[tuple[str, list[str]]],
                     checkpoint_dir: str,
                     ignore_changes: bool = False,
                     offsets_dir: str | None = None,
                     group: str | None = None):
    """Start the fanout maintainer: tail ``feed_dir`` and roll EVERY
    grain's ledger forward one version per feed commit from one
    foreachBatch.  Feed rows must carry the fine grain's key columns
    plus ``(change, delta, commit_seq)``.  ``ignore_changes`` follows
    ``mv_maintain_stream``'s contract (the Kafka log-compaction rule:
    compaction may only cover commits every grain has absorbed).

    ``offsets_dir``/``group`` (both or neither) additionally register
    this maintainer as a NAMED CONSUMER GROUP: after each micro-batch's
    applies, the group's position advances to the batch's max
    ``commit_seq`` in the shared offsets table
    (``sources/feed_consume``) — so ``consumer_lag`` reports this LIVE
    maintainer's backlog next to every other consumer of the feed,
    durably outside the Spark checkpoint.  The position is advisory
    observability here (replay-safety stays per grain, keyed on each
    ledger's ``src_commit``); the forward-only commit rule is respected
    by skipping commits at-or-below the current position — a restarted
    query re-observing an old batch never trips the regression guard."""
    from bossarrowstorageengine_spark.sources import register_arrowipc

    if (offsets_dir is None) != (group is None):
        raise ValueError(
            "mv_fanout_stream: offsets_dir and group come together — a "
            "position needs a group name and a table to land in")

    register_arrowipc(spark)
    fine_keys = grains[0][1]
    cols = ",".join(fine_keys + ["change", "delta", "commit_seq"])
    schema = (", ".join(f"{k} string" for k in fine_keys)
              + ", change string, delta long, commit_seq long")
    reader = (spark.readStream.format("arrowipc")
              .option("columns", cols).schema(schema))
    if ignore_changes:
        reader = reader.option("ignoreChanges", "true")
    feed = reader.load(feed_dir)

    def _apply(df: DataFrame, bid: int) -> None:
        apply_fanout_batch(df, bid, grains)
        if offsets_dir is None:
            return
        from bossarrowstorageengine_spark.sources.feed_consume import (
            commit_position,
            committed_position,
        )

        head = df.agg(F.max("commit_seq")).collect()[0][0]
        if head is not None and int(head) > committed_position(
                spark, offsets_dir, group):
            commit_position(spark, offsets_dir, group, int(head))

    return (feed.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .start())
