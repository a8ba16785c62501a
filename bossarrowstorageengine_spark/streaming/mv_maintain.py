"""MATERIALIZED-VIEW ledgers: their layout, their version algebra and
their streaming maintainer.

A ledger is a persisted aggregate table at one grain — string key
columns ``keys`` plus the measures ``docs`` and ``chars`` — in the layout
``_grain_schema(keys)``.  Every version is a row set stamped with
``(mv_version, src_commit)``: version 1 is the base aggregate of the
source's first snapshot (``src_commit`` 0), and version k+1 is version k
plus feed commit k's deltas — counts and sums add, so the source corpus
is NEVER rescanned after the seed (the counting algorithm of incremental
view maintenance).  A group a delete empties stays at 0/0; it is never
dropped.

One maintainer, ``mv_fanout_stream``: a ``foreachBatch`` consumer tails
the changefeed through the arrowipc streaming source and rolls one or
more ledgers (``grains``) forward, ONE VERSION PER GRAIN PER FEED COMMIT
— it loops over the distinct ``commit_seq`` values of each micro-batch,
so a ledger's version history mirrors the feed's commit history even
when the source collapses several pending commits into one micro-batch
or a query restarted from a fresh checkpoint replays a backlog.  The
first grain is the fine grain: its deltas are computed once per commit,
and every coarser grain's deltas are their rollup, never a second feed
pass.  The batch query keys build on the same algebra: ``_ledger_versions``
derives every version from one feed scan so they land in one write job,
and ``_audit_ledger`` checks each version against the same-version
source snapshot.

Idempotence keys on FEED POSITION, per grain: ``src_commit`` records the
feed commit each version absorbed, so a redelivered or re-observed
commit (foreachBatch replay after a lost checkpoint commit, a
fresh-checkpoint restart whose first batch spans the whole feed, or a
crash between two grains' writes of one commit) re-applies only to the
ledgers whose high-water is below it.  Spark's checkpoint-scoped
``batch_id`` is never the key: it resets to 0 on a new checkpoint and
would both skip new work and double-apply old work.

Scale: each refresh reads one mutation-sized feed commit plus the
group-cardinality-sized ledger head, and writes one group-sized version
— O(|delta| + |MV|) per commit at any corpus size.  The batch keys are
oracle-gated; the stream is pinned to them by pytest differentials.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _grain_schema(keys: list[str]) -> str:
    """The ledger layout at grain ``keys``."""
    return (", ".join(f"{k} string" for k in keys)
            + ", docs long, chars long, mv_version long, src_commit long")


def _read_ledger(spark: SparkSession, mv_dir: str,
                 keys: list[str]) -> DataFrame:
    """Every version of the ledger at ``mv_dir``.  Load afresh per use:
    mixing filtered and unfiltered actions on one load result can read a
    pruned file list (the hazard documented at arrowipc.pushFilters)."""
    return (spark.read.format("arrowipc")
            .schema(_grain_schema(keys)).load(mv_dir))


def _append_ledger(rows: DataFrame, mv_dir: str) -> None:
    """Append ledger rows — one or many versions — in one write job."""
    (rows.write.format("arrowipc").option("partitionBy", "mv_version")
     .option("compression", "lz4").mode("append").save(mv_dir))


def _commit_deltas(rows: DataFrame, keys: list[str],
                   seqs: list[int] | None = None) -> DataFrame:
    """Feed change rows as ledger deltas at grain ``keys``: an insert
    adds a doc, a delete removes one, and ``delta`` moves ``chars``.
    Without ``seqs``, ``rows`` is one commit and the result carries
    ``(docs_delta, chars_delta)``; with ``seqs``, one pass over ``rows``
    yields ``(docs_delta_cN, chars_delta_cN)`` for every commit N in
    ``seqs`` (conditional sums, not one scan per commit)."""
    aggs: list = []
    for seq in [None] if seqs is None else seqs:
        docs = ((F.col("change") == "insert").cast("long")
                - (F.col("change") == "delete").cast("long"))
        chars, suffix = F.col("delta"), ""
        if seq is not None:
            on = F.col("commit_seq") == seq
            docs = F.when(on, docs).otherwise(F.lit(0))
            chars = F.when(on, chars).otherwise(F.lit(0))
            suffix = f"_c{seq}"
        aggs += [F.sum(docs).cast("long").alias("docs_delta" + suffix),
                 F.sum(chars).cast("long").alias("chars_delta" + suffix)]
    return rows.groupBy(*keys).agg(*aggs)


def _rollup(df: DataFrame, keys: list[str]) -> DataFrame:
    """``df`` rolled up to the coarser grain ``keys``: every measure (a
    non-string column outside ``keys`` — ledger keys are strings) is
    summed, the exact sum-decomposition of a count or a sum."""
    return df.groupBy(*keys).agg(*[
        F.sum(c).cast("long").alias(c)
        for c, t in df.dtypes if c not in keys and t != "string"])


def _source_aggregate(snap: DataFrame, keys: list[str]) -> DataFrame:
    """A source snapshot's ledger measures at grain ``keys``:
    ``(*keys, docs, chars)`` — the row count and the summed
    ``n_chars``."""
    return snap.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("docs"),
        F.sum("n_chars").cast("long").alias("chars"))


def _ledger_versions(base: DataFrame, deltas: DataFrame, keys: list[str],
                     seqs: list[int]) -> DataFrame:
    """Every ledger version as one frame, so they land in ONE write job:
    version 1 is ``base`` (``(*keys, docs, chars)``, ``src_commit`` 0),
    and version i+1 adds commit ``seqs[i-1]``'s deltas — the same rows
    as chaining ``_merge_ledger_state`` over the commits.  ``deltas`` is
    ``_commit_deltas(rows, keys, seqs)``.  The base's groups are the
    ledger's groups, so every group a commit touches must be in the base
    (the batch keys' commits update and delete; they never insert a new
    group)."""
    st = base.join(deltas, keys, "left").na.fill(0)
    docs, chars, frames = F.col("docs"), F.col("chars"), []
    for k, seq in enumerate([0, *seqs], start=1):
        if seq:
            docs = docs + F.col(f"docs_delta_c{seq}")
            chars = chars + F.col(f"chars_delta_c{seq}")
        frames.append(st.select(
            *keys, docs.cast("long").alias("docs"),
            chars.cast("long").alias("chars"),
            F.lit(k).cast("long").alias("mv_version"),
            F.lit(seq).cast("long").alias("src_commit")))
    return reduce(DataFrame.unionByName, frames)


def _version_aggregates(snaps: list[DataFrame],
                        keys: list[str]) -> DataFrame:
    """``(mv_version, *keys, docs, chars)``: the direct aggregate of
    each ledger version's source snapshot, where ``snaps[i]`` is the
    source as of version i+1."""
    return reduce(DataFrame.unionByName, (
        _source_aggregate(s, keys)
        .withColumn("mv_version", F.lit(k).cast("long"))
        for k, s in enumerate(snaps, start=1)))


def _audit_ledger(ledger: DataFrame, direct: DataFrame,
                  keys: list[str]) -> DataFrame:
    """``ledger``'s rows plus ``consistent``: each row equals the direct
    aggregate of its own version's source snapshot (``direct``, from
    ``_version_aggregates``).  A group the source no longer has must
    read 0/0."""
    d = direct.select("mv_version", *keys,
                      F.col("docs").alias("docs_direct"),
                      F.col("chars").alias("chars_direct"))
    return (ledger.join(d, ["mv_version", *keys], "left")
            .select(*ledger.columns,
                    ((F.col("docs")
                      == F.coalesce("docs_direct", F.lit(0)))
                     & (F.col("chars")
                        == F.coalesce("chars_direct", F.lit(0))))
                    .alias("consistent")))


def _merge_ledger_state(head: DataFrame, deltas: DataFrame,
                        keys: list[str], head_ver: int,
                        seq: int) -> DataFrame:
    """Next ledger version = head + one commit's deltas, WITHOUT
    shuffling the ledger side (a ``full_outer`` join would hash-partition
    the group-cardinality head for a mutation-sized delta).  The deltas
    broadcast instead: existing keys merge through a broadcast LEFT
    join (zero Exchange on the head), and brand-new keys come from a
    broadcast anti join against the head's KEY COLUMNS only (key-width
    × group-cardinality).  ``head`` carries ``(*keys, docs, chars)``;
    ``deltas`` carries ``(*keys, docs_delta, chars_delta)`` and must be
    pre-materialized (the callers localCheckpoint it).

    GRAIN ASSUMPTION: the anti-join arm broadcasts the
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


def _unseeded(mv_dir: str) -> ValueError:
    return ValueError(
        f"MV ledger {mv_dir!r} not seeded — seed first: write version 1 "
        "of every grain with seed_mv_fanout(grains, base_fine) before "
        "starting the maintainer (the seed is the only corpus-sized "
        "pass)")


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
        agg = base_fine if keys == fine_keys else _rollup(base_fine, keys)
        _append_ledger(agg.select(
            *keys, F.col("docs").cast("long"), F.col("chars").cast("long"),
            F.lit(1).cast("long").alias("mv_version"),
            F.lit(0).cast("long").alias("src_commit")), mv_dir)


def _grain_head(spark: SparkSession, mv_dir: str,
                keys: list[str]) -> tuple[DataFrame, int, int]:
    """The ledger's current head: ``(rows, head_version, thru_commit)``.
    Two cheap steps — a 2-column scan for the maxima (one driver-side
    row), then a pruned re-read of just the head version's rows — so the
    head read never scales with the version history."""
    versions = (spark.read.format("arrowipc")
                .option("columns", "mv_version,src_commit")
                .schema("mv_version long, src_commit long").load(mv_dir))
    head = versions.agg(F.max("mv_version").alias("v"),
                        F.max("src_commit").alias("c")).collect()[0]
    if head["v"] is None:
        raise _unseeded(mv_dir)
    rows = (_read_ledger(spark, mv_dir, keys)
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
    for mv_dir, _keys in grains:
        if not os.path.isdir(mv_dir):
            raise _unseeded(mv_dir)
    spark = batch_df.sparkSession
    fine_keys = grains[0][1]
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
    thrus = {mv_dir: _grain_head(spark, mv_dir, keys)[2]
             for mv_dir, keys in grains}
    floor = min(thrus.values())
    new_commits = sorted(
        int(r["commit_seq"])
        for r in batch.select("commit_seq").distinct().collect()
        if int(r["commit_seq"]) > floor)
    for seq in new_commits:
        fine_deltas = _commit_deltas(
            batch.filter(F.col("commit_seq") == seq),
            fine_keys).localCheckpoint()   # computed ONCE, N consumers
        for mv_dir, keys in grains:
            if seq <= thrus[mv_dir]:
                continue   # this grain already absorbed it (crash replay)
            deltas = (fine_deltas if keys == fine_keys
                      else _rollup(fine_deltas, keys).localCheckpoint())
            head, head_ver, _ = _grain_head(spark, mv_dir, keys)
            # A commit can introduce a group the ledger has never seen,
            # and a group absent from the commit keeps its state; the
            # broadcast merge covers both without shuffling the ledger.
            _append_ledger(_merge_ledger_state(head, deltas, keys,
                                               head_ver, seq), mv_dir)
            thrus[mv_dir] = seq


def mv_fanout_stream(spark: SparkSession, feed_dir: str,
                     grains: list[tuple[str, list[str]]],
                     checkpoint_dir: str,
                     ignore_changes: bool = False,
                     offsets_dir: str | None = None,
                     group: str | None = None):
    """Start the maintainer: tail ``feed_dir`` and roll EVERY grain's
    ledger forward one version per feed commit from one foreachBatch.
    Feed rows must carry the fine grain's key columns plus ``(change,
    delta, commit_seq)``.  Returns the ``StreamingQuery``.

    ``ignore_changes=True`` lets the tail stream THROUGH feed
    maintenance commits (``compact_feed_thru`` checkpoints rewrite
    already-emitted commit partitions, so the stream source refuses
    them by default): the checkpoint's re-delivered rows carry their
    original ``commit_seq``, and each ledger's feed-position filter
    makes already-absorbed commits a no-op.

    CONTRACT (the Kafka log-compaction rule): compaction may only cover
    commits every grain has ALREADY absorbed (``thru`` <= each ledger's
    high-water).  The ledger dedupes re-delivery ACROSS batches, not
    within one: a consumer tailing from offset zero over a feed
    compacted mid-backlog receives a commit's original partition AND
    its checkpoint copy in the SAME micro-batch and would double-apply.
    A fresh consumer over a compacted feed must therefore bootstrap
    with one BATCH apply of the feed's head read (each logical row
    exactly once by manifest construction — the fresh-checkpoint
    backlog pattern) rather than replaying the manifest log.  Consumers
    without a feed-position ledger must leave the default (fail loudly)
    and restart from a fresh checkpoint.

    ``offsets_dir``/``group`` (both or neither) additionally register
    this maintainer as a NAMED CONSUMER GROUP: after each micro-batch's
    applies, the group's position advances to the batch's max
    ``commit_seq`` in the shared offsets table
    (``feed_consume.position_advancer``), so ``consumer_lag`` reports
    this live maintainer's backlog next to every other consumer of the
    feed, durably outside the Spark checkpoint."""
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.feed_consume import (
        position_advancer,
    )

    advance = position_advancer(offsets_dir, group, "mv_fanout_stream")
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
        advance(df)

    return (feed.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .start())
