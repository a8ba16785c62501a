"""Round-13 behavioral tests: the feed-vacuum flags are derived (not
constants), and the maintained-index search is differentially identical
to an inline re-bucketing — the contracts the EXACT oracle replay cannot
attest on its own terms."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()


def test_feed_vacuum_flags_and_content(spark):
    """All four attestation booleans hold at once on the real pipeline,
    and the delta payload is non-trivial (at least one commit moved
    chars — a vacuum over an empty feed would attest nothing)."""
    rows = QUERIES["q_feed_vacuum"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.any_reclaimed and r.disk_matches_manifest
        assert r.head_unchanged and r.travel_fails_loudly
    assert any(r.chars_delta_c1 or r.chars_delta_c2 or r.chars_delta_c3
               for r in rows), "no commit moved anything — vacuous"


def test_feed_vacuum_actually_unlinked_commit_partitions(spark, tmp_path):
    """The physical contract behind ``any_reclaimed``: after compaction
    thru=2 + keep_versions=1 vacuum, the rewritten ``commit_seq=1/2``
    partition DIRECTORIES hold no part files on disk, while the
    checkpoint and the commit-3 tail survive."""
    from bossarrowstorageengine_spark.operators.scans import (
        _write_three_commit_feed,
    )
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _list_ipc_files,
    )
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )
    from bossarrowstorageengine_spark.sources.maintenance import (
        vacuum_arrowipc,
    )

    register_arrowipc(spark)
    feed = str(tmp_path / "feed")
    _write_three_commit_feed(spark, SF, feed)
    compact_feed_thru(spark, feed, thru=2)
    info = vacuum_arrowipc(feed, keep_versions=1)
    assert info["removed_files"] > 0
    on_disk = _list_ipc_files(feed)
    rels = {os.path.relpath(f, feed) for f in on_disk}
    assert not any(r.startswith("commit_seq=1/") or
                   r.startswith("commit_seq=2/") for r in rels), rels
    assert any(r.startswith("compacted_thru=2/") for r in rels)
    assert any(r.startswith("commit_seq=3/") for r in rels)


def test_ann_lsh_maintained_matches_inline_rebucketing(spark):
    """The maintained-index search must return EXACTLY the rows an
    inline re-bucketing of the final corpus returns — the 'identical by
    construction' claim, engine-verified (any missed tombstone / stale
    bucket in the LSM merge would surface here before the oracle)."""
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _lsh_bucket_col,
    )
    from pyspark.sql import Window

    got = QUERIES["q_ann_lsh_maintained"](spark, SF)

    # inline twin: same mutations replayed relationally on the parquet
    # corpus, buckets recomputed from scratch
    from bossarrowstorageengine_spark.catalog import load_table
    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    mut = (e.filter(~(F.col("vec_id") % 5 == 0))
           .select("vec_id",
                   F.when(F.col("vec_id") % 7 == 3,
                          F.transform("embedding", lambda x: -x))
                   .otherwise(F.col("embedding")).alias("embedding")))
    bucketed = mut.withColumn("bucket", _lsh_bucket_col(8))
    probes = bucketed.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_emb"), "bucket")
    from bossarrowstorageengine_spark.functions import vector as V
    cands = bucketed.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("probe_id"))
    w = Window.partitionBy("probe_id").orderBy(
        F.round("cos_sim", 6).desc(), F.asc("vec_id"))
    inline = (cands.withColumn(
        "cos_sim", V.cosine(F.col("probe_emb"), F.col("embedding")))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(F.col("probe_id").cast("long"),
                F.col("vec_id").cast("long"),
                F.round("cos_sim", 6).alias("cos_sim"), "rn"))

    g, i = got.collect(), inline.collect()
    assert sorted(map(tuple, g)) == sorted(map(tuple, i))
    assert g, "empty result — vacuous differential"


def test_ann_lsh_maintained_probe3_rebucketed(spark, tmp_path):
    """Non-vacuity of the maintenance path: probe 3 is negated by the
    UPDATE, so its bucket in the maintained index differs from its seed
    (seg=0) bucket — the search result genuinely depends on the delta
    segments, not just the base."""
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ann_bucketed,
        _ann_mutation_feed,
        _ann_snap,
    )
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        apply_index_batch,
        read_index,
        seed_index,
    )

    register_arrowipc(spark)
    base = str(tmp_path / "maint")
    idx = os.path.join(base, "idx")
    src, feed = _ann_mutation_feed(spark, SF, base)
    seed_index(idx, _ann_bucketed(_ann_snap(spark, src, "1")))
    feed_rows = (spark.read.format("arrowipc")
                 .option("columns", "vec_id,bucket,change,commit_seq")
                 .schema("vec_id long, bucket int, change string, "
                         "commit_seq long").load(feed))
    apply_index_batch(feed_rows, 0, idx)

    seed_bucket = {r.vec_id: r.bucket for r in
                   _ann_bucketed(_ann_snap(spark, src, "1"))
                   .filter(F.col("vec_id") == 3).collect()}
    maint_bucket = {r.vec_id: r.bucket for r in
                    read_index(spark, idx)
                    .filter(F.col("vec_id") == 3).collect()}
    assert seed_bucket and maint_bucket
    assert seed_bucket[3] != maint_bucket[3], (
        "probe 3's bucket did not move — the negation must flip every "
        "projection sign")
    # and a deleted vector is really gone from the merged state
    assert read_index(spark, idx).filter("vec_id = 5").count() == 0


def test_purge_propagate_flags_versions_nonvacuous(spark):
    """Every derived artifact attests its purge (booleans engine-computed),
    the purge versions line up with the fixture (source v3 = the DELETE
    commit, feed commit 2, index segment 2, MV version 3), and the purge
    actually removed mass (some bucket's membership shrank vs the seed)."""
    rows = QUERIES["q_purge_propagate"](spark, SF).collect()
    assert rows
    r0 = rows[0]
    assert r0.source_purged and r0.feed_tombstoned
    assert r0.index_purged and r0.mv_consistent
    assert (r0.src_purge_version, r0.feed_purge_commit,
            r0.index_purge_seg, r0.mv_purge_version) == (3, 2, 2, 3)
    # non-vacuity: the purged corpus holds fewer vectors than the base
    from bossarrowstorageengine_spark.catalog import load_table
    n_corpus = load_table(spark, SF, "embeddings").count()
    assert sum(r.n_vecs for r in rows) < n_corpus


def test_mv_fanout_grains_consistent_and_rollup(spark):
    """Both ledgers verify against their own-version snapshots
    (consistent everywhere), the coarse grain is EXACTLY the rollup of
    the fine grain at every version (the shared-delta claim), and the
    delete leaves at least one emptied fine-grain group at 0/0 rather
    than dropping it."""
    rows = QUERIES["q_mv_fanout"](spark, SF).collect()
    assert rows and all(r.consistent for r in rows)
    coarse = {(r.mv_version, r.lang): (r.docs, r.chars)
              for r in rows if r.grain == "lang"}
    fine = [r for r in rows if r.grain == "lang_source"]
    roll: dict = {}
    for r in fine:
        k = (r.mv_version, r.lang)
        d, c = roll.get(k, (0, 0))
        roll[k] = (d + r.docs, c + r.chars)
    assert roll == coarse
    # v1 and v3 carry the same fine-grain group set (deletes zero, never drop)
    g1 = {(r.lang, r.source) for r in fine if r.mv_version == 1}
    g3 = {(r.lang, r.source) for r in fine if r.mv_version == 3}
    assert g1 == g3
    assert any(r.mv_version == 3 and r.docs < next(
        x.docs for x in fine if x.mv_version == 1
        and (x.lang, x.source) == (r.lang, r.source))
        for r in fine), "no fine-grain group saw the delete — vacuous"


def test_vocab_drift_piece_semantics(spark):
    """Drift-report invariants the oracle hash can't articulate: the
    full corpus is a superset of the even-doc subset, so every kept
    piece's weighted frequency is monotone non-decreasing, single-char
    pieces never LEAVE (the coverage floor only grows), and the report
    is non-trivial (some pieces enter, most are kept)."""
    rows = QUERIES["q_vocab_drift"](spark, SF).collect()
    assert rows
    by_status: dict = {}
    for r in rows:
        by_status.setdefault(r.status, []).append(r)
    assert by_status.get("entering"), "nothing entered — vacuous"
    assert len(by_status.get("kept", [])) > len(
        by_status.get("leaving", []))
    for r in by_status.get("kept", []):
        assert r.freq_next >= r.freq_prev, r.piece
    for r in by_status.get("leaving", []):
        assert len(r.piece) > 1, (
            f"single-char piece {r.piece!r} left the vocab — the "
            "coverage floor shrank")


def test_linkage_edges_half_tail_blocking_equals_coarse(spark):
    """The refined pair generator (half-tail blocking + block-keyed
    repartition) must produce EXACTLY the coarse generator's edge set —
    the provable-refinement claim behind the round-13 rework.  Also
    pins duplicate-freedom (the two half-key legs are disjoint by the
    h1-differs inequality, so no distinct() shuffle is needed)."""
    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.operators.graph import (
        _linkage_edges,
    )

    c = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("id"), "c_name",
        F.substring("c_name", 1, 16).alias("block"))
    a, b = c.alias("a"), c.alias("b")
    coarse = (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.id") < F.col("b.id")))
        .filter(F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 1)
        .select(F.col("a.id").alias("u"), F.col("b.id").alias("v")))
    refined = _linkage_edges(spark, SF)
    assert refined.exceptAll(coarse).count() == 0
    assert coarse.exceptAll(refined).count() == 0
    n = refined.count()
    assert n == refined.distinct().count(), "duplicate edges emitted"
    assert n > 0, "empty edge set — vacuous"


def test_vocab_drift_n_chain_semantics(spark):
    """Chained-drift invariants: refresh 2's diff face must EQUAL the
    single-diff key's semantics applied to (quarter, half), corpora are
    nested so kept frequencies are monotone per face, and the final
    face's next-side vocab is exactly q_vocab_drift's next-side vocab
    (both are the full corpus seed)."""
    rows = QUERIES["q_vocab_drift_n"](spark, SF).collect()
    assert rows
    faces = {r.refresh_id for r in rows}
    assert faces == {2, 3}
    for r in rows:
        if r.status == "kept":
            assert r.freq_next >= r.freq_prev, (r.refresh_id, r.piece)
        if r.status == "leaving":
            assert len(r.piece) > 1, (r.refresh_id, r.piece)
    # face 3's next-side == q_vocab_drift's next-side (full-corpus seed)
    single = QUERIES["q_vocab_drift"](spark, SF).collect()
    next3 = {(r.piece, r.freq_next, r.logp_next) for r in rows
             if r.refresh_id == 3 and r.status != "leaving"}
    next_single = {(r.piece, r.freq_next, r.logp_next) for r in single
                   if r.status != "leaving"}
    assert next3 == next_single


def test_purge_restore_guard_flags_and_positional(spark):
    """Full-key flags hold at once (guard fired on the restore diff,
    index stayed purged until the audited un-purge, ledger cleared,
    final state consistent) and the version columns are the engine-
    derived fixture positions."""
    rows = QUERIES["q_purge_restore_guard"](spark, SF).collect()
    assert rows
    r0 = rows[0]
    assert r0.guard_fired and r0.purged_until_unpurge
    assert r0.ledger_cleared and r0.state_consistent
    assert (r0.src_restore_version, r0.purge_commit,
            r0.resurrect_commit) == (4, 2, 3)
    # post-restore state is the update-only corpus: full cardinality
    from bossarrowstorageengine_spark.catalog import load_table
    n_corpus = load_table(spark, SF, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == n_corpus


def test_purge_guard_unit_positional_and_missing_ledger(spark, tmp_path):
    """Unit contract of the guard: a missing ledger is an empty ledger
    (no error); a batch touching a ledgered key at commit <= purged_at
    passes (positional rule); the violation message names the count;
    an un-purge leaves other ledger entries intact."""
    import os

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        PurgeViolation,
        apply_index_batch_guarded,
        read_index,
        read_purge_ledger,
        record_purge,
        seed_index,
    )

    register_arrowipc(spark)
    idx = str(tmp_path / "idx")
    ledger = str(tmp_path / "ledger")
    seed_index(idx, spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "vec_id long, bucket int"))

    batch = spark.createDataFrame(
        [(1, 11, "rebucket", 1)],
        "vec_id long, bucket int, change string, commit_seq long")
    # missing ledger -> empty -> applies
    apply_index_batch_guarded(batch, 0, idx, ledger)
    assert {r.vec_id: r.bucket for r in
            read_index(spark, idx).collect()}[1] == 11

    record_purge(spark.createDataFrame([(2,), (3,)], "vec_id long"),
                 ledger, purged_at=2)
    # commit 2 == purged_at: the purge's OWN delete commit passes
    deletes = spark.createDataFrame(
        [(2, None, "delete", 2), (3, None, "delete", 2)],
        "vec_id long, bucket int, change string, commit_seq long")
    apply_index_batch_guarded(deletes, 1, idx, ledger)
    assert read_index(spark, idx).filter("vec_id in (2,3)").count() == 0

    # commit 3 > purged_at: re-insert refused, index unchanged
    resurrect = spark.createDataFrame(
        [(2, 21, "insert", 3)],
        "vec_id long, bucket int, change string, commit_seq long")
    with pytest.raises(PurgeViolation, match="1 purged"):
        apply_index_batch_guarded(resurrect, 2, idx, ledger)
    assert read_index(spark, idx).filter("vec_id = 2").count() == 0

    # un-purge removes ONLY the overridden key
    info = apply_index_batch_guarded(resurrect, 3, idx, ledger,
                                     allow_unpurge=True)
    assert info["n_unpurged"] == 1
    left = {r.vec_id for r in read_purge_ledger(spark, ledger).collect()}
    assert left == {3}
    assert read_index(spark, idx).filter("vec_id = 2").count() == 1


def test_purge_text_handoff_nonvacuous_and_consistent(spark):
    """Document-space purge invariants: at least one cluster's keeper
    actually changed hands (non-vacuity of the handoff path), every new
    keeper is a surviving member > the purged old keeper when changed,
    fully purged clusters are absent, and both engine-check flags
    held."""
    rows = QUERIES["q_purge_text"](spark, SF).collect()
    assert rows, "no surviving clusters — vacuous fixture"
    assert all(r.df_incremental_matches and r.no_purged_members
               for r in rows)
    changed = [r for r in rows if r.keeper_changed]
    assert changed, "no keeper handoff occurred — vacuous"
    for r in rows:
        assert r.n_survivors >= 1
        assert r.new_keeper % 3 != 0          # a purged id never keeps
        if r.keeper_changed:
            assert r.cluster_id % 3 == 0      # old keeper was purged
            assert r.new_keeper > r.cluster_id
        else:
            assert r.new_keeper == r.cluster_id


def test_cocompact_flags_and_state_cardinality(spark):
    """Co-compaction attests all six contracts at once, and the final
    index state's cardinality equals the purged+updated corpus (the
    fold dropped tombstones physically without touching the logical
    state)."""
    rows = QUERIES["q_feed_index_cocompact"](spark, SF).collect()
    assert rows
    r0 = rows[0]
    assert r0.feed_content_unchanged and r0.index_state_unchanged
    assert r0.highwater_preserved and r0.replay_noop
    assert r0.both_reclaimed and r0.both_clean
    from bossarrowstorageengine_spark.catalog import load_table
    e = load_table(spark, SF, "embeddings")
    n_expected = e.filter("vec_id % 5 != 0").count()
    assert sum(r.n_vecs for r in rows) == n_expected
