"""Round-15 regression tests — ADVICE r14 fixes and new faces.

Covers:
- arrowipc bucketBy: exact integer bucket ids (no pandas float64
  coercion), loud null-key failure (ADVICE r14 medium).
- vacuum checkpoint rewrite preserves ts + adds_new_rows (ADVICE r14).
- purge_derived untouched_preserved pins the CoW boundary by file
  identity (ADVICE r14).
- feed_consume: delivery capped at the head read in the same call;
  cross-group seq uniqueness under concurrent commits (ADVICE r14 +
  VERDICT r14 item 5).
"""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.ipc as pipc
import pytest
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.sources import register_arrowipc


def test_bucket_ids_property_matches_pmod():
    """Property (hypothesis): _bucket_ids == Spark's pmod semantics for
    ANY int64 keys and bucket count — including every value float64
    cannot represent and both sign combinations."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bossarrowstorageengine_spark.sources.arrowipc import _bucket_ids

    @settings(max_examples=200, deadline=None)
    @given(
        keys=st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                      min_size=1, max_size=50),
        n=st.integers(min_value=1, max_value=1024),
    )
    def prop(keys, n):
        arr = pa.chunked_array([pa.array(keys, pa.int64())])
        got = _bucket_ids(arr, "k", n).to_pylist()
        # Python's % already has pmod semantics (sign of divisor).
        assert got == [k % n for k in keys]

    prop()


def test_merge_ledger_state_property_matches_full_outer(spark):
    """Property: the broadcast decomposition is algebraically identical
    to the old full_outer merge for ANY head/delta key overlap."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _merge_ledger_state)

    keys = st.text(alphabet="abcdef", min_size=1, max_size=3)

    @settings(max_examples=10, deadline=None)
    @given(
        head=st.dictionaries(keys, st.tuples(
            st.integers(0, 100), st.integers(0, 1000)), max_size=6),
        deltas=st.dictionaries(keys, st.tuples(
            st.integers(-50, 50), st.integers(-500, 500)),
            min_size=1, max_size=6),
    )
    def prop(head, deltas):
        h = spark.createDataFrame(
            [(k, d, c) for k, (d, c) in head.items()] or
            [("zz_empty", 0, 0)],
            "lang string, docs long, chars long")
        if not head:
            h = h.filter(F.col("lang") != "zz_empty")
        dl = spark.createDataFrame(
            [(k, d, c) for k, (d, c) in deltas.items()],
            "lang string, docs_delta long, chars_delta long"
        ).localCheckpoint()
        got = {(r.lang): (r.docs, r.chars) for r in
               _merge_ledger_state(h, dl, ["lang"], 1, 2).collect()}
        want = {}
        for k in set(head) | set(deltas):
            d0, c0 = head.get(k, (0, 0))
            dd, cd = deltas.get(k, (0, 0))
            want[k] = (d0 + dd, c0 + cd)
        assert got == want

    prop()


def _read_ipc_dir(table: str, pattern: str) -> pa.Table:
    tabs = []
    for path in glob.glob(os.path.join(table, pattern)):
        with open(path, "rb") as fh:
            try:
                tabs.append(pipc.open_stream(fh).read_all())
            except pa.ArrowInvalid:
                fh.seek(0)
                tabs.append(pipc.open_file(fh).read_all())
    return pa.concat_tables(tabs)


def test_bucketby_exact_int_arithmetic(spark, tmp_path):
    """ADVICE r14 (medium): bucket ids must come from exact integer
    arithmetic.  Keys above 2^53 are not float64-representable — the old
    to_pandas()/np.mod route bucketed 2^53+1 as 2^53 — and every key must
    land under __sb = pmod(key, buckets), negative keys included,
    matching compact_index's F.pmod co-location contract."""
    register_arrowipc(spark)
    table = str(tmp_path / "big")
    big = 2 ** 53
    keys = [big + 1, big + 2, big + 3, -3, -11, 5, 8]
    df = spark.createDataFrame([(k, 1) for k in keys], "vec_id long, v long")
    (df.write.format("arrowipc").option("bucketBy", "vec_id")
     .option("buckets", "8").mode("append").save(table))

    seen = {}
    for d in os.listdir(table):
        if not d.startswith("__sb="):
            continue
        sb = int(d.split("=")[1])
        got = _read_ipc_dir(table, os.path.join(d, "part-*"))
        for k in got.column("vec_id").to_pylist():
            seen[k] = sb
    assert seen == {k: k % 8 for k in keys}  # Python % == Spark pmod here


def _snap_ids(spark, table, lo, hi):
    df = spark.range(lo, hi).select(
        "id", (F.col("id") % 2).cast("string").alias("grp"))
    (df.coalesce(1).write.format("arrowipc")
     .mode("append").save(table))


def test_vacuum_checkpoint_preserves_commit_metadata(spark, tmp_path):
    """ADVICE r14: vacuum's delta-to-checkpoint rewrite of RETAINED
    manifests must carry ``ts`` and ``adds_new_rows`` over — otherwise a
    retained mixed commit is silently skipped by skipChangeCommits
    (bypassing the r14 guard) and timestampAsOf resolution falls back to
    the rewrite-time mtime."""
    from pyspark.sql.types import StructType

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamReader, _load_manifest_doc, _manifest_versions)
    from bossarrowstorageengine_spark.sources.maintenance import (
        merge_arrowipc, vacuum_arrowipc)

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    _snap_ids(spark, table, 0, 4)    # v1
    _snap_ids(spark, table, 4, 8)    # v2
    # v3: MERGE updating id=0 + inserting id=100 — a MIXED delta commit.
    src = spark.createDataFrame(
        [(0, "x"), (100, "y")], "id bigint, grp string")
    merge_arrowipc(spark, table, src, key="id")
    head = _manifest_versions(table)[-1]
    before = _load_manifest_doc(table, head)
    assert "files" not in before          # still a delta log entry
    assert before["adds_new_rows"] is True

    before_v2 = _load_manifest_doc(table, head - 1)
    vacuum_arrowipc(table, keep_versions=2)   # drops v1; v2+v3 checkpointed
    after = _load_manifest_doc(table, head)
    assert "files" in after               # rewritten as a checkpoint
    assert after["ts"] == before["ts"]
    assert after["adds_new_rows"] is True
    assert _load_manifest_doc(table, head - 1)["ts"] == before_v2["ts"]

    # The skipChangeCommits guard still fires on the retained commit.
    schema = StructType.fromDDL("id bigint, grp string")
    reader = ArrowIPCStreamReader(
        schema, {"path": table, "skipChangeCommits": "true"})
    with pytest.raises(ValueError, match="adds_new_rows"):
        reader._added_files(head - 1, head)

    # timestampAsOf at the preserved commit time still resolves to head.
    asof = (spark.read.format("arrowipc")
            .option("timestampAsOf", str(before["ts"]))
            .schema("id long, grp string").load(table))
    ids = sorted(r.id for r in asof.collect())
    assert ids == list(range(8)) + [100]


def test_offsets_concurrent_groups_get_distinct_seqs(spark, tmp_path):
    """VERDICT r14 item 5: seq is assigned inside the manifest-CAS loop,
    so two DIFFERENT groups committing concurrently can never both land
    the same audit seq (the global audit log stays totally ordered).
    Simulated race: a conflicting commit lands between the loser's seq
    read and its manifest claim, via a ConditionalPut wrapper that
    injects a competing _append on the first claim attempt."""
    from bossarrowstorageengine_spark.sources import feed_consume as fc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ConditionalPut, set_commit_backend)

    offsets = str(tmp_path / "offsets")
    fc.seek(spark, offsets, "a", 0)
    fc.seek(spark, offsets, "b", 0)

    class RaceOnce(ConditionalPut):
        def __init__(self, inner):
            self.inner, self.fired = inner, False

        def put_if_absent(self, target, payload):
            if not self.fired and "_manifest-" in os.path.basename(target):
                self.fired = True
                # group b sneaks a commit in first — the outer _append
                # must lose its claim, recompute seq, and retry.
                fc.commit_position(spark, offsets, "b", 7)
            return self.inner.put_if_absent(target, payload)

    from bossarrowstorageengine_spark.sources.arrowipc import (
        PosixConditionalPut)

    inner = PosixConditionalPut()
    prev = set_commit_backend(RaceOnce(inner))
    try:
        fc.commit_position(spark, offsets, "a", 5)
    finally:
        set_commit_backend(prev)

    rows = fc._offset_rows(offsets)
    seqs = sorted(r["seq"] for r in rows)
    assert seqs == list(range(1, len(rows) + 1))   # unique, gap-free
    assert fc.committed_position(spark, offsets, "a") == 5
    assert fc.committed_position(spark, offsets, "b") == 7


def test_consume_next_caps_delivery_at_head(spark, tmp_path):
    """ADVICE r14: the delivered set must match the head the position
    will commit to — a commit landing after the head read inside the
    same cycle is the NEXT cycle's delivery, not a silently-applied-but
    -uncommitted extra."""
    from bossarrowstorageengine_spark.sources import feed_consume as fc

    register_arrowipc(spark)
    feed = str(tmp_path / "feed")
    offsets = str(tmp_path / "offsets")

    def _commit(seq, n):
        (spark.range(n).select(
            F.lit(seq).cast("long").alias("commit_seq"),
            (F.col("id") + 100 * seq).alias("doc_id"))
         .coalesce(1).write.format("arrowipc")
         .option("partitionBy", "commit_seq")
         .mode("append").save(feed))

    _commit(1, 3)
    _commit(2, 2)
    rows, pos, head = fc.consume_next(
        spark, feed, offsets, "g", "commit_seq,doc_id",
        "commit_seq long, doc_id long")
    assert (pos, head) == (0, 2)
    _commit(3, 4)   # lands between the head read and the apply
    got = rows.collect()   # lazy frame evaluated AFTER commit 3
    assert sorted({r.commit_seq for r in got}) == [1, 2]
    assert len(got) == 5   # commit 3 is NOT delivered this cycle
    fc.commit_position(spark, offsets, "g", head)
    rows2, pos2, head2 = fc.consume_next(
        spark, feed, offsets, "g", "commit_seq,doc_id",
        "commit_seq long, doc_id long")
    assert (pos2, head2) == (2, 3)
    assert sorted({r.commit_seq for r in rows2.collect()}) == [3]


def test_index_payload_roundtrip_and_shuffle_free(spark, tmp_path):
    """r15 payload face of the LSM index (the IVF-PQ delta-encoded
    codes): seed/apply/read carry an ``array<bigint>`` payload through
    base + delta segments, last-wins replaces bucket AND payload
    atomically, tombstones drop both, compaction preserves the payload,
    and the bucketed merge-on-read still plans NO Exchange."""
    from bossarrowstorageengine_spark.streaming.ann_index import (
        apply_index_batch, compact_index, read_index, seed_index)

    register_arrowipc(spark)
    idx = str(tmp_path / "idx")
    base = spark.range(20).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("bucket"),
        F.array(F.col("id"), F.col("id") * 2).alias("codes"))
    seed_index(idx, base, layout_buckets=4, payload="codes array<bigint>")

    # commit 1: re-code vec 3 (same bucket, new codes), delete vec 5.
    feed = spark.createDataFrame(
        [(3, 3, [99, 98], "recode", 1), (5, None, None, "delete", 1)],
        "vec_id long, bucket int, codes array<bigint>, change string, "
        "commit_seq long")
    apply_index_batch(feed, 0, idx)

    got = read_index(spark, idx)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan          # bucketed merge: shuffle-free
    rows = {r.vec_id: (r.bucket, list(r.codes)) for r in got.collect()}
    assert 5 not in rows                   # tombstone dropped payload too
    assert rows[3] == (3, [99, 98])        # payload replaced atomically
    assert rows[7] == (3, [7, 14])         # untouched rows keep payload
    assert len(rows) == 19

    # replay safety: re-applying the same commit is a no-op.
    apply_index_batch(feed, 1, idx)
    assert read_index(spark, idx).count() == 19

    # compaction folds segments, payload preserved.
    compact_index(spark, idx, thru=1)
    rows2 = {r.vec_id: (r.bucket, list(r.codes))
             for r in read_index(spark, idx).collect()}
    assert rows2 == rows


def test_stream_ivf_generation_rollover(spark, tmp_path):
    """r15 streaming IVF generation rollover (VERDICT r14 item 3),
    differential vs q_ann_ivf_maintained's batch generations: the live
    maintainer applies the vector-grain feed to generation 0, the churn
    monitor trips after the second commit, the re-train runs and the
    pointer flips to generation 1 — while a search pinned to generation
    0 keeps reading the old, untouched generation.  A fresh-checkpoint
    restart redelivers the whole backlog: the rolled generation's
    base_seg high-water makes it a no-op and no double-roll fires."""
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ann_delta_feed, _ann_mutated_src, _ann_snap, _index_rows,
        _ivf_assign_frozen, _ivf_int_vec, _ivf_lloyd, _ivf_train,
        _ivf_vec_changes)
    from bossarrowstorageengine_spark.streaming.ann_index import (
        current_generation, generation_churn, ivf_index_stream,
        read_index_generation, seed_generation)

    register_arrowipc(spark)
    sf = "/root/testdata/sf0.001"
    base = str(tmp_path)
    idx_root = os.path.join(base, "gens")
    feed = os.path.join(base, "feed")
    src = _ann_mutated_src(spark, sf, base)

    iv, cents = _ivf_train(spark, sf)
    cents = cents.localCheckpoint()
    seed_generation(idx_root, _index_rows(_ivf_assign_frozen(iv, cents)))

    def _snap_iv(ver):
        return _ann_snap(spark, src, ver).select(
            "vec_id", _ivf_int_vec(F.col("embedding")).alias("iemb"))

    s1 = _snap_iv("1").localCheckpoint()
    s2 = _snap_iv("2")
    head = _snap_iv(None).localCheckpoint()

    def _feed_commit(pre, post, seq):
        # the batch key's delta-feed path, one commit per call
        _ann_delta_feed(spark, _ivf_vec_changes(pre, post, seq),
                        lambda v, keys: _ivf_assign_frozen(v, cents, keys),
                        feed)

    _feed_commit(s1, s2, 1)

    def _retrain(sess):
        return _index_rows(_ivf_assign_frozen(
            head, _ivf_lloyd(head).localCheckpoint()))

    q = ivf_index_stream(spark, feed, idx_root, os.path.join(base, "ck1"),
                         _retrain, churn_min=0.2)
    try:
        q.processAllAvailable()
        # commit 1 alone (update churn ~1/7 minus same-assignment drops)
        # stays under the 0.2 floor: still generation 0.
        assert current_generation(idx_root)["generation"] == 0
        pinned_gen, pinned = read_index_generation(spark, idx_root)
        assert pinned_gen == 0
        _feed_commit(s2, head, 2)   # deletes push cumulative churn > 0.2
        q.processAllAvailable()
    finally:
        q.stop()

    ptr = current_generation(idx_root)
    assert ptr == {"generation": 1, "trained_thru": 2}

    # Differential vs the batch key's generations:
    # gen 0 fully maintained == from-scratch frozen assignment of head.
    direct0 = sorted((r.vec_id, r.bucket) for r in _index_rows(
        _ivf_assign_frozen(head, cents)).collect())
    _, g0 = read_index_generation(spark, idx_root, gen=0)
    assert sorted(map(tuple, g0.collect())) == direct0
    # the PINNED pre-roll search handle still reads generation 0.
    assert sorted(map(tuple, pinned.collect())) == direct0
    # gen 1 == the batch key's re-train (head-trained Lloyd lists).
    want1 = sorted((r.vec_id, r.bucket) for r in _retrain(spark).collect())
    _, g1 = read_index_generation(spark, idx_root)
    assert sorted(map(tuple, g1.collect())) == want1

    # Fresh-checkpoint restart over the full backlog: redelivery no-ops
    # (gen 1's base_seg=2 high-water) and no double-roll fires.
    q2 = ivf_index_stream(spark, feed, idx_root, os.path.join(base, "ck2"),
                          _retrain, churn_min=0.2)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert current_generation(idx_root) == {"generation": 1,
                                            "trained_thru": 2}
    assert generation_churn(spark, idx_root, 1) == 0.0
    _, g1b = read_index_generation(spark, idx_root)
    assert sorted(map(tuple, g1b.collect())) == want1


def test_ledger_refresh_merge_plans_no_shuffle(spark):
    """r15 (VERDICT r14 item 7): the MV/fanout ledger refresh must not
    hash-shuffle the group-cardinality ledger side for a mutation-sized
    delta.  The broadcast decomposition (left join + key-only anti)
    plans zero 'Exchange hashpartitioning' and stays algebraically
    identical to the old full_outer merge — existing keys update,
    untouched keys persist, brand-new keys appear."""
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _merge_ledger_state)

    head = spark.createDataFrame(
        [("en", "web", 10, 100), ("de", "web", 5, 50),
         ("en", "book", 2, 20)],
        "lang string, source string, docs long, chars long"
    ).localCheckpoint()
    deltas = spark.createDataFrame(
        [("en", "web", -1, -10), ("fr", "web", 3, 30)],
        "lang string, source string, docs_delta long, chars_delta long"
    ).localCheckpoint()

    ns = _merge_ledger_state(head, deltas, ["lang", "source"], 4, 7)
    plan = ns._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan

    got = {(r.lang, r.source): (r.docs, r.chars, r.mv_version,
                                r.src_commit) for r in ns.collect()}
    assert got == {
        ("en", "web"): (9, 90, 5, 7),      # updated
        ("de", "web"): (5, 50, 5, 7),      # untouched persists
        ("en", "book"): (2, 20, 5, 7),     # untouched persists
        ("fr", "web"): (3, 30, 5, 7),      # brand-new key appears
    }


def test_generational_rollover_inherits_payload_and_checks_gen_tags(
        spark, tmp_path):
    """r16 runway items 3+5 pulled forward: (a) a rolled generation
    INHERITS the payload DDL and physical layout from the generation it
    replaces — the retrained base carries fresh code vectors; (b) with
    a generation-tagged feed, stale-tagged rows already absorbed by the
    new generation's training are skipped, while stale-tagged UNABSORBED
    rows fail loudly (GenerationMismatch) instead of corrupting the new
    quantizer space."""
    from bossarrowstorageengine_spark.streaming.ann_index import (
        GenerationMismatch, _seg_high_water, current_generation,
        generation_dir, ivf_index_stream, read_index_generation,
        seed_generation)

    register_arrowipc(spark)
    idx_root = str(tmp_path / "gens")
    feed = str(tmp_path / "feed")

    def _recorded(gen, name):
        with open(os.path.join(generation_dir(idx_root, gen), name)) as f:
            return f.read()

    base = spark.range(10).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 2).cast("int").alias("bucket"),
        F.array(F.col("id"), F.col("id")).alias("codes"))
    seed_generation(idx_root, base, layout_buckets=2,
                    payload="codes array<bigint>")

    def _commit(rows):
        (spark.createDataFrame(
            rows, "vec_id long, bucket int, codes array<bigint>, "
            "change string, commit_seq long, gen long")
         .coalesce(1).write.format("arrowipc")
         .option("partitionBy", "commit_seq")
         .mode("append").save(feed))

    # commit 1 (tagged gen 0): recode 3 keys — churn 0.3 > 0.2 → roll.
    _commit([(i, 1, [90 + i, 0], "recode", 1, 0) for i in (0, 2, 4)])

    def _retrain(sess):
        return sess.range(10).select(
            F.col("id").alias("vec_id"),
            F.lit(1).cast("int").alias("bucket"),
            F.array(F.lit(7).cast("long"),
                    F.col("id")).alias("codes"))

    q = ivf_index_stream(spark, feed, idx_root, str(tmp_path / "ck"),
                         _retrain, churn_min=0.2, generation_tagged=True)
    try:
        q.processAllAvailable()
        assert current_generation(idx_root) == {"generation": 1,
                                                "trained_thru": 1}
        # trained_thru is generation 0's segment high-water
        assert _seg_high_water(generation_dir(idx_root, 0)) == 1
        # the rolled generation carries the retrained payload + layout,
        # under the layout and payload DDL generation 0 recorded
        _, g1 = read_index_generation(spark, idx_root)
        rows = {r.vec_id: (r.bucket, list(r.codes)) for r in g1.collect()}
        assert rows == {i: (1, [7, i]) for i in range(10)}
        for name in ("_layout.json", "_payload.json"):
            assert _recorded(1, name) == _recorded(0, name)

        # commit 2 tagged gen 0 with commit_seq 2 > trained_thru 1:
        # a producer that lost the pointer race — must fail loudly.
        _commit([(5, 0, [1, 1], "recode", 2, 0)])
        with pytest.raises(Exception) as ei:
            q.processAllAvailable()
    finally:
        q.stop()
    assert "GenerationMismatch" in str(ei.value) or isinstance(
        ei.value, GenerationMismatch)
    # the failed batch corrupted nothing: generation 1 state unchanged.
    _, g1b = read_index_generation(spark, idx_root)
    assert {r.vec_id: (r.bucket, list(r.codes))
            for r in g1b.collect()} == rows


def test_vacuum_generations_retention(spark, tmp_path):
    """Generation retention: old generation dirs beyond the keep window
    are deleted; the pointer generation always survives; a pinned read
    inside the window still works."""
    from bossarrowstorageengine_spark.streaming.ann_index import (
        _publish_generation, read_index_generation, seed_generation,
        seed_index, generation_dir, vacuum_generations)

    register_arrowipc(spark)
    idx_root = str(tmp_path / "gens")
    mk = lambda n: spark.range(5).select(  # noqa: E731
        F.col("id").alias("vec_id"),
        F.lit(n).cast("int").alias("bucket"))
    seed_generation(idx_root, mk(0))
    for g in (1, 2, 3):
        seed_index(generation_dir(idx_root, g), mk(g), base_seg=g)
        _publish_generation(idx_root, g, g)

    res = vacuum_generations(idx_root, keep=2)
    assert res == {"removed_generations": [0, 1], "kept": [2, 3]}
    _, g2 = read_index_generation(spark, idx_root, gen=2)
    assert {r.bucket for r in g2.collect()} == {2}
    assert not os.path.exists(generation_dir(idx_root, 0))
    # the pointer generation survives even with keep=1
    assert vacuum_generations(idx_root, keep=1)["kept"] == [3]


def test_positions_asof_replays_consumer_history(spark, tmp_path):
    """r16 runway item 4 pulled forward: positions_asof resolves the
    offsets table through the shared timestampAsOf run-max rule and
    replays every group's committed position at the anchor."""
    import json

    from bossarrowstorageengine_spark.sources import feed_consume as fc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_file, _manifest_versions)

    offsets = str(tmp_path / "offsets")
    fc.seek(spark, offsets, "a", 0)          # v1
    fc.commit_position(spark, offsets, "a", 5)   # v2
    fc.commit_position(spark, offsets, "b", 3)   # v3
    fc.commit_position(spark, offsets, "a", 9)   # v4
    for v, ts in zip(_manifest_versions(offsets),
                     (1000.0, 2000.0, 3000.0, 4000.0)):
        mf = _manifest_file(offsets, v)
        with open(mf) as f:
            doc = json.load(f)
        doc["ts"] = ts
        with open(mf, "w") as f:
            json.dump(doc, f)

    def _at(anchor):
        return {(r.group, r.position) for r in
                fc.positions_asof(spark, offsets, anchor).collect()}

    assert _at("1500") == {("a", 0)}
    assert _at("2000") == {("a", 5)}
    assert _at("3500") == {("a", 5), ("b", 3)}
    assert _at("9999") == {("a", 9), ("b", 3)}
    with pytest.raises(ValueError):
        fc.positions_asof(spark, offsets, "500")   # pre-first-commit


def test_bucketby_null_key_fails_loudly(spark, tmp_path):
    """ADVICE r14 (medium): a null bucket key must fail the write, not
    silently route the row to a garbage __sb dir."""
    register_arrowipc(spark)
    df = spark.createDataFrame(
        [(1, 1), (None, 2)], "vec_id long, v long")
    with pytest.raises(Exception, match="null"):
        (df.write.format("arrowipc").option("bucketBy", "vec_id")
         .option("buckets", "4").mode("append")
         .save(str(tmp_path / "nulls")))
