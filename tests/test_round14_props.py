"""Round-14 property tests.

Covers the round's doc-drift tripwire (VERDICT r13 item 7: README's query
count sat at 283 while the registry was 285 — now it cannot drift, the same
mechanism that pinned SURVEY's total line in round 12) plus the round's new
operator keys as they land.
"""

from __future__ import annotations

import re
from pathlib import Path

import pyspark.sql.functions as F

from bossarrowstorageengine_spark.operators import QUERIES

REPO = Path(__file__).resolve().parents[1]
SF = "/root/testdata/sf0.001"


def test_readme_query_count_matches_registry():
    """README.md's operators/ blurb states the declared-query count; it
    must equal the live registry (VERDICT r13 'What's wrong' item 1)."""
    text = (REPO / "README.md").read_text()
    m = re.search(r"the declared query surface \((\d+) queries", text)
    assert m, "README.md query-count line missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"README.md says {m.group(1)} queries; registry has "
        f"{len(QUERIES)} — update the README operators/ line"
    )


# ---------------------------------------------------------------------------
# ADVICE r13: arrowipc stream-reader hardening
# ---------------------------------------------------------------------------


def _snap_ids(spark, table, lo, hi):
    import pyspark.sql.functions as F

    df = spark.range(lo, hi).select(
        "id", (F.col("id") % 2).cast("string").alias("grp"))
    (df.coalesce(1).write.format("arrowipc")
     .mode("append").save(table))


def test_starting_version_past_head_rejected(spark, tmp_path):
    """startingVersion beyond head+1 fails at reader construction with an
    error naming the option and the head — not inside the first planned
    batch with a missing-manifest message (ADVICE r13)."""
    import pytest
    from pyspark.sql.types import StructType

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamReader)

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    _snap_ids(spark, table, 0, 4)   # head = v1
    schema = StructType.fromDDL("id bigint, grp string")
    with pytest.raises(ValueError, match="past the table head"):
        ArrowIPCStreamReader(schema, {"path": table, "startingVersion": "3"})
    # head+1 is the documented snapshot-then-follow anchor — still valid
    r = ArrowIPCStreamReader(schema, {"path": table, "startingVersion": "2"})
    assert r.initialOffset() == {"v": 1}


def test_starting_version_vacuumed_baseline_rejected(spark, tmp_path):
    """startingVersion whose baseline manifest (version N-1) was vacuumed
    fails at construction with the oldest retained version named, instead
    of a FileNotFoundError from the first batch's baseline read."""
    import pytest
    from pyspark.sql.types import StructType

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamReader, _manifest_versions)
    from bossarrowstorageengine_spark.sources.maintenance import (
        vacuum_arrowipc)

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    _snap_ids(spark, table, 0, 3)    # v1
    _snap_ids(spark, table, 3, 6)    # v2
    _snap_ids(spark, table, 6, 9)    # v3
    vacuum_arrowipc(table, keep_versions=1)
    vs = _manifest_versions(table)
    assert vs == [3]
    schema = StructType.fromDDL("id bigint, grp string")
    with pytest.raises(ValueError, match="vacuumed"):
        ArrowIPCStreamReader(schema, {"path": table, "startingVersion": "3"})
    # anchor at head+1 never needs the dropped baselines
    r = ArrowIPCStreamReader(schema, {"path": table, "startingVersion": "4"})
    assert r.initialOffset() == {"v": 3}


def test_starting_timestamp_non_monotonic_commits(spark, tmp_path):
    """A commit-time DIP (recorded ts mixed with mtime fallback, or clock
    skew) cannot skip a qualifying commit: resolution canonicalizes
    monotonicity with a running max (the Delta rule), so the anchor is
    the earliest version whose effective time reaches it and every later
    version is delivered regardless of its raw ts (ADVICE r13)."""
    import json

    from pyspark.sql.types import StructType

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamReader, _manifest_file)

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    _snap_ids(spark, table, 0, 3)    # v1
    _snap_ids(spark, table, 3, 6)    # v2
    _snap_ids(spark, table, 6, 9)    # v3
    # Force a non-monotonic recorded sequence: 100, 50 (dip), 200.
    for v, ts in ((1, 100.0), (2, 50.0), (3, 200.0)):
        mf = _manifest_file(table, v)
        doc = json.loads(open(mf).read())
        doc["ts"] = ts
        with open(mf, "w") as f:
            json.dump(doc, f)
    schema = StructType.fromDDL("id bigint, grp string")
    # anchor=60: v1's effective ts (100) already qualifies → tail starts
    # at v1 and the dipped v2 rides along (initialOffset is exclusive).
    r = ArrowIPCStreamReader(schema, {"path": table,
                                      "startingTimestamp": "60"})
    assert r.initialOffset() == {"v": 0}
    # anchor=150: effective times are 100, 100, 200 → v3.
    r = ArrowIPCStreamReader(schema, {"path": table,
                                      "startingTimestamp": "150"})
    assert r.initialOffset() == {"v": 2}


def test_skip_change_commits_mixed_commit_fails(spark, tmp_path):
    """skipChangeCommits must FAIL on a mixed commit — one that rewrites
    files AND inserted new logical rows (MERGE with a not-matched arm) —
    instead of silently dropping the inserts; pure rewrites (compaction,
    insert-free MERGE) still skip silently (ADVICE r13)."""
    import json

    import pytest
    from pyspark.sql.types import StructType

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamReader, _load_manifest_doc, _manifest_versions)
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc, merge_arrowipc)

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    _snap_ids(spark, table, 0, 4)    # v1
    _snap_ids(spark, table, 4, 8)    # v2

    # v3: compaction — a pure rewrite, hint False, skipped silently.
    compact_arrowipc(spark, table, target_files=1)
    assert _load_manifest_doc(table, 3)["adds_new_rows"] is False

    schema = StructType.fromDDL("id bigint, grp string")
    reader = ArrowIPCStreamReader(
        schema, {"path": table, "skipChangeCommits": "true"})
    head = _manifest_versions(table)[-1]
    files = reader._added_files(0, head)
    # v1+v2 adds delivered once; the compaction contributed nothing.
    assert len(files) == 2

    # v4: MERGE updating id=0 and inserting id=100 — a MIXED commit.
    src = spark.createDataFrame(
        [(0, "x"), (100, "y")], "id bigint, grp string")
    res = merge_arrowipc(spark, table, src, key="id")
    assert res["rows_inserted"] == 1
    head = _manifest_versions(table)[-1]
    assert _load_manifest_doc(table, head)["adds_new_rows"] is True
    with pytest.raises(ValueError, match="adds_new_rows"):
        reader._added_files(0, head)

    # Legacy manifests (no hint) keep the documented skip contract.
    mf_doc = _load_manifest_doc(table, head)
    del mf_doc["adds_new_rows"]
    from bossarrowstorageengine_spark.sources.arrowipc import _manifest_file

    with open(_manifest_file(table, head), "w") as f:
        json.dump(mf_doc, f)
    assert len(reader._added_files(0, head)) >= 2   # skipped, no raise


def test_ann_ivf_maintained_properties(spark):
    """q_ann_ivf_maintained (round-14 runway item 2; generation axis
    unified on the pointer machinery in r16).  Pins, beyond the EXACT
    oracle:
    - all four attestations true (consistent index, fired re-train
      trigger, complete generation 1, vacuumed gen-0 dir) — the
      in-key exceptAll/checksum audit covers the maintained-state
      semantics the pre-r16 test re-derived from the gen-0 dir, which
      the key now retires via ``vacuum_generations`` by design;
    - the pointer landed on generation 1 with ``trained_thru=2``
      (both delta segments absorbed before the roll);
    - gen-0's directory is GONE (vacuumed), gen-1 is readable through
      ``read_index_generation`` with full head-corpus coverage
      (deletes applied: every vec_id % 5 == 0 absent);
    - the O(Δ) discipline: the feed is mutation-sized, never
      corpus-sized."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT
    from bossarrowstorageengine_spark.streaming.ann_index import (
        current_generation, generation_dir, read_index_generation)

    rows = QUERIES["q_ann_ivf_maintained"](spark, SF).collect()
    assert rows
    assert all(r.index_consistent and r.retrain_due and r.gen1_trained
               and r.vacuumed for r in rows)
    assert all(r.generation == 0 for r in rows)   # pinned pre-roll read
    # per-probe top-3, probes 1/2/3
    assert sorted({r.probe_id for r in rows}) == [1, 2, 3]
    assert all(1 <= r.rn <= 3 for r in rows)

    base = os.path.join(_SCRATCH_ROOT, os.path.basename(SF),
                        "ann_ivf_maint")
    idx_root, feed = os.path.join(base, "idx_gens"), os.path.join(
        base, "feed")
    # pointer: rolled to gen 1, trained through both delta commits
    assert current_generation(idx_root) == {"generation": 1,
                                            "trained_thru": 2}
    # gen-0 retired by the in-key vacuum; gen-1 readable via the pointer
    assert not os.path.exists(generation_dir(idx_root, 0))
    gen_no, gen1 = read_index_generation(spark, idx_root)
    assert gen_no == 1
    g1 = {r.vec_id for r in gen1.collect()}
    v1_ids = {r.vec_id for r in
              (spark.read.format("arrowipc").option("version", "1")
               .schema("vec_id long, embedding array<float>")
               .load(os.path.join(base, "src"))
               .select("vec_id").collect())}
    # full head coverage: exactly the delete-surviving v1 corpus
    assert g1 == {v for v in v1_ids if v % 5 != 0}
    # O(Δ): feed is mutation-sized, never corpus-sized
    n_feed = (spark.read.format("arrowipc")
              .schema("vec_id long, bucket int, change string,"
                      " commit_seq long").load(feed).count())
    assert 0 < n_feed < len(v1_ids)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketby_write_and_grouped_read_roundtrip(spark, tmp_path):
    """arrowipc bucketBy layout (round-14 runway item 2d): rows land
    under synthetic __sb=<key % buckets> dirs, the __sb value is NOT a
    data column, a groupByBucket read returns the identical row set, and
    an unbucketed file poisons the grouped read loudly."""
    import os

    import pytest

    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("vec_id"), (F.col("id") % 7).alias("v"))
    (df.repartition(4).write.format("arrowipc")
     .option("bucketBy", "vec_id").option("buckets", "8")
     .mode("append").save(table))
    sb_dirs = sorted(d for d in os.listdir(table) if d.startswith("__sb="))
    assert sb_dirs == [f"__sb={i}" for i in range(8)]

    back = (spark.read.format("arrowipc")
            .schema("vec_id long, v long").load(table))
    assert back.columns == ["vec_id", "v"]          # __sb never surfaces
    assert sorted((r.vec_id, r.v) for r in back.collect()) == \
        [(i, i % 7) for i in range(100)]

    grouped = (spark.read.format("arrowipc")
               .option("groupByBucket", "true")
               .schema("vec_id long, v long").load(table))
    assert sorted((r.vec_id, r.v) for r in grouped.collect()) == \
        [(i, i % 7) for i in range(100)]
    # every bucket's keys co-locate: vec_id % 8 constant per partition
    parts = grouped.select("vec_id").rdd.glom().collect()
    for p in parts:
        assert len({r.vec_id % 8 for r in p}) <= 1

    # a second bucketed write job (a delta segment) keeps co-location
    (spark.range(100, 120).select(
        F.col("id").alias("vec_id"),
        F.lit(99).cast("long").alias("v"))
     .write.format("arrowipc").option("bucketBy", "vec_id")
     .option("buckets", "8").mode("append").save(table))
    grouped2 = (spark.read.format("arrowipc")
                .option("groupByBucket", "true")
                .schema("vec_id long, v long").load(table))
    for p in grouped2.select("vec_id").rdd.glom().collect():
        assert len({r.vec_id % 8 for r in p}) <= 1

    # mixing in an unbucketed write fails the grouped read LOUDLY
    (spark.range(200, 205).select(
        F.col("id").alias("vec_id"),
        F.lit(0).cast("long").alias("v"))
     .write.format("arrowipc").mode("append").save(table))
    bad = (spark.read.format("arrowipc")
           .option("groupByBucket", "true")
           .schema("vec_id long, v long").load(table))
    with pytest.raises(Exception, match="not under a"):
        bad.collect()

    # bucketBy validation: non-integral key, and the stream sink
    with pytest.raises(Exception, match="integral"):
        (spark.createDataFrame([("a", 1)], "k string, v long")
         .write.format("arrowipc").option("bucketBy", "k")
         .mode("append").save(str(tmp_path / "bad")))


def test_bucketed_index_read_is_shuffle_free(spark, tmp_path):
    """The LSM index on a bucketed layout: read_index's last-wins merge
    plans NO Exchange (the groupByBucket + mapInPandas path), returns
    the identical state to the unbucketed window path, honors thru=
    time travel, survives compact_index with the layout preserved, and
    apply_index_batch inherits the layout for delta segments."""
    import os

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.streaming.ann_index import (
        _seg_high_water,
        apply_index_batch,
        compact_index,
        read_index,
        seed_index,
    )

    register_arrowipc(spark)
    base = spark.createDataFrame(
        [(i, i % 3) for i in range(40)], "vec_id long, bucket int")
    feed = spark.createDataFrame(
        [(1, 9, "rebucket", 1), (3, 9, "rebucket", 1),
         (5, None, "delete", 2), (1, None, "delete", 2),
         (41, 9, "insert", 2)],
        "vec_id long, bucket int, change string, commit_seq long")

    idx_b = str(tmp_path / "idx_bucketed")
    idx_p = str(tmp_path / "idx_plain")
    seed_index(idx_b, base, layout_buckets=4)
    seed_index(idx_p, base)
    apply_index_batch(feed, 0, idx_b)
    apply_index_batch(feed, 0, idx_p)

    want = {r.vec_id: r.bucket for r in read_index(spark, idx_p).collect()}
    got_df = read_index(spark, idx_b)
    got = {r.vec_id: r.bucket for r in got_df.collect()}
    assert got == want
    assert got[3] == 9 and 5 not in got and got[41] == 9

    plan = _plan(got_df)
    assert "Exchange" not in plan, plan      # the whole point
    assert "Exchange" in _plan(read_index(spark, idx_p))

    # segment-grain time travel on the bucketed path
    thru1 = {r.vec_id: r.bucket
             for r in read_index(spark, idx_b, thru=1).collect()}
    assert thru1[1] == 9 and thru1[5] == 5 % 3 and 41 not in thru1

    # delta segments inherited the layout (every seg dir is bucketed)
    for seg_dir in [d for d in os.listdir(idx_b) if d.startswith("seg=")]:
        subs = os.listdir(os.path.join(idx_b, seg_dir))
        assert any(s.startswith("__sb=") for s in subs), seg_dir

    # compaction preserves state, layout, and the high-water
    res = compact_index(spark, idx_b, thru=2)
    assert res["rows"] > 0
    assert {r.vec_id: r.bucket
            for r in read_index(spark, idx_b).collect()} == want
    assert _seg_high_water(idx_b) == 2
    assert "Exchange" not in _plan(read_index(spark, idx_b))


def test_timestamp_as_of_batch_time_travel(spark, tmp_path):
    """Batch time travel by wall-clock (round-15 runway item 4, pulled
    forward): timestampAsOf resolves to the newest version committed
    at-or-before the anchor — with the run-max monotonicity rule, so a
    ts dip can't mis-resolve — reads exactly like a pinned version, and
    the error arms (pre-first-commit anchor, version+ts both given,
    table without a manifest log) fail loudly."""
    import json
    import os

    import pyarrow as pa
    import pytest

    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_file)

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    _snap_ids(spark, table, 0, 3)    # v1
    _snap_ids(spark, table, 3, 6)    # v2
    _snap_ids(spark, table, 6, 9)    # v3
    # doctor commit times, with a dip at v2 (mtime-fallback scenario)
    for v, ts in ((1, 100.0), (2, 50.0), (3, 200.0)):
        doc = json.loads(open(_manifest_file(table, v)).read())
        doc["ts"] = ts
        with open(_manifest_file(table, v), "w") as f:
            json.dump(doc, f)

    def _ids(**opts):
        r = (spark.read.format("arrowipc")
             .schema("id bigint, grp string"))
        for k, v in opts.items():
            r = r.option(k, v)
        return sorted(x.id for x in r.load(table).collect())

    # anchor between v2's effective time (100, run-max) and v3's 200:
    # the newest at-or-before is v2 — the dip cannot push it back to v1
    assert _ids(timestampAsOf="150") == list(range(6))
    assert _ids(timestampAsOf="150") == _ids(version="2")
    # at exactly v3's time and beyond: the head
    assert _ids(timestampAsOf="200") == list(range(9))
    assert _ids(timestampAsOf="1e12") == list(range(9))
    # ISO-8601 form parses (far future → head)
    assert _ids(timestampAsOf="2099-01-01T00:00:00") == list(range(9))

    with pytest.raises(Exception, match="predates the first commit"):
        _ids(timestampAsOf="10")
    with pytest.raises(Exception, match="mutually exclusive"):
        _ids(timestampAsOf="150", version="1")
    plain = str(tmp_path / "plain")        # no manifest log: another tool
    os.makedirs(plain)
    table = pa.table({"id": pa.array([0, 1, 2], pa.int64())})
    with pa.OSFile(os.path.join(plain, "ext-0.arrows"), "wb") as f, \
            pa.ipc.new_file(f, table.schema) as w:
        w.write_table(table)
    with pytest.raises(Exception, match="snapshotted"):
        (spark.read.format("arrowipc").schema("id bigint")
         .option("timestampAsOf", "100").load(plain).collect())


def test_feed_consumer_groups_properties(spark):
    """q_feed_consumer_groups (round-14 runway item 2e): two named
    consumers over one feed with durable positions.  Beyond the EXACT
    oracle: all five attestations true; the offsets table is an
    ORDINARY arrowipc table whose audit history shows the whole story
    (registrations, commits, the refused regression absent, the
    explicit rewind as an op='seek' row); unregistered groups don't
    appear in the lag report; seek validates its position."""
    import os

    import pytest

    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT
    from bossarrowstorageengine_spark.sources.feed_consume import (
        OFFSETS_SCHEMA,
        committed_position,
        consumer_lag,
        seek,
    )

    rows = QUERIES["q_feed_consumer_groups"](spark, SF).collect()
    assert rows and len(rows) == 10      # 2 groups × 5 langs
    assert all(r.independent_positions and r.lag_report_correct
               and r.exactly_once_reapply and r.regression_guarded
               and r.seek_replay_converges for r in rows)
    assert all(r.position == 2 and r.head == 2 and r.lag == 0
               for r in rows)

    base = os.path.join(_SCRATCH_ROOT, os.path.basename(SF),
                        "consumer_groups")
    offsets = os.path.join(base, "offsets")
    feed = os.path.join(base, "feed")

    # the offsets table reads back as a plain arrowipc table — the
    # audit log: slow = register(seek 0), commit 1, rewind(seek 0),
    # commit 2; fast = register, commit 2 (the refused regression
    # never landed a row)
    audit = (spark.read.format("arrowipc")
             .schema(OFFSETS_SCHEMA).load(offsets)
             .orderBy("seq").collect())
    slow_ops = [(r.op, r.position) for r in audit if r.group == "slow"]
    fast_ops = [(r.op, r.position) for r in audit if r.group == "fast"]
    assert slow_ops == [("seek", 0), ("commit", 1), ("seek", 0),
                        ("commit", 2)]
    assert fast_ops == [("seek", 0), ("commit", 2)]
    assert [r.seq for r in audit] == sorted({r.seq for r in audit})

    # lag report: only registered groups; a new registration appears
    lag = {r.group: r.lag for r in
           consumer_lag(spark, feed, offsets).collect()}
    assert set(lag) == {"fast", "slow"}
    seek(spark, offsets, "audit-team", 0)
    lag2 = {r.group: (r.position, r.lag) for r in
            consumer_lag(spark, feed, offsets).collect()}
    assert lag2["audit-team"] == (0, 2)
    assert committed_position(spark, offsets, "audit-team") == 0
    with pytest.raises(ValueError, match=">= 0"):
        seek(spark, offsets, "audit-team", -1)


def test_purge_derived_properties(spark):
    """q_purge_derived (round-14 runway item 2c): the purge reaches the
    two derived artifacts that lacked RTBF faces.  Pins beyond the EXACT
    oracle: all audits true, the purge actually bit (purged docs existed
    and are gone from the persisted pack map), the CoW rewrite touched
    only affected-shard files, and the version tags line up."""
    import os

    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT
    from bossarrowstorageengine_spark.operators.training_data import (
        _PURGE_DERIVED_PRED)

    rows = QUERIES["q_purge_derived"](spark, SF).collect()
    assert rows
    assert all(r.pack_purged and r.pack_matches_scratch
               and r.untouched_preserved and r.fanout_consistent
               and r.fanout_rollup_holds for r in rows)
    assert all(r.src_purge_version == 2 and r.feed_purge_commit == 1
               and r.pack_purge_version == 2 and r.mv_purge_version == 2
               for r in rows)
    arts = {r.artifact for r in rows}
    assert arts == {"pack", "mv_lang", "mv_lang_source"}

    base = os.path.join(_SCRATCH_ROOT, os.path.basename(SF),
                        "purge_derived")
    pack = (spark.read.format("arrowipc")
            .option("columns", "bucket,doc_id")
            .schema("bucket int, doc_id long")
            .load(os.path.join(base, "pack")))
    purged = (spark.read.format("arrowipc").option("version", "1")
              .option("columns", "doc_id").schema("doc_id long")
              .load(os.path.join(base, "src"))
              .filter(_PURGE_DERIVED_PRED))
    n_purged = purged.count()
    assert n_purged > 0                       # the purge bit something
    assert pack.join(purged, "doc_id", "semi").count() == 0
    # head pack shrank by exactly the purged docs
    assert pack.count() == (
        spark.read.format("arrowipc").option("version", "1")
        .option("columns", "doc_id").schema("doc_id long")
        .load(os.path.join(base, "pack")).count() - n_purged)


def test_purge_text_audit_reads_persisted_table(spark):
    """q_purge_text's membership audit now attests the PERSISTED cluster
    table (ADVICE r13: the old in-plan check was vacuous).  Pin both
    arms: the real run persists a table and the audit passes; the same
    audit on a table with a planted purged member FAILS."""
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _no_purged_members)
    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT

    rows = QUERIES["q_purge_text"](spark, SF).collect()
    assert rows and all(r.no_purged_members for r in rows)
    assert all(r.df_incremental_matches for r in rows)

    # The persisted survivor table exists and is what the audit read.
    import os

    out_dir = os.path.join(
        _SCRATCH_ROOT, os.path.basename(SF), "purge_text", "clusters")
    surv = spark.read.parquet(out_dir)
    purged = spark.createDataFrame(
        [(int(r.cluster_id),) for r in rows if r.keeper_changed],
        "doc_id bigint")
    assert purged.count() > 0            # handoffs occurred (non-vacuous)
    assert _no_purged_members(surv, purged)

    # Negative arm: plant a purged member into a copy of the table —
    # the audit must flip.  This is the failure the old check could
    # never express.
    planted = surv.unionByName(
        purged.limit(1).select(
            F.col("doc_id"),
            *[F.lit(None).cast(surv.schema[c].dataType).alias(c)
              for c in surv.columns if c != "doc_id"]).select(surv.columns))
    assert not _no_purged_members(planted, purged)


def test_update_delete_commits_record_no_new_rows(spark, tmp_path):
    """UPDATE and DELETE are pure rewrites: their commits carry
    adds_new_rows=false, so skipChangeCommits streams sail through."""
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _load_manifest_doc, _manifest_versions)
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc, update_arrowipc)

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    _snap_ids(spark, table, 0, 6)    # v1
    update_arrowipc(spark, table, "id = 1", {"grp": "'z'"})
    delete_arrowipc(spark, table, "id = 2")
    vs = _manifest_versions(table)
    assert len(vs) == 3
    for v in vs[1:]:
        assert _load_manifest_doc(table, v)["adds_new_rows"] is False
    # the plain append (v1) records no hint — nothing was removed
    assert "adds_new_rows" not in _load_manifest_doc(table, vs[0])


def test_consumer_group_driven_maintainers(spark, tmp_path):
    """consume_and_apply (round-15 runway item 3, pulled forward at the
    harness level): DIFFERENT maintainers of one feed — the fine- and
    coarse-grain fanout ledgers — each run as a named consumer group
    over ONE shared offsets table, so a single consumer_lag call
    reports every derived artifact's backlog.  The crash window
    (apply succeeded, position commit lost) re-delivers on the next
    cycle and the sink ledger makes the re-apply a no-op — position
    catches up, state unchanged."""
    import os
    import uuid as _uuid

    from bossarrowstorageengine_spark.operators.scans import _SCRATCH_ROOT
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.feed_consume import (
        consume_and_apply,
        consume_next,
        consumer_lag,
        seek,
    )
    from bossarrowstorageengine_spark.streaming.mv_maintain import (
        _grain_head,
        apply_fanout_batch,
        seed_mv_fanout,
    )

    register_arrowipc(spark)
    # the batch fanout key builds the source+source-carrying feed fixture
    QUERIES["q_mv_fanout"](spark, SF).collect()
    fixture = os.path.join(_SCRATCH_ROOT, os.path.basename(SF),
                           "mv_fanout")
    src, feed = os.path.join(fixture, "src"), os.path.join(fixture, "feed")
    base = f"/tmp/spark_graft_stream/{_uuid.uuid4().hex}"
    offsets = os.path.join(base, "offsets")
    fine = (os.path.join(base, "mv_fine"), ["lang", "source"])
    coarse = (os.path.join(base, "mv_coarse"), ["lang"])

    base_fine = (spark.read.format("arrowipc").option("version", "1")
                 .option("columns", "lang,source,n_chars")
                 .schema("lang string, source string, n_chars long")
                 .load(src)
                 .groupBy("lang", "source").agg(
                     F.count(F.lit(1)).alias("docs"),
                     F.sum("n_chars").alias("chars")))
    seed_mv_fanout([fine, coarse], base_fine)
    cols = "lang,source,change,delta,commit_seq"
    schema = ("lang string, source string, change string, delta long, "
              "commit_seq long")

    for g in ("mv-fine", "mv-coarse"):
        seek(spark, offsets, g, 0)

    # cycle 1: each maintainer refreshes as its own group
    r1 = consume_and_apply(spark, feed, offsets, "mv-fine", cols, schema,
                           lambda df: apply_fanout_batch(df, 0, [fine]))
    assert r1 == {"from": 0, "to": 2, "delivered_commits": 2}
    # ONE lag call sees both artifacts' backlogs mid-flight
    lag = {r.group: r.lag for r in
           consumer_lag(spark, feed, offsets).collect()}
    assert lag == {"mv-fine": 0, "mv-coarse": 2}
    consume_and_apply(spark, feed, offsets, "mv-coarse", cols, schema,
                      lambda df: apply_fanout_batch(df, 0, [coarse]))

    # crash window: fine's NEXT refresh applies but loses the position
    # commit — simulate by applying a redelivery directly (ledger
    # no-ops), then running the normal cycle: nothing re-applies,
    # nothing delivered, state identical
    rows, _, _ = consume_next(spark, feed, offsets, "mv-fine", cols,
                              schema)
    head_rows, head_ver, _ = _grain_head(spark, fine[0], fine[1])
    r2 = consume_and_apply(spark, feed, offsets, "mv-fine", cols, schema,
                           lambda df: apply_fanout_batch(df, 1, [fine]))
    assert r2["delivered_commits"] == 0
    _, ver_after, _ = _grain_head(spark, fine[0], fine[1])
    assert ver_after == head_ver                  # no spurious version
    lag2 = {r.group: r.lag for r in
            consumer_lag(spark, feed, offsets).collect()}
    assert lag2 == {"mv-fine": 0, "mv-coarse": 0}
