"""Property-based round-trip tests for the arrowipc data source: for
arbitrary (null-sprinkled, unicode, extreme-valued) rows, write→read is the
identity.  Complements the corpus round-trip tests in ``test_arrowipc.py``
with adversarial values the test tables don't contain."""

from __future__ import annotations

import datetime
import math
import uuid

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bossarrowstorageengine_spark.sources import register_arrowipc

_SCHEMA = ("id long, label string, score double, "
           "emb array<float>, ts timestamp")

_ts = st.datetimes(
    min_value=datetime.datetime(1970, 1, 2),
    max_value=datetime.datetime(2200, 1, 1),
).map(lambda d: d.replace(microsecond=(d.microsecond // 1) or 0))

_row = st.tuples(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.one_of(st.none(), st.text(max_size=40)),           # unicode incl. ''
    st.one_of(st.none(),
              st.floats(allow_nan=False, allow_infinity=True, width=64)),
    st.one_of(st.none(),
              st.lists(st.floats(allow_nan=False, allow_infinity=False,
                                 width=32), max_size=8)),
    st.one_of(st.none(), _ts),
)


def _canon(rows):
    out = []
    for r in sorted(rows, key=lambda r: (r[0], str(r[1]))):
        emb = None if r[3] is None else tuple(r[3])
        out.append((r[0], r[1], r[2], emb, r[4]))
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=30), codec=st.sampled_from(
    ["zstd", "lz4", "none"]))
def test_roundtrip_identity_arbitrary_rows(spark, rows, codec):
    register_arrowipc(spark)
    df = spark.createDataFrame(rows, _SCHEMA)
    out = f"/tmp/spark_graft_test/prop_{uuid.uuid4().hex}"
    df.coalesce(1).write.format("arrowipc") \
        .option("compression", codec).mode("append").save(out)
    back = spark.read.format("arrowipc").load(out)
    assert back.schema == df.schema
    got = _canon([tuple(r) for r in back.collect()])
    want = _canon([tuple(r) for r in df.collect()])
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(_row, min_size=1, max_size=30))
def test_roundtrip_identity_stream_encoding(spark, rows):
    """Same identity property through the sequential (stream) IPC encoding
    with a dictionary-encoded string column."""
    register_arrowipc(spark)
    df = spark.createDataFrame(rows, _SCHEMA)
    out = f"/tmp/spark_graft_test/prop_{uuid.uuid4().hex}"
    df.coalesce(1).write.format("arrowipc") \
        .option("ipcFormat", "stream").option("dictionary", "label") \
        .mode("append").save(out)
    back = spark.read.format("arrowipc").load(out)
    assert back.schema == df.schema
    got = _canon([tuple(r) for r in back.collect()])
    want = _canon([tuple(r) for r in df.collect()])
    assert got == want


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lo=st.integers(min_value=-5, max_value=30),
       hi=st.integers(min_value=-5, max_value=30),
       n_parts=st.integers(min_value=1, max_value=4))
def test_cow_delete_equals_filter(spark, lo, hi, n_parts):
    """For arbitrary range predicates and file layouts, copy-on-write
    DELETE followed by a read equals filtering the original — including
    empty-match and delete-everything extremes."""
    from pyspark.sql import functions as F

    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    register_arrowipc(spark)
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_regionkey")
    nat.repartition(n_parts).write.format("arrowipc").mode("append").save(out)
    pred = f"n_nationkey >= {min(lo, hi)} AND n_nationkey <= {max(lo, hi)}"
    info = delete_arrowipc(spark, out, pred)
    assert info["rows_deleted"] == nat.filter(pred).count()
    back = spark.read.format("arrowipc").load(out)
    assert sorted(r.n_nationkey for r in back.collect()) == \
        sorted(r.n_nationkey for r in nat.filter(f"NOT ({pred})").collect())
    import shutil

    shutil.rmtree(out, ignore_errors=True)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lo=st.integers(min_value=-5, max_value=30),
       delta=st.integers(min_value=-100, max_value=100),
       n_parts=st.integers(min_value=1, max_value=3))
def test_cow_update_equals_projection(spark, lo, delta, n_parts):
    """For arbitrary predicates and assignment deltas, copy-on-write UPDATE
    followed by a read equals the equivalent SELECT projection of the
    original (simultaneous-assignment semantics included: the two
    assignments read each other's PRE-update values)."""
    from pyspark.sql import functions as F

    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.sources.maintenance import update_arrowipc

    register_arrowipc(spark)
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_regionkey")
    nat.repartition(n_parts).write.format("arrowipc").mode("append").save(out)
    pred = f"n_nationkey >= {lo}"
    update_arrowipc(spark, out, pred, {
        "n_nationkey": f"n_regionkey + {delta}",   # reads pre-update regionkey
        "n_regionkey": "n_nationkey",              # reads pre-update nationkey
    })
    back = spark.read.format("arrowipc").load(out)
    cond = F.expr(pred)
    expect = nat.select(
        F.when(cond, F.col("n_regionkey") + delta)
         .otherwise(F.col("n_nationkey")).alias("a"),
        F.when(cond, F.col("n_nationkey"))
         .otherwise(F.col("n_regionkey")).alias("b"),
    )
    got = sorted((r.n_nationkey, r.n_regionkey) for r in back.collect())
    want = sorted((r.a, r.b) for r in expect.collect())
    assert got == want
    import shutil

    shutil.rmtree(out, ignore_errors=True)


@settings(max_examples=25, deadline=None)
@given(ops=st.lists(
    st.one_of(
        # append 1-3 new files
        st.tuples(st.just("append"), st.integers(min_value=1, max_value=3)),
        # replace with 1-2 new files
        st.tuples(st.just("replace"), st.integers(min_value=1, max_value=2)),
        # CoW-style: remove a pseudo-random half of the visible set, add 1
        st.tuples(st.just("rewrite"), st.integers(min_value=0, max_value=7)),
    ),
    min_size=1, max_size=40,
))
def test_manifest_delta_log_reconstructs_every_version(tmp_path_factory, ops):
    """Model-based check of the delta-log commit protocol: an arbitrary
    sequence of append / replace / CoW-rewrite commits must reconstruct the
    exact visible set at EVERY version, across checkpoint boundaries, and
    stay reconstructable for retained versions after vacuum."""
    import os

    from bossarrowstorageengine_spark.sources import arrowipc as a
    from bossarrowstorageengine_spark.sources.maintenance import vacuum_arrowipc

    path = str(tmp_path_factory.mktemp("tbl"))
    model: list[set[str]] = []   # model[v-1] = visible basenames at version v
    serial = 0

    def new_files(k):
        nonlocal serial
        out = []
        for _ in range(k):
            name = f"f{serial:04d}.arrows"
            serial += 1
            open(os.path.join(path, name), "w").close()
            out.append(os.path.join(path, name))
        return out

    for op, arg in ops:
        prev = model[-1] if model else set()
        if op == "append":
            add = new_files(arg)
            a._write_manifest(path, add, replace=False)
            model.append(prev | {os.path.basename(p) for p in add})
        elif op == "replace":
            add = new_files(arg)
            a._write_manifest(path, add, replace=True)
            model.append({os.path.basename(p) for p in add})
        else:  # rewrite: remove a deterministic subset, add one file
            victims = sorted(prev)[::2][:max(arg, 0)]
            add = new_files(1)
            a._write_manifest(
                path, add, replace=False,
                remove=[os.path.join(path, v) for v in victims])
            model.append((prev - set(victims))
                         | {os.path.basename(p) for p in add})

    versions = a._manifest_versions(path)
    assert versions == list(range(1, len(model) + 1))
    for v in versions:
        got = {os.path.basename(p) for p in a._read_manifest(path, v)}
        assert got == model[v - 1], f"version {v} mismatch"

    # vacuum to the last 2: retained versions must still reconstruct
    if len(versions) > 2:
        vacuum_arrowipc(path, keep_versions=2)
        for v in versions[-2:]:
            got = {os.path.basename(p) for p in a._read_manifest(path, v)}
            assert got == model[v - 1], f"post-vacuum version {v} mismatch"


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lo=st.integers(min_value=-5, max_value=30),
       delta=st.integers(min_value=0, max_value=4),
       n_parts=st.integers(min_value=1, max_value=3))
def test_partitioned_cow_update_equals_projection_and_placement(
        spark, lo, delta, n_parts):
    """On a Hive-partitioned snapshotted table, a CoW UPDATE that changes
    the partition column must (a) equal the SELECT projection of the
    original and (b) physically place EVERY row under the directory of
    its current partition value — migrated rows included."""
    from pyspark.sql import functions as F

    from bossarrowstorageengine_spark.catalog import load_table
    from bossarrowstorageengine_spark.sources.maintenance import update_arrowipc

    register_arrowipc(spark)
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_regionkey")
    (nat.repartition(n_parts).write.format("arrowipc")
     .option("partitionBy", "n_regionkey")
     .mode("append").save(out))
    pred = f"n_nationkey >= {lo}"
    update_arrowipc(spark, out, pred,
                    {"n_regionkey": f"pmod(n_regionkey + {delta}, 5)"})

    back = (spark.read.format("arrowipc")
            .option("filenameColumn", "_file").load(out))
    rows = back.collect()
    cond = F.expr(pred)
    expect = nat.select(
        "n_nationkey",
        F.when(cond, F.pmod(F.col("n_regionkey") + delta, F.lit(5)))
         .otherwise(F.col("n_regionkey")).alias("n_regionkey"))
    got = sorted((r.n_nationkey, r.n_regionkey) for r in rows)
    want = sorted((r.n_nationkey, r.n_regionkey) for r in expect.collect())
    assert got == want
    for r in rows:
        assert f"n_regionkey={r.n_regionkey}" in r._file, (
            f"row {r.n_nationkey} (regionkey {r.n_regionkey}) placed at "
            f"{r._file}")
    import shutil

    shutil.rmtree(out, ignore_errors=True)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.data(),
    n_commits=st.integers(min_value=1, max_value=5),
)
def test_feed_compact_content_invariant_arbitrary_histories(
        spark, data, n_commits):
    """compact_feed_thru is content-invariant for ARBITRARY commit
    histories and thru positions: whatever rows each commit carries,
    however commits were batched into write jobs, and wherever ``thru``
    falls (including past the head and before the tail), the visible
    (commit_seq, payload) multiset after any CHAIN of compactions equals
    the original — and re-absorption keeps at most one checkpoint plus
    the uncompacted tail."""
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )

    register_arrowipc(spark)
    rows = []
    for seq in range(1, n_commits + 1):
        n = data.draw(st.integers(min_value=1, max_value=6),
                      label=f"rows_c{seq}")
        for i in range(n):
            rows.append((seq * 1000 + i, data.draw(
                st.integers(min_value=-10**9, max_value=10**9),
                label=f"payload_c{seq}_{i}"), seq))
    thrus = data.draw(
        st.lists(st.integers(min_value=0, max_value=n_commits + 1),
                 min_size=1, max_size=3), label="thrus")

    feed = f"/tmp/spark_graft_test/feedprop_{uuid.uuid4().hex}"
    df = spark.createDataFrame(rows, "row_id long, payload long, "
                                     "commit_seq long")
    # arbitrary batching: each commit its own append (many manifest
    # versions) or everything in one job — both layouts must compact
    if data.draw(st.booleans(), label="batched"):
        (df.repartition(2).write.format("arrowipc")
         .option("partitionBy", "commit_seq")
         .mode("append").save(feed))
    else:
        for seq in range(1, n_commits + 1):
            (df.filter(f"commit_seq = {seq}").repartition(2)
             .write.format("arrowipc").option("partitionBy", "commit_seq")
             .mode("append").save(feed))

    def visible():
        back = (spark.read.format("arrowipc")
                .schema("row_id long, payload long, commit_seq long")
                .load(feed))
        return sorted(map(tuple, back.collect()))

    want = visible()
    for thru in thrus:
        res = compact_feed_thru(spark, feed, thru=thru)
        assert visible() == want, f"content drifted at thru={thru}"
        assert res["files_after"] <= res["files_before"]
        if res["compacted"]:
            # everything <= thru now sits in exactly one checkpoint file
            import os

            cks = [dp for dp, _d, names in os.walk(feed)
                   if f"compacted_thru={thru}" in dp
                   and any(n.endswith(".arrows") for n in names)]
            assert cks, f"no checkpoint dir for thru={thru}"


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_ann_index_lsm_matches_dict_replay(spark, data):
    """The LSM index (streaming.ann_index) must equal a plain dict
    replay of the same mutation stream for ARBITRARY upsert/delete
    sequences — including deletes of absent keys, re-inserts after
    delete, and repeated rebucketing — with major compactions
    interleaved at arbitrary absorbed positions."""
    from bossarrowstorageengine_spark.streaming.ann_index import (
        apply_index_batch,
        compact_index,
        read_index,
        seed_index,
    )

    register_arrowipc(spark)
    n_base = data.draw(st.integers(min_value=1, max_value=8), label="base")
    n_commits = data.draw(st.integers(min_value=1, max_value=4),
                          label="commits")
    idx = f"/tmp/spark_graft_test/lsmprop_{uuid.uuid4().hex}"

    model = {v: v % 3 for v in range(n_base)}
    seed_index(idx, spark.createDataFrame(
        [(v, b) for v, b in model.items()], "vec_id long, bucket int"))

    applied = 0
    for seq in range(1, n_commits + 1):
        n_ops = data.draw(st.integers(min_value=1, max_value=5),
                          label=f"ops_c{seq}")
        seen: set[int] = set()
        rows = []
        for i in range(n_ops):
            vec = data.draw(st.integers(min_value=0, max_value=11),
                            label=f"vec_c{seq}_{i}")
            if vec in seen:  # one change per vec per commit (feed shape)
                continue
            seen.add(vec)
            if data.draw(st.booleans(), label=f"del_c{seq}_{i}"):
                rows.append((vec, None, "delete", seq))
                model.pop(vec, None)
            else:
                b = data.draw(st.integers(min_value=0, max_value=9),
                              label=f"b_c{seq}_{i}")
                rows.append((vec, b, "insert", seq))
                model[vec] = b
        batch = spark.createDataFrame(
            rows, "vec_id long, bucket int, change string, "
                  "commit_seq long")
        apply_index_batch(batch, seq, idx)
        applied = seq
        if data.draw(st.booleans(), label=f"compact_after_{seq}"):
            compact_index(spark, idx, thru=data.draw(
                st.integers(min_value=0, max_value=applied),
                label=f"thru_{seq}"))
        got = dict(read_index(spark, idx).collect())
        assert got == model, f"diverged after commit {seq}"
