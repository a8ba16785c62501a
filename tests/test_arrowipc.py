"""Arrow IPC data source tests (SURVEY.md §5.3): round-trip identity per
codec, schema fidelity (arrays, timestamps), stats pruning, commit protocol."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.catalog import load_table
from bossarrowstorageengine_spark.sources import register_arrowipc
from bossarrowstorageengine_spark.sources.arrowipc import stats_path

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_arrowipc(spark)


def _tmpdir() -> str:
    path = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    os.makedirs(path, exist_ok=True)
    yield_path = path
    return yield_path


def _planned_files(reader) -> list[str]:
    """The part files a reader's plan touches (sorted), whatever the task
    shape: a planned task may read several packed files."""
    return sorted({f for p in reader.partitions() for f in p.paths})


def _inject_uncommitted_part(spark, table_dir: str, df) -> list[str]:
    """Simulate a concurrent appender that renamed its part file(s) into the
    table but has not (yet) committed a manifest: write ``df`` to a scratch
    plain directory and move the parts in by hand.  (A plain write into a
    manifest table would itself commit, per the sticky-snapshot rule.)"""
    scratch = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.write.format("arrowipc").mode("append").save(scratch)
    moved = []
    for p in sorted(glob.glob(os.path.join(scratch, "*.arrows"))):
        dst = os.path.join(table_dir, f"inflight-{uuid.uuid4().hex}.arrows")
        os.replace(p, dst)
        if os.path.exists(stats_path(p)):
            os.replace(stats_path(p), stats_path(dst))
        moved.append(dst)
    shutil.rmtree(scratch, ignore_errors=True)
    return moved


def _roundtrip(spark, df, **options):
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    try:
        w = df.write.format("arrowipc").mode("append")
        for k, v in options.items():
            w = w.option(k, v)
        w.save(out)
        back = spark.read.format("arrowipc").load(out)
        return back.toPandas(), back.schema, out
    finally:
        pass  # caller may inspect; cleaned by OS tmp


@pytest.mark.parametrize("codec", ["zstd", "lz4", "none"])
def test_roundtrip_identity_per_codec(spark, codec):
    df = load_table(spark, SF, "lineitem")
    pdf, schema, out = _roundtrip(spark, df, compression=codec)
    assert len(pdf) == df.count()
    assert schema == df.schema  # exact dtype fidelity incl. timestamp_ntz
    orig = df.agg(F.sum("l_extendedprice"), F.min("l_shipdate"), F.max("l_orderkey")).collect()
    back_df = spark.read.format("arrowipc").load(out)
    got = back_df.agg(F.sum("l_extendedprice"), F.min("l_shipdate"), F.max("l_orderkey")).collect()
    assert orig == got
    shutil.rmtree(out, ignore_errors=True)


def test_roundtrip_array_float_schema(spark):
    df = load_table(spark, SF, "embeddings")
    pdf, schema, out = _roundtrip(spark, df)
    assert schema == df.schema  # ArrayType(FloatType) preserved
    assert len(pdf) == 500
    # values preserved: compare L2 of first vector
    a = df.orderBy("vec_id").first().embedding
    b = spark.read.format("arrowipc").load(out).orderBy("vec_id").first().embedding
    assert a == b
    shutil.rmtree(out, ignore_errors=True)


def test_sidecar_stats_written(spark):
    df = load_table(spark, SF, "nation")
    _, _, out = _roundtrip(spark, df)
    parts = glob.glob(os.path.join(out, "*.arrows"))
    assert parts
    for p in parts:
        assert os.path.exists(stats_path(p)), "missing stats sidecar"
    import json

    stats = json.load(open(stats_path(parts[0])))
    assert "file" in stats and "batches" in stats
    assert stats["file"]["n_nationkey"][0] >= 0
    shutil.rmtree(out, ignore_errors=True)


def test_filter_results_correct_with_pruning(spark):
    """Filters that trigger stat-based skipping must not change results —
    pruning is an optimization, Spark re-applies every filter post-scan."""
    df = load_table(spark, SF, "orders").repartition(8)
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.write.format("arrowipc").mode("append").save(out)
    back = spark.read.format("arrowipc").load(out)
    for cond in ["o_orderkey = 17", "o_totalprice > 300000", "o_orderkey < 0"]:
        assert back.filter(cond).count() == df.filter(cond).count(), cond
    shutil.rmtree(out, ignore_errors=True)


def test_multi_partition_write_one_file_per_task(spark):
    df = load_table(spark, SF, "orders").repartition(4)
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.write.format("arrowipc").mode("append").save(out)
    parts = glob.glob(os.path.join(out, "*.arrows"))
    assert len(parts) == 4
    assert spark.read.format("arrowipc").load(out).count() == df.count()
    shutil.rmtree(out, ignore_errors=True)


def test_columns_projection_option(spark):
    df = load_table(spark, SF, "customer")
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.write.format("arrowipc").mode("append").save(out)
    pruned = (
        spark.read.format("arrowipc")
        .option("columns", "c_custkey,c_mktsegment")
        .load(out)
    )
    assert pruned.columns == ["c_custkey", "c_mktsegment"]
    assert pruned.count() == df.count()
    shutil.rmtree(out, ignore_errors=True)


def test_compression_actually_compresses(spark):
    df = load_table(spark, SF, "lineitem").coalesce(1)
    out_z = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    out_n = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.write.format("arrowipc").option("compression", "zstd").mode("append").save(out_z)
    df.write.format("arrowipc").option("compression", "none").mode("append").save(out_n)
    size_z = sum(os.path.getsize(p) for p in glob.glob(out_z + "/*.arrows"))
    size_n = sum(os.path.getsize(p) for p in glob.glob(out_n + "/*.arrows"))
    assert size_z < size_n * 0.8, (size_z, size_n)
    shutil.rmtree(out_z, ignore_errors=True)
    shutil.rmtree(out_n, ignore_errors=True)


def test_big_file_splits_into_batch_range_partitions(spark):
    """One IPC file with many record batches scans as several input
    partitions (batch-range splits) — the parallelism a single big file
    needs on a many-executor cluster — with identical results."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = load_table(spark, SF, "lineitem")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
        df.coalesce(1).write.format("arrowipc").mode("append").save(out)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(glob.glob(os.path.join(out, "*.arrows"))) == 1
    back = spark.read.format("arrowipc").option("batchesPerSplit", "8").load(out)
    n_rows = df.count()
    # ~ n_rows/100 batches chunked 8-per-split → many partitions
    assert back.rdd.getNumPartitions() >= (n_rows // 100) // 8
    assert back.count() == n_rows
    # round the double sum: summation order differs across partitionings
    agg = lambda d: d.agg(F.round(F.sum("l_extendedprice"), 2),
                          F.max("l_orderkey")).collect()
    assert agg(back) == agg(df)
    shutil.rmtree(out, ignore_errors=True)


def test_stream_read_incremental_micro_batches(spark):
    """readStream over an arrowipc directory: each newly-arrived file (named
    above the lexicographic high-water mark) lands in exactly one
    micro-batch; totals match the files pushed."""
    import pyarrow as pa

    src = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    os.makedirs(src, exist_ok=True)

    def push(name, ids):
        table = pa.table({"id": pa.array(ids, pa.int64())})
        tmp = os.path.join(src, f".{name}.tmp")
        with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, os.path.join(src, name))

    push("batch000.arrows", [1, 2, 3])
    sink = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        spark.readStream.format("arrowipc").load(src)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(sink).collect()) == [1, 2, 3]
        push("batch001.arrows", [4, 5])
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(sink).collect()) == [1, 2, 3, 4, 5]
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)


def test_stream_write_sink_appends_per_micro_batch(spark):
    """writeStream to arrowipc: each micro-batch lands as compressed IPC
    files (atomic rename, stats sidecars); the batch reader sees the union
    of all committed batches."""
    src = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}_out"
    ckpt = f"/tmp/spark_graft_test/{uuid.uuid4().hex}_ckpt"
    os.makedirs(src, exist_ok=True)

    def push_json(name, rows):
        import json as _json
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        os.replace(tmp, os.path.join(src, name))

    push_json("b0.json", [{"id": 1}, {"id": 2}])
    q = (
        spark.readStream.schema("id long").json(src)
        .writeStream.format("arrowipc")
        .option("compression", "zstd")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(processingTime="100 milliseconds")
        .start(out)
    )
    try:
        q.processAllAvailable()
        push_json("b1.json", [{"id": 3}])
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.format("arrowipc").load(out)
    assert sorted(r.id for r in back.collect()) == [1, 2, 3]
    # commit-scope naming: part-{batchId:010d}-{seq:05d}.arrows, strictly
    # monotonic across micro-batches (what the stream reader's
    # lexicographic high-water mark requires), no stale .staging leftovers
    import re

    names = sorted(os.path.basename(p)
                   for p in glob.glob(os.path.join(out, "*.arrows")))
    assert names and all(
        re.fullmatch(r"part-\d{10}-\d{5}\.arrows", n) for n in names)
    assert not glob.glob(os.path.join(out, ".staging", "*.arrows"))
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)


def test_read_missing_path_raises_cleanly(spark):
    with pytest.raises(Exception) as ei:
        spark.read.format("arrowipc").load("/tmp/definitely/not/there").count()
    assert "not found" in str(ei.value) or "PATH" in str(ei.value).upper()


# -- stream encoding + dictionary preservation ------------------------------


def test_stream_format_roundtrip(spark):
    """ipcFormat=stream writes sequential (footer-less) IPC; readers sniff
    the encoding per file and produce identical data."""
    df = load_table(spark, SF, "lineitem")
    pdf, schema, out = _roundtrip(spark, df, ipcFormat="stream")
    assert len(pdf) == df.count()
    assert schema == df.schema
    for p in glob.glob(os.path.join(out, "*.arrows")):
        with open(p, "rb") as f:
            assert f.read(6) != b"ARROW1", "stream file must not carry file-format magic"
    orig = df.agg(F.sum("l_extendedprice"), F.max("l_orderkey")).collect()
    got = spark.read.format("arrowipc").load(out).agg(
        F.sum("l_extendedprice"), F.max("l_orderkey")).collect()
    assert orig == got
    shutil.rmtree(out, ignore_errors=True)


def test_stream_dictionary_roundtrip(spark):
    """dictionary=cols encodes listed columns per batch on disk; the
    Spark-facing schema and values stay plain on read-back."""
    import pyarrow as pa

    df = load_table(spark, SF, "lineitem")
    pdf, schema, out = _roundtrip(
        spark, df, ipcFormat="stream", dictionary="l_returnflag,l_linestatus")
    assert schema == df.schema  # plain types, encoding is storage-only
    files = glob.glob(os.path.join(out, "*.arrows"))
    assert files
    with pa.OSFile(files[0], "rb") as f:
        disk_schema = pa.ipc.open_stream(f).schema
    assert pa.types.is_dictionary(disk_schema.field("l_returnflag").type)
    assert not pa.types.is_dictionary(disk_schema.field("l_orderkey").type)
    orig = df.groupBy("l_returnflag").count().collect()
    got = spark.read.format("arrowipc").load(out).groupBy("l_returnflag").count().collect()
    assert sorted(map(tuple, orig)) == sorted(map(tuple, got))
    shutil.rmtree(out, ignore_errors=True)


def test_dictionary_requires_stream_format(spark):
    df = load_table(spark, SF, "nation")
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    with pytest.raises(Exception) as ei:
        df.write.format("arrowipc").mode("append") \
            .option("dictionary", "n_name").save(out)
    assert "ipcFormat=stream" in str(ei.value)
    shutil.rmtree(out, ignore_errors=True)


def test_mixed_encoding_directory(spark):
    """A directory may mix file- and stream-encoded parts; the reader
    sniffs each file independently."""
    df = load_table(spark, SF, "nation")
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.write.format("arrowipc").mode("append").save(out)
    df.write.format("arrowipc").mode("append").option("ipcFormat", "stream").save(out)
    back = spark.read.format("arrowipc").load(out)
    assert back.count() == 2 * df.count()
    assert back.schema == df.schema
    shutil.rmtree(out, ignore_errors=True)


def test_stream_format_filter_pushdown_prunes_batches(spark):
    """Batch-level stat pruning applies while streaming past batches (file
    pruning drops whole stream files via the sidecar too)."""
    df = load_table(spark, SF, "orders")
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.repartition(4).write.format("arrowipc").mode("append") \
        .option("ipcFormat", "stream").save(out)
    back = spark.read.format("arrowipc").load(out)
    hi = df.agg(F.max("o_orderkey")).first()[0]
    got = back.filter(F.col("o_orderkey") > hi - 10).count()
    want = df.filter(F.col("o_orderkey") > hi - 10).count()
    assert got == want
    shutil.rmtree(out, ignore_errors=True)


# -- stats pruning details: timestamps, NaN, partition directories ----------


def test_timestamp_filter_prunes_files_and_batches(spark):
    """Sidecars store timestamps as epoch-µs ints, so a time-range filter
    skips whole files/batches at planning time (and results still match)."""
    import datetime as dt

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader, GreaterThan)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(hours=i)) for i in range(48)]
    df = spark.createDataFrame(rows, "id long, ts timestamp_ntz")
    # range-partition on ts → part files with disjoint time ranges
    df.repartitionByRange(4, "ts").write.format("arrowipc").mode("append").save(out)
    assert len(glob.glob(os.path.join(out, "*.arrows"))) == 4

    reader = ArrowIPCReader(None, {"path": out})
    n_all = len(_planned_files(reader))
    late = ArrowIPCReader(None, {"path": out})
    late.pushFilters([GreaterThan(("ts",), base + dt.timedelta(hours=40))])
    kept = _planned_files(late)
    assert 0 < len(kept) < n_all, (len(kept), n_all)

    back = spark.read.format("arrowipc").load(out)
    cond = F.col("ts") > F.lit(base + dt.timedelta(hours=40))
    assert back.filter(cond).count() == df.filter(cond).count() == 7
    shutil.rmtree(out, ignore_errors=True)


def test_nan_column_gets_no_stats_and_is_never_pruned(spark):
    """pyarrow min_max ignores NaN but Spark orders NaN above every double,
    so a NaN-bearing float column must carry no stats (unprunable)."""
    import json

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 5.0)], "id long, x double")
    df.coalesce(1).write.format("arrowipc").mode("append").save(out)
    part = glob.glob(os.path.join(out, "*.arrows"))[0]
    stats = json.load(open(stats_path(part)))
    assert "x" not in stats["file"] and all("x" not in b for b in stats["batches"])
    assert "id" in stats["file"]  # non-NaN columns still carry stats

    back = spark.read.format("arrowipc").load(out)
    # Spark: NaN > 100.0 is true — the NaN row must survive any pruning
    assert back.filter("x > 100.0").count() == df.filter("x > 100.0").count() == 1
    shutil.rmtree(out, ignore_errors=True)


def test_partitioned_write_and_directory_pruning(spark):
    """partitionBy writes Hive-style col=value subdirectories; an equality
    filter prunes non-matching directories at planning time and the data
    round-trips exactly."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader, EqualTo)

    df = load_table(spark, SF, "documents")
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.repartition(2).write.format("arrowipc") \
        .option("partitionBy", "lang").mode("append").save(out)
    langs = {r.lang for r in df.select("lang").distinct().collect()}
    assert {d for d in os.listdir(out) if not d.startswith(".")} == \
        {f"lang={l}" for l in langs}

    back = spark.read.format("arrowipc").load(out)
    assert back.count() == df.count()
    one = sorted(langs)[0]
    assert back.filter(F.col("lang") == one).count() == \
        df.filter(F.col("lang") == one).count()

    reader = ArrowIPCReader(None, {"path": out})
    reader.pushFilters([EqualTo(("lang",), one)])
    kept = _planned_files(reader)
    assert kept and all(f"lang={one}" in p for p in kept)
    shutil.rmtree(out, ignore_errors=True)


# -- maintenance: compaction + schema evolution -----------------------------


def test_compaction_rewrites_small_files(spark):
    """compact_arrowipc collapses a many-small-files directory into few
    large parts with identical data and fresh stats sidecars."""
    from bossarrowstorageengine_spark.sources.maintenance import compact_arrowipc

    df = load_table(spark, SF, "lineitem")
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df.repartition(8).write.format("arrowipc").mode("append").save(out)
    assert len(glob.glob(os.path.join(out, "*.arrows"))) == 8

    # rounded sum: repartitioning changes FP summation order, not data
    checksum = [F.round(F.sum("l_extendedprice"), 2),
                F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_shipdate")]
    before = df.agg(*checksum).collect()
    info = compact_arrowipc(spark, out, target_files=2)
    assert info == {"files_before": 8, "files_after": 2, "rows": df.count()}

    parts = glob.glob(os.path.join(out, "*.arrows"))
    assert len(parts) == 2
    for p in parts:
        assert os.path.exists(stats_path(p))
    back = spark.read.format("arrowipc").load(out)
    assert back.agg(*checksum).collect() == before
    shutil.rmtree(out, ignore_errors=True)


def test_merge_schema_union_with_null_fill(spark):
    """mergeSchema=true reads a directory whose files disagree on columns:
    the union schema applies, missing columns are null."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    new = spark.createDataFrame([(3, "c", 9.5)], "id long, name string, score double")
    old.coalesce(1).write.format("arrowipc").mode("append").save(out)
    new.coalesce(1).write.format("arrowipc").mode("append").save(out)

    back = spark.read.format("arrowipc").option("mergeSchema", "true").load(out)
    assert set(back.columns) == {"id", "name", "score"}
    rows = {r.id: (r.name, r.score) for r in back.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}

    # without mergeSchema the first file's schema wins and scans of the
    # wider file still align via column projection? No — reads must fail
    # or project; the documented contract is: use mergeSchema for mixed
    # directories.  Assert merge + column pruning compose instead:
    pruned = (
        spark.read.format("arrowipc")
        .option("mergeSchema", "true").option("columns", "id,score").load(out)
    )
    assert pruned.columns == ["id", "score"]
    assert {tuple(r) for r in pruned.collect()} == {(1, None), (2, None), (3, 9.5)}
    shutil.rmtree(out, ignore_errors=True)


def test_snapshot_versions_isolate_and_accumulate(spark):
    """snapshots=true: each commit publishes a manifest version; version-1
    reads exclude later appends, latest-snapshot reads include them, and a
    plain (listing-based) read still sees everything — back-compat."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    first = nat.filter(F.col("n_regionkey") <= 1)
    second = nat.filter(F.col("n_regionkey") > 1)
    for df in (first, second):
        (df.write.format("arrowipc").option("snapshots", "true")
           .mode("append").save(out))

    v1 = (spark.read.format("arrowipc").option("version", "1").load(out))
    latest = (spark.read.format("arrowipc")
              .option("snapshots", "true").load(out))
    plain = spark.read.format("arrowipc").load(out)
    assert v1.count() == first.count()
    assert latest.count() == nat.count()
    assert plain.count() == nat.count()
    assert sorted(r.n_nationkey for r in v1.collect()) == \
        sorted(r.n_nationkey for r in first.collect())
    shutil.rmtree(out, ignore_errors=True)


def test_snapshot_overwrite_replaces_visible_set_but_keeps_history(spark):
    """mode('overwrite') with snapshots: the new manifest lists only the
    new files, while earlier versions stay readable (time travel)."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    (nat.write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))                       # v1: all nations
    replacement = nat.filter(F.col("n_regionkey") == 0)
    (replacement.write.format("arrowipc").option("snapshots", "true")
        .mode("overwrite").save(out))                    # v2: replacement only

    latest = (spark.read.format("arrowipc")
              .option("snapshots", "true").load(out))
    v1 = spark.read.format("arrowipc").option("version", "1").load(out)
    assert latest.count() == replacement.count()
    assert v1.count() == nat.count()
    shutil.rmtree(out, ignore_errors=True)


def test_snapshot_read_ignores_uncommitted_listing_noise(spark):
    """A snapshot read plans only from the manifest: a part file that
    appears in the directory without a manifest entry (an in-flight or
    failed-commit writer) is invisible until a commit publishes it."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    (nat.write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))
    # simulate a concurrent appender that has renamed its file but not yet
    # committed a manifest: drop a part file straight into the directory
    # (a plain write would itself commit, under the sticky-snapshot rule)
    _inject_uncommitted_part(spark, out, nat.limit(3))

    snap = (spark.read.format("arrowipc")
            .option("snapshots", "true").load(out))
    # default read on a manifest table = latest manifest (sticky), so it
    # must ignore the uncommitted file too
    dflt = spark.read.format("arrowipc").load(out)
    # explicit snapshots=false opts into the raw listing
    raw = (spark.read.format("arrowipc")
           .option("snapshots", "false").load(out))
    assert snap.count() == nat.count()
    assert dflt.count() == nat.count()
    assert raw.count() == nat.count() + 3
    shutil.rmtree(out, ignore_errors=True)


def test_default_read_follows_manifest_after_cow_delete(spark):
    """The silent-corruption hazard sticky snapshots close: after a CoW
    DELETE on a snapshotted table, superseded parts stay on disk until
    vacuum — a DEFAULT read (no snapshot options) must follow the latest
    manifest, not double-count via the raw listing."""
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    (nat.write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))                               # v1
    delete_arrowipc(spark, out, "n_regionkey = 0")               # v2 (CoW)

    expect = nat.filter(F.col("n_regionkey") != 0)
    dflt = spark.read.format("arrowipc").load(out)
    assert sorted(r.n_nationkey for r in dflt.collect()) == \
        sorted(r.n_nationkey for r in expect.collect())
    # the old parts really are still on disk (what made raw listing wrong)
    raw = (spark.read.format("arrowipc")
           .option("snapshots", "false").load(out))
    assert raw.count() > expect.count()
    shutil.rmtree(out, ignore_errors=True)


def test_plain_append_to_manifest_table_commits_sticky_version(spark):
    """Once a table has manifests, a write WITHOUT snapshot options must
    still publish the next version — otherwise its rows would be invisible
    to (default) manifest readers: a lost write."""
    from bossarrowstorageengine_spark.sources import arrowipc as a

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    (nat.filter(F.col("n_regionkey") == 0)
        .write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))                               # v1
    (nat.filter(F.col("n_regionkey") == 1)
        .write.format("arrowipc").mode("append").save(out))      # sticky v2

    assert a._manifest_versions(out) == [1, 2]
    dflt = spark.read.format("arrowipc").load(out)
    expect = nat.filter(F.col("n_regionkey") <= 1)
    assert sorted(r.n_nationkey for r in dflt.collect()) == \
        sorted(r.n_nationkey for r in expect.collect())
    shutil.rmtree(out, ignore_errors=True)


def test_concurrent_committers_serialize_through_conditional_put(tmp_path):
    """N threads race _write_manifest on one table: the ConditionalPut CAS
    must serialize them into N distinct versions whose final union holds
    every committer's files — no lost update, no skipped version, and every
    manifest readable (fully-formed) at all times."""
    import concurrent.futures as cf

    from bossarrowstorageengine_spark.sources import arrowipc as a

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    n = 16

    def commit(i: int) -> int:
        p = os.path.join(path, f"part-{i}.arrow")
        open(p, "w").close()
        return a._write_manifest(path, [p], replace=False)

    with cf.ThreadPoolExecutor(max_workers=n) as ex:
        versions = sorted(ex.map(commit, range(n)))
    assert versions == list(range(1, n + 1)), versions
    latest = a._read_manifest(path, n)
    names = {os.path.basename(f) for f in latest}
    assert names == {f"part-{i}.arrow" for i in range(n)}
    # every intermediate manifest is valid JSON with a monotone file count
    sizes = [len(a._read_manifest(path, v)) for v in range(1, n + 1)]
    assert sizes == sorted(sizes) and sizes[-1] == n


def test_commit_backend_is_swappable_and_loser_recomputes(tmp_path):
    """The commit loop must be written purely against ConditionalPut: a
    backend that reports one lost race forces a recompute against the
    winner's manifest, exactly like an object-store conditional PUT."""
    from bossarrowstorageengine_spark.sources import arrowipc as a

    path = str(tmp_path / "tbl")
    os.makedirs(path)

    class OneLoss(a.PosixConditionalPut):
        def __init__(self):
            self.calls = 0

        def put_if_absent(self, target, payload):
            self.calls += 1
            if self.calls == 1:
                # simulate a concurrent winner claiming this version first
                super().put_if_absent(target, b'{"version": 1, "files": ["w.arrow"]}')
                return False
            return super().put_if_absent(target, payload)

    backend = OneLoss()
    prev = a.set_commit_backend(backend)
    try:
        p = os.path.join(path, "mine.arrow")
        open(p, "w").close()
        v = a._write_manifest(path, [p], replace=False)
    finally:
        a.set_commit_backend(prev)
    assert backend.calls == 2  # one loss, one successful retry
    assert v == 2
    names = {os.path.basename(f) for f in a._read_manifest(path, 2)}
    assert names == {"w.arrow", "mine.arrow"}  # union with the winner


def test_compaction_on_snapshotted_table_publishes_replace_manifest(spark):
    """Round-2 gap: compaction on a snapshotted table silently bypassed the
    manifest, so a snapshot reader could mix pre- and post-compaction sets.
    Contract now: compaction publishes one replace manifest (atomic flip),
    keeps old parts on disk for time travel, and leaves an uncommitted
    in-flight part alone."""
    from bossarrowstorageengine_spark.sources import arrowipc as a
    from bossarrowstorageengine_spark.sources.maintenance import compact_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    for rk in (0, 1, 2):
        (nat.filter(F.col("n_regionkey") == rk)
            .write.format("arrowipc").option("snapshots", "true")
            .mode("append").save(out))                          # v1..v3
    # in-flight appender: renamed part, no manifest commit yet
    _inject_uncommitted_part(spark, out, nat.filter(F.col("n_regionkey") == 3))
    committed = nat.filter(F.col("n_regionkey") <= 2)

    old_parts = a._read_manifest(out, 3)
    info = compact_arrowipc(spark, out, target_files=1)
    assert info["rows"] == committed.count()       # not the in-flight rows
    assert info["version"] == 4

    latest = (spark.read.format("arrowipc")
              .option("snapshots", "true").load(out))
    assert sorted(r.n_nationkey for r in latest.collect()) == \
        sorted(r.n_nationkey for r in committed.collect())
    # time travel to a pre-compaction version still works (files retained)
    v2 = spark.read.format("arrowipc").option("version", "2").load(out)
    assert v2.count() == nat.filter(F.col("n_regionkey") <= 1).count()
    for p in old_parts:
        assert os.path.exists(p), "logical swap must retain old parts"
    # the manifest flip replaced old entries with the compacted part
    visible = a._read_manifest(out, 4)
    assert not set(visible) & set(old_parts)
    assert len(visible) == 1
    shutil.rmtree(out, ignore_errors=True)


def test_compaction_replace_survives_concurrent_append_commit(tmp_path):
    """An appender that wins a manifest version while compaction is
    publishing must keep its file: the removal set applies inside the CAS
    retry, not against a stale snapshot of the manifest."""
    from bossarrowstorageengine_spark.sources import arrowipc as a

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    for name in ("old1.arrows", "old2.arrows"):
        open(os.path.join(path, name), "w").close()
    olds = [os.path.join(path, n) for n in ("old1.arrows", "old2.arrows")]
    a._write_manifest(path, olds, replace=False)               # v1

    class AppendMidway(a.PosixConditionalPut):
        def __init__(self):
            self.injected = False

        def put_if_absent(self, target, payload):
            if not self.injected:
                self.injected = True
                # concurrent appender commits first and wins this version
                open(os.path.join(path, "appended.arrows"), "w").close()
                a._write_manifest(
                    path, [os.path.join(path, "appended.arrows")],
                    replace=False)
            return super().put_if_absent(target, payload)

    prev = a.set_commit_backend(AppendMidway())
    try:
        new = os.path.join(path, "compacted.arrows")
        open(new, "w").close()
        v = a._write_manifest(path, [new], replace=False, remove=olds)
    finally:
        a.set_commit_backend(prev)
    assert v == 3
    names = {os.path.basename(f) for f in a._read_manifest(path, 3)}
    assert names == {"compacted.arrows", "appended.arrows"}


def test_vacuum_reclaims_only_dropped_version_files(spark):
    """vacuum keeps the retained manifests' files, physically deletes parts
    referenced only by dropped versions, and never touches unmanifested
    files (an in-flight appender's part)."""
    from bossarrowstorageengine_spark.sources import arrowipc as a
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc, vacuum_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    for rk in (0, 1):
        (nat.filter(F.col("n_regionkey") == rk)
            .write.format("arrowipc").option("snapshots", "true")
            .mode("append").save(out))                          # v1, v2
    old_parts = a._read_manifest(out, 2)
    inflight = set(_inject_uncommitted_part(spark, out, nat.limit(2)))

    compact_arrowipc(spark, out, target_files=1)                # v3 (replace)
    info = vacuum_arrowipc(out, keep_versions=1)
    assert info["removed_versions"] == 2
    assert info["retained_versions"] == [3]
    for p in old_parts:
        assert not os.path.exists(p), "dropped-version files must be removed"
    for p in inflight:
        assert os.path.exists(p), "unmanifested files must survive vacuum"

    latest = (spark.read.format("arrowipc")
              .option("snapshots", "true").load(out))
    expect = nat.filter(F.col("n_regionkey") <= 1)
    assert sorted(r.n_nationkey for r in latest.collect()) == \
        sorted(r.n_nationkey for r in expect.collect())
    with pytest.raises(Exception):
        spark.read.format("arrowipc").option("version", "1").load(out).count()
    shutil.rmtree(out, ignore_errors=True)


def test_filename_column_attributes_rows_to_part_files(spark):
    """filenameColumn appends each row's part-file path — the arrowipc
    equivalent of input_file_name(), and the hook DELETE planning uses."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    nat.repartition(4).write.format("arrowipc").mode("append").save(out)

    df = (spark.read.format("arrowipc")
          .option("filenameColumn", "_f").load(out))
    assert "_f" in df.columns
    rows = df.select("n_nationkey", "_f").collect()
    assert len(rows) == nat.count()
    files = {r._f for r in rows}
    assert files == set(glob.glob(os.path.join(out, "*.arrows")))
    shutil.rmtree(out, ignore_errors=True)


def test_delete_rewrites_only_affected_files(spark):
    """Copy-on-write DELETE on a plain table: matching rows disappear,
    untouched part files keep their identity (not rewritten)."""
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    # two files split by region range → the predicate hits only one
    nat.filter(F.col("n_regionkey") <= 1).write.format("arrowipc") \
        .mode("append").save(out)
    nat.filter(F.col("n_regionkey") > 1).write.format("arrowipc") \
        .mode("append").save(out)
    before_files = set(glob.glob(os.path.join(out, "*.arrows")))

    info = delete_arrowipc(spark, out, "n_regionkey = 0")
    n_r0 = nat.filter(F.col("n_regionkey") == 0).count()
    assert info["rows_deleted"] == n_r0
    assert info["files_rewritten"] == 1

    back = spark.read.format("arrowipc").load(out)
    expect = nat.filter(F.col("n_regionkey") != 0)
    assert sorted(r.n_nationkey for r in back.collect()) == \
        sorted(r.n_nationkey for r in expect.collect())
    after_files = set(glob.glob(os.path.join(out, "*.arrows")))
    assert len(before_files & after_files) == 1, \
        "the unaffected part file must survive untouched"
    shutil.rmtree(out, ignore_errors=True)


def test_delete_on_snapshotted_table_commits_replace_manifest(spark):
    """DELETE on a snapshotted table: one replace-manifest commit flips
    readers atomically; pre-delete versions stay time-travelable."""
    from bossarrowstorageengine_spark.sources import arrowipc as a
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    (nat.write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))                              # v1

    info = delete_arrowipc(spark, out, "n_regionkey IN (2, 3)")
    expect_deleted = nat.filter(F.col("n_regionkey").isin(2, 3)).count()
    assert info["rows_deleted"] == expect_deleted
    assert info["version"] == 2

    latest = (spark.read.format("arrowipc")
              .option("snapshots", "true").load(out))
    expect = nat.filter(~F.col("n_regionkey").isin(2, 3))
    assert sorted(r.n_nationkey for r in latest.collect()) == \
        sorted(r.n_nationkey for r in expect.collect())
    # pre-delete version still reads in full (CoW retains old parts)
    v1 = spark.read.format("arrowipc").option("version", "1").load(out)
    assert v1.count() == nat.count()
    # manifest no longer references the rewritten input
    old = set(a._read_manifest(out, 1))
    new = set(a._read_manifest(out, 2))
    assert not old & new
    shutil.rmtree(out, ignore_errors=True)


def test_delete_null_predicate_rows_survive(spark):
    """SQL DELETE semantics: rows where the predicate evaluates to NULL are
    NOT deleted — they must survive the copy-on-write rewrite of their part
    file, not be silently lost alongside the TRUE rows."""
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    rows = [(1, 10), (2, None), (3, 10), (4, None), (5, 20)]
    df = spark.createDataFrame(rows, "id int, v int")
    df.coalesce(1).write.format("arrowipc").mode("append").save(out)

    # v = 10 is NULL for ids 2 and 4: they are in the one affected file and
    # must be retained by the rewrite.
    info = delete_arrowipc(spark, out, "v = 10")
    assert info["rows_deleted"] == 2
    assert info["files_rewritten"] == 1

    back = spark.read.format("arrowipc").load(out)
    assert sorted(r.id for r in back.collect()) == [2, 4, 5]
    shutil.rmtree(out, ignore_errors=True)


def test_delete_with_no_matches_is_a_noop(spark):
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    nat.write.format("arrowipc").mode("append").save(out)
    files = set(glob.glob(os.path.join(out, "*.arrows")))
    info = delete_arrowipc(spark, out, "n_regionkey = 999")
    assert info == {"rows_deleted": 0, "files_rewritten": 0}
    assert set(glob.glob(os.path.join(out, "*.arrows"))) == files
    back = spark.read.format("arrowipc").load(out)
    assert back.count() == nat.count()
    shutil.rmtree(out, ignore_errors=True)


def test_update_rewrites_matching_rows_in_place(spark):
    """CoW UPDATE: assignments apply simultaneously against the pre-update
    row, only matching rows change, only affected files are rewritten."""
    from bossarrowstorageengine_spark.sources.maintenance import update_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    nat.filter(F.col("n_regionkey") <= 1).write.format("arrowipc") \
        .mode("append").save(out)
    nat.filter(F.col("n_regionkey") > 1).write.format("arrowipc") \
        .mode("append").save(out)
    before_files = set(glob.glob(os.path.join(out, "*.arrows")))

    info = update_arrowipc(
        spark, out, "n_regionkey = 4",
        {"n_name": "concat(n_name, '_X')", "n_regionkey": "n_regionkey + 10"})
    assert info["rows_updated"] == nat.filter(F.col("n_regionkey") == 4).count()
    assert info["files_rewritten"] == 1

    back = spark.read.format("arrowipc").load(out)
    got = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in back.collect()}
    expect = {
        (r.n_nationkey,
         r.n_name + "_X" if r.n_regionkey == 4 else r.n_name,
         14 if r.n_regionkey == 4 else r.n_regionkey)
        for r in nat.collect()
    }
    assert got == expect
    after_files = set(glob.glob(os.path.join(out, "*.arrows")))
    assert len(before_files & after_files) == 1  # untouched file survives
    shutil.rmtree(out, ignore_errors=True)


def test_merge_upserts_by_key_in_one_snapshot_commit(spark):
    """CoW MERGE: matched keys take the source row, new keys append, all
    in ONE manifest version; pre-merge snapshot stays readable."""
    from bossarrowstorageengine_spark.sources.maintenance import merge_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    (nat.write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))                              # v1

    source = spark.createDataFrame(
        [(0, "UPDATED_0", 9), (1, "UPDATED_1", 9), (990, "NEW_990", 9)],
        "n_nationkey long, n_name string, n_regionkey long")
    info = merge_arrowipc(spark, out, source, "n_nationkey")
    assert info["rows_updated"] == 2
    assert info["rows_inserted"] == 1
    assert info["version"] == 2

    latest = (spark.read.format("arrowipc")
              .option("snapshots", "true").load(out))
    got = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in latest.collect()}
    expect = {(r.n_nationkey, r.n_name, r.n_regionkey)
              for r in nat.filter(~F.col("n_nationkey").isin(0, 1)).collect()}
    expect |= {(0, "UPDATED_0", 9), (1, "UPDATED_1", 9), (990, "NEW_990", 9)}
    assert got == expect
    v1 = spark.read.format("arrowipc").option("version", "1").load(out)
    assert v1.count() == nat.count()
    shutil.rmtree(out, ignore_errors=True)


def test_merge_rejects_duplicate_source_keys(spark):
    from bossarrowstorageengine_spark.sources.maintenance import merge_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    load_table(spark, SF, "nation").select("n_nationkey", "n_name") \
        .write.format("arrowipc").mode("append").save(out)
    dup = spark.createDataFrame(
        [(0, "A"), (0, "B")], "n_nationkey long, n_name string")
    with pytest.raises(ValueError, match="unique"):
        merge_arrowipc(spark, out, dup, "n_nationkey")
    shutil.rmtree(out, ignore_errors=True)


def test_merge_preserves_duplicate_target_key_multiplicity(spark):
    """ANSI WHEN MATCHED updates EVERY matching target row: N target rows
    sharing a matched key become N copies of the source version — none
    vanish, and rows_updated equals rows actually rewritten."""
    from bossarrowstorageengine_spark.sources.maintenance import merge_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    target = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, v string")
    target.coalesce(1).write.format("arrowipc").mode("append").save(out)

    src = spark.createDataFrame([(1, "NEW")], "k long, v string")
    info = merge_arrowipc(spark, out, src, "k")
    assert info["rows_updated"] == 2   # both k=1 rows matched

    back = sorted((r.k, r.v) for r in
                  spark.read.format("arrowipc").load(out).collect())
    assert back == [(1, "NEW"), (1, "NEW"), (2, "c"), (3, "d")]
    shutil.rmtree(out, ignore_errors=True)


def test_conditional_put_falls_back_without_hard_links(tmp_path, monkeypatch):
    """On filesystems without hard-link support every os.link raises; the
    ConditionalPut must fall back to O_EXCL create and still provide
    first-writer-wins on the name."""
    from bossarrowstorageengine_spark.sources import arrowipc as a

    def no_link(src, dst):
        raise OSError(1, "Operation not permitted")

    monkeypatch.setattr(os, "link", no_link)
    put = a.PosixConditionalPut()
    target = str(tmp_path / "_manifest-0000000001.json")
    assert put.put_if_absent(target, b'{"v": 1}') is True
    assert open(target, "rb").read() == b'{"v": 1}'
    # second writer loses the race on the same name
    assert put.put_if_absent(target, b'{"v": "loser"}') is False
    assert open(target, "rb").read() == b'{"v": 1}'
    assert not glob.glob(str(tmp_path / "*.tmp-*"))


def test_merge_pure_insert_without_matches(spark):
    """MERGE with only-new keys must not rewrite any existing file."""
    from bossarrowstorageengine_spark.sources.maintenance import merge_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    nat.write.format("arrowipc").mode("append").save(out)
    files = set(glob.glob(os.path.join(out, "*.arrows")))
    src = spark.createDataFrame(
        [(991, "NEW")], "n_nationkey long, n_name string")
    info = merge_arrowipc(spark, out, src, "n_nationkey")
    assert info["rows_updated"] == 0
    assert info["rows_inserted"] == 1
    assert files <= set(glob.glob(os.path.join(out, "*.arrows")))
    back = spark.read.format("arrowipc").load(out)
    assert back.count() == nat.count() + 1
    shutil.rmtree(out, ignore_errors=True)


def test_file_uri_scheme_paths_accepted(spark):
    """SQL-DDL and some catalog paths hand the source file:-schemed URIs;
    the reader/writer must treat them as the same local directory."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    nat.write.format("arrowipc").mode("append").save(out)
    for uri in (f"file:{out}", f"file://{out}"):
        back = spark.read.format("arrowipc").load(uri)
        assert back.count() == nat.count(), uri
    shutil.rmtree(out, ignore_errors=True)


def test_register_arrowipc_table_gives_sql_access(spark):
    """register_arrowipc_table binds the scan (with options) to a SQL name —
    the CREATE TABLE USING equivalent, since Spark's catalog drops Python
    data source OPTIONS at read time."""
    from bossarrowstorageengine_spark.sources import register_arrowipc_table

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation")
    (nat.write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))                              # v1
    (nat.limit(3).write.format("arrowipc").option("snapshots", "true")
        .mode("append").save(out))                              # v2

    register_arrowipc_table(spark, "nat_ipc_v1", out, version="1")
    register_arrowipc_table(spark, "nat_ipc", out, snapshots="true")
    n_v1 = spark.sql("SELECT count(*) AS n FROM nat_ipc_v1").collect()[0].n
    n_latest = spark.sql("SELECT count(*) AS n FROM nat_ipc").collect()[0].n
    assert n_v1 == nat.count()
    assert n_latest == nat.count() + 3
    got = spark.sql(
        "SELECT count(*) AS n FROM nat_ipc_v1 WHERE n_regionkey = 0"
    ).collect()[0].n
    assert got == nat.filter(F.col("n_regionkey") == 0).count()
    shutil.rmtree(out, ignore_errors=True)


def test_stream_restart_from_checkpoint_is_exactly_once(spark):
    """End-to-end restart: arrowipc streaming SOURCE → arrowipc streaming
    SINK with a checkpoint.  After stopping mid-stream, pushing more input,
    and restarting the same query from the same checkpoint, every input row
    appears in the sink exactly once — the source's file high-water-mark
    offsets and the sink's idempotent batch commit must both survive the
    restart."""
    import pyarrow as pa

    src = f"/tmp/spark_graft_test/{uuid.uuid4().hex}_src"
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}_out"
    ckpt = f"/tmp/spark_graft_test/{uuid.uuid4().hex}_ckpt"
    os.makedirs(src, exist_ok=True)

    def push(name, ids):
        table = pa.table({"id": pa.array(ids, pa.int64())})
        tmp = os.path.join(src, f".{name}.tmp")
        with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, table.schema) as w:
            w.write_table(table)
        os.replace(tmp, os.path.join(src, name))

    def start():
        return (
            spark.readStream.format("arrowipc").load(src)
            .writeStream.format("arrowipc")
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(processingTime="100 milliseconds")
            .start(out)
        )

    push("b000.arrows", [1, 2, 3])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    push("b001.arrows", [4, 5])      # arrives while the query is DOWN
    q = start()
    try:
        q.processAllAvailable()
        push("b002.arrows", [6])     # arrives while the restarted query runs
        q.processAllAvailable()
    finally:
        q.stop()

    back = spark.read.format("arrowipc").load(out)
    assert sorted(r.id for r in back.collect()) == [1, 2, 3, 4, 5, 6]
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_manifest_commits_are_delta_sized_with_checkpoints(spark):
    """Commit cost must be O(changed files), not O(table files): after many
    single-file commits, non-checkpoint manifests stay near-constant-sized
    (they carry only the delta) while time travel to any version still
    reconstructs exactly."""
    import json as _json

    from bossarrowstorageengine_spark.sources import arrowipc as a

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation").limit(1)
    n_commits = 2 * a._CHECKPOINT_EVERY + 3
    for _ in range(n_commits):
        (nat.write.format("arrowipc").option("snapshots", "true")
            .mode("append").save(out))

    versions = a._manifest_versions(out)
    assert versions == list(range(1, n_commits + 1))
    delta_sizes, ckpt_count = [], 0
    for v in versions:
        doc = _json.load(open(a._manifest_file(out, v)))
        if "files" in doc:
            ckpt_count += 1
            assert v == 1 or v % a._CHECKPOINT_EVERY == 0
        else:
            delta_sizes.append(os.path.getsize(a._manifest_file(out, v)))
            assert len(doc["add"]) == 1 and doc["remove"] == []
    assert ckpt_count == 3  # v1 + the two checkpoint multiples
    # every delta stays small no matter how many files the table holds
    # bounded by the per-file payload (path + embedded planning stats),
    # NOT by the table's file count — and flat across the whole run
    assert max(delta_sizes) < 1500
    assert max(delta_sizes) - min(delta_sizes) < 120, \
        "delta size must not grow with table size"
    # reconstruction: version N sees exactly N part files
    for v in (1, a._CHECKPOINT_EVERY - 1, a._CHECKPOINT_EVERY,
              a._CHECKPOINT_EVERY + 1, n_commits):
        assert len(a._read_manifest(out, v)) == v
    back = spark.read.format("arrowipc").load(out)
    assert back.count() == n_commits
    shutil.rmtree(out, ignore_errors=True)


def test_vacuum_self_contains_retained_delta_manifests(spark):
    """Vacuum drops checkpoint ancestors a retained delta manifest chains
    through — it must rewrite retained manifests as self-contained
    checkpoints so time travel to every kept version still works."""
    from bossarrowstorageengine_spark.sources import arrowipc as a
    from bossarrowstorageengine_spark.sources.maintenance import vacuum_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    nat = load_table(spark, SF, "nation").limit(1)
    for _ in range(5):   # v1 checkpoint + v2..v5 deltas
        (nat.write.format("arrowipc").option("snapshots", "true")
            .mode("append").save(out))

    info = vacuum_arrowipc(out, keep_versions=2)
    assert info["retained_versions"] == [4, 5]
    # both retained versions must still reconstruct without v1..v3
    assert len(a._read_manifest(out, 4)) == 4
    assert len(a._read_manifest(out, 5)) == 5
    assert spark.read.format("arrowipc").load(out).count() == 5
    shutil.rmtree(out, ignore_errors=True)


def test_stream_format_rotates_files_at_size_bound(spark):
    """Stream-encoded files scan one-task-per-file (no footer), so the
    writer must rotate at maxBytesPerFile: a big single-task write lands
    as several bounded files, the scan gets >1 partition, and contents
    round-trip exactly."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = load_table(spark, SF, "lineitem").coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        # rotation happens at batch boundaries — make batches small enough
        # that the 64 KiB bound is crossed many times
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
        (df.write.format("arrowipc")
           .option("ipcFormat", "stream")
           .option("compression", "none")
           .option("maxBytesPerFile", str(64 * 1024))
           .mode("append").save(out))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    parts = glob.glob(os.path.join(out, "*.arrows"))
    assert len(parts) > 1, "one oversized stream file — rotation failed"
    # every file respects the bound up to one batch of slack
    sizes = sorted(os.path.getsize(p) for p in parts)
    assert sizes[-2] <= 2 * 64 * 1024  # all but the biggest are bounded
    for p in parts:
        assert os.path.exists(stats_path(p)), "each rotated file needs stats"

    back = spark.read.format("arrowipc").load(out)
    assert back.rdd.getNumPartitions() > 1
    agg = lambda d: d.agg(F.round(F.sum("l_extendedprice"), 2),
                          F.count(F.lit(1)), F.max("l_orderkey")).collect()
    assert agg(back) == agg(df)
    shutil.rmtree(out, ignore_errors=True)


def test_update_null_predicate_rows_keep_original_values(spark):
    """SQL UPDATE semantics: rows where the predicate evaluates NULL keep
    their original values (the when/otherwise rewrite must treat NULL as
    not-matched, mirroring the DELETE fix)."""
    from bossarrowstorageengine_spark.sources.maintenance import update_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    rows = [(1, 10), (2, None), (3, 10)]
    spark.createDataFrame(rows, "id int, v int") \
        .coalesce(1).write.format("arrowipc").mode("append").save(out)

    info = update_arrowipc(spark, out, "v = 10", {"v": "v + 5"})
    assert info["rows_updated"] == 2

    back = {r.id: r.v for r in
            spark.read.format("arrowipc").load(out).collect()}
    assert back == {1: 15, 2: None, 3: 15}
    shutil.rmtree(out, ignore_errors=True)


def test_manifest_stats_drive_planning_without_sidecars(spark):
    """Planning stats ride the manifest log: file-level pruning and
    batch-count splitting must work even when every sidecar JSON is gone —
    the log chain, not O(table-files) sidecar opens, drives planning."""
    from bossarrowstorageengine_spark.sources import arrowipc as a

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    orders = load_table(spark, SF, "orders")
    # two files split by key range → a selective filter prunes one
    (orders.filter(F.col("o_orderkey") <= 1000).write.format("arrowipc")
        .option("snapshots", "true").mode("append").save(out))
    (orders.filter(F.col("o_orderkey") > 1000).write.format("arrowipc")
        .mode("append").save(out))                    # sticky commit v2

    # manifest entries carry stats for every committed file
    ent = a._read_manifest_entries(out, 2)
    assert len(ent) == 2
    for st in ent.values():
        assert st is not None and "cols" in st and st["n_batches"] >= 1

    # delete all sidecars: manifest stats must keep the scan working AND
    # still prune the low-key file for a high-key filter
    for sp in glob.glob(os.path.join(out, "_*.stats.json")):
        os.remove(sp)
    back = spark.read.format("arrowipc").load(out)
    want = orders.filter(F.col("o_orderkey") > 2000)
    got = back.filter(F.col("o_orderkey") > 2000)
    assert got.count() == want.count()
    # plan-level check: the selective filter prunes the low-key file from
    # the log alone (no sidecars exist anymore)
    from pyspark.sql.datasource import GreaterThan

    reader = a.ArrowIPCReader(back.schema, {"path": out})
    reader.pushFilters([])  # no filters → both files planned
    assert len(_planned_files(reader)) == 2
    reader2 = a.ArrowIPCReader(back.schema, {"path": out})
    # (orders keys stop at 1499 here, so the bound sits inside the
    # high-key file's range: it must survive while the low one is pruned)
    reader2.pushFilters([GreaterThan(("o_orderkey",), 1200)])
    assert len(_planned_files(reader2)) == 1
    shutil.rmtree(out, ignore_errors=True)


def test_filename_filter_prunes_planning(spark):
    """An EqualTo/In on the attribution column must restrict planning to
    exactly the named part files (the CoW rewrite path's 1%-of-files
    guarantee): with every other file replaced by garbage, a pruned read
    still succeeds — a single planned partition touching another file
    would throw."""
    from pyspark.sql.datasource import EqualTo, In

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader,
        _list_ipc_files,
    )

    path = _tmpdir()
    d = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    d.repartition(4).write.format("arrowipc").mode("append").save(path)
    files = sorted(_list_ipc_files(path))
    assert len(files) == 4

    schema = spark.read.format("arrowipc").load(path).schema
    r = ArrowIPCReader(schema, {"path": path, "filenamecolumn": "_f"})
    r.pushFilters([In(("_f",), tuple(files[:2]))])
    assert _planned_files(r) == files[:2]
    r2 = ArrowIPCReader(schema, {"path": path, "filenamecolumn": "_f"})
    r2.pushFilters([EqualTo(("_f",), files[0])])
    assert _planned_files(r2) == [files[0]]

    # End-to-end: poison every file except one; the pruned read must never
    # plan (or read) the poisoned files.
    keep = files[0]
    for poison in files[1:]:
        with open(poison, "wb") as f:
            f.write(b"NOT-AN-ARROW-FILE")
        os.remove(stats_path(poison))
    df = (spark.read.format("arrowipc")
          .option("filenameColumn", "_f").load(path))
    kept_rows = df.filter(F.col("_f") == keep).count()
    assert 0 < kept_rows < 25


def test_upstream_pushdown_plan_cache_staleness(spark):
    """CANARY for the upstream Spark (≤4.1) Python-datasource caching flaw
    (FORMAT.md §8): pushdown overwrites the relation's cached plan, so a
    filtered action followed by an unfiltered action on the SAME load()
    reuses the pruned partition list.  The engine contract — a fresh
    load() per query — is always correct, and that is what this asserts
    hard.  The same-DataFrame probe accepts either the stale (bug) or the
    full (fixed-Spark) answer but nothing else; when a Spark upgrade
    starts returning the full count, delete the stale arm and FORMAT.md §8.
    """
    path = _tmpdir()
    d = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    d.repartition(4).write.format("arrowipc").mode("append").save(path)

    df = (spark.read.format("arrowipc")
          .option("filenameColumn", "_f").load(path))
    total = df.count()
    one = df.select("_f").distinct().limit(1).collect()[0][0]
    pruned = df.filter(F.col("_f") == one).count()
    assert 0 < pruned < total

    stale_probe = df.count()  # same DataFrame, no filter
    assert stale_probe in (pruned, total)

    fresh = (spark.read.format("arrowipc")
             .option("filenameColumn", "_f").load(path))
    assert fresh.count() == total  # the engine contract: fresh load per query


def test_in_filter_prunes_files_by_stats(spark):
    """An In() filter participates in min-max stats pruning: files whose
    [min,max] range contains none of the values plan no partitions."""
    from pyspark.sql.datasource import In

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader,
        _list_ipc_files,
    )

    path = _tmpdir()
    d = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    # range-partitioned files → disjoint n_nationkey stats per file
    (d.repartition(4, (F.col("n_nationkey") / 7).cast("int"))
     .write.format("arrowipc").mode("append").save(path))
    files = sorted(_list_ipc_files(path))
    schema = spark.read.format("arrowipc").load(path).schema

    r = ArrowIPCReader(schema, {"path": path})
    r.pushFilters([In(("n_nationkey",), (0, 1))])
    kept = _planned_files(r)
    assert 0 < len(kept) < len(files)

    # values outside every file's range → everything pruned (empty marker)
    r2 = ArrowIPCReader(schema, {"path": path})
    r2.pushFilters([In(("n_nationkey",), (10**9,))])
    assert _planned_files(r2) == []

    # end-to-end correctness with pruning active
    df = spark.read.format("arrowipc").load(path)
    assert df.filter(F.col("n_nationkey").isin([0, 1])).count() == 2


def test_file_list_path_prunes_planning(spark):
    """fileListPath: a JSON allowlist FILE restricts planning to exactly
    the named part files — the O(1)-plan-size alternative the CoW path
    switches to when the affected set outgrows an In literal."""
    import json as _json

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader,
        _list_ipc_files,
    )

    path = _tmpdir()
    d = load_table(spark, SF, "nation").select("n_nationkey", "n_name")
    d.repartition(4).write.format("arrowipc").mode("append").save(path)
    files = sorted(_list_ipc_files(path))
    assert len(files) == 4

    lst = os.path.join(path, ".allow.json")
    with open(lst, "w") as f:
        _json.dump(files[:2], f)
    schema = spark.read.format("arrowipc").load(path).schema
    r = ArrowIPCReader(schema, {"path": path, "filelistpath": lst})
    assert _planned_files(r) == files[:2]

    # End-to-end: the allowlisted read returns exactly those files' rows.
    df = (spark.read.format("arrowipc")
          .option("fileListPath", lst)
          .option("filenameColumn", "_f").load(path))
    rows = df.collect()
    assert {r._f for r in rows} == set(files[:2])
    per_file = (spark.read.format("arrowipc")
                .option("filenameColumn", "_f").load(path)
                .filter(F.col("_f").isin(files[:2])).count())
    assert len(rows) == per_file


def test_many_file_mutation_plan_has_no_giant_in_literal(spark, monkeypatch):
    """A mutation whose affected-file set outgrows _INLIST_MAX must route
    the rewrite scan through fileListPath: the Catalyst plan of the rewrite
    input carries NO per-file In literal, and the mutation still produces
    exact results."""
    from bossarrowstorageengine_spark.sources import maintenance as m

    monkeypatch.setattr(m, "_INLIST_MAX", 4)
    path = _tmpdir()
    d = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    d.repartition(12).write.format("arrowipc").mode("append").save(path)

    captured = {}

    def probe_rewrite(aff):
        captured["plan"] = aff._jdf.queryExecution().analyzed().toString()
        return aff.filter("o_orderkey % 2 <> 0").drop(m._FCOL)

    res = m._cow_rewrite(
        spark, path,
        affected_rows=lambda df: df.filter("o_orderkey % 2 = 0"),
        rewrite=probe_rewrite,
    )
    exp_del = d.filter("o_orderkey % 2 = 0").count()
    assert res["rows_matched"] == exp_del
    # 12 affected files > patched threshold → allowlist path, no In literal
    # enumerating part files in the plan.
    assert "plan" in captured
    assert captured["plan"].count(".arrows") == 0, \
        "rewrite plan must not enumerate part files as literals"

    back = spark.read.format("arrowipc").load(path)
    assert sorted(r.o_orderkey for r in back.collect()) == \
        sorted(r.o_orderkey
               for r in d.filter("o_orderkey % 2 <> 0").collect())


def test_register_arrowipc_surfaces_transient_failures():
    """A registration failure that is NOT a duplicate must raise and must
    not latch the per-session flag (a blanket except would silently skip
    registration forever after one transient failure)."""
    from types import SimpleNamespace

    import pytest as _pytest

    from bossarrowstorageengine_spark.sources.arrowipc import register_arrowipc

    def boom(_):
        raise RuntimeError("transient JVM failure")

    fake = SimpleNamespace(dataSource=SimpleNamespace(register=boom))
    with _pytest.raises(RuntimeError):
        register_arrowipc(fake)
    assert not getattr(fake, "_arrowipc_registered", False)

    def dup(_):
        raise RuntimeError("data source 'arrowipc' is ALREADY registered")

    fake2 = SimpleNamespace(dataSource=SimpleNamespace(register=dup))
    register_arrowipc(fake2)  # duplicate → ignorable, flag latches
    assert fake2._arrowipc_registered

    calls = []
    fake3 = SimpleNamespace(
        dataSource=SimpleNamespace(register=lambda c: calls.append(c)))
    register_arrowipc(fake3)
    register_arrowipc(fake3)  # short-circuited by the flag
    assert len(calls) == 1 and fake3._arrowipc_registered


def test_cow_delete_on_partitioned_table_preserves_layout(spark):
    """Copy-on-write DELETE on a Hive-partitioned snapshotted table must
    stage its rewrites with the SAME partitionBy, so survivors stay under
    their col=value directories — directory pruning survives any number
    of mutations instead of eroding toward a full scan."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader, EqualTo)
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(100).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 2).alias("v"))
    (df.repartition(1).write.format("arrowipc")
     .option("partitionBy", "grp").option("snapshots", "true")
     .mode("append").save(out))

    info = delete_arrowipc(spark, out, "v >= 100", predicate_columns=["v"])
    # One file per partition dir, every one mixed → all three rewritten.
    assert info["rows_deleted"] == 50
    assert info["files_rewritten"] == 3
    # NO rewrites at the table root: every promoted file sits under its
    # col=value directory.
    assert not [f for f in os.listdir(out) if f.endswith(".arrows")]

    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.count() == 50
    got = sorted(r["id"] for r in back.filter(F.col("grp") == "1").collect())
    assert got == [i for i in range(100) if i % 3 == 1 and 2 * i < 100]
    # Directory pruning still holds post-mutation: planning a grp=1 scan
    # touches only grp=1 part files.
    reader = ArrowIPCReader(None, {"path": out, "snapshots": "true"})
    reader.pushFilters([EqualTo(("grp",), "1")])
    kept = _planned_files(reader)
    assert kept and all("grp=1" in p for p in kept)
    # Time travel to the pre-delete version still sees the full table.
    pre = spark.read.format("arrowipc").option("version", "1").load(out)
    assert pre.count() == 100
    shutil.rmtree(out, ignore_errors=True)


def test_cow_update_migrates_row_across_partitions(spark):
    """An UPDATE that changes a partition-column value must land the row
    in its NEW col=value directory (the partition-preserving stage writes
    by value, not by origin), and a pruned read of the target partition
    must see it."""
    from bossarrowstorageengine_spark.sources.maintenance import update_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(30).select(
        F.col("id"),
        F.when(F.col("id") < 20, "cold").otherwise("hot").alias("tier"),
        (F.col("id") * 10).alias("v"))
    (df.repartition(1).write.format("arrowipc")
     .option("partitionBy", "tier").option("snapshots", "true")
     .mode("append").save(out))

    # Promote hot-adjacent cold rows: ids 15-19 move tier cold → hot.
    info = update_arrowipc(
        spark, out, "tier = 'cold' AND id >= 15", {"tier": "'hot'"},
        predicate_columns=["tier", "id"])
    assert info["rows_updated"] == 5

    # Fresh load() per action — the documented upstream plan-cache hazard
    # (FORMAT.md §8) makes a filtered action poison a later unfiltered one
    # on the SAME load() result.
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    hot = sorted(r["id"] for r in back.filter(F.col("tier") == "hot").collect())
    assert hot == list(range(15, 30))
    back2 = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back2.count() == 30
    # The migrated rows physically live under tier=hot now.
    hot_files = glob.glob(os.path.join(out, "tier=hot", "*.arrows"))
    assert len(hot_files) >= 2  # original hot part + migrated rewrite part
    shutil.rmtree(out, ignore_errors=True)


def test_compaction_preserves_partition_layout(spark):
    """Compacting a partitioned table must keep the col=value layout (and
    with it directory pruning) while still collapsing the small files."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader, EqualTo)
    from bossarrowstorageengine_spark.sources.maintenance import compact_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(90).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp"))
    # 6 tasks x 3 live combos -> many small files per partition dir.
    (df.repartition(6).write.format("arrowipc")
     .option("partitionBy", "grp").option("snapshots", "true")
     .mode("append").save(out))
    n_before = len(glob.glob(os.path.join(out, "grp=*", "*.arrows")))
    assert n_before >= 9

    info = compact_arrowipc(spark, out, target_files=3)
    assert info["rows"] == 90
    # No files at the table root; the latest manifest's visible set is one
    # compacted file per partition dir (old parts stay only for time travel).
    assert not [f for f in os.listdir(out) if f.endswith(".arrows")]
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions, _read_manifest)
    visible = _read_manifest(out, _manifest_versions(out)[-1])
    assert len(visible) == 3
    assert all("grp=" in p for p in visible)
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.count() == 90
    reader = ArrowIPCReader(None, {"path": out, "snapshots": "true"})
    reader.pushFilters([EqualTo(("grp",), "2")])
    kept = _planned_files(reader)
    assert kept and all("grp=2" in p for p in kept)
    shutil.rmtree(out, ignore_errors=True)


def test_partitioned_table_full_lifecycle(spark):
    """End-to-end partitioned-table lifecycle: fragmented append →
    compaction → CoW delete → vacuum.  Layout, data, and reclamation all
    hold together: after vacuum only the latest visible set remains (one
    file per partition touched), still under col=value directories."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc, delete_arrowipc, vacuum_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(90).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp"))
    (df.repartition(6).write.format("arrowipc")
     .option("partitionBy", "grp").option("snapshots", "true")
     .mode("append").save(out))

    compact_arrowipc(spark, out, target_files=3)
    delete_arrowipc(spark, out, "id % 10 = 0", predicate_columns=["id"])
    info = vacuum_arrowipc(out, keep_versions=1)
    assert info["retained_versions"] == [3]

    on_disk = glob.glob(os.path.join(out, "grp=*", "*.arrows"))
    assert len(on_disk) == 3  # latest visible set only, one per partition
    assert not [f for f in os.listdir(out) if f.endswith(".arrows")]
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.count() == 81
    assert back.filter(F.col("id") % 10 == 0).count() == 0
    shutil.rmtree(out, ignore_errors=True)


def test_stream_sink_rejects_partitionby():
    """The streaming sink must fail fast on partitionBy: commit-scope
    promotion names files at the table root and the stream reader's
    single lexicographic high-water mark cannot span col=value
    subdirectories — silently flattening (or worse, skipping files)
    would betray the option."""
    import pytest as _pytest

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCStreamWriter)

    with _pytest.raises(ValueError, match="partitionBy"):
        ArrowIPCStreamWriter(
            None, {"path": "/tmp/spark_graft_test/never", "partitionBy": "x"},
            False)


def test_corrupt_part_file_error_names_the_file(spark):
    """A truncated/corrupt part file must surface an error that NAMES the
    offending file — in a directory of thousands of parts, a bare
    'Not an Arrow file' is undebuggable."""
    import pytest as _pytest

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(100).repartition(2).write.format("arrowipc") \
        .mode("append").save(out)
    victim = sorted(glob.glob(os.path.join(out, "*.arrows")))[0]
    with open(victim, "r+b") as fh:
        fh.truncate(os.path.getsize(victim) // 2)

    with _pytest.raises(Exception, match=os.path.basename(victim)):
        spark.read.format("arrowipc").load(out).count()
    shutil.rmtree(out, ignore_errors=True)


def test_corrupt_stats_sidecar_degrades_to_no_stats(spark):
    """Sidecars are planning optimizations only: a corrupt one must cost
    pruning for that file, never fail the query — and the surviving
    filter semantics stay exact (Spark re-applies every filter post-scan)."""
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    df.write.format("arrowipc").mode("append").save(out)
    victim = sorted(glob.glob(os.path.join(out, "*.stats.json")))[0]
    with open(victim, "w") as fh:
        fh.write("{not json")

    back = spark.read.format("arrowipc").load(out)
    assert back.filter(F.col("v") > 100).count() == 49
    assert back.count() == 100 or True  # fresh load below (plan-cache rule)
    back2 = spark.read.format("arrowipc").load(out)
    assert back2.count() == 100
    shutil.rmtree(out, ignore_errors=True)


def test_corrupt_manifest_error_names_the_manifest(spark):
    """A manifest defines the visible set — a corrupt one must fail the
    read (not fall back to a listing that could double-count CoW rewrites)
    and the error must name the unreadable manifest file."""
    import pytest as _pytest

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(10).write.format("arrowipc") \
        .option("snapshots", "true").mode("append").save(out)
    mf = sorted(glob.glob(os.path.join(out, "_manifest-*.json")))[0]
    with open(mf, "w") as fh:
        fh.write("{broken")

    with _pytest.raises(Exception, match=os.path.basename(mf)):
        spark.read.format("arrowipc").load(out).count()
    shutil.rmtree(out, ignore_errors=True)


def test_delete_everything_on_snapshotted_table_stays_readable(spark):
    """A DELETE matching every row of a snapshotted table leaves an empty
    visible set; the table must stay readable (0 rows, original schema —
    old parts on disk provide schema inference until vacuum) and time
    travel to the pre-delete version must still see the data."""
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(10).withColumn("v", F.col("id") * 3).write \
        .format("arrowipc").option("snapshots", "true") \
        .mode("append").save(out)
    info = delete_arrowipc(spark, out, "id >= 0")
    assert info["rows_deleted"] == 10

    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.columns == ["id", "v"]
    assert back.count() == 0
    pre = spark.read.format("arrowipc").option("version", "1").load(out)
    assert pre.count() == 10
    shutil.rmtree(out, ignore_errors=True)


def test_manifest_commit_rejects_conflicting_remove(spark):
    """Write-write conflict detection: a commit whose remove set names a
    file a concurrent commit already rewrote must raise instead of
    publishing a second rewrite of the same rows (silent duplication).
    Appends (empty remove set) never conflict."""
    import pytest as _pytest

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ConcurrentWriteConflict, _write_manifest)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(20).repartition(2).write.format("arrowipc") \
        .option("snapshots", "true").mode("append").save(out)
    a, b = sorted(glob.glob(os.path.join(out, "*.arrows")))

    # Commit 1 (a successful CoW elsewhere): rewrites part A.
    rewrite1 = os.path.join(out, "part-rewrite1.arrows")
    shutil.copy2(a, rewrite1)
    _write_manifest(out, [rewrite1], replace=False, remove=[a])

    # Commit 2 raced the same mutation from the old snapshot: its remove
    # set still names A, which is no longer visible → must conflict.
    rewrite2 = os.path.join(out, "part-rewrite2.arrows")
    shutil.copy2(a, rewrite2)
    with _pytest.raises(ConcurrentWriteConflict, match="rewritten or removed"):
        _write_manifest(out, [rewrite2], replace=False, remove=[a])

    # A pure append commits fine on top.
    extra = os.path.join(out, "part-zextra.arrows")
    shutil.copy2(b, extra)
    _write_manifest(out, [extra], replace=False, remove=[])
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.count() == 30  # A-rewrite(10) + B(10) + extra copy of B(10)
    shutil.rmtree(out, ignore_errors=True)


def test_losing_cow_mutation_cleans_up_orphans(spark, monkeypatch):
    """A CoW mutation that loses a write-write race must raise
    ConcurrentWriteConflict AND remove its promoted-but-never-published
    part files — vacuum never touches unmanifested files, so anything
    left behind would be a permanent orphan."""
    import pytest as _pytest

    from bossarrowstorageengine_spark.sources import maintenance
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ConcurrentWriteConflict, _write_manifest)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(20).repartition(2).write.format("arrowipc") \
        .option("snapshots", "true").mode("append").save(out)
    a, b = sorted(glob.glob(os.path.join(out, "*.arrows")))

    # A concurrent mutation rewrites part A, publishing version 2.
    rewrite1 = os.path.join(out, "part-rewrite1.arrows")
    shutil.copy2(a, rewrite1)
    _write_manifest(out, [rewrite1], replace=False, remove=[a])

    # Force OUR delete to pin the stale version 1 (as if it had read the
    # table just before the concurrent commit landed).
    monkeypatch.setattr(maintenance, "_manifest_versions", lambda p: [1])
    before_files = set(glob.glob(os.path.join(out, "*.arrows")))
    with _pytest.raises(ConcurrentWriteConflict):
        maintenance.delete_arrowipc(spark, out, "id >= 0")
    after_files = set(glob.glob(os.path.join(out, "*.arrows")))
    assert after_files == before_files, "losing mutation left orphan parts"


def test_cow_delete_on_two_level_partitioned_table(spark):
    """Partition-chain inference and layout preservation must hold for
    multi-level Hive layouts (a=.../b=.../part-*.arrows)."""
    from bossarrowstorageengine_spark.sources.maintenance import delete_arrowipc

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(60).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("a"),
        (F.col("id") % 3).cast("string").alias("b"))
    (df.repartition(1).write.format("arrowipc")
     .option("partitionBy", "a,b").option("snapshots", "true")
     .mode("append").save(out))
    assert glob.glob(os.path.join(out, "a=*", "b=*", "*.arrows"))

    info = delete_arrowipc(spark, out, "id % 5 = 0", predicate_columns=["id"])
    assert info["rows_deleted"] == 12
    # Survivors stay under their two-level directories; none at the root
    # or at the single level.
    assert not [f for f in os.listdir(out) if f.endswith(".arrows")]
    assert not glob.glob(os.path.join(out, "a=*", "*.arrows"))
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.count() == 48
    got = sorted(r["id"] for r in back.filter(
        (F.col("a") == "1") & (F.col("b") == "2")).collect())
    assert got == [i for i in range(60)
                   if i % 2 == 1 and i % 3 == 2 and i % 5 != 0]
    shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("mutation", ["delete", "update", "merge"])
def test_mutation_conflict_retry_succeeds_against_new_snapshot(
        spark, monkeypatch, mutation):
    """max_retries re-runs a losing mutation from scratch: the retry
    re-pins the NEW latest snapshot and commits cleanly — 'apply my
    mutation to current state' semantics.  MERGE keeps its source cached
    through every attempt and unpersists it once at the end."""
    from bossarrowstorageengine_spark.sources import maintenance
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ConcurrentWriteConflict)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(20).withColumn("v", F.col("id") * 2).repartition(2) \
        .write.format("arrowipc").option("snapshots", "true") \
        .mode("append").save(out)
    source = spark.range(10, 25).withColumn("v", F.col("id") * 3)

    real = maintenance._write_manifest
    calls = {"n": 0, "source_cached": []}

    def flaky(path, new_files, replace=False, remove=(), **kwargs):
        calls["n"] += 1
        calls["source_cached"].append(source.is_cached)
        if calls["n"] == 1:
            # Simulate losing the race once; clean up like the real path
            # would have (the wrapper raises before the real commit).
            raise ConcurrentWriteConflict("injected race loss")
        return real(path, new_files, replace=replace, remove=remove,
                    **kwargs)

    monkeypatch.setattr(maintenance, "_write_manifest", flaky)
    if mutation == "delete":
        info = maintenance.delete_arrowipc(
            spark, out, "id >= 10", predicate_columns=["id"], max_retries=1)
        assert info["rows_deleted"] == 10
        want = [(i, 2 * i) for i in range(10)]
    elif mutation == "update":
        info = maintenance.update_arrowipc(
            spark, out, "id >= 10", {"v": "v + 1"},
            predicate_columns=["id"], max_retries=1)
        assert info["rows_updated"] == 10
        want = [(i, 2 * i + (i >= 10)) for i in range(20)]
    else:
        info = maintenance.merge_arrowipc(
            spark, out, source, "id", max_retries=1)
        assert (info["rows_updated"], info["rows_inserted"]) == (10, 5)
        assert calls["source_cached"] == [True, True]
        assert not source.is_cached
        want = [(i, 2 * i if i < 10 else 3 * i) for i in range(25)]
    assert calls["n"] == 2  # first attempt lost, retry committed
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert sorted((r["id"], r["v"]) for r in back.collect()) == want
    shutil.rmtree(out, ignore_errors=True)


def test_restore_rolls_back_to_old_version_as_new_commit(spark):
    """restore_arrowipc publishes an old version's file set as a NEW head:
    the bad mutation is undone, history (including the bad head) remains
    time-travelable, and a vacuumed target fails naming the lost files."""
    import pytest as _pytest

    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc, restore_arrowipc, vacuum_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(20).withColumn("v", F.col("id") * 2).repartition(2) \
        .write.format("arrowipc").option("snapshots", "true") \
        .mode("append").save(out)                      # v1: 20 rows
    delete_arrowipc(spark, out, "id >= 5")             # v2: the bad delete

    info = restore_arrowipc(out, 1)                    # v3 = v1's file set
    assert info == {"version": 3, "restored_from": 1, "files": 2}
    head = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert head.count() == 20
    bad = spark.read.format("arrowipc").option("version", "2").load(out)
    assert bad.count() == 5  # the undone state stays time-travelable

    # After vacuuming history away, restoring to a reclaimed version fails
    # loudly (v2's rewrite file was deleted when only v3 was retained).
    vacuum_arrowipc(out, keep_versions=1)
    with _pytest.raises(Exception):
        restore_arrowipc(out, 2)
    shutil.rmtree(out, ignore_errors=True)


def test_history_reports_every_commit(spark):
    """history_arrowipc walks the manifest log: append (full) → delete
    (delta) → restore (full), with per-version add/remove/visible counts
    and no data file ever opened."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        delete_arrowipc, history_arrowipc, restore_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(20).repartition(2).write.format("arrowipc") \
        .option("snapshots", "true").mode("append").save(out)
    delete_arrowipc(spark, out, "id >= 10")
    restore_arrowipc(out, 1)

    hist = history_arrowipc(out)
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[0]["kind"] == "full" and hist[0]["visible_files"] == 2
    assert hist[1]["kind"] == "delta" and hist[1]["files_removed"] >= 1
    assert hist[2]["kind"] == "full" and hist[2]["visible_files"] == 2
    shutil.rmtree(out, ignore_errors=True)


def test_compaction_with_zorder_clusters_both_dimensions(spark):
    """compact_arrowipc(zorder="x,y") must produce files that are small
    rectangles in BOTH dimensions (each file's min/max span well under
    the global span), with the data intact — the OPTIMIZE ZORDER idiom."""
    import json as _json

    from bossarrowstorageengine_spark.sources.arrowipc import stats_path
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc, history_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(4096).select(
        F.col("id"),
        (F.hash("id") % 1024 + 1024).alias("x"),
        (F.hash(F.col("id") * 7 + 3) % 1024 + 1024).alias("y"))
    df.repartition(8).write.format("arrowipc") \
        .option("snapshots", "true").mode("append").save(out)

    info = compact_arrowipc(spark, out, target_files=4, zorder="x,y")
    assert info["rows"] == 4096

    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.count() == 4096
    assert back.agg(F.sum("x")).collect()[0][0] == \
        df.agg(F.sum("x")).collect()[0][0]

    # Rectangle check from the stats sidecars of the compacted files
    # (the manifest's visible set — the pre-compaction parts retained for
    # time travel are deliberately unclustered).
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _manifest_versions, _read_manifest)

    hist = history_arrowipc(out)
    assert hist[-1]["visible_files"] == 4
    lo, hi = df.agg(F.min("x"), F.max("x")).collect()[0]
    global_span = hi - lo
    spans_ok = 0
    for p in _read_manifest(out, _manifest_versions(out)[-1]):
        cols = _json.load(open(stats_path(p))).get("file", {})
        x_span = cols["x"][1] - cols["x"][0]
        y_span = cols["y"][1] - cols["y"][0]
        # Four equal-count curve ranges ≈ quadrants: most files span about
        # half the global range in each dimension (range-split boundaries
        # can let one file straddle — hence ≥3, not all 4).
        if x_span <= 0.8 * global_span and y_span <= 0.8 * global_span:
            spans_ok += 1
    assert spans_ok >= 3, f"only {spans_ok} of the files are 2-D clustered"
    shutil.rmtree(out, ignore_errors=True)


def test_schema_census_groups_files_by_schema(spark):
    """schema_census_arrowipc answers the column-add migration question:
    which files still carry the old schema?"""
    from bossarrowstorageengine_spark.sources.maintenance import (
        schema_census_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(10).select("id").repartition(2) \
        .write.format("arrowipc").mode("append").save(out)
    spark.range(10).select("id", (F.col("id") * 2).alias("v")) \
        .coalesce(1).write.format("arrowipc").mode("append").save(out)

    census = schema_census_arrowipc(out)
    assert [g["n_files"] for g in census] == [2, 1]
    assert census[0]["schema"] == "id:int64"
    assert census[1]["schema"] == "id:int64, v:int64"
    assert os.path.exists(census[1]["example"])
    shutil.rmtree(out, ignore_errors=True)


def test_zorder_compaction_on_partitioned_table(spark):
    """zorder + partitioned layout compose: per-partition clustering, the
    col=value layout preserved, data intact, and zorder-on-a-partition-
    column rejected."""
    import pytest as _pytest

    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc, history_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(2048).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("grp"),
        (F.hash("id") % 512 + 512).alias("x"),
        (F.hash(F.col("id") * 5 + 1) % 512 + 512).alias("y"))
    df.repartition(6).write.format("arrowipc") \
        .option("partitionBy", "grp").option("snapshots", "true") \
        .mode("append").save(out)

    with _pytest.raises(ValueError, match="partition column"):
        compact_arrowipc(spark, out, target_files=4, zorder="grp,x")

    info = compact_arrowipc(spark, out, target_files=4, zorder="x,y")
    assert info["rows"] == 2048
    # Layout preserved; nothing at the table root.
    assert not [f for f in os.listdir(out) if f.endswith(".arrows")]
    hist = history_arrowipc(out)
    assert hist[-1]["kind"] == "full" or hist[-1]["visible_files"] > 0
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.count() == 2048
    assert back.filter(F.col("grp") == "1").count() == 1024
    shutil.rmtree(out, ignore_errors=True)


def test_losing_compaction_cleans_up_orphans(spark, monkeypatch):
    """A compaction that loses its commit race (e.g. a concurrent DELETE
    rewrote one of its inputs) must raise ConcurrentWriteConflict and
    remove its promoted-but-unpublished output files."""
    import pytest as _pytest

    from bossarrowstorageengine_spark.sources import maintenance
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ConcurrentWriteConflict, _write_manifest)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    spark.range(20).repartition(2).write.format("arrowipc") \
        .option("snapshots", "true").mode("append").save(out)
    a, b = sorted(glob.glob(os.path.join(out, "*.arrows")))

    # A concurrent mutation rewrites part A (version 2)...
    rewrite1 = os.path.join(out, "part-rewrite1.arrows")
    shutil.copy2(a, rewrite1)
    _write_manifest(out, [rewrite1], replace=False, remove=[a])
    # ...while OUR compaction pinned stale version 1.
    monkeypatch.setattr(maintenance, "_manifest_versions", lambda p: [1])
    before_files = set(glob.glob(os.path.join(out, "*.arrows")))
    with _pytest.raises(ConcurrentWriteConflict):
        maintenance.compact_arrowipc(spark, out, target_files=1)
    after_files = set(glob.glob(os.path.join(out, "*.arrows")))
    assert after_files == before_files, "losing compaction left orphans"


def test_partition_chain_inference_edges():
    """_partition_columns: root files ignored, consistent chains detected,
    inconsistent chains disable preservation (conservative flat fallback),
    non-partition subdirectories disqualify their files."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        _partition_columns)

    root = "/t"
    assert _partition_columns(root, ["/t/p1.arrows", "/t/p2.arrows"]) == []
    assert _partition_columns(
        root, ["/t/a=1/p.arrows", "/t/a=2/q.arrows", "/t/r.arrows"]) == ["a"]
    assert _partition_columns(
        root, ["/t/a=1/b=x/p.arrows", "/t/a=2/b=y/q.arrows"]) == ["a", "b"]
    # Chain mismatch across files → disabled entirely.
    assert _partition_columns(
        root, ["/t/a=1/p.arrows", "/t/b=2/q.arrows"]) == []
    # A non-col=value directory segment disqualifies that file (no crash).
    assert _partition_columns(
        root, ["/t/sub/p.arrows", "/t/a=1/q.arrows"]) == ["a"]


def test_restore_on_partitioned_table(spark):
    """RESTORE republishes nested (col=value) file paths correctly: after
    rolling back a partition-migrating UPDATE, the head serves the
    original data and directory pruning still plans only matching dirs."""
    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader, EqualTo)
    from bossarrowstorageengine_spark.sources.maintenance import (
        restore_arrowipc, update_arrowipc)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = spark.range(20).select(
        "id", (F.col("id") % 2).cast("string").alias("grp"))
    (df.repartition(1).write.format("arrowipc")
     .option("partitionBy", "grp").option("snapshots", "true")
     .mode("append").save(out))
    update_arrowipc(spark, out, "grp = '0'", {"grp": "'1'"})  # v2: migrate

    info = restore_arrowipc(out, 1)
    assert info["restored_from"] == 1
    back = spark.read.format("arrowipc").option("snapshots", "true").load(out)
    assert back.filter(F.col("grp") == "0").count() == 10  # migration undone
    reader = ArrowIPCReader(None, {"path": out, "snapshots": "true"})
    reader.pushFilters([EqualTo(("grp",), "0")])
    kept = _planned_files(reader)
    assert kept and all("grp=0" in p for p in kept)
    shutil.rmtree(out, ignore_errors=True)


def test_stream_file_splits_by_recorded_offsets(spark):
    """VERDICT r5 item 7: a pre-existing many-batch IPC *stream* file must
    split into batch-range tasks like the file encoding does — write-time
    recorded per-batch byte offsets let each task seek straight to its
    range instead of re-streaming the prefix.  Results must be identical
    to the unsplit read."""
    from bossarrowstorageengine_spark.sources.arrowipc import ArrowIPCReader

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = load_table(spark, SF, "lineitem")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
        (df.coalesce(1).write.format("arrowipc")
         .option("ipcFormat", "stream").option("compression", "zstd")
         .mode("append").save(out))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    files = glob.glob(os.path.join(out, "*.arrows"))
    assert len(files) == 1

    # sidecar carries one offset per batch
    import json as _json

    from bossarrowstorageengine_spark.sources.arrowipc import stats_path
    side = _json.load(open(stats_path(files[0])))
    assert "offsets" in side
    assert len(side["offsets"]) == len(side["batches"]) > 8
    assert side["offsets"] == sorted(side["offsets"])

    reader = ArrowIPCReader(None, {"path": out, "batchesPerSplit": "8"})
    parts = reader.partitions()
    assert len(parts) > 1
    assert all(p.stream_seek is not None for p in parts)
    los = [p.stream_seek[1] for p in parts]
    his = [p.stream_seek[2] for p in parts]
    assert los[0] == 0 and his[-1] == len(side["batches"])
    assert all(h == lo2 for h, lo2 in zip(his, los[1:]))  # contiguous cover

    back = spark.read.format("arrowipc").option("batchesPerSplit", "8").load(out)
    n_rows = df.count()
    assert back.rdd.getNumPartitions() == len(parts)
    assert back.count() == n_rows
    agg = lambda d: d.agg(F.round(F.sum("l_extendedprice"), 2),
                          F.max("l_orderkey")).collect()
    assert agg(back) == agg(df)
    shutil.rmtree(out, ignore_errors=True)


def test_dictionary_stream_file_stays_sequential(spark):
    """Dictionary-encoded stream files interleave replacement dictionary
    messages a seek would skip, so no offsets are recorded and the file
    plans as ONE sequential task (correctness over parallelism)."""
    import json as _json

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader, stats_path)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = load_table(spark, SF, "orders")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
        (df.coalesce(1).write.format("arrowipc")
         .option("ipcFormat", "stream")
         .option("dictionary", "o_orderstatus,o_orderpriority")
         .mode("append").save(out))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    files = glob.glob(os.path.join(out, "*.arrows"))
    assert len(files) == 1
    side = _json.load(open(stats_path(files[0])))
    assert "offsets" not in side
    assert len(side["batches"]) > 8

    reader = ArrowIPCReader(None, {"path": out, "batchesPerSplit": "8"})
    parts = [p for p in reader.partitions() if p.paths]
    assert len(parts) == 1 and parts[0].stream_seek is None

    back = spark.read.format("arrowipc").load(out)
    assert back.count() == df.count()
    shutil.rmtree(out, ignore_errors=True)

def test_stream_range_degrades_on_stale_offsets():
    """ADVICE r6: a stale offsets sidecar (part file replaced by a foreign
    tool without regenerating the sidecar, so the planned lo/hi exceed the
    real batch count, or a recorded offset lands mid-message) must DEGRADE
    to the sequential read path — sidecars are planning-only optimizations
    that never fail the query.  pa.ipc.read_message raises EOFError (not
    ArrowInvalid) past end-of-stream; both are caught."""
    import pyarrow as pa

    from bossarrowstorageengine_spark.sources.arrowipc import (
        _read_stream_range,
    )

    path = f"/tmp/spark_graft_test/{uuid.uuid4().hex}.arrows"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.table({"v": list(range(30))})
    batches = tbl.to_batches(max_chunksize=10)  # 3 batches of 10
    with pa.OSFile(path, "wb") as f:
        with pa.ipc.new_stream(f, tbl.schema) as w:
            for b in batches:
                w.write_batch(b)

    # Planned range overruns the real batch count (sidecar said 5 batches,
    # file has 3): seek path yields 0..2, hits EOF, fallback finds nothing
    # more — the 3 real batches come back, no exception.
    got = list(_read_stream_range(path, 0, 0, 5, None, None))
    assert sum(b.num_rows for b in got) == 30
    assert [b.column(0)[0].as_py() for b in got] == [0, 10, 20]

    # Recorded offset lands mid-message: the seek read fails immediately,
    # and the WHOLE range arrives via the sequential fallback.
    got = list(_read_stream_range(path, 13, 1, 3, None, None))
    assert sum(b.num_rows for b in got) == 20
    assert [b.column(0)[0].as_py() for b in got] == [10, 20]

    # keep-subset survives the fallback too.
    got = list(_read_stream_range(path, 13, 0, 3, [0, 2], None))
    assert [b.column(0)[0].as_py() for b in got] == [0, 20]
    os.remove(path)


def test_stream_range_finalize_failure_fails_loudly():
    """ADVICE r7: a finalize failure on the SEEK path (e.g. an invalid
    cast during mergeSchema alignment) must not mark the batch as already
    yielded — the degrade handler would otherwise exclude it from the
    sequential fallback and silently drop its rows.  With the fix, the
    fallback re-reads the batch and fails loudly with the part path in
    the message; batches that finalized cleanly before the failure still
    arrive."""
    import pyarrow as pa

    from bossarrowstorageengine_spark.sources.arrowipc import (
        _read_stream_range,
    )

    path = f"/tmp/spark_graft_test/{uuid.uuid4().hex}.arrows"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.table({"v": ["1", "2", "x", "y"]})
    with pa.OSFile(path, "wb") as f:
        with pa.ipc.new_stream(f, tbl.schema) as w:
            for b in tbl.to_batches(max_chunksize=2):  # ["1","2"], ["x","y"]
                w.write_batch(b)

    target = pa.schema([pa.field("v", pa.int64())])
    rows: list[int] = []
    with pytest.raises(pa.ArrowInvalid, match="part file"):
        for b in _read_stream_range(path, 0, 0, 2, None, None, target):
            rows.extend(b.column(0).to_pylist())
    # The castable first batch arrived; the uncastable second one raised
    # instead of vanishing (pre-fix: 2 of 4 rows, no error).
    assert rows == [1, 2]
    os.remove(path)


def test_stream_offsets_ignored_on_file_bytes_mismatch(spark):
    """ADVICE r7: a stale sidecar whose offsets happen to land on valid
    message boundaries of a replaced file would silently yield wrong or
    duplicated batches — and its min/max pruning stats would silently
    DROP rows of the rewritten content on filtered scans.  The sidecar
    now fingerprints the part file's byte size; on mismatch
    _load_sidecar discards the WHOLE sidecar (offsets, stats, batch
    count), so the planner falls back to ONE sequential unpruned task,
    which reads the file as it actually is."""
    import json as _json

    from bossarrowstorageengine_spark.sources.arrowipc import (
        ArrowIPCReader, stats_path)

    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    df = load_table(spark, SF, "orders")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
        (df.coalesce(1).write.format("arrowipc")
         .option("ipcFormat", "stream")
         .mode("append").save(out))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    files = glob.glob(os.path.join(out, "*.arrows"))
    assert len(files) == 1
    side = _json.load(open(stats_path(files[0])))
    assert side["file_bytes"] == os.path.getsize(files[0])

    # Fingerprint matches: batch-range seek tasks as before.
    reader = ArrowIPCReader(None, {"path": out, "batchesPerSplit": "4"})
    parts = reader.partitions()
    assert len(parts) > 1 and all(p.stream_seek is not None for p in parts)

    # Tamper the fingerprint (simulating a same-layout foreign rewrite):
    # the whole sidecar is distrusted — one sequential task, correct rows.
    side["file_bytes"] += 1
    with open(stats_path(files[0]), "w") as f:
        f.write(_json.dumps(side))
    import warnings as _warnings
    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore")  # the designed staleness warning
        reader = ArrowIPCReader(None, {"path": out, "batchesPerSplit": "4"})
        parts = reader.partitions()
    assert len(parts) == 1 and parts[0].stream_seek is None

    back = spark.read.format("arrowipc").option("batchesPerSplit", "4").load(out)
    assert back.count() == df.count()
    # Filtered scan must not prune against the distrusted stats: every
    # row of the file as-it-is must be visible to the filter.
    lo = df.agg(F.min("o_orderkey")).collect()[0][0]
    n_match = df.filter(F.col("o_orderkey") == lo).count()
    assert back.filter(F.col("o_orderkey") == lo).count() == n_match
    shutil.rmtree(out, ignore_errors=True)


def test_batch_declared_schema_mismatch_names_column(spark):
    """Batch-path parity with the round-13 stream validation: an
    explicit read schema whose type disagrees with the file's Arrow
    schema fails NAMING THE COLUMN, not as a JVM accessor error; the
    matching declaration still reads fine, and mergeSchema (which casts
    to the union target) stays exempt."""
    path = _tmpdir()
    d = load_table(spark, SF, "nation").select(
        "n_nationkey", (F.col("n_regionkey") % 3).cast("int").alias("label"))
    d.coalesce(1).write.format("arrowipc").mode("append").save(path)

    ok = (spark.read.format("arrowipc")
          .schema("n_nationkey int, label int").load(path))
    assert ok.count() == 25

    bad = (spark.read.format("arrowipc")
           .schema("n_nationkey int, label string").load(path))
    with pytest.raises(Exception) as exc:
        bad.collect()
    msg = str(exc.value)
    assert "label" in msg and "string" in msg and "int" in msg
    assert "getUTF8String" not in msg
