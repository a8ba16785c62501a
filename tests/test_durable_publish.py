"""The durable publish: every file the storage engine makes visible goes
through the commit backend (``arrowipc.ConditionalPut``), which fsyncs the
file and its directory.  Covers the recording seam, a failing rename, part
paths outside the table, and a listing-mode stream over a directory that an
engine write converts."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.sources import arrowipc as a
from bossarrowstorageengine_spark.sources import register_arrowipc


def _write_part(path: str, name: str, ids) -> str:
    part = os.path.join(path, name)
    table = pa.table({"id": pa.array(ids, pa.int64())})
    with pa.OSFile(part, "wb") as f, pa.ipc.new_file(f, table.schema) as w:
        w.write_table(table)
    return part


def _files(root: str) -> set[str]:
    return {os.path.join(d, n) for d, _, names in os.walk(root)
            for n in names}


def _temp_leftovers(root: str) -> list[str]:
    return sorted(f for f in _files(root) | {
        os.path.join(d, n) for d, dirs, _ in os.walk(root) for n in dirs}
        if ".tmp" in os.path.basename(f))


class _Recording(a.PosixConditionalPut):
    """Records every publish; a directory move maps the names published
    inside its source onto its destination."""

    def __init__(self):
        self.calls: list[tuple[str, str]] = []
        self.published: set[str] = set()

    def put_if_absent(self, target, payload):
        self.calls.append(("put_if_absent", target))
        won = super().put_if_absent(target, payload)
        if won:
            self.published.add(target)
        return won

    def put(self, target, payload):
        self.calls.append(("put", target))
        super().put(target, payload)
        self.published.add(target)

    def move(self, pairs):
        pairs = list(pairs)
        dirs = [(s, d) for s, d in pairs if os.path.isdir(s)]
        super().move(pairs)
        for src, dst in pairs:
            self.calls.append(("move", dst))
            self.published.add(dst)
        for src, dst in dirs:
            self.published |= {dst + p[len(src):] for p in self.published
                               if p.startswith(src + os.sep)}


def test_every_driver_publish_goes_through_the_backend(spark, tmp_path):
    """A CoW delete, compaction + vacuum, an offsets commit and a
    generation roll publish every file through the installed backend,
    and leave no temp file behind.  Spark runs a data-source write's
    commit in one of its Python workers, which a backend installed in
    this process does not reach, so the batch appends and the index
    seeds are left out of the check."""
    from bossarrowstorageengine_spark.sources.feed_consume import (
        commit_position)
    from bossarrowstorageengine_spark.sources.maintenance import (
        compact_arrowipc, delete_arrowipc, vacuum_arrowipc)
    from bossarrowstorageengine_spark.streaming import ann_index as ai

    register_arrowipc(spark)
    table = str(tmp_path / "t")
    offsets = str(tmp_path / "offsets")
    idx_root = str(tmp_path / "gens")
    for lo in (0, 6):
        spark.range(lo, lo + 6).repartition(2).write.format("arrowipc") \
            .mode("append").save(table)
    appended = _files(table)
    base = spark.range(8).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 2).cast("int").alias("bucket"))
    rec = _Recording()
    prev = a.set_commit_backend(rec)
    try:
        delete_arrowipc(spark, table, "id % 4 = 0")
        compact_arrowipc(spark, table, target_files=1)
        rewritten = [v for v in a._manifest_versions(table)[-2:]
                     if "files" not in a._load_manifest_doc(table, v)]
        vacuum_arrowipc(table, keep_versions=2)
        commit_position(spark, offsets, "g", 3)
        ai.seed_generation(idx_root, base)
        ai.roll_generation(idx_root, lambda: base)
    finally:
        a.set_commit_backend(prev)

    for root in (table, offsets, idx_root):
        assert _temp_leftovers(root) == []
    assert sorted(_files(table) - appended - rec.published) == []
    assert sorted(_files(offsets) - rec.published) == []
    assert [v for v in (3, 4) if ("put_if_absent", a._manifest_file(
        table, v)) not in rec.calls] == []
    assert rewritten == [3, 4] and all(
        ("put", a._manifest_file(table, v)) in rec.calls for v in rewritten)
    compacted = a._visible_file_set(table)
    assert compacted and all(
        ("move", p) in rec.calls and ("move", a.stats_path(p)) in rec.calls
        for p in compacted)
    gen_meta = [os.path.join(ai.generation_dir(idx_root, g), "_gen.json")
                for g in (0, 1)]
    pointer = os.path.join(idx_root, ai.GENERATION_POINTER)
    assert {pointer, *gen_meta} <= rec.published
    assert rec.calls.count(("put", pointer)) == 2
    assert ("move", ai.generation_dir(idx_root, 1)) in rec.calls
    assert sorted(r.id for r in spark.read.format("arrowipc")
                  .load(table).collect()) == [
        i for i in range(12) if i % 4]


class _FailingRename(a.PosixConditionalPut):
    def _rename(self, src, dst):
        raise OSError(5, "injected rename failure", dst)


def test_failed_put_keeps_previous_bytes_and_leaves_no_temp(tmp_path):
    """A ``put`` whose rename step fails leaves the previous generation
    pointer and a retained vacuum checkpoint byte-identical and
    readable, and no temp file behind."""
    from bossarrowstorageengine_spark.sources.maintenance import (
        vacuum_arrowipc)
    from bossarrowstorageengine_spark.streaming import ann_index as ai

    idx_root = str(tmp_path / "gens")
    ai._publish_generation(idx_root, 0, 0)
    pointer = os.path.join(idx_root, ai.GENERATION_POINTER)
    table = str(tmp_path / "t")
    os.makedirs(table)
    for i in range(3):
        a._write_manifest(table, [_write_part(table, f"p{i}.arrows", [i])],
                          replace=False)
    before = {f: open(f, "rb").read() for f in _files(table) | {pointer}}
    visible = {v: a._read_manifest(table, v) for v in (1, 2, 3)}

    prev = a.set_commit_backend(_FailingRename())
    try:
        with pytest.raises(OSError, match="injected"):
            ai._publish_generation(idx_root, 1, 7)
        with pytest.raises(OSError, match="injected"):
            vacuum_arrowipc(table, keep_versions=2)
    finally:
        a.set_commit_backend(prev)

    assert {f: open(f, "rb").read()
            for f in _files(table) | {pointer}} == before
    assert ai.current_generation(idx_root) == {
        "generation": 0, "trained_thru": 0}
    assert {v: a._read_manifest(table, v) for v in (1, 2, 3)} == visible
    assert _temp_leftovers(str(tmp_path)) == []


def test_commit_rejects_part_outside_table(tmp_path):
    """A part path outside the table directory would be recorded as a
    ``../`` entry that every reader follows: the commit fails, naming the
    path, before anything is published."""
    table = str(tmp_path / "t")
    os.makedirs(table)
    a._write_manifest(table, [_write_part(table, "p0.arrows", [0])],
                      replace=False)
    outside = _write_part(str(tmp_path), "stray.arrows", [1])
    with pytest.raises(ValueError, match="stray.arrows"):
        a._write_manifest(table, [outside], replace=False)
    assert a._manifest_versions(table) == [1]


def test_new_table_directory_is_fsynced(tmp_path, monkeypatch):
    """Setting up a write into a table directory that does not exist yet
    creates it and fsyncs its parent, so a crash cannot drop the new
    table's directory entry under its first committed version.  An
    existing table's writer fsyncs nothing at set-up."""
    from pyspark.sql.types import LongType, StructField, StructType

    synced: list[str] = []
    real_fsync = a._fsync

    def _recording_fsync(*paths):
        synced.extend(paths)
        real_fsync(*paths)

    monkeypatch.setattr(a, "_fsync", _recording_fsync)
    schema = StructType([StructField("id", LongType())])
    table = str(tmp_path / "new" / "t")
    a.ArrowIPCWriter(schema, {"path": table}, False)
    assert os.path.isdir(table)
    assert str(tmp_path / "new") in synced
    synced.clear()
    a.ArrowIPCWriter(schema, {"path": table}, False)
    assert synced == []


def test_listing_stream_fails_once_an_engine_write_converts_it(spark):
    """A stream that started on a pyarrow-written directory (file-name
    offsets) cannot follow engine commits, whose ``part-<uuid>`` names
    may sort below its high-water mark: its next trigger fails, naming
    the fresh-checkpoint restart, instead of silently skipping them."""
    import shutil

    register_arrowipc(spark)
    src = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    os.makedirs(src, exist_ok=True)
    _write_part(src, "x000.arrows", [1, 2, 3])
    sink = f"mem_{uuid.uuid4().hex[:12]}"
    q = (spark.readStream.format("arrowipc").load(src)
         .writeStream.format("memory").queryName(sink)
         .outputMode("append").trigger(processingTime="100 milliseconds")
         .start())
    try:
        q.processAllAvailable()
        assert sorted(r.id for r in spark.table(sink).collect()) == [1, 2, 3]
        spark.range(10, 12).write.format("arrowipc").mode("append").save(src)
        with pytest.raises(Exception, match="restart from a fresh checkpoint"):
            q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(src, ignore_errors=True)
