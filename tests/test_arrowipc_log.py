"""One table mode: every engine write commits a manifest.

Covers the commit path shared by the batch writer, the stream sink and the
maintenance rewrites: overwrite replaces the visible set, a directory
written by another tool is converted by the first engine write (a
checkpoint of its listing), the conversion never names a concurrent
writer's uncommitted parts, and the retired ``snapshots`` option is
ignored like any unknown option."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pyarrow as pa
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from bossarrowstorageengine_spark.sources import register_arrowipc
from bossarrowstorageengine_spark.sources.arrowipc import (
    ArrowIPCWriter,
    _manifest_versions,
    _read_manifest,
)
from bossarrowstorageengine_spark.sources.maintenance import (
    delete_arrowipc,
    history_arrowipc,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ID_SCHEMA = StructType([StructField("id", LongType())])


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_arrowipc(spark)


def _ids(spark, path, **options) -> list[int]:
    reader = spark.read.format("arrowipc").options(**options)
    return sorted(r.id for r in reader.load(path).collect())


def _batch(lo: int, hi: int) -> pa.RecordBatch:
    return pa.record_batch([pa.array(range(lo, hi), pa.int64())],
                           names=["id"])


def _log_ids(path: str) -> list[int]:
    """Ids visible at the head manifest, read with pyarrow; also checks
    that every retained manifest names only files that exist."""
    assert _manifest_versions(path), f"no manifest log under {path}"
    for v in _manifest_versions(path):
        missing = [f for f in _read_manifest(path, v)
                   if not os.path.exists(f)]
        assert not missing, f"version {v} names missing parts {missing}"
    out: list[int] = []
    for f in _read_manifest(path, _manifest_versions(path)[-1]):
        with pa.OSFile(f, "rb") as fh:
            out.extend(pa.ipc.open_file(fh).read_all()["id"].to_pylist())
    return sorted(out)


def test_overwrite_without_options_replaces_rows(spark, tmp_path):
    """A plain-directory overwrite used to add its files beside the old
    ones (13 rows); every write now commits, so the overwrite's manifest
    names only its own files."""
    out = str(tmp_path / "t")
    spark.range(10).write.format("arrowipc").mode("append").save(out)
    spark.range(100, 103).write.format("arrowipc").mode("overwrite").save(out)
    assert _ids(spark, out) == [100, 101, 102]
    assert [h["kind"] for h in history_arrowipc(out)] == ["full", "full"]
    assert _ids(spark, out, version="1") == list(range(10))


def test_append_to_foreign_directory_converts_it_first(spark, tmp_path):
    """Parts written by another tool (no manifest) are kept: the first
    engine append publishes a checkpoint of the listing, then commits
    its own files on top."""
    out = str(tmp_path / "foreign")
    os.makedirs(out)
    for i, (lo, hi) in enumerate(((0, 6), (6, 10))):
        table = pa.Table.from_batches([_batch(lo, hi)])
        with pa.OSFile(os.path.join(out, f"ext-{i}.arrows"), "wb") as f, \
                pa.ipc.new_file(f, table.schema) as w:
            w.write_table(table)
    assert _ids(spark, out) == list(range(10))      # read-only listing
    assert _manifest_versions(out) == []
    spark.range(10, 13).write.format("arrowipc").mode("append").save(out)
    assert _ids(spark, out) == list(range(13))
    hist = history_arrowipc(out)
    assert [(h["kind"], h["files_added"]) for h in hist][:1] == [("full", 2)]
    assert len(hist) == 2 and hist[1]["visible_files"] > 2


def test_racing_appends_into_empty_directory_each_row_once(tmp_path):
    """Writer A's tasks have written their parts but A has not committed
    when writer B is set up on the same empty directory.  B must not
    convert A's parts into a checkpoint: both commits land, and every
    row is visible exactly once."""
    out = str(tmp_path / "race")
    a = ArrowIPCWriter(ID_SCHEMA, {"path": out}, False)
    msg_a = a.write(iter([_batch(0, 5)]))
    b = ArrowIPCWriter(ID_SCHEMA, {"path": out}, False)
    msg_b = b.write(iter([_batch(5, 8)]))
    b.commit([msg_b])
    a.commit([msg_a])
    assert _log_ids(out) == list(range(8))
    assert [h["files_added"] for h in history_arrowipc(out)] == [1, 1]
    assert not glob.glob(os.path.join(out, ".write-*"))


def test_aborted_first_write_leaves_no_manifest_naming_its_parts(tmp_path):
    """Writer A aborts after its tasks wrote parts; writer B was set up
    in between.  No manifest may name A's (deleted) parts."""
    out = str(tmp_path / "abort")
    a = ArrowIPCWriter(ID_SCHEMA, {"path": out}, False)
    msg_a = a.write(iter([_batch(0, 5)]))
    b = ArrowIPCWriter(ID_SCHEMA, {"path": out}, False)
    a.abort([msg_a])
    b.commit([b.write(iter([_batch(5, 8)]))])
    assert _log_ids(out) == [5, 6, 7]
    assert len(history_arrowipc(out)) == 1
    assert not glob.glob(os.path.join(out, ".write-*"))


def test_snapshots_option_is_ignored(spark, tmp_path):
    """Old callers still pass ``snapshots``: a write with
    ``snapshots=true`` and a read with ``snapshots=false`` behave exactly
    like the same calls without the option — including after a CoW
    delete, where a raw listing would still see the superseded parts."""
    def build(path, **write_opts):
        for lo in (0, 10):
            (spark.range(lo, lo + 10).write.format("arrowipc")
             .options(**write_opts).mode("append").save(path))
        delete_arrowipc(spark, path, "id % 3 = 0")
        return ([(h["kind"], h["files_added"], h["files_removed"])
                 for h in history_arrowipc(path)], _ids(spark, path))

    old = build(str(tmp_path / "old"), snapshots="true")
    new = build(str(tmp_path / "new"))
    assert old == new
    assert (_ids(spark, str(tmp_path / "old"), snapshots="false")
            == _ids(spark, str(tmp_path / "new")))
    assert new[1] == [i for i in range(20) if i % 3]


def test_scratch_root_is_per_process():
    """Two processes running the same key get different scratch paths,
    and each removes its root when it exits."""
    code = ("from bossarrowstorageengine_spark.operators import scans; "
            "print(scans._scratch('/data/sf0.001', 'same_key'))")
    paths = [subprocess.run([sys.executable, "-c", code], cwd=REPO,
                            check=True, capture_output=True, text=True)
             .stdout.strip().splitlines()[-1] for _ in range(2)]
    assert paths[0] != paths[1]
    assert all(p.endswith(os.path.join("sf0.001", "same_key"))
               for p in paths)
    assert not any(os.path.exists(p) for p in paths)
