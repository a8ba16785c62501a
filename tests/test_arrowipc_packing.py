"""Small-file packing in the arrowipc reader: files that plan as one task
share tasks (Spark's ``FilePartition`` sizing), and a packed task still
reads row-identical, attributes each row to its own file, emits one batch
schema, null-fills under mergeSchema and prunes to the same files."""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.sources import arrowipc as a
from bossarrowstorageengine_spark.sources import register_arrowipc

N_FILES = 64
FILE_ROWS = 25


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_arrowipc(spark)


@pytest.fixture
def out():
    path = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _reader(path: str, **options) -> a.ArrowIPCReader:
    ds = a.ArrowIPCDataSource({"path": path, **options})
    return ds.reader(ds.schema())


def _read_plan(reader) -> list[pa.RecordBatch]:
    """Run every planned task in-process, as the Python workers would."""
    return [b for p in reader.partitions() for b in reader.read(p)]


def _write_small_files(spark, path: str) -> None:
    """N_FILES range files of FILE_ROWS rows each, in one write job."""
    (spark.range(N_FILES * FILE_ROWS)
     .select("id", (F.col("id") * 0.5).alias("val"))
     .repartitionByRange(N_FILES, "id")
     .write.format("arrowipc")
     .mode("overwrite").save(path))
    assert len(a._visible_file_set(path)) == N_FILES


def _file_ids(path: str) -> dict[int, str]:
    """id -> the part file that stores it, read with pyarrow."""
    owner = {}
    for f in a._visible_file_set(path):
        for batch in a._read_ipc_batches(f, None, ["id"]):
            owner.update(dict.fromkeys(batch.column(0).to_pylist(), f))
    return owner


def test_small_files_pack_into_few_tasks(spark, out):
    """64 x 25-row files plan at most one task per usable CPU (the 128 MiB
    cap on a task's cost, 64 x 4 MiB of open cost, allows three on fewer
    than three CPUs), read back row-identical, and each row's
    filenameColumn names the file that stores it."""
    _write_small_files(spark, out)
    parts = _reader(out).partitions()
    assert len(parts) <= max(a._usable_cpus(), 3), len(parts)
    assert sorted(f for p in parts for f in p.paths) == \
        a._visible_file_set(out)

    back = (spark.read.format("arrowipc").option("filenameColumn", "_f")
            .load(out).collect())
    assert sorted(r["id"] for r in back) == list(range(N_FILES * FILE_ROWS))
    assert all(r["val"] == r["id"] * 0.5 for r in back)
    owner = _file_ids(out)
    assert all(r["_f"] == owner[r["id"]] for r in back)


def test_pushed_filter_prunes_to_the_same_files(spark, out):
    """A pushed filter plans exactly the files whose id range overlaps it,
    however those files are packed."""
    _write_small_files(spark, out)
    bound = 10 * FILE_ROWS + 3
    reader = _reader(out)
    reader.pushFilters([a.LessThan(("id",), bound)])
    planned = sorted({f for p in reader.partitions() for f in p.paths})
    owner = _file_ids(out)
    assert planned == sorted({owner[i] for i in range(bound)})
    assert len(planned) == 11

    got = (spark.read.format("arrowipc").load(out)
           .filter(F.col("id") < bound).collect())
    assert sorted(r["id"] for r in got) == list(range(bound))


def test_packed_task_emits_one_batch_schema(spark, out, monkeypatch):
    """Files whose batches differ only in field nullability share a task
    and leave it with one (nullable) batch schema."""
    spark.range(0, 40).repartition(2).write.format("arrowipc") \
        .mode("append").save(out)                          # id NOT NULL
    spark.createDataFrame([(i,) for i in range(40, 80)], "id long") \
        .repartition(2).write.format("arrowipc").mode("append").save(out)
    files = a._visible_file_set(out)
    nullable = {a._file_arrow_schema(f).field("id").nullable for f in files}
    assert nullable == {False, True}

    monkeypatch.setattr(a, "_usable_cpus", lambda: 1)
    reader = _reader(out)
    parts = reader.partitions()
    assert len(parts) == 1 and sorted(parts[0].paths) == files
    batches = _read_plan(reader)
    assert len({b.schema for b in batches}) == 1
    assert batches[0].schema.field("id").nullable
    assert sorted(pa.Table.from_batches(batches)["id"].to_pylist()) == \
        list(range(80))

    back = spark.read.format("arrowipc").load(out)
    assert back.count() == 80 and back.agg(F.sum("id")).first()[0] == 3160


def test_merge_schema_null_fills_packed_files(spark, out, monkeypatch):
    """mergeSchema over packed files: every batch carries the union
    columns, null where its file lacks them."""
    spark.range(0, 30).select("id", (F.col("id") + 1).alias("a")) \
        .repartition(2).write.format("arrowipc").mode("append").save(out)
    spark.range(30, 60).select("id", (F.col("id") * 2).alias("b")) \
        .repartition(2).write.format("arrowipc").mode("append").save(out)

    monkeypatch.setattr(a, "_usable_cpus", lambda: 1)
    reader = _reader(out, mergeSchema="true")
    assert len(reader.partitions()) == 1
    batches = _read_plan(reader)
    assert len({b.schema for b in batches}) == 1
    assert sorted(batches[0].schema.names) == ["a", "b", "id"]
    t = pa.Table.from_batches(batches).sort_by("id")
    assert t["id"].to_pylist() == list(range(60))
    assert pc.sum(pc.is_null(t["a"])).as_py() == 30
    assert pc.sum(pc.is_null(t["b"])).as_py() == 30

    back = spark.read.format("arrowipc").option("mergeSchema", "true") \
        .load(out)
    assert back.filter(F.col("a").isNull()).count() == 30
    assert back.filter(F.col("b").isNull()).count() == 30
    assert back.filter(F.col("b") == F.col("id") * 2).count() == 30
