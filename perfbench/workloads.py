"""The benchmark's workloads.

Each workload is a sequence of ops run as a closed loop by one client: an
op starts when the previous one has finished.  Every op carries a check of
its own output, run outside the op's timed interval.

- ``queries``: query keys of the engine's driver contract
  (``__spark_entry__.queries()``), each collected to pandas and compared
  with the DuckDB oracle (``oracle_sql()``) run over the same tables, by
  ``tools/check.py``'s ``compare``.
- ``storage_churn``: the arrowipc storage engine driven through its Python
  API (``sources.arrowipc`` and ``sources.maintenance``), every read and
  every commit checked against a pyarrow model of the table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections.abc import Callable, Iterator
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

import datagen
from tools.check import compare, duck_connect

#: The bench.py headline keys that run in under a second on this
#: workload's tables, in their headline order, plus ``q_stream_profile``,
#: the cheapest key that runs through ``streaming.pipelines``.  Left out:
#: the storage compositions (``storage_churn`` drives that layer through
#: its own API) and the keys of over 0.8 s here (``q_scan_arrow_roundtrip``,
#: ``q_ann_ivfpq``, ``q_dedup_chunk_apply``, ``q_vocab_drift``,
#: ``q_dedup_near``, ``q_text_perplexity``, ``q_sim_search``): with them a
#: run has room for one or two passes, and its median pass is then mostly
#: the first, still warming, one.
QUERY_KEYS = (
    "q_agg_basic", "q_filter_basic", "q_join_multiway", "q_join_asof",
    "q_win_topk_group", "q_sort_multi", "q_set_union_all",
    "q_dedup_exact", "q_stream_tumbling", "q_explode", "q_udf_pandas",
    "q_win_session_gap", "q_stream_profile",
)

#: Scale of the generated tables for ``queries`` (60 000 lineitem rows).
QUERIES_SF = 0.01

#: ``storage_churn`` shape, from the small-file measurements of ROADMAP
#: item 3: 25-row files and 25-row appends, and its 1/4/16/64-file scan
#: curve.  The base rows are 25 per file at the widest level (64 x 25), and
#: every level holds the same rows, so the levels differ in file count
#: alone.  The churned table is the base rows as 4 range files; each
#: mutation touches a quarter of the ids of one of its files, so each
#: copy-on-write rewrites one file.  The merge upserts one append's worth
#: of existing ids and inserts as many new ones.  Four appends, at about
#: 0.6 s each, keep a traced run (two passes of some 35 s) well inside
#: its time limit.
CHURN_FILE_ROWS = 25
CHURN_FILE_COUNTS = (1, 4, 16, 64)
CHURN_ROWS = CHURN_FILE_ROWS * CHURN_FILE_COUNTS[-1]
CHURN_MAIN_FILES = 4
CHURN_APPENDS = 4
_PER_MAIN_FILE = CHURN_ROWS // CHURN_MAIN_FILES
CHURN_MUTATED_IDS = tuple(
    (k * _PER_MAIN_FILE + _PER_MAIN_FILE // 4,
     k * _PER_MAIN_FILE + _PER_MAIN_FILE // 2) for k in range(3))
TAGS = ("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

COMMIT, READ, QUERY = "commit", "read", "query"


class Op(NamedTuple):
    name: str
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


class Queries:
    """Query keys over seeded star-schema tables."""

    name = "queries"
    #: Untimed passes before the timed ones.  The first pass after set-up
    #: takes two to three times as long as the later ones.  Later passes
    #: still drift by a third either way over a minute on a shared 4-vCPU
    #: VM (one 60 s run's passes went 6.1, 5.2, 4.7, 4.1, 4.5, 4.9, 5.8,
    #: 6.2, 5.1, 4.3, 4.5 s), which the median over the timed passes rides
    #: out better than more warm-up would.
    warm_passes = 1
    #: A warm pass's usual time on a 4-vCPU VM, from which a run's number
    #: of timed passes follows.
    usual_pass_s = 5.0

    def __init__(self, spark, work_dir: str, seed: int):
        import __spark_entry__ as entry

        self.spark = spark
        self.sf_dir = os.path.join(work_dir, "tables")
        self.input_rows = datagen.write_tables(self.sf_dir, seed, QUERIES_SF)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.keys = QUERY_KEYS
        self.expected: dict[str, pd.DataFrame] = {}

    def prepare(self) -> None:
        """Expected results from DuckDB over the same parquet files."""
        con = duck_connect(self.sf_dir)
        try:
            for key in self.keys:
                self.expected[key] = con.execute(self.oracles[key]).df()
        finally:
            con.close()

    def check(self, key: str, pdf: pd.DataFrame) -> bool:
        """The oracle gate's comparison; a width-only dtype difference
        (``DTYPE-WARN``) is not a failure there either."""
        problems = [p for p in compare(key, pdf, self.expected[key])
                    if not p.startswith("DTYPE-WARN")]
        for p in problems:
            print(f"{key}: {p}", file=sys.stderr)
        return not problems

    def ops(self, warm: bool = False) -> Iterator[Op]:
        for key in self.keys:
            yield Op(key, QUERY,
                     lambda key=key: self.queries[key](
                         self.spark, self.sf_dir).toPandas(),
                     lambda pdf, key=key: self.check(key, pdf))

    def layer_counts(self) -> dict[str, float]:
        return {}


def _read_visible(path: str) -> pa.Table:
    """The table's committed rows, read with pyarrow alone from the files
    its latest manifest names — independent of Spark's read path."""
    from bossarrowstorageengine_spark.sources.arrowipc import _visible_file_set

    parts = []
    for f in _visible_file_set(path):
        with pa.memory_map(f) as src:
            try:
                parts.append(pa.ipc.open_file(src).read_all())
            except pa.ArrowInvalid:
                src.seek(0)
                parts.append(pa.ipc.open_stream(src).read_all())
    return pa.concat_tables(parts) if parts else None


def _same_rows(got: pa.Table | None, want: pa.Table) -> bool:
    """Row-for-row equality ordered by ``id``; a mismatch is described on
    standard error."""
    if got is None or got.num_rows != want.num_rows:
        print(f"rows: got {None if got is None else got.num_rows}, "
              f"want {want.num_rows}", file=sys.stderr)
        return False
    got, want = got.sort_by("id"), want.sort_by("id")
    for name in want.column_names:
        col = got.column(name).combine_chunks().cast(want.schema.field(name).type)
        if not col.equals(want.column(name).combine_chunks()):
            print(f"column {name} differs", file=sys.stderr)
            return False
    return True


def _dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``.  A manifest counts without its
    commit timestamp, whose printed length varies from run to run."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            full = os.path.join(d, f)
            if f.startswith("_manifest-") and f.endswith(".json"):
                with open(full) as fh:
                    doc = json.load(fh)
                doc.pop("ts", None)
                total += len(json.dumps(doc))
            else:
                total += os.path.getsize(full)
    return total


class StorageChurn:
    """Writes, scans, appends, copy-on-write mutations, time travel,
    compaction and vacuum on arrowipc tables, against a pyarrow model."""

    name = "storage_churn"
    warm_passes = 1
    usual_pass_s = 36.0

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.root = os.path.join(work_dir, "churn")
        self.rng = np.random.default_rng(seed)
        n = CHURN_ROWS
        self.base = self._rows(np.arange(n))
        # The selective scans read the first 1/32 of the ids: 2 of the
        # 64 files at the widest level.
        self.sel_bound = n // 32
        self.input_rows = n
        self.counts: list[dict[str, float]] = []

    def _rows(self, ids: np.ndarray) -> pa.Table:
        n = len(ids)
        return pa.table({
            "id": pa.array(ids, pa.int64()),
            "grp": pa.array(self.rng.integers(0, 100, n), pa.int32()),
            "val": np.round(self.rng.uniform(0.0, 1000.0, n), 2),
            "tag": pa.array(self.rng.choice(TAGS, n)),
        })

    def prepare(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def _count(self, name: str, value: float, add: bool = False) -> None:
        """Record a per-pass count; ``add`` sums it over the pass."""
        this_pass = self.counts[-1]
        this_pass[name] = this_pass.get(name, 0) + value if add else value

    def _df(self, table: pa.Table):
        return self.spark.createDataFrame(table)

    def _plan(self, path: str, selective: bool) -> tuple[int, float]:
        """In-process ``ArrowIPCReader.partitions()``: partition count and
        planning time for a full or a pushed-filter scan."""
        from pyspark.sql.datasource import LessThan

        from bossarrowstorageengine_spark.sources.arrowipc import ArrowIPCDataSource

        ds = ArrowIPCDataSource({"path": path})
        reader = ds.reader(ds.schema())
        if selective:
            reader.pushFilters([LessThan(("id",), self.sel_bound)])
        t0 = time.perf_counter()
        n = len(reader.partitions())
        return n, time.perf_counter() - t0

    def ops(self, warm: bool = False) -> Iterator[Op]:
        """One pass on fresh tables.  The ``warm`` pass stops after the
        first mutation on a one-file table: it starts the Python
        data-source workers and the copy-on-write path, so the timed passes
        start warm."""
        from pyspark.sql import functions as F

        from bossarrowstorageengine_spark.sources import maintenance as mt
        from bossarrowstorageengine_spark.sources.arrowipc import _visible_file_set

        spark = self.spark
        self.counts.append({})
        shutil.rmtree(self.root, ignore_errors=True)
        pass_dir = os.path.join(self.root, f"pass{len(self.counts)}")
        base = self.base
        sel_model = base.filter(pc.less(base["id"], self.sel_bound))

        def scan(path, selective=False, **options):
            def run():
                reader = spark.read.format("arrowipc")
                for k, v in options.items():
                    reader = reader.option(k, v)
                df = reader.load(path)
                if selective:
                    df = df.filter(F.col("id") < self.sel_bound)
                return df.toArrow()
            return run

        file_counts = CHURN_FILE_COUNTS[:1] if warm else CHURN_FILE_COUNTS
        for n_files in file_counts:
            path = os.path.join(pass_dir, f"f{n_files}")

            def write(path=path, n_files=n_files):
                (self._df(base).repartitionByRange(n_files, "id")
                 .write.format("arrowipc").option("snapshots", "true")
                 .mode("overwrite").save(path))

            def write_ok(_, path=path, n_files=n_files):
                return (len(_visible_file_set(path)) == n_files
                        and _same_rows(_read_visible(path), base))

            yield Op(f"write_f{n_files}", COMMIT, write, write_ok)
            yield Op(f"scan_f{n_files}", READ, scan(path),
                     lambda got: _same_rows(got, base))
            if not warm and n_files > 1:    # one file: nothing to prune
                yield Op(f"scan_sel_f{n_files}", READ, scan(path, True),
                         lambda got: _same_rows(got, sel_model))

        if not warm:
            widest = os.path.join(pass_dir, f"f{file_counts[-1]}")
            full, plan_s = self._plan(widest, selective=False)
            sel, _ = self._plan(widest, selective=True)
            self._count("arrowipc.partitions", full)
            self._count("arrowipc.plan_s", plan_s)
            self._count("arrowipc.prune_ratio", sel / full)

        # The churned table: the base rows as CHURN_MAIN_FILES range files,
        # so each id-range mutation below rewrites one file.
        main = os.path.join(
            pass_dir, f"f{file_counts[0] if warm else CHURN_MAIN_FILES}")
        model = base
        bytes_before = _dir_bytes(main)
        appended = 0
        next_id = CHURN_ROWS
        for _ in range(1 if warm else CHURN_APPENDS):
            rows = self._rows(np.arange(next_id, next_id + CHURN_FILE_ROWS))
            next_id += CHURN_FILE_ROWS
            model = pa.concat_tables([model, rows])
            appended += rows.nbytes

            def append(rows=rows):
                (self._df(rows).coalesce(1).write.format("arrowipc")
                 .mode("append").save(main))

            yield Op("append", COMMIT, append,
                     lambda _, want=model: _same_rows(_read_visible(main), want))
        self._count("arrowipc.write_bytes_per_user_byte",
                    (_dir_bytes(main) - bytes_before) / appended)
        version_model = model
        version = mt.history_arrowipc(main)[-1]["version"]

        def maintenance(name, fn, want, files_rewritten):
            """An op that rewrites files of the churned table.  Its
            rewritten bytes are the sizes of the files it took out of the
            visible set, listed when the op is created, just before it
            runs."""
            before = {f: os.path.getsize(f) for f in _visible_file_set(main)}

            def check(res):
                removed = before.keys() - set(_visible_file_set(main))
                self._count("maintenance.files_rewritten",
                            files_rewritten(res), add=True)
                self._count("maintenance.bytes_rewritten",
                            sum(before[f] for f in removed), add=True)
                return _same_rows(_read_visible(main), want)
            return Op(name, COMMIT, fn, check)

        def mutated(res):
            return res["files_rewritten"]

        def id_range(lo: int, hi: int) -> str:
            return f"id >= {lo} AND id < {hi}"

        lo, hi = CHURN_MUTATED_IDS[0]
        model = model.filter(pc.invert(pc.and_(
            pc.greater_equal(model["id"], lo), pc.less(model["id"], hi))))
        yield maintenance(
            "delete", lambda: mt.delete_arrowipc(
                spark, main, id_range(lo, hi), predicate_columns=["id"]),
            model, mutated)
        if warm:
            self.counts.pop()
            return
        ulo, uhi = CHURN_MUTATED_IDS[1]
        hit = pc.and_(pc.greater_equal(model["id"], ulo),
                      pc.less(model["id"], uhi))
        model = model.set_column(
            model.schema.get_field_index("val"), "val",
            pc.if_else(hit, pc.add(model["val"], 1.0), model["val"]))
        yield maintenance(
            "update", lambda: mt.update_arrowipc(
                spark, main, id_range(ulo, uhi), {"val": "val + 1"},
                predicate_columns=["id"]),
            model, mutated)
        mlo, mhi = CHURN_MUTATED_IDS[2]
        old_ids = self.rng.choice(np.arange(mlo, mhi), CHURN_FILE_ROWS,
                                  replace=False)
        source = self._rows(np.concatenate(
            [np.sort(old_ids), np.arange(next_id, next_id + CHURN_FILE_ROWS)]))
        model = pa.concat_tables([
            model.filter(pc.invert(pc.is_in(model["id"], source["id"]))),
            source])
        yield maintenance(
            "merge", lambda: mt.merge_arrowipc(spark, main, self._df(source),
                                               "id"),
            model, mutated)

        live = _visible_file_set(main)
        history = mt.history_arrowipc(main)
        chain = 0
        for entry in reversed(history):
            if entry["kind"] != "delta":
                break
            chain += 1
        self._count("arrowipc.files_visible", len(live))
        self._count("arrowipc.delta_chain_len", chain)
        yield Op("read_version", READ,
                 scan(main, version=str(version)),
                 lambda got: _same_rows(got, version_model))

        # One op: vacuum alone takes milliseconds, and its relative noise
        # would swing the geometric mean over ops.
        def compact_vacuum():
            return (mt.compact_arrowipc(spark, main, target_files=1),
                    mt.vacuum_arrowipc(main))

        compact = maintenance("compact_vacuum", compact_vacuum, model,
                              lambda res: res[0]["files_before"])

        def compact_vacuum_ok(res):
            removed = res[1]["removed_files"]
            self._count("maintenance.removed_files", removed)
            return (compact.check(res) and removed > 0
                    and len(_visible_file_set(main)) == 1)

        yield compact._replace(check=compact_vacuum_ok)
        yield Op("scan_final", READ, scan(main),
                 lambda got: _same_rows(got, model))
        self._count("bytes_stored_per_user_byte",
                    _dir_bytes(main) / model.nbytes)

    def layer_counts(self) -> dict[str, float]:
        """Median over passes of each per-pass count."""
        names = {k for c in self.counts for k in c}
        return {k: float(np.median([c[k] for c in self.counts if k in c]))
                for k in sorted(names)}


WORKLOADS = {w.name: w for w in (Queries, StorageChurn)}
