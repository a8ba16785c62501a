"""Storage-maintenance operations for the ``arrowipc`` layout.

A storage engine's table directories degrade under streaming/appending
ingest: many small part files (one per micro-batch task) make listings,
footers, and per-file task overhead dominate.  ``compact_arrowipc``
rewrites a directory into few large files — the Arrow-IPC equivalent of
parquet compaction / Delta ``OPTIMIZE``.

Every operation here that changes data already on disk — compaction,
the copy-on-write DELETE / UPDATE / MERGE, and (in other modules) feed
checkpoint compaction and LSM index compaction — is one ``_Rewrite``
transaction: pin the input files, rewrite them with an ordinary Spark job
into a hidden staging directory, promote the staged parts, and commit one
add/remove manifest.  The rewrite parallelizes across the cluster like any
other query; nothing passes through the driver but file names and counts.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from bossarrowstorageengine_spark.sources.arrowipc import (
    ConcurrentWriteConflict,
    _ensure_log,
    _is_file_format,
    _load_manifest_doc,
    _load_sidecar,
    _manifest_file,
    _manifest_versions,
    _promote,
    _read_manifest,
    _visible_file_set,
    _write_manifest,
    commit_backend,
    register_arrowipc,
    stats_path,
)


class _Rewrite:
    """One rewrite transaction: replace visible part files of the table at
    ``path`` with a rewrite of them (the Delta copy-on-write / ``OPTIMIZE``
    commit).  Use it as a context manager; every exit, normal or not,
    removes its pin and staging directories.

    - ``visible``: the files the rewrite may replace — the set of the head
      manifest, version ``head``.  A directory without a log is first
      converted (``_ensure_log``); one with no part files at all fails
      here, as there is nothing to rewrite.
    - ``read(files)``: a fresh ``arrowipc`` load of a hard-link pin
      (copy fallback) of ``files``, default all of ``visible``.  The
      pin keeps the relative layout, so partition directories read back
      the same.  Reads, rewrite and commit then cover the same files
      even if an appender lands parts or a vacuum deletes files
      mid-rewrite.  A fresh load per read also keeps clear of the
      pushdown plan-cache hazard (FORMAT.md §8).
    - ``origins(names)``: the table files behind attribution-column
      (``filenameColumn``) values of a ``read``.
    - ``stage(df)``: write the rewrite into the staging directory.
    - ``commit(remove)``: promote the staged parts with their sidecars,
      then publish one manifest version adding them and removing
      ``remove``, applied inside the CAS retry loop so concurrent
      appends survive and old parts stay readable by time travel until
      vacuum.  A commit that loses a write-write race deletes the files
      it promoted (vacuum never touches unmanifested files, so they would
      linger forever) and re-raises ``ConcurrentWriteConflict``.
    """

    def __init__(self, spark: SparkSession, path: str, kind: str):
        register_arrowipc(spark)
        self._spark = spark
        self._path = path
        self._kind = kind
        self.head = _ensure_log(path)
        self.visible = _visible_file_set(path, self.head)
        self.version: int | None = None
        self._staging = os.path.join(path, f".{kind}-{uuid.uuid4().hex}")
        self._pins: dict[tuple, str] = {}
        self._held: dict[str, str] = {}      # table file -> a pinned link
        self._origin: dict[str, str] = {}    # pinned link -> table file

    def __enter__(self) -> "_Rewrite":
        return self

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self._staging, ignore_errors=True)
        for pin in self._pins.values():
            shutil.rmtree(pin, ignore_errors=True)

    def _pin(self, files: tuple) -> str:
        pin = os.path.join(self._path, f".{self._kind}-src-{uuid.uuid4().hex}")
        self._pins[files] = pin
        os.makedirs(pin, exist_ok=True)
        for f in files:
            # Link from an earlier pin when there is one: the table's own
            # copy may be gone by now.
            held = self._held.get(f, f)
            dst = os.path.join(pin, os.path.relpath(f, self._path))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            for src, to in ((held, dst), (stats_path(held), stats_path(dst))):
                if not os.path.exists(src):
                    continue
                try:
                    os.link(src, to)
                except OSError:
                    shutil.copy2(src, to)
            self._held.setdefault(f, dst)
            self._origin[dst] = f
        return pin

    def read(self, files=None, schema: StructType | None = None, **options):
        files = tuple(sorted(self.visible if files is None else files))
        pin = self._pins.get(files) or self._pin(files)
        reader = self._spark.read.format("arrowipc").options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(pin)

    def origins(self, names) -> list[str]:
        return [self._origin[n] for n in names]

    def stage(self, df, into: str = "", **options) -> None:
        """Write ``df`` into the staging directory, or its ``into``
        subdirectory (e.g. ``seg=3``); empty options are left out."""
        writer = df.write.format("arrowipc").mode("append")
        for key, value in options.items():
            if value:
                writer = writer.option(key, value)
        writer.save(os.path.join(self._staging, into) if into
                    else self._staging)

    def staged_rows(self) -> int:
        """Rows staged so far, from the parts' stats sidecars (metadata
        only, no Spark job)."""
        return sum(_part_row_count(p)
                   for p in _walk_staged_parts(self._staging))

    def input_rows(self, files) -> int:
        """Rows in pinned input ``files``, from their stats sidecars."""
        return sum(_part_row_count(self._held[f]) for f in files)

    def commit(self, remove, adds_new_rows: bool = False) -> list[str]:
        """Swap the staged parts in for ``remove``; returns the promoted
        paths.  ``adds_new_rows`` is the manifest's dataChange hint:
        False for pure rewrites, True when the staged parts also carry
        new logical rows (a MERGE's inserts)."""
        promoted = _promote(_walk_staged_parts(self._staging),
                            self._staging, self._path)
        if promoted or remove:
            try:
                self.version = _write_manifest(
                    self._path, promoted, replace=False, remove=remove,
                    adds_new_rows=adds_new_rows)
            except ConcurrentWriteConflict:
                for p in promoted:
                    for victim in (p, stats_path(p)):
                        if os.path.exists(victim):
                            os.remove(victim)
                raise
        return promoted


def compact_arrowipc(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    compression: str = "zstd",
    ipc_format: str = "file",
    dictionary: str | None = None,
    zorder: str | None = None,
    schema: StructType | None = None,
) -> dict:
    """Rewrite an arrowipc directory into ``target_files`` part files.

    ``schema``: the table schema, when the caller already holds it —
    skips the internal full read's Python-datasource schema inference
    (one plan-worker round trip of the fixed per-action floor, same as
    the mutations' ``schema`` parameter).  Flat tables only: on a
    Hive-partitioned table the reader composes partition columns from
    directory names, so the caller-supplied schema would not match —
    pass None there and pay the inference.

    ``zorder="colA,colB"`` additionally clusters the rewrite on the
    Morton interleave of the two (numeric) columns — the Delta
    ``OPTIMIZE ZORDER BY`` idiom: each output file becomes a small
    rectangle in BOTH dimensions, so min/max stats skip files for range
    predicates on either column.  On a partitioned table the clustering
    is per-partition (the range key leads with the partition columns);
    zorder columns may not themselves be partition columns.

    Returns ``{"files_before": n, "files_after": m, "rows": r}``, plus
    the committed ``"version"`` when anything was rewritten.  The read is the normal
    distributed scan (batch-range splits), the write the normal
    distributed writer; the swap happens only after every new part file
    has committed.
    """
    zcols = [c.strip() for c in zorder.split(",")] if zorder else []
    if zorder and len(zcols) != 2:
        raise ValueError("zorder requires exactly two columns")
    with _Rewrite(spark, path, "compact") as tx:
        # Keep the table's Hive partition layout through compaction (same
        # rationale as the CoW rewrite): target_files bounds the shuffle
        # width, the partitionBy write splits each task's rows back into
        # their col=value directories, and keying the repartition by the
        # partition columns keeps the output near one file per (task,
        # combo) instead of target_files × combos.
        part_cols = _partition_columns(path, tx.visible)
        if any(c in part_cols for c in zcols):
            raise ValueError(
                "zorder columns overlap the partition columns — a "
                "partition column is constant per directory and cannot "
                "be a curve dimension")
        df = tx.read(schema=schema)
        if zcols:
            from bossarrowstorageengine_spark.functions.zorder import (
                morton16, norm10)

            a, b = (F.col(c) for c in zcols)
            # Bounds from a projection-narrowed scan (metadata-cheap
            # columns only), broadcast back to the mappers like
            # write_zorder_orders.
            bounds = (tx.read(columns=",".join(zcols))
                      .agg(F.min(a).alias("_z_alo"), F.max(a).alias("_z_ahi"),
                           F.min(b).alias("_z_blo"), F.max(b).alias("_z_bhi")))
            zcode = morton16(norm10(a, "_z_alo", "_z_ahi"),
                             norm10(b, "_z_blo", "_z_bhi"))
            # On a partitioned table, lead the range key with the partition
            # columns: each task then holds contiguous (partition, z-range)
            # slices, so the partitionBy write emits ~one file per slice
            # (bounded by target_files + live combos) and every file is a
            # per-partition curve rectangle — per-partition OPTIMIZE ZORDER.
            range_keys = [*[F.col(c) for c in part_cols], F.col("_z")]
            repartitioned = (
                df.join(F.broadcast(bounds))
                .withColumn("_z", zcode)
                .repartitionByRange(max(1, target_files), *range_keys)
                .sortWithinPartitions(*range_keys)
                .drop("_z", "_z_alo", "_z_ahi", "_z_blo", "_z_bhi"))
        elif part_cols:
            repartitioned = df.repartition(
                max(1, target_files), *[F.col(c) for c in part_cols])
        else:
            repartitioned = df.repartition(max(1, target_files))
        tx.stage(repartitioned, compression=compression,
                 ipcFormat=ipc_format, partitionBy=",".join(part_cols),
                 dictionary=dictionary)
        # Row count for the report comes from the staged files' stats
        # sidecars (written by the writer as it streams) — metadata only,
        # so compaction runs ONE scan of the input, not a count scan plus
        # a rewrite scan.
        rows = tx.staged_rows()
        promoted = tx.commit(remove=tx.visible)
    out = {"files_before": len(tx.visible), "files_after": len(promoted),
           "rows": rows}
    if tx.version is not None:
        out["version"] = tx.version
    return out


#: Column name the copy-on-write scans use for part-file attribution.
_FCOL = "_part_file"


def _part_row_count(p: str) -> int:
    """Row count of one part file: the stats sidecar when present (our
    writer always emits one), else a direct pyarrow read — the fallback
    only runs for foreign/sidecar-less files and is bounded by the file
    count of the set being measured.  A sidecar missing its ``rows``
    field falls through to the pyarrow read too: defaulting it to 0
    would silently corrupt row accounting.  So does a corrupt or stale
    one (``_load_sidecar``)."""
    rows = (_load_sidecar(p) or {}).get("rows")
    if rows is not None:
        return rows
    with pa.OSFile(p, "rb") as f:
        if _is_file_format(p):
            r = pa.ipc.open_file(f)
            return sum(r.get_batch(i).num_rows
                       for i in range(r.num_record_batches))
        return sum(b.num_rows for b in pa.ipc.open_stream(f))


def _walk_staged_parts(staging_dir: str):
    """Yield the path of every ``*.arrows`` under a staging dir,
    depth-first in sorted order (deterministic promotion)."""
    if not os.path.isdir(staging_dir):
        return
    for dirpath, dirs, names in os.walk(staging_dir):
        dirs.sort()
        for name in sorted(names):
            if name.startswith((".", "_")) or not name.endswith(".arrows"):
                continue
            yield os.path.join(dirpath, name)


def _partition_columns(root: str, files: list[str]) -> list[str]:
    """The Hive-layout partition-column chain of a table, inferred from
    its visible part files' directory segments (``col=value``).

    Files at the table root carry no segments and are ignored (they can
    exist on tables that predate partition-preserving rewrites).  The
    first partitioned file defines the chain; an inconsistent chain across
    files disables preservation entirely (conservative fallback: the flat
    rewrite, which is always correct because the writer also stores
    partition columns physically in the data)."""
    chain: list[str] | None = None
    for f in files:
        rel = os.path.relpath(os.path.dirname(f), root)
        if rel in (".", ""):
            continue
        cols: list[str] | None = []
        for seg in rel.split(os.sep):
            if "=" not in seg or seg.startswith("."):
                cols = None
                break
            name = seg.split("=", 1)[0]
            if name.startswith("__"):
                # synthetic layout dirs (the bucketBy writer's __sb=N)
                # are not data columns — a partitionBy on them would
                # fail; CoW preservation covers only the Hive chain.
                continue
            cols.append(name)
        if not cols:
            continue
        if chain is None:
            chain = cols
        elif chain != cols:
            return []
    return chain or []


def _cow_rewrite(
    spark: SparkSession,
    path: str,
    affected_rows,
    rewrite,
    appends=None,
    compression: str = "zstd",
    ipc_format: str = "file",
    scan_columns: list[str] | None = None,
    schema: StructType | None = None,
) -> dict:
    """Copy-on-write core shared by DELETE / UPDATE / MERGE — the
    Delta/Iceberg CoW model at part-file granularity.

    ``affected_rows(df)``: rows whose presence makes a part file affected
    (``df`` is the attributed snapshot read; the result must keep the
    attribution column).  ``rewrite(affected)``: the full replacement
    content for the affected files (attribution column still present on
    input; must be dropped in the output).  ``appends(df)``: optional
    extra rows to add alongside the rewrites (MERGE inserts).  When
    ``appends`` is given, ``rewrite`` must preserve row MULTIPLICITY
    (MERGE semantics — each affected-file row kept or replaced, never
    dropped/duplicated): the appended-row count is derived as staged
    total minus affected-file totals, since both writes share one
    staged job.
    ``scan_columns``: the columns ``affected_rows`` actually inspects
    (MERGE keys, DELETE/UPDATE predicate columns) — when given, the
    match scan (and the pruned frame handed to ``appends`` as its second
    argument) reads ONLY those from the columnar IPC files (plus the
    attribution column), so finding the affected 1% of a wide table
    decompresses a fraction of its bytes; the rewrite still reads full
    rows, but only from affected files.  ``appends`` receives
    ``(df, scan_df)``: the full attributed read for schema alignment and
    the column-pruned read for key probing.
    ``schema``: the TABLE schema, when the caller already holds it (a
    changefeed/time-travel chain that just read the table) — skips the
    internal full read's Python-datasource schema inference (one planner
    round trip, ~0.015 s on 4 cores; the attribution column is appended
    here, matching the reader's own composition rule).  Must equal the
    stored schema exactly; the read fails loudly on a mismatch.

    Scale shape: one distributed scan finds the affected file list (only
    file names + counts are collected, never rows); one distributed job
    rewrites just those files, read from a pin of only them, so the plan
    stays O(1) in the affected-file count; untouched files are not read
    again.  The swap is the ``_Rewrite`` commit.

    Returns ``{"rows_matched": n, "files_rewritten": k, "version": v?}``.
    """
    with _Rewrite(spark, path, "cow") as tx:
        if schema is not None:
            # Reader composition rule: selected columns, attribution last
            # (a non-nullable string — the reader always populates it).
            schema = StructType(list(schema.fields)
                                + [StructField(_FCOL, StringType(), False)])
        df = tx.read(schema=schema, filenameColumn=_FCOL)
        if scan_columns:
            # Derive the pruned read's schema from the full read instead of
            # a second inference pass — each Python-datasource schema
            # inference costs a plan-worker round trip (~0.015 s on 4
            # cores), and the composition rule is the reader's own
            # (selected columns in option order, attribution column last).
            pruned_schema = StructType(
                [df.schema[c] for c in scan_columns] + [df.schema[_FCOL]])
            scan_df = tx.read(schema=pruned_schema, filenameColumn=_FCOL,
                              columns=",".join(scan_columns))
        else:
            scan_df = df
        per_file = (affected_rows(scan_df).groupBy(_FCOL)
                    .agg(F.count(F.lit(1)).alias("n")).collect())
        affected = tx.origins(r[_FCOL] for r in per_file)
        rows_matched = sum(r["n"] for r in per_file)
        extra = appends(df, scan_df) if appends is not None else None
        if not affected and extra is None:
            return {"rows_matched": 0, "files_rewritten": 0,
                    "rows_appended": 0}

        # Preserve the table's Hive partition layout through the rewrite: a
        # flat rewrite would strand survivors at the table root, and every
        # mutation would erode directory pruning a bit more — after enough
        # CoW cycles a partition-filtered scan of a 100 TB table would read
        # most of it.  Staging with the same partitionBy keeps every
        # rewritten (and inserted) row under its col=value directory; an
        # UPDATE that changes a partition value migrates the row to its new
        # directory for free.  Correctness never depends on this (partition
        # columns are also stored physically in the data), only pruning
        # does.
        part_cols = _partition_columns(path, tx.visible)

        def _repart(out_df):
            # Preserve file granularity: rewriting K affected parts must
            # yield ~K parts, not one per shuffle partition — at cluster
            # settings a 4-file rewrite would otherwise emit hundreds of
            # tiny files (slower write, slower every later scan, bloated
            # manifests).  repartition(K), not coalesce(K): coalesce
            # propagates upstream without a shuffle barrier, capping the
            # MERGE/UPDATE join itself at K tasks — a one-file rewrite of a
            # huge table would run its join single-task.  The repartition
            # shuffles only the rewritten rows; join parallelism stays
            # independent of output file count.  Partitioned tables key the
            # shuffle by the partition columns so each output task holds
            # whole value-combos — otherwise K round-robin tasks × P live
            # combos would emit K·P small files.
            k = max(1, len(affected))
            if part_cols:
                return out_df.repartition(k, *[F.col(c) for c in part_cols])
            return out_df.repartition(k)

        out_df = None
        if affected:
            out_df = _repart(rewrite(
                tx.read(affected, schema=df.schema, filenameColumn=_FCOL)))
        if extra is not None:
            # Inserts ride the SAME staged write as the rewrites (union of
            # two explicit repartitions — partition sets concatenate, so
            # file granularity is unchanged): one Spark job instead of two,
            # each of which pays the Python-datasource fixed floor.
            # repartition (not coalesce — see above) bounds the tiny-file
            # fan-out a join-produced insert set would otherwise inherit
            # from spark.sql.shuffle.partitions; empty partitions produce
            # no files.
            ins = _repart(extra)
            out_df = ins if out_df is None else out_df.unionByName(ins)
        tx.stage(out_df, compression=compression, ipcFormat=ipc_format,
                 partitionBy=",".join(part_cols))
        n_extra = 0
        if extra is not None:
            # The staged rows = rewritten rows + inserted rows, and a
            # rewrite passed alongside ``appends`` preserves row
            # multiplicity (MERGE semantics: every affected-file row is
            # kept or replaced, never dropped or duplicated) — so the
            # insert count is the staged total minus the affected files'
            # row totals, both metadata-only reads (stats sidecars; bounded
            # by file count, not rows).
            # Asymmetry (by design): only the NEGATIVE violation — a
            # rewrite that DROPPED rows — is detectable, because the staged
            # total minus the affected totals then under-counts and goes
            # negative.  A rewrite that DUPLICATED rows alongside appends
            # is absorbed into n_extra and silently inflates rows_appended;
            # there is no cheap upper bound for the insert set (it is
            # join-produced, so its size is unknown until staged).  Callers
            # passing a rewrite with appends own the full multiplicity
            # contract.
            n_extra = tx.staged_rows() - tx.input_rows(affected)
            if n_extra < 0:
                raise RuntimeError(
                    "cow_rewrite: staged rows fewer than the affected "
                    f"files' totals ({n_extra}) — the rewrite passed "
                    "alongside appends dropped rows, violating the "
                    "multiplicity contract this accounting depends on")
        # dataChange hint for skipChangeCommits consumers: DELETE / UPDATE
        # rewrites carry no new logical rows; a MERGE whose not-matched arm
        # inserted rows does (n_extra > 0).
        promoted = tx.commit(remove=affected, adds_new_rows=n_extra > 0)
    out = {"rows_matched": rows_matched, "files_rewritten": len(promoted),
           "rows_appended": n_extra}
    if tx.version is not None:
        out["version"] = tx.version
    return out


def _retry_conflicts(op, max_retries: int):
    """Re-run a full mutation closure when its commit loses a write-write
    race.  Safe because the losing attempt cleaned up its unpublished
    output and the re-run re-pins the NEW latest snapshot — the retried
    semantics are "apply my mutation to current state", exactly what a
    concurrency-tolerant caller wants.  ``max_retries=0`` (the default on
    every mutation) keeps the strict fail-fast behavior."""
    attempt = 0
    while True:
        try:
            return op()
        except ConcurrentWriteConflict:
            if attempt >= max_retries:
                raise
            attempt += 1


def delete_arrowipc(
    spark: SparkSession,
    path: str,
    predicate: str,
    compression: str = "zstd",
    ipc_format: str = "file",
    predicate_columns: list[str] | None = None,
    max_retries: int = 0,
    schema=None,
) -> dict:
    """Row-level DELETE: remove rows matching a Spark SQL boolean
    ``predicate`` via the copy-on-write core (see ``_cow_rewrite`` for the
    scale shape and commit semantics).  ``predicate_columns``, when given,
    lets the match scan read only those columns from the columnar files.
    ``max_retries`` re-runs the whole mutation against the new snapshot
    when a concurrent commit wins the race (``ConcurrentWriteConflict``).

    Returns ``{"rows_deleted": n, "files_rewritten": k, "version": v?}``.
    """
    res = _retry_conflicts(lambda: _cow_rewrite(
        spark, path,
        affected_rows=lambda df: df.filter(predicate),
        scan_columns=predicate_columns,
        # SQL DELETE removes rows where the predicate is TRUE; rows where it
        # evaluates NULL (e.g. ``col = 5`` with col NULL) must SURVIVE.  A
        # bare ``~predicate`` is NULL for those rows and filter() drops them,
        # silently losing data in any rewritten file — so keep rows where the
        # predicate is not TRUE.
        rewrite=lambda aff: aff.filter(
            ~F.coalesce(F.expr(predicate), F.lit(False))).drop(_FCOL),
        compression=compression, ipc_format=ipc_format,
        schema=schema,
    ), max_retries)
    out = {"rows_deleted": res["rows_matched"],
           "files_rewritten": res["files_rewritten"]}
    if "version" in res:
        out["version"] = res["version"]
    return out


def update_arrowipc(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str],
    compression: str = "zstd",
    ipc_format: str = "file",
    predicate_columns: list[str] | None = None,
    max_retries: int = 0,
    schema=None,
) -> dict:
    """Row-level UPDATE: for rows matching ``predicate``, set each column
    in ``assignments`` to its Spark SQL expression (evaluated against the
    pre-update row, all assignments simultaneously — standard SQL UPDATE
    semantics).  Copy-on-write: only part files containing matching rows
    are rewritten; non-matching rows in those files are carried unchanged.
    ``max_retries`` as in ``delete_arrowipc``.

    Returns ``{"rows_updated": n, "files_rewritten": k, "version": v?}``.
    """

    def _rewrite(aff):
        cond = F.expr(predicate)
        # withColumns applies all assignments against the INPUT row set,
        # so assignments may reference columns that other assignments
        # modify without ordering effects.
        return aff.withColumns({
            col: F.when(cond, F.expr(expr)).otherwise(F.col(col))
            for col, expr in assignments.items()
        }).drop(_FCOL)

    res = _retry_conflicts(lambda: _cow_rewrite(
        spark, path,
        affected_rows=lambda df: df.filter(predicate),
        rewrite=_rewrite,
        compression=compression, ipc_format=ipc_format,
        scan_columns=predicate_columns,
        schema=schema,
    ), max_retries)
    out = {"rows_updated": res["rows_matched"],
           "files_rewritten": res["files_rewritten"]}
    if "version" in res:
        out["version"] = res["version"]
    return out


def merge_arrowipc(
    spark: SparkSession,
    path: str,
    source,
    key: str | list[str],
    compression: str = "zstd",
    ipc_format: str = "file",
    max_retries: int = 0,
    schema=None,
) -> dict:
    """Keyed upsert (the core of SQL MERGE): target rows whose ``key``
    appears in ``source`` are replaced by the source row; source rows with
    unseen keys are appended.  ``source`` must have the target's schema
    and unique keys (raises otherwise — a nondeterministic multi-match
    MERGE is an error per ANSI semantics).  Duplicate keys in the TARGET
    are allowed: every matching target row is replaced by the source
    version (ANSI WHEN MATCHED updates each matching row), so row
    multiplicity is preserved and ``rows_updated`` equals the rows
    actually rewritten.

    Copy-on-write: only part files containing matched keys are rewritten;
    inserts land as new part files in the same commit — one atomic
    manifest publish.  ``max_retries`` as in
    ``delete_arrowipc`` (the cached source is reused across retries).

    Returns ``{"rows_updated": n, "rows_inserted": m, "files_rewritten": k,
    "version": v?}``.
    """
    keys = [key] if isinstance(key, str) else list(key)
    src = source.cache()
    # One validation pass instead of two counts: total rows vs distinct key
    # tuples (struct → a NULL key field still forms a countable tuple).
    stats = src.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.struct(*keys)).alias("d"),
    ).collect()[0]
    if stats["d"] != stats["n"]:
        src.unpersist()
        raise ValueError("merge_arrowipc: source keys must be unique")

    def _aligned(df):
        """Source conformed to the target's columns and exact types —
        appended part files must be type-identical to existing ones (the
        scan takes one schema for the whole directory)."""
        return src.select([
            F.col(f.name).cast(f.dataType)
            for f in df.schema.fields if f.name != _FCOL
        ])

    def _rewrite(aff):
        # Keep unmatched rows; replace EACH matched target row with the
        # source version (inner join against the matched keys preserves
        # target-side multiplicity — N duplicate-key target rows stay N).
        cols = [f.name for f in aff.schema.fields if f.name != _FCOL]
        replaced = (
            aff.select(*keys).join(_aligned(aff), keys, "inner").select(*cols))
        return (
            aff.join(src.select(*keys), keys, "anti").drop(_FCOL)
            .unionByName(replaced)
        )

    try:
        res = _retry_conflicts(lambda: _cow_rewrite(
            spark, path,
            affected_rows=lambda df: df.join(src.select(*keys), keys, "semi"),
            rewrite=_rewrite,
            # Key-probe the pruned scan; align types from the full schema.
            appends=lambda df, scan_df: _aligned(df).join(
                scan_df.select(*keys), keys, "anti"),
            compression=compression, ipc_format=ipc_format,
            scan_columns=keys,
            schema=schema,
        ), max_retries)
    finally:
        src.unpersist()
    out = {"rows_updated": res["rows_matched"],
           "rows_inserted": res["rows_appended"],
           "files_rewritten": res["files_rewritten"]}
    if "version" in res:
        out["version"] = res["version"]
    return out


def vacuum_arrowipc(path: str, keep_versions: int = 1) -> dict:
    """Reclaim storage: drop all but the last
    ``keep_versions`` manifests and delete part files referenced ONLY by
    the dropped versions (the Delta ``VACUUM`` contract — compaction is a
    logical replace, vacuum is the physical delete).

    Safety: a file is removed only if some dropped manifest referenced it
    and no retained manifest does.  Files the manifests never mention
    (e.g. an appender's just-renamed-but-uncommitted part) are untouched.
    """
    import json

    versions = _manifest_versions(path)
    if not versions or keep_versions >= len(versions):
        return {"removed_files": 0, "removed_versions": 0,
                "retained_versions": versions}
    keep_versions = max(1, keep_versions)
    kept, dropped = versions[-keep_versions:], versions[:-keep_versions]
    retained: set[str] = set()
    kept_sets: dict[int, list[str]] = {}
    for v in kept:
        kept_sets[v] = _read_manifest(path, v)
        retained |= set(kept_sets[v])
    dropped_refs: set[str] = set()
    for v in dropped:
        dropped_refs |= set(_read_manifest(path, v))
    # Retained DELTA manifests may chain back through versions about to be
    # deleted: rewrite each retained manifest as a self-contained
    # checkpoint first (atomic replace; the content describes the same
    # visible set, so a concurrent reader sees either form, both valid).
    # Planning stats ride along so manifest-driven scans keep working.
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _read_manifest_entries,
    )

    for v in kept:
        doc = _load_manifest_doc(path, v)
        if "files" not in doc:
            ent = _read_manifest_entries(path, v)
            full = {"version": v, "files": sorted(ent),
                    "stats": {r: s for r, s in ent.items()
                              if s is not None}}
            # Preserve commit metadata across the rewrite (ADVICE r14):
            # dropping ts would skew timestampAsOf/startingTimestamp
            # resolution to the rewrite-time mtime, and dropping
            # adds_new_rows would let skipChangeCommits silently skip a
            # retained MIXED commit instead of failing on it.
            for meta in ("ts", "adds_new_rows"):
                if meta in doc:
                    full[meta] = doc[meta]
            commit_backend().put(_manifest_file(path, v),
                                 json.dumps(full).encode())
    removed = 0
    for f in sorted(dropped_refs - retained):
        if os.path.exists(f):
            os.remove(f)
            removed += 1
        sp = stats_path(f)
        if os.path.exists(sp):
            os.remove(sp)
    for v in dropped:
        os.remove(_manifest_file(path, v))
    return {"removed_files": removed, "removed_versions": len(dropped),
            "retained_versions": kept}


def restore_arrowipc(path: str, version: int) -> dict:
    """Snapshot RESTORE (the Delta ``RESTORE TABLE ... TO VERSION`` /
    Iceberg rollback): publish an old version's visible file set as a NEW
    head version.  History is preserved — the rollback is itself a commit,
    so the pre-restore head remains time-travelable until vacuum.

    The restored version's part files must still exist on disk (i.e. not
    yet vacuumed); missing files fail the restore naming them, BEFORE any
    manifest is written.

    Published as a self-contained REPLACE manifest: an explicit rollback
    defines the complete table state, so (like snapshot overwrite) it is
    last-writer-wins against concurrent appends rather than
    conflict-checked.

    Returns ``{"version": new_head, "restored_from": version, "files": n}``.
    """
    files = _read_manifest(path, version)  # raises if the version is gone
    missing = [f for f in files if not os.path.exists(f)]
    if missing:
        raise FileNotFoundError(
            f"cannot restore {path} to version {version}: part files "
            f"{missing} were vacuumed")
    new_v = _write_manifest(path, files, replace=True)
    return {"version": new_v, "restored_from": version, "files": len(files)}


def history_arrowipc(path: str) -> list[dict]:
    """``DESCRIBE HISTORY``-style metadata report, one entry per manifest
    version (oldest first): the commit's kind (``full`` = self-contained
    checkpoint/replace, ``delta`` = add/remove log entry), how many files
    it added and removed, and the visible file count after it.  Pure
    manifest reads — no data file is opened.
    """
    out: list[dict] = []
    visible: set[str] = set()
    # Single pass over the log: apply each doc incrementally instead of
    # re-walking the delta chain per version (O(V), not O(V²) reads).
    for v in _manifest_versions(path):
        doc = _load_manifest_doc(path, v)
        if "files" in doc:
            kind, added, removed = "full", len(doc["files"]), 0
            visible = set(doc["files"])
        else:
            kind = "delta"
            added = len(doc.get("add", []))
            removed = len(doc.get("remove", []))
            visible -= set(doc.get("remove", []))
            visible |= set(doc.get("add", []))
        out.append({
            "version": v,
            "kind": kind,
            "files_added": added,
            "files_removed": removed,
            "visible_files": len(visible),
        })
    return out


def schema_census_arrowipc(path: str) -> list[dict]:
    """Schema-drift report for a (possibly ``mergeSchema``) table: group
    the visible part files by their exact Arrow schema and report each
    distinct schema once with its file count and an example file — the
    "which files are still on the old schema?" question a column-add
    migration asks.  Opens footers only (O(files) metadata reads).
    """
    from bossarrowstorageengine_spark.sources.arrowipc import (
        _file_arrow_schema,
    )

    groups: dict[str, dict] = {}
    for f in _visible_file_set(path):
        schema = _file_arrow_schema(f)
        key = ", ".join(f"{fld.name}:{fld.type}" for fld in schema)
        g = groups.setdefault(
            key, {"schema": key, "n_files": 0, "example": f})
        g["n_files"] += 1
    return sorted(groups.values(), key=lambda g: -g["n_files"])
