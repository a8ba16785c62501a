"""Storage-maintenance operations for the ``arrowipc`` layout.

A storage engine's table directories degrade under streaming/appending
ingest: many small part files (one per micro-batch task) make listings,
footers, and per-file task overhead dominate.  ``compact_arrowipc``
rewrites a directory into few large files — the Arrow-IPC equivalent of
parquet compaction / Delta ``OPTIMIZE``.

Scale design: the rewrite IS a Spark job — ``spark.read.format("arrowipc")``
→ ``repartition(target_files)`` → ``write.format("arrowipc")`` — so
compaction parallelizes across the cluster like any other query; nothing
passes through the driver.  The swap is a two-phase directory commit:
new files land under a hidden ``.compact-*`` staging dir (each part file
itself atomic via the writer's tmp+rename), then replace the old parts.
On a real object store the swap would be a manifest/transaction-log flip;
the staging + atomic-per-file pattern is the same.
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
    _list_ipc_files,
    _load_manifest_doc,
    _manifest_file,
    _manifest_versions,
    _read_manifest,
    _write_manifest,
    register_arrowipc,
    stats_path,
)


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

    Returns ``{"files_before": n, "files_after": m, "rows": r}``.
    The read is the normal distributed scan (batch-range splits), the
    write the normal distributed writer; the directory swap happens only
    after every new part file has committed.
    """
    register_arrowipc(spark)
    # On a snapshotted table, compact the latest COMMITTED set (the
    # manifest), never the raw listing: a directory listing can include an
    # in-flight appender's renamed-but-uncommitted part, which must be
    # neither rewritten (its own commit would later double its rows) nor
    # deleted.
    versions = _manifest_versions(path)
    before = (_read_manifest(path, versions[-1]) if versions
              else _list_ipc_files(path))

    # Pin the input to the snapshot: hard-link (fall back to copy) exactly
    # the `before` file set into a hidden source dir and scan THAT, so the
    # rewrite and the deletion cover the same files even if
    # a concurrent appender lands new parts mid-compaction (those survive
    # untouched — they are neither rewritten nor removed).
    snapshot = os.path.join(path, f".compact-src-{uuid.uuid4().hex}")
    os.makedirs(snapshot, exist_ok=True)
    for old in before:
        for src in (old, stats_path(old)):
            if not os.path.exists(src):
                continue
            # keep relative layout: partitioned (col=value) part files may
            # share basenames across subdirectories
            dst = os.path.join(snapshot, os.path.relpath(src, path))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)

    reader = spark.read.format("arrowipc")
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load(snapshot)

    # Keep the table's Hive partition layout through compaction (same
    # rationale as the CoW rewrite): target_files bounds the shuffle
    # width, the partitionBy write splits each task's rows back into
    # their col=value directories, and keying the repartition by the
    # partition columns keeps the output near one file per (task, combo)
    # instead of target_files × combos.
    part_cols = _partition_columns(path, before)
    staging = os.path.join(path, f".compact-{uuid.uuid4().hex}")
    if zorder:
        from bossarrowstorageengine_spark.functions.zorder import (
            morton16, norm10)

        zcols = [c.strip() for c in zorder.split(",")]
        if len(zcols) != 2:
            raise ValueError("zorder requires exactly two columns")
        if any(c in part_cols for c in zcols):
            raise ValueError(
                "zorder columns overlap the partition columns — a "
                "partition column is constant per directory and cannot "
                "be a curve dimension")
        a, b = (F.col(c) for c in zcols)
        # Bounds from a projection-narrowed scan (metadata-cheap columns
        # only), broadcast back to the mappers like write_zorder_orders.
        bounds = (spark.read.format("arrowipc")
                  .option("columns", ",".join(zcols)).load(snapshot)
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
    writer = (
        repartitioned
        .write.format("arrowipc")
        .option("compression", compression)
        .option("ipcFormat", ipc_format)
        .mode("append")
    )
    if part_cols:
        writer = writer.option("partitionBy", ",".join(part_cols))
    if dictionary:
        writer = writer.option("dictionary", dictionary)
    writer.save(staging)
    # Row count for the report comes from the staged files' stats sidecars
    # (written by the writer as it streams) — metadata only, so compaction
    # runs ONE scan of the input, not a count scan plus a rewrite scan.
    rows = _staged_rows(staging)

    # Swap.  On a snapshotted table (manifests present) the swap is LOGICAL:
    # promote the new parts, then publish one manifest version whose visible
    # set replaces the compacted inputs with their rewrite — readers flip
    # atomically from old parts to new, concurrent appender commits survive
    # (the removal set is applied inside the manifest CAS retry loop), and
    # the old parts stay on disk so time travel to pre-compaction versions
    # keeps working until `vacuum_arrowipc` reclaims them.  On a plain
    # directory there is no manifest to flip, so the swap is physical:
    # delete old parts, promote new.
    snapshotted = bool(versions)
    if not snapshotted:
        for old in before:
            os.remove(old)
            sp = stats_path(old)
            if os.path.exists(sp):
                os.remove(sp)
    promoted = 0
    promoted_paths: list[str] = []
    # Recursive promotion (sidecars move with their data file): a
    # partition-preserving stage writes into col=value subdirectories.
    for src, _ in _walk_staged_parts(staging):
        dst = os.path.join(path, os.path.relpath(src, staging))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
        sp = stats_path(src)
        if os.path.exists(sp):
            os.replace(sp, stats_path(dst))
        promoted += 1
        promoted_paths.append(dst)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(snapshot, ignore_errors=True)
    out = {"files_before": len(before), "files_after": promoted, "rows": rows}
    if snapshotted:
        try:
            out["version"] = _write_manifest(
                path, promoted_paths, replace=False, remove=before,
                adds_new_rows=False)
        except ConcurrentWriteConflict:
            # Same orphan-cleanup rule as the CoW rewrite: an unpublished
            # compaction output is invisible and must not linger.
            for p in promoted_paths:
                for victim in (p, stats_path(p)):
                    try:
                        os.remove(victim)
                    except FileNotFoundError:
                        pass
            raise
    return out


#: Column name the copy-on-write scans use for part-file attribution.
_FCOL = "_part_file"

#: Largest affected-file set expressed as an In-literal filter; above this
#: the allowlist goes to the reader via a file (``fileListPath``) so the
#: Catalyst plan stays O(1) in the number of rewritten files.
_INLIST_MAX = 32


def _part_row_count(p: str) -> int:
    """Row count of one part file: the stats sidecar when present (our
    writer always emits one), else a direct pyarrow read — the fallback
    only runs for foreign/sidecar-less files and is bounded by the file
    count of the set being measured.  A sidecar missing its ``rows``
    field falls through to the pyarrow read too: defaulting it to 0
    would silently corrupt row accounting."""
    import json

    sp = stats_path(p)
    if os.path.exists(sp):
        try:
            with open(sp) as f:
                rows = json.load(f).get("rows")
        except (ValueError, OSError):
            rows = None
        if rows is not None:
            return rows
    from bossarrowstorageengine_spark.sources.arrowipc import _is_file_format

    with pa.OSFile(p, "rb") as f:
        if _is_file_format(p):
            r = pa.ipc.open_file(f)
            return sum(r.get_batch(i).num_rows
                       for i in range(r.num_record_batches))
        return sum(b.num_rows for b in pa.ipc.open_stream(f))


def _staged_rows(staging_dir: str) -> int:
    """Total rows across a staging directory's part files (including
    Hive-style ``col=value`` subdirectories a partition-preserving stage
    writes) — stats sidecars where present (the normal case: our writer
    always emits them; no Spark job), pyarrow reads otherwise so a
    missing sidecar can never silently undercount."""
    return sum(_part_row_count(p)
               for p, _rows in _walk_staged_parts(staging_dir))


def _walk_staged_parts(staging_dir: str):
    """Yield ``(part_file_path, None)`` for every ``*.arrows`` under a
    staging dir, depth-first in sorted order (deterministic promotion)."""
    if not os.path.isdir(staging_dir):
        return
    for dirpath, dirs, names in os.walk(staging_dir):
        dirs.sort()
        for name in sorted(names):
            if name.startswith((".", "_")) or not name.endswith(".arrows"):
                continue
            yield os.path.join(dirpath, name), None


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
    rewrites just those files; untouched files are not read again.  On a
    snapshotted table the swap is one replace-manifest commit through the
    ConditionalPut CAS (old parts retained for time travel until vacuum);
    otherwise affected files are physically replaced.

    Returns ``{"rows_matched": n, "files_rewritten": k, "version": v?}``.
    """
    register_arrowipc(spark)
    versions = _manifest_versions(path)
    snapshotted = bool(versions)
    visible = (_read_manifest(path, versions[-1]) if snapshotted
               else _list_ipc_files(path))

    # Pin the input set (hard-link mirror), exactly like compaction: the
    # scan, the rewrite, and the swap must all cover the same files even if
    # appenders land new parts mid-operation.
    pin = os.path.join(path, f".cow-src-{uuid.uuid4().hex}")
    os.makedirs(pin, exist_ok=True)
    pinned_to_orig: dict[str, str] = {}
    for orig in visible:
        for src in (orig, stats_path(orig)):
            if not os.path.exists(src):
                continue
            dst = os.path.join(pin, os.path.relpath(src, path))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        pinned_to_orig[os.path.join(pin, os.path.relpath(orig, path))] = orig

    full_read = spark.read.format("arrowipc").option("filenameColumn", _FCOL)
    if schema is not None:
        # Reader composition rule: selected columns, attribution last
        # (a non-nullable string — the reader always populates it).
        full_read = full_read.schema(StructType(
            list(schema.fields)
            + [StructField(_FCOL, StringType(), False)]))
    df = full_read.load(pin)
    if scan_columns:
        # Derive the pruned read's schema from the full read instead of a
        # second inference pass — each Python-datasource schema inference
        # costs a plan-worker round trip (~0.015 s on 4 cores), and the
        # composition rule is the reader's own
        # (selected columns in option order, attribution column last).
        pruned_schema = StructType(
            [df.schema[c] for c in scan_columns] + [df.schema[_FCOL]])
        scan_df = (spark.read.format("arrowipc")
                   .option("filenameColumn", _FCOL)
                   .option("columns", ",".join(scan_columns))
                   .schema(pruned_schema).load(pin))
    else:
        scan_df = df
    per_file = (affected_rows(scan_df).groupBy(_FCOL)
                .agg(F.count(F.lit(1)).alias("n")).collect())
    affected_pinned = [r[_FCOL] for r in per_file]
    rows_matched = sum(r["n"] for r in per_file)
    affected_orig = [pinned_to_orig[p] for p in affected_pinned]
    extra = appends(df, scan_df) if appends is not None else None
    if not per_file and extra is None:
        shutil.rmtree(pin, ignore_errors=True)
        return {"rows_matched": 0, "files_rewritten": 0, "rows_appended": 0}

    staging = os.path.join(path, f".cow-{uuid.uuid4().hex}")

    # Preserve the table's Hive partition layout through the rewrite: a
    # flat rewrite would strand survivors at the table root, and every
    # mutation would erode directory pruning a bit more — after enough
    # CoW cycles a partition-filtered scan of a 100 TB table would read
    # most of it.  Staging with the same partitionBy keeps every rewritten
    # (and inserted) row under its col=value directory; an UPDATE that
    # changes a partition value migrates the row to its new directory for
    # free.  Correctness never depends on this (partition columns are also
    # stored physically in the data), only pruning does.
    part_cols = _partition_columns(path, visible)

    def _stage(out_df, into=None):
        writer = (out_df.write.format("arrowipc")
                  .option("compression", compression)
                  .option("ipcFormat", ipc_format))
        if part_cols:
            writer = writer.option("partitionBy", ",".join(part_cols))
        writer.mode("append").save(into or staging)

    def _repart(out_df, k: int):
        # Flat tables: round-robin repartition(K) (see the rewrite note
        # below).  Partitioned tables: key the shuffle by the partition
        # columns so each output task holds whole value-combos — otherwise
        # K round-robin tasks × P live combos would emit K·P small files.
        if part_cols:
            return out_df.repartition(k, *[F.col(c) for c in part_cols])
        return out_df.repartition(k)

    rewritten_schema = None
    if affected_pinned:
        if len(affected_pinned) <= _INLIST_MAX:
            # Small file set: an In-literal on the attribution column, which
            # the reader's pushFilters turns into file-level task pruning.
            aff_df = df.filter(F.col(_FCOL).isin(affected_pinned))
        else:
            # Many affected files: a giant In literal bloats the Catalyst
            # plan (one expression node per file) and slows optimization.
            # Hand the reader the allowlist as a FILE (one path string in
            # the plan, O(1) expression size); planning prunes to exactly
            # those files, same as the In pushdown.
            list_file = os.path.join(pin, ".affected-files.json")
            import json

            with open(list_file, "w") as lf:
                json.dump(affected_pinned, lf)
            aff_df = (spark.read.format("arrowipc")
                      .option("filenameColumn", _FCOL)
                      .option("fileListPath", list_file)
                      .schema(df.schema).load(pin))
        rewritten = rewrite(aff_df)
        rewritten_schema = rewritten.schema
        # Preserve file granularity: rewriting K affected parts must yield
        # ~K parts, not one per shuffle partition — at cluster settings a
        # 4-file rewrite would otherwise emit hundreds of tiny files
        # (slower write, slower every later scan, bloated manifests).
        # repartition(K), not coalesce(K): coalesce propagates upstream
        # without a shuffle barrier, capping the MERGE/UPDATE join itself
        # at K tasks — a one-file rewrite of a huge table would run its
        # join single-task.  The repartition shuffles only the rewritten
        # rows; join parallelism stays independent of output file count.
        out_df = _repart(rewritten, max(1, len(affected_pinned)))
    else:
        out_df = None
    if extra is not None:
        # Inserts ride the SAME staged write as the rewrites (union of
        # two explicit repartitions — partition sets concatenate, so file
        # granularity is unchanged): one Spark job instead of two, each of
        # which pays the Python-datasource fixed floor (~0.13 s for a
        # 25-row append on 4 cores).
        # repartition (not coalesce — see above) bounds the tiny-file
        # fan-out a join-produced insert set would otherwise inherit from
        # spark.sql.shuffle.partitions; empty partitions produce no files.
        ins = _repart(extra, max(1, len(affected_pinned) or 1))
        out_df = ins if out_df is None else out_df.unionByName(ins)
    if out_df is not None:
        _stage(out_df)
    n_extra = 0
    if extra is not None:
        # The staged rows = rewritten rows + inserted rows, and a rewrite
        # passed alongside ``appends`` preserves row multiplicity (MERGE
        # semantics: every affected-file row is kept or replaced, never
        # dropped or duplicated) — so the insert count is the staged
        # total minus the affected files' row totals, both metadata-only
        # reads (stats sidecars; bounded by file count, not rows).
        # Asymmetry (by design): only the NEGATIVE violation — a rewrite
        # that DROPPED rows — is detectable, because the staged total
        # minus the affected totals then under-counts and goes negative.
        # A rewrite that DUPLICATED rows alongside appends is absorbed
        # into n_extra and silently inflates rows_appended; there is no
        # cheap upper bound for the insert set (it is join-produced, so
        # its size is unknown until staged).  Callers passing a rewrite
        # with appends own the full multiplicity contract.
        n_extra = _staged_rows(staging) - sum(
            _part_row_count(p) for p in affected_pinned)
        if n_extra < 0:
            raise RuntimeError(
                "cow_rewrite: staged rows fewer than the affected files' "
                f"totals ({n_extra}) — the rewrite passed alongside "
                "appends dropped rows, violating the multiplicity "
                "contract this accounting depends on")

    if not snapshotted:
        for old in affected_orig:
            os.remove(old)
            sp = stats_path(old)
            if os.path.exists(sp):
                os.remove(sp)
    promoted: list[str] = []
    for stg in (staging,):
        if not os.path.isdir(stg):
            continue
        # Recursive promotion: a partition-preserving stage writes into
        # col=value subdirectories; each part file keeps its relative path
        # under the table root.
        for src, _ in _walk_staged_parts(stg):
            dst = os.path.join(path, os.path.relpath(src, stg))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
            sp = stats_path(src)
            if os.path.exists(sp):
                os.replace(sp, stats_path(dst))
            promoted.append(dst)
        shutil.rmtree(stg, ignore_errors=True)
    shutil.rmtree(pin, ignore_errors=True)
    if (not snapshotted and affected_orig and not promoted
            and not _list_ipc_files(path, missing_ok=True)):
        # The operation emptied the table (e.g. DELETE matched every row of
        # every file).  A plain directory with zero part files is unreadable
        # (no file to infer schema from), so leave one empty schema-bearing
        # part behind — the arrowipc equivalent of a table that exists but
        # holds no rows.  Snapshotted tables don't need this: old parts
        # remain on disk for schema inference and the manifest defines the
        # (empty) visible set.
        from pyspark.sql.pandas.types import to_arrow_schema

        out_schema = rewritten_schema if rewritten_schema is not None else (
            StructType([f for f in df.schema.fields if f.name != _FCOL]))
        arrow_schema = to_arrow_schema(out_schema)
        marker = os.path.join(path, f"part-empty-{uuid.uuid4().hex}.arrows")
        tmp = marker + ".tmp"
        with pa.OSFile(tmp, "wb") as f:
            with pa.ipc.new_file(f, arrow_schema):
                pass
        os.replace(tmp, marker)
        promoted.append(marker)
    out = {"rows_matched": rows_matched, "files_rewritten": len(promoted),
           "rows_appended": n_extra}
    if snapshotted and (promoted or affected_orig):
        try:
            # dataChange hint for skipChangeCommits consumers: DELETE /
            # UPDATE rewrites carry no new logical rows; a MERGE whose
            # not-matched arm inserted rows does (n_extra > 0).
            out["version"] = _write_manifest(
                path, promoted, replace=False, remove=affected_orig,
                adds_new_rows=n_extra > 0)
        except ConcurrentWriteConflict:
            # Our commit lost a write-write race: the promoted files were
            # never published, so no reader can reference them — remove
            # them rather than leave permanent orphans (vacuum never
            # touches unmanifested files, by design).  The caller re-runs
            # the mutation against the new snapshot.
            for p in promoted:
                for victim in (p, stats_path(p)):
                    try:
                        os.remove(victim)
                    except FileNotFoundError:
                        pass
            raise
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
    replace-manifest publish on snapshotted tables.  ``max_retries`` as in
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
    """Reclaim storage on a snapshotted table: drop all but the last
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
            tmp = _manifest_file(path, v) + f".ckpt-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(full, f)
            os.replace(tmp, _manifest_file(path, v))
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
        _manifest_versions,
        _read_manifest,
    )

    versions = _manifest_versions(path)
    files = (_read_manifest(path, versions[-1]) if versions
             else _list_ipc_files(path))
    groups: dict[str, dict] = {}
    for f in sorted(files):
        schema = _file_arrow_schema(f)
        key = ", ".join(f"{fld.name}:{fld.type}" for fld in schema)
        g = groups.setdefault(
            key, {"schema": key, "n_files": 0, "example": f})
        g["n_files"] += 1
    return sorted(groups.values(), key=lambda g: -g["n_files"])
