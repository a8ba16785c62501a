"""``arrowipc`` — Arrow IPC file data source with compression (the flagship
storage capability; SURVEY.md §2 B.1 ``q_scan_arrow_roundtrip``, §7 Phase 3).

The reference project is an *Arrow-format storage engine* (name and
``-DARROW_STATIC`` intent at ``/root/reference/CMakeLists.txt:2,103``,
namespace ``boss::engines::arrow_storage`` at
``/root/reference/Source/BOSSArrowStorageEngine.hpp:17``); its snapshot
contains no Arrow code, so this module re-expresses that role through the
documented PySpark 4 Python Data Source API (SURVEY.md §1.3).

Design:

- **Write path** (``DataSourceArrowWriter``): each task streams its Arrow
  RecordBatches into one ``part-*.arrows`` IPC file with zstd/lz4/none
  buffer compression.  Per-column min/max stats for every batch are
  computed on the fly and written to a stats sidecar.  Tasks write into
  the writer's hidden staging directory; the commit promotes the parts
  into the table and publishes the next manifest version, and ``abort``
  removes the staging directory (commit protocol per SURVEY.md §7
  Phase 3).
- **Read path** (``DataSourceReader``): every input partition is a list
  of ``(path, batch indices, stream seek)`` items read by one loop.  A
  big IPC file splits into several batch-range tasks (``batchesPerSplit``,
  default 8 batches ≈ 0.5-1 M rows per task), so a directory of few huge
  files still fans out across a 1000-executor cluster; the files that
  plan as one task are packed into shared tasks by Spark's
  ``FilePartition`` rule (each file costs its size plus a 4 MiB open
  cost, target ``min(128 MiB, max(4 MiB, total / usable CPUs))``), so a
  table of many small files costs a few tasks, not one per file.
  ``pushFilters`` accepts simple
  comparisons and prunes (a) whole files via footer stats before tasks
  launch, and (b) record batches per task via batch stats.  Batches are
  yielded as Arrow RecordBatches (zero row-at-a-time Python).
- **Column pruning**: the engine-facing helpers accept a ``columns``
  option; Arrow IPC is columnar so unrequested columns are never
  decompressed.
- **Streaming read** (``DataSourceStreamReader``): micro-batch source over
  the same directory layout — manifest-version offsets; a micro-batch's
  new files are packed into tasks like a batch read's.
- **Streaming write** (``DataSourceStreamArrowWriter``): each micro-batch
  is one batch-writer commit (one manifest version), so the sink's
  output is itself streamable.
- **Both IPC encodings**: the random-access *file* format (default; magic
  ``ARROW1`` header, footer with batch offsets → batch-range task splits)
  and the sequential *stream* format (``ipcFormat=stream``; no footer, so
  one task per file — the wire/append-log encoding).  Readers sniff the
  encoding from the first bytes, so a directory may mix both.
- **Dictionary encoding** (``dictionary=col,...``, stream format only —
  the IPC file format rejects per-batch dictionary replacement): listed
  columns are dictionary-encoded per batch on write (big win for
  low-cardinality strings) and transparently decoded on read, so the
  Spark-facing schema stays plain.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import uuid
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Sequence

import pyarrow as pa

from pyspark.sql.datasource import (
    CaseInsensitiveDict,
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from .._worker_daemon import freeze_heap, unzip_import_path

# Spark runs each planner call of this source in a reused worker forked from
# a plain ``pyspark.daemon``, with pyspark imported from ``pyspark.zip``;
# every call unpickles this source, so unzipping the worker's import path
# and freezing its heap here spare its later calls the zip rescan and most
# of the daemon's after-call ``gc.collect()`` (``_worker_daemon``).
if getattr(getattr(sys.modules.get("__main__"), "__spec__", None),
           "name", None) == "pyspark.daemon":
    unzip_import_path(os.environ.get("SPARK_HOME"))
    freeze_heap()

FORMAT_NAME = "arrowipc"


class ConcurrentWriteConflict(RuntimeError):
    """A manifest commit tried to remove part files no longer visible —
    a concurrent commit rewrote or removed them first.  Blindly retrying
    would publish a second rewrite of the same rows (duplication), so the
    mutation must be re-run against the new snapshot."""


def _local_path(path: str | None) -> str | None:
    """Normalize a possibly URI-schemed path to a plain local path.  SQL DDL
    (``CREATE TABLE ... USING arrowipc``) hands the data source
    ``file:/...`` / ``file:///...`` URIs where the DataFrame API passes
    bare paths; both must address the same directory."""
    if path is None:
        return None
    if path.startswith("file://"):
        rest = path[len("file://"):]
        return rest or "/"
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def stats_path(data_path: str) -> str:
    """Sidecar stats file for a part file (underscore prefix keeps it out
    of data-file listings, mirroring Spark's ``_SUCCESS``-style markers)."""
    d, base = os.path.split(data_path)
    return os.path.join(d, f"_{base}.stats.json")


# -- the manifest log (snapshots, time travel) ------------------------------
#
# Every engine commit publishes `_manifest-N.json`, the table-relative part
# files visible at version N: batch writes, stream-sink micro-batches and
# the maintenance rewrites (`sources.maintenance._Rewrite`) alike.  A read
# sees exactly the latest manifest's files, or version N's with `version=N`
# — snapshot isolation against concurrent writers, and time travel to any
# retained version.  Parts superseded by compaction or a copy-on-write
# DELETE/UPDATE/MERGE stay on disk until vacuum, invisible to readers.  The
# underscore prefix keeps manifests out of data-file listings.  This is the
# transaction-log pattern (Delta/Iceberg) at directory scale; on an object
# store the same JSON would live in the log prefix.
#
# A directory that no engine write has touched (parts written by another
# tool) has no log, and reads see its listing, read-only.  The first engine
# write or rewrite converts it (Delta's CONVERT TO DELTA): `_ensure_log`
# publishes a checkpoint of the listing before any task runs.  Engine
# writers stage their parts in a hidden directory until their commit, so
# that checkpoint can never name another writer's uncommitted part.


def _visible_entries(path: str, version=None) -> dict[str, dict | None]:
    """``{absolute part path: manifest planning stats | None}`` a read may
    see: manifest ``version``, else the latest manifest, else (a directory
    without a log) the live listing, whose entries carry no manifest
    stats — planning falls back to per-file sidecars."""
    if version is None:
        versions = _manifest_versions(path)
        if not versions:
            return {p: None for p in _list_ipc_files(path)}
        version = versions[-1]
    return {os.path.join(path, rel): s
            for rel, s in _read_manifest_entries(path, int(version)).items()}


def _visible_file_set(path: str, version=None) -> List[str]:
    """The file set a read may see (sorted absolute paths)."""
    return sorted(_visible_entries(path, version))


def _ensure_log(path: str) -> int | None:
    """The head version of the table at ``path``, first converting a
    directory without a log: publish a checkpoint of its current listing.
    None for a directory with neither a log nor a part file — a new table,
    whose first commit becomes version 1.  Called where a write or rewrite
    is set up on the driver, before any of its tasks runs."""
    versions = _manifest_versions(path)
    if versions:
        return versions[-1]
    files = _list_ipc_files(path, missing_ok=True)
    if not files:
        return None
    try:
        return _write_manifest(path, files, replace=True, expected_prev=0)
    except ConcurrentWriteConflict:
        return _manifest_versions(path)[-1]  # converted by a concurrent writer


def _manifest_file(path: str, version: int) -> str:
    return os.path.join(path, f"_manifest-{version:010d}.json")


def _manifest_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        if name.startswith("_manifest-") and name.endswith(".json"):
            try:
                out.append(int(name[len("_manifest-"):-len(".json")]))
            except ValueError:
                continue
    return sorted(out)


#: Write a self-contained (full file list) manifest every Nth version; the
#: versions in between are O(Δ) deltas.  Reconstruction cost is bounded by
#: one checkpoint read + at most this many delta reads.
_CHECKPOINT_EVERY = 16

#: Synthetic directory column of the bucketBy write layout: rows land
#: under ``__sb=<key % buckets>`` (innermost level).  The double
#: underscore marks it layout metadata — it is never a data column,
#: partition-chain inference skips it, and ``groupByBucket`` reads plan
#: one input partition per value so same-key rows from EVERY write job
#: (base + delta segments) co-locate without a shuffle.
_SBUCKET_COL = "__sb"


def _bucket_ids(keys: pa.ChunkedArray, col: str, n_buckets: int) -> pa.Array:
    """``pmod(key, n_buckets)`` as int32, computed with pyarrow integer
    kernels end-to-end (ADVICE r14: the previous ``to_pandas()`` route
    coerced a nullable int64 batch to float64, so a null mapped to a
    garbage ``__sb`` dir and keys beyond 2^53 could bucket differently
    than ``compact_index``'s exact ``F.pmod`` — silently breaking the
    fixed-bucket-function co-location contract).  Matches Spark's
    ``pmod`` exactly, including negative keys; nulls fail loudly."""
    import pyarrow.compute as pc

    if keys.null_count:
        raise ValueError(
            f"bucketBy column {col!r} contains {keys.null_count} null(s); "
            "bucket routing requires non-null integer keys")
    if not pa.types.is_integer(keys.type):
        raise TypeError(
            f"bucketBy column {col!r} must be an integer type, got "
            f"{keys.type}")
    k = keys.cast(pa.int64())  # checked: overflow raises, never wraps
    n = pa.scalar(n_buckets, pa.int64())
    rem = pc.subtract_checked(
        k, pc.multiply_checked(pc.divide_checked(k, n), n))
    pmod = pc.if_else(pc.less(rem, 0), pc.add_checked(rem, n), rem)
    return pmod.cast(pa.int32()).combine_chunks()


def _commit_ts(path: str, version: int) -> float:
    """Commit wall-clock of a manifest version: the ``ts`` the commit
    recorded (round 13+), else the manifest file's mtime (pre-existing
    tables) — the ``startingTimestamp`` resolution anchor."""
    doc = _load_manifest_doc(path, version)
    ts = doc.get("ts")
    if ts is not None:
        return float(ts)
    return os.path.getmtime(_manifest_file(path, version))


def _parse_ts_option(raw: str) -> float:
    """``startingTimestamp`` value → epoch seconds: a number is epoch
    seconds as-is; otherwise ISO-8601 (naive = UTC, the cross-machine-
    safe reading for a stored anchor)."""
    try:
        return float(raw)
    except ValueError:
        pass
    from datetime import datetime, timezone

    try:
        dt = datetime.fromisoformat(raw)
    except ValueError as exc:
        raise ValueError(
            f"arrowipc stream reader: startingTimestamp={raw!r} is "
            "neither epoch seconds nor ISO-8601") from exc
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def _version_as_of(path: str, want: float) -> int:
    """Batch time travel by timestamp (Delta's ``timestampAsOf``): the
    NEWEST manifest version whose effective commit time is at or before
    the anchor.  Commit times are canonicalized monotonic with a running
    max (the same rule the stream reader's ``startingTimestamp`` uses),
    so a ts dip (mtime fallback, clock skew) can never resolve the
    anchor to a version that a later-committed-but-earlier-stamped
    version would contradict."""
    eff = float("-inf")
    best: int | None = None
    versions = _manifest_versions(path)
    for v in versions:
        eff = max(eff, _commit_ts(path, v))
        if eff <= want:
            best = v
        else:
            break
    if best is None:
        if not versions:
            raise ValueError(
                f"arrowipc timestampAsOf: no snapshot manifests under "
                f"{path} — time travel needs a snapshotted table")
        raise ValueError(
            f"arrowipc timestampAsOf: anchor predates the first commit "
            f"(version {versions[0]}) of {path} — the earliest "
            "travelable state is version "
            f"{versions[0]}")
    return best


def _load_manifest_doc(path: str, version: int) -> dict:
    mf = _manifest_file(path, version)
    if not os.path.exists(mf):
        raise FileNotFoundError(
            f"arrowipc snapshot version {version} not found under {path} "
            f"(have: {_manifest_versions(path)})")
    try:
        with open(mf) as f:
            return json.load(f)
    except ValueError as exc:
        # A manifest defines the visible file set — failing is correct,
        # but the error must NAME the unreadable manifest.
        raise ValueError(f"corrupt arrowipc manifest {mf}: {exc}") from exc


def _load_sidecar(part_path: str) -> dict | None:
    """Stats sidecar of a part file, or None if absent or unreadable.

    Sidecars are pure planning OPTIMIZATIONS (min/max pruning, metadata
    row counts) — a corrupt one must degrade to "no stats" (full scan of
    that file, no pruning), never fail the query."""
    sp = stats_path(part_path)
    if not os.path.exists(sp):
        return None
    try:
        with open(sp) as f:
            doc = json.load(f)
    except (ValueError, OSError):
        import warnings

        warnings.warn(f"ignoring corrupt arrowipc stats sidecar {sp}")
        return None
    # Staleness fingerprint (ADVICE r7): the writer records the finished
    # part's byte length; if the file on disk no longer matches (a
    # foreign tool rewrote it in place), NOTHING in the sidecar can be
    # trusted — not just the seek offsets but the min/max pruning stats
    # and the batch count, any of which would silently drop rows of the
    # rewritten content.  Degrade to "no stats", same as corruption.
    recorded = doc.get("file_bytes")
    if recorded is not None:
        try:
            actual = os.path.getsize(part_path)
        except OSError:
            return None
        if actual != recorded:
            import warnings

            warnings.warn(
                f"ignoring stale arrowipc stats sidecar {sp}: part file "
                f"is {actual} bytes, sidecar recorded {recorded}")
            return None
    return doc


def _read_manifest_entries(path: str, version: int) -> dict[str, dict | None]:
    """``{relative part path: manifest stats | None}`` visible at
    ``version``.

    A manifest is either a CHECKPOINT (``{"files": [...]}`` — the full
    visible set, self-contained) or a DELTA (``{"add": [...], "remove":
    [...]}`` — the change against the previous version).  Reconstruction
    walks back to the nearest checkpoint (bounded by ``_CHECKPOINT_EVERY``)
    and folds the deltas forward — the Delta-log checkpoint pattern, so
    commit cost is O(changed files), not O(table files).

    ``stats`` (``{rel: {"cols": {col: [min,max]}, "n_batches": n}}``) ride
    the log so SCAN PLANNING is manifest-driven: file-level pruning and
    batch-range splitting read the log chain instead of opening one sidecar
    JSON per part file — O(log) planning instead of O(table files), the
    reason Delta keeps stats in the transaction log."""
    deltas: list[dict] = []
    v = version
    while True:
        doc = _load_manifest_doc(path, v)
        if "files" in doc:
            stats = doc.get("stats", {})
            entries = {rel: stats.get(rel) for rel in doc["files"]}
            break
        deltas.append(doc)
        v -= 1
        if v < 1:
            raise ValueError(
                f"arrowipc manifest chain for version {version} under "
                f"{path} has no checkpoint ancestor")
    for doc in reversed(deltas):
        for rel in doc.get("remove", ()):
            entries.pop(rel, None)
        stats = doc.get("stats", {})
        for rel in doc.get("add", ()):
            entries[rel] = stats.get(rel)
    return entries


def _read_manifest(path: str, version: int) -> list[str]:
    """Absolute part-file paths visible at ``version`` (sorted)."""
    return sorted(os.path.join(path, rel)
                  for rel in _read_manifest_entries(path, version))


class ConditionalPut:
    """The commit backend: the ONE place where the storage engine makes a
    file visible, and the one substitution point for that rule
    (``set_commit_backend``).  Every engine publish goes through its three
    methods, and each returns only after the published bytes and the
    directory entry naming them are fsynced:

    - ``put_if_absent(target, payload)``: publish a blob at a name iff the
      name does not exist yet, atomically and fully-formed (a concurrent
      reader sees either nothing or the complete payload — never a partial
      file).  Returns True iff this caller won the name.  The manifest
      commit is written only against it, so porting the table format to an
      object store is a backend swap, not a redesign: S3 ``PutObject``
      with ``If-None-Match: *`` (first-writer-wins since 2024-08), GCS
      ``x-goog-if-generation-match: 0``, ADLS ``If-None-Match``
      conditional create, or an external CAS (DynamoDB/etcd) for stores
      without conditional writes.
    - ``put(target, payload)``: atomic replace (a generation pointer, a
      vacuum checkpoint, a stream high-water mark).
    - ``move(pairs)``: put finished files, or whole directories, in place
      (``(src, dst)`` renames, in order), then fsync each distinct parent
      directory once, and the parent of each directory it had to create.
      The sources must already be durable: ``_OpenPart`` fsyncs every part
      and sidecar it writes.

    This class implements ``put`` and ``move`` for a local filesystem:
    fsynced temp file, rename, directory fsync, the order that keeps
    acknowledged data through a crash on ext4-class filesystems (Pillai et
    al., *All File Systems Are Not Created Equal*, OSDI 2014).
    """

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        raise NotImplementedError

    def put(self, target: str, payload: bytes) -> None:
        dirs = _make_dirs(os.path.dirname(target))
        with _temp_beside(target) as tmp:
            _write_synced(tmp, payload)
            self._rename(tmp, target)
        _fsync(*dirs)

    def move(self, pairs: Iterable[tuple[str, str]]) -> None:
        dirs: set[str] = set()
        for src, dst in pairs:
            dirs |= _make_dirs(os.path.dirname(dst))
            self._rename(src, dst)
        _fsync(*dirs)

    def _rename(self, src: str, dst: str) -> None:
        os.replace(src, dst)


class PosixConditionalPut(ConditionalPut):
    """Local/NFS-class filesystems: write a private fsynced temp file, then
    ``os.link`` it to the target name.  Hard-link creation is atomic and
    fails with EEXIST if the name is taken — and unlike O_EXCL-then-rename
    the target only ever appears fully-formed (O_EXCL claims the name with
    an EMPTY file first, which a concurrent reader could see)."""

    def put_if_absent(self, target: str, payload: bytes) -> bool:
        dirs = _make_dirs(os.path.dirname(target))
        with _temp_beside(target) as tmp:
            _write_synced(tmp, payload)
            try:
                os.link(tmp, target)
            except FileExistsError:
                return False
            except OSError:
                # Filesystem without hard-link support (some FUSE/overlay/
                # SMB mounts): fall back to an O_EXCL create.  Still atomic
                # on the NAME; the trade-off is a brief claimed-but-
                # incomplete window between create and write, which only
                # this degraded mode has.
                try:
                    fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    return False
                _write_synced(fd, payload)
        _fsync(*dirs)
        return True


def _write_synced(file, payload: bytes) -> None:
    """Write ``payload`` to ``file`` (a path or an open descriptor) and
    fsync it."""
    with open(file, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())


def _fsync(*paths: str) -> None:
    """fsync files or directories by path."""
    for p in paths:
        fd = os.open(p or ".", os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)


@contextlib.contextmanager
def _temp_beside(target: str):
    """A private temp name beside ``target``, hidden from every listing
    (this engine's and Spark's); removed on exit unless renamed away."""
    d, name = os.path.split(target)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex}")
    try:
        yield tmp
    finally:
        if os.path.lexists(tmp):
            os.remove(tmp)


def _make_dirs(d: str) -> set[str]:
    """Create directory ``d`` and its missing ancestors.  Returns the
    directories a publish into ``d`` changes: ``d`` itself and the parent
    of each directory created here."""
    out, missing = {d}, d
    while missing and not os.path.isdir(missing):
        out.add(os.path.dirname(missing))
        missing = os.path.dirname(missing)
    os.makedirs(d or ".", exist_ok=True)
    return out


#: Process-wide commit backend; swap via ``set_commit_backend`` to target an
#: object store.  (Per-table backends would hang off the table options; one
#: global suffices for the declared single-store deployment.)
_COMMIT_BACKEND: ConditionalPut = PosixConditionalPut()


def set_commit_backend(backend: ConditionalPut) -> ConditionalPut:
    """Install a ConditionalPut implementation; returns the previous one."""
    global _COMMIT_BACKEND
    prev = _COMMIT_BACKEND
    _COMMIT_BACKEND = backend
    return prev


def commit_backend() -> ConditionalPut:
    """The installed backend, through which every engine publish goes."""
    return _COMMIT_BACKEND


def _write_manifest(path: str, new_files: list[str], replace: bool,
                    remove: Sequence[str] = (),
                    adds_new_rows: bool | None = None,
                    expected_prev: int | None = None) -> int:
    """Publish the next snapshot version: (previous visible set − ``remove``)
    ∪ new files (or just the new files when ``replace``).  Optimistic-
    concurrency loop over the ConditionalPut primitive: read latest version,
    build the next manifest, try to claim ``_manifest-(v+1)``; on losing the
    race, recompute against the winner and retry — the Delta/Iceberg commit
    protocol at directory scale.

    ``remove`` (compaction's logical-delete of the parts it rewrote) is
    applied against the latest manifest INSIDE the retry loop, so a
    concurrent appender's files land in the final set even when its commit
    wins a version mid-compaction.

    Commit cost is O(changed files): ordinary commits publish a DELTA
    (``add``/``remove`` lists); every ``_CHECKPOINT_EVERY``-th version —
    and every ``replace`` commit, which is self-contained by nature —
    publishes a full-file-list CHECKPOINT that bounds reconstruction.

    ``adds_new_rows`` (the Delta ``dataChange`` idiom, ADVICE r13): a
    rewriting commit (non-empty ``remove``) records whether its added
    files carry NEW logical rows beyond rewrites of rows it removed —
    ``False`` for compaction/UPDATE/DELETE (pure rewrites), ``True``
    for a MERGE whose not-matched arm inserted rows.  Stream readers
    running ``skipChangeCommits`` use the hint to skip pure rewrites
    silently but FAIL on mixed commits instead of silently dropping the
    inserted rows; manifests without the hint (pre-round-14 tables or
    foreign writers) keep the documented skip-entirely behavior.

    ``expected_prev`` (r15): commit-content CAS — raise
    ``ConcurrentWriteConflict`` instead of retrying when the latest
    version is not the one the caller derived the commit's content from
    (the offsets table computes its ``seq`` counter against a pinned
    snapshot and must recompute on a lost race)."""
    rel_abs = {_table_rel(path, p): p for p in new_files}
    rels = sorted(rel_abs)
    rm = sorted(_table_rel(path, p) for p in remove)
    # Embed each new file's planning stats (file-level min/max + batch
    # count) in the log — O(Δ) sidecar reads at commit buys O(log) scan
    # planning (no per-file sidecar opens at plan time).
    new_stats: dict[str, dict] = {}
    for rel, ab in rel_abs.items():
        sc = _load_sidecar(ab)
        if sc is not None:
            new_stats[rel] = {"cols": sc.get("file", {}),
                              "n_batches": len(sc.get("batches", []))}
    while True:
        versions = _manifest_versions(path)
        prev = versions[-1] if versions else 0
        if expected_prev is not None and prev != expected_prev:
            # Caller derived the commit's CONTENT from snapshot
            # ``expected_prev`` (e.g. the offsets table's seq counter) —
            # landing it on a different version would publish stale
            # derived state, so surface the race instead of retrying
            # blindly; the caller recomputes and re-commits.
            raise ConcurrentWriteConflict(
                f"arrowipc commit under {path}: expected to land on "
                f"version {expected_prev} but the latest is {prev} — "
                "recompute against the new snapshot and retry")
        next_v = prev + 1
        if rm and versions:
            # Write-write conflict detection (the Delta/Iceberg rule): a
            # commit may only REMOVE files still visible at the version it
            # lands on.  Without this, two CoW mutations racing on the
            # same part file would both publish rewrites of it — the
            # second's blind remove would no-op and the file's rows would
            # surface TWICE (one copy per rewrite).  Appends (empty rm)
            # never conflict and sail through.
            current = set(_read_manifest_entries(path, prev))
            gone = [r for r in rm if r not in current]
            if gone:
                raise ConcurrentWriteConflict(
                    f"arrowipc commit conflict under {path}: part files "
                    f"{gone} were rewritten or removed by a concurrent "
                    f"commit (latest version {prev}); re-run the mutation "
                    "against the new snapshot")
        if replace or not versions:
            doc = {"version": next_v, "files": rels, "stats": new_stats}
        elif next_v % _CHECKPOINT_EVERY == 0:
            entries = _read_manifest_entries(path, prev)
            for r in rm:
                entries.pop(r, None)
            for r in rels:
                entries[r] = new_stats.get(r)
            doc = {"version": next_v, "files": sorted(entries),
                   "stats": {r: s for r, s in entries.items()
                             if s is not None}}
        else:
            doc = {"version": next_v, "add": rels, "remove": rm,
                   "stats": new_stats}
        # Commit wall-clock (epoch seconds): the startingTimestamp anchor
        # for stream tailing.  Metadata only — never part of equality or
        # conflict checks; pre-existing manifests without it fall back to
        # the manifest file's mtime at resolution time.
        doc["ts"] = round(time.time(), 3)
        if adds_new_rows is not None and rm:
            # Metadata-only, like ts: consumed solely by the stream
            # reader's skipChangeCommits guard.  Recorded only on
            # rewriting commits — on a pure append the question does
            # not arise (nothing was removed, nothing can be skipped).
            doc["adds_new_rows"] = bool(adds_new_rows)
        target = _manifest_file(path, next_v)
        if _COMMIT_BACKEND.put_if_absent(target, json.dumps(doc).encode()):
            return next_v
        # lost the race — recompute against the new latest and retry


def _table_rel(path: str, part: str) -> str:
    """``part`` relative to the table at ``path``; a part outside the
    table would be recorded as a ``../`` entry that every reader follows."""
    rel = os.path.relpath(part, path)
    if rel == os.pardir or rel.startswith(os.pardir + os.sep):
        raise ValueError(
            f"arrowipc commit under {path}: part file {part} is outside "
            "the table directory")
    return rel


#: Columns types we collect min/max stats for (orderable primitives).
_STATS_TYPES = (
    pa.types.is_integer,
    pa.types.is_floating,
    pa.types.is_timestamp,
    pa.types.is_string,
)


def _statable(typ: pa.DataType) -> bool:
    return any(pred(typ) for pred in _STATS_TYPES)


def _batch_stats(batch: pa.RecordBatch) -> dict[str, list]:
    """min/max per statable column.  Timestamps are stored as epoch-µs
    ints (JSON-portable AND comparable against pushed filter values, so
    time-range scans can skip files/batches).  Floating columns containing
    NaN get NO stats: pyarrow's min_max ignores NaN but Spark orders NaN
    above every double (and NaN = NaN is true), so a ``col > k`` or
    ``col = NaN`` filter could otherwise prune a chunk whose NaN rows
    match — stats-less means unprunable, which is the safe direction."""
    import pyarrow.compute as pc

    out: dict[str, list] = {}
    for i, field in enumerate(batch.schema):
        if not _statable(field.type) or batch.num_rows == 0:
            continue
        col = batch.column(i)
        if col.null_count == len(col):
            continue
        if pa.types.is_floating(field.type):
            if pc.any(pc.is_nan(col)).as_py():
                continue
        if pa.types.is_timestamp(field.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        mm = pc.min_max(col)
        out[field.name] = [mm["min"].as_py(), mm["max"].as_py()]
    return out


def _filter_value_canon(v):
    """Canonicalize a pushed filter value to the sidecar's stats domain:
    datetimes/dates become epoch-µs ints (all-integer arithmetic — no FP
    epoch conversion), everything else passes through."""
    import calendar
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if isinstance(v, _dt.date):
        return calendar.timegm(v.timetuple()) * 1_000_000
    return v


def _stats_overlap(stats: dict[str, list] | None, filters: Sequence[Filter]) -> bool:
    """Can a chunk with these stats contain rows matching ALL filters?
    Conservative: unknown columns/filters → True (cannot skip)."""
    import math

    if not stats:
        return True
    for f in filters:
        col = f.attribute[-1] if hasattr(f, "attribute") else None
        if col is None or col not in stats:
            continue
        mn, mx = stats[col]
        value = _filter_value_canon(getattr(f, "value", None))
        if isinstance(value, float) and math.isnan(value):
            continue  # NaN compares false to everything — never prune on it
        try:
            if isinstance(f, EqualTo) and not (mn <= value <= mx):
                return False
            if isinstance(f, GreaterThan) and not (mx > value):
                return False
            if isinstance(f, GreaterThanOrEqual) and not (mx >= value):
                return False
            if isinstance(f, LessThan) and not (mn < value):
                return False
            if isinstance(f, LessThanOrEqual) and not (mn <= value):
                return False
            if isinstance(f, In):
                vals = [_filter_value_canon(v) for v in f.value]
                if not any(
                    isinstance(v, float) and math.isnan(v)
                    or mn <= v <= mx
                    for v in vals
                ):
                    return False
        except TypeError:  # incomparable types — never skip on doubt
            continue
    return True


def _list_ipc_files(path: str, missing_ok: bool = False) -> List[str]:
    """All part files under ``path``, recursing into (Hive-style
    ``col=value``) partition subdirectories; hidden dirs/files skipped.
    ``missing_ok`` returns [] instead of raising for an absent/empty
    table (used by maintenance to detect an emptied-out directory)."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        if missing_ok:
            return []
        raise FileNotFoundError(f"arrowipc path not found: {path}")
    files: list[str] = []
    for dirpath, dirnames, filenames in os.walk(path):
        # Hidden dirs skipped — EXCEPT the writer's own synthetic
        # bucket-layout dirs (__sb=N), which hold ordinary part files.
        dirnames[:] = sorted(
            d for d in dirnames
            if d.startswith(f"{_SBUCKET_COL}=")
            or not d.startswith((".", "_")))
        files.extend(
            os.path.join(dirpath, f)
            for f in filenames
            if f.endswith((".arrows", ".arrow")) and not f.startswith((".", "_"))
        )
    files.sort()
    if not files:
        if missing_ok:
            return []
        raise FileNotFoundError(f"no .arrows files under {path}")
    return files


def _partition_values(root: str, file_path: str) -> dict[str, str]:
    """Parse Hive-style ``col=value`` segments between ``root`` and the part
    file (empty dict for flat layouts).  Values are unquoted strings."""
    from urllib.parse import unquote

    rel = os.path.relpath(os.path.dirname(file_path), root)
    out: dict[str, str] = {}
    if rel in (".", ""):
        return out
    for seg in rel.split(os.sep):
        if "=" in seg:
            k, v = seg.split("=", 1)
            out[k] = unquote(v)
    return out


def _partition_int(root: str, file_path: str, col: str) -> int | None:
    """The integer value of directory column ``col`` on ``file_path``'s
    chain under ``root``; None when there is none or it is no integer."""
    try:
        return int(_partition_values(root, file_path)[col])
    except (KeyError, ValueError):
        return None


def _head_partition_max(root: str, col: str) -> int | None:
    """The largest integer ``col`` directory value among the head
    manifest's files — metadata only, no data file opened.  None for a
    table without a log or without such directories."""
    versions = _manifest_versions(root)
    if not versions:
        return None
    return max((v for f in _read_manifest(root, versions[-1])
                if (v := _partition_int(root, f, col)) is not None),
               default=None)


def _dir_prunable(part_vals: dict[str, str], filters: Sequence[Filter]) -> bool:
    """True iff an EqualTo filter on a partition column definitely excludes
    this directory.  Only exact string/int matches prune (floats and
    timestamps fall through to stats pruning — formatting differences must
    never skip a live file)."""
    for f in filters:
        if not isinstance(f, EqualTo):
            continue
        col = f.attribute[-1] if hasattr(f, "attribute") else None
        if col is None or col not in part_vals:
            continue
        v = f.value
        if isinstance(v, bool) or not isinstance(v, (str, int)):
            continue
        if str(v) != part_vals[col]:
            return True
    return False


#: Magic bytes opening an Arrow random-access ("file"-format) IPC file.
#: The stream format has no magic — it starts with an encapsulated message
#: (continuation marker 0xFFFFFFFF) — so absence of ARROW1 means stream.
_FILE_MAGIC = b"ARROW1"


def _is_file_format(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(len(_FILE_MAGIC)) == _FILE_MAGIC


def _decode_dictionaries(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Decode any dictionary-encoded columns back to their plain value type
    (the Spark-facing schema is always plain; encoding is a storage detail)."""
    if not any(pa.types.is_dictionary(f.type) for f in batch.schema):
        return batch
    cols, fields = [], []
    for i, field in enumerate(batch.schema):
        col = batch.column(i)
        if pa.types.is_dictionary(field.type):
            col = col.dictionary_decode()
            field = pa.field(field.name, field.type.value_type,
                             field.nullable, field.metadata)
        cols.append(col)
        fields.append(field)
    return pa.RecordBatch.from_arrays(
        cols, schema=pa.schema(fields, metadata=batch.schema.metadata))


def _align_to_schema(batch: pa.RecordBatch, target: pa.Schema) -> pa.RecordBatch:
    """Schema evolution at read time: conform a batch to the (union)
    target schema — missing columns become all-null arrays, column order
    follows the target.  Extra file-local columns are dropped (they are
    not part of the requested schema)."""
    if batch.schema == target:
        return batch
    cols = []
    names = set(batch.schema.names)
    for field in target:
        if field.name in names:
            col = batch.column(batch.schema.get_field_index(field.name))
            if col.type != field.type:
                col = col.cast(field.type)
        else:
            col = pa.nulls(batch.num_rows, field.type)
        cols.append(col)
    return pa.RecordBatch.from_arrays(cols, schema=target)


def _finalize_batch(
    batch: pa.RecordBatch,
    columns: Sequence[str] | None,
    target_schema: pa.Schema | None,
) -> pa.RecordBatch:
    """Common post-read processing: dictionary decode, then schema
    alignment (mergeSchema) or column projection."""
    batch = _decode_dictionaries(batch)
    if target_schema is not None:
        batch = _align_to_schema(batch, target_schema)
    elif columns:
        batch = batch.select(columns)
    return batch


def _read_stream_range(
    path: str,
    offset: int,
    lo: int,
    hi: int,
    keep: Sequence[int] | None,
    columns: Sequence[str] | None,
    target_schema: pa.Schema | None = None,
) -> Iterator[pa.RecordBatch]:
    """Batch-range read of a footer-less IPC *stream* file via write-time
    recorded offsets: seek straight to message ``lo``'s byte offset and
    read messages ``lo..hi-1`` — per-task work is O(range), not O(file
    prefix).  Only planned for files without dictionary encoding, so
    every message in the range is a record batch (no replacement
    dictionaries to miss)."""
    schema = _file_arrow_schema(path)
    keep_set = set(keep) if keep is not None else None
    yielded: set[int] = set()
    try:
        with pa.OSFile(path, "rb") as f:
            f.seek(offset)
            i = lo
            while i < hi:
                msg = pa.ipc.read_message(f)
                if msg.type != "record batch":
                    # The writer records batch 0's offset before the lazily
                    # emitted schema message lands, so a range starting at
                    # 0 begins at the schema message — skip it (it doesn't
                    # count toward the batch range).
                    continue
                if keep_set is None or i in keep_set:
                    batch = pa.ipc.read_record_batch(msg, schema)
                    # Finalize BEFORE marking the batch yielded: a finalize
                    # failure (e.g. an invalid cast during mergeSchema
                    # alignment) must leave ``i`` in ``remaining`` so the
                    # sequential fallback re-reads it and fails loudly
                    # there — marking first would silently drop the batch.
                    final = _finalize_batch(batch, columns, target_schema)
                    yielded.add(i)
                    yield final
                i += 1
    except (pa.ArrowInvalid, EOFError):
        # The recorded offsets no longer describe the file (e.g. a part
        # file replaced by a foreign tool without regenerating its
        # sidecar): pa.ipc.read_message raises EOFError past the real end
        # of stream, and a mid-message seek raises ArrowInvalid.  Sidecars
        # are planning-only optimizations that must degrade, never fail
        # the query (_load_sidecar contract), so fall back to the
        # sequential scan for the range members not already yielded —
        # genuine file corruption still fails loudly there, with the part
        # path in the message.
        remaining = [
            i for i in range(lo, hi)
            if i not in yielded and (keep_set is None or i in keep_set)
        ]
        if remaining:
            yield from _read_ipc_batches(
                path, remaining, columns, target_schema)


def _read_ipc_batches(
    path: str,
    batch_indices: Sequence[int] | None,
    columns: Sequence[str] | None,
    target_schema: pa.Schema | None = None,
) -> Iterator[pa.RecordBatch]:
    """Yield (projected, dictionary-decoded, schema-aligned) record batches
    from either IPC encoding.  File format random-accesses exactly the
    requested batches; stream format scans forward and skips non-kept ones."""

    def finish(batch: pa.RecordBatch) -> pa.RecordBatch:
        return _finalize_batch(batch, columns, target_schema)

    try:
        if _is_file_format(path):
            with pa.OSFile(path, "rb") as f:
                reader = pa.ipc.open_file(f)
                indices = (
                    batch_indices if batch_indices is not None
                    else range(reader.num_record_batches)
                )
                for i in indices:
                    yield finish(reader.get_batch(i))
        else:
            keep = set(batch_indices) if batch_indices is not None else None
            with pa.OSFile(path, "rb") as f:
                reader = pa.ipc.open_stream(f)
                for i, batch in enumerate(reader):
                    if keep is not None and i not in keep:
                        continue
                    yield finish(batch)
    except pa.ArrowInvalid as exc:
        # Name the offending part file: in a directory of thousands, a bare
        # "Not an Arrow file" / "Expected to read N bytes" is undebuggable.
        raise pa.ArrowInvalid(
            f"corrupt or non-Arrow part file {path}: {exc}") from exc


def _file_arrow_schema(path: str) -> pa.Schema:
    try:
        with pa.OSFile(path, "rb") as f:
            if _is_file_format(path):
                return pa.ipc.open_file(f).schema
            return pa.ipc.open_stream(f).schema
    except pa.ArrowInvalid as exc:
        # Same path-context rule as _read_ipc_batches.
        raise pa.ArrowInvalid(
            f"corrupt or non-Arrow part file {path}: {exc}") from exc


def _validate_declared_schema(declared: StructType, file_schema: pa.Schema,
                              path: str,
                              columns: Sequence[str] | None = None) -> None:
    """Fail loudly (naming the column) when a declared read schema's type
    disagrees with a part file's Arrow schema.  Without this, the mismatch
    surfaces as an opaque JVM vector-accessor error (``getUTF8String`` on
    an int32 vector) deep inside the scan.  Comparison is at the SPARK
    type level via ``from_arrow_schema`` — so benign physical differences
    (string vs large_string, dictionary encoding, timestamp unit) don't
    false-positive — and ignores nullability (``simpleString``).  Columns
    the file lacks are fine (schema evolution null-fills); Arrow types
    with no Spark mapping are skipped rather than failed (planning-only
    check, must degrade)."""
    def _canon(simple: str) -> str:
        # timestamp vs timestamp_ntz is a session-semantics choice, not a
        # storage mismatch (arrow tz-naive maps to either depending on
        # prefer_timestamp_ntz) — never fail on the flavor.
        return simple.replace("timestamp_ntz", "timestamp")

    want = {f.name: _canon(f.dataType.simpleString())
            for f in declared.fields}
    if columns:
        keep = set(columns)
        want = {n: t for n, t in want.items() if n in keep}
    plain = pa.schema([_plain_field(f) for f in file_schema])
    for fld in plain:
        expect = want.get(fld.name)
        if expect is None:
            continue
        try:
            got = _canon(
                from_arrow_schema(pa.schema([fld]))[0].dataType
                .simpleString())
        except Exception:
            continue
        if got != expect:
            raise ValueError(
                f"arrowipc read over {os.path.dirname(path)}: declared "
                f"schema types column '{fld.name}' as {expect} but part "
                f"file {os.path.basename(path)} stores it as {got} "
                f"(arrow {fld.type}) — fix the declared schema or rewrite "
                "the table; the reader does not silently cast.")


def _plain_field(fld: pa.Field, nullable: bool | None = None) -> pa.Field:
    """Dictionary types are a storage detail — expose the value type."""
    typ = fld.type.value_type if pa.types.is_dictionary(fld.type) else fld.type
    return pa.field(fld.name, typ,
                    fld.nullable if nullable is None else nullable,
                    fld.metadata)


def _union_schema(files: Sequence[str]) -> pa.Schema:
    """Schema evolution: the union of every file's columns, first
    occurrence fixing the type/position; every field nullable (a column
    absent from some file is null there)."""
    fields: dict[str, pa.Field] = {}
    order: list[str] = []
    for p in files:
        for fld in _file_arrow_schema(p):
            if fld.name not in fields:
                fields[fld.name] = _plain_field(fld, nullable=True)
                order.append(fld.name)
    return pa.schema([fields[n] for n in order])


@dataclass
class ArrowIPCPartition(InputPartition):
    """One task's read list.  Each item is ``(path, batch_indices,
    stream_seek)``: ``batch_indices`` are the record batches that survived
    batch-level stat pruning (None = all); ``stream_seek`` is a
    stream-encoding seek range ``(byte_offset, lo, hi)`` — seek to
    ``byte_offset`` (the recorded start of message ``lo``) and read
    messages ``lo..hi-1``, the footer-less analogue of the file format's
    random-access batch splits (None = read from the head).  A batch-range
    split is one item; a packed task lists several whole files; a
    ``groupByBucket`` task lists one storage bucket's files.
    ``schema_ser`` carries the serialized union target schema when
    mergeSchema is on.  No items = the empty marker (everything pruned)."""

    items: tuple = ()
    schema_ser: bytes | None = None

    @property
    def paths(self) -> tuple[str, ...]:
        """The part files this task reads, in read order."""
        return tuple(dict.fromkeys(item[0] for item in self.items))

    @property
    def stream_seek(self) -> tuple | None:
        """The seek range of a one-item task (None for packed tasks)."""
        return self.items[0][2] if len(self.items) == 1 else None


#: Spark's ``FilePartition`` sizing (``spark.sql.files.openCostInBytes`` and
#: ``maxPartitionBytes`` defaults): packing charges each file its size plus
#: this open cost, and aims each task at ``min(_MAX_SPLIT_BYTES,
#: max(_OPEN_COST_BYTES, total / usable CPUs))``.
_OPEN_COST_BYTES = 4 * 1024 * 1024
_MAX_SPLIT_BYTES = 128 * 1024 * 1024


def _usable_cpus() -> int:
    """CPUs this process may run on — the planner's view of ``local[N]``."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _pack_whole_files(items: Sequence[tuple]) -> list[tuple]:
    """Group whole-file read items into shared tasks: ``ceil(total cost /
    split)`` tasks, each a contiguous run of ``items`` — an item joins the
    task whose share of the total cost holds its cost's midpoint — so
    read order is kept and a table of many small files plans about one
    task per usable CPU instead of one per file."""
    if not items:
        return []
    costs = [os.path.getsize(item[0]) + _OPEN_COST_BYTES for item in items]
    total = sum(costs)
    split = min(_MAX_SPLIT_BYTES,
                max(_OPEN_COST_BYTES, -(-total // _usable_cpus())))
    n = min(len(items), -(-total // split))
    groups: list[list[tuple]] = [[] for _ in range(n)]
    start = 0
    for item, cost in zip(items, costs):
        groups[(2 * start + cost) * n // (2 * total)].append(item)
        start += cost
    return [tuple(g) for g in groups if g]


def _chunks(seq: list, size: int) -> list[list]:
    return [seq[lo:lo + size] for lo in range(0, len(seq), size)]


def _read_items(items: Sequence[tuple], declared: StructType,
                columns: Sequence[str] | None,
                target: pa.Schema | None = None,
                fname_col: str | None = None) -> Iterator[pa.RecordBatch]:
    """The one read loop of every ``arrowipc`` task, batch and streaming.

    Per item: check the file against the declared schema, read its
    batches (whole, a batch subset, or a seek range), and append the
    ``fname_col`` attribution column when asked.  Batches from different
    write jobs can disagree on Arrow field nullability/metadata (e.g. a
    computed column vs a cast literal) even when the Spark types match,
    and one task must emit ONE batch schema — so every batch is
    normalized to the first batch's shape with every field nullable (the
    declared Spark schema governs JVM-side nullability anyway)."""
    uniform: pa.Schema | None = None
    for path, batch_indices, stream_seek in items:
        if target is None:
            # Outside mergeSchema (whose union target alignment casts),
            # batches reach the JVM in the FILE's schema, so a
            # declared-schema type mismatch must fail here naming the
            # column — not as an opaque vector-accessor error inside the
            # scan.  The declared schema may carry the filenameColumn the
            # reader itself appends; the validator skips columns the file
            # lacks.
            _validate_declared_schema(
                declared, _file_arrow_schema(path), path, columns)
        if stream_seek is not None:
            off, lo, hi = stream_seek
            batches = _read_stream_range(
                path, off, lo, hi, batch_indices, columns, target)
        else:
            batches = _read_ipc_batches(path, batch_indices, columns, target)
        for batch in batches:
            if uniform is None:
                uniform = pa.schema(
                    [f.with_nullable(True) for f in batch.schema])
            if batch.schema != uniform:
                batch = pa.RecordBatch.from_arrays(
                    [batch.column(f.name) for f in uniform], schema=uniform)
            if fname_col is not None:
                # File attribution: a constant string column carrying the
                # part-file path — the hook row-level DELETE's
                # copy-on-write planning hangs off (the arrowipc
                # equivalent of input_file_name(), which Python data
                # sources don't populate).
                batch = batch.append_column(
                    pa.field(fname_col, pa.string(), False),
                    pa.array([path] * batch.num_rows, pa.string()))
            yield batch


class ArrowIPCReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        options = CaseInsensitiveDict(options)
        self._options = options
        self._schema = schema
        self._path = _local_path(options.get("path"))
        if not self._path:
            raise ValueError("arrowipc reader requires a path")
        self._columns = None
        cols = options.get("columns")
        if cols:
            self._columns = [c.strip() for c in cols.split(",")]
        self._merge = options.get("mergeSchema", "false").lower() == "true"
        self._version = options.get("version")
        ts = options.get("timestampAsOf")
        if ts is not None:
            # Batch time travel by wall-clock (Delta's timestampAsOf):
            # resolve to the newest version committed at-or-before the
            # anchor, then read exactly like a pinned-version read.
            if self._version is not None:
                raise ValueError(
                    "arrowipc reader: version and timestampAsOf are "
                    "mutually exclusive — both pin the snapshot; pick "
                    "one anchor.")
            self._version = str(_version_as_of(
                self._path, _parse_ts_option(str(ts))))
        self._fname_col = options.get("filenameColumn")
        self._group_bucket = str(
            options.get("groupByBucket", "false")).lower() == "true"
        self._filters: list[Filter] = []

    # -- optimizer hooks ----------------------------------------------------
    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        """Accept simple comparison filters for stats-based pruning.

        Every filter is also *retained* by Spark only if we yield it back;
        we yield back everything (Spark re-applies, so pruning stays purely
        an optimization and can never drop rows on boundary bugs), but keep
        the usable ones for file/batch skipping.

        KNOWN UPSTREAM HAZARD (Spark ≤4.1, all Python data sources with
        ``spark.sql.python.filterPushdown.enabled``): the JVM caches the
        planned read (partition list) on the shared ``PythonDataSourceV2``
        relation of a loaded DataFrame, and filter pushdown OVERWRITES that
        cache (``PythonScanBuilder.pushFilters`` → ``setReadInfo``).  Running
        a filtered action and then an UNFILTERED action on the *same*
        ``load()`` result reuses the pruned partition list and silently
        under-counts.  Nothing the Python reader does can restore pruned
        partitions — the later plan never re-enters Python.  Rule: create a
        fresh ``spark.read...load(path)`` per query (this engine's query
        surface always does); see FORMAT.md §7 and
        tests/test_arrowipc.py::test_upstream_pushdown_plan_cache_staleness.
        """
        usable_types = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
                        LessThanOrEqual, IsNotNull, In)
        self._filters = [f for f in filters if isinstance(f, usable_types)]
        # Yield all filters back → Spark evaluates them post-scan too.
        return filters

    #: Max record batches per input partition.  A big IPC file splits into
    #: several tasks (batch-range granularity) instead of scanning as one —
    #: the split level a many-executor cluster needs; files that fit in one
    #: task are packed several to a task (``_pack_whole_files``).  At 64 k
    #: rows/batch this is ~0.5-1 M rows per task.
    BATCHES_PER_SPLIT = 8

    # -- planning -----------------------------------------------------------
    def partitions(self) -> Sequence[ArrowIPCPartition]:
        split = max(1, int(self._options.get(
            "batchesPerSplit", self.BATCHES_PER_SPLIT)))
        entries = _visible_entries(self._path, self._version)
        files = sorted(entries)
        if self._group_bucket:
            # Bucket-grouped planning: ONE input partition per __sb
            # storage bucket, covering that bucket's files across every
            # Hive partition / LSM segment — so partition-local merge
            # logic (a mapInPandas last-wins) sees a key's whole history
            # without an Exchange.  Correctness requires EVERY visible
            # file to be bucketed with the same function, so an
            # unbucketed file fails the plan loudly.  Stat/batch pruning
            # is skipped (bucket-local logic must see all rows; Spark
            # still applies the filters post-scan).
            groups: dict[int, list[tuple]] = {}
            for path in files:
                b = _partition_int(self._path, path, _SBUCKET_COL)
                if b is None:
                    raise ValueError(
                        f"arrowipc groupByBucket read over {self._path}: "
                        f"part file {path} is not under a "
                        f"{_SBUCKET_COL}= directory — the table mixes "
                        "bucketed and unbucketed writes, so bucket-local "
                        "merges would miss rows; rewrite it with "
                        "bucketBy or read without groupByBucket")
                groups.setdefault(b, []).append((path, None, None))
            return ([ArrowIPCPartition(tuple(groups[b]))
                     for b in sorted(groups)] or [ArrowIPCPartition()])
        schema_ser = None
        if self._merge:
            target = _union_schema(files)
            if self._columns:
                target = pa.schema(
                    [target.field(c) for c in self._columns],
                    metadata=target.metadata)
            schema_ser = target.serialize().to_pybytes()
        root_is_dir = os.path.isdir(self._path)
        # File-name pruning: an EqualTo/In filter on the attribution column
        # (filenameColumn) names the exact part files a scan may touch, so
        # the scan plans tasks for only those files instead of reading
        # every file and discarding rows post-scan.
        fname_allow: set | None = None
        if self._fname_col:
            for f in self._filters:
                col = f.attribute[-1] if hasattr(f, "attribute") else None
                if col != self._fname_col:
                    continue
                if isinstance(f, EqualTo):
                    vals = {f.value}
                elif isinstance(f, In):
                    vals = set(f.value)
                else:
                    continue
                fname_allow = (vals if fname_allow is None
                               else fname_allow & vals)
        parts: list[ArrowIPCPartition] = []   # batch-range splits
        whole: list[tuple] = []               # one-task files, packed below
        for path in files:
            if fname_allow is not None and path not in fname_allow:
                continue
            if root_is_dir and self._filters:
                # Hive-style directory pruning: an EqualTo on a partition
                # column skips the whole col=value subtree without even
                # opening the sidecar (stats pruning still covers range
                # filters — partition columns are stored in the data too).
                pv = _partition_values(self._path, path)
                if pv and _dir_prunable(pv, self._filters):
                    continue
            # Manifest-driven planning: the log entry carries file-level
            # min/max + the batch count, so file pruning and batch-range
            # splitting touch NO per-file sidecar.  The sidecar is opened
            # lazily, only for files that survive file-level pruning AND
            # have filters that could skip individual batches — O(surviving
            # files) instead of O(table files) at plan time.
            mstats = entries.get(path)
            n_batches = None
            if mstats is not None:
                if self._filters and not _stats_overlap(
                        mstats.get("cols", {}), self._filters):
                    continue  # pruned from the log alone
                n_batches = mstats.get("n_batches")
            stats = None
            if mstats is None or self._filters:
                stats = _load_sidecar(path)
            if stats is not None and "batches" in stats:
                n_batches = len(stats["batches"])
            keep = None
            if stats and self._filters:
                if not _stats_overlap(stats.get("file", {}), self._filters):
                    continue  # whole file pruned before any task launches
                keep = [
                    i for i, bs in enumerate(stats.get("batches", []))
                    if _stats_overlap(bs, self._filters)
                ]
            if not _is_file_format(path):
                # Stream encoding: no footer/random access.  Files whose
                # sidecar recorded per-batch byte OFFSETS at write time
                # still split into batch-range tasks — each task seeks to
                # its range's first message instead of re-streaming the
                # prefix.  Without offsets (foreign/dictionary-encoded
                # files) the file is one sequential task; batch-level stat
                # pruning still applies either way.
                if stats is None and (n_batches is None or n_batches > split):
                    stats = _load_sidecar(path)
                    if stats is not None and "batches" in stats:
                        n_batches = len(stats["batches"])
                # Stale-sidecar safety lives in _load_sidecar: a
                # file_bytes fingerprint mismatch discards the WHOLE
                # sidecar (offsets, pruning stats, batch count), so any
                # offsets that reach this point describe the file as it
                # is on disk.
                offsets = (stats or {}).get("offsets")
                idxs = keep if keep is not None else (
                    list(range(n_batches)) if n_batches else None)
                if keep is not None and not keep:
                    continue  # every batch stat-pruned
                if offsets and idxs and len(idxs) > split \
                        and len(offsets) == (n_batches or 0):
                    items = [(path, chunk, (offsets[chunk[0]], chunk[0],
                                            chunk[-1] + 1))
                             for chunk in _chunks(idxs, split)]
                else:
                    items = [(path, keep, None)]
            else:
                if keep is None:
                    if n_batches is None:
                        # No sidecar (foreign file): read footer for the
                        # count so the file can still split by batch range.
                        with pa.OSFile(path, "rb") as f:
                            n_batches = pa.ipc.open_file(f).num_record_batches
                    keep = list(range(n_batches))
                items = [(path, chunk, None) for chunk in _chunks(keep, split)]
            if len(items) == 1:
                whole.append(items[0])
            else:
                parts.extend(ArrowIPCPartition((item,), schema_ser)
                             for item in items)
        parts.extend(ArrowIPCPartition(group, schema_ser)
                     for group in _pack_whole_files(whole))
        if not parts:
            # Everything pruned. Spark still calls read() once when the
            # partition list is empty, so hand it an explicit empty marker.
            return [ArrowIPCPartition()]
        # Path order, so a scan delivers rows in the order it always has.
        parts.sort(key=lambda p: (p.items[0][0], p.items[0][1] or [0]))
        return parts

    # -- execution ----------------------------------------------------------
    def read(self, partition: ArrowIPCPartition) -> Iterator[pa.RecordBatch]:
        if partition is None:
            return iter(())
        target = None
        if partition.schema_ser is not None:
            target = pa.ipc.read_schema(pa.py_buffer(partition.schema_ser))
        return _read_items(partition.items, self._schema, self._columns,
                           target, self._fname_col)


@dataclass
class ArrowIPCCommitMessage(WriterCommitMessage):
    """A task's staged part files and the staging directory they sit in.
    The commit promotes each part relative to its message's directory:
    Spark may run the commit on a writer instance other than the tasks'
    (the stream sink does), so the committer's own staging path is not
    necessarily theirs."""
    final_paths: list[str] | None
    staging: str


def _partition_segment(value) -> str:
    """Hive-style directory segment value (URL-quoted; nulls get the
    conventional marker)."""
    from urllib.parse import quote

    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    return quote(str(value), safe="")


#: Default write-side rotation bound for IPC *stream*-encoded part files.
#: Stream files have no footer, so each scans as one sequential task;
#: rotating at this size bounds per-task scan work the way batch-range
#: splits do for the file encoding.  Override with ``maxBytesPerFile``.
_STREAM_ROTATE_BYTES = 128 * 1024 * 1024


class _OpenPart:
    """One in-flight part file: streams batches into a compressed IPC file
    under its final name in the writer's private staging directory, which
    no reader lists, while accumulating per-batch stats.  ``finish`` closes
    it, writes its stats sidecar and fsyncs both, so the commit's promotion
    (``_promote``) moves durable files; ``abandon`` removes both so failed
    tasks leave no garbage behind."""

    def __init__(self, dirpath: str, compression, stream_format: bool):
        os.makedirs(dirpath, exist_ok=True)
        self.final = os.path.join(dirpath, f"part-{uuid.uuid4().hex}.arrows")
        self._opts = pa.ipc.IpcWriteOptions(compression=compression)
        self._new_writer = pa.ipc.new_stream if stream_format else pa.ipc.new_file
        self._sink = pa.OSFile(self.final, "wb")
        self._writer = None
        self.batch_stats: list[dict] = []
        self.rows = 0
        # Per-batch byte offsets (stream format only): the recorded start
        # of each record-batch message lets a reader seek mid-file and
        # split a footer-less file into batch-range tasks.  Dictionary
        # encoding interleaves replacement dictionary messages whose
        # position a seek would skip, so offsets are disabled for
        # dictionary-encoded files (they stay one sequential task).
        self._offsets_ok = stream_format
        self.batch_offsets: list[int] = []

    def append(self, batch: pa.RecordBatch, raw_stats_batch: pa.RecordBatch | None = None) -> None:
        self.batch_stats.append(_batch_stats(raw_stats_batch or batch))
        self.rows += batch.num_rows
        if self._writer is None:
            self._writer = self._new_writer(
                self._sink, batch.schema, options=self._opts)
        if self._offsets_ok:
            # Recursive walk: a dictionary type NESTED inside a list/
            # struct/map also makes the writer interleave dictionary
            # messages a seek would miss — top-level checks are not enough.
            def _has_dict(t: pa.DataType) -> bool:
                if pa.types.is_dictionary(t):
                    return True
                return any(_has_dict(t.field(i).type)
                           for i in range(t.num_fields))

            if any(_has_dict(f.type) for f in batch.schema):
                self._offsets_ok = False
                self.batch_offsets = []
            else:
                self.batch_offsets.append(self._sink.tell())
        self._writer.write_batch(batch)

    def _close_handles(self) -> None:
        if self._writer is not None:
            self._writer.close()
            self._writer = None
        if not self._sink.closed:
            self._sink.close()

    def finish(self) -> str:
        self._close_handles()
        _fsync(self.final)
        doc = {
            "file": ArrowIPCWriter._merge_stats(self.batch_stats),
            "batches": self.batch_stats,
            "rows": self.rows,
        }
        if self._offsets_ok and \
                len(self.batch_offsets) == len(self.batch_stats):
            doc["offsets"] = self.batch_offsets
        # Fingerprint the finished part file (BOTH encodings) so a later
        # reader can tell when the sidecar describes a DIFFERENT file (a
        # foreign tool rewriting the part in place keeps the path but
        # almost never the exact byte length): _load_sidecar discards the
        # whole sidecar on mismatch — offsets, pruning stats, and batch
        # count alike — rather than silently planning against stale
        # metadata.
        doc["file_bytes"] = os.path.getsize(self.final)
        _write_synced(stats_path(self.final), json.dumps(doc).encode())
        return self.final

    def abandon(self) -> None:
        try:
            self._close_handles()
        except Exception:
            pass
        for p in (self.final, stats_path(self.final)):
            try:
                os.remove(p)
            except OSError:
                pass

    def bytes_written(self) -> int:
        return self._sink.tell() if not self._sink.closed else 0


class _RotatingPart:
    """Size-targeted file rotation over ``_OpenPart``: when the current
    file passes ``max_bytes`` it is SEALED (handles closed, still in the
    hidden staging directory) and a fresh part starts.  Sidecars are
    written at ``finish_all``, at task-commit time; a failed task
    abandons every part, sealed or open.

    Why rotate: the IPC *stream* encoding has no footer, so a stream file
    always scans as ONE sequential task — rotation bounds every stream
    file (default ``_STREAM_ROTATE_BYTES``), which bounds the scan's
    per-task work the way batch-range splits do for the file encoding."""

    def __init__(self, dirpath: str, compression, stream_format: bool,
                 max_bytes: int | None):
        self._args = (dirpath, compression, stream_format)
        self._max_bytes = max_bytes
        self._sealed: list[_OpenPart] = []
        self.current = _OpenPart(*self._args)

    def append(self, batch: pa.RecordBatch,
               raw_stats_batch: pa.RecordBatch | None = None) -> None:
        if (self._max_bytes is not None
                and self.current.batch_stats
                and self.current.bytes_written() >= self._max_bytes):
            self.current._close_handles()
            self._sealed.append(self.current)
            self.current = _OpenPart(*self._args)
        self.current.append(batch, raw_stats_batch)

    def finish_all(self) -> list[str]:
        return [p.finish() for p in (*self._sealed, self.current)]

    def abandon(self) -> None:
        for p in (*self._sealed, self.current):
            p.abandon()


class ArrowIPCWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        options = CaseInsensitiveDict(options)
        self._path = _local_path(options.get("path"))
        if not self._path:
            raise ValueError("arrowipc writer requires a path")
        self._compression = options.get("compression", "zstd")
        if self._compression in ("none", "uncompressed", ""):
            self._compression = None
        self._schema = schema
        fmt = options.get("ipcFormat", "file").lower()
        if fmt not in ("file", "stream"):
            raise ValueError(f"ipcFormat must be file|stream, got {fmt!r}")
        self._stream_format = fmt == "stream"
        dict_cols = options.get("dictionary")
        self._dict_cols = (
            [c.strip() for c in dict_cols.split(",")] if dict_cols else [])
        if self._dict_cols and not self._stream_format:
            # The IPC *file* format forbids dictionary replacement, and a
            # single-pass writer cannot unify dictionaries across batches.
            raise ValueError(
                "dictionary encoding requires ipcFormat=stream "
                "(IPC file format cannot replace dictionaries per batch)")
        part_cols = options.get("partitionBy")
        self._partition_cols = (
            [c.strip() for c in part_cols.split(",")] if part_cols else [])
        bb = options.get("bucketBy")
        self._bucket_col = bb.strip() if bb else None
        self._n_buckets = int(options.get("buckets", "16"))
        if self._bucket_col:
            if self._n_buckets < 1:
                raise ValueError(
                    f"arrowipc writer: buckets={self._n_buckets} — the "
                    "bucketBy layout needs at least one bucket")
            f = next((f for f in schema.fields
                      if f.name == self._bucket_col), None)
            if f is None:
                raise ValueError(
                    f"arrowipc writer: bucketBy column "
                    f"{self._bucket_col!r} is not in the written schema")
            if f.dataType.typeName() not in (
                    "byte", "short", "integer", "long"):
                raise ValueError(
                    f"arrowipc writer: bucketBy column "
                    f"{self._bucket_col!r} must be an integral type "
                    f"(got {f.dataType.simpleString()}) — the bucket "
                    "function is value % buckets, fixed so every write "
                    "job co-locates the same keys")
        self._overwrite = overwrite
        # Tasks write into a hidden staging directory (same relative
        # layout); the commit promotes the parts into the table and
        # publishes the next manifest.  Converting a log-less directory
        # here, before any task runs, keeps this write's parts out of the
        # conversion checkpoint.
        self._staging = os.path.join(self._path, f".write-{uuid.uuid4().hex}")
        if not os.path.isdir(self._path):
            # A new table: make its directory entry durable now, since the
            # commit only fsyncs directories inside the table.
            _fsync(*_make_dirs(self._path))
        _ensure_log(self._path)
        mb = options.get("maxBytesPerFile")
        if mb is not None:
            self._max_bytes = int(mb)
        else:
            # Stream encoding scans one-task-per-file (no footer/random
            # access), so bound file size by default; the file encoding
            # splits by batch range and needs no rotation.
            self._max_bytes = _STREAM_ROTATE_BYTES if self._stream_format else None

    def _encode_dictionaries(self, batch: pa.RecordBatch) -> pa.RecordBatch:
        if not self._dict_cols:
            return batch
        cols, fields = [], []
        for i, field in enumerate(batch.schema):
            col = batch.column(i)
            if field.name in self._dict_cols:
                col = col.dictionary_encode()
                field = pa.field(field.name, col.type,
                                 field.nullable, field.metadata)
            cols.append(col)
            fields.append(field)
        return pa.RecordBatch.from_arrays(
            cols, schema=pa.schema(fields, metadata=batch.schema.metadata))

    def write(self, iterator: Iterator[pa.RecordBatch]) -> ArrowIPCCommitMessage:
        """Single streaming pass: batches go straight into compressed IPC
        files while min/max stats accumulate; stats land in sidecar JSONs
        (the transaction-log pattern — no second pass over data).
        Parts stay in the hidden staging directory until the driver's
        commit promotes them; a failing task abandons its parts instead
        of leaking them.

        With ``partitionBy``, each batch is split by its partition-column
        values and appended to one open part file per live value combo in
        Hive-style ``col=value`` subdirectories (the partition columns stay
        in the data too — a constant column compresses to nothing and keeps
        the read path free of column re-injection)."""
        first = next(iterator, None)
        if first is None:
            return ArrowIPCCommitMessage(None, self._staging)  # empty task
        batches = _chain_first(first, iterator)
        parts: dict[tuple, _RotatingPart] = {}
        try:
            if not self._partition_cols and not self._bucket_col:
                parts[()] = part = _RotatingPart(
                    self._staging, self._compression,
                    self._stream_format, self._max_bytes)
                for batch in batches:
                    part.append(self._encode_dictionaries(batch), batch)
            else:
                self._write_partitioned(batches, parts)
            return ArrowIPCCommitMessage(sorted(
                p for part in parts.values() for p in part.finish_all()),
                self._staging)
        except BaseException:
            for p in parts.values():
                p.abandon()
            raise

    def _write_partitioned(self, batches: Iterator[pa.RecordBatch],
                           parts: dict[tuple, _RotatingPart]) -> None:
        import pyarrow.compute as pc

        split_cols = list(self._partition_cols)
        if self._bucket_col:
            # bucketBy routing: a SYNTHETIC bucket value (key % buckets,
            # fixed function — every write job co-locates the same keys)
            # rides the split as the innermost directory level
            # ``__sb=<i>``.  Unlike partitionBy columns it is derivable
            # from the data, so it is dropped before the rows are
            # written and the ``__sb`` dirs are layout metadata only.
            split_cols.append(_SBUCKET_COL)
        for batch in batches:
            table = pa.Table.from_batches([batch])
            if self._bucket_col:
                table = table.append_column(
                    _SBUCKET_COL,
                    _bucket_ids(table.column(self._bucket_col),
                                self._bucket_col, self._n_buckets))
            combos = (
                table.select(split_cols)
                .group_by(split_cols)
                .aggregate([])
                .to_pylist()
            )
            for combo in combos:
                key = tuple(combo[c] for c in split_cols)
                masks = [
                    pc.is_null(table[c]) if combo[c] is None
                    else pc.equal(table[c], combo[c])
                    for c in split_cols
                ]
                mask = masks[0]
                for m in masks[1:]:
                    mask = pc.and_kleene(mask, m)
                sub = table.filter(mask)
                if self._bucket_col:
                    sub = sub.drop_columns([_SBUCKET_COL])
                if key not in parts:
                    subdir = os.path.join(self._staging, *(
                        f"{c}={_partition_segment(v)}"
                        for c, v in zip(split_cols, key)
                    ))
                    parts[key] = _RotatingPart(
                        subdir, self._compression,
                        self._stream_format, self._max_bytes)
                for sb_ in sub.to_batches():
                    parts[key].append(self._encode_dictionaries(sb_), sb_)

    @staticmethod
    def _merge_stats(batch_stats: list[dict]) -> dict:
        merged: dict[str, list] = {}
        for bs in batch_stats:
            for col, (mn, mx) in bs.items():
                if col in merged:
                    merged[col] = [min(merged[col][0], mn), max(merged[col][1], mx)]
                else:
                    merged[col] = [mn, mx]
        return merged

    def commit(self, messages, *args, **kwargs):
        """Promote the staged parts into the table, then publish the next
        manifest version: this write's files, plus the previous version's
        for an append — the only global step, one small JSON."""
        messages = [m for m in messages or [] if m is not None]
        try:
            new = [p for m in messages
                   for p in _promote(m.final_paths or [], m.staging,
                                     self._path)]
            _write_manifest(self._path, new, replace=self._overwrite)
        finally:
            # Also drops the parts of task attempts Spark did not commit.
            self.abort(messages)

    def abort(self, messages, *args, **kwargs) -> None:
        for staging in {self._staging,
                        *(m.staging for m in messages or [] if m)}:
            shutil.rmtree(staging, ignore_errors=True)


def _promote(parts: Iterable[str], staging: str, root: str) -> list[str]:
    """Move staged part files, each with its stats sidecar, to the same
    relative place under ``root`` in one backend ``move``; returns their
    new paths.  Each data file moves before its sidecar, so a reader
    between the two sees a valid (merely unprunable) part."""
    out: list[str] = []
    moves: list[tuple[str, str]] = []
    for src in parts:
        dst = os.path.join(root, os.path.relpath(src, staging))
        moves.append((src, dst))
        if os.path.exists(stats_path(src)):
            moves.append((stats_path(src), stats_path(dst)))
        out.append(dst)
    _COMMIT_BACKEND.move(moves)
    return out


def _chain_first(first: pa.RecordBatch, rest: Iterator[pa.RecordBatch]):
    yield first
    yield from rest


class ArrowIPCStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: each non-empty micro-batch is one batch-writer
    commit — its tasks' parts are staged, promoted and published as the
    next manifest version, so a stream reader tailing the table picks up
    whole micro-batches.  Replay dedup after crash-before-checkpoint
    remains the checkpoint's job (standard file-sink at-least-once
    semantics)."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        options = CaseInsensitiveDict(options)
        if not _local_path(options.get("path")):
            raise ValueError("arrowipc stream writer requires a path")
        for layout in ("partitionBy", "bucketBy"):
            if options.get(layout):
                # Partitioned streaming output belongs in foreachBatch
                # with the batch writer.
                raise ValueError(
                    f"arrowipc streaming sink does not support {layout}; "
                    "use streaming.pipelines.stream_to_partitioned_table "
                    "(foreachBatch + the batch writer) for partitioned or "
                    "bucketed streaming output")
        self._delegate = ArrowIPCWriter(schema, options, overwrite=False)

    def write(self, iterator: Iterator[pa.RecordBatch]) -> ArrowIPCCommitMessage:
        return self._delegate.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        if any(m is not None and m.final_paths for m in messages or []):
            self._delegate.commit(messages)

    def abort(self, messages, batchId: int) -> None:
        self._delegate.abort(messages)


class ArrowIPCStreamReader(DataSourceStreamReader):
    """Micro-batch streaming reader over an arrowipc directory — two
    offset models, picked by the table's state at query start:

    **Manifest mode** (every table an engine write has touched, and an
    empty or missing directory, whose first engine commit will be
    version 1): offsets are manifest VERSIONS
    (``{"v": N}``); a micro-batch covers exactly the part files ADDED by
    versions (start, end] — the commit-log offset model: object-store
    safe, partitioned-layout safe, immune to compaction's new file names.
    A version that also REMOVES files (compaction, CoW mutation) fails
    the stream by default — its additions are rewrites of rows already
    emitted; pass ``ignoreChanges=true`` (Delta's option) to keep
    streaming through such commits, accepting that their added files
    re-deliver rewritten rows, or ``skipChangeCommits=true`` (Delta's
    successor option) to skip such commits ENTIRELY — no re-delivery,
    correct whenever rewrite commits add no logical rows (checkpoint
    compaction, small-file compaction).  This engine's writers record an
    ``adds_new_rows`` hint on every rewriting commit (Delta's
    ``dataChange`` idiom), and skip honors it: a MIXED commit — one that
    removes files AND inserted new logical rows, e.g. a MERGE with a
    not-matched arm — fails the stream instead of silently dropping the
    inserts; hint-less manifests (foreign writers, pre-hint tables)
    keep the skip-entirely contract.  ``startingVersion=N`` starts
    the tail at manifest version N inclusive (``latest`` = only commits
    after stream start), enabling the snapshot-then-follow consumer
    pattern: batch-bootstrap from the head at version V, then tail with
    ``startingVersion=V+1`` — no backlog re-delivery.

    **Listing mode** (a directory that holds parts but no log — written
    only by another tool): lexicographic high-water mark over file names
    (``{"last": "<name>"}``); a micro-batch covers every ``.arrows`` file
    sorting strictly after the mark, so that tool must use monotonically
    increasing names.  The first engine write converts the directory to
    a log; a listing-mode query's next trigger then fails, and it must
    restart from a fresh checkpoint.

    A micro-batch's new files are packed into tasks like a batch read's
    whole files, and read by the batch reader's item loop (record batches
    straight to the JVM, no Python rows).
    """

    def __init__(self, schema: StructType, options: dict):
        options = CaseInsensitiveDict(options)
        self._path = _local_path(options.get("path"))
        if not self._path:
            raise ValueError("arrowipc stream reader requires a path")
        self._schema = schema
        cols = options.get("columns")
        self._columns = [c.strip() for c in cols.split(",")] if cols else None
        self._ignore_changes = str(
            options.get("ignoreChanges", "false")).lower() == "true"
        self._skip_change_commits = str(
            options.get("skipChangeCommits", "false")).lower() == "true"
        if self._ignore_changes and self._skip_change_commits:
            raise ValueError(
                "arrowipc stream reader: ignoreChanges and "
                "skipChangeCommits are mutually exclusive — ignoreChanges "
                "re-delivers a rewrite commit's added files, "
                "skipChangeCommits drops the commit entirely; pick one.")
        self._manifest_mode = (bool(_manifest_versions(self._path))
                               or not _list_ipc_files(self._path,
                                                      missing_ok=True))
        sv = options.get("startingVersion")
        st = options.get("startingTimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "arrowipc stream reader: startingVersion and "
                "startingTimestamp are mutually exclusive — both pin the "
                "tail's first commit; pick one anchor.")
        if (sv is not None or st is not None) and not self._manifest_mode:
            raise ValueError(
                "arrowipc stream reader: startingVersion and "
                "startingTimestamp require a snapshotted table (no "
                f"manifests under {self._path}; an engine write converts "
                "the directory) — offsets without a log are file names")
        if st is not None:
            want = _parse_ts_option(str(st))
            # Smallest version whose commit time is at or after the
            # anchor.  Commit times are non-decreasing in the common
            # case, but mixing the recorded ``ts`` with the mtime
            # fallback (or clock skew between committers) can dip the
            # sequence — so canonicalize monotonicity with a running
            # max (the Delta rule: effective_ts = max(prev, ts)).  The
            # anchor then resolves to the EARLIEST qualifying commit
            # and a later dip can never skip one (ADVICE r13).
            sv = None
            eff = float("-inf")
            for v in _manifest_versions(self._path):
                eff = max(eff, _commit_ts(self._path, v))
                if eff >= want:
                    sv = str(v)
                    break
            if sv is None:
                raise ValueError(
                    f"arrowipc stream reader: startingTimestamp={st} is "
                    "after the latest commit — nothing to start from; "
                    "use startingVersion=latest to tail only future "
                    "commits")
        self._starting_version: int | str | None = None
        if sv is not None:
            if str(sv).lower() == "latest":
                self._starting_version = "latest"
            else:
                n = int(sv)
                if n < 1:
                    raise ValueError(
                        f"arrowipc stream reader: startingVersion={n} — "
                        "manifest versions start at 1 (omit the option to "
                        "read from the beginning)")
                # The first micro-batch diffs against the baseline
                # manifest n-1, so it must exist (n-1 == 0 means "no
                # baseline" and is always fine).  Validate HERE rather
                # than letting the first planned batch fail inside
                # _added_files with a missing-manifest error that names
                # neither the option nor the head (ADVICE r13).
                vs = _manifest_versions(self._path)
                head = vs[-1] if vs else 0
                if n > head + 1:
                    raise ValueError(
                        f"arrowipc stream reader: startingVersion={n} is "
                        f"past the table head (latest manifest version "
                        f"{head}) — the largest valid anchor is "
                        f"{head + 1} (tail only future commits), or use "
                        "startingVersion=latest")
                if n > 1 and (n - 1) not in vs:
                    raise ValueError(
                        f"arrowipc stream reader: startingVersion={n} "
                        f"needs baseline manifest version {n - 1}, which "
                        f"no longer exists (oldest retained: {vs[0]}) — "
                        "it was vacuumed; anchor at or after version "
                        f"{vs[0] + 1}")
                self._starting_version = n

    def _names(self) -> list[str]:
        # Nothing arrived yet is an empty stream, not an error.
        return [os.path.relpath(p, self._path)
                for p in _list_ipc_files(self._path, missing_ok=True)]

    def initialOffset(self) -> dict:
        if not self._manifest_mode:
            return {"last": ""}
        if self._starting_version == "latest":
            vs = _manifest_versions(self._path)
            return {"v": vs[-1] if vs else 0}
        if self._starting_version is not None:
            # First micro-batch covers versions >= startingVersion
            # (Delta's inclusive contract): the exclusive low bound is
            # the preceding version.
            return {"v": int(self._starting_version) - 1}
        return {"v": 0}

    def latestOffset(self) -> dict:
        vs = _manifest_versions(self._path)
        if self._manifest_mode:
            return {"v": vs[-1] if vs else 0}
        if vs:
            # File-name offsets cannot follow engine parts, whose random
            # names may sort below the high-water mark.
            raise ValueError(
                f"arrowipc stream over {self._path}: an engine write gave "
                "the directory a manifest log after the query started, "
                "and file-name offsets cannot follow its commits — "
                "restart from a fresh checkpoint")
        names = self._names()
        return {"last": names[-1] if names else ""}

    def _added_files(self, lo: int, hi: int) -> list[str]:
        """Part files added by manifest versions (lo, hi], in version
        order (sorted within a version).  One chain read for the lo
        baseline, then each version's doc applied incrementally — O(range)
        manifest reads, not O(range × chain)."""
        prev = set(_read_manifest(self._path, lo)) if lo else set()
        out: list[str] = []
        for v in (x for x in _manifest_versions(self._path) if lo < x <= hi):
            doc = _load_manifest_doc(self._path, v)
            if "files" in doc:
                cur = {os.path.join(self._path, r) for r in doc["files"]}
            else:
                cur = (prev
                       - {os.path.join(self._path, r)
                          for r in doc.get("remove", [])}
                       | {os.path.join(self._path, r)
                          for r in doc.get("add", [])})
            removed = prev - cur
            if removed and self._skip_change_commits:
                if doc.get("adds_new_rows") is True:
                    # Mixed commit (e.g. MERGE with inserts): skipping
                    # it would silently drop logical rows no other
                    # commit carries — fail loudly instead (ADVICE
                    # r13).  Manifests WITHOUT the hint (pre-round-14
                    # tables, foreign writers) keep the documented
                    # skip-entirely contract below.
                    raise ValueError(
                        f"arrowipc stream over {self._path}: version {v} "
                        f"removes {len(removed)} part file(s) AND its "
                        "manifest records adds_new_rows=true (a rewrite "
                        "commit that also inserted logical rows, e.g. a "
                        "MERGE) — skipChangeCommits would silently drop "
                        "the inserted rows. Use ignoreChanges=true "
                        "(accepting re-delivery of the rewritten rows) "
                        "or restart from a fresh checkpoint.")
                # The commit rewrites rows already emitted and (per the
                # option's contract) adds no logical rows — skip it
                # ENTIRELY so nothing is re-delivered; later versions
                # still diff against its file set.
                prev = cur
                continue
            if removed and not self._ignore_changes:
                raise ValueError(
                    f"arrowipc stream over {self._path}: version {v} "
                    f"removes {len(removed)} part file(s) (compaction or a "
                    "CoW mutation) — its additions rewrite rows already "
                    "emitted. Set ignoreChanges=true to stream through "
                    "such commits (rewritten rows will be re-delivered), "
                    "skipChangeCommits=true to skip them entirely, or "
                    "restart from a fresh checkpoint.")
            out.extend(sorted(cur - prev))
            prev = cur
        return out

    def partitions(self, start: dict, end: dict) -> Sequence[ArrowIPCPartition]:
        if ("v" in start) != ("v" in end):
            raise ValueError(
                "arrowipc stream offset model changed mid-checkpoint "
                f"(start={start}, end={end}) — an engine write gave the "
                "directory a manifest log after the query started; "
                "restart from a fresh checkpoint")
        if "v" in start:
            files = self._added_files(
                int(start.get("v", 0)), int(end.get("v", 0)))
        else:
            lo, hi = start.get("last", ""), end.get("last", "")
            files = [os.path.join(self._path, n)
                     for n in self._names() if lo < n <= hi]
        groups = _pack_whole_files([(f, None, None) for f in files])
        return ([ArrowIPCPartition(g) for g in groups]
                or [ArrowIPCPartition()])

    def read(self, partition: ArrowIPCPartition) -> Iterator[pa.RecordBatch]:
        return _read_items(partition.items, self._schema, self._columns)

    def commit(self, end: dict) -> None:
        # Offsets are recoverable from the manifest log / directory
        # listing; checkpointed offsets carry the durable state, nothing
        # engine-side to persist.
        return None


class ArrowIPCDataSource(DataSource):
    """``spark.read.format("arrowipc")`` / ``df.write.format("arrowipc")``
    / ``spark.readStream.format("arrowipc")``.

    Options: ``compression`` (zstd | lz4 | none; write), ``ipcFormat``
    (file | stream; write — readers sniff per file), ``dictionary``
    (comma list of columns to dictionary-encode; write, stream format
    only), ``partitionBy`` (comma list; write — Hive-style ``col=value``
    subdirectories, pruned on read by equality filters before any file or
    sidecar is opened; partition columns stay in the data, so stats
    pruning covers range predicates on them too), ``bucketBy`` (write —
    an integral column; rows land under synthetic ``__sb=<key %
    buckets>`` directories (innermost level, ``buckets`` values, default
    16) so every write job co-locates the same keys; the ``__sb`` value
    is derivable from the data and is NOT written as a column),
    ``groupByBucket`` (read — group the files by ``__sb`` storage bucket
    instead of packing them by size: ONE input partition per bucket,
    covering that bucket's files across all partitions/segments, enabling
    partition-local merge logic without a shuffle; fails loudly if any
    visible file is unbucketed), ``timestampAsOf``
    (read — batch time travel by wall-clock, epoch seconds or ISO-8601:
    resolves to the newest manifest version committed at-or-before the
    anchor with run-max-canonicalized commit times, then reads exactly
    like ``version``; mutually exclusive with it; anchors before the
    first commit fail loudly), ``columns`` (comma
    list; read-side projection), ``mergeSchema`` (true → read the union
    of all files' columns, null-filling files that lack one — schema
    evolution), ``batchesPerSplit`` (batch read parallelism),
    ``maxBytesPerFile`` (write — rotate to a new part file past this many
    bytes; defaults to 128 MiB for stream-encoded files, whose lack of a
    footer makes each file one sequential scan task, and to no rotation
    for file-encoded parts, which split by batch range),
    ``version`` (read — time-travel to manifest version N; every read is
    a snapshot read, isolated from concurrent writers), ``filenameColumn`` (read — append a string
    column carrying each row's part-file path, the arrowipc equivalent of
    ``input_file_name()``), and ``path``.  Option names are
    case-insensitive: Spark hands them over lower-cased, and each reader
    and writer looks them up through one ``CaseInsensitiveDict``.
    Every write commits the next ``_manifest-N.json`` version, and every
    read follows the latest one (see the manifest-log note above); a
    directory without a log reads as its listing until an engine write
    converts it.  Directory maintenance (small-file compaction, row-level
    DELETE, vacuum) lives in ``sources.maintenance``.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        opts = CaseInsensitiveDict(self.options)
        path = _local_path(opts.get("path"))
        if not path:
            raise ValueError("arrowipc requires a path")
        files = _visible_file_set(path, opts.get("version"))
        if not files:
            # The visible set can be legitimately empty (a DELETE matched
            # every row of a table).  Old parts stay on disk
            # until vacuum — use them for SCHEMA inference only;
            # partitions() still plans zero tasks, so the read yields an
            # empty frame with the right schema.  A fully-vacuumed empty
            # table has nothing to infer from and fails with a clear error.
            files = _list_ipc_files(path, missing_ok=True)
            if not files:
                raise ValueError(
                    f"arrowipc table at {path} has an empty visible set and "
                    "no retained part files to infer a schema from")
        if str(opts.get("mergeSchema", "false")).lower() == "true":
            arrow_schema = _union_schema(files)
        else:
            arrow_schema = _file_arrow_schema(files[0])
        # Dictionary encoding is a storage detail — Spark sees value types.
        if any(pa.types.is_dictionary(f.type) for f in arrow_schema):
            arrow_schema = pa.schema(
                [
                    pa.field(f.name, f.type.value_type, f.nullable, f.metadata)
                    if pa.types.is_dictionary(f.type) else f
                    for f in arrow_schema
                ],
                metadata=arrow_schema.metadata,
            )
        cols = opts.get("columns")
        if cols:
            names = [c.strip() for c in cols.split(",")]
            arrow_schema = pa.schema(
                [arrow_schema.field(n) for n in names],
                metadata=arrow_schema.metadata,
            )
        fname = opts.get("filenameColumn")
        if fname:
            arrow_schema = arrow_schema.append(
                pa.field(fname, pa.string(), False))
        # prefer_timestamp_ntz: tz-less Arrow timestamps (parquet ms
        # timestamps come through Spark as TIMESTAMP_NTZ) round-trip to NTZ;
        # tz-tagged ones still map to TIMESTAMP_LTZ.
        return from_arrow_schema(arrow_schema, prefer_timestamp_ntz=True)

    def reader(self, schema: StructType) -> ArrowIPCReader:
        return ArrowIPCReader(schema, self.options)

    def streamReader(self, schema: StructType) -> ArrowIPCStreamReader:
        return ArrowIPCStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> ArrowIPCWriter:
        return ArrowIPCWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> ArrowIPCStreamWriter:
        return ArrowIPCStreamWriter(schema, self.options, overwrite)


def register_arrowipc(spark) -> None:
    """Idempotently register the data source with a SparkSession.

    A session-object flag short-circuits repeats — re-registering works
    but logs a JVM replaced-data-source warning per call, and the query
    surface calls this on every storage query.
    """
    if getattr(spark, "_arrowipc_registered", False):
        return
    try:
        spark.dataSource.register(ArrowIPCDataSource)
    except Exception as exc:
        # Only a duplicate registration is ignorable.  Anything else must
        # surface AND must not latch the flag — a blanket except here would
        # turn a transient failure into a permanently-skipped registration
        # with every later arrowipc read failing mysteriously instead.
        if "already" not in str(exc).lower():
            raise
    spark._arrowipc_registered = True


def register_arrowipc_table(spark, name: str, path: str, **options) -> None:
    """Bind an arrowipc directory to a SQL-addressable name.

    The practical ``CREATE TABLE ... USING arrowipc`` equivalent: Spark's
    catalog does not forward OPTIONS/LOCATION to a Python data source's
    reader at query time (they arrive empty), so persistent-table DDL
    cannot carry the path.  A temp view over the reader gives SQL the same
    scan — including filter pushdown, time travel, and filenameColumn —
    under a stable name:

        register_arrowipc_table(spark, "docs", "/data/docs", version="3")
        spark.sql("SELECT count(*) FROM docs WHERE lang = 'en'")
    """
    register_arrowipc(spark)
    reader = spark.read.format(FORMAT_NAME)
    for k, v in options.items():
        reader = reader.option(k, v)
    reader.load(path).createOrReplaceTempView(name)
