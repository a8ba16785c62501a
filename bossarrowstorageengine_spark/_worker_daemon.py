"""Unzipped import path and frozen heap for Spark Python workers.

A reused Spark Python worker pays two fixed costs on every call, whatever
the call does:

- Zip rescans.  Spark starts its workers with ``pyspark.zip``, the py4j zip
  and the ``spark-core`` jar at the front of ``PYTHONPATH``.  Before each
  call a worker calls ``importlib.invalidate_caches()``, and on Python 3.11
  every cached ``zipimporter`` then re-reads its archive's central
  directory: about 0.2 s per executor task and 80 ms per data-source planner
  call for ``pyspark.zip`` (one importer per imported subpackage) and the
  jar (thousands of entries, no Python).  ``unzip_import_path`` takes those
  archives off the import path.  It changes which archives a worker
  rescans, never which module an import resolves to: the unpacked
  ``$SPARK_HOME/python`` tree is the same pyspark as ``pyspark.zip``, and a
  dropped archive holds no module to import.
- A full collection.  After each call, ``pyspark.daemon`` runs
  ``gc.collect()`` in the reused worker, which walks every tracked object
  the worker holds: about 74k in an executor worker with pyspark, pyarrow
  and pandas loaded, 43k in a planner worker.  Timed inside the workers
  (``local[4]``, 4 tasks at once), that took 46-160 ms per executor task
  and 22-43 ms per planner call.  ``freeze_heap`` collects once and then
  moves every object to the permanent generation (``gc.freeze()``), so the
  per-call collection walks only what the call itself left: 0.3 ms and
  0.1 ms.  Objects created later are collected as before; only a frozen
  object that later becomes cyclic garbage would be kept, and the frozen
  heap is the loaded modules.

Both fixes run in two places:

- Executor workers.  ``session.build_session`` sets this module as
  ``spark.python.daemon.module``; ``main()`` rewrites the path before
  pyspark is imported, imports what the workers run, freezes the heap, then
  runs ``pyspark.daemon``, whose forked workers inherit it all.
- Planner workers.  Spark runs each Python data-source planner call
  (``schema()``, ``partitions()``, filter pushdown, the write set-up and
  commit) in a worker forked from a plain ``pyspark.daemon``, whatever the
  session's daemon module, and reuses that worker for later calls.  Every
  such call unpickles the ``arrowipc`` source, so ``sources/arrowipc.py``
  calls both at import in Spark worker processes, after pyspark has been
  imported from the zip; the worker is unzipped and frozen from its first
  call on.
"""

from __future__ import annotations

import gc
import os
import runpy
import sys
import zipfile
import zipimport


def _holds_python(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as zf:
            return any(n.endswith((".py", ".pyc")) for n in zf.namelist())
    except (OSError, zipfile.BadZipFile):
        return True  # not readable as an archive: leave it to the import system


def _unpacked(spark_home: str | None) -> str | None:
    """``$SPARK_HOME/python`` if it holds an unpacked pyspark package."""
    if not spark_home:
        return None
    unpacked = os.path.join(spark_home, "python")
    if not os.path.isfile(os.path.join(unpacked, "pyspark", "__init__.py")):
        return None
    return unpacked


def _moves(path: list[str], unpacked: str) -> dict[str, str | None]:
    """Each entry of ``path`` that leaves it, mapped to its replacement:
    ``pyspark.zip`` to ``unpacked``, an archive holding no Python to None."""
    zipped = os.path.realpath(os.path.join(unpacked, "lib", "pyspark.zip"))
    moves: dict[str, str | None] = {}
    for entry in path:
        if os.path.realpath(entry) == zipped:
            moves[entry] = unpacked
        elif os.path.isfile(entry) and not _holds_python(entry):
            moves[entry] = None
    return moves


def _relocated(entries: list[str], moves: dict[str, str | None]) -> list[str]:
    """``entries`` with each entry at or inside a moved archive moved with
    it, and each entry at or inside a dropped archive left out."""
    out = []
    for entry in entries:
        for archive, target in moves.items():
            if entry == archive or entry.startswith(archive + os.sep):
                entry = None if target is None else target + entry[len(archive):]
                break
        if entry is not None:
            out.append(entry)
    return out


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` with ``$SPARK_HOME/python`` in place of ``pyspark.zip`` and
    archives holding no Python module dropped.  Returned unchanged unless
    ``$SPARK_HOME/python/pyspark`` is an unpacked package."""
    unpacked = _unpacked(spark_home)
    if unpacked is None:
        return list(path)
    return _relocated(path, _moves(path, unpacked))


def unzip_import_path(spark_home: str | None) -> None:
    """Apply ``worker_path`` to ``sys.path`` in this process.  Packages
    already imported from ``pyspark.zip`` get the same directories under
    ``$SPARK_HOME/python`` as ``__path__``, so their submodules not loaded
    yet import from the unpacked tree; ``__path__`` entries inside a dropped
    archive go; cached ``zipimporter``s of archives no longer on the path
    are deleted.  Does nothing unless ``$SPARK_HOME/python/pyspark`` is
    unpacked and the path holds an archive to move."""
    unpacked = _unpacked(spark_home)
    if unpacked is None:
        return
    moves = _moves(sys.path, unpacked)
    if not moves:
        return
    sys.path[:] = _relocated(sys.path, moves)
    for module in list(sys.modules.values()):
        pkg_path = getattr(module, "__dict__", {}).get("__path__")
        if isinstance(pkg_path, list):
            pkg_path[:] = _relocated(pkg_path, moves)
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive not in sys.path:
            del sys.path_importer_cache[key]


def freeze_heap() -> None:
    """Collect this process's garbage once, then move every object left to
    the permanent generation, so later collections skip them."""
    gc.collect()
    gc.freeze()


def main() -> None:
    unzip_import_path(os.environ.get("SPARK_HOME"))
    # What nearly every engine task loads; the forked workers inherit it
    # loaded and frozen.
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.worker  # noqa: F401

    freeze_heap()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
