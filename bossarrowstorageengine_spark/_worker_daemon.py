"""Spark Python worker launcher for engine sessions.

``session.build_session`` sets this module as ``spark.python.daemon.module``.
Spark starts it as ``python -m`` with ``pyspark.zip``, the py4j zip and the
``spark-core`` jar at the front of ``PYTHONPATH``.  Before each task, the
worker calls ``importlib.invalidate_caches()``, and on Python 3.11 every
cached ``zipimporter`` then re-reads its archive's central directory: about
0.2 s per task for ``pyspark.zip`` (one importer per imported subpackage)
and the jar (thousands of entries, no Python).  This module rewrites
``sys.path`` before pyspark is imported, then runs ``pyspark.daemon``.  It
changes which archives a worker rescans, never which module an import
resolves to: the unpacked ``$SPARK_HOME/python`` tree is the same pyspark as
``pyspark.zip``, and a dropped archive holds no module to import.
"""

from __future__ import annotations

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


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` with ``$SPARK_HOME/python`` in place of ``pyspark.zip`` and
    archives holding no Python module dropped.  Returned unchanged unless
    ``$SPARK_HOME/python/pyspark`` is an unpacked package."""
    if not spark_home:
        return list(path)
    unpacked = os.path.join(spark_home, "python")
    if not os.path.isfile(os.path.join(unpacked, "pyspark", "__init__.py")):
        return list(path)
    zipped = os.path.realpath(os.path.join(unpacked, "lib", "pyspark.zip"))
    out = []
    for entry in path:
        if os.path.realpath(entry) == zipped:
            entry = unpacked
        elif os.path.isfile(entry) and not _holds_python(entry):
            continue
        out.append(entry)
    return out


def main() -> None:
    sys.path[:] = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive not in sys.path:
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
