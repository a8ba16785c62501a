"""The Python worker launcher (``bossarrowstorageengine_spark._worker_daemon``).

Engine sessions start their Python workers with the unpacked
``$SPARK_HOME/python`` tree in place of ``pyspark.zip`` and without the
``spark-core`` jar on the import path.  These tests pin that the workers
still import the same pyspark, pyarrow, pandas and packaging as the driver,
that no archive importer is left for ``invalidate_caches()`` to rescan, and
that the path rewrite leaves the path alone when no unpacked tree exists.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyarrow as pa

from bossarrowstorageengine_spark._worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_unzipped_pyspark_and_driver_packages(spark):
    import packaging
    import pandas

    def worker_facts(batches):
        import os
        import sys
        import zipfile
        import zipimport

        import packaging
        import pandas
        import pyarrow
        import pyspark

        def holds_python(archive):
            with zipfile.ZipFile(archive) as zf:
                return any(n.endswith((".py", ".pyc")) for n in zf.namelist())

        archives = {f.archive for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)}
        bad = sorted(a for a in archives
                     if os.path.basename(a) == "pyspark.zip" or not holds_python(a))
        for _ in batches:
            yield pyarrow.RecordBatch.from_pylist([{
                "version": pyspark.__version__,
                "pyspark": pyspark.__file__,
                "bad_importers": ",".join(bad),
                "pyarrow": pyarrow.__file__,
                "pandas": pandas.__file__,
                "packaging": packaging.__file__,
            }])

    schema = ("version string, pyspark string, bad_importers string, "
              "pyarrow string, pandas string, packaging string")
    rows = (spark.range(0, 4, 1, 4).mapInArrow(worker_facts, schema)
            .collect())
    assert len(rows) == 4
    for row in rows:
        assert row.version == spark.version
        assert ".zip" not in row.pyspark
        assert row.bad_importers == ""
        assert row.pyarrow == pa.__file__
        assert row.pandas == pandas.__file__
        assert row.packaging == packaging.__file__


def _zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, "")
    return str(path)


def _spark_layout(tmp_path, unpacked: bool):
    home = tmp_path / "spark"
    lib = home / "python" / "lib"
    lib.mkdir(parents=True)
    jars = home / "jars"
    jars.mkdir()
    if unpacked:
        (home / "python" / "pyspark").mkdir()
        (home / "python" / "pyspark" / "__init__.py").write_text("")
    return {
        "home": str(home),
        "pyspark_zip": _zip(lib / "pyspark.zip", ["pyspark/__init__.py"]),
        "py4j_zip": _zip(lib / "py4j-src.zip", ["py4j/__init__.py"]),
        "core_jar": _zip(jars / "spark-core.jar", ["org/Foo.class", "META-INF/MANIFEST.MF"]),
    }


def _spark_path(layout, tmp_path):
    return [str(tmp_path), layout["pyspark_zip"], layout["py4j_zip"],
            layout["core_jar"], os.path.dirname(os.__file__)]


def test_path_unchanged_without_unpacked_pyspark(tmp_path):
    layout = _spark_layout(tmp_path, unpacked=False)
    path = _spark_path(layout, tmp_path)
    assert worker_path(path, layout["home"]) == path
    assert worker_path(path, None) == path


def test_path_swaps_zip_keeps_python_archives_drops_the_rest(tmp_path):
    layout = _spark_layout(tmp_path, unpacked=True)
    not_a_zip = tmp_path / "not-a-zip.egg"
    not_a_zip.write_text("kept: the import system decides what it is")
    path = _spark_path(layout, tmp_path) + [str(not_a_zip)]
    assert worker_path(path, layout["home"]) == [
        str(tmp_path), os.path.join(layout["home"], "python"),
        layout["py4j_zip"], os.path.dirname(os.__file__), str(not_a_zip)]


def test_package_import_leaves_pyspark_unloaded():
    code = ("import sys, bossarrowstorageengine_spark as p\n"
            "assert 'pyspark' not in sys.modules, 'pyspark imported'\n"
            "from bossarrowstorageengine_spark import Engine\n"
            "from bossarrowstorageengine_spark.engine import Engine as E\n"
            "assert Engine is E\n")
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)
