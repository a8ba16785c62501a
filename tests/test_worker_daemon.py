"""The unzipped, frozen worker (``bossarrowstorageengine_spark._worker_daemon``).

Engine sessions start their Python workers with the unpacked
``$SPARK_HOME/python`` tree in place of ``pyspark.zip``, without the
``spark-core`` jar on the import path and with a frozen heap, and Spark's
data-source planner workers get the same path and freeze when they first
import ``arrowipc``.  These tests pin that the workers still import the same
pyspark, pyarrow, pandas and packaging as the driver, that no archive
importer is left for ``invalidate_caches()`` to rescan, that the workers'
heaps are frozen, and that the path rewrite and the freeze leave a process
alone when no unpacked tree exists or the process is not a Spark worker.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import zipfile

import pyarrow as pa
import pytest

from bossarrowstorageengine_spark._worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_unzipped_pyspark_and_driver_packages(spark):
    import packaging
    import pandas

    def worker_facts(batches):
        import gc
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
                "frozen": gc.get_freeze_count(),
            }])

    schema = ("version string, pyspark string, bad_importers string, "
              "pyarrow string, pandas string, packaging string, frozen long")
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
        assert row.frozen > 0


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


def _real_spark_archives():
    """``$SPARK_HOME`` with its ``pyspark.zip``, py4j zip and ``spark-core``
    jar, as Spark puts them on a worker's path."""
    home = os.environ.get("SPARK_HOME", "")
    lib = os.path.join(home, "python", "lib")
    zipped = os.path.join(lib, "pyspark.zip")
    py4j = glob.glob(os.path.join(lib, "py4j-*.zip"))
    jar = glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))
    if not (home and py4j and jar and os.path.isfile(zipped) and os.path.isfile(
            os.path.join(home, "python", "pyspark", "__init__.py"))):
        pytest.skip("no $SPARK_HOME with an unpacked python/pyspark and its archives")
    return {"home": home, "pyspark_zip": zipped, "py4j_zip": py4j[0], "core_jar": jar[0]}


def _run_on_spark_path(code, archives, *args):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [archives["pyspark_zip"], archives["py4j_zip"], archives["core_jar"], REPO]))
    subprocess.run([sys.executable, "-c", code, *args], cwd=REPO, env=env, check=True)


def test_unzip_after_pyspark_loaded_from_zip():
    archives = _real_spark_archives()
    code = """
import importlib, os, sys, zipimport
ZIP, JAR, HOME = sys.argv[1:]
import pyspark.sql.worker.plan_data_source_read
import pyspark
assert pyspark.__file__.startswith(ZIP + os.sep), pyspark.__file__
version = pyspark.__version__
assert "pyspark.sql.avro.functions" not in sys.modules
from bossarrowstorageengine_spark._worker_daemon import unzip_import_path
unzip_import_path(HOME)

def bad():
    return sorted({f.archive for f in sys.path_importer_cache.values()
                   if isinstance(f, zipimport.zipimporter) and f.archive in (ZIP, JAR)})

assert bad() == [], bad()
importlib.invalidate_caches()
assert bad() == [], bad()
import pyspark.sql.avro.functions as fresh
assert fresh.__file__ == os.path.join(HOME, "python", "pyspark", "sql", "avro",
                                      "functions.py"), fresh.__file__
assert bad() == [], bad()
assert pyspark.__version__ == version
"""
    _run_on_spark_path(code, archives, archives["pyspark_zip"],
                       archives["core_jar"], archives["home"])


def test_arrowipc_import_leaves_plain_process_path_alone():
    archives = _real_spark_archives()
    code = """
import gc, sys
before = list(sys.path)
import bossarrowstorageengine_spark.sources.arrowipc
assert sys.path == before, (before, sys.path)
assert gc.get_freeze_count() == 0, gc.get_freeze_count()
"""
    _run_on_spark_path(code, archives)


def test_planner_workers_drop_zip_importers_after_arrowipc_import(spark, tmp_path):
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    # Defined in the test, so Spark pickles it by value: the planner workers
    # import arrowipc only through report().
    class PlannerProbe(DataSource):
        @classmethod
        def name(cls):
            return "planner_probe"

        @staticmethod
        def report(out, call):
            import gc
            import json
            import os
            import sys
            import uuid
            import zipfile
            import zipimport

            import bossarrowstorageengine_spark.sources.arrowipc  # noqa: F401

            def holds_python(archive):
                with zipfile.ZipFile(archive) as zf:
                    return any(n.endswith((".py", ".pyc")) for n in zf.namelist())

            archives = {f.archive for f in sys.path_importer_cache.values()
                        if isinstance(f, zipimport.zipimporter)}
            bad = sorted(a for a in archives
                         if os.path.basename(a) == "pyspark.zip" or not holds_python(a))
            with open(os.path.join(out, f"{call}-{uuid.uuid4().hex}.json"), "w") as f:
                json.dump({"call": call, "bad": bad,
                           "frozen": gc.get_freeze_count()}, f)

        def schema(self):
            self.report(self.options["out"], "schema")
            return "id int"

        def reader(self, schema):
            return PlannerProbeReader(self.options["out"])

    class PlannerProbeReader(DataSourceReader):
        def __init__(self, out):
            self.out = out

        def partitions(self):
            PlannerProbe.report(self.out, "partitions")
            return [InputPartition(0)]

        def read(self, partition):
            yield (1,)

    spark.dataSource.register(PlannerProbe)

    def read_reports(out):
        os.makedirs(out)
        assert spark.read.format("planner_probe").option("out", out).load().count() == 1
        reports = []
        for name in sorted(os.listdir(out)):
            with open(os.path.join(out, name)) as f:
                reports.append(json.load(f))
        return reports

    read_reports(str(tmp_path / "first"))
    second = read_reports(str(tmp_path / "second"))
    assert {r["call"] for r in second} == {"schema", "partitions"}
    assert [r["bad"] for r in second] == [[] for _ in second]
    assert all(r["frozen"] > 0 for r in second), second
