"""SparkSession construction with engine defaults.

Defaults chosen for determinism (UTC timestamps), Arrow exchange at the
Python boundary, and scale-friendly execution (AQE on, coalesced shuffle
partitions).  On a real cluster the same builder is used with a different
master; nothing here is local-mode-specific except the fallback master.

Python workers.  A reused Spark Python worker pays two fixed costs on every
task.  Spark puts ``pyspark.zip`` and the ``spark-core`` jar on every Python
worker's import path, and before each task the worker calls
``importlib.invalidate_caches()``, which on Python 3.11 makes every cached
``zipimporter`` re-read its archive's central directory: about 0.2 s per
Python task.  After each task ``pyspark.daemon`` runs ``gc.collect()``,
which walks the ~74k objects of a worker with pyspark, pyarrow and pandas
loaded: 46-160 ms per task, timed inside 4 concurrent workers on 4 cores.
A 64-task RDD map of one element per task took 3.6-3.9 s on 4 cores (Spark
4.1.2, Python 3.11).  Sessions built here start their workers through
``_worker_daemon`` (``ENGINE_STATIC_CONF``), which takes those archives off
the path before pyspark loads and freezes the daemon's heap
(``gc.freeze()``) before it forks workers, so the per-task collection walks
only the task's own objects (0.3 ms).  The zip fix brought the same map to
~0.9 s; on a busier host (load ~2.5), the freeze then took it from
1.02-1.07 s to 0.90-0.93 s.  The planner round trips of Python data sources
(``schema()``, ``partitions()``, the write commit) run in reused workers
forked from a plain ``pyspark.daemon``, which Spark starts whatever the
daemon-module conf says; ``sources/arrowipc.py`` takes the archives off
their path and freezes their heap when it is first imported there, in every
session.

The launcher conf is static: it only takes effect when ``build_session``
creates the SparkContext.  ``apply_engine_conf`` cannot set it, so a session
built elsewhere -- the vanilla driver session that ``__spark_entry__``
receives, or ``SparkSession.builder.getOrCreate()`` in the verify steps --
keeps Spark's default launch and the per-task cost in every worker that
has not imported ``arrowipc``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Engine-level Spark conf applied to every session we build.  Each entry is
#: safe to set post-hoc on an existing session too (runtime-mutable SQL confs).
ENGINE_SQL_CONF: dict[str, str] = {
    # Determinism: timestamps rendered/compared in UTC everywhere.
    "spark.sql.session.timeZone": "UTC",
    # Arrow exchange for pandas UDFs / toPandas / createDataFrame.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches at the JVM⇄Python boundary: measured ~2× faster
    # end-to-end for mapInArrow / Python data source writes than the 10k
    # default (fewer batch round-trips), while 64k rows × ~100 B/row stays
    # ~6 MB per batch — safely inside executor memory at cluster scale.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Adaptive execution: runtime shuffle coalescing + skew-join splitting.
    # This is the primary lever that lets one static conf serve both the
    # sf0.01 oracle runs and a 100 TB cluster run.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Static shuffle width, the same 32 on every master (the tests run
    # local[8], the benchmark local[nproc]); AQE coalesces small stages
    # below it, and a cluster deploy overrides it upward.
    "spark.sql.shuffle.partitions": "32",
    # Keep scan partitions reasonable for small local files.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: default 10 MB is right for the dims here.
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
    # Allow Python data sources (arrowipc) to receive pushed filters.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Runtime (bloom) filters: let a selective filter on one join side build
    # a bloom filter that prunes the other side's scan before the shuffle.
    # The application-side threshold defaults to 10 GB — sensible on a
    # cluster, but it would disable the rule at every test scale, so it is
    # zeroed: semi-join reduction is cheap insurance at any size.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise an illegal type for
    # Spark's reader; read as long and convert in catalog.load_table — the
    # floor-to-µs conversion matches DuckDB's TIMESTAMP read (FIXTURES.md).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

#: Launch-time Spark conf for sessions ``build_session`` creates.  Static, so
#: ``apply_engine_conf`` cannot set it on a running session.
ENGINE_STATIC_CONF: dict[str, str] = {
    # Start Python workers through the engine launcher: no zip rescans
    # (about 0.2 s per Python task) and a frozen heap for the daemon's
    # per-task gc.collect() (tens of ms per task; module docstring).  The
    # workers must import this package, which every engine session needs
    # anyway: the arrowipc source and the engine's UDFs are pickled by
    # reference.
    "spark.python.daemon.module": "bossarrowstorageengine_spark._worker_daemon",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(app_name: str = "bossarrowstorageengine-spark",
                  master: str | None = None,
                  extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{default_parallelism()}]"
    builder = builder.master(master)
    for k, v in {**ENGINE_STATIC_CONF, **ENGINE_SQL_CONF}.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate may have returned a pre-existing session whose builder conf
    # was ignored — re-apply the runtime-mutable SQL confs so engine semantics
    # (UTC, AQE, Arrow) hold regardless of who created the session.
    for k, v in ENGINE_SQL_CONF.items():
        spark.conf.set(k, v)
    return spark


def run_concurrently(spark: SparkSession, *thunks) -> list:
    """Run each zero-argument thunk on its own driver thread, so their Spark
    jobs share the executors, and return the results in argument order.

    A fresh Python thread talks to a fresh JVM thread whose active-session
    thread-local is unset, so creating a reader or writer for a
    session-registered Python data source (``arrowipc``) there fails lookup
    with ``ClassNotFoundException: arrowipc.DefaultSource``.  py4j pins each
    Python thread to one JVM thread, so binding the active session once at
    the start of each thunk restores the main thread's behaviour.

    Every thunk runs to its end before anything is returned or raised: if
    some raise, the first of them in argument order is re-raised once all
    siblings have returned and every helper thread has exited, so no thread
    goes on submitting jobs for a caller that has already failed."""
    from concurrent.futures import ThreadPoolExecutor

    def bound(fn):
        def run():
            spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
                spark._jsparkSession)
            return fn()
        return run

    # Leaving the block joins every worker thread.
    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as pool:
        futures = [pool.submit(bound(fn)) for fn in thunks]
    return [f.result() for f in futures]


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-mutable SQL confs to an existing session.

    Used by the driver entry points, which receive a session we didn't build.
    """
    for k, v in ENGINE_SQL_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # non-mutable conf on this build — keep going
            pass
    return spark
