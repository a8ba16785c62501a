"""bossarrowstorageengine_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capability surface of the
reference repo ``jack-pearce/BOSSArrowStorageEngine`` (an Arrow-format BOSS
storage-engine plugin; see SURVEY.md).  The reference snapshot implements only
the engine *contract* (total evaluate with reified errors, pass-through,
reset lifecycle — ``/root/reference/Source/BOSSArrowStorageEngine.cpp:29-59``);
this package supplies the full analytics surface on top of Spark SQL /
DataFrame / Structured Streaming:

- ``engine``      — the Engine wrapper honoring the reference contract
                    (C1 reified errors, C2 pass-through, C4 reset).
- ``operators``   — the SURVEY.md §2 query surface (scans, filters, joins,
                    aggregates, windows, set ops, scalar funcs, event-time,
                    LLM-pipeline, UDF showcase).
- ``sources``     — the Arrow IPC custom data source ("arrowipc" format)
                    with zstd/lz4 compression — the identity capability.
- ``functions``   — reusable column-expression helpers (vector math, text
                    analysis, hashing/minhash).
- ``plans``       — partitioning/broadcast/skew helpers + scale notes for
                    the 100 TB design point.
- ``streaming``   — Structured Streaming harness for the event-time ops.
"""

__all__ = ["Engine", "EngineError", "EngineResult"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy (PEP 562): importing the package must not import pyspark, so that
    # ``_worker_daemon`` can fix the worker's import path before pyspark loads.
    if name in __all__:
        from bossarrowstorageengine_spark import engine

        return getattr(engine, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
