"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual surface lives in ``bossarrowstorageengine_spark.operators``
(one module per SURVEY.md §2 family); this file just re-exports the
registries.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from bossarrowstorageengine_spark import operators  # noqa: E402
from bossarrowstorageengine_spark.session import apply_engine_conf  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    apply_engine_conf(spark)
    return operators.QUERIES["q_agg_basic"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Keys come oldest driver attestation first: by each key's newest
    fully-green round in the committed ``CORRECTNESS_r*.json`` files (never
    green = round 0), ties by key name (``operators.driver_order``)."""

    def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_engine_conf(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in operators.QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query key (keys without an oracle
    are non-SQL-expressible and get the driver's rows-only check)."""
    return dict(operators.ORACLES)
