"""Round-17 optimization regression tests.

Each test pins one r17 optimization's SEMANTIC contract (the speed is
the bench's job): the compact_feed_thru caller-schema path must be
content-identical to the inference path and fail loudly on a type
mismatch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


def _write_feed(spark, path):
    from bossarrowstorageengine_spark.sources import register_arrowipc

    register_arrowipc(spark)
    rows = [(i, f"k{i % 3}", i * 10, seq)
            for seq in (1, 2, 3) for i in range(seq * 4)]
    df = spark.createDataFrame(
        rows, "doc_id long, tag string, delta long, commit_seq long")
    for seq in (1, 2, 3):
        (df.filter(F.col("commit_seq") == seq)
         .write.format("arrowipc").option("partitionBy", "commit_seq")
         .option("compression", "lz4")
         .mode("append").save(path))


FEED_SCHEMA = "doc_id long, tag string, delta long, commit_seq long"


def test_compact_feed_thru_schema_matches_inference(spark, tmp_path):
    """compact_feed_thru(schema=...) rewrites the same logical rows as
    the inference path (r17: the schema skips the plan-worker inference
    round trip; content must be bit-identical)."""
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )

    a, b = str(tmp_path / "feed_a"), str(tmp_path / "feed_b")
    _write_feed(spark, a)
    _write_feed(spark, b)
    res_a = compact_feed_thru(spark, a, thru=2)                 # inference
    res_b = compact_feed_thru(spark, b, thru=2, schema=FEED_SCHEMA)
    assert res_a["compacted"] == res_b["compacted"] > 0
    assert res_a["rows"] == res_b["rows"]

    def state(path):
        return (spark.read.format("arrowipc")
                .schema(FEED_SCHEMA).load(path))

    sa, sb = state(a), state(b)
    assert sa.exceptAll(sb).unionByName(sb.exceptAll(sa)).count() == 0


def test_compact_feed_thru_schema_mismatch_fails_loudly(spark, tmp_path):
    """A wrong declared type fails the rewrite read (never a silent
    wrong checkpoint) — the _validate_declared_schema contract."""
    from bossarrowstorageengine_spark.sources.feed_maintain import (
        compact_feed_thru,
    )

    p = str(tmp_path / "feed_bad")
    _write_feed(spark, p)
    with pytest.raises(Exception, match="(?i)schema|type"):
        compact_feed_thru(
            spark, p, thru=2,
            schema="doc_id long, tag long, delta long, commit_seq long")
