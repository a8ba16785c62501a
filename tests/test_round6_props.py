"""Property tests for round-6 components: the greedy BPE merge's
string-replace equivalence, the stream-encoding seek-range splits'
losslessness across batch/split geometries, and the nearest-direction
as-of join against a brute-force reference."""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# BPE greedy merge: `replace(tok, pair, sentinel)` must equal the textbook
# leftmost non-overlapping scan for EVERY token/pair combination — this is
# the identity q_bpe_merge/q_bpe_train build on.
# ---------------------------------------------------------------------------

def _reference_merge(tok: str, pair: str, sentinel: str) -> str:
    out, i = [], 0
    while i < len(tok):
        if tok.startswith(pair, i):
            out.append(sentinel)
            i += len(pair)
        else:
            out.append(tok[i])
            i += 1
    return "".join(out)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abc", min_size=0, max_size=12),
    st.text(alphabet="abc", min_size=2, max_size=2),
)
def test_bpe_merge_is_greedy_leftmost(tok, pair):
    assert tok.replace(pair, "\x01") == _reference_merge(tok, pair, "\x01")


# ---------------------------------------------------------------------------
# Stream-encoding seek-range splits: for any (rows-per-batch, batches-per-
# split) geometry the split read must return exactly the written rows.
# ---------------------------------------------------------------------------

@pytest.mark.slow
@pytest.mark.parametrize("rows_per_batch,split", [(50, 3), (100, 1), (37, 8)])
def test_stream_seek_splits_lossless_across_geometries(
        spark, rows_per_batch, split):
    from bossarrowstorageengine_spark.sources import register_arrowipc
    from bossarrowstorageengine_spark.sources.arrowipc import stats_path

    register_arrowipc(spark)
    out = f"/tmp/spark_graft_test/{uuid.uuid4().hex}"
    n = 1201  # not divisible by any tested geometry — exercises tails
    df = spark.range(n).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       str(rows_per_batch))
        (df.coalesce(1).write.format("arrowipc")
         .option("ipcFormat", "stream").option("compression", "lz4")
         .mode("append").save(out))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    files = glob.glob(os.path.join(out, "*.arrows"))
    assert len(files) == 1
    with open(stats_path(files[0])) as f:
        n_batches = len(json.load(f)["batches"])

    back = (spark.read.format("arrowipc")
            .option("batchesPerSplit", str(split)).load(out))
    # Spark hands the option over lower-cased; the split must still apply.
    assert back.rdd.getNumPartitions() == -(-n_batches // split)
    got = sorted((r["id"], r["v"]) for r in back.collect())
    assert got == [(i, i * 7 % 13) for i in range(n)]
    shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# Nearest-direction as-of join vs a brute-force reference on the real
# events fixture: every match must be the minimal |gap| within tolerance
# under the declared tie order, and non-matches must truly have no
# candidate in range.
# ---------------------------------------------------------------------------

@pytest.mark.slow
def test_asof_nearest_matches_bruteforce(spark):
    import pandas as pd

    import __spark_entry__ as entrymod
    from bossarrowstorageengine_spark.catalog import load_table

    SF = "/root/testdata/sf0.001"
    out = entrymod.queries()["q_join_asof_nearest"](spark, SF).toPandas()

    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("us")).toPandas()
    pur = ev[ev["event_type"] == "purchase"]
    err = ev[ev["event_type"] == "error"]
    TOL = 600 * 1_000_000

    got = {int(r.event_id): (None if pd.isna(r.matched_err_id)
                             else (int(r.matched_err_id), int(r.gap_us)))
           for r in out.itertuples()}
    assert set(got) == set(pur["event_id"].astype(int))

    for p in pur.itertuples():
        cands = err[err["user_id"] == p.user_id].copy()
        cands["gap"] = cands["us"] - p.us
        cands = cands[cands["gap"].abs() <= TOL]
        if cands.empty:
            assert got[int(p.event_id)] is None
            continue
        best = min(
            ((abs(int(c.gap)), int(c.gap), int(c.event_id))
             for c in cands.itertuples()))
        assert got[int(p.event_id)] == (best[2], best[1]), p.event_id
