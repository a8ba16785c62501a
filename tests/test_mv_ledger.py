"""The MV ledger algebra in ``streaming/mv_maintain.py``: the batch keys'
one-job ledger equals the streaming maintainer's per-commit merges, and
the maintainer refuses an unseeded ledger before it looks at a batch."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bossarrowstorageengine_spark.streaming.mv_maintain import (
    _commit_deltas,
    _ledger_versions,
    _merge_ledger_state,
    _rollup,
    apply_fanout_batch,
)

_FEED_SCHEMA = ("lang string, source string, change string, delta long, "
                "commit_seq long")


def test_ledger_versions_equal_chained_merges(spark):
    """On a hand-built two-commit feed (updates, deletes that empty a
    group, an insert into an existing group), every version
    ``_ledger_versions`` derives in one frame equals the chain of
    per-commit ``_merge_ledger_state`` calls, at the fine grain and at
    its coarse rollup."""
    fine = ["lang", "source"]
    base_fine = spark.createDataFrame(
        [("en", "web", 3, 30), ("en", "news", 2, 20), ("de", "web", 1, 10),
         ("fr", "web", 4, 40)],
        "lang string, source string, docs long, chars long")
    feed = spark.createDataFrame([
        ("en", "web", "update", 5, 1),
        ("de", "web", "delete", -10, 1),   # empties de/web: stays at 0/0
        ("en", "news", "insert", 7, 1),
        ("en", "web", "delete", -4, 2),
        ("en", "news", "update", -1, 2),
    ], _FEED_SCHEMA)

    for keys in (fine, ["lang"]):
        def at_grain(df, keys=keys):
            return df if keys == fine else _rollup(df, keys)

        base = at_grain(base_fine)
        batch = {tuple(r) for r in _ledger_versions(
            base, at_grain(_commit_deltas(feed, fine, [1, 2])), keys,
            [1, 2]).collect()}

        head = base.select(*keys, "docs", "chars",
                           F.lit(1).cast("long").alias("mv_version"),
                           F.lit(0).cast("long").alias("src_commit"))
        chain = {tuple(r) for r in head.collect()}
        for version, seq in ((1, 1), (2, 2)):
            deltas = at_grain(_commit_deltas(
                feed.filter(F.col("commit_seq") == seq), fine))
            head = _merge_ledger_state(head, deltas.localCheckpoint(), keys,
                                       version, seq).localCheckpoint()
            chain |= {tuple(r) for r in head.collect()}

        assert batch == chain
        # non-vacuous: three versions, and the deltas moved the state
        assert {r[-2] for r in batch} == {1, 2, 3}
        v1 = {r[:-4]: r[-4:-2] for r in batch if r[-2] == 1}
        v3 = {r[:-4]: r[-4:-2] for r in batch if r[-2] == 3}
        assert v1 != v3 and v1.keys() == v3.keys()
        if keys == fine:
            assert ("de", "web", 0, 0, 3, 2) in batch


def test_apply_fanout_batch_refuses_unseeded_grain_on_empty_batch(
        spark, tmp_path):
    """Every grain is checked before the empty-batch return: an unseeded
    ledger is a set-up error, reported even when there is nothing to
    apply yet."""
    seeded = str(tmp_path / "mv_fine")
    os.makedirs(seeded)
    missing = str(tmp_path / "mv_coarse")
    empty = spark.createDataFrame([], _FEED_SCHEMA)
    with pytest.raises(ValueError, match="seed first") as err:
        apply_fanout_batch(empty, 0, [(seeded, ["lang", "source"]),
                                      (missing, ["lang"])])
    assert missing in str(err.value)
