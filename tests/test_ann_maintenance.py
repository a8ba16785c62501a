"""The shared pieces of the maintained ANN indexes, at unit scale.

- ``session.run_concurrently``: results in argument order, the active
  session bound in every helper thread (an ``arrowipc`` read works there),
  and a failing thunk re-raised only after its siblings returned, with no
  helper thread left alive.
- ``llm_pipeline._ann_delta_feed``: the changefeed a trained index
  publishes for two vector-grain commits, under both frozen encoders
  (IVF assignment and IVF-PQ encoding), against a pure-Python model of
  the same rules on a hand-built 13-vector corpus.
- ``llm_pipeline._same_rows``: the maintained indexes' audit rule is
  multiset equality, so it tells apart frames that differ only in a
  row's multiplicity, in one side's extra row, or in a payload array.
"""

from __future__ import annotations

import math
import os
import random
import threading
import time

import pytest

from bossarrowstorageengine_spark.session import run_concurrently
from bossarrowstorageengine_spark.sources import register_arrowipc

# ---------------------------------------------------------------------------
# run_concurrently
# ---------------------------------------------------------------------------


def test_run_concurrently_returns_in_argument_order(spark):
    def slow():
        time.sleep(0.3)
        return "slow"

    assert run_concurrently(spark, slow, lambda: "fast",
                            lambda: spark.range(5).count()) == [
        "slow", "fast", 5]
    assert run_concurrently(spark) == []


def test_run_concurrently_binds_session_for_arrowipc(spark, tmp_path):
    register_arrowipc(spark)
    path = str(tmp_path / "t")
    spark.range(6).write.format("arrowipc").mode("append").save(path)

    def read():
        # A fresh load() in the helper thread: the data source lookup
        # needs the session bound there.
        return spark.read.format("arrowipc").load(path).count()

    def write():
        spark.range(3).write.format("arrowipc").mode("append").save(
            str(tmp_path / "u"))
        return "written"

    assert run_concurrently(spark, read, write) == [6, "written"]
    assert spark.read.format("arrowipc").load(
        str(tmp_path / "u")).count() == 3


def test_run_concurrently_reraises_after_siblings_finish(spark):
    threads: list[threading.Thread] = []
    finished = threading.Event()

    def boom():
        threads.append(threading.current_thread())
        raise ValueError("boom")

    def sibling():
        threads.append(threading.current_thread())
        time.sleep(0.5)
        finished.set()
        return "done"

    with pytest.raises(ValueError, match="boom"):
        run_concurrently(spark, boom, sibling)
    assert finished.is_set()
    assert len(threads) == 2
    assert all(t is not threading.main_thread() for t in threads)
    assert not any(t.is_alive() for t in threads)


# ---------------------------------------------------------------------------
# _same_rows
# ---------------------------------------------------------------------------

def test_same_rows_is_multiset_equality(spark):
    from bossarrowstorageengine_spark.operators.llm_pipeline import _same_rows

    ddl = "vec_id long, bucket int, codes array<bigint>"
    rows = [(1, 0, [1, 2]), (2, 1, None), (2, 1, None), (3, None, [3])]

    def df(rs):
        return spark.createDataFrame(rs, ddl)

    assert _same_rows(df(rows), df(list(reversed(rows))))
    assert not _same_rows(df(rows), df(rows[:-1]))            # extra in a
    assert not _same_rows(df(rows[:-1]), df(rows))            # extra in b
    assert not _same_rows(df(rows), df(rows[:2] + rows[3:]))  # multiplicity
    assert not _same_rows(df(rows), df([(1, 0, [2, 1])] + rows[1:]))


# ---------------------------------------------------------------------------
# _ann_delta_feed against a pure-Python model
# ---------------------------------------------------------------------------

DIM, NSUB, SUBDIM = 64, 4, 16


def _rand_vec(rng: random.Random) -> list[int]:
    return [rng.randint(-100, 100) for _ in range(DIM)]


def _corpus() -> tuple[dict, dict, dict]:
    """Three versions of a 13-vector corpus.  Commit 1: ids 1-3 get new
    vectors, id 6 moves by one unit in one dimension (the same list and
    codes at any sane quantizer: an index-noise update), id 7 doubles (the
    same IVF list: cosine is scale-free), id 12 is inserted.  Commit 2:
    ids 4, 5 and 1 (updated in commit 1) are deleted, id 2 changes again,
    id 8 is negated."""
    rng = random.Random(11)
    v1 = {i: _rand_vec(rng) for i in range(12)}
    v2 = dict(v1)
    for i in (1, 2, 3):
        v2[i] = _rand_vec(rng)
    v2[6] = [x + (1 if d == 5 else 0) for d, x in enumerate(v1[6])]
    v2[7] = [2 * x for x in v1[7]]
    v2[12] = _rand_vec(rng)
    v3 = {i: v for i, v in v2.items() if i not in (1, 4, 5)}
    v3[2] = _rand_vec(rng)
    v3[8] = [-x for x in v2[8]]
    return v1, v2, v3


def _ivf_model(cents: dict[int, list[int]]):
    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def encode(v):
        def cos(c):
            return dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c)))
        best = max(cents, key=lambda c: (cos(cents[c]), -c))
        return best, ()
    return encode


def _pq_model(cents: dict[int, list[int]],
              codebook: dict[tuple[int, int], list[int]]):
    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def encode(v):
        c = min(cents, key=lambda k: (l2(v, cents[k]), k))
        res = [x - y for x, y in zip(v, cents[c])]
        codes = []
        for s in range(NSUB):
            sub = res[s * SUBDIM:(s + 1) * SUBDIM]
            codes.append(min((code for (cs, code) in codebook if cs == s),
                             key=lambda code: (l2(sub, codebook[(s, code)]),
                                               code)))
        return c, (tuple(codes),)
    return encode


def _pq_dist(cents, codebook, v) -> int:
    """The squared quantization error of ``v`` under ``_pq_model``'s
    encode: residual to the list centroid vs the chosen codes."""
    c, (codes,) = _pq_model(cents, codebook)(v)
    res = [x - y for x, y in zip(v, cents[c])]
    return sum(sum((x - y) * (x - y) for x, y in zip(
        res[s * SUBDIM:(s + 1) * SUBDIM], codebook[(s, code)]))
        for s, code in enumerate(codes))


def _model_feed(versions, encode, move_label):
    """The feed the delta-feed rules produce: per commit, an insert row
    for a new key, a tombstone for a dead one, and an update row only
    when the update changes the vector's list or payload."""
    rows, kinds = set(), set()
    for seq, (pre, post) in enumerate(zip(versions, versions[1:]), 1):
        for k in sorted(set(pre) | set(post)):
            if k not in post:
                rows.add((k, None, None, "delete", seq))
                kinds.add("delete")
            elif k not in pre:
                b, pay = encode(post[k])
                rows.add((k, b, *(pay or (None,)), "insert", seq))
                kinds.add("insert")
            elif pre[k] != post[k]:
                b, pay = encode(post[k])
                if (b, pay) == encode(pre[k]):
                    kinds.add("noise")
                    continue
                rows.add((k, b, *(pay or (None,)), move_label, seq))
                kinds.add("list" if b != encode(pre[k])[0] else "payload")
    return rows, kinds


def _vec_frame(spark, version: dict):
    return spark.createDataFrame(sorted(version.items()),
                                 "vec_id long, iemb array<bigint>")


def _changes(spark, versions):
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ivf_vec_changes,
    )

    v1, v2, v3 = (_vec_frame(spark, v) for v in versions)
    return (_ivf_vec_changes(v1, v2, 1)
            .unionByName(_ivf_vec_changes(v2, v3, 2)).localCheckpoint())


def _feed_set(feed_rows, has_codes: bool):
    cols = ["vec_id", "bucket"] + (["codes"] if has_codes else []) + [
        "change", "commit_seq"]
    out = set()
    for r in feed_rows.select(*cols).collect():
        codes = (tuple(r["codes"]) if r["codes"] is not None else None) \
            if has_codes else None
        out.add((r["vec_id"], r["bucket"], codes, r["change"],
                 r["commit_seq"]))
    return out


def test_ann_delta_feed_ivf_matches_python_model(spark, tmp_path):
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ann_delta_feed,
        _ivf_assign_frozen,
    )

    register_arrowipc(spark)
    versions = _corpus()
    rng = random.Random(5)
    cents = {c: _rand_vec(rng) for c in range(3)}
    cents_df = spark.createDataFrame(sorted(cents.items()),
                                     "centroid_id long, cent array<bigint>")
    feed_rows, mean_dist = _ann_delta_feed(
        spark, _changes(spark, versions),
        lambda v, keys: _ivf_assign_frozen(v, cents_df, keys),
        str(tmp_path / "feed"))

    assert feed_rows.columns == ["vec_id", "bucket", "change", "commit_seq"]
    assert mean_dist is None   # the IVF encoder has no distortion column
    want, kinds = _model_feed(versions, _ivf_model(cents), "rebucket")
    # Non-vacuous: every rule of the feed is exercised.
    assert {"insert", "delete", "list", "noise"} <= kinds
    assert _feed_set(feed_rows, False) == want


def test_ann_delta_feed_ivfpq_matches_python_model(spark, tmp_path):
    from bossarrowstorageengine_spark.operators.llm_pipeline import (
        _ann_delta_feed,
        _ivfpq_encode_frozen,
    )

    register_arrowipc(spark)
    versions = _corpus()
    rng = random.Random(3)
    cents = {c: _rand_vec(rng) for c in range(2)}
    codebook = {(s, code): [rng.randint(-120, 120) for _ in range(SUBDIM)]
                for s in range(NSUB) for code in range(3)}
    cents_df = spark.createDataFrame(sorted(cents.items()),
                                     "centroid_id long, cent array<bigint>")
    cb_df = spark.createDataFrame(
        [(code, s, v) for (s, code), v in sorted(codebook.items())],
        "code long, cs int, cvec array<bigint>")
    feed_rows, mean_dist = _ann_delta_feed(
        spark, _changes(spark, versions),
        lambda v, keys: _ivfpq_encode_frozen(v, cents_df, cb_df, keys),
        str(tmp_path / "feed"))

    assert feed_rows.columns == ["vec_id", "bucket", "codes", "change",
                                 "commit_seq"]
    # The monitor column is never stored; its mean over every post-image
    # (index-noise updates included) comes back from the feed write.
    dists = [_pq_dist(cents, codebook, post[k])
             for pre, post in zip(versions, versions[1:])
             for k in post if pre.get(k) != post[k]]
    assert mean_dist == pytest.approx(sum(dists) / len(dists))
    want, kinds = _model_feed(versions, _pq_model(cents, codebook), "recode")
    assert {"insert", "delete", "noise"} <= kinds
    assert kinds & {"list", "payload"}
    assert _feed_set(feed_rows, True) == want
    assert os.path.isdir(str(tmp_path / "feed" / "commit_seq=2"))
