"""Driver-window order (SURVEY.md §5 item 7).

The driver's correctness gate checks the FIRST 50 keys of
``__spark_entry__.queries()``.  ``operators.driver_order`` computes that order
at import from the committed ``CORRECTNESS_r*.json`` files: oldest
fully-green round first (never green = round 0), ties by key name.  These
tests check the order applied at import and the order one synthetic driver
round later.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from bossarrowstorageengine_spark.operators import ORACLES, QUERIES, driver_order

REPO = Path(__file__).resolve().parents[1]
WINDOW = 50


def _assert_valid(order: dict[str, int]) -> None:
    assert sorted(order) == sorted(QUERIES), "order is not a permutation"
    assert list(order) == sorted(order, key=lambda k: (order[k], k)), (
        "order is not by newest green round, then key name")
    no_oracle = [k for k in list(order)[:WINDOW] if k not in ORACLES]
    assert not no_oracle, f"window keys without oracle SQL: {no_oracle}"


def test_window_keys_are_registered():
    from __spark_entry__ import queries

    order = driver_order(REPO)
    assert list(queries()) == list(order)
    _assert_valid(order)


def test_window_covers_unverified_keys():
    order = driver_order(REPO)
    never = [k for k, rnd in order.items() if rnd == 0]
    assert list(order)[:len(never)] == never


def test_window_rotates_oldest_green_keys(tmp_path):
    assert list(driver_order(tmp_path)) == list(QUERIES)

    paths = list(REPO.glob("CORRECTNESS_r*.json"))
    for path in paths:
        shutil.copy(path, tmp_path)
    window = list(driver_order(REPO))[:WINDOW]
    nxt = 1 + max(int(p.stem.split("_r")[1]) for p in paths)
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    (tmp_path / f"CORRECTNESS_r{nxt:02d}.json").write_text(
        json.dumps({k: green for k in window}))

    order = driver_order(tmp_path)
    assert set(list(order)[-WINDOW:]) == set(window)
    assert all(order[k] == nxt for k in window)
    _assert_valid(order)
