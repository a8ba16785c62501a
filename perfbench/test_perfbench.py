"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The last test runs the storage_churn workload twice (about three minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from run import END_TO_END_UNITS, Loop  # noqa: E402
from stats import percentile  # noqa: E402
from tracer import per_layer_names, per_layer_units  # noqa: E402
from workloads import Queries  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class _Frame:
    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self.pdf


def _fake_queries(results: dict[str, pd.DataFrame]) -> Queries:
    q = Queries.__new__(Queries)
    q.spark, q.sf_dir, q.keys = None, "", tuple(results)
    q.queries = {k: (lambda spark, sf, k=k: _Frame(results[k])) for k in results}
    q.expected = {k: v.copy() for k, v in results.items()}
    return q


def test_check_takes_the_oracle_canonical_form():
    spark_side = pd.DataFrame({"b": np.array([2, 1], np.int32),
                               "a": [-0.0, np.nan]})
    duck_side = pd.DataFrame({"a": [None, 0.0],
                              "b": np.array([1, 2], np.int64)})
    q = _fake_queries({"k": duck_side})
    assert q.check("k", spark_side)
    assert not q.check("k", spark_side.head(1))


def test_corrupted_expected_result_is_a_failed_op():
    q = _fake_queries({"a": pd.DataFrame({"x": [1, 2]}),
                       "b": pd.DataFrame({"y": [1.5]})})
    clean = Loop(q)
    clean.run_pass()
    assert (clean.attempted, clean.failed) == (2, 0)
    q.expected["b"].loc[0, "y"] = 2.5
    corrupt = Loop(q)
    corrupt.run_pass()
    assert (corrupt.attempted, corrupt.failed) == (2, 1)


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile([float(i) for i in range(99)], 90) is None
    assert percentile([float(i) for i in range(100)], 90) == 89.0
    assert percentile([], 90) is None


def test_every_metric_is_named_with_its_unit():
    bench = _benchmark()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == END_TO_END_UNITS
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    names = per_layer_names()
    assert list(layer) == names
    assert all(layer[n] == per_layer_units(n) for n in names)


def _run_churn(seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "storage_churn",
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, check=True, capture_output=True, text=True, timeout=600,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def test_storage_churn_counts_repeat_and_every_metric_prints():
    (rep1, res1), (rep2, res2) = _run_churn(7), _run_churn(7)
    units = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    for res in (res1, res2):
        assert res["correct"] and res["failed"] == 0
        assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    for name in ("arrowipc.partitions", "arrowipc.files_visible",
                 "arrowipc.delta_chain_len", "maintenance.files_rewritten"):
        assert rep1["counts"][name] == rep2["counts"][name], name
    # Compaction writes the rows in the order its scan tasks deliver them,
    # which varies, so the compressed file differs by some dozens of bytes
    # (of about 45 KB).
    stored1 = rep1["counts"]["bytes_stored_per_user_byte"]
    stored2 = rep2["counts"]["bytes_stored_per_user_byte"]
    assert abs(stored1 - stored2) <= 5e-3 * stored1
