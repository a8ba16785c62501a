"""Operator surface (SURVEY.md §2 Part B) — importing this package populates
the query/oracle registries in ``registry``."""

from __future__ import annotations

import importlib
import json
from pathlib import Path

from bossarrowstorageengine_spark.operators.registry import ORACLES, QUERIES

#: Operator-family modules; each registers its queries on import.
_MODULES = [
    "aggregates",
    "boss",
    "curation",
    "event_time",
    "filters",
    "graph",
    "joins",
    "llm_pipeline",
    "multimodal",
    "reshape",
    "scalar_funcs",
    "scans",
    "setops",
    "sorts",
    "subqueries",
    "training_data",
    "udfs",
    "windows",
]

for _m in _MODULES:
    importlib.import_module(f"bossarrowstorageengine_spark.operators.{_m}")


def driver_order(correctness_dir: Path) -> dict[str, int]:
    """Every registered key, in ``queries()`` order, mapped to its newest
    fully-green round in ``correctness_dir``'s ``CORRECTNESS_r*.json`` files
    (rows, schema and hash match, no ``err``; 0 = never green).

    The driver's correctness gate checks the first 50 keys of ``queries()``,
    so keys sort oldest attestation first, ties by key name: never-green keys
    lead, and every key is re-attested within ceil(keys / 50) rounds.  With
    no CORRECTNESS files the order of ``QUERIES`` (at import, registration
    order) is kept."""
    latest = dict.fromkeys(QUERIES, 0)
    paths = list(correctness_dir.glob("CORRECTNESS_r*.json"))
    for path in paths:
        rnd = int(path.stem.split("_r")[1])
        for key, row in json.loads(path.read_text()).items():
            if (key in latest and isinstance(row, dict)
                    and row.get("rows_match") and row.get("schema_match")
                    and row.get("hash_match") and not row.get("err")):
                latest[key] = max(latest[key], rnd)
    if not paths:
        return latest
    return {k: latest[k] for k in sorted(latest, key=lambda k: (latest[k], k))}


_order = driver_order(Path(__file__).resolve().parents[2])
for _registry in (QUERIES, ORACLES):
    _items = {k: _registry[k] for k in _order if k in _registry}
    _registry.clear()
    _registry.update(_items)

__all__ = ["QUERIES", "ORACLES", "driver_order"]
