"""The traced run: spans op -> call -> Spark job -> stage, and the
per-layer metrics rolled up from them.

Spans are recorded from the benchmark's side of each layer boundary:

- ``maintenance``: calls into ``sources.maintenance``'s public functions;
- ``action``: DataFrame actions and ``DataFrameWriter.save``, each tagged
  with the repository module of its callsite;
- ``job`` and ``stage``: read from the Spark REST API after every op,
  before the UI's retention drops them.  A job belongs to the op whose
  time window saw it submitted: jobs started from helper threads do not
  inherit a job group, so the window is the only reliable key.

Each span's self time is its duration minus the part its children cover;
``rollup`` sums self time per (layer, name), a compact profile in place of
the raw log (after *Query Log Compression for Workload Analytics*).  The
per-op medians of every op (each query key, each storage call) are in the
report line of every run.

Which end-to-end metric each layer's metrics should move, and where
(mostly on / barely on):

===========  ======================================  =======================
layer        should move                             workload
===========  ======================================  =======================
session      setup_s                                 both
driver       pass_s, key_geomean_s                   both
spark        pass_s, key_geomean_s                   queries / storage_churn
engine       pass_s, key_geomean_s                   storage_churn / queries
operators    pass_s, key_geomean_s                   queries / storage_churn
sources      pass_s, key_geomean_s                   storage_churn / queries
streaming    pass_s, key_geomean_s                   queries / storage_churn
arrowipc     pass_s, key_geomean_s, peak_rss_mb      storage_churn / queries
maintenance  pass_s, key_geomean_s                   storage_churn / queries
===========  ======================================  =======================
"""

from __future__ import annotations

import calendar
import itertools
import json
import os
import re
import threading
import time
import traceback
import urllib.request
from urllib.parse import urlparse

from stats import median

ACTIONS = ("collect", "count", "take", "first", "isEmpty", "toPandas",
           "toArrow", "localCheckpoint")
MAINTENANCE = ("delete_arrowipc", "update_arrowipc", "merge_arrowipc",
               "compact_arrowipc", "vacuum_arrowipc")
MODULES = ("operators", "sources", "streaming")

_SITE = re.compile(r"bossarrowstorageengine_spark/(?:(\w+)/)?\w+\.py$")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order of BENCHMARK.json.  Each is
    taken on every workload; those of a layer a workload bypasses (the
    streaming module's actions on storage_churn, say) read 0 there."""
    names = ["session.build_s", "session.warmup_s"]
    names += ["driver.actions", "driver.jobs", "driver.job_busy_s",
              "driver.gap_s", "driver.concurrency"]
    names += ["spark.tasks", "spark.executor_run_s", "spark.core_util",
              "spark.input_bytes", "spark.shuffle_write_bytes",
              "spark.shuffle_read_bytes", "spark.spill_bytes"]
    names += ["driver.action_s", "driver.between_actions_s", "engine.actions"]
    names += [f"{m}.{x}" for m in MODULES for x in ("actions", "action_s")]
    names += ["arrowipc.partitions", "arrowipc.prune_ratio",
              "arrowipc.scan_f16_over_f1", "arrowipc.scan_f64_over_f1",
              "arrowipc.write_bytes_per_user_byte",
              "arrowipc.files_visible", "arrowipc.delta_chain_len",
              "arrowipc.bytes_stored_per_user_byte"]
    names += ["maintenance.files_rewritten", "maintenance.bytes_rewritten",
              "maintenance.removed_files"]
    names += ["trace.overhead_s"]
    return names


def per_layer_units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name and not name.endswith("_per_user_byte"):
        return "bytes"
    if name.endswith(("_per_user_byte", "prune_ratio", "_over_f1",
                      "core_util", "concurrency")):
        return "ratio"
    return "count"


def _rest_time(stamp: str | None) -> float | None:
    """Epoch seconds of a REST timestamp like 2026-01-02T03:04:05.678GMT."""
    if not stamp:
        return None
    whole, frac = stamp.rstrip("GMT").split(".")
    secs = calendar.timegm(time.strptime(whole, "%Y-%m-%dT%H:%M:%S"))
    return secs + int(frac) / 1000.0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _callsite_module() -> str:
    """The engine subpackage of the innermost engine frame on the stack
    ("other" for the rest of the engine), or "benchmark" when the action
    was started by the benchmark itself."""
    for frame in reversed(traceback.extract_stack()):
        m = _SITE.search(frame.filename)
        if m:
            return m.group(1) if m.group(1) in MODULES else "other"
    return "benchmark"


class Tracer:
    """Records spans while installed; ``after_op`` closes an op's span and
    attaches the Spark jobs and stages of its window."""

    def __init__(self, spark, cores: int):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.api = (f"http://127.0.0.1:{port}/api/v1/applications/"
                    f"{sc.applicationId}")
        self.cores = cores
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._open: list[dict] = []     # spans of calls since the last op
        self._stack = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._seen_jobs: set[int] = set()
        self._ids = itertools.count(1)

    # -- call spans ---------------------------------------------------------
    def _wrap(self, owner, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            stack = getattr(tracer._stack, "spans", None)
            if stack is None:
                stack = tracer._stack.spans = []
            span = {"layer": layer, "name": attr,
                    "module": _callsite_module() if layer == "action" else None,
                    "parent": stack[-1]["id"] if stack else None,
                    "id": next(tracer._ids)}
            tracer._open.append(span)
            stack.append(span)
            span["start"] = time.time()
            try:
                return orig(*a, **kw)
            finally:
                span["end"] = time.time()
                stack.pop()

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from bossarrowstorageengine_spark.sources import maintenance

        for name in ACTIONS:
            self._wrap(DataFrame, name, "action")
        self._wrap(DataFrameWriter, "save", "action")
        for name in MAINTENANCE:
            self._wrap(maintenance, name, "maintenance")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark jobs and stages ---------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=10) as resp:
            return json.load(resp)

    def _jobs_in(self, start: float, end: float) -> list[dict]:
        """Jobs submitted in the window, waiting (briefly) for the status
        store to see them complete."""
        for _ in range(40):
            jobs = [j for j in self._get("/jobs")
                    if j["jobId"] not in self._seen_jobs
                    and start - 0.005 <= _rest_time(j["submissionTime"]) <= end]
            if all(j.get("completionTime") for j in jobs):
                return jobs
            time.sleep(0.05)
        return jobs

    def after_op(self, name: str, start: float, end: float) -> None:
        op = {"layer": "op", "name": name, "start": start, "end": end,
              "parent": None, "id": next(self._ids)}
        self.spans.append(op)
        calls, self._open = self._open, []
        for span in calls:
            if span["parent"] is None:
                span["parent"] = op["id"]
        self.spans.extend(calls)
        jobs = self._jobs_in(start, end)
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages")} if jobs else {}
        intervals, job_time = [], 0.0
        # An action that calls another (``first`` calls ``take``, which
        # calls ``collect``) is one action: only the outermost counts.
        action_ids = {s["id"] for s in calls if s["layer"] == "action"}
        actions = [s for s in calls if s["layer"] == "action"
                   and s["parent"] not in action_ids]
        record = {"name": name, "wall_s": end - start, "jobs": len(jobs),
                  "actions": len(actions),
                  "tasks": 0, "executor_run_s": 0.0, "input_bytes": 0,
                  "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                  "spill_bytes": 0}
        record["action_s"] = _union([(s["start"], s["end"]) for s in actions])
        for m in MODULES + ("engine",):
            mine = [s for s in actions
                    if s["module"] == m
                    or (m == "engine" and s["module"] != "benchmark")]
            record[f"{m}.actions"] = len(mine)
            record[f"{m}.action_s"] = _union(
                [(s["start"], s["end"]) for s in mine])
        for job in jobs:
            self._seen_jobs.add(job["jobId"])
            a = max(start, _rest_time(job["submissionTime"]))
            b = min(end, _rest_time(job.get("completionTime")) or end)
            intervals.append((a, b))
            job_time += max(0.0, b - a)
            parent = next((s for s in reversed(calls)
                           if s["start"] <= a <= s["end"]), op)
            jspan = {"layer": "job", "name": job["name"].split(" at ")[0],
                     "start": a, "end": b, "parent": parent["id"],
                     "id": next(self._ids)}
            self.spans.append(jspan)
            for sid in job["stageIds"]:
                st = stages.get((sid, 0))
                if st is None or st.get("status") != "COMPLETE":
                    continue
                record["tasks"] += st["numTasks"]
                record["executor_run_s"] += st["executorRunTime"] / 1000.0
                record["input_bytes"] += st["inputBytes"]
                record["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                record["shuffle_read_bytes"] += st["shuffleReadBytes"]
                record["spill_bytes"] += st["diskBytesSpilled"]
                self.spans.append({
                    "layer": "stage", "name": st["name"].split(" at ")[0],
                    "start": _rest_time(st.get("submissionTime")) or a,
                    "end": _rest_time(st.get("completionTime")) or b,
                    "parent": jspan["id"], "id": next(self._ids)})
        busy = _union(intervals)
        record["job_busy_s"] = busy
        record["gap_s"] = (end - start) - busy
        record["job_time_s"] = job_time
        self.ops.append(record)

    # -- roll-up --------------------------------------------------------------
    def rollup(self) -> dict[str, dict]:
        """Self time per (layer, name)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            kids = [(max(s["start"], c["start"]), min(s["end"], c["end"]))
                    for c in children.get(s["id"], [])]
            covered = _union([k for k in kids if k[1] > k[0]])
            key = f"{s['layer']}:{s['name']}"
            agg = out.setdefault(key, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            agg["n"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += (s["end"] - s["start"]) - covered
        return out

    def per_layer(self, workload, loop, passes, traced, build_s, warmup_s,
                  out_path: str) -> dict[str, dict]:
        """Per-pass totals of the traced passes, the workload's layer
        counts and the tracing overhead; writes the spans and their
        roll-up to ``out_path``."""
        n_pass = max(1, len(traced))

        def total(key: str) -> float:
            return sum(r[key] for r in self.ops) / n_pass

        busy = total("job_busy_s")
        values: dict[str, float] = {
            "session.build_s": build_s,
            "session.warmup_s": warmup_s,
            "driver.actions": total("actions"),
            "driver.jobs": total("jobs"),
            "driver.job_busy_s": busy,
            "driver.gap_s": total("gap_s"),
            "driver.concurrency": total("job_time_s") / busy if busy else 0.0,
            "spark.tasks": total("tasks"),
            "spark.executor_run_s": total("executor_run_s"),
            "spark.core_util": (total("executor_run_s") / (busy * self.cores)
                                if busy else 0.0),
            "spark.input_bytes": total("input_bytes"),
            "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
            "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
            "spark.spill_bytes": total("spill_bytes"),
            "driver.action_s": total("action_s"),
            "driver.between_actions_s": total("wall_s") - total("action_s"),
            "engine.actions": total("engine.actions"),
            **{f"{m}.{x}": total(f"{m}.{x}")
               for m in MODULES for x in ("actions", "action_s")},
            "trace.overhead_s": median(traced) - median(passes),
        }
        f1 = loop.samples.get("scan_f1")
        for n in (16, 64):
            fn = loop.samples.get(f"scan_f{n}")
            if f1 and fn:
                values[f"arrowipc.scan_f{n}_over_f1"] = median(fn) / median(f1)
        counts = workload.layer_counts()
        if "bytes_stored_per_user_byte" in counts:
            counts["arrowipc.bytes_stored_per_user_byte"] = counts.pop(
                "bytes_stored_per_user_byte")
        values.update(counts)

        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as fh:
            json.dump({"workload": workload.name, "ops": self.ops,
                       "rollup": self.rollup(), "spans": self.spans}, fh)
        return {n: {"value": float(values.get(n, 0.0)),
                    "unit": per_layer_units(n)} for n in per_layer_names()}
