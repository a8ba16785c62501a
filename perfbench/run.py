"""The repository's benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload storage_churn --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run builds a Spark session on
``local[nproc]`` in this one driver process, generates the workload's
inputs from ``--seed``, runs untimed warm passes, then a fixed number of
timed passes over the workload's op sequence: ``--seconds`` divided by
the workload's usual pass time, rounded, and at least one.  Every op's
output is checked.  Everything it writes stays
under ``.perfbench_work/`` and ``.perfbench_out/`` in the repository root.
Without the engine package beside ``perfbench/`` it exits with code 2.

Standard output: one JSON report line (per-op medians, sample counts, the
run-quality stamp, the figures that apply to one workload only), then, as
the last line, the result: ``{"correct", "attempted", "failed",
"metrics"}``.  ``--trace 0`` reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` runs a traced pass before each untraced one,
reports the per-layer metrics, and writes the spans to
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "key_geomean_s": "s",
                    "peak_rss_mb": "MB"}


def _isolate(work: str) -> None:
    """Keep every file the run, the JVM and the Python workers write
    inside ``work``, and make the engine importable by the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # Every JVM spark-submit starts, its launcher included.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.memory": "1g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _set_up(work: str, cores: int):
    """Build the session, register arrowipc and warm up with one small job
    collected through Arrow.  The workload's warm pass does the rest.
    Returns the session and the build, warm-up and set-up times, the last
    from process start: interpreter and JVM launch included."""
    from bossarrowstorageengine_spark.session import build_session
    from bossarrowstorageengine_spark.sources import register_arrowipc

    spark = build_session("perfbench", master=f"local[{cores}]",
                          extra_conf=_spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    built = time.perf_counter()
    register_arrowipc(spark)
    spark.range(1000).selectExpr("id", "id * 2 AS x").toPandas()
    done = time.perf_counter()
    return spark, built - PROCESS_START, done - built, done - PROCESS_START


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


class Loop:
    """Runs passes of a workload's ops and keeps every op's time."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.kinds: dict[str, str] = {}

    def run_pass(self, record: bool = True, on_op=None,
                 warm: bool = False) -> float:
        """One pass; returns the summed op time (checks excluded)."""
        total = 0.0
        for op in self.workload.ops(warm=warm):
            self.attempted += 1
            wall0 = time.time()
            t0 = time.perf_counter()
            try:
                result = op.run()
                ran = True
            except Exception:
                traceback.print_exc(file=sys.stderr)
                result, ran = None, False
            dt = time.perf_counter() - t0
            try:
                ok = ran and bool(op.check(result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                self.failed += 1
                print(f"FAILED op {op.name}", file=sys.stderr)
            total += dt
            if record:
                self.samples.setdefault(op.name, []).append(dt)
                self.kinds[op.name] = op.kind
            if on_op is not None:
                on_op(op.name, wall0, wall0 + dt)
        return total


def _end_to_end(loop: Loop, passes: list[float], setup_s: float,
                rss: float) -> dict[str, float]:
    from stats import geomean, median

    return {
        "setup_s": setup_s,
        "pass_s": median(passes),
        "key_geomean_s": geomean([median(v) for v in loop.samples.values()]),
        "peak_rss_mb": rss,
    }


def _kind_p50(loop: Loop, kind: str) -> float | None:
    from stats import median

    vals = [v for k, s in loop.samples.items() if loop.kinds[k] == kind
            for v in s]
    return median(vals) if vals else None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bossarrowstorageengine_spark")):
        print("perfbench: the engine package is missing; run from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    from stats import RunStamp, median, percentile
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"known: {sorted(WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    stamp = RunStamp(ROOT, args.seed, cores)
    spark = None
    try:
        spark, build_s, warmup_s, setup_s = _set_up(work, cores)

        # Query keys that keep scratch tables write them under the run's
        # work directory instead of the engine's default /tmp location.
        from bossarrowstorageengine_spark.operators import scans
        scans._SCRATCH_ROOT = os.path.join(work, "engine-scratch")

        phases = {"setup": setup_s}
        t_gen = time.perf_counter()
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        workload.prepare()
        gen_s = time.perf_counter() - t_gen
        phases["inputs"] = gen_s

        loop = Loop(workload)
        t_warm = time.perf_counter()
        for _ in range(workload.warm_passes):    # checked, untimed
            loop.run_pass(record=False, warm=True)
        phases["warm"] = time.perf_counter() - t_warm
        tracer = None
        if args.trace:
            from tracer import Tracer
            tracer = Tracer(spark, cores)
        passes: list[float] = []
        traced: list[float] = []
        # A fixed amount of work, whatever the machine's speed at the time:
        # with a time limit instead, a slow run fits fewer passes, and its
        # median then falls on an earlier pass, still warming up.  Traced
        # passes go first: the JVM still warms up, so the overhead errs on
        # the high side.
        t_begin = time.perf_counter()
        for _ in range(max(1, round(args.seconds / workload.usual_pass_s))):
            if tracer:
                tracer.install()
                traced.append(loop.run_pass(record=False, on_op=tracer.after_op))
                tracer.uninstall()
            passes.append(loop.run_pass())
        phases["timed"] = time.perf_counter() - t_begin
        rss = _peak_rss_mb(spark)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter() - t_stop

    all_ops = [v for s in loop.samples.values() for v in s]
    p90 = percentile(all_ops, 90)
    report = {
        "workload": args.workload,
        "loop": "closed, 1 client",
        "input_rows": workload.input_rows,
        "input_gen_s": gen_s,
        "stamp": stamp.finish(),
        "phases_s": phases,
        "passes_s": passes,
        "ops": {k: {"kind": loop.kinds[k], "n": len(v), "p50_s": median(v)}
                for k, v in loop.samples.items()},
        "op_p90_s": p90,
        "op_p90_samples": len(all_ops),
        "commit_p50_s": _kind_p50(loop, "commit"),
        "scan_p50_s": _kind_p50(loop, "read"),
        "failed_ops_frac": loop.failed / loop.attempted,
        "counts": workload.layer_counts(),
    }
    report["samples"] = {"setup_s": 1, "pass_s": len(passes),
                         "key_geomean_s": len(all_ops), "peak_rss_mb": 1}
    if tracer is None:
        values = _end_to_end(loop, passes, setup_s, rss)
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in values.items()}
    else:
        metrics = tracer.per_layer(
            workload, loop, passes, traced, build_s, warmup_s,
            os.path.join(ROOT, ".perfbench_out",
                         f"trace-{args.workload}-{args.seed}.json"))
    print(json.dumps(report), flush=True)
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
