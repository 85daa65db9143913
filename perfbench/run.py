#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload glm --seed 1 --seconds 1 --trace 0

Spark runs as ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process
may use). The run starts the session, loads and caches the inputs once,
builds the workload's one-time artifacts, runs the workload's warm-up
passes, then runs passes until ``--seconds`` seconds have passed (at least
one; a pass started inside the window runs to its end) and checks every
output. ``setup_s`` is session start + the load + the build + the warm-up
passes; ``pass_s`` is the median measured pass.
With ``--trace 1`` it alternates untraced and traced passes, enables
Spark's event log, and reports the per-layer split of the traced passes
instead of the end-to-end metrics.
The last line of standard output is one JSON object; ``--side-out``
also writes per-step and per-pass detail to a JSON file. Everything the
run writes lives in a temporary directory inside the checkout that is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import eventlog, layers  # noqa: E402
from perfbench.tracer import Tracer, install  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

MIN_PASSES = 1
DRIVER_MEM = "4g"


def _configure_env(tmp: str, trace: bool, cpus: int) -> None:
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM, spark-submit's launcher included, keeps its files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} "
        f"-Dderby.system.home={os.path.join(tmp, 'tmp')} -XX:-UsePerfData")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Runner:
    """Times the steps of one pass; when tracing, opens a step span and
    spans the benchmark's own actions on lazy library results."""

    def __init__(self):
        self.tracer: Tracer | None = None
        self.walls: dict = {}
        self.step_spans: list = []

    @contextmanager
    def step(self, name: str):
        idx = self.tracer.open("step." + name) if self.tracer else None
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            if idx is not None:
                self.tracer.close(idx)
                self.step_spans.append(idx)
            self.walls[name] = self.walls.get(name, 0.0) + wall

    def action(self, name: str, fn):
        if self.tracer is None:
            return fn()
        with self.tracer.span(name + ".action"):
            return fn()


def _summary(values: list[float]) -> dict:
    return {"median": statistics.median(values), "min": min(values),
            "max": max(values), "n": len(values)}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, tmp: str) -> tuple[dict, dict]:
    import prague_spark as ps

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = ps.get_spark("perfbench", cpus=cpus)
    session_s = time.perf_counter() - t0
    side: dict = {"workload": args.workload, "seed": args.seed,
                  "cpus": cpus, "trace": trace, "session_start_s": session_s}
    failures: list[str] = []
    try:
        w = WORKLOADS[args.workload](spark, args.seed, tmp, cpus)
        w.generate()
        t0 = time.perf_counter()
        w.load()
        load_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.build()
        build_s = time.perf_counter() - t0
        side["load_s"], side["build_s"] = load_s, build_s

        runner = Runner()
        tracer = Tracer()
        passes: list[dict] = []
        raised = 0  # operations that raised instead of returning

        def one_pass(traced: bool, warmup: bool = False) -> dict:
            nonlocal raised
            runner.walls = {}
            runner.tracer = tracer if traced else None
            first_step = len(runner.step_spans)
            patches = install(tracer, layers.targets()) if traced else None
            try:
                fails = w.run_pass(runner, warmup)
            except Exception as e:  # a failed operation ends the run
                traceback.print_exc()
                fails = [f"{type(e).__name__}: {e}"]
                raised += 1
            finally:
                if patches is not None:
                    patches.uninstall()
            failures.extend(fails)
            return {"traced": traced, "wall": sum(runner.walls.values()),
                    "steps": dict(runner.walls), "failures": len(fails),
                    "step_spans": runner.step_spans[first_step:]}

        # traced runs compare warm passes with warm passes, so they warm
        # every part of the workload
        warm = [one_pass(False, warmup=not trace)
                for _ in range(max(w.warmup_passes, int(trace)))]
        warmup_s = sum(p["wall"] for p in warm)
        side["warmup_s"] = warmup_s
        # a traced run needs one untraced and one traced pass at least
        min_passes = max(MIN_PASSES, 2) if trace else MIN_PASSES
        t_start = time.perf_counter()
        # a failed check still times its pass; an operation that raised
        # ends the run
        while not raised and (
                len(passes) < min_passes
                or time.perf_counter() - t_start < args.seconds):
            passes.append(one_pass(trace and len(passes) % 2 == 1))
        jvm_rss = _jvm_peak_rss_mb(spark) if trace else None
    finally:
        _stop(spark)

    attempted = w.ops + raised
    failed = min(attempted, sum(p["failures"] for p in warm + passes))
    side["passes"] = [{k: v for k, v in p.items() if k != "step_spans"}
                      for p in passes]
    side["attempted"], side["failed"] = attempted, failed
    side["op_error_rate"] = failed / attempted if attempted else 1.0
    side["failures"] = failures[:50]
    side["kkt_infeas_max"] = w.kkt["infeas"]
    side["kkt_rel_gap_max"] = w.kkt["rel_gap"]
    timed = [p for p in passes if not p["traced"]]
    steps = {}
    for name in w.steps:
        vals = [p["steps"].get(name, 0.0) for p in timed]
        if vals:
            steps[f"{name}_s"] = _summary(vals)
    side["steps"] = steps
    setup_s = session_s + load_s + build_s + warmup_s
    side["setup_s"] = setup_s
    side["driver_peak_rss_mb"] = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)

    if not trace:
        pass_s = statistics.median(p["wall"] for p in timed) if timed else 0.0
        side["pass_s"] = _summary([p["wall"] for p in timed]) if timed else {}
        metrics = {
            "pass_s": {"value": pass_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "driver_peak_rss_mb": {"value": side["driver_peak_rss_mb"],
                                   "unit": "MB"},
        }
    else:
        metrics = _trace_metrics(tracer, passes, tmp, side, session_s, jvm_rss)
    result = {"correct": not failures, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, side


def _trace_metrics(tracer, passes, tmp, side, session_s, jvm_rss) -> dict:
    log = eventlog.parse(eventlog.find_log(os.path.join(tmp, "events")))
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    units = layers.metric_units()
    totals = {name: 0.0 for name in units}
    per_pass = []
    coverage = []
    for p in traced:
        idxs = p["step_spans"]
        spans = [(tracer.spans[i].name, tracer.spans[i].start,
                  tracer.spans[i].end) for i in idxs]
        per_step = layers.pass_metrics(tracer, idxs, eventlog.attribute(log, spans))
        rows = {}
        for (name, start, end), m in zip(spans, per_step):
            coverage.append((name, m.pop("coverage")))
            m["wall_s"] = end - start
            rows[name] = m
            for k, v in m.items():
                if k in totals:
                    totals[k] += v
        per_pass.append(rows)
    n = max(1, len(traced))
    out = {k: v / n for k, v in totals.items()}
    c = tracer.counters
    calls = out["core.screening.kkt_checks"] * n
    out["core.screening.kkt_violation_ratio"] = (
        c.get("core.screening.kkt_violations", 0.0) / calls if calls else 0.0)
    out["core.solver.passes"] = c.get("core.solver.passes", 0.0) / n
    pts = c.get("ops.sparse.path_points", 0.0)
    out["ops.sparse.scans_per_path_point"] = (
        c.get("ops.sparse.scans", 0.0) / pts if pts else 0.0)
    out["session.get_spark_s"] = session_s
    out["check.kkt_infeas_max"] = side["kkt_infeas_max"]
    out["check.kkt_rel_gap_max"] = side["kkt_rel_gap_max"]
    if traced and untraced:
        out["trace.overhead_frac"] = (
            statistics.median(p["wall"] for p in traced)
            / statistics.median(p["wall"] for p in untraced) - 1.0)
    out["trace.coverage_min"] = min(v for _, v in coverage) if coverage else 0.0
    out["jvm.peak_rss_mb"] = jvm_rss
    low = [(name, v) for name, v in coverage if v < 0.9]
    for name, v in low:
        print(f"[perfbench] coverage failure: {name} library spans cover "
              f"{v:.1%} of its wall", file=sys.stderr)
    side["coverage_failures"] = low
    side["per_step"] = per_pass
    return {k: {"value": v, "unit": units[k][0]} for k, v in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--side-out", help="also write per-step detail here")
    args = ap.parse_args(argv)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "prague_spark", "__init__.py")):
        print(f"no prague_spark package under {ROOT}: run from a checkout of "
              "the library", file=sys.stderr)
        return 2

    def _term(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _term)
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run_", dir=base)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or len(
        os.sched_getaffinity(0))
    _configure_env(tmp, bool(args.trace), cpus)
    try:
        result, side = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    for name, s in side.get("steps", {}).items():
        print(f"[perfbench] {args.workload} {name}: median {s['median']:.3f} s "
              f"(min {s['min']:.3f}, max {s['max']:.3f}, n={s['n']})",
              file=sys.stderr)
    for msg in side["failures"]:
        print(f"[perfbench] check failed: {msg}", file=sys.stderr)
    if args.side_out:
        with open(args.side_out, "w") as fh:
            json.dump(side, fh, indent=1, default=float)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
