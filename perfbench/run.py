#!/usr/bin/env python3
"""The repository benchmark: one workload, one process, one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload netex_world --seed 1 --seconds 5 --trace 0

Starts a Spark session with the engine's own factory on
``local[<nproc>]``, generates the workload's inputs from ``--seed``, then
runs measured passes until ``--seconds`` have gone by (at least one;
at least two when traced). Every pass checks its output. All scratch files go under
``.perfbench_work/`` in the current directory.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` installs the
per-layer tracer (perfbench/trace.py) and reports the per-layer metrics
instead, checks that per-layer ``jobs`` and ``tasks`` repeat exactly
between passes, then calls each public spatial-join entry point once (the smoke
step). The last stdout line is the result object; the line before it is
a detail object (per-step times, box state, checks, smoke results).
See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import procstat  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_rate": "ratio",
}
UNITS_PER_LAYER = {
    "self_s": "s", "calls": "count", "jobs": "count", "tasks": "count",
    "jvm_cpu_s": "s", "py_cpu_s": "s", "shuffle_bytes": "B",
    "output_bytes": "B", "gc_s": "s", "skipped": "count", "skip_ratio": "ratio",
}
# The session's 8 GB default heap is sized for sf1 inputs; the benchmark's
# inputs are small, and the machine's memory is shared, so it uses the
# heap override that session.get_spark reads (SPARK_DRIVER_MEM).
DRIVER_MEM = "2g"
# Passes a traced run measures at least, so that it can check that the
# per-layer job and task counts repeat.
TRACED_PASSES = 2


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(root: str) -> str:
    """Keep every file the run writes inside ``root``."""
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cores = os.cpu_count() or 1
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp
    return work


def _quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    out = {"n": len(xs), "median": statistics.median(xs), "max": xs[-1]}
    if len(xs) >= 4:
        q = statistics.quantiles(xs, n=4)
        out["q1"], out["q3"] = q[0], q[2]
    return out


def _stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait for every process the run
    started to be gone."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in procstat.tree(me) if p != me]
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            proc = gateway.proc
            try:
                gateway.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        deadline = time.monotonic() + timeout
        while True:
            alive = [p for p in started if _alive(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = time.monotonic() + timeout
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def run(args, root: str) -> tuple[dict, dict]:
    """Run one workload; returns (result, detail)."""
    work = _prepare_env(root)
    box = {"nproc": os.cpu_count(), "cores_used": int(os.environ["SPARK_GRAFT_CPUS"])}
    steal0 = procstat.steal_s()
    from perfbench.workloads import WORKLOADS

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install()
    from osm2vdv462_spark import session

    spark = None
    try:
        spark = session.get_spark("perfbench", cores=box["cores_used"])
        return _measure(spark, args, work, tracer, box, WORKLOADS[args.workload])
    finally:
        if tracer is not None:
            tracer.uninstall()
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        # probed after the run so that set-up time leaves them out;
        # the page-fault probe is the repository's bench.py's own
        from bench import _page_fault_ms_per_mb

        box["steal_s"] = procstat.steal_s() - steal0
        box["page_fault_ms_per_mb"] = _page_fault_ms_per_mb()
        box["cpu_probe_ms"] = procstat.cpu_probe_ms()


def _measure(spark, args, work, tracer, box, workload_cls):
    from perfbench import trace as tr

    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        tracer.attach(spark)
    me = os.getpid()
    wl = workload_cls(spark, args.seed, work, tracer)
    run_errors = [f"set-up: {e}" for e in wl.setup()]
    setup_s = procstat.process_age_s()
    if tracer is not None:
        tracer.harvest()
        session_counters = tracer.snapshot()

    passes = []  # one dict per measured pass
    min_passes = TRACED_PASSES if tracer is not None else 1
    cpu0 = procstat.tree_cpu_s(me)
    t_start = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t_start < args.seconds:
        before = tracer.snapshot() if tracer is not None else None
        j0 = tr.last_job_id(spark.sparkContext)
        t0 = time.perf_counter()
        try:
            times, errs = wl.run_pass()
        except Exception:
            traceback.print_exc()
            times, errs = None, ["pass raised"]
        wall = time.perf_counter() - t0
        jobs = tr.last_job_id(spark.sparkContext) - j0
        layers = None
        if tracer is not None:
            tracer.harvest()
            layers = tr.per_pass(before, tracer.snapshot())
        passes.append({"wall": wall, "times": times, "errors": errs,
                       "jobs": jobs, "layers": layers})
    cpu_s = (procstat.tree_cpu_s(me) - cpu0) / len(passes)
    peak_rss = procstat.peak_rss_mb(procstat.tree(me))

    smoke = None
    if tracer is not None:
        counts = [
            {k: v for k, v in p["layers"].items() if k.endswith((".jobs", ".tasks"))}
            for p in passes
        ]
        for p, c in zip(passes[1:], counts[1:]):
            if c != counts[0]:
                p["errors"].append("per-layer jobs/tasks differ from the first pass")
        smoke = wl.smoke() if hasattr(wl, "smoke") else []

    good = [p for p in passes if p["times"] is not None and not p["errors"]]
    attempted = len(passes) + 1  # the measured passes and the set-up
    failed = len(passes) - len(good) + (1 if run_errors else 0)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": box,
        "passes": len(passes),
        "jobs_per_pass": [p["jobs"] for p in passes],
        "pass_s": _quartiles([p["wall"] for p in passes]),
        "pass_s_each": [p["wall"] for p in passes],
        "steps": {},
        "errors": [e for p in passes for e in p["errors"]] + run_errors,
        "error_rate": failed / attempted,
    }
    timed = [p for p in passes if p["times"] is not None]
    for step in wl.steps:
        vals = [p["times"][step] for p in timed]
        if vals:
            detail["steps"][step] = _quartiles(vals)
    medians = {s: q["median"] for s, q in detail["steps"].items()}
    if len(medians) == len(wl.steps):
        detail.update(wl.detail(medians))

    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "pass_s": detail["pass_s"]["median"],
            "cpu_s": cpu_s,
            "peak_rss_mb": peak_rss,
            "ok_rate": 1.0 - failed / attempted,
        }
        units = END_TO_END
    else:
        metrics, units = {}, {}
        for name in tr.metric_names():
            if name.startswith("session."):
                val = session_counters[name]
            else:
                val = statistics.median(p["layers"][name] for p in passes)
            metrics[name] = val
            units[name] = UNITS_PER_LAYER[name.rsplit(".", 1)[1]]
        detail["layers_per_pass"] = counts
        detail["unowned_jobs_per_pass"] = [p["layers"]["unowned_jobs"] for p in passes]
        detail["smoke"] = smoke
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def _report(result: dict, detail: dict) -> None:
    for step, q in detail["steps"].items():
        print(f"{detail['workload']} {step}: median {q['median']:.3f} s,"
              f" max {q['max']:.3f} s over n={q['n']}")
    for k, v in detail.items():
        if k.endswith("_per_s"):
            print(f"{detail['workload']} {k}: {v:.1f}")
    for k, m in result["metrics"].items():
        print(f"{detail['workload']} {k}: {m['value']:.6g} {m['unit']}")
    print(f"{detail['workload']} error_rate: {detail['error_rate']:.3f}"
          f" ({result['failed']} of {result['attempted']})")
    for e in detail["errors"]:
        print(f"{detail['workload']} CHECK FAILED: {e}")
    for s in detail.get("smoke") or []:
        state = "pass" if s["ok"] else f"FAIL {s['error']}"
        print(f"{detail['workload']} smoke {s['entry']}: {state}")
    print(f"{detail['workload']} box: "
          + " ".join(f"{k}={v:.4g}" for k, v in detail["box"].items()))
    print(json.dumps(detail, default=float))
    print(json.dumps(result))


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "osm2vdv462_spark", "__init__.py")):
        print("perfbench: run from the repository root (no osm2vdv462_spark/"
              " package here)", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r};"
              f" choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # Spark, the JVM and the program may print to stdout: send all of it
    # to stderr so the report below is the end of stdout
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        result, detail = run(args, root)
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)
    _report(result, detail)
    return 0


if __name__ == "__main__":
    sys.exit(main())
