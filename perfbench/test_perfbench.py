"""The benchmark's own tests.

    python -m pytest perfbench -q        # from the repository root

The fast tests check the metric tables and the ``/proc`` readers. The
Spark tests run each workload as the benchmark does (a subprocess per
run). A traced run measures two passes and fails its check when the
per-layer ``jobs`` and ``tasks`` differ between them; the tests assert
that it passes and that tracing launches no Spark job of its own. They
take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat, run, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _lines(proc) -> tuple[dict, dict]:
    *_, detail, result = proc.stdout.strip().splitlines()
    return json.loads(detail), json.loads(result)


# ----------------------------------------------------------------- fast


def test_benchmark_json_names_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == trace.metric_names()
    assert len(trace.metric_names()) == len(trace.LAYERS) * len(trace.COUNTERS) + 2


@pytest.mark.parametrize(
    "stage, layer",
    [
        ("world_platforms", "pipeline.world"),
        ("platforms_split", "pipeline.stop_places"),
        ("final_access_spaces", "pipeline.stop_places"),
        ("paths_elements_ref", "pipeline.routing"),
        ("export_data", "pipeline.export"),
        ("xml_stop_places", "pipeline.export"),
        ("verify", "pipeline.images"),
        ("join_rows", "operators.jvm_pip"),
        ("tile_counts", "pipeline.geopipe"),
        ("unknown_stage", "pipeline.checkpoint"),
    ],
)
def test_stage_owner(stage, layer):
    assert trace.stage_layer(stage) == layer


def test_procstat_reads_this_process():
    me = os.getpid()
    assert me in procstat.tree(me)
    assert procstat.tree_cpu_s(me) > 0
    assert procstat.peak_rss_mb([me]) > 1
    assert 0 < procstat.process_age_s() < 24 * 3600


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _bench("--workload", "netex_world", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout == ""


# ---------------------------------------------------------------- Spark


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_counts_repeat_and_tracing_adds_no_jobs(workload):
    # seed 42 is the seed the recorded document digest was taken with
    common = ["--workload", workload, "--seed", "42", "--seconds", "1"]
    traced = _bench(*common, "--trace", "1")
    assert traced.returncode == 0, traced.stderr[-2000:]
    t_detail, t_result = _lines(traced)
    assert t_result["correct"], t_detail["errors"]
    assert len(t_detail["layers_per_pass"]) >= run.TRACED_PASSES
    first = t_detail["layers_per_pass"][0]
    assert sum(first[f"{layer}.jobs"] for layer in trace.LAYERS) > 0

    plain = _bench(*common, "--trace", "0")
    assert plain.returncode == 0, plain.stderr[-2000:]
    p_detail, p_result = _lines(plain)
    assert p_result["correct"], p_detail["errors"]
    assert p_detail["jobs_per_pass"][0] == t_detail["jobs_per_pass"][0]
    overhead = t_detail["pass_s_each"][0] - p_detail["pass_s_each"][0]
    print(f"{workload}: tracing overhead {overhead:+.2f} s on the first pass")
