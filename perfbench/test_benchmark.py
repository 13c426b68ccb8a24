"""The benchmark's own tests.

    python3 -m pytest perfbench/test_benchmark.py -q

The fast tests check the metric list against ``BENCHMARK.json``, the
counter parsing and the url hash.  ``test_workload_split`` runs one
traced run of each workload (a few minutes) and checks the split that
justifies having both, and that a run leaves no process running;
``test_refuses_without_engine`` runs the
benchmark in a directory holding only its own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import refs  # noqa: E402
from perfbench.gen import xxhash64  # noqa: E402
from perfbench.run import Runner, metric_names  # noqa: E402
from perfbench.spark_counters import covered_seconds, parse_metric  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 7):
    with subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(_spec()["run_seconds"]), "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    ) as p:
        out, err = p.communicate(timeout=600)
    return subprocess.CompletedProcess(p.args, p.returncode, out, err), p.pid


def _left_running(run_pid: int) -> list[str]:
    """Processes still running with the run's temporary directory in
    their environment (the driver JVM, the PySpark daemon, workers)."""
    mark = f"/.perfbench_work/run-{run_pid}/tmp".encode()
    left = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if mark in f.read():
                    with open(f"/proc/{pid}/cmdline", "rb") as c:
                        left.append(c.read().replace(b"\0", b" ")[:120].decode())
        except OSError:
            continue
    return left


def test_metric_lists_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metric_names(
        WORKLOADS.values()
    )
    runner = Runner(WORKLOADS["rounds_small"], 0, "local[1]", False)
    r = {"setups": [(3.0, 1.0, 2.0, 5.0)] * 3, "warmup_s": 1.0, "warmup_cpu_s": 2.0,
         "plain": [1.0, 2.0, 3.0],
         "cpu": [4.0, 5.0, 6.0], "heap_live_mb": 100.0}
    e2e = runner.end_to_end(r)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()
    }
    assert e2e["setup_s"]["value"] == 7.0


def test_parse_metric():
    assert parse_metric("total (min, med, max (stageId: taskId))\n642.4 KiB (1 B, 2 B, 3 B)") == 642.4 * 1024
    assert parse_metric("3.1 s") == 3.1
    assert parse_metric("345 ms") == pytest.approx(0.345)
    assert parse_metric("1,234") == 1234.0
    assert parse_metric(None) == 0.0


def test_covered_seconds():
    assert covered_seconds([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert covered_seconds([(1, 3), (2, 4)], 2.5, 3.5) == 1
    assert covered_seconds([], 0, 1) == 0


def test_xxhash64_matches_spark():
    # values printed by Spark 4.1's xxhash64()
    assert xxhash64(b"") == -7444071767201028348
    assert xxhash64(b"abc") == 1423657621850124518
    assert xxhash64(b"https://site3.example/bench/p12345") == -800243981864248362
    long_url = b"https://site0.example/bench/p7/with/a/longer/path/than/thirty-two"
    assert xxhash64(long_url) == 5668634133782796234


def test_mismatches_tolerance():
    assert refs.mismatches([(1, 0.5), (2, 0.25)], [[2, 0.25], [1, 0.5 + 1e-15]]) == 0
    assert refs.mismatches([(1, 0.5)], [[1, 0.6]]) == 1
    assert refs.mismatches([(1, 2)], [[1, 2], [3, 4]]) == 1


def test_refuses_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, _ = _run("rounds_small", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_workload_split():
    """rounds_small is driver-bound and gminer_apps data-bound; only
    gminer_apps runs the Python extraction kernel."""
    out = {}
    for name in WORKLOADS:
        p, pid = _run(name, 1)
        assert p.returncode == 0, p.stderr[-2000:]
        assert _left_running(pid) == []
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert res["correct"] and res["failed"] == 0
        out[name] = {k: v["value"] for k, v in res["metrics"].items()}
    small, apps = out["rounds_small"], out["gminer_apps"]
    assert small["pass.exec_busy"] < apps["pass.exec_busy"]
    assert small["pass.driver_gap_frac"] > apps["pass.driver_gap_frac"]
    assert apps["web.pages_to_edges.py_run_s"] > 0
    assert small["web.pages_to_edges.py_run_s"] == 0
