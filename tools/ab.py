"""Interleaved A/B of two git revisions on the repository benchmark.

    python tools/ab.py BASE NEW [--workload W ...] [--pairs N] [--trace 0|1]
                       [--seed0 K] [--out runs.jsonl]
    python tools/ab.py --report runs.jsonl

Each revision is exported (``git archive``) into a throwaway directory,
so neither the working tree nor the repository's worktree list is
touched; ``.`` stands for the working tree as it is, uncommitted files
included.  Each pair runs ``perfbench/run.py`` once per side with the
same seed and ``BENCHMARK.json``'s ``run_seconds``, alternating which
side goes first.  Every run's result JSON
and notes line are appended to ``--out``; ``--report`` prints the
summary of a saved file again.

The summary has one row per workload and metric: each side's median
and quartiles, how many pairs NEW won (by the metric's direction in
``BENCHMARK.json``), and whether the gap between the medians exceeds
BASE's interquartile range.  Below it are the output fingerprints of
each side, which must agree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900


def export(rev: str, dest: str) -> str:
    """A clean copy of ``rev`` (``.``: the working tree) under ``dest``."""
    os.makedirs(dest)
    if rev == ".":
        files = subprocess.run(
            ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
            cwd=ROOT, check=True, capture_output=True,
        ).stdout.decode().split("\0")
        for rel in filter(None, files):
            src = os.path.join(ROOT, rel)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, rel))
        return dest
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "archive", rev], cwd=ROOT, check=True, stdout=tar)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as t:
            t.extractall(dest, filter="data")
    return dest


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One benchmark run; its result JSON plus the notes line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=RUN_TIMEOUT_S)
    lines = [line for line in proc.stdout.splitlines() if line.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        return {"error": proc.returncode, "stderr": proc.stderr[-2000:]}
    return {**json.loads(lines[-1]), "notes": json.loads(lines[-2])}


def directions() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(runs: list[dict]) -> None:
    better = directions()
    workloads = sorted({r["workload"] for r in runs})
    for w in workloads:
        pairs: dict[int, dict[str, dict]] = {}
        for r in runs:
            if r["workload"] == w and "metrics" in r["result"]:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        full = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        failed = sum(1 for r in runs if r["workload"] == w and "metrics" not in r["result"])
        print(f"\n== {w}: {len(full)} complete pairs, {failed} failed runs")
        print(f"{'metric':48} {'base median [q1, q3]':>30} {'new median [q1, q3]':>30}"
              f" {'wins':>6} {'gap>IQR':>8}")
        names = sorted({m for p in full for m in p["base"]["metrics"]})
        for m in names:
            a = [p["base"]["metrics"][m]["value"] for p in full]
            b = [p["new"]["metrics"][m]["value"] for p in full]
            lower = better.get(m, "lower") == "lower"
            wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
            qa, qb = _quartiles(a), _quartiles(b)
            gap = qa[1] - qb[1] if lower else qb[1] - qa[1]
            print(f"{m:48} {qa[1]:>12.4g} [{qa[0]:.4g}, {qa[2]:.4g}]".ljust(79)
                  + f" {qb[1]:>12.4g} [{qb[0]:.4g}, {qb[2]:.4g}]".ljust(31)
                  + f" {wins:>3}/{len(full):<2} {'yes' if gap > qa[2] - qa[0] else 'no':>8}")
        for side in ("base", "new"):
            fps: dict[str, set] = {}
            for p in full:
                for op, fp in p[side]["notes"]["fingerprints"].items():
                    fps.setdefault(op, set()).update(fp)
            print(f"fingerprints {side}: " + json.dumps({k: sorted(v) for k, v in fps.items()}))
        correct = {s: all(p[s]["correct"] for p in full) for s in ("base", "new")}
        print(f"all runs correct: {correct}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="?")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--workload", action="append",
                    help="repeatable (default: every workload in BENCHMARK.json)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed0", type=int, default=900, help="seed of pair 0; pair i uses seed0 + i")
    ap.add_argument("--out", default=None, help="append each run as a JSON line here")
    ap.add_argument("--report", default=None, help="summarize a saved --out file and exit")
    args = ap.parse_args(argv)

    if args.report:
        with open(args.report) as f:
            report([json.loads(line) for line in f if line.strip()])
        return 0
    if not (args.base and args.new):
        ap.error("BASE and NEW revisions are required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]

    runs: list[dict] = []
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        checkouts = {
            "base": export(args.base, os.path.join(tmp, "base")),
            "new": export(args.new, os.path.join(tmp, "new")),
        }
        for i in range(args.pairs):
            order = ("base", "new") if i % 2 == 0 else ("new", "base")
            for w in workloads:
                for side in order:
                    res = run_once(checkouts[side], w, args.seed0 + i,
                                   bench["run_seconds"], args.trace)
                    rec = {"pair": i, "side": side, "workload": w,
                           "rev": getattr(args, side), "result": res}
                    runs.append(rec)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(json.dumps(rec) + "\n")
                    status = "failed" if "error" in res else f"correct={res['correct']}"
                    print(f"pair {i} {w} {side}: {status}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    report(runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
