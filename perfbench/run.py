"""Benchmark driver: one closed-loop client over one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a checkout and reads and writes only inside it
(``.perfbench_work/``).  One run:

1. writes the seeded inputs and computes the references (cached per
   seed; neither is timed);
2. sets up three times -- ``get_spark``, read the inputs, build the
   edge table, then stop the session, except the last -- and runs one
   warm-up pass on the last session;
3. runs timed passes over the workload's operator list, back to back,
   until ``--seconds`` have been spent in them (at least three), and
   checks every output against its reference;
4. stops Spark, the driver JVM and the Python workers, and waits until
   each has ended, on every way out of the run.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced passes and prints the per-layer metrics (Spark's
own counters per operator call, read by ``spark_counters``).  The
last line of stdout is the result JSON; the line before it holds the
run's notes (set-up and pass times, fingerprints, counts that did not
repeat).
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
import threading
import time
import uuid

START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_PASSES = 3
COUNT_KEYS = ("jobs", "stages", "tasks", "shuffle_bytes", "rows")
OP_KEYS = ("wall_s", "jobs", "shuffle_bytes", "exec_s", "driver_gap_s")
PY_KEYS = ("py_sent_bytes", "py_returned_bytes", "py_run_s")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _driver_heap() -> str:
    """A quarter of the machine's memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(8192, kib // 4096))}m"


def _environment(work: str) -> None:
    """Keep every temporary file of Spark, Python and the JVM in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # no hsperfdata files under /tmp from the launcher JVM (the driver
    # JVM gets the same flag in its java options)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_heap()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _descendants() -> list[int]:
    """Pids of this process's descendants: the driver JVM, the PySpark
    daemon and its Python workers."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _become_subreaper() -> None:
    """Make this process the parent of every orphan among its
    descendants (the PySpark daemon and its workers outlive the JVM that
    forked them by a moment), so that ``stop_processes`` can find and
    reap each of them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        _fail(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(timeout: float = 30.0) -> None:
    """Stop Spark and every process the run started, and wait until each
    has ended.  ``spark.stop()`` leaves the driver JVM running; it ends at
    EOF on its stdin, which closes only when this process exits -- too
    late for a caller waiting for this process.  The gateway is shut down
    and the JVM's stdin closed here instead; what is still running after
    ``timeout`` s is killed."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception as e:  # still stop the JVM below
            print(f"perfbench: spark.stop() raised {type(e).__name__}: {e}", file=sys.stderr)
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # the PySpark daemon and its workers end at EOF too; terminate
    # whatever is left, kill it after the timeout, reap every child
    deadline = time.monotonic() + timeout
    while True:
        _reap()
        pids = _descendants()
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by the descendants.  Time the hypervisor steals is not in it."""
    ticks = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak summed RSS of the descendants, sampled from ``/proc`` every
    ``period`` s."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, self.sample())
            self._stop.wait(self.period)

    @staticmethod
    def sample() -> int:
        total = 0
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    total += next(
                        int(line.split()[1]) for line in f if line.startswith("VmRSS:")
                    )
            except (OSError, StopIteration):
                continue
        return total


def _heap_live_mb(spark) -> float:
    """Driver heap in use after a full collection: what the run retains
    (cached tables, broadcasts, status-store entries), free of the GC
    timing that makes the heap's resident size vary."""
    import gc

    gc.collect()  # drop Python-side handles first: py4j then frees their JVM objects
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)  # let the context cleaner drop blocks of collected broadcasts
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Runner:
    def __init__(self, workload, seed: int, master: str, trace: bool):
        self.wl = workload
        self.seed = seed
        self.master = master
        self.trace = trace
        self.run_id = uuid.uuid4().hex[:12]
        self.work = os.path.join(WORK, f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.fingerprints: dict[str, set[str]] = {}
        self.spans: list[dict] = []
        self.counters: dict[int, dict[str, dict]] = {}  # pass -> op -> counters
        self.walls: dict[str, list[float]] = {}  # op -> wall of each timed call
        self.phases: dict[str, float] = {}  # phase -> seconds since start, at its end

    # -- inputs ----------------------------------------------------------
    def prepare(self) -> None:
        """Seeded inputs and references (cached per seed, never timed)."""
        from perfbench import refs

        cache = os.path.join(WORK, "data")
        os.makedirs(cache, exist_ok=True)
        self.data_dir = self.wl.generate(cache, self.seed)
        self.refs = refs.cached(
            os.path.join(self.data_dir, "references.json"),
            lambda: self.wl.references(self.data_dir),
        )

    # -- one operator call -----------------------------------------------
    def call(self, ctx, op, pass_no: int, traced: bool, counters) -> float:
        from perfbench import refs

        sc = ctx.spark.sparkContext
        group = f"{self.run_id}/{pass_no}/{op.name}"
        if traced:
            sc.setJobGroup(group, op.name)
            mark = counters.sql_mark() if op.python else None
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            res = op.call(ctx)
        except Exception as e:  # a raising operator is a failed call
            print(f"perfbench: {op.name} raised {type(e).__name__}: {e}", file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            return time.perf_counter() - p0
        wall = time.perf_counter() - p0
        t1 = time.time()
        if pass_no:
            self.walls.setdefault(op.name, []).append(wall)
        self.spans.append({"run": self.run_id, "name": op.name,
                           "parent": f"pass/{pass_no}", "start": t0, "end": t1})
        rows = res.rows if res.rows is not None else res.fetch()
        self.attempted += 1
        if refs.mismatches(rows, self.refs[op.name]):
            self.failed += 1
            print(f"perfbench: {op.name} output differs from its reference",
                  file=sys.stderr)
        self.fingerprints.setdefault(op.name, set()).add(refs.fingerprint(rows))
        store = {}
        if res.store_dir:
            from gminer_spark.checkpoint import CheckpointStore

            store = {
                "commits": len(CheckpointStore(ctx.spark, res.store_dir).committed_steps()),
                "bytes_written": _dir_bytes(res.store_dir),
            }
            shutil.rmtree(res.store_dir, ignore_errors=True)
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            c = counters.read(group, t0, t1, sql_mark=mark, skew=op.skew)
            c["wall_s"] = wall
            c["rows"] = float(len(rows))
            if res.rounds:
                c["rounds"] = float(res.rounds)
                c["jobs_per_round"] = c["jobs"] / res.rounds
            c.update({f"store_{k}": float(v) for k, v in store.items()})
            self.counters.setdefault(pass_no, {})[op.name] = c
        return wall

    def one_pass(self, ctx, pass_no: int, traced: bool, counters) -> float:
        """One pass over the operator list; its time is the sum of the
        operator spans (reference checks and counter reads excluded)."""
        t0 = time.time()
        try:
            return sum(self.call(ctx, op, pass_no, traced, counters) for op in self.wl.ops)
        finally:
            self.spans.append({"run": self.run_id, "name": f"pass/{pass_no}",
                               "parent": None, "start": t0, "end": time.time()})
            for df in ctx.pass_tables.values():
                df.unpersist()
            ctx.pass_tables.clear()

    # -- the run ---------------------------------------------------------
    def run(self, seconds: float) -> dict:
        from gminer_spark.session import get_spark

        from perfbench.spark_counters import SparkCounters
        from perfbench.workloads import Ctx

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        }

        def session():
            return get_spark(
                app_name="perfbench", master=self.master,
                shuffle_partitions=self.wl.shuffle_partitions, extra_conf=conf,
            )

        self.phases["start"] = time.perf_counter() - START
        self.prepare()
        self.phases["prepare"] = time.perf_counter() - START
        setups = []
        for i in range(SETUPS):
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            spark = session()
            t1 = time.perf_counter()
            ctx = Ctx(spark, self.data_dir, self.work)
            edge_rows = self.wl.setup(ctx)
            setups.append((time.perf_counter() - t0, t1 - t0, time.perf_counter() - t1,
                           tree_cpu_s() - cpu0))
            if i < SETUPS - 1:
                spark.stop()
        counters = SparkCounters(spark) if self.trace else None
        self.phases["setups"] = time.perf_counter() - START
        cpu0 = tree_cpu_s()
        warmup = self.one_pass(ctx, 0, False, counters)
        warmup_cpu = tree_cpu_s() - cpu0
        self.phases["warmup"] = time.perf_counter() - START

        plain, traced, cpu = [], [], []
        with RssSampler() as rss:
            pass_no = 0
            while True:
                pass_no += 1
                # untraced, traced, traced, untraced, ...: a warming
                # trend biases neither side of trace.overhead_s
                is_traced = self.trace and pass_no % 4 in (2, 3)
                cpu0 = tree_cpu_s()
                (traced if is_traced else plain).append(
                    self.one_pass(ctx, pass_no, is_traced, counters)
                )
                if not is_traced:
                    cpu.append(tree_cpu_s() - cpu0)
                n_done = len(plain) + len(traced)
                spent = sum(plain) + sum(traced)
                if spent >= seconds and n_done >= MIN_PASSES and (
                    not self.trace or min(len(plain), len(traced)) >= 2
                ):
                    break
        self.phases["passes"] = time.perf_counter() - START
        heap_live_mb = _heap_live_mb(spark)
        spark.stop()
        self.phases["stop"] = time.perf_counter() - START
        return {
            "setups": setups,
            "edge_rows": edge_rows,
            "warmup_s": warmup,
            "warmup_cpu_s": warmup_cpu,
            "plain": plain,
            "traced": traced,
            "cpu": cpu,
            "peak_rss_mb": rss.peak_kib / 1024,
            "heap_live_mb": heap_live_mb,
        }

    # -- reporting -------------------------------------------------------
    def end_to_end(self, r: dict) -> dict:
        # CPU seconds, like cpu_s: the wall time of set-up follows the
        # hypervisor's steal phases (bench.setup_wall_s reports it)
        setup_s = statistics.median(s[3] for s in r["setups"]) + r["warmup_cpu_s"]
        return {
            "cpu_s": {"value": statistics.median(r["cpu"]), "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "heap_live_mb": {"value": r["heap_live_mb"], "unit": "MB"},
        }

    def per_layer(self, r: dict, names: dict[str, str]) -> tuple[dict, list[str]]:
        """Every per-layer metric in ``names`` (0 where the layer does not
        run on this workload), and the counts that did not repeat."""
        out = dict.fromkeys(names, 0.0)
        out["session.get_spark.start_s"] = statistics.median(s[1] for s in r["setups"])
        out["session.get_spark.cold_start_s"] = r["setups"][0][1]
        out["graph.tables.edges.build_s"] = (
            statistics.median(s[2] for s in r["setups"]) if r["edge_rows"] else 0.0
        )
        out["graph.tables.edges.rows"] = float(r["edge_rows"])
        out["bench.warmup_s"] = r["warmup_s"]
        out["bench.setup_wall_s"] = statistics.median(s[0] for s in r["setups"]) + r["warmup_s"]
        out["bench.run_s"] = statistics.median(r["plain"])
        out["bench.peak_rss_mb"] = r["peak_rss_mb"]
        unsteady = []
        passes = [self.counters[p] for p in sorted(self.counters)]
        for op in {name for ops in passes for name in ops}:
            calls = [ops[op] for ops in passes if op in ops]
            for key in calls[0]:
                vals = [c[key] for c in calls]
                if key in COUNT_KEYS + ("rounds", "store_commits", "store_bytes_written") \
                        and len(set(vals)) > 1:
                    unsteady.append(f"{op}.{key}")
                name = f"{op}.{key}"
                if key.startswith("store_"):
                    name = "checkpoint.store." + key[len("store_"):]
                if name in out:
                    out[name] = statistics.median(vals)
        per_pass = [
            {k: sum(c[k] for c in ops.values())
             for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes",
                       "exec_s", "driver_gap_s")}
            for ops in passes
        ]
        cores = int(self.master[len("local["):-1])
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes"):
            out[f"pass.{k}"] = statistics.median(p[k] for p in per_pass)
        out["pass.exec_busy"] = statistics.median(
            p["exec_s"] / (w * cores) for p, w in zip(per_pass, r["traced"])
        )
        out["pass.driver_gap_frac"] = statistics.median(
            p["driver_gap_s"] / w for p, w in zip(per_pass, r["traced"])
        )
        out["pass.counts_exact"] = 0.0 if unsteady else 1.0
        out["trace.overhead_s"] = statistics.median(r["traced"]) - statistics.median(
            r["plain"]
        )
        return {k: {"value": v, "unit": names[k]} for k, v in out.items()}, unsteady


def metric_names(workloads) -> dict[str, str]:
    """Every per-layer metric of every workload, with its unit."""
    names = {
        "session.get_spark.start_s": "s",
        "session.get_spark.cold_start_s": "s",
        "graph.tables.edges.build_s": "s",
        "graph.tables.edges.rows": "count",
        "bench.warmup_s": "s",
        "bench.setup_wall_s": "s",
        "bench.run_s": "s",
        "bench.peak_rss_mb": "MB",
        "pass.jobs": "count",
        "pass.stages": "count",
        "pass.tasks": "count",
        "pass.shuffle_bytes": "B",
        "pass.spill_bytes": "B",
        "pass.exec_busy": "ratio",
        "pass.driver_gap_frac": "ratio",
        "pass.counts_exact": "bool",
        "trace.overhead_s": "s",
    }
    units = {"wall_s": "s", "exec_s": "s", "driver_gap_s": "s", "py_run_s": "s",
             "jobs": "count", "rows": "count", "rounds": "count",
             "jobs_per_round": "count", "shuffle_bytes": "B", "py_sent_bytes": "B",
             "py_returned_bytes": "B", "task_skew": "ratio"}
    for wl in workloads:
        for op in wl.ops:
            keys = list(OP_KEYS) + list(op.extra)
            if op.python:
                keys += PY_KEYS
            if op.skew:
                keys.append("task_skew")
            for k in keys:
                names[f"{op.name}.{k}"] = units[k]
    names["checkpoint.store.commits"] = "count"
    names["checkpoint.store.bytes_written"] = "B"
    return names


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] master (default: every core this process may use)")
    args = ap.parse_args(argv)

    for need in ("gminer_spark/__init__.py", "tests/oracle/graph_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    sys.path.insert(0, ROOT)
    _environment(os.path.join(WORK, f"run-{os.getpid()}"))
    _become_subreaper()
    # a terminated run still stops its processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    runner = Runner(WORKLOADS[args.workload], args.seed, f"local[{args.cores}]",
                    bool(args.trace))
    try:
        r = runner.run(args.seconds)
        if args.trace:
            metrics, unsteady = runner.per_layer(r, metric_names(WORKLOADS.values()))
        else:
            metrics, unsteady = runner.end_to_end(r), []
    finally:
        stop_processes()
        shutil.rmtree(runner.work, ignore_errors=True)
    notes = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "master": runner.master,
        "setups_s": [round(s[0], 4) for s in r["setups"]],
        "warmup_s": round(r["warmup_s"], 4),
        "setups_cpu_s": [round(s[3], 2) for s in r["setups"]],
        "warmup_cpu_s": round(r["warmup_cpu_s"], 2),
        "passes_s": [round(x, 4) for x in r["plain"]],
        "passes_cpu_s": [round(x, 2) for x in r["cpu"]],
        "traced_passes_s": [round(x, 4) for x in r["traced"]],
        "ops_s": {k: round(statistics.median(v), 4) for k, v in runner.walls.items()},
        "phases_s": {k: round(v, 2) for k, v in runner.phases.items()},
        # run_s is a median of this many passes; no higher percentile
        # has ten samples beyond it until a run holds 20 or more
        "run_s_samples": len(r["plain"]),
        "fingerprints": {k: sorted(v) for k, v in runner.fingerprints.items()},
        "counts_not_repeating": unsteady,
    }
    if args.trace:
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        with open(os.path.join(WORK, "spans", f"{runner.run_id}.json"), "w") as f:
            json.dump(runner.spans, f)
    print(json.dumps(notes))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
