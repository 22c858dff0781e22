"""One benchmark run inside a fresh Spark driver process.

Started by ``run.py``; prints one ``WORKER_RESULT <json>`` line. The run
builds the workload's inputs once, runs ``WARMUP_PASSES`` passes, then
runs closed-loop passes over the workload's operations: one client, each
operation starting when the previous one has ended.

With ``--trace 1`` Spark's event log is on for the whole run and the
measured passes alternate in the order untraced, traced, traced, untraced,
... so JIT warm-up drift weighs on both sides alike. A traced pass runs with
every layer wrapped (``tracing.Tracer``); ``tracing.fold`` turns the event
log of the traced passes into per-layer numbers.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as T  # noqa: E402
import workloads as W  # noqa: E402

# Passes run before measuring: the first compiles each plan, the rest take
# the JIT past its steepest gains. Pass walls keep falling slowly after
# that; the fixed pass counts below keep each run on the same point of
# that curve.
WARMUP_PASSES = {"uniform": 4, "curate": 2}
# Typical steady pass wall on 4 cores. The measured window is a fixed
# number of passes, round(seconds / PASS_S), so every run times the same
# passes of its process's life whatever the machine's speed that minute.
PASS_S = {"uniform": 2.5, "curate": 4.5}
PIN_SEED = 42
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _traced(i: int) -> bool:
    """Whether measured pass ``i`` of a traced run is traced: U T T U ..."""
    return i % 4 in (1, 2)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """State of one run: the session, the inputs and the tallies."""

    def __init__(self, spark, workload: str, seed: int):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.ops = W.OPERATIONS[workload]
        self.tables: dict = {}
        self.attempted = 0
        self.errors: list[str] = []
        self.tracer = None

    def load(self) -> float:
        """Generate, cache and count the inputs; returns the seconds taken."""
        for df in self.tables.values():
            df.unpersist(blocking=True)
        t0 = time.perf_counter()
        fresh = W.make_inputs(self.spark, self.workload, self.seed)
        self.tables = {k: v.cache() for k, v in fresh.items()}
        for df in self.tables.values():
            df.count()
        return time.perf_counter() - t0

    def attempt(self, what: str, fn, *args):
        """Count one operation; one that raises is a failure, not fatal."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:
            self.errors.append(f"{what}: {type(e).__name__}: {e}"[:2000])
            return None

    def op(self, name: str):
        if self.tracer is None:
            return self.attempt(name, W.run_op, name, self.tables)
        with self.tracer.span(T.OP_PREFIX + name):
            return self.attempt(name, W.run_op, name, self.tables)

    def passes(self, n: int, want: dict):
        """``n`` closed-loop passes. Every result must equal the warm-up's,
        since the operations are deterministic. Returns the pass walls,
        per-op walls and the passes' wall-clock windows."""
        pass_s, op_s, windows = [], {o: [] for o in self.ops}, []
        for _ in range(n):
            t0, w0 = time.perf_counter(), time.time() * 1000.0
            for o in self.ops:
                t1 = time.perf_counter()
                got = self.op(o)
                op_s[o].append(time.perf_counter() - t1)
                if got is not None and got != want[o]:
                    self.errors.append(f"{o}: {got} != warm-up {want[o]}")
            pass_s.append(time.perf_counter() - t0)
            windows.append((w0, time.time() * 1000.0))
        return pass_s, op_s, windows

    def check(self, values: dict) -> dict:
        """Invariants for every seed and pinned values for the pin seed."""
        pins = {}
        for o in self.ops:
            if values.get(o) is None:
                continue
            got = self.attempt(f"{o} check", W.check, o, values[o], self.tables)
            if got is not None:
                bad, pins[o] = got
                self.errors.extend(f"{o}: {b}" for b in bad)
        if self.seed == PIN_SEED:
            with open(EXPECTED) as f:
                pinned = json.load(f)[self.workload]
            for o, want in pinned.items():
                self.attempted += 1
                if pins.get(o) != want:
                    self.errors.append(f"{o}: {pins.get(o)} != pinned {want}")
        return pins


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.OPERATIONS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="directory for this run's files")
    ap.add_argument("--spawned", type=float, required=True,
                    help="wall clock when the parent started this process")
    a = ap.parse_args()

    log_dir = os.path.join(a.out, "eventlog")
    if a.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [
            extra, "spark.eventLog.enabled=true", "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{os.path.abspath(log_dir)}",
        ]))

    import pyspark
    from maskmypy_spark.session import get_spark

    spark = get_spark(app=f"perfbench-{a.workload}", cores=os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - a.spawned

    run = Run(spark, a.workload, a.seed)
    load_s = run.load()
    t0 = time.perf_counter()
    values = {o: run.op(o) for o in run.ops}
    first_s = time.perf_counter() - t0
    warmup_pass_s = [first_s] + run.passes(WARMUP_PASSES[a.workload] - 1, values)[0]
    warmup_s = time.perf_counter() - t0
    if not a.trace:
        n = max(1, round(a.seconds / PASS_S[a.workload]))
        pass_s, op_s, _ = run.passes(n, values)
    else:
        # an even number of passes per side keeps the U T T U order balanced
        n = 2 * max(1, round(a.seconds / (4 * PASS_S[a.workload])))
        tracer = T.Tracer(spark.sparkContext)
        pass_s, op_s = [], {o: [] for o in run.ops}
        t_pass, windows = [], []
        for i in range(2 * n):
            run.tracer = tracer if _traced(i) else None
            with tracer.installed() if run.tracer else contextlib.nullcontext():
                p, o_s, w = run.passes(1, values)
            if run.tracer:
                t_pass += p
                windows += w
            else:
                pass_s += p
                for o, ts in o_s.items():
                    op_s[o] += ts
        run.tracer = None
    t0 = time.perf_counter()
    pins = run.check(values)
    check_s = time.perf_counter() - t0

    jvm = spark.sparkContext._jvm
    heap_peak = sum(
        p.getPeakUsage().getUsed()
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    )
    peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + _vm_hwm_kb(
        jvm.ProcessHandle.current().pid()
    )
    result = {
        "attempted": run.attempted,
        "errors": run.errors,
        "pins": pins,
        "session_s": session_s,
        "load_s": load_s,
        "warmup_s": warmup_s,
        "warmup_pass_s": warmup_pass_s,
        "check_s": check_s,
        "setup_s": session_s + load_s + warmup_s,
        "pass_s": pass_s,
        "op_s": op_s,
        "peak_rss_mb": peak_kb / 1024.0,
        "peak_heap_mb": heap_peak / 2**20,
        "rows": {k: v.count() for k, v in run.tables.items()},
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
    }
    spark.stop()  # flushes the event log
    if a.trace:
        stages = T.parse(T.read_events(log_dir))
        T.attribute(stages, tracer.spans)
        result["trace"] = {
            "pass_s": t_pass,
            "layers": T.fold(stages, tracer.spans, n),
            "spark": T.spark_totals(stages, windows, n),
            "guessed_task_s": T.guessed_task_seconds(stages.values()) / n,
            "coverage": T.coverage(stages, tracer.spans),
            "buckets": T.task_seconds(stages),
        }
        shutil.rmtree(log_dir, ignore_errors=True)
    print("WORKER_RESULT " + json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
