"""Anonymization benchmark: mask a point table and verify its k-anonymity.

    python3 perfbench/run.py --workload uniform --seed 42 --seconds 8 --trace 0

Runs one workload (see ``workloads.OPERATIONS``) in a fresh Spark driver
process on ``local[<nproc>]`` and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (tracing off); with ``--trace 1`` they are
the per-layer numbers folded from Spark's event log. Every file the run
writes stays under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# names and units of the workloads and metrics
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
WORKER_TIMEOUT_S = 150
# Spark logs codegen falling back to interpreted mode as an ERROR from
# CodeGenerator, in plain or structured (JSON) log layout.
CODEGEN_FALLBACK = re.compile(
    r'ERROR CodeGenerator|"level":\s*"ERROR",\s*"logger":\s*"CodeGenerator"'
)


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (it owns the JVM) and wait
    until no member is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 10
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def _source_id() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def run_worker(a, out_dir: str) -> tuple[dict | None, str]:
    """Run the worker; returns its result (None if it failed) and stderr."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYTHONHASHSEED="0",
    )
    err_path = os.path.join(out_dir, "worker.stderr")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", out_dir, "--spawned", repr(time.time()),
    ]
    with open(err_path, "w") as err:
        proc = subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env,
            start_new_session=True,
        )
        try:
            stdout, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stdout = ""
        finally:
            _stop_group(proc)
            proc.wait()
    with open(err_path) as f:
        stderr = f.read()
    for line in stdout.splitlines():
        if line.startswith("WORKER_RESULT "):
            return json.loads(line[len("WORKER_RESULT "):]), stderr
    return None, stderr


def end_to_end(r: dict) -> dict[str, float]:
    return {
        "pass_s": statistics.median(r["pass_s"]),
        "setup_s": r["setup_s"],
    }


def per_layer(r: dict, fallbacks: int) -> dict[str, float]:
    t = r["trace"]
    return {
        **t["layers"],
        **t["spark"],
        "spark.codegen_fallbacks": fallbacks,
        "spark.peak_heap_mb": r["peak_heap_mb"],
        # with the engine's adaptive heap, too GC-timing-dependent for a bound
        "peak_rss_mb": r["peak_rss_mb"],
        "session.start_s": r["session_s"],
        "sources.load_s": r["load_s"],
        "sources.rows": sum(r["rows"].values()),
        # traced and untraced passes alternate, both with the event log on
        "tracing.overhead_s": statistics.median(t["pass_s"]) - statistics.median(r["pass_s"]),
        "tracing.untraced_pass_s": statistics.median(r["pass_s"]),
        "tracing.guessed_task_s": t["guessed_task_s"],
        # untraced per-operation walls
        **{f"op.{o}_s": statistics.median(ts) for o, ts in r["op_s"].items()},
    }


def report(a, r: dict, fallbacks: int, steal: float) -> None:
    """Human-readable lines ahead of the result line."""
    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(
        f"nproc={os.cpu_count()} pyspark={r['pyspark']} java={r['java']} "
        f"commit={_source_id()} cpu_steal={steal:.4f} rows={json.dumps(r['rows'])}"
    )
    print(f"results={json.dumps(r['pins'])}")
    print(
        f"setup_s={r['setup_s']:.3f} (session {r['session_s']:.3f} + load "
        f"{r['load_s']:.3f} + warm-up {r['warmup_s']:.3f} = "
        f"{' + '.join(f'{w:.2f}' for w in r['warmup_pass_s'])}) passes={len(r['pass_s'])} "
        f"pass_s={statistics.median(r['pass_s']):.3f} peak_rss_mb={r['peak_rss_mb']:.1f} "
        f"peak_heap_mb={r['peak_heap_mb']:.1f} "
        f"checks {r['check_s']:.3f}"
    )
    for o, ts in r["op_s"].items():
        print(f"  {o}_s median={statistics.median(ts):.3f} s over {len(ts)} passes")
    if fallbacks:
        print(f"FLAG: {fallbacks} codegen fallback(s) to interpreted mode (must be 0)")
    for e in r["errors"]:
        print(f"FAILED: {e}")
    if "trace" in r:
        print(
            "coverage per operation (traced passes, summed): wall = driver + "
            "layer stage walls - overlap; uncovered = in no stage and no layer call"
        )
        for op, c in r["trace"]["coverage"].items():
            layers = " ".join(f"{k}={v:.3f}" for k, v in sorted(c["layers"].items()))
            print(
                f"  {op}: wall={c['wall_s']:.3f} driver={c['driver_s']:.3f} {layers} "
                f"overlap={c['overlap_s']:.3f} uncovered={c['uncovered_s']:.3f} "
                f"guessed_task_s={c['guessed_task_s']:.3f}"
            )
        buckets = " ".join(f"{k}={v:.3f}" for k, v in sorted(r["trace"]["buckets"].items()))
        print(f"task_s by bucket: {buckets}")


def main() -> int:
    with open(SPEC) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    out_dir = os.path.abspath(os.path.join(".perfbench", f"{a.workload}-{os.getpid()}"))
    os.makedirs(out_dir, exist_ok=True)
    steal0, total0 = _cpu_times()
    try:
        r, stderr = run_worker(a, out_dir)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    with open(os.path.join(".perfbench", f"last-{a.workload}.stderr"), "w") as f:
        f.write(stderr)
    steal1, total1 = _cpu_times()
    if r is None:
        sys.stderr.write(stderr[-4000:])
        sys.stderr.write("\nbenchmark worker produced no result\n")
        return 1
    fallbacks = len(CODEGEN_FALLBACK.findall(stderr))
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    report(a, r, fallbacks, steal)
    failed = min(len(r["errors"]), r["attempted"])
    values = per_layer(r, fallbacks) if a.trace else end_to_end(r)
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {
        # an operation this workload does not run reads 0
        m["name"]: {"value": values.get(m["name"], 0.0) if m["name"].startswith("op.")
                    else values[m["name"]], "unit": m["unit"]}
        for m in listed
    }
    print(json.dumps({
        "correct": not r["errors"],
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
