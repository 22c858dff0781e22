"""Data-size growth curve for the headline joins (VERDICT r02 item 6).

No sf1 parquet exists in the sandbox, so (per the verdict's alternative)
the curve runs the SAME k-verify / locationswap / mask jobs over
JVM-generated point tables at 600k -> 2M -> 6M -> 20M rows on local[32]
(the 20M decade added per VERDICT r04 next #7).

The box AREA scales with the row count (constant point/address density) —
the honest 100 TB analogy: a growing corpus covers more geography at
roughly constant urban density. With density fixed, per-point candidate
volume is constant and the ideal curve is LINEAR wall-time in rows
(constant rows/sec); sublinear rows/sec reveals shuffle/agg overheads that
would compound at 1000x. (Fixed-box growth instead multiplies density —
candidate pairs grow quadratically — a different, adversarial workload; the
skew/salting tests cover that axis.)

Protocol (round 5): FRESH JVMs PER SCALE, like run_scaling.py's per-level
subprocesses, because the earlier shared-JVM harness contaminated later
legs — with 600k and 2M already run in-session, the 6M k-verify leg read
19.5-20.6 s across two solo runs while a fresh JVM reads 11.0 s for the
identical job (heap/GC/code-cache state, not code: the caches were
unpersisted). On top of that, whole-JVM slowdowns of ~2-2.5x were observed
on this (virtualized) box — every job in an afflicted JVM is uniformly
slow, so medians WITHIN one JVM can't filter it. Hence: JVMS_PER_SCALE
independent subprocesses per scale, 1 warmup + CURVE_RUNS timed runs each,
the MIN across all timed runs is the published capability number (noise
only ever adds time), and every run lands in runs_detail for inspection.

Usage:  python BENCH/run_scale_curve.py            (~30 min, run SOLO)
Writes: BENCH/scale_curve.json  (fully generated — do not hand-edit)
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

BASE_ROWS = 600_000          # sf0.1's lineitem-derived point count
BASE_W, BASE_H = 2.0e4, 1.0e4
SCALES = [600_000, 2_000_000, 6_000_000, 20_000_000]

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from bench_common import addr_df, force, k_pipeline, pts_df
from maskmypy_spark.operators.donut import donut
from maskmypy_spark.operators.locationswap import locationswap
from maskmypy_spark.session import get_spark

n = int(sys.argv[1]); w = float(sys.argv[2]); h = float(sys.argv[3])
cores = int(sys.argv[4]); runs = int(sys.argv[5])
spark = get_spark(app=f"scale-curve-{n}", cores=cores)
spark.sparkContext.setLogLevel("ERROR")

def run_timed(fn, warmup=1):
    for _ in range(warmup):
        fn()
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(round(time.perf_counter() - t0, 3))
    return ts  # every timed run; the parent takes min across JVMs

pts = pts_df(spark, n, w, h).cache(); pts.count()
addr = addr_df(spark, max(n // 20, 1), w, h).cache(); addr.count()

timings = {
    "donut_mask": run_timed(lambda: force(donut(pts, 100.0, 500.0, seed=42))),
    "k_verify": run_timed(lambda: force(k_pipeline(pts, addr))),
    "locationswap": run_timed(
        lambda: force(locationswap(pts, 100.0, 500.0, addr, seed=42))
    ),
}
print("RESULT " + json.dumps(timings))
"""


def main() -> None:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    runs = int(os.environ.get("CURVE_RUNS", "2"))
    jvms = int(os.environ.get("JVMS_PER_SCALE", "2"))
    results = []
    for n in SCALES:
        s = math.sqrt(n / BASE_ROWS)
        w, h = BASE_W * s, BASE_H * s
        code = WORKER % {"repo": REPO}
        detail: dict[str, list[float]] = {}
        for _ in range(jvms):
            proc = subprocess.run(
                [sys.executable, "-c", code, str(n), str(w), str(h),
                 str(cores), str(runs)],
                capture_output=True, text=True, timeout=3600,
            )
            got = None
            for line in proc.stdout.splitlines():
                if line.startswith("RESULT "):
                    got = json.loads(line[len("RESULT "):])
                    break
            if got is None:
                raise RuntimeError(
                    f"worker failed (rows={n}):\n{proc.stdout[-2000:]}\n"
                    f"{proc.stderr[-4000:]}"
                )
            for k, ts in got.items():
                detail.setdefault(k, []).extend(ts)
        timings = {k: min(ts) for k, ts in detail.items()}
        results.append({
            "rows": n,
            "box_km": [round(w / 1000, 3), round(h / 1000, 3)],
            "timings_sec": timings,
            "runs_detail": detail,
            "rows_per_sec": {k: round(n / v, 1) for k, v in timings.items()},
        })

    base = results[0]
    for r in results:
        r["rows_per_sec_vs_600k"] = {
            k: round(r["rows_per_sec"][k] / base["rows_per_sec"][k], 3)
            for k in r["rows_per_sec"]
        }
    out = {
        "protocol": {
            "cores": cores, "jvms_per_scale": jvms,
            "runs_per_jvm": runs, "warmups_per_jvm": 1,
            "stat": "min across all timed runs (whole-JVM ~2x slowdowns "
                    "observed on this virtualized box; noise only adds "
                    "time, so min is the reproducible capability)",
            "density": "constant (box area scales with rows)",
            "isolation": "fresh JVMs per scale (cross-scale JVM state "
                         "measured at ~2x on the 6M leg in a shared JVM)",
        },
        "scales": results,
    }
    with open(os.path.join(HERE, "scale_curve.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
