"""Benchmark harness: headline mask + k-verification queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <headline seconds>, "unit": "sec",
   "queries": {...}, "sf": ..., "rows": ..., "throughput_rows_per_sec": ...}

Headline jobs (the BASELINE.json metric: masked points/sec + k-anonymity
verification wall-time):
  q_donut_mask         donut-mask the lineitem-derived point table (unique keys)
  q_k_verify           displacement-radius distance join vs orders-derived
                       addresses + count aggregate (closed-disk k)
  q_locationswap       annulus join + deterministic pick
  q_voronoi_nn         exact kNN self-join -> bisector midpoint
  q_pipeline           mask -> k-verify -> k_satisfaction end-to-end

Scaling evidence for the north rule (N vs 4N) is produced by
BENCH/run_scaling.py, which runs this same workload at local[2], local[8]
AND local[32] (both consecutive efficiencies published) and writes
BENCH/BASELINE.md + BENCH/scaling.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_jobs(spark, sf_dir):
    from bench_common import force, k_pipeline, pts_df, sf_tables
    from maskmypy_spark import analysis
    from maskmypy_spark.operators.donut import donut
    from maskmypy_spark.operators.locationswap import locationswap
    from maskmypy_spark.operators.voronoi import voronoi

    pts, addr, n_rows = sf_tables(spark, sf_dir)

    def q_donut_mask(_=None):
        m = donut(pts, 100.0, 500.0, seed=42)
        return force(m.select("pid", "x", "y"))

    def q_k_verify(_=None):
        return force(k_pipeline(pts, addr).select("pid", "k_anonymity"))

    def q_locationswap(_=None):
        m = locationswap(pts, 100.0, 500.0, addr, seed=42)
        return force(m)

    def q_voronoi_nn(_=None):
        m = voronoi(pts)
        return force(m)

    def q_pipeline(_=None):
        return float(analysis.k_satisfaction(k_pipeline(pts, addr), 10).collect()[0][0])

    def q_mask_20m(_=None):
        # mask throughput free of fixed overhead (the sf-table jobs are
        # scheduler/scan-bound at <1M rows): generate 20M rows JVM-side
        # and mask them — the BASELINE.json "masked points/sec" figure
        m = donut(pts_df(spark, 20_000_000), 100.0, 500.0, seed=42)
        return force(m.select("pid", "x", "y"))

    jobs = {
        "q_donut_mask": q_donut_mask,
        "q_k_verify": q_k_verify,
        "q_locationswap": q_locationswap,
        "q_voronoi_nn": q_voronoi_nn,
        "q_pipeline": q_pipeline,
        "q_mask_20m": q_mask_20m,
    }
    return jobs, n_rows


def _worker() -> None:
    """One JVM's worth of measurements: 1 warmup + BENCH_RUNS timed runs
    per query; emits raw per-run lists for the parent to min-merge."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warmups = int(os.environ.get("BENCH_WARMUP", "1"))
    runs = int(os.environ.get("BENCH_RUNS", "3"))

    from maskmypy_spark.session import get_spark

    spark = get_spark(app="maskmypy-bench", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jobs, n_rows = build_jobs(spark, sf_dir)

    runs_detail: dict[str, list[float]] = {}
    for name, fn in jobs.items():
        for _ in range(warmups):
            fn()
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            ts.append(round(time.perf_counter() - t0, 3))
        runs_detail[name] = ts
    print("WORKER_RESULT " + json.dumps({"rows": n_rows, "runs": runs_detail}))


def main() -> None:
    # Protocol (round 5): BENCH_JVMS independent worker subprocesses
    # (default 2), each 1 warmup + BENCH_RUNS (default 3) timed runs per
    # query; the published number is the MIN across all timed runs.
    # Min, not median, because whole-JVM ~2-2.5x slowdowns ride this
    # virtualized box (CPU steal) — every run inside an afflicted JVM is
    # uniformly slow, so within-JVM medians cannot filter the artifact,
    # while noise only ever ADDS time. Every run is published in
    # `runs_detail` (grouped per JVM) so readers can see both the spread
    # and any whole-JVM outlier. Output stays ONE JSON line.
    import subprocess

    if os.environ.get("_BENCH_WORKER") == "1":
        _worker()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warmups = int(os.environ.get("BENCH_WARMUP", "1"))
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    jvms = int(os.environ.get("BENCH_JVMS", "2"))

    n_rows = None
    detail: dict[str, list[list[float]]] = {}
    env = dict(os.environ, _BENCH_WORKER="1")
    for _ in range(jvms):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        got = None
        for line in proc.stdout.splitlines():
            if line.startswith("WORKER_RESULT "):
                got = json.loads(line[len("WORKER_RESULT "):])
                break
        if got is None:
            raise RuntimeError(
                f"bench worker failed:\n{proc.stdout[-2000:]}\n"
                f"{proc.stderr[-4000:]}"
            )
        n_rows = got["rows"]
        for k, ts in got["runs"].items():
            detail.setdefault(k, []).append(ts)

    timings = {k: min(min(js) for js in jlists) for k, jlists in detail.items()}
    headline = timings["q_pipeline"]
    out = {
        "metric": "mask+k-verify pipeline wall-time (donut mask -> k-anonymity distance join -> satisfaction)",
        "value": headline,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "rows": n_rows,
        "cpus": cpus,
        "throughput_rows_per_sec": round(n_rows / headline, 1) if headline else None,
        "mask_rows_per_sec": round(n_rows / timings["q_donut_mask"], 1),
        "mask_20m_rows_per_sec": round(20_000_000 / timings["q_mask_20m"], 1),
        "protocol": {
            "jvms": jvms, "warmups_per_jvm": warmups, "runs_per_jvm": runs,
            "stat": "min across all timed runs of all JVMs (whole-JVM "
                    "slowdown filter; see BENCH/NOTES.md)",
        },
        "runs_detail": detail,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
