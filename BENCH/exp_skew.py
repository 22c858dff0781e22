"""Adversarial-skew experiment: measured salted-vs-unsalted wall-times on
hot-cell fixtures (the constant-density scaling curve deliberately avoids
the skew axis; salting was equivalence-gated but never MEASURED — VERDICT
r05 next #5).

Fixtures (deterministic transforms of the sf tables):
  kv:  5% of points AND addresses remapped into ONE 250 m cell (a "city
       block") — the k-verify slim count then runs with auto-broadcast OFF,
       so the cell join takes the at-scale SMJ shuffle shape where one
       reducer owns the hot cell; ~23k hot probes x ~7.5k hot addresses
       ~ 1.7e8 candidate pairs land on that reducer unsalted.
  vor: 5% of points remapped into a 400x400 m square — the kNN self-join's
       hot cells carry ~40x the mean cell occupancy.

Variants: salt 0 / 4 / 16 per job, fresh JVM per run (SWEEPS full passes,
min across all). Result hashes asserted IDENTICAL across salts (the
equivalence the plan tests gate, re-proven on the hot fixture at bench
scale).

Usage: python BENCH/exp_skew.py [kv_s0 kv_s4 ... | all]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = int(os.environ.get("EXP_RUNS", "3"))
SWEEPS = int(os.environ.get("EXP_SWEEPS", "2"))
HOT_FRAC = int(os.environ.get("HOT_FRAC", "20"))  # pid % HOT_FRAC == 0 -> 1/HOT_FRAC hot

_NOBC = "spark.sql.autoBroadcastJoinThreshold=-1"
_NOSKEW = _NOBC + ";spark.sql.adaptive.skewJoin.enabled=false"
VARIANTS: dict[str, tuple[dict, str, int]] = {
    # AQE skew-join ON (production default): is explicit salt still needed?
    "kv_s0": ({"SPARK_GRAFT_EXTRA_CONF": _NOBC}, "kv", 0),
    "kv_s4": ({"SPARK_GRAFT_EXTRA_CONF": _NOBC}, "kv", 4),
    "kv_s16": ({"SPARK_GRAFT_EXTRA_CONF": _NOBC}, "kv", 16),
    # AQE skew-join OFF: what salt buys when the adaptive backstop is gone
    "kv_s0_noskew": ({"SPARK_GRAFT_EXTRA_CONF": _NOSKEW}, "kv", 0),
    "kv_s16_noskew": ({"SPARK_GRAFT_EXTRA_CONF": _NOSKEW}, "kv", 16),
    "vor_s0": ({}, "vor", 0),
    "vor_s4": ({}, "vor", 4),
    "vor_s16": ({}, "vor", 16),
    "vor_s0_noskew": ({"SPARK_GRAFT_EXTRA_CONF": "spark.sql.adaptive.skewJoin.enabled=false"}, "vor", 0),
    "vor_s16_noskew": ({"SPARK_GRAFT_EXTRA_CONF": "spark.sql.adaptive.skewJoin.enabled=false"}, "vor", 16),
}


def _hot_tables(spark, sf_dir):
    from pyspark.sql import functions as F

    from maskmypy_spark.sources import tables

    par = spark.sparkContext.defaultParallelism
    pts = tables.big_points_df(spark, sf_dir)
    addr = tables.address_df(spark, sf_dir)
    # 5% of rows into the hot region, key-deterministic (pmod keeps the
    # offsets well-spread inside the block so points stay distinct)
    hot_pts = pts.selectExpr(
        "pid",
        f"CASE WHEN pid % {HOT_FRAC} = 0 THEN 1000.0D + pmod(x, 250.0D) ELSE x END AS x",
        f"CASE WHEN pid % {HOT_FRAC} = 0 THEN 1000.0D + pmod(y, 250.0D) ELSE y END AS y",
    ).repartition(2 * par).cache()
    hot_addr = addr.selectExpr(
        "aid",
        f"CASE WHEN aid % {HOT_FRAC} = 0 THEN 1000.0D + pmod(ax, 250.0D) ELSE ax END AS ax",
        f"CASE WHEN aid % {HOT_FRAC} = 0 THEN 1000.0D + pmod(ay, 250.0D) ELSE ay END AS ay",
    ).repartition(par).cache()
    hot_pts.count()
    hot_addr.count()
    return hot_pts, hot_addr


def _hot_cluster(spark, sf_dir):
    from pyspark.sql import functions as F

    from maskmypy_spark.sources import tables

    par = spark.sparkContext.defaultParallelism
    pts = tables.big_points_df(spark, sf_dir)
    out = pts.selectExpr(
        "pid",
        f"CASE WHEN pid % {HOT_FRAC} = 0 THEN 1000.0D + pmod(x, 400.0D) ELSE x END AS x",
        f"CASE WHEN pid % {HOT_FRAC} = 0 THEN 1000.0D + pmod(y, 400.0D) ELSE y END AS y",
    ).repartition(2 * par).cache()
    out.count()
    return out


def _child(job: str, salt: int) -> None:
    from pyspark.sql import functions as F

    from bench_common import force, k_pipeline
    from maskmypy_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app="maskmypy-exp-skew", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if job == "kv":
        pts, addr = _hot_tables(spark, sf_dir)

        def run():
            return force(k_pipeline(pts, addr, salt).select("pid", "k_anonymity"))[0]
    elif job == "vor":
        from maskmypy_spark.operators.knn import nearest_neighbor

        pts = _hot_cluster(spark, sf_dir)

        def run():
            # voronoi's exact shape (knn self-join -> bisector midpoint),
            # spelled via nearest_neighbor to reach the salt knob
            others = pts.select(
                F.col("pid").alias("_vkey"), F.col("x").alias("_vx"),
                F.col("y").alias("_vy"),
            )
            nn = nearest_neighbor(
                pts, others, key="pid", x="x", y="y", okey="_vkey",
                ox="_vx", oy="_vy", exclude_self=True, salt=salt,
            )
            out = (
                nn.withColumn("x", F.expr("(x + _vx) / 2.0"))
                .withColumn("y", F.expr("(y + _vy) / 2.0"))
                .drop("_vkey", "_vx", "_vy", "nn_dist")
            )
            return force(out)[0]
    else:
        raise SystemExit(f"unknown job {job}")

    run()  # warmup
    ts, hashes = [], set()
    for _ in range(RUNS):
        t0 = time.perf_counter()
        h = run()
        ts.append(round(time.perf_counter() - t0, 3))
        hashes.add(h)
    print("VARIANT_RESULT " + json.dumps({"times": ts, "hashes": sorted(hashes)}))


def main() -> None:
    if os.environ.get("_EXP_CHILD"):
        name = os.environ["_EXP_CHILD"]
        env, job, salt = VARIANTS[name]
        _child(job, salt)
        return
    names = sys.argv[1:] or ["all"]
    if names == ["all"]:
        names = list(VARIANTS)
    results: dict[str, dict] = {}
    for sweep in range(SWEEPS):
        for name in names:
            env_extra, _job, _salt = VARIANTS[name]
            env = dict(os.environ, _EXP_CHILD=name, **env_extra)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                capture_output=True, text=True, env=env, timeout=3600,
            )
            got = None
            for line in proc.stdout.splitlines():
                if line.startswith("VARIANT_RESULT "):
                    got = json.loads(line[len("VARIANT_RESULT "):])
            if got is None:
                print(f"{name}: FAILED\n{proc.stdout[-1500:]}\n{proc.stderr[-3000:]}")
                continue
            slot = results.setdefault(name, {"times": [], "hashes": set()})
            slot["times"] += got["times"]
            slot["hashes"] |= set(got["hashes"])
            print(f"sweep{sweep} {name}: min={min(got['times'])} "
                  f"times={got['times']} hash={got['hashes']}")
    out = {
        n: {"min": min(s["times"]), "times": s["times"],
            "hashes": sorted(s["hashes"])}
        for n, s in results.items()
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
