"""Capture .explain("formatted") for every bench query -> plans/r06/.

Usage: python BENCH/capture_plans.py <suffix>    (suffix = before|after)

Mirrors bench.py's job construction exactly (same tables, same operators,
same repartition/cache setup) so the captured plans are the plans the
frozen bench times. Run SOLO (one JVM); does not time anything.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)

    from bench_common import forced, k_pipeline, pts_df, sf_tables
    from maskmypy_spark import analysis
    from maskmypy_spark.operators.donut import donut
    from maskmypy_spark.operators.locationswap import locationswap
    from maskmypy_spark.operators.voronoi import voronoi
    from maskmypy_spark.session import get_spark

    spark = get_spark(app="maskmypy-capture-plans", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    pts, addr, _ = sf_tables(spark, sf_dir)
    big = pts_df(spark, 20_000_000)

    dfs = {
        "q_donut_mask": forced(donut(pts, 100.0, 500.0, seed=42).select("pid", "x", "y")),
        "q_k_verify": forced(k_pipeline(pts, addr).select("pid", "x", "y", "k_anonymity")),
        "q_locationswap": forced(locationswap(pts, 100.0, 500.0, addr, seed=42)),
        "q_voronoi_nn": forced(voronoi(pts)),
        "q_mask_20m": forced(donut(big, 100.0, 500.0, seed=42).select("pid", "x", "y")),
    }
    for name, df in dfs.items():
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            ))
        print(f"wrote {path}")
    # q_pipeline shares the k_pipeline plan; its extra k_satisfaction agg is
    # a one-row aggregate — capture it too for completeness.
    ksat = analysis.k_satisfaction(k_pipeline(pts, addr), 10)
    with open(os.path.join(out_dir, f"q_pipeline_{suffix}.txt"), "w") as f:
        f.write(ksat._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        ))
    print("done")


if __name__ == "__main__":
    main()
