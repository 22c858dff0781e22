"""Setup shared by the benchmark and experiment scripts (``bench.py``,
``bench_extra.py`` and ``BENCH/*.py``): the forcing action, the cached sf
tables, the JVM-side point generator and the mask -> k-verify recipe. The
scripts import it with the repository root on ``sys.path``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from maskmypy_spark import analysis
from maskmypy_spark.functions.rng import flit, u_sql
from maskmypy_spark.operators.donut import donut

LOW, HIGH, SEED = 100.0, 500.0, 42  # the benchmark donut


def forced(df: DataFrame, *extra) -> DataFrame:
    """One row: ``bit_xor`` of xxhash64 over every output column of ``df``,
    then the ``extra`` aggregates. The hash defeats Catalyst's aggregate
    pushdown and outer-join elimination (a bare count(*) prunes the k-join
    entirely); ``bit_xor`` cannot overflow under ANSI mode."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    return df.select(h, "*").agg(F.expr("bit_xor(h)"), *extra)


def force(df: DataFrame, *extra) -> list:
    """Run :func:`forced`; returns ``[hash, *extra]``."""
    return list(forced(df, *extra).collect()[0])


def pts_df(
    spark: SparkSession, n: int, w: float = 2.0e4, h: float = 1.0e4,
    tag_salt: int = 0,
) -> DataFrame:
    """``n`` points (pid 1..n, x, y) uniform over a ``w`` x ``h`` box,
    hashed from the key (draw-site tags 101/102 + ``tag_salt``, seed 1234)
    JVM-side, over 4 partitions per core (at least 8)."""
    parts = max(4 * spark.sparkContext.defaultParallelism, 8)
    return spark.range(1, n + 1, 1, parts).selectExpr(
        "id AS pid",
        f"({u_sql('id', 101 + tag_salt, 1234)}) * {flit(w)} AS x",
        f"({u_sql('id', 102 + tag_salt, 1234)}) * {flit(h)} AS y",
    )


def addr_df(spark: SparkSession, n: int, w: float = 2.0e4, h: float = 1.0e4) -> DataFrame:
    """``n`` addresses (aid, ax, ay) over the same box, drawn at tags
    shifted by 50 so they are independent of the points."""
    return pts_df(spark, n, w, h, tag_salt=50).withColumnsRenamed(
        {"pid": "aid", "x": "ax", "y": "ay"}
    )


def sf_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, int]:
    """The cached point and address tables of the sf parquet set at
    ``sf_dir`` and the point count. The small-SF fixtures are single
    parquet files -> 1-3 scan splits, so a no-shuffle pipeline
    (pure-projection mask, broadcast join probe) would run on 1-3 of the N
    cores — a local artifact. On a real cluster the 100 TB fact table scans
    as thousands of splits; mirror that by repartitioning ONCE here
    (untimed, before cache)."""
    from maskmypy_spark.sources import tables

    par = spark.sparkContext.defaultParallelism
    pts = tables.big_points_df(spark, sf_dir).repartition(2 * par).cache()
    n = pts.count()
    addr = tables.address_df(spark, sf_dir).repartition(par).cache()
    addr.count()
    return pts, addr, n


def k_pipeline(pts: DataFrame, addr: DataFrame, salt: int = 0) -> DataFrame:
    """Mask -> k-verify, per point (pid, x, y, k_anonymity). The originals
    ride through the mask as payload, so the displacement radius is a
    projection and the fact table is never joined on pid; the k count is
    one LEFT OUTER pair stream and one aggregate, with no join-back."""
    m = donut(analysis.with_original(pts), LOW, HIGH, seed=SEED)
    return analysis.k_anonymity_address(
        pts, m.drop("_orig_x", "_orig_y"), addr, max_radius=HIGH,
        disp=analysis.displacement_from_payload(m), slim=True, salt=salt,
    )
