"""Seeded inputs, operations and correctness checks of the workloads.

Every input is generated JVM-side from the run's seed, so the benchmark
needs no data files. Sizes keep the sf0.1 point/address densities
(456,861 points and 150,000 addresses over 20 km x 10 km) on a box shrunk
to ``SCALE`` of its area, so each join sees the production fan-out.

An operation returns ``(hash, rows)``: an xxhash64 ``bit_xor`` over every
output column and the row count, computed in one action that forces the
whole plan. ``pipeline`` returns its ``k_satisfaction`` value instead.
"""

from __future__ import annotations

import importlib
import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from maskmypy_spark import analysis
from maskmypy_spark.functions.rng import flit, u_sql

# the operators package re-exports functions under the module names
dedup, donut, locationswap, voronoi = (
    importlib.import_module(f"maskmypy_spark.operators.{m}")
    for m in ("dedup", "donut", "locationswap", "voronoi")
)

# Share of the sf0.1 box (and of its row counts) the inputs cover.
SCALE = 0.05
SF_POINTS, SF_ADDRESSES = 456_861, 150_000
BOX_W = 20000.0 * math.sqrt(SCALE)
BOX_H = 10000.0 * math.sqrt(SCALE)
N_POINTS = round(SF_POINTS * SCALE)
N_ADDRESSES = round(SF_ADDRESSES * SCALE)
N_MASK = 500_000  # JVM-generated points for the projection-only mask
N_DOCS = 7_000

LOW, HIGH = 100.0, 500.0
MASK_SEED = 42  # operation seed; inputs vary with the run's seed
MIN_K = 10

OPERATIONS = {
    "uniform": ("mask", "pipeline", "locationswap", "voronoi"),
    "curate": ("curate",),
}


def _layer(spark, n, seed, tag, key, xn, yn, parts):
    """``n`` rows (key, x, y), uniform over the box: the engine's hash of
    the key, under the draw-site tags ``tag`` and ``tag + 1``."""
    x = f"({u_sql(key, tag, seed)}) * {flit(BOX_W)}"
    y = f"({u_sql(key, tag + 1, seed)}) * {flit(BOX_H)}"
    return spark.range(0, n, 1, parts).selectExpr(
        f"id AS {key}", f"{x} AS {xn}", f"{y} AS {yn}"
    )


def docs(spark: SparkSession, n: int, seed: int, parts: int) -> DataFrame:
    """Doc i is 40 pseudo-random alpha words hashed from its group id;
    the docs with i % 7 in {1, 2} copy their group's words and add a
    one-word suffix, so 2/7 of the corpus sits in near-duplicate triples."""
    return (
        spark.range(0, n, 1, parts)
        .selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 7 IN (1, 2) THEN id - id % 7 ELSE id END AS _b",
        )
        .withColumn(
            "text",
            F.expr(
                "concat_ws(' ', transform(sequence(1, 40), k -> "
                "translate(substr(md5(concat("
                f"'{int(seed)}-', cast(_b AS STRING), '-', "
                "cast(k AS STRING))), 1, 7), '0123456789', 'abcdefghij')))"
            ),
        )
        .withColumn(
            "text",
            F.expr(
                "CASE WHEN doc_id % 7 IN (1, 2) "
                "THEN concat(text, ' v', doc_id % 7) ELSE text END"
            ),
        )
        .select("doc_id", "text")
    )


def make_inputs(spark: SparkSession, workload: str, seed: int) -> dict[str, DataFrame]:
    """The workload's input tables, uncached, each generated over several
    partitions per core so a no-shuffle plan uses every core."""
    par = spark.sparkContext.defaultParallelism
    if workload == "curate":
        return {"docs": docs(spark, N_DOCS, seed, 4 * par)}
    return {
        "pts": _layer(spark, N_POINTS, seed, 101, "pid", "x", "y", 2 * par),
        "addr": _layer(spark, N_ADDRESSES, seed, 111, "aid", "ax", "ay", par),
        "big": _layer(spark, N_MASK, seed, 131, "pid", "x", "y", 4 * par),
    }


def force(df: DataFrame, *extra) -> list:
    """One action over every output column: ``[bit_xor(xxhash64), rows,
    *extra aggregates]``. The hash defeats column pruning and outer-join
    elimination, which a bare count would allow."""
    r = (
        df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("_h"), "*")
        .agg(F.expr("bit_xor(_h)"), F.count(F.lit(1)), *extra)
        .collect()[0]
    )
    return list(r)


def k_frame(t: dict[str, DataFrame]) -> DataFrame:
    """Mask -> slim k-verify: originals ride through the mask as payload,
    so displacement is a projection and no fact table is joined back."""
    m = donut.donut(analysis.with_original(t["pts"]), LOW, HIGH, seed=MASK_SEED)
    disp = analysis.displacement_from_payload(m)
    return analysis.k_anonymity_address(
        t["pts"], m.drop("_orig_x", "_orig_y"), t["addr"], max_radius=HIGH,
        disp=disp, slim=True,
    )


def _displacement(ox: str = "_orig_x", oy: str = "_orig_y") -> list:
    """Smallest and largest displacement of a row from (ox, oy)."""
    d = F.expr(f"sqrt((x - {ox}) * (x - {ox}) + (y - {oy}) * (y - {oy}))")
    return [F.min(d), F.max(d)]


def run_op(name: str, t: dict[str, DataFrame]):
    """Run one operation to completion; returns what its check reads.

    The mask carries the input coordinates through as payload, so its
    displacement check rides the forcing action instead of a join."""
    if name == "mask":
        m = donut.donut(analysis.with_original(t["big"]), LOW, HIGH, seed=MASK_SEED)
        return force(m, *_displacement())
    if name == "pipeline":
        return float(analysis.k_satisfaction(k_frame(t), MIN_K).collect()[0][0])
    if name == "locationswap":
        return force(locationswap.locationswap(t["pts"], LOW, HIGH, t["addr"], seed=MASK_SEED))
    if name == "voronoi":
        return force(voronoi.voronoi(t["pts"]))
    if name == "curate":
        return force(
            dedup.curate_near(t["docs"]),
            F.sum(F.expr("CAST(doc_id % 7 IN (1, 2) AS INT)")), F.sum("doc_id"),
        )
    raise ValueError(f"unknown operation {name!r}")


def _in_band(lo, hi) -> bool:
    return LOW - 1e-6 <= lo <= hi <= HIGH + 1e-6


def check(name: str, value, t: dict[str, DataFrame]) -> tuple[list[str], list]:
    """Seed-independent properties of one operation's result. Returns the
    violations found and the value pinned for the pin seed: the output hash
    and row count (for ``pipeline``, those of the per-point k and the
    satisfaction share). ``locationswap`` joins its output back to the
    input here, outside the timed passes."""
    bad, pin = [], [int(value[0]), int(value[1])] if name != "pipeline" else None
    if name == "mask":
        if value[1] != N_MASK:
            bad.append(f"rows {value[1]} != input {N_MASK}")
        if not _in_band(value[2], value[3]):
            bad.append(f"displacement [{value[2]}, {value[3]}] outside [{LOW}, {HIGH}]")
    elif name == "voronoi":
        if value[1] != N_POINTS:
            bad.append(f"rows {value[1]} != input {N_POINTS}")
    elif name == "locationswap":
        out = locationswap.locationswap(t["pts"], LOW, HIGH, t["addr"], seed=MASK_SEED)
        src = t["pts"].select("pid", F.col("x").alias("_ox"), F.col("y").alias("_oy"))
        rows, lo, hi = out.join(src, "pid").agg(
            F.count(F.lit(1)), *_displacement("_ox", "_oy")
        ).collect()[0]
        if value[1] != N_POINTS or rows != N_POINTS:
            bad.append(f"rows {value[1]}, joined back {rows}, input {N_POINTS}")
        if not _in_band(lo, hi):
            bad.append(f"displacement [{lo}, {hi}] outside [{LOW}, {HIGH}]")
    elif name == "pipeline":
        h, rows, min_k, share = k_hash(t)
        pin = [h, rows, value]
        if rows != N_POINTS or min_k < 1:
            bad.append(f"k-verify rows {rows} (input {N_POINTS}), min k {min_k}")
        if share != value:
            bad.append(f"k_satisfaction {value} != {share} from the per-point k")
    elif name == "curate":
        # as many docs as the non-variant ones, none a variant, and the
        # same id sum: the non-variant docs, each once
        want = [i for i in range(N_DOCS) if i % 7 not in (1, 2)]
        if (value[1], value[2] or 0, value[3]) != (len(want), 0, sum(want)):
            bad.append(
                f"kept {value[1]} docs, {value[2]} variants, id sum {value[3]}; want "
                f"exactly the {len(want)} non-variant docs, id sum {sum(want)}"
            )
    return bad, pin


def k_hash(t: dict[str, DataFrame]) -> tuple[int, int, int, float]:
    """Per-point ``(pid, k_anonymity)`` hash, row count, smallest k and the
    satisfaction share those k give; ``pipeline`` must report that share."""
    k = k_frame(t).select("pid", "k_anonymity")
    h, rows, min_k, share = force(
        k, F.min("k_anonymity"),
        F.round(F.avg((F.col("k_anonymity") >= MIN_K).cast("int")), 3),
    )
    return int(h), int(rows), int(min_k), float(share)
