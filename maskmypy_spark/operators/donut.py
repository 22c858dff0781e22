"""Donut mask — random radial displacement within [low, high).

Reference semantics: /root/reference/maskmypy/masks/donut.py:11-180
(distributions :113-145, containment retry :152-168, validation :88-98).

Execution: pure JVM column expressions built from functions/masksql.py —
the per-row hash-RNG makes the mask deterministic under any partitioning
(the distributed replacement for the reference's sequential RNG, SURVEY §7
hard-part 1) and gives it an exact DuckDB oracle twin. No UDF, no shuffle:
the whole mask is one whole-stage-codegen projection over the scan.

Containment (``container=``) runs the reference's retry loop as driver-side
rounds over the unconverged subset (``escalate.escalate``): attempt ``a``
uses draw index ``a``, so the result is "first attempt that lands in the
home polygon" — order-free, partition-independent, and replayable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import masksql, rng
from .escalate import escalate, materialize
from .pip import pip_join
from .snap import _snap_post


def _offsets(df, key, low, high, seed, distribution, attempt, x, y) -> DataFrame:
    # fast=True: Spark-side AND dialect for the mod-2^31 stages (bit-equal
    # integers, cheaper codegen); the oracle CTEs keep the portable text.
    stages = masksql.donut_stages(key, low, high, seed, distribution, attempt, fast=True)
    return masksql._project(df, stages, {x: f"{x} + _offx", y: f"{y} + _offy"})


def donut(
    df: DataFrame,
    low: float,
    high: float,
    seed: int | None = None,
    distribution: str = "uniform",
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    container: DataFrame | None = None,
    max_attempts: int = 200,
    snap_to_streets: bool = False,
    street_nodes: DataFrame | None = None,
    container_cell_size: float | None = None,
) -> DataFrame:
    """Return ``df`` with (x, y) displaced; all payload columns (image
    bytes, captions, ...) pass through untouched — the per-row fidelity
    invariant holds by construction.

    ``snap_to_streets=True`` (reference masks/donut.py:82-83) snaps masked
    points to the nearest node of ``street_nodes`` — the reference fetches
    OSM from the bbox; this engine is offline, so the caller provides the
    node layer (node_id, nx, ny) explicitly."""
    if low >= high:
        # reference masks/donut.py:91-92
        raise ValueError("Minimum displacement distance is greater than or equal to maximum.")
    seed = rng.gen_seed() if not seed else seed  # falsy-seed quirk preserved (donut.py:74)
    post = _snap_post(snap_to_streets, street_nodes, key, x, y)
    from ..functions import meta

    meta.validate_point_layer(df, key, x, y)  # reference tools.py:165-169
    if street_nodes is not None:  # reference tools.py:172-180
        meta.validate_crs((df, x), (street_nodes, "nx"))

    if container is None:
        return post(_offsets(df, key, low, high, seed, distribution, 0, x, y))

    # --- containment variant (reference donut.py:152-168) ---
    # container_cell_size switches the PIP joins to the cell-indexed shuffle
    # plan for container layers too big to broadcast (pip.py docstring)
    home = pip_join(
        df, container, key=key, x=x, y=y, cell_size=container_cell_size
    ).select(key, F.col("poly_id").alias("_home"))
    # ONE PIP execution: materialize the joined fact table, counting the
    # orphans on that job; the duplicate check is a job of its own over the
    # checkpoint (DISTINCT is not allowed in an observed metric) and raises
    # first.
    pts, orphans = materialize(
        df.join(home, key, "left"), orphans=F.count_if(F.col("_home").isNull())
    )
    if not pts.groupBy(key).count().where("count > 1").isEmpty():
        raise ValueError(
            "Points intersect multiple container polygons. Container polygons must not overlap."
        )
    if orphans:
        # The reference crashes on container-less points (donut.py:157-158);
        # we raise an explicit error with the same de-facto contract.
        raise ValueError("Every point must intersect exactly one container polygon.")

    # Batched retry: evaluate BLOCK attempts per round via an exploded
    # attempt column (the hash-RNG takes the attempt index as a column —
    # rng.u_sql(draw="_att")), PIP all candidates in ONE join, keep each
    # point's FIRST in-home attempt. Identical semantics to one-attempt-
    # per-round (and to the oracle's attempt-unnest SQL), but ~BLOCK x
    # fewer Spark jobs: expected rounds = O(log(points)/BLOCK) since
    # per-attempt success probability is bounded below.
    BLOCK = 8

    def step(remaining: DataFrame, rnd: int, _n) -> tuple[DataFrame, Column]:
        # Never explode past the attempt budget: a partial last block keeps
        # attempt indices < max_attempts, so the composite key below cannot
        # collide across points and the semantics stay identical to the
        # oracle's range(0, max_attempts) unnest.
        a0 = rnd * BLOCK
        atts = ", ".join(map(str, range(a0, min(a0 + BLOCK, max_attempts))))
        att = remaining.withColumn("_att", F.expr(f"explode(array({atts}))"))
        stages = masksql.donut_stages(key, low, high, seed, distribution, attempt="_att", fast=True)
        cand = masksql._project(att, stages, {
            "_mx": f"{x} + _offx", "_my": f"{y} + _offy",
            "_ck": f"{key} * {max_attempts + 1} + _att",
        })
        landed = pip_join(
            cand, container, key="_ck", x="_mx", y="_my",
            cell_size=container_cell_size,
        ).select("_ck", F.col("poly_id").alias("_landed"))
        # First in-home attempt per point: min over the attempt index alone
        # (a BIGINT -> map-side-combining HashAggregate; min(struct) would
        # plan a SortAggregate over every candidate). One LEFT join marks
        # every residue point (null _batt = not yet home).
        ok = (
            cand.join(landed, "_ck")
            .where(F.col("_landed") == F.col("_home"))
            .groupBy(key)
            .agg(F.min("_att").alias("_batt"))
        )
        return remaining.join(ok, key, "left"), F.col("_batt").isNotNull()

    def give_up(_remaining: DataFrame) -> None:
        raise RuntimeError(f"Containment retry did not converge in {max_attempts} attempts.")

    out = escalate(pts, step, give_up, -(-max_attempts // BLOCK))
    # The winning coordinates are recomputed from the deterministic stages
    # at the picked attempt — a pure codegen projection, bit-identical to
    # the candidate that won.
    rstages = masksql.donut_stages(key, low, high, seed, distribution, attempt="_batt", fast=True)
    return post(masksql._project(
        out, rstages, {x: f"{x} + _offx", y: f"{y} + _offy"}, drop=("_batt", "_home")
    ))
