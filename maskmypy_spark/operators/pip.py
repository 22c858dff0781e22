"""Point-in-polygon join (broadcast ray-cast, pure column expressions).

Replaces ``container.intersects(point)`` (reference ``masks/donut.py:153,165``)
and the sjoin prefilter of polygon k-anonymity (``analysis.py:527``).

Polygons arrive as ``(poly_id: long, ring: array<struct<x:double,y:double>>)``
(+ any payload). The plan: explode rings to edges ONCE, broadcast the edge
table (containers/census layers are small dimensions vs the point fact
table), bbox-prefilter the join, then count ray crossings per (point,
polygon) with an aggregate — everything stays in whole-stage codegen; no
Python, no shuffle of the big side beyond the final groupBy, which is
partial-aggregated map-side.

The crossing test is division-free (cross-multiplied) so it cannot hit
ANSI-mode divide-by-zero on horizontal edges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions import cells
from .distance_join import _explode_box, cell_join

EDGE_EXPR = """
explode(transform(sequence(0, size(ring) - 1), i -> struct(
    ring[i].x AS x1, ring[i].y AS y1,
    ring[(i + 1) % size(ring)].x AS x2, ring[(i + 1) % size(ring)].y AS y2
)))
"""


def _bbox_cols() -> list[Column]:
    """The ring's bounding box as columns xmin, ymin, xmax, ymax."""
    return [
        F.expr(f"array_{fn}(transform(ring, p -> p.{a}))").alias(f"{a}{fn}")
        for fn in ("min", "max") for a in ("x", "y")
    ]


def _bbox_join(
    points: DataFrame,
    boxes: DataFrame,
    x: str,
    y: str,
    cell_size: float | None = None,
    pad: str | None = None,
    max_pad: float = 0.0,
) -> DataFrame:
    """Inner join of ``points`` with every ``boxes`` row (columns xmin, ymin,
    xmax, ymax) whose box, grown by the point's own ``pad`` column, holds
    the point: the bbox prefilter of pip_join and polygon k-anonymity.

    ``cell_size=None`` broadcasts ``boxes`` into a range join — right for
    the reference's container and census layers (tens of polygons).
    ``cell_size=<meters>`` is the continent-scale path: each box explodes
    into the grid cells it covers (grown by ``max_pad``, the largest
    ``pad``), each point carries its single cell, and the two sides meet in
    :func:`distance_join.cell_join` — a shuffle equi-join on the cell key
    (no broadcast; box bytes shuffle once per covered cell instead of
    residing whole on every executor, and AQE skew-splits hot cells)."""
    x0 = x1 = F.col(x)
    y0 = y1 = F.col(y)
    if pad:
        r = F.col(pad)
        x0, x1, y0, y1 = x0 + r, x1 - r, y0 + r, y1 - r
    cond = (
        (x0 >= F.col("xmin")) & (x1 <= F.col("xmax"))
        & (y0 >= F.col("ymin")) & (y1 <= F.col("ymax"))
    )
    if cell_size is None:
        return points.join(F.broadcast(boxes), cond)
    cs = float(cell_size)
    pt = points.withColumn("_cell", F.expr(cells.cell_sql(x, y, cs)))
    return cell_join(pt, _explode_box(boxes, cs, max_pad), x, y, cond=cond)


def polygon_edges(polygons: DataFrame, poly_id: str = "poly_id") -> DataFrame:
    """(poly_id, x1, y1, x2, y2, xmin, ymin, xmax, ymax) — one row per edge."""
    return (
        polygons.select(poly_id, *_bbox_cols(), F.expr(EDGE_EXPR).alias("_e"))
        .select(poly_id, "xmin", "ymin", "xmax", "ymax", "_e.*")
    )


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    poly_id: str = "poly_id",
    cell_size: float | None = None,
) -> DataFrame:
    """Inner join: one row (key, x, y, poly_id) per point-polygon containment.

    Points in no polygon are absent (caller left-joins to detect them);
    points in several polygons produce several rows (the donut container
    contract forbids overlap — the caller raises, donut.py:158-161).

    Two physical plans (value-identical; see :func:`_bbox_join`, shared with
    k_anonymity_polygon): ``cell_size=None`` (default) bbox-joins the
    broadcast exploded edge table; ``cell_size=<meters>`` cell-joins each
    polygon row (carrying its ring) and explodes the ring into edges ON THE
    JOINED ROW.
    """
    pts = points.select(key, x, y)
    if cell_size is None:
        cand = _bbox_join(pts, polygon_edges(polygons, poly_id), x, y)
    else:
        pg = polygons.select(poly_id, "ring", *_bbox_cols())
        cand = (
            _bbox_join(pts, pg, x, y, cell_size)
            .select(key, x, y, poly_id, F.expr(EDGE_EXPR).alias("_e"))
            .select(key, x, y, poly_id, "_e.*")
        )
    px, py = F.col(x), F.col(y)
    straddle = (F.col("y1") > py) != (F.col("y2") > py)
    lhs = (px - F.col("x1")) * (F.col("y2") - F.col("y1"))
    rhs = (F.col("x2") - F.col("x1")) * (py - F.col("y1"))
    crossing = straddle & (
        ((F.col("y2") > F.col("y1")) & (lhs < rhs))
        | ((F.col("y2") < F.col("y1")) & (lhs > rhs))
    )
    return (
        cand.groupBy(key, x, y, poly_id)
        .agg(F.sum(crossing.cast("int")).alias("_crossings"))
        .where(F.col("_crossings") % 2 == 1)
        .select(key, x, y, poly_id)
    )
