"""Voronoi mask — move each point to the nearest point of the Voronoi
diagram of the full point set.

Reference: /root/reference/maskmypy/masks/voronoi.py:10-76 (shapely
``voronoi_polygons(only_edges=True)`` + ``nearest_points``). Deterministic,
no seed (tests/test_atlas.py:206-210).

Engine closed form (SURVEY §2.1 M5): the nearest diagram point to site p is
the midpoint of p and its nearest neighbor q — for any site r and diagram
point v in cell(r), |pv| >= |pr|/2 >= |pq|/2, with equality attained at the
p–q bisector midpoint, which always lies on the diagram (no site can be
closer than |pq|/2 to it). So the O(n·polygon) shapely construction becomes
one exact kNN self-join — no global geometry object, fully distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.masksql import _project
from .knn import nearest_neighbor
from .snap import _snap_post


def voronoi(
    df: DataFrame,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    snap_to_streets: bool = False,
    street_nodes: DataFrame | None = None,
) -> DataFrame:
    post = _snap_post(snap_to_streets, street_nodes, key, x, y)
    others = df.select(
        F.col(key).alias("_vkey"), F.col(x).alias("_vx"), F.col(y).alias("_vy")
    )
    nn = nearest_neighbor(
        df, others, key=key, x=x, y=y, okey="_vkey", ox="_vx", oy="_vy",
        exclude_self=True,
    )
    return post(_project(  # snap: reference masks/voronoi.py:21-24, 49-50
        nn, sets={x: f"({x} + _vx) / 2.0", y: f"({y} + _vy) / 2.0"},
        drop=("_vkey", "_vx", "_vy", "nn_dist"),
    ))
