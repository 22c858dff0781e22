"""Snap-to-streets — move each point to the nearest road-network node.

Reference: /root/reference/maskmypy/tools.py:98-133 (OSM drive network via
osmnx; offline here, so nodes come from the deterministic synthetic road
tables, sources/fixtures.py). Post-processing option of donut/locationswap/
voronoi (``snap_to_streets=True``, e.g. masks/donut.py:82-83).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..functions.masksql import _project
from .knn import nearest_neighbor


def snap_to_nodes(
    df: DataFrame,
    nodes: DataFrame,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    node_key: str = "node_id",
    nx: str = "nx",
    ny: str = "ny",
) -> DataFrame:
    from ..functions import meta

    meta.validate_point_layer(df, key, x, y)  # reference tools.py:165-169
    meta.validate_crs((df, x), (nodes, nx))   # reference tools.py:172-180
    nn = nearest_neighbor(df, nodes, key=key, x=x, y=y, okey=node_key, ox=nx, oy=ny)
    return _project(nn, sets={x: nx, y: ny}, drop=(node_key, nx, ny, "nn_dist"))


def _snap_post(
    snap_to_streets: bool, street_nodes: DataFrame | None, key: str, x: str, y: str
) -> Callable[[DataFrame], DataFrame]:
    """The ``snap_to_streets`` post-step of donut, locationswap and voronoi:
    raises up front when snapping lacks ``street_nodes`` (node_id, nx,
    ny), and returns the step to apply to the masked frame (identity when
    not snapping)."""
    if not snap_to_streets:
        return lambda out: out
    if street_nodes is None:
        raise ValueError("snap_to_streets=True requires street_nodes (node_id, nx, ny).")
    return lambda out: snap_to_nodes(out, street_nodes, key=key, x=x, y=y)
