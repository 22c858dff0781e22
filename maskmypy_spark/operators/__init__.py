"""Mask + spatial-join operators (SURVEY §2.1 / §2.6)."""

from .distance_join import distance_join  # noqa: F401
from .donut import donut  # noqa: F401
from .knn import nearest_neighbor  # noqa: F401
from .locationswap import locationswap  # noqa: F401
from .pip import pip_join, polygon_edges  # noqa: F401
from .snap import snap_to_nodes  # noqa: F401
from .street import street, street_k  # noqa: F401
from .suppress import suppress  # noqa: F401
from .voronoi import voronoi  # noqa: F401
