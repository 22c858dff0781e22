"""Location-swap mask — displace each point to a random address point in
the annulus (low, high].

Reference semantics: /root/reference/maskmypy/masks/locationswap.py:10-122 —
buffer set-difference => candidates at ``low < dist <= high`` (:101-111);
uniform pick (:113); no candidate => point kept unchanged and an UNMASKED
1/0 column marks it (:114-116 + tools.py:136-147). We always emit the
UNMASKED column (fixed schema; the reference adds it only when non-empty —
documented divergence).

Execution: one cell-indexed annulus join + a map-side partial min-aggregate.
The "random choice" is argmin over candidates of a per-(point, address)
hash uniform (functions/masksql.py:swap_u) — equivalent in distribution to
the reference's rng.choice, but order- and partitioning-independent, and
expressible as an exact SQL oracle.

Scale note: the pick is :func:`knn.packed_pick` with the integer hash h2
as the score (h2 < 2^31 is the integer the uniform divides from; u =
h2 / 2^31 is monotone in h2, so (h2, aid) lexicographic == the oracle's
ORDER BY u, aid): one HashAggregate with map-side partials whose
``min_by`` takes return the winner's coordinates with no join back to the
address dimension. Precondition: 0 <= aid < 2^32.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import rng
from ..functions.masksql import _project
from .distance_join import _core_then_payload, distance_join
from .knn import packed_pick
from .snap import _snap_post


def locationswap(
    df: DataFrame,
    low: float,
    high: float,
    address: DataFrame,
    seed: int | None = None,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    akey: str = "aid",
    ax: str = "ax",
    ay: str = "ay",
    salt: int = 0,
    snap_to_streets: bool = False,
    street_nodes: DataFrame | None = None,
) -> DataFrame:
    if low >= high:
        raise ValueError("Minimum displacement distance is larger than or equal to maximum.")
    seed = rng.gen_seed() if not seed else seed
    post = _snap_post(snap_to_streets, street_nodes, key, x, y)
    from ..functions import meta

    meta.validate_point_layer(df, key, x, y)      # reference tools.py:165-169
    meta.validate_point_layer(address, akey, ax, ay)
    meta.validate_crs((df, x), (address, ax))     # reference tools.py:172-180

    # cs = high/2 roughly halves candidate pairs vs the 1-ring cs=high
    # default (pi*(r + 0.6cs)² candidate area shrinks toward the disk), at
    # the cost of a (2*ceil(r/cs)+1)²-cell probe explode — measured optimum
    # at bench scale (OPTIMIZATION_r06.md, q_locationswap: the 1-JVM cs
    # sweep 500/250/167).
    from ..functions.masksql import swap_pick_parts

    # Pre-staged pick-key halves: each side's two-prime fold is a projection
    # over ITS OWN table (points before the ring explode, addresses before
    # the join), so the per-candidate-pair key build drops from four
    # mod-mul folds to one BIGINT add (exact and order-independent in
    # int64 — bit-identical to the inline swap_pick_key the oracle keeps).
    pp, ap = swap_pick_parts(key, akey)

    def swap(pts: DataFrame) -> DataFrame:
        # ONE shape: a LEFT OUTER candidate join (annulus predicate inside
        # the join condition, so zero-candidate points survive
        # null-extended) + ONE pick aggregate keyed by ``key``, run on the
        # bare (key, x, y) frame; payload columns join back once afterwards
        # (distance_join._core_then_payload). The annulus runs in SQUARED
        # space (distance_join(annulus_low=), sq_threshold_le):
        # bit-identical pair set, no sqrt per candidate pair — the old
        # post-join ``where(dist > low)`` was pushed into the join condition
        # by Catalyst and evaluated the sqrt TWICE per candidate
        # (join-condition codegen has no common-subexpression elimination).
        cand = distance_join(
            _project(pts, sets={"_swp": pp}),
            address.selectExpr(akey, ax, ay, f"{ap} AS _swa"),
            radius=high,
            lx=x, ly=y, rx=ax, ry=ay, salt=salt, cs=float(high) / 2.0,
            annulus_low=float(low),
            how="left",
        )
        # Micro-staged hash (rng.staged, as the donut stages), in the
        # Spark-side AND dialect: the inlined one-expression rendering blows
        # whole-stage codegen's method limit on the joined row.
        *st, (h2, e) = rng.staged("_h2", "_swp + _swa", rng.TAG_SWAP, seed, fast=True, unit=False)
        cand = _project(cand, st, {h2: e})
        # (x, y) are constant per key (unique row keys): packed_pick carries
        # them. A null-extended probe row has null (ax, ay), so a point with
        # no candidate keeps its location and gets UNMASKED=1.
        return _project(
            packed_pick(cand, key, F.col(h2), akey, carry=(x, y), take=(ax, ay)),
            sets={
                x: f"coalesce({ax}, {x})", y: f"coalesce({ay}, {y})",
                "UNMASKED": f"CASE WHEN {ax} IS NULL THEN 1 ELSE 0 END",
            },
            drop=("_pk", ax, ay, akey),
        )

    # snap: reference masks/locationswap.py:73-74
    return post(_core_then_payload(df, [key, x, y], key, swap))
