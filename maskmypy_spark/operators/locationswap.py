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

Scale note: the pick is ``min`` over ONE packed BIGINT ``h2 * 2^32 + aid``
(h2 < 2^31 is the integer hash the uniform divides from; u = h2 / 2^31 is
monotone in h2, so (h2, aid) lexicographic == the oracle's ORDER BY u, aid).
``min_by(ax, pk)`` / ``min_by(ay, pk)`` ride the same packed BIGINT in the
same HashAggregate with map-side partials (the earlier ``min(struct(...))``
formulation forced a SortAggregate that sorted the entire exploded
candidate set by pid, ~50x slower at bench scale; the earlier min+join-back
re-joined the address dimension per query). Precondition: 0 <= aid < 2^32
(packed key must stay < 2^63; (2^31-1)*2^32 + (2^32-1) == 2^63-1 exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import rng
from .distance_join import _core_then_payload, distance_join


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
    if snap_to_streets and street_nodes is None:
        raise ValueError("snap_to_streets=True requires street_nodes (node_id, nx, ny).")
    from ..functions import meta

    meta.validate_point_layer(df, key, x, y)      # reference tools.py:165-169
    meta.validate_point_layer(address, akey, ax, ay)
    meta.validate_crs((df, x), (address, ax))     # reference tools.py:172-180

    # Probe-side explode (explode_side="left"): the address dimension stays
    # ONE row per cell, so a planner/explicit broadcast builds the minimal
    # hash relation and — at scale — a stored/bucketed address table scans
    # exchange-free while only the exploded probe side moves (the shape
    # measured fastest and most stable at 32 cores: BENCH/NOTES.md,
    # "Bucketed-dimension experiment").
    # Exploding the dimension instead multiplies the build side ring² times.
    # cs = high/2 roughly halves candidate pairs vs the 1-ring cs=high
    # default (pi*(r + 0.6cs)² candidate area shrinks toward the disk), at
    # the cost of a (2*ceil(r/cs)+1)²-cell probe explode — measured optimum
    # at bench scale (OPTIMIZATION_r06.md, q_locationswap: the 1-JVM cs
    # sweep 500/250/167).
    from ..functions import rng as _rng
    from ..functions.masksql import swap_pick_parts

    # Pre-staged pick-key halves: each side's two-prime fold is a projection
    # over ITS OWN table (points before the ring explode, addresses before
    # the join), so the per-candidate-pair key build drops from four
    # mod-mul folds to one BIGINT add (exact and order-independent in
    # int64 — bit-identical to the inline swap_pick_key the oracle keeps).
    pp, ap = swap_pick_parts(key, akey)
    PACK = 1 << 32
    _A = _rng._and_m

    def swap(pts: DataFrame) -> DataFrame:
        # ONE shape: a LEFT OUTER candidate join (annulus predicate inside
        # the join condition, so zero-candidate points survive
        # null-extended) + ONE aggregate keyed by ``key``, run on the bare
        # (key, x, y) frame; payload columns join back once afterwards
        # (distance_join._core_then_payload). The annulus runs in SQUARED
        # space (distance_join(annulus_low=), sq_threshold_le):
        # bit-identical pair set, no sqrt per candidate pair — the old
        # post-join ``where(dist > low)`` was pushed into the join condition
        # by Catalyst and evaluated the sqrt TWICE per candidate
        # (join-condition codegen has no common-subexpression elimination).
        cand = distance_join(
            pts.withColumn("_swp", F.expr(pp)),
            address.select(akey, ax, ay).withColumn("_swa", F.expr(ap)),
            radius=high,
            lx=x, ly=y, rx=ax, ry=ay, salt=salt, cs=float(high) / 2.0,
            explode_side="left",
            annulus_low=float(low),
            how="left",
        )
        # Micro-staged hash (same trick as the donut stages): the inlined
        # one-expression rendering blows whole-stage codegen's method limit
        # on the joined row (interpreted fallback is ~30x slower on the hot
        # join); three tiny columns execute the identical arithmetic, in the
        # Spark-side AND dialect (rng._and_m — bit-equal, cheaper codegen).
        cand = (
            cand.withColumn(
                "_t", F.expr(_rng.t_sql("_swp + _swa", _rng.TAG_SWAP, seed, fast=True))
            )
            .withColumn(
                "_g",
                F.expr(_A(f"{_A('_t * _t')} + {_A(f'_t * {_rng.B1}')} + {_rng.C1}")),
            )
            .withColumn(
                "_h2",
                F.expr(_A(f"{_A('_g * _g')} + {_A(f'_g * {_rng.B2}')} + {_rng.C2}")),
            )
        )
        # min_by rides the SAME packed-BIGINT ordering key in the SAME
        # HashAggregate (partial_min_by map-side combines like partial_min),
        # so the winner's coordinates come out of the pick aggregate itself
        # — no equi-join back to the address dimension (one broadcast build
        # + probe per query; a full dimension join at 100 TB). The packed
        # key is unique per (point, address) candidate (it embeds akey), so
        # min_by is deterministic; the coordinates are the candidate row's
        # own ax/ay. (x, y) are constant per key (unique row keys), so they
        # come out as min() AGGREGATES over equal values (bit-identical)
        # rather than grouping keys — double grouping keys pay a
        # normalize-NaN/zero wrapper PER PAIR ROW on the ~250M-row candidate
        # stream and triple the hash-table key width; as plain buffers they
        # cost one compare per row and the grouping key stays one BIGINT.
        # Null-extended probe rows carry a null _pk, which min_by ignores
        # (all-null group => null swap => UNMASKED=1).
        return (
            cand.withColumn("_pk", F.col("_h2") * F.lit(PACK) + F.col(akey))
            .groupBy(key)
            .agg(
                F.min(x).alias(x),
                F.min(y).alias(y),
                F.expr(f"min_by({ax}, _pk)").alias("_swap_x"),
                F.expr(f"min_by({ay}, _pk)").alias("_swap_y"),
            )
            .withColumn("UNMASKED", F.when(F.col("_swap_x").isNull(), 1).otherwise(0))
            .withColumn(x, F.coalesce("_swap_x", x))
            .withColumn(y, F.coalesce("_swap_y", y))
            .drop("_swap_x", "_swap_y")
        )

    out = _core_then_payload(df, [key, x, y], key, swap)
    if snap_to_streets:  # reference masks/locationswap.py:73-74
        from .snap import snap_to_nodes

        out = snap_to_nodes(out, street_nodes, key=key, x=x, y=y)
    return out
