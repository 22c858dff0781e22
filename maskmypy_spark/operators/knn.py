"""Exact nearest-neighbor (kNN, k=1) join with ring escalation.

Replaces ``osmnx.nearest_nodes`` (reference ``tools.py:130``,
``masks/street.py:239``) and backs the Voronoi mask's closed form and the
NND statistics (``analysis.py:222-237``).

Algorithm: join probe points to candidates sharing a 3x3 cell neighborhood
at cell size ``cs``; a point's argmin is PROVEN exact when its best distance
is <= cs (everything within cs was examined). Unconverged points escalate to
3x coarser cells — a driver loop over a geometrically shrinking subset
(:func:`escalate.escalate`), each round one Spark job. Deterministic ties:
lexicographic (dist, neighbor key).
"""

from __future__ import annotations

import math
import operator
from itertools import accumulate, repeat

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions import cells
from ..functions.rng import flit
from .distance_join import _core_then_payload, cell_join, dist_sql, explode_pruned_ring
from .escalate import escalate

# Ring rounds before the brute-force fallback; cs triples each round.
MAX_ROUNDS = 12
# A counted residue whose 3x3 ring explode stays within this many rows is
# broadcast next round, so the full neighbor table streams map-side instead
# of re-shuffling + re-sorting per round (at 100 TB that re-shuffle is a
# full pass over the fact table per round).
RESIDUE_BROADCAST_ROWS = 2_000_000
PACK = 1 << 32  # id slot of packed_pick's BIGINT: ids must lie in [0, 2^32)


def _cell_candidates(remaining, others, x, y, ox, oy, cs, salt, pin, on=(),
                     how="inner", cond=None) -> DataFrame:
    """Candidate pairs of one escalation round: ``remaining`` exploded to
    the 3x3 neighbor ring around (x, y), pruned to cells whose min distance
    to the point is <= cs (distance_join.explode_pruned_ring), cell-joined
    to ``others``. The pruning is safe for both escalation variants: a
    neighbor in a pruned cell is farther than cs, so it could never satisfy
    the round's convergence proof (nn_dist <= cs resp. k-th distance <=
    cs) — points whose best candidate lives in a pruned cell escalate, and
    converged winners/top-k lists are within cs, hence in kept cells. Drops
    the corner cells with probability 1 - pi/4 each (~10% fewer candidate
    pairs, measured at sf0.1)."""
    lt = explode_pruned_ring(remaining, x, y, cs, 1, flit(cs))
    rt = others.withColumn("_cell", F.expr(cells.cell_sql(ox, oy, cs)))
    return cell_join(lt, rt, x, y, salt=salt, pin=pin, on=on, how=how, cond=cond)


def packed_pick(cand: DataFrame, key: str, score, oid: str, carry=(), take=()) -> DataFrame:
    """Per-``key`` argmin of (``score``, ``oid``) over the candidate pairs
    ``cand``, as ONE HashAggregate: the engine's single pick aggregate
    (kNN rounds, locationswap, the cosine ANN paths).

    ``min(struct(score, oid, ...))`` would plan a SortAggregate over the
    ENTIRE candidate stream (struct buffers are not hash-aggregable).
    Instead ``_pk = score * 2^32 + oid`` packs the pair into one BIGINT, so
    ``min(_pk)`` hash-aggregates with map-side partials and breaks score
    ties by the smaller ``oid``. Each ``take`` column comes out as
    ``min_by(c, _pk)``: the winning candidate's own value, deterministic
    because ``_pk`` embeds ``oid`` and is unique per candidate pair. Each
    ``carry`` column (constant per key) comes out as ``min(c)``, a plain
    aggregate buffer rather than a grouping key: a double grouping key
    would pay a normalize-NaN/zero wrapper per candidate row and widen the
    hash key. Null-extended rows of a LEFT OUTER candidate join carry a
    null ``_pk``, which min/min_by ignore: an all-null group yields null
    ``take`` columns and a null ``oid``.

    Output: ``key``, the ``carry`` columns, ``_pk`` (read the score back
    as ``_pk DIV PACK``), the ``take`` columns, then the winner's ``oid``
    unpacked as ``_pk % PACK``.

    Preconditions, not checked here (tests/test_plans.py gates the plans):
     - ``key`` is unique per probe row: rows sharing a key merge into one
       hybrid row, each carry column's min taken over both;
     - every ``carry`` column is primitive: a string, binary or struct
       carry makes min() a SortAggregate over the whole candidate stream
       (strip payload first, as distance_join._core_then_payload does);
     - ``score`` is a BIGINT in [0, 2^31) and 0 <= ``oid`` < 2^32, so
       ``_pk`` stays below 2^63 ((2^31-1)*2^32 + (2^32-1) == 2^63-1)."""
    return (
        cand.withColumn("_pk", score * F.lit(PACK) + F.col(oid))
        .groupBy(key)
        .agg(
            *[F.min(c).alias(c) for c in carry],
            F.min("_pk").alias("_pk"),
            *[F.expr(f"min_by({c}, _pk)").alias(c) for c in take],
        )
        .withColumn(oid, F.col("_pk") % F.lit(PACK))
    )


def _argmin_pick_rows(
    cand: DataFrame, d, key: str, cols, okey: str, ox: str, oy: str, max_d: float
) -> DataFrame:
    """Nearest candidate per ``key``: one row of ``cols..., ox, oy, okey``.
    The distance ``d`` enters :func:`packed_pick` quantised as
    ``floor(d * S)`` with ``S = (2^31 - 1) / max_d``, where ``max_d``
    bounds every candidate distance (3*cs covers the 3x3 cell
    neighborhood). Granularity is max_d / 2^31 (~1.4e-9 relative), below
    which two DISTINCT distances tie and break by okey; exact double ties
    quantize equal on both engines, so the (d, okey) oracle order holds
    for any physically distinguishable data. ``nn_dist`` is recomputed
    exactly by the caller, never quantised. Pass ``cols=[key]`` for a bare
    pick; the other ``cols`` ride as carries."""
    s = float((PACK // 2 - 1) / max_d)
    score = F.floor(d * F.lit(s)).cast("long")
    carry = [c for c in cols if c != key]
    return packed_pick(cand, key, score, okey, carry, (ox, oy)).select(*cols, ox, oy, okey)


def _sizes(cs: float) -> list[float]:
    """Cell size of each ring round: cs, then 3x per round (multiplied
    round by round, as the rounds escalate)."""
    return list(accumulate(repeat(3.0, MAX_ROUNDS - 1), operator.mul, initial=cs))


def _bcast(n: int | None, per: int = 9) -> bool:
    """Whether a side COUNTED at ``n`` rows is broadcast: its build rows,
    ``per`` to a counted row, stay within RESIDUE_BROADCAST_ROWS. A
    residue is built as its 3x3 ring explode (9 per row, the case the
    bound was sized on). A neighbor layer ``others`` is never exploded, so
    it counts 1 row per row, or ``salt`` rows when a salted join copies it
    to every salt value; that use of the bound is not separately measured:
    the benchmark's one counted ``others`` (~23k rows) sits far below it."""
    return n is not None and per * n <= RESIDUE_BROADCAST_ROWS


def _pin(bcast_others: bool, n: int | None) -> str:
    """cell_join pin of a round over a residue of ``n`` rows."""
    return "right" if bcast_others else "left" if _bcast(n) else "merge"


def _extent(df: DataFrame, x: str, y: str, group: str | None = None) -> tuple:
    """``(x0, x1, y0, y1, n, g)``: the bounding box and row count of
    ``df``'s points and the number ``g`` of non-empty ``group``s (1 without
    ``group``), in one aggregate job. ``g`` is HyperLogLog's
    approx_count_distinct: exact for a handful of groups, and it needs no
    second exchange. An empty frame (or one with no non-null coordinate)
    reads as the zero box with n = g = 0, never as NULL bounds."""
    g = F.approx_count_distinct(group) if group else F.lit(1)
    row = df.agg(F.min(x), F.max(x), F.min(y), F.max(y), F.count(F.lit(1)), g).collect()[0]
    return (0.0, 0.0, 0.0, 0.0, 0, 0) if None in row[:4] else tuple(row)


def _size_others(others, ox, oy, salt, group=None) -> tuple:
    """``(cs, bcast_others, extent)`` of a kNN call: the one place a call
    chooses its plan, from ONE :func:`_extent` job over ``others``. cs is
    ~3x the expected NN spacing at the density of one ``group`` (under the
    old SortAggregate argmin, tight 1x cells won; with the packed-BIGINT
    hash-aggregate the per-candidate cost is tiny and the round-trip
    overhead of escalation rounds dominates, so 3x cells resolve most
    points in round one and ran ~1.4x faster at bench scale; exactness
    holds at ANY cs, gated by the plan tests). The spacing is the larger of
    sqrt(area / m) and the box's long side over m: on collinear points the
    area is 0, and the first alone would leave cs at the floor, below the
    spacing the 12 tripling rounds can reach. The row count decides the
    rest: an ``others`` COUNTED small by :func:`_bcast` (salt copies
    included) is broadcast to every round and to the fallback (never the
    exploded probe side), and a counted-empty one settles the call with no
    round at all. A box that is not finite (a NaN or infinite coordinate
    in ``others``) sizes no grid, so it raises here rather than as an
    unresolvable cell expression at plan time."""
    ext = x0, x1, y0, y1, n, g = _extent(others, ox, oy, group)
    if not all(map(math.isfinite, ext[:4])):
        raise ValueError(
            f"kNN neighbor layer: coordinates ({ox}, {oy}) must be finite, "
            f"got the extent x [{x0}, {x1}], y [{y0}, {y1}]"
        )
    m = max(n / max(g, 1), 1)
    area = max((x1 - x0) * (y1 - y0), 1e-9)
    cs = 3.0 * max(math.sqrt(area / m), max(x1 - x0, y1 - y0) / m)
    return cs, _bcast(n, max(salt, 1)), ext


def knn_join(
    points: DataFrame,
    others: DataFrame,
    k: int,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    okey: str = "nn_id",
    ox: str = "nn_x",
    oy: str = "nn_y",
    exclude_self: bool = False,
    salt: int = 0,
) -> DataFrame:
    """Exact k-nearest-neighbors join (k rows per point, rank 1..k) by the
    same ring-escalation proof as ``nearest_neighbor``: a point's top-k is
    exact once its k-th best distance is <= the cell size (everything
    within cs was examined — so all k are confirmed at once). Deterministic
    ties by (dist, okey). Per-round top-k is a Window row_number over the
    3x3 candidate neighborhood whose rank<=k filter Catalyst pushes down as
    ``WindowGroupLimit`` — a PARTIAL map-side top-k before the exchange, so
    per-partition sort state is O(k) and the candidate set never enters an
    unbounded sort buffer (plan-gated in tests/test_plans.py alongside the
    cs-independence and salted-equivalence gates, the same guarantees
    ``nearest_neighbor`` carries). ``salt`` scatters hot cells across
    reducers (see ``distance_join.cell_join``). As in ``nearest_neighbor``,
    one extent job over ``others`` chooses the plan and sizes the cells
    (:func:`_size_others`)."""
    cs, bcast_others, ext = _size_others(others, ox, oy, salt)
    sizes = _sizes(cs)
    d = F.expr(dist_sql(x, y, ox, oy))
    xcond = (F.col(okey) != F.col(key)) if exclude_self else None
    out = [key, okey, ox, oy, F.col("_d").alias("nn_dist"), F.col("_rank").alias("rank")]

    def topk(cand: DataFrame) -> DataFrame:
        w = Window.partitionBy(key).orderBy("_d", okey)
        return (
            cand.withColumn("_d", d)
            .withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") <= k)
        )

    def step(remaining, rnd, n):
        cs_r = sizes[rnd]
        t = topk(_cell_candidates(
            remaining, others, x, y, ox, oy, cs_r, salt,
            _pin(bcast_others, n), cond=xcond,
        ))
        # converged iff the point HAS k candidates and its k-th dist <= cs.
        # Both facts come from window aggregates over the SAME (key)
        # partitioning the rank window established (the sort by (key, _d,
        # okey) satisfies the unordered window's requirement), so no
        # per-round groupBy + semi-join re-executes the candidate pipeline
        # for the anti-join's lineage (VERDICT r05 #6).
        wk = Window.partitionBy(key)
        resolved = (
            t.withColumn("_kn", F.count(F.lit(1)).over(wk))
            .withColumn("_kd", F.max("_d").over(wk))
            .where((F.col("_kn") == k) & (F.col("_kd") <= F.lit(float(cs_r))))
        )
        return resolved.select(*out), None

    def fallback(remaining):
        # brute-force the (tiny) unconverged residue
        cand = remaining.crossJoin(F.broadcast(others) if bcast_others else others)
        if exclude_self:
            cand = cand.where(xcond)
        return topk(cand).select(*out)

    if not ext[4]:
        return step(points.select(key, x, y), 0, None)[0].where(F.lit(False))
    return escalate(points.select(key, x, y), step, fallback, MAX_ROUNDS, key=key)


def nearest_neighbor(
    points: DataFrame,
    others: DataFrame,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    okey: str = "nn_id",
    ox: str = "nn_x",
    oy: str = "nn_y",
    exclude_self: bool = False,
    salt: int = 0,
    group: str | None = None,
) -> DataFrame:
    """points + (okey, ox, oy, nn_dist) of each point's exact nearest other.

    ``others`` must already carry columns (okey, ox, oy) disjoint from the
    point columns. ``exclude_self`` skips okey == key pairs (self-join mode).
    ``salt`` scatters hot cells across reducers (see
    ``distance_join.cell_join``).

    ``group`` names a column present in BOTH frames: neighbors are then
    searched within the group only (the column rides every cell join), so
    N independent NN problems share ONE escalation loop — the per-layer
    before/after passes of ``analysis.nnd_delta`` collapse into a single
    run. Contract in group mode: ``key`` and ``okey`` values must be
    globally unique ACROSS groups (compose the group into them), because
    the argmin pick groups by ``key`` alone.

    Payload columns (anything besides key, x, y and the group — image
    bytes, captions) never enter the candidate stream: the escalation runs
    on the (key, x, y[, group]) projection and the payload joins back once
    at the end (distance_join._core_then_payload). Bare frames skip that
    join.

    Every call runs one extent job over ``others`` (:func:`_size_others`):
    its count broadcasts a small ``others`` and ends the call on an empty
    one, and its box sizes the cells (at the density of one non-empty
    ``group``).
    """
    cs, bcast_others, ext = _size_others(others, ox, oy, salt, group)
    sizes = _sizes(cs)
    on = [(group, group)] if group else []
    d = F.expr(dist_sql(x, y, ox, oy))
    xcond = (F.col(okey) != F.col(key)) if exclude_self else None

    def step(remaining, rnd, n):
        cs_r = sizes[rnd]
        # candidate distance this round is < 3*cs (3x3 neighborhood bound).
        # Unbounded rounds: a LEFT OUTER cell join (exclude_self inside the
        # join condition) keeps every probe row, so the pick aggregate's
        # output already IS the marked probe table — no per-round
        # ``remaining JOIN picked`` fact join-back (a full fact shuffle +
        # two sorts per round at 100 TB). Counted-residue broadcast rounds
        # keep the inner + join-back shape: a BroadcastHashJoin cannot
        # build the LEFT side of a LEFT OUTER join, and with a
        # counted-tiny residue the join-back is free.
        how = "inner" if _bcast(n) else "left"
        cand = _cell_candidates(
            remaining, others, x, y, ox, oy, cs_r, salt,
            _pin(bcast_others, n), on, how, xcond,
        )
        if how == "inner":
            picked = _argmin_pick_rows(cand, d, key, [key], okey, ox, oy, 3.0 * cs_r)
            marked = remaining.join(picked, key, "left")
        else:
            marked = _argmin_pick_rows(
                cand, d, key, remaining.columns, okey, ox, oy, 3.0 * cs_r
            )
        nd = F.col("nn_dist")
        return marked.withColumn("nn_dist", d), nd.isNotNull() & (nd <= F.lit(float(cs_r)))

    def fallback(remaining):
        # Brute-force the (tiny) residue; the pack scale must bound ALL pair
        # distances, so take the union-bbox diagonal (a scalar aggregate
        # over the residue, and the call's extent of ``others``, which is
        # never empty here).
        rb = _extent(remaining, x, y)
        if not rb[4]:
            # Degenerate residue: no point has coordinates, so none has a
            # neighbor.
            return None
        diag = math.hypot(
            max(rb[1], ext[1]) - min(rb[0], ext[0]),
            max(rb[3], ext[3]) - min(rb[2], ext[2]),
        ) + 1.0
        oth = others.withColumnRenamed(group, "_og") if group else others
        cand = remaining.crossJoin(F.broadcast(oth) if bcast_others else oth)
        if group:
            cand = cand.where(F.col(group) == F.col("_og")).drop("_og")
        if exclude_self:
            cand = cand.where(xcond)
        picked = _argmin_pick_rows(cand, d, key, [key], okey, ox, oy, diag)
        return remaining.join(picked, key, "inner").withColumn("nn_dist", d)

    def run(probe: DataFrame) -> DataFrame:
        if not ext[4]:
            return step(probe, 0, None)[0].where(F.lit(False))
        return escalate(probe, step, fallback, MAX_ROUNDS)

    return _core_then_payload(points, [key, x, y] + ([group] if group else []), key, run)
