"""Cell-indexed distance (radius) join.

Replaces geopandas' R-tree ``sjoin`` on buffers (reference
``masks/locationswap.py:105-111``, ``analysis.py:590``) with a shuffle
equi-join on grid cells: one side explodes a neighbor ring sized to
guarantee every pair within ``radius`` meets in some cell; the exact
distance predicate then drops false positives JVM-side (whole-stage
codegen — no Python anywhere).

:func:`cell_join` is the one cell join of the engine: ``distance_join``'s
per-row-radius and fixed-radius paths (and through them locationswap,
address k-anonymity and the streaming k-verify), every kNN escalation round
(``knn.py``) and the polygon bbox joins (``pip.py``) call it. It owns the
``_cell`` equi-key, the hot-cell salt (``_sk``: probe rows scatter over
``salt`` sub-keys, the build side replicates once per sub-key), the
physical pin (broadcast the build side, broadcast a counted-small probe
side, or a sort-merge join for fact x fact) and the join condition: the
equi-keys plus the exact pair predicate, for inner or left outer joins.

Scale design:
 - shuffle key = cell id; AQE skew-join splits hot cells at runtime, and
   ``salt`` adds explicit pre-salting for known-hot data (north rule).
 - ``broadcast_right=True`` for a small build side the caller declares
   (the streaming k-verify's address table) avoids the shuffle entirely;
   containers go through ``pip`` and road nodes through ``knn``, whose
   extent job counts them.
 - cell size defaults to the radius => ring = 1 => 9-cell expansion, the
   sweet spot between shuffle fan-out (9x) and per-cell candidate volume.
"""

from __future__ import annotations

import math
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..functions import cells
from ..functions.masksql import _project
from ..functions.rng import flit


def dist_sql(x1: str, y1: str, x2: str, y2: str) -> str:
    """Euclidean distance, written identically in engine and oracle SQL so
    IEEE-754 results are bit-equal (analysis.py:104 semantics)."""
    return (
        f"sqrt((({x1}) - ({x2})) * (({x1}) - ({x2}))"
        f" + (({y1}) - ({y2})) * (({y1}) - ({y2})))"
    )


def sq_dist_sql(x1: str, y1: str, x2: str, y2: str) -> str:
    """Squared Euclidean distance — the radicand of :func:`dist_sql`,
    rendered with the identical sub-expressions so the doubles match."""
    return (
        f"((({x1}) - ({x2})) * (({x1}) - ({x2}))"
        f" + (({y1}) - ({y2})) * (({y1}) - ({y2})))"
    )


def sq_threshold_le(r: float) -> float:
    """Largest double ``s >= 0`` with correctly-rounded ``sqrt(s) <= r``.

    IEEE-754 sqrt is monotone and correctly rounded (guaranteed for both
    JVM ``Math.sqrt`` and C ``libm``/``numpy``/DuckDB), so the set
    ``{s >= 0 : sqrt(s) <= r}`` is downward-closed and this value is its
    maximum — hence ``sqrt(s) <= r  <=>  s <= sq_threshold_le(r)`` and
    ``sqrt(s) > r  <=>  s > sq_threshold_le(r)`` hold for EVERY double
    ``s >= 0``, on every engine. Radius / annulus predicates over literal
    radii can therefore run entirely in squared space — no sqrt per
    candidate pair in the join condition (the oracle keeps its sqrt
    formulation; the pair sets are provably identical — property-tested
    against a +-40-ulp boundary scan in tests/test_plans.py)."""
    if r < 0.0:
        return -1.0
    s = r * r
    while s > 0.0 and math.sqrt(s) > r:
        s = math.nextafter(s, -math.inf)
    while math.sqrt(math.nextafter(s, math.inf)) <= r:
        s = math.nextafter(s, math.inf)
    return s


def explode_pruned_ring(
    df: DataFrame,
    x: str,
    y: str,
    cs: float,
    max_n: int,
    r_sql: str,
    n_sql: str | None = None,
) -> DataFrame:
    """``df`` + ``_cell``, exploded to the neighbor-ring cells around (x, y)
    whose minimum distance to the point is provably <= the radius ``r_sql``.

    The square (2n+1)² ring guarantees coverage but over-fetches: a disk of
    radius r covers ~pi/4 of its bounding square, and when r is just above
    a cell multiple the square ring fetches the next full shell while the
    disk clips only its corners. Per candidate cell (dx, dy), the exact
    min distance from the point to the cell's closed region is
    sqrt(mx² + my²) with mx = dx>0 ? dx*cs - fx : dx<0 ? (-dx-1)*cs + fx : 0
    (fx = x - floor(x/cs)*cs, the point's offset inside its own cell);
    cells with mx² + my² > r² cannot contain a within-r partner, so
    dropping them can never change the post-distance-filter pair set. The
    comparison carries 1e-9 relative + absolute slack so float rounding in
    the bound can only ever KEEP a boundary cell, never prune one. Measured
    at sf0.1 this cuts candidate pairs ~1.8x on the per-row-radius
    k-verification ring (small radii prune whole shells) and ~10-20% on
    fixed rings (corner cells only).

    Runs as WHOLE-STAGE CODEGEN: explode a LITERAL index array
    0..(2*max_n+1)²-1 (a constant — no per-row array allocation), derive
    (dx, dy) from the index, and apply the bound plus the per-row ring bound
    |dx|,|dy| <= n as ordinary codegen filters pipelined into the Generate.
    A higher-order-function spelling (transform/filter over sequence) is
    CodegenFallback, evaluated interpreted per row with nested array
    allocation; measured 2x slower at sf0.1 (0.69 vs 0.35 s for the
    k-verify ring explode).

    ``max_n`` must bound every row's ring (``ceil(r/cs)``); when ``n_sql``
    (a per-row ring count) is given, rows violating the bound raise via an
    ``assert_true`` folded into the filter — loud, never silently missing
    ring cells (the engine callers derive max_n from the declared/computed
    max radius, so the guard never fires on contract inputs)."""
    w = 2 * max_n + 1
    c = flit(cs)
    dx = f"(_rgi DIV {w} - {max_n})"
    dy = f"(_rgi % {w} - {max_n})"
    # Per point, before the explode: the in-cell offsets, the base cell,
    # the slackened squared radius and (per-row rings) the guarded ring
    # count, so each exploded row runs only the short filter below.
    pre = {
        "_fx": f"(({x}) - floor(({x}) / {c}) * {c})",
        "_fy": f"(({y}) - floor(({y}) / {c}) * {c})",
        "_cb": cells.cell_sql(x, y, cs),
        "_rr": f"(({r_sql}) * ({r_sql}) * 1.000000001E0 + 1.0E-9)",
    }

    def gap(d: str, f: str) -> str:
        return (
            f"CASE WHEN {d} > 0 THEN CAST({d} AS DOUBLE) * {c} - {f}"
            f" WHEN {d} < 0 THEN CAST(-{d} - 1 AS DOUBLE) * {c} + {f}"
            f" ELSE CAST(0.0 AS DOUBLE) END"
        )

    mx, my = gap(dx, "_fx"), gap(dy, "_fy")
    keep = f"({mx}) * ({mx}) + ({my}) * ({my}) <= _rr"
    if n_sql is not None:
        pre["_rn"] = (
            f"({n_sql}) + coalesce(CAST(assert_true(({n_sql}) <= {max_n}, "
            f"'distance_join: per-row ring exceeds the declared max radius "
            f"(raise radius= to the true per-row maximum)') AS INT), 0)"
        )
        keep = f"abs({dx}) <= _rn AND abs({dy}) <= _rn AND {keep}"
    idx = ", ".join(map(str, range(w * w)))
    out = _project(df, sets=pre).withColumn("_rgi", F.expr(f"explode(array({idx}))"))
    return _project(
        out.where(keep),
        sets={"_cell": f"_cb + {dx} * {cells.CELL_K} + {dy}"},
        drop=("_rgi", *pre),
    )


def cell_join(
    lt: DataFrame,
    rt: DataFrame,
    x: str,
    y: str,
    *,
    salt: int = 0,
    pin: str | None = None,
    on=(),
    how: str = "inner",
    cond=None,
) -> DataFrame:
    """Join two ``_cell``-tagged sides on the cell id: probe side ``lt``
    (coordinates ``x``, ``y``), build side ``rt``.

    ``salt > 1`` scatters hot cells: each probe row hashes its (x, y) into
    one of ``salt`` sub-keys ``_sk`` and the build side replicates once per
    sub-key, so one dense cluster (a city) spreads over ``salt`` reducers
    instead of one; AQE skew-join remains the adaptive backstop. ``on``
    adds (left_col, right_col) equality keys next to the cell, e.g. a
    group or simulation id that keeps co-grouped joins partition-pruned.
    ``cond`` (the exact pair predicate) joins the equi-keys INSIDE the join
    condition: for ``how='left'`` every probe row then survives,
    null-extended when no cell-mate passes it (a post-join filter would drop
    those rows too); for inner joins it is the same plan as a filter.

    ``pin`` picks the physical join. 'right' broadcasts a dimension build
    side: a kNN ``others`` layer that the call's extent job COUNTED under
    knn.RESIDUE_BROADCAST_ROWS, or the one ``distance_join`` caller that
    declares its side small (``broadcast_right``: ``k_verify_stream``).
    'left' broadcasts a probe side the caller has COUNTED small (a kNN
    residue counted on its round's checkpoint, never a planner estimate),
    so the build side streams map-side instead of re-shuffling.
    'merge' pins the shuffled sort-merge join for fact x fact joins:
    Catalyst's sizeInBytes ignores the ring explode, so a mid-size exploded
    side sneaks under the 64 MB auto-broadcast threshold and the planner
    builds a hash relation from it through the driver (the r4 q_voronoi_nn
    regression); SMJ also beats shuffled-hash ~2.5x here (round 3). None
    leaves the choice to the planner.

    Output: the probe columns then the build columns, without ``_cell``,
    ``_sk`` and the build side's copy of any same-named key."""
    # The build side's copy of a same-named ``on`` key joins under a private
    # name: when both sides derive from one frame (nnd_delta's group
    # column) the copies share one attribute, and ``rt[col]`` could bind,
    # or drop, the probe side's copy instead.
    dup = {rc: "_r" + rc for lc, rc in on if lc == rc}
    if dup:
        rt = rt.withColumnsRenamed(dup)
    keys = [("_cell", "_cell"), *[(lc, dup.get(rc, rc)) for lc, rc in on]]
    if salt > 1:
        lt = lt.withColumn("_sk", (F.xxhash64(x, y) % salt + salt) % salt)
        rt = rt.withColumn("_sk", F.expr(f"explode(array({', '.join(map(str, range(salt)))}))"))
        keys.insert(1, ("_sk", "_sk"))
    if pin == "right":
        rt = F.broadcast(rt)
    elif pin == "left":
        lt = F.broadcast(lt)
    elif pin == "merge":
        lt = lt.hint("merge")
    jc = reduce(lambda p, q: p & q, [lt[lc] == rt[rc] for lc, rc in keys])
    j = lt.join(rt, jc if cond is None else jc & cond, how)
    return j.drop("_cell", "_sk", *dup.values())  # by name: both sides' copies


def _explode_box(df: DataFrame, cs: float, pad: float = 0.0) -> DataFrame:
    """``df`` + ``_cell``, exploded to every cell its box (columns xmin,
    ymin, xmax, ymax), grown by ``pad`` on each side, covers: the build side
    of a bbox cell join whose probe rows carry their single cell."""
    c, p = flit(float(cs)), flit(float(pad))

    def span(lo: str, hi: str) -> str:
        return (
            f"sequence(CAST(floor(({lo} - {p}) / {c}) AS BIGINT), "
            f"CAST(floor(({hi} + {p}) / {c}) AS BIGINT))"
        )

    cell_list = (
        f"flatten(transform({span('xmin', 'xmax')}, ix -> "
        f"transform({span('ymin', 'ymax')}, iy -> "
        f"(ix + {cells.CELL_OFF}) * {cells.CELL_K} + iy + {cells.CELL_OFF})))"
    )
    return df.withColumn("_cell", F.explode(F.expr(cell_list)))


def _core_then_payload(
    df: DataFrame, core: list[str], key: str, run: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """The payload rule of the point operators: ``run`` sees only ``df``'s
    ``core`` columns (key, coordinates, radius), and every other column
    joins back ONCE on ``key`` at the end. The result keeps ``df``'s column
    order (core columns as ``run`` returns them, minus any it consumed),
    then the columns ``run`` adds. Payload (captions, image bytes) thus
    never rides a candidate stream, where a string or binary ``min()``
    carry would plan a SortAggregate. A bare frame goes to ``run``
    untouched, with no join."""
    payload = [c for c in df.columns if c not in core]
    if not payload:
        return run(df)
    out = run(df.select(*core))
    return df.select(key, *payload).join(out, key).select(
        *[c for c in df.columns if c in payload or c in out.columns],
        *[c for c in out.columns if c not in df.columns],
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    lx: str = "x",
    ly: str = "y",
    rx: str = "ax",
    ry: str = "ay",
    cs: float | None = None,
    broadcast_right: bool = False,
    salt: int = 0,
    extra_on: list[tuple[str, str]] | None = None,
    left_radius_col: str | None = None,
    how: str = "inner",
    annulus_low: float | None = None,
) -> DataFrame:
    """All (left, right) pairs with distance <= radius.

    Column names must be disjoint between the two sides (the engine's
    internal callers guarantee this). Adds ``dist``. ``extra_on`` adds
    (left_col, right_col) equality keys to the shuffle key — e.g. a
    simulation id, so co-grouped joins stay partition-pruned.

    The LEFT (probe) side carries the neighbor-ring expansion and the right
    side stays ONE row per cell: a dimension (addresses, nodes) then builds
    the minimal hash relation while only the exploded probe side moves. A
    self-join (Ripley's K) is symmetric, so the side makes no difference
    there.

    ``left_radius_col`` switches to the PER-ROW-radius variant (the
    k-verification shape): the join predicate becomes ``dist <=
    left[left_radius_col]`` and the ring is ADAPTIVE, sized to each row's
    own radius — a small-radius point probes 1 cell, a max-radius point
    (2*ceil(r/cs)+1)². At the default ``cs = radius / 2`` this tracks each
    point's true disk instead of the global max, cutting candidate volume
    ~1.4x on uniform-radius workloads (measured at sf0.1) and more when
    radii are skewed small. ``radius`` only sizes the default cs (pass the
    TYPICAL max); rows whose radius exceeds it are still found exactly —
    the ring is per-row. ``annulus_low`` (fixed-radius path) additionally
    drops pairs with ``dist <= annulus_low`` — evaluated, like the radius
    bound, entirely in SQUARED space via :func:`sq_threshold_le` (pair set
    bit-identical to the sqrt formulation, but no sqrt per candidate pair;
    ``dist`` is still emitted and prunes away when unused). ``how='left'``
    moves the radius/annulus predicate INTO the join condition so every
    probe row survives (right side null when no partner) — the one plan
    shape of locationswap, analysis.k_anonymity_address and
    streaming.k_verify_stream: a single aggregate over the pair stream,
    with no join back to the probe table.
    """
    per_row = left_radius_col is not None
    if annulus_low is not None and per_row:
        raise ValueError("annulus_low applies to the fixed-radius path only.")
    cs = float(cs or (radius / 2.0 if per_row else radius))
    ring = cells.ring_for_radius(radius, cs)
    sq = sq_dist_sql(lx, ly, rx, ry)
    if per_row:
        r = left_radius_col
        lt = explode_pruned_ring(
            left, lx, ly, cs, ring, r,
            n_sql=f"CAST(ceil(({r}) / {flit(cs)}) AS BIGINT)",
        )
        # Per-row-radius predicate via an exact BAND: sq <= r^2*(1-2^-48)
        # is provably within (true sqrt <= r(1 - 2^-49) even after the
        # three roundings, so the correctly-rounded sqrt stays < r);
        # sq > r^2*(1+2^-48) is provably outside; only the few-ulp band
        # between them ever evaluates the sqrt (And/Or codegen
        # short-circuits). Row-for-row identical to ``sqrt(sq) <= r`` for
        # every finite radius with r^2 finite — the operator's domain.
        # The band bounds are per-probe-row projections (2 multiplies)
        # computed once before the pair stream.
        lt = _project(lt, sets={
            "_rlo": f"({r}) * ({r}) * {flit(1.0 - 2.0 ** -48)}",
            "_rhi": f"({r}) * ({r}) * {flit(1.0 + 2.0 ** -48)}",
        })
        pred = (
            f"(({sq}) <= _rlo OR (({sq}) <= _rhi AND "
            f"{dist_sql(lx, ly, rx, ry)} <= ({r})))"
        )
    else:
        # Radius (and optional annulus) predicate in SQUARED space: bit-equal
        # pair set to the sqrt formulation (sq_threshold_le proof above), one
        # multiply-add chain instead of 1-2 sqrt calls per candidate pair.
        pred = f"({sq}) <= {flit(sq_threshold_le(float(radius)))}"
        if annulus_low is not None:
            pred = f"({pred} AND ({sq}) > {flit(sq_threshold_le(float(annulus_low)))})"
        lt = explode_pruned_ring(left, lx, ly, cs, ring, flit(radius))
    rt = right.withColumn("_cell", F.expr(cells.cell_sql(rx, ry, cs)))
    j = cell_join(
        lt, rt, lx, ly, salt=salt, pin="right" if broadcast_right else None,
        on=extra_on or (), how=how, cond=F.expr(pred),
    )
    return _project(j, sets={"dist": dist_sql(lx, ly, rx, ry)}, drop=("_rlo", "_rhi"))
