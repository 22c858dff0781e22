"""Privacy / information-loss analytics (reference analysis.py + tools.py).

Every metric is a declarative DataFrame plan; the only Python-side kernel is
the exact circle–polygon clip inside polygon k-anonymity (Arrow-batched,
vectorized numpy — reference uses shapely buffers + a double loop,
analysis.py:524-539).

Rounding matches the reference digit-for-digit: 6 dp distances
(analysis.py:215-218, :262, :285), 3 dp satisfaction (:169), 2 dp k med/mean
(:192-193).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .functions import geometry
from .functions.masksql import _project
from .operators.distance_join import _core_then_payload, dist_sql, distance_join
from .operators.escalate import materialize
from .operators.knn import _extent, nearest_neighbor
from .operators.pip import _bbox_cols, _bbox_join

SENS_PREFIX = "_s_"


def displacement(
    sensitive: DataFrame,
    candidate: DataFrame,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    col: str = "_distance",
) -> DataFrame:
    """candidate + per-row distance to its original location
    (reference analysis.py:82-105; index alignment => equi-join on key).

    This is the GENERAL form (any two tables). When the caller masks and
    verifies in ONE pipeline, prefer :func:`with_original` +
    :func:`displacement_from_payload` — originals ride through the mask as
    payload columns and the radius is a pure projection, skipping this
    join entirely (a full-fact-table shuffle at the 100 TB target)."""
    return displacement_from_payload(
        _with_sensitive(sensitive, candidate, key, x, y), x, y,
        SENS_PREFIX + x, SENS_PREFIX + y, col,
    )


def _with_sensitive(
    sensitive: DataFrame, candidate: DataFrame, key: str, x: str, y: str
) -> DataFrame:
    """candidate + the sensitive coordinates (``SENS_PREFIX`` + x, y),
    joined on key: the one displacement join."""
    s = sensitive.select(
        key, F.col(x).alias(SENS_PREFIX + x), F.col(y).alias(SENS_PREFIX + y)
    )
    return candidate.join(s, key)


def with_original(
    df: DataFrame, x: str = "x", y: str = "y",
    ox: str = "_orig_x", oy: str = "_orig_y",
) -> DataFrame:
    """Copy the coordinates into payload columns BEFORE masking, so the
    masked output still carries the originals (masks pass payload through
    untouched) and displacement needs no join."""
    return _project(df, sets={ox: x, oy: y})


def displacement_from_payload(
    masked: DataFrame, x: str = "x", y: str = "y",
    ox: str = "_orig_x", oy: str = "_orig_y",
    col: str = "_distance", drop_original: bool = True,
) -> DataFrame:
    """Join-free displacement: per-row distance masked vs the original
    coordinates carried as payload by :func:`with_original`. Identical
    values to :func:`displacement`, zero shuffle."""
    return _project(
        masked, sets={col: dist_sql(x, y, ox, oy)}, drop=(ox, oy) if drop_original else ()
    )


# Metric column lists, shared by the one-metric public functions below and
# evaluate()'s single aggregate jobs.
def _displacement_stats(col: str) -> list[Column]:
    return [
        F.round(F.min(col), 6).alias("displacement_min"),
        F.round(F.max(col), 6).alias("displacement_max"),
        F.round(F.median(col), 6).alias("displacement_med"),
        F.round(F.avg(col), 6).alias("displacement_mean"),
    ]


def _k_stats(col: str) -> list[Column]:
    return [
        F.min(col).cast("bigint").alias("k_min"),
        F.max(col).cast("bigint").alias("k_max"),
        F.round(F.median(F.col(col).cast("double")), 2).alias("k_med"),
        F.round(F.avg(col), 2).alias("k_mean"),
    ]


def _k_satisfaction_stat(min_k: int, col: str) -> Column:
    return F.round(
        F.sum(F.when(F.col(col) >= min_k, 1).otherwise(0)) / F.count(col), 3
    ).alias(f"k_satisfaction_{min_k}")


def summarize_displacement(df: DataFrame, col: str = "_distance") -> DataFrame:
    """One-row summary (analysis.py:197-219): min/max/med/mean @ 6 dp."""
    return df.agg(*_displacement_stats(col))


def summarize_k(df: DataFrame, col: str = "k_anonymity") -> DataFrame:
    """analysis.py:172-194: int min/max, 2-dp median/mean."""
    return df.agg(*_k_stats(col))


def k_satisfaction(df: DataFrame, min_k: int, col: str = "k_anonymity") -> DataFrame:
    """analysis.py:150-169: share of rows with k >= min_k, 3 dp."""
    return df.agg(_k_satisfaction_stat(min_k, col))


def k_satisfaction_value(df: DataFrame, min_k: int, col: str = "k_anonymity") -> float:
    return float(k_satisfaction(df, min_k, col).collect()[0][0])


def central_drift(
    sensitive: DataFrame, candidate: DataFrame, x: str = "x", y: str = "y"
) -> DataFrame:
    """Distance between the mean centers (analysis.py:266-285), 6 dp."""
    a = sensitive.agg(F.avg(x).alias("ax"), F.avg(y).alias("ay"))
    b = candidate.agg(F.avg(x).alias("bx"), F.avg(y).alias("by"))
    return a.crossJoin(b).select(
        F.round(F.expr(dist_sql("ax", "ay", "bx", "by")), 6).alias("central_drift")
    )


def nnd(df: DataFrame, key: str = "pid", x: str = "x", y: str = "y") -> DataFrame:
    """Nearest-neighbor-distance stats (analysis.py:222-237) via the exact
    kNN self-join — distributed replacement for pointpats.PointPattern."""
    others = df.select(F.col(key).alias("_nk"), F.col(x).alias("_nx"), F.col(y).alias("_ny"))
    nn = nearest_neighbor(
        df.select(key, x, y), others, key=key, x=x, y=y,
        okey="_nk", ox="_nx", oy="_ny", exclude_self=True,
    )
    return nn.agg(
        F.min("nn_dist").alias("nnd_min"),
        F.max("nn_dist").alias("nnd_max"),
        F.avg("nn_dist").alias("nnd_mean"),
    )


def nnd_delta(
    sensitive: DataFrame, candidate: DataFrame, key: str = "pid",
    x: str = "x", y: str = "y",
) -> DataFrame:
    """after - before of each NND stat, 6 dp (analysis.py:240-263).

    FUSED (VERDICT r03 next #8): both layers ride ONE group-aware NN
    self-join (``nearest_neighbor(group="_side")`` — the side column joins
    alongside the cell key, so sides never mix while sharing the escalation
    loop's rounds and checkpoints), and the six before/after stats come out
    of ONE conditional aggregate. Coordinates are untouched, so values are
    bit-identical to two independent :func:`nnd` runs. Composite row ids
    (side * 2^31 + key) satisfy the group-mode global-uniqueness contract;
    this requires key < 2^31 (re-key wider ids first — half the headroom of
    the ungrouped okey bound). The bound is enforced at runtime: a key
    outside [0, 2^31) raises inside the projection (``assert_true`` folded
    into the uid expression — no extra job) instead of silently colliding
    across sides. nearest_neighbor sizes the cells from its one extent job
    over BOTH layers, at the density of one non-empty layer (the union's
    count over its number of non-empty sides), so an empty layer costs no
    rounds and two full layers keep one layer's spacing."""
    k = F.col(key)
    bound_ok = (k >= 0) & (k < F.lit(1 << 31))
    guard = F.coalesce(
        F.assert_true(
            bound_ok,
            F.concat(
                F.lit("nnd_delta: key out of [0, 2^31) — composite side*2^31+key "
                      "row ids would collide across layers; re-key first (got "),
                k.cast("string"), F.lit(")"),
            ),
        ).cast("long"),
        F.lit(0).cast("long"),
    )
    uid = (F.col("_side") * F.lit(1 << 31) + k + guard).cast("long")

    def _side(df: DataFrame, side: int) -> DataFrame:
        return df.select(
            F.lit(side).alias("_side"), F.col(key), F.col(x), F.col(y)
        ).withColumn("_ndk", uid)

    u = _side(sensitive, 0).unionByName(_side(candidate, 1))
    others = u.select(
        "_side",
        F.col("_ndk").alias("_nk"),
        F.col(x).alias("_nx"),
        F.col(y).alias("_ny"),
    )
    nn = nearest_neighbor(
        u.select("_side", "_ndk", x, y), others, key="_ndk", x=x, y=y,
        okey="_nk", ox="_nx", oy="_ny", exclude_self=True,
        group="_side",
    )
    s = F.col("_side")
    nd = F.col("nn_dist")
    return nn.agg(
        F.min(F.when(s == 0, nd)).alias("_b_min"),
        F.max(F.when(s == 0, nd)).alias("_b_max"),
        F.avg(F.when(s == 0, nd)).alias("_b_mean"),
        F.min(F.when(s == 1, nd)).alias("_a_min"),
        F.max(F.when(s == 1, nd)).alias("_a_max"),
        F.avg(F.when(s == 1, nd)).alias("_a_mean"),
    ).select(
        F.round(F.col("_a_min") - F.col("_b_min"), 6).alias("nnd_min_delta"),
        F.round(F.col("_a_max") - F.col("_b_max"), 6).alias("nnd_max_delta"),
        F.round(F.col("_a_mean") - F.col("_b_mean"), 6).alias("nnd_mean_delta"),
    )


def k_anonymity_address(
    sensitive: DataFrame,
    candidate: DataFrame,
    address: DataFrame,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    akey: str = "aid",
    ax: str = "ax",
    ay: str = "ay",
    max_radius: float | None = None,
    salt: int = 0,
    disp: DataFrame | None = None,
    slim: bool = False,
) -> DataFrame:
    """Address-based spatial k-anonymity (reference analysis.py:582-596):
    k = 1 + #addresses within the closed disk of radius = per-point
    displacement around the masked point; no addresses => k = 1.

    Engine contract is the exact closed disk (dist <= displacement); the
    reference's geopandas buffers are 32-gon approximations whose boundary
    behavior is a numerical artifact (see tests/test_analysis_goldens.py).

    This is the flagship k-verification join of BASELINE.json: ONE plan
    shape — a LEFT OUTER per-row-radius distance join (the predicate inside
    the join condition, so a point with no address in its disk still
    contributes one null-extended row) and ONE count aggregate keyed by
    ``key``, ``k = 1 + count(akey)``. Candidate payload columns never enter
    the pair stream; they join back once at the end, in their original
    order (distance_join._core_then_payload). ``slim=True`` returns only
    (key, x, y, k_anonymity) and skips that join — the shape for consumers
    that only read k (the satisfaction pipeline, monitoring sinks).

    ``disp`` optionally reuses a precomputed displacement frame (a
    DataFrame with a ``_distance`` column from :func:`displacement`) so
    composite evaluations don't run the pid-join twice.
    """
    if disp is not None:
        cand = disp.withColumnRenamed("_distance", "_radius")
    else:
        cand = displacement(sensitive, candidate, key, x, y, col="_radius")
    if max_radius is None:
        max_radius = cand.agg(F.max("_radius")).collect()[0][0] or 1.0

    def count(pts: DataFrame) -> DataFrame:
        # adaptive per-row ring (left_radius_col): each point probes only
        # the cells its OWN displacement disk can reach — ~1.4x fewer
        # candidate pairs than a max-radius ring at sf0.1, identical results.
        # x, y are constant per key (unique row keys), so they come out of
        # the aggregate as min() AGGREGATES rather than grouping keys:
        # bit-identical values (min over equals), but consumers that only
        # read (key, k) let Catalyst PRUNE the coordinate buffers entirely,
        # leaving an 8-byte grouping key and one count buffer on the pair
        # stream (grouping keys can never be pruned, and float keys
        # additionally pay a normalize-NaN/zero wrapper per row).
        # NOT the interior-cell count shape (a GeoBlocks-style per-cell
        # pre-aggregate for cells inside a point's disk): a 3-variant
        # interleaved A/B at sf0.1 measured the within-radius pair stream
        # as a non-bottleneck — removing 31.8M of 225.5M candidate
        # evaluations and 30% of the aggregate input changed wall-time by
        # ~0.2% — while the per-cell count rows' build-side union +
        # aggregate added ~0.7 s of per-run stage overhead (see
        # OPTIMIZATION_r06.md, "Interior-cell count shortcut"). With no
        # caller left, that machinery was removed; git history keeps it
        # for a regime where per-pair work dominates fixed stage costs.
        pairs = distance_join(
            pts, address.select(akey, ax, ay),
            radius=float(max_radius), lx=x, ly=y, rx=ax, ry=ay, salt=salt,
            left_radius_col="_radius", how="left",
        )
        return pairs.groupBy(key).agg(
            F.min(x).alias(x),
            F.min(y).alias(y),
            (F.count(akey) + 1).cast("long").alias("k_anonymity"),
        )

    core = [key, x, y, "_radius"]
    if slim:
        return count(cand.select(*core))
    return _core_then_payload(cand, core, key, count)


def k_anonymity_polygon(
    sensitive: DataFrame,
    candidate: DataFrame,
    polygons: DataFrame,
    pop_col: str = "pop",
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    cell_size: float | None = None,
) -> DataFrame:
    """Population-based k estimation (reference analysis.py:563-579 +
    _disaggregate :524-539): k = floor(sum over intersected census polygons
    of pop * area(circle ∩ polygon) / area(polygon)).

    The reference's public ``k_anonymity`` dispatch can never reach this
    branch (tools.py:165-169 raises instead of returning False — SURVEY §2.2
    A3); we expose it directly, like the reference's own tests do.

    FULLY DISTRIBUTED — no driver materialization anywhere: polygon bboxes,
    shoelace areas, and the point-polygon candidate pairs are DataFrame
    plans, and the exact circle-polygon clip UDF reads each ring's vertices
    FROM THE JOINED ROW (Arrow list column), vectorized per polygon group
    within each batch.

    The point-polygon pair prefilter is pip's bbox join (each bbox grown
    by the point's displacement radius), with its two plans:
    ``cell_size=None`` (default) broadcasts the polygons into a bbox RANGE
    join — right for city/regional layers that fit an executor broadcast;
    ``cell_size=<meters>`` is the continent-scale cell equi-join (see
    ``pip._bbox_join``)."""
    import numpy as np
    import pandas as pd

    # polygon geometry as columns: bbox via array min/max, signed shoelace
    # area via aggregate over the edge list — no collect, no closure state
    shoelace = (
        "abs(aggregate(transform(sequence(0, size(ring) - 1), i -> "
        "ring[i].x * ring[(i + 1) % size(ring)].y "
        "- ring[(i + 1) % size(ring)].x * ring[i].y), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 2.0)"
    )
    polys = polygons.select(
        "poly_id",
        F.col(pop_col).alias("_pop"),
        F.expr("transform(ring, p -> p.x)").alias("_rx"),
        F.expr("transform(ring, p -> p.y)").alias("_ry"),
        F.expr(shoelace).alias("_parea"),
        *_bbox_cols(),
    )

    cand = displacement(sensitive, candidate, key, x, y, col="_radius")
    r_max = 0.0  # the cell path grows each polygon's cell cover by the largest radius
    if cell_size is not None:
        r_max = cand.agg(F.max("_radius")).collect()[0][0] or 1.0
    pairs = _bbox_join(
        cand.select(key, x, y, "_radius"), polys, x, y, cell_size,
        pad="_radius", max_pad=r_max,
    ).select(key, x, y, "_radius", "poly_id", "_pop", "_parea", "_rx", "_ry")

    def clip_batches(it):
        for pdf in it:
            if len(pdf) == 0:
                yield pd.DataFrame({key: [], "_pop_adj": []})
                continue
            out = np.zeros(len(pdf), dtype=np.float64)
            for pid in pdf["poly_id"].unique():
                m = (pdf["poly_id"] == pid).to_numpy()
                first = pdf.loc[m].iloc[0]
                rx = np.asarray(first["_rx"], dtype=np.float64)
                ry = np.asarray(first["_ry"], dtype=np.float64)
                pop, parea = float(first["_pop"]), float(first["_parea"])
                n_edges = len(rx)
                cxs = pdf.loc[m, x].to_numpy()
                cys = pdf.loc[m, y].to_numpy()
                rs = pdf.loc[m, "_radius"].to_numpy()
                axr = np.tile(rx, len(cxs)) - np.repeat(cxs, n_edges)
                ayr = np.tile(ry, len(cxs)) - np.repeat(cys, n_edges)
                bxr = np.tile(np.roll(rx, -1), len(cxs)) - np.repeat(cxs, n_edges)
                byr = np.tile(np.roll(ry, -1), len(cxs)) - np.repeat(cys, n_edges)
                rr = np.repeat(rs, n_edges)
                contrib = geometry.circle_poly_edge_area(axr, ayr, bxr, byr, rr)
                inter = np.abs(contrib.reshape(len(cxs), n_edges).sum(axis=1))
                out[m] = pop * inter / parea
            yield pd.DataFrame({key: pdf[key], "_pop_adj": out})

    adj = pairs.mapInPandas(clip_batches, schema=f"{key} long, _pop_adj double")
    ks = adj.groupBy(key).agg(
        F.floor(F.sum("_pop_adj")).cast("bigint").alias("k_anonymity")
    )
    return (
        cand.join(ks, key, "left")
        .withColumn("k_anonymity", F.coalesce("k_anonymity", F.lit(0)))
        .drop("_radius")
    )


def ripleys_k(
    df: DataFrame,
    max_dist: float | None = None,
    min_dist: float | None = None,
    steps: int = 10,
    simulations: int = 0,
    seed: int = 42,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    max_pairs: float | None = 5e7,
) -> DataFrame:
    """Ripley's K at ``steps`` support distances (reference analysis.py:
    288-336 via pointpats.k_test). Estimator (no edge correction):

        K(d) = A / (n (n-1)) * #{(i, j) : i != j, dist(i, j) <= d}

    with A = bbox area (the CSR window pointpats simulates in). Defaults
    mirror the reference: max_dist = Ripley's rule of thumb (quarter of the
    shorter bbox side, :324-325), min_dist = max/steps (:327-328).

    One cell-indexed distance self-join at max_dist + one conditional
    aggregate produces ALL bands; with ``simulations`` > 0, CSR replicates
    are generated JVM-side from the hash-RNG (seeded per (sim, i)) and share
    the same single join, grouped by sim — the reference's 99 sequential
    pointpats runs become one shuffle.

    Scale guard (``max_pairs``): the rule-of-thumb radius is bbox-scale, so
    the self-join's expected candidate volume ~ n^2 * pi*max_dist^2 / A
    grows quadratically with density — the one plan that would degenerate
    toward all-pairs at 100x data. When the estimate exceeds ``max_pairs``
    (default 5e7 candidate pairs), the point set is independently thinned
    by the seeded hash-RNG to the largest m with m^2 * frac <= max_pairs
    before the join. Ripley's K is INVARIANT under independent thinning
    (each retained pair survives with probability p^2 and the normalizer
    m(m-1) shrinks by the same factor in expectation), so the sampled
    statistic is an unbiased estimate of the same K; a ``UserWarning``
    reports m of n, and CSR envelopes simulate m points so the envelope
    reflects the estimator actually used. ``max_pairs=None`` disables the
    guard (exact, skew-unbounded — the reference's behavior).

    Returns (band, support, statistic) + per-band simulation envelope
    (sim_low, sim_high, pvalue) when simulations > 0.
    """
    import math

    from .functions.rng import TAG_KSAMPLE, TAG_SIM, TAG_SIM_Y, u_sql

    spark = df.sparkSession
    x0, x1, y0, y1, n0, _ = _extent(df, x, y)
    if n0 < 2:
        raise ValueError(f"ripleys_k: K needs >= 2 points, got {n0}")
    n = n0
    area = (x1 - x0) * (y1 - y0)
    if not max_dist:
        max_dist = min(x1 - x0, y1 - y0) / 4.0
    if not min_dist:
        min_dist = max_dist / steps
    import numpy as np

    frac = min(1.0, math.pi * max_dist**2 / area) if area > 0 else 1.0
    if max_pairs is not None and n * n * frac > max_pairs:
        import warnings

        m_target = max(2, int(math.sqrt(max_pairs / frac)))
        p = m_target / n
        df, n = materialize(
            df.where(F.expr(u_sql(key, TAG_KSAMPLE, seed)) < F.lit(float(p))),
            n=F.count(F.lit(1)),
        )
        if n < 2:
            raise ValueError(
                f"ripleys_k: seeded thinning left {n} point(s) (target m≈"
                f"{m_target} of {n0}); K needs >= 2 — raise max_pairs or "
                "pass max_pairs=None to skip thinning on this input"
            )
        warnings.warn(
            f"ripleys_k: candidate volume at max_dist={max_dist:.6g} would be "
            f"~{frac:.3g} * n^2 pairs; thinned {n0} -> {n} points "
            f"(seeded hash sample, unbiased under independent thinning). "
            "Pass max_pairs=None for the exact reference behavior or a "
            "smaller explicit max_dist.",
            UserWarning,
            stacklevel=2,
        )

    support = np.linspace(min_dist, max_dist, steps)
    scale = area / (n * (n - 1))

    pairs = distance_join(
        df.select(key, x, y),
        df.select(
            F.col(key).alias("_qk"), F.col(x).alias("_qx"), F.col(y).alias("_qy")
        ),
        radius=float(max_dist),
        lx=x, ly=y, rx="_qx", ry="_qy",
    ).where(F.col(key) != F.col("_qk"))
    aggs = [
        F.sum(F.when(F.col("dist") <= float(d), 1).otherwise(0)).alias(f"_c{i}")
        for i, d in enumerate(support)
    ]
    obs = pairs.agg(*aggs).collect()[0]
    rows = [
        (i, float(d), float(scale * obs[f"_c{i}"])) for i, d in enumerate(support)
    ]
    if not simulations:
        return spark.createDataFrame(rows, "band int, support double, statistic double")

    # CSR replicates: sim points from the hash-RNG, all sims in one table
    sims = spark.range(simulations).withColumnRenamed("id", "_sim")
    pts = sims.join(spark.range(n).withColumnRenamed("id", "_i"))
    kexpr = f"_sim * {n} + _i + 1"
    sim_pts = pts.select(
        "_sim",
        F.expr(kexpr).alias(key),
        (F.lit(float(x0)) + F.expr(u_sql(kexpr, TAG_SIM, seed)) * (x1 - x0)).alias(x),
        (F.lit(float(y0)) + F.expr(u_sql(kexpr, TAG_SIM_Y, seed)) * (y1 - y0)).alias(y),
    )
    spairs = distance_join(
        sim_pts,
        sim_pts.withColumnsRenamed({key: "_qk", x: "_qx", y: "_qy", "_sim": "_qsim"}),
        radius=float(max_dist),
        lx=x, ly=y, rx="_qx", ry="_qy",
        extra_on=[("_sim", "_qsim")],
    ).where(F.col(key) != F.col("_qk"))
    saggs = [
        F.sum(F.when(F.col("dist") <= float(d), 1).otherwise(0)).alias(f"_c{i}")
        for i, d in enumerate(support)
    ]
    sim_counts = spairs.groupBy("_sim").agg(*saggs).collect()
    out = []
    for i, d in enumerate(support):
        vals = sorted(scale * r[f"_c{i}"] for r in sim_counts)
        k_obs = rows[i][2]
        n_ge = sum(1 for v in vals if v >= k_obs)
        n_le = sum(1 for v in vals if v <= k_obs)
        p = (min(n_ge, n_le) + 1) / (len(vals) + 1)
        out.append((i, float(d), k_obs, vals[0], vals[-1], float(p)))
    return spark.createDataFrame(
        out,
        "band int, support double, statistic double, sim_low double, sim_high double, pvalue double",
    )


def ripley_rmse(a: DataFrame, b: DataFrame) -> float:
    """RMSE between two observed-K vectors, 3 dp (analysis.py:339-368)."""
    import math

    av = [r["statistic"] for r in a.orderBy("band").collect()]
    bv = [r["statistic"] for r in b.orderBy("band").collect()]
    return round(
        math.sqrt(sum((x - y) ** 2 for x, y in zip(bv, av)) / len(av)), 3
    )


def k_anonymity(
    sensitive: DataFrame,
    candidate: DataFrame,
    population: DataFrame,
    population_column: str = "pop",
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    **kw,
) -> DataFrame:
    """Dispatching wrapper (reference analysis.py:108-147): address-point
    population -> _calculate_k; polygon population -> _estimate_k. The
    reference's polygon branch is unreachable through its public function
    (tools.py:165-169 raises instead of returning False — SURVEY §2.2 A3);
    ours dispatches on the declared schema: a ``ring`` column means
    polygons, the address x column (``ax=`` in ``kw``, default "ax") means
    address points."""
    if "ring" in population.columns:
        if population_column not in population.columns:
            raise ValueError(
                f"Cannot find population column {population_column} in population_gdf"
            )
        return k_anonymity_polygon(
            sensitive, candidate, population, population_column, key, x, y
        )
    if kw.get("ax", "ax") in population.columns:
        return k_anonymity_address(sensitive, candidate, population, key, x, y, **kw)
    raise ValueError("population must include either Points (ax, ay) or Polygons (ring).")


def crop(
    df: DataFrame,
    bbox: tuple[float, float, float, float],
    padding: float = 0.0,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """bbox crop with fractional padding (reference tools.py:150-162).
    The range predicates push down to the scan / prune cell partitions."""
    x0, y0, x1, y1 = bbox
    px = (x1 - x0) * padding
    py = (y1 - y0) * padding
    return df.where(
        (F.col(x) >= x0 - px) & (F.col(x) <= x1 + px)
        & (F.col(y) >= y0 - py) & (F.col(y) <= y1 + py)
    )


def mark_unmasked(
    sensitive: DataFrame, masked: DataFrame, key: str = "pid", x: str = "x", y: str = "y"
) -> DataFrame:
    """UNMASKED 1/0 where geometry is unchanged (tools.py:136-147)."""
    s = sensitive.select(key, F.col(x).alias("_ux"), F.col(y).alias("_uy"))
    return (
        masked.join(s, key)
        .withColumn(
            "UNMASKED",
            F.when((F.col(x) == F.col("_ux")) & (F.col(y) == F.col("_uy")), 1).otherwise(0),
        )
        .drop("_ux", "_uy")
    )


def checksum(df: DataFrame, cols: list[str] | None = None, dp: int = 9) -> str:
    """Order-insensitive content checksum (reference tools.py:46-63 uses
    sha256(hash_pandas_object); ours must be partitioning-independent):
    xor of xxhash64 over canonicalized rows + row count, hex. Floats are
    canonicalized at ``dp`` decimals so bit-identical reruns match."""
    cols = cols or df.columns
    canon = []
    for c in cols:
        col = F.col(c)
        if dict(df.dtypes)[c] in ("double", "float"):
            col = F.round(col.cast("double"), dp)
        canon.append(F.coalesce(col.cast("string"), F.lit("\x00")))
    row = df.select(F.xxhash64(F.concat_ws("\x1f", *canon)).alias("h"))
    agg = row.agg(
        F.expr("bit_xor(h)").alias("x"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return f"{(agg['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{agg['n']}"


def evaluate(
    sensitive: DataFrame,
    candidate: DataFrame,
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    akey: str = "aid",
    ax: str = "ax",
    ay: str = "ay",
    population: DataFrame | None = None,
    population_column: str = "pop",
    skip_slow: bool = True,
    assert_complete: bool = False,
) -> dict:
    """Composite evaluation (reference analysis.py:15-79): central drift,
    displacement summary, NND deltas, optional Ripley-K RMSE
    (``skip_slow=False``, reference :64-65), and privacy metrics — k summary
    + satisfaction at 5/25/50 — when a population layer is given.

    ``population`` dispatches like the reference (:68-74), through
    :func:`k_anonymity`: a ``ring`` column means polygon disaggregation
    (k_anonymity_polygon), (ax, ay) means address points. Returns a plain
    dict like the reference; each stat is a tiny agg job.

    Completeness contract: ``central_drift`` and the sensitive-side mean
    center are derived from the inner-joined displacement frame, so they
    equal the reference's per-table averages ONLY when ``candidate`` is
    1:1-complete with ``sensitive`` on ``key`` — true for every mask this
    engine produces (row-preserving by construction), but a custom mask
    that drops or duplicates rows silently weights the averages by the
    surviving join rows. Pass ``assert_complete=True`` to verify (two extra
    count jobs): raises ``ValueError`` if the joined row count differs from
    the sensitive row count."""
    stats: dict = {}
    # ONE displacement join feeds everything scalar: the original coords
    # ride along so central drift + the displacement summary collapse into
    # a single aggregate job over the checkpointed frame (they used to be
    # three separate actions; the per-table averages equal the joined-frame
    # averages because the key join is 1:1-complete — the reference's own
    # index-alignment contract, analysis.py:82-105).
    sx, sy = SENS_PREFIX + x, SENS_PREFIX + y
    disp = materialize(displacement_from_payload(
        _with_sensitive(sensitive, candidate, key, x, y), x, y, sx, sy,
        drop_original=False,
    ))
    if assert_complete:
        # count AND distinct-count in one aggregate: equal row counts alone
        # would let a drop+duplicate pair cancel out undetected
        jr = disp.agg(
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct(key).alias("_nd"),
        ).collect()[0]
        n_sens = sensitive.count()
        if jr["_n"] != n_sens or jr["_nd"] != n_sens:
            raise ValueError(
                f"evaluate(): candidate is not 1:1-complete with sensitive on "
                f"'{key}' ({jr['_n']} joined rows / {jr['_nd']} distinct keys "
                f"vs {n_sens} sensitive rows); central_drift/displacement "
                "stats would be weighted by the surviving join rows — fix the "
                "candidate frame or compute the standalone metrics "
                "(central_drift, displacement) per-table."
            )
    head = (
        disp.agg(
            *_displacement_stats("_distance"),
            F.avg(x).alias("_bx"),
            F.avg(y).alias("_by"),
            F.avg(sx).alias("_ax"),
            F.avg(sy).alias("_ay"),
        )
        .select(
            "displacement_min", "displacement_max",
            "displacement_med", "displacement_mean",
            F.round(F.expr(dist_sql("_ax", "_ay", "_bx", "_by")), 6).alias(
                "central_drift"
            ),
        )
        .collect()[0]
        .asDict()
    )
    stats["central_drift"] = float(head.pop("central_drift"))
    stats.update(head)
    stats.update(nnd_delta(sensitive, candidate, key, x, y).collect()[0].asDict())
    if not skip_slow:
        stats["ripley_rmse"] = ripley_rmse(
            ripleys_k(sensitive, key=key, x=x, y=y),
            ripleys_k(candidate, key=key, x=x, y=y),
        )
    if population is not None:
        # the bare (key, x, y, _distance) frame: no payload join-back
        kdf = k_anonymity(
            sensitive, candidate, population, population_column, key, x, y,
            akey=akey, ax=ax, ay=ay, disp=disp.select(key, x, y, "_distance"),
        )
        # k summary + the three satisfaction levels: ONE aggregate job
        krow = kdf.agg(
            *_k_stats("k_anonymity"),
            *[_k_satisfaction_stat(mk, "k_anonymity") for mk in (5, 25, 50)],
        ).collect()[0].asDict()
        stats.update(
            {k: (int(v) if k in ("k_min", "k_max") else float(v))
             for k, v in krow.items()}
        )
    return stats
