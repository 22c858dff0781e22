"""Behavioral mask tests — the reference's test idioms (SURVEY §5) ported
to the engine: statistical bounds, seed determinism, input immutability,
containment invariants, street-node coincidence.
"""

import io
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from maskmypy_spark import analysis
from maskmypy_spark.operators.donut import donut
from maskmypy_spark.operators.locationswap import locationswap
from maskmypy_spark.operators.street import street
from maskmypy_spark.operators.voronoi import voronoi
from maskmypy_spark.sources import fixtures


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(fixtures.sensitive_points_pdf(400, seed=42)).cache()


@pytest.fixture(scope="module")
def addresses(spark):
    return spark.createDataFrame(fixtures.addresses_pdf(4000, seed=43)).cache()


@pytest.fixture(scope="module")
def roads(spark):
    nodes = fixtures.road_nodes_pdf(spacing=300.0)
    edges = fixtures.road_edges_pdf(nodes, spacing=300.0)
    return spark.createDataFrame(nodes).cache(), spark.createDataFrame(edges).cache()


def _disp(points, masked):
    return (
        analysis.displacement(points, masked)
        .select("_distance")
        .toPandas()["_distance"]
        .to_numpy()
    )


def test_donut_uniform_bounds_and_mean(points):
    """reference tests/masks/test_donut.py:10-25"""
    d = _disp(points, donut(points, 50.0, 500.0, seed=123))
    assert d.min() >= 50.0 and d.max() <= 500.0
    mid = (500.0 - 50.0) / 2 + 50.0
    assert abs(d.mean() - mid) < 0.2 * mid  # uniform mean ~ midpoint


def test_donut_gaussian_mean(points):
    d = _disp(points, donut(points, 50.0, 500.0, seed=123, distribution="gaussian"))
    mid = (500.0 - 50.0) / 2 + 50.0
    assert abs(d.mean() - mid) < 0.1 * mid


def test_donut_areal_skews_far(points):
    du = _disp(points, donut(points, 50.0, 500.0, seed=9))
    da = _disp(points, donut(points, 50.0, 500.0, seed=9, distribution="areal"))
    assert da.mean() > du.mean()  # max-of-two-uniforms stochastically larger


def test_donut_seed_determinism(points):
    """reference tests/masks/test_donut.py:34-38"""
    a = analysis.checksum(donut(points, 50.0, 500.0, seed=77))
    b = analysis.checksum(donut(points, 50.0, 500.0, seed=77))
    c = analysis.checksum(donut(points, 50.0, 500.0, seed=78))
    assert a == b and a != c


def test_donut_input_immutable(points):
    before = analysis.checksum(points)
    donut(points, 50.0, 500.0, seed=5).count()
    assert analysis.checksum(points) == before


def test_donut_validation(points):
    with pytest.raises(ValueError):
        donut(points, 500.0, 50.0, seed=1)


def test_donut_containment(spark, points):
    """reference tests/masks/test_donut.py:41-47: masked points stay in
    their original container polygon."""
    rect = 2000.0
    rows = []
    for ix in range(10):
        for iy in range(5):
            x0, y0 = ix * rect, iy * rect
            ring = [
                {"x": x0, "y": y0}, {"x": x0 + rect, "y": y0},
                {"x": x0 + rect, "y": y0 + rect}, {"x": x0, "y": y0 + rect},
            ]
            rows.append((ix * 10 + iy, ring))
    cont = spark.createDataFrame(rows, "poly_id long, ring array<struct<x:double,y:double>>")
    m = donut(points, 50.0, 800.0, seed=31, container=cont, max_attempts=100)
    pdf = m.join(points.select("pid", F.col("x").alias("ox"), F.col("y").alias("oy")), "pid").toPandas()
    assert len(pdf) == points.count()
    home = (pdf["ox"] // rect).astype(int) * 10 + (pdf["oy"] // rect).astype(int)
    landed = (pdf["x"] // rect).astype(int) * 10 + (pdf["y"] // rect).astype(int)
    assert (home == landed).all()
    d = np.hypot(pdf["x"] - pdf["ox"], pdf["y"] - pdf["oy"])
    assert d.min() >= 50.0 and d.max() <= 800.0


def test_donut_containment_partial_block(spark, points):
    """Attempt budgets that are NOT multiples of the internal batch size
    must preserve first-success semantics (regression: the last round used
    to explode attempt indices past max_attempts, colliding composite keys
    across points). If every point converges within the smaller budget, the
    result must be bit-identical to a larger budget's."""
    rect = 2000.0
    rows = []
    for ix in range(10):
        for iy in range(5):
            x0, y0 = ix * rect, iy * rect
            ring = [
                {"x": x0, "y": y0}, {"x": x0 + rect, "y": y0},
                {"x": x0 + rect, "y": y0 + rect}, {"x": x0, "y": y0 + rect},
            ]
            rows.append((ix * 10 + iy, ring))
    cont = spark.createDataFrame(rows, "poly_id long, ring array<struct<x:double,y:double>>")
    m12 = donut(points, 50.0, 800.0, seed=31, container=cont, max_attempts=12)
    m100 = donut(points, 50.0, 800.0, seed=31, container=cont, max_attempts=100)
    assert analysis.checksum(m12) == analysis.checksum(m100)


def test_locationswap_annulus(points, addresses):
    """reference tests/masks/test_locationswap.py:8-36"""
    m = locationswap(points, 100.0, 600.0, addresses, seed=11)
    pdf = analysis.displacement(points, m).toPandas()
    swapped = pdf[pdf["UNMASKED"] == 0]
    unmasked = pdf[pdf["UNMASKED"] == 1]
    assert len(swapped) > 0
    assert (swapped["_distance"] > 100.0).all()
    assert (swapped["_distance"] <= 600.0).all()
    assert (unmasked["_distance"] == 0.0).all()
    # swap targets are actual address points (cast np.float64 -> float first:
    # np.float64.__round__ scales-and-rints, Python round is correctly
    # rounded — they disagree on decimal half-cases)
    addr = {(float(r["ax"]), float(r["ay"])) for r in addresses.collect()}
    got = {(float(r["x"]), float(r["y"])) for _, r in swapped.iterrows()}
    assert got <= addr
    # determinism
    assert analysis.checksum(locationswap(points, 100.0, 600.0, addresses, seed=11)) == analysis.checksum(m)
    assert analysis.checksum(locationswap(points, 100.0, 600.0, addresses, seed=12)) != analysis.checksum(m)


def test_distance_join_salting_exact(points, addresses):
    """Explicit hot-cell salting (the north rule's skew handling) must not
    change results: salt=4 pair set == unsalted pair set."""
    from maskmypy_spark.operators.distance_join import distance_join

    def pairs(salt):
        j = distance_join(
            points.select("pid", "x", "y"), addresses.select("aid", "ax", "ay"),
            radius=400.0, salt=salt,
        )
        return {(r["pid"], r["aid"]) for r in j.select("pid", "aid").collect()}

    assert pairs(4) == pairs(0) and len(pairs(0)) > 0


def test_displacement_joinfree_equals_join(points):
    """The pipeline-shape (payload originals, zero-shuffle) displacement is
    value-identical to the general join-based displacement."""
    m = donut(analysis.with_original(points), 50.0, 300.0, seed=4)
    a = {
        r["pid"]: r["_distance"]
        for r in analysis.displacement_from_payload(m).select("pid", "_distance").collect()
    }
    b = {
        r["pid"]: r["_distance"]
        for r in analysis.displacement(
            points, m.drop("_orig_x", "_orig_y")
        ).select("pid", "_distance").collect()
    }
    assert a == b


def test_snap_to_streets_kwarg(points, roads):
    """Reference one-call ergonomics (masks/donut.py:82-83, voronoi.py:21):
    snap_to_streets=True lands every masked point exactly on a node."""
    nodes, _ = roads
    node_set = {(round(r["nx"], 9), round(r["ny"], 9)) for r in nodes.collect()}
    for masked in (
        donut(points, 50.0, 300.0, seed=3, snap_to_streets=True, street_nodes=nodes),
        voronoi(points, snap_to_streets=True, street_nodes=nodes),
    ):
        got = {(round(r["x"], 9), round(r["y"], 9)) for r in masked.collect()}
        assert got <= node_set
    with pytest.raises(ValueError):
        donut(points, 50.0, 300.0, seed=3, snap_to_streets=True)


def test_voronoi_midpoint_and_determinism(points):
    """Voronoi = bisector midpoint of nearest neighbor (SURVEY M5); fully
    deterministic without a seed (reference tests/test_atlas.py:206-210)."""
    m = voronoi(points)
    assert analysis.checksum(m) == analysis.checksum(voronoi(points))
    pdf = points.toPandas().set_index("pid")
    mm = m.toPandas().set_index("pid")
    xs = pdf["x"].to_numpy()
    ys = pdf["y"].to_numpy()
    ids = pdf.index.to_numpy()
    for pid in ids[:25]:
        px, py = pdf.at[pid, "x"], pdf.at[pid, "y"]
        d = np.hypot(xs - px, ys - py)
        d[ids == pid] = np.inf
        q = d.argmin()
        assert mm.at[pid, "x"] == pytest.approx((px + xs[q]) / 2, abs=1e-9)
        assert mm.at[pid, "y"] == pytest.approx((py + ys[q]) / 2, abs=1e-9)


def test_street_independent_oracle(spark, roads, monkeypatch):
    """End-to-end street-mask oracle: an INDEPENDENT pure-Python
    re-derivation (brute-force NN snap, dict-based Dijkstra with cutoff
    doubling, mean-distance pick, same documented tie-breaks) must produce
    the exact coordinates the distributed operator emits. Three inputs:
    the fixture; its edge lengths halved, so every edge is shorter than
    its straight line (length/hypot ratio r = 0.5); and targets deep
    enough that the regional Dijkstra escalates at least one margin
    round (its rounds are counted through the step it hands escalate)."""
    import heapq
    import importlib

    from maskmypy_spark.functions import rng as _rng
    from maskmypy_spark.sources import fixtures as _fx

    street_mod = importlib.import_module("maskmypy_spark.operators.street")
    real_escalate = street_mod.escalate
    rounds: list[int] = []

    def counting_escalate(remaining, step, fallback, n_rounds, key=None):
        def counted(rem, rnd, n):
            rounds.append(rnd)
            return step(rem, rnd, n)

        return real_escalate(remaining, counted, fallback, n_rounds, key=key)

    monkeypatch.setattr(street_mod, "escalate", counting_escalate)

    nodes, _ = roads
    npdf = nodes.toPandas()
    coord = {int(r.node_id): (float(r.nx), float(r.ny)) for r in npdf.itertuples()}
    pts_pdf = _fx.sensitive_points_pdf(60, seed=42)
    pts = spark.createDataFrame(pts_pdf)
    base = _fx.road_edges_pdf(npdf, spacing=300.0)
    MAXLEN, SEED_S = 400.0, 77

    def check(epdf, low_n, high_n):
        rounds.clear()
        edges = spark.createDataFrame(epdf)
        masked = {
            r["pid"]: (r["x"], r["y"])
            for r in street_mod.street(pts, low_n, high_n, nodes, edges,
                                       max_length=MAXLEN, seed=SEED_S).collect()
        }

        # --- independent re-derivation (plain dicts, no CSR, no Spark) ---
        adj: dict[int, list[tuple[int, float]]] = {}
        valid = set()
        for r in epdf.itertuples():
            adj.setdefault(int(r.src), []).append((int(r.dst), float(r.length)))
            if r.length <= MAXLEN:
                valid.add(int(r.src)); valid.add(int(r.dst))

        def dijkstra_pick(start: int, target: int) -> int:
            cutoff, prev = MAXLEN, -1
            while True:
                dist: dict[int, float] = {}
                heap = [(0.0, start)]
                while heap:
                    d, u = heapq.heappop(heap)
                    if u in dist or d > cutoff:
                        continue
                    dist[u] = d
                    for v, wgt in adj.get(u, []):
                        if v not in dist and d + wgt <= cutoff:
                            heapq.heappush(heap, (d + wgt, v))
                if len(dist) >= target or len(dist) == prev:
                    break
                prev = len(dist)
                cutoff *= 2.0
            take = min(target, len(dist))
            items = sorted(dist.items(), key=lambda kv: (kv[1], kv[0]))[:take]
            mean_d = sum(d for _, d in items) / take
            return min(items, key=lambda kv: (abs(kv[1] - mean_d), kv[0]))[0]

        for r in pts_pdf.itertuples():
            # snap: nearest VALID node, ties by (distance, node_id)
            best = min(
                ((np.hypot(coord[n][0] - r.x, coord[n][1] - r.y), n) for n in valid),
            )
            u = _rng.u_np(np.array([int(r.pid)]), _rng.TAG_STREET_N, SEED_S)[0]
            target = low_n + int(np.floor(u * (high_n - low_n)))
            picked = dijkstra_pick(best[1], int(target))
            assert masked[r.pid] == coord[picked], f"pid {r.pid}"
        return len(rounds)

    assert check(base, 8, 14) >= 1
    assert check(base.assign(length=base["length"] / 2.0), 8, 14) >= 1
    # ~300 nodes lie beyond the first margin (8 * max_length) of the grid
    assert check(base, 250, 300) >= 2


def test_street_k_adaptive_loop(points, roads, addresses):
    """M4 (reference masks/street.py:82-192): escalating loop reaches a
    satisfying configuration, logs iterations, suppresses sub-k points."""
    from maskmypy_spark.operators.street import street_k

    nodes, edges = roads
    iters = []
    out = street_k(
        points, addresses, min_k=3, start=8, stop=60, spread=4,
        suppression=0.6, max_length=400.0, seed=21,
        nodes=nodes, edges=edges, on_iteration=iters.append,
    )
    pdf = out.toPandas()
    assert len(pdf) == points.count()
    assert len(iters) >= 1
    assert iters[-1]["k_satisfaction"] >= 0.6
    assert set(pdf["SUPPRESSED"].unique()) <= {"TRUE", "FALSE"}
    # suppressed points sit at the mean center of the masked pattern
    sup = pdf[pdf["SUPPRESSED"] == "TRUE"]
    if len(sup):
        assert sup["x"].nunique() == 1 and sup["y"].nunique() == 1


def test_street_masks_to_nodes(points, roads, addresses):
    """Engine contract for M3 (reference masks/street.py semantics with the
    documented order-free substitution): output coincides with road nodes,
    displacement grows with the node-count range, seeded determinism."""
    nodes, edges = roads
    m1 = street(points, 5, 10, nodes, edges, max_length=400.0, seed=3)
    out = m1.toPandas()
    assert len(out) == points.count()
    node_set = {(round(r["nx"], 9), round(r["ny"], 9)) for r in nodes.collect()}
    got = {(round(v["x"], 9), round(v["y"], 9)) for _, v in out.iterrows()}
    assert got <= node_set
    # larger target counts => farther displacement on average
    d1 = _disp(points, m1)
    d2 = _disp(points, street(points, 40, 50, nodes, edges, max_length=400.0, seed=3))
    assert d2.mean() > d1.mean()
    # determinism
    assert analysis.checksum(street(points, 5, 10, nodes, edges, max_length=400.0, seed=3)) == analysis.checksum(m1)


def test_street_builds_no_driver_graph(spark, points, roads, monkeypatch):
    """The street mask never copies the road graph to the driver: no
    toPandas/collect/count of the graph frames, no DataFrame.toPandas at
    all and no SparkContext.broadcast while it runs. Its output still
    lands on road nodes, one row per point."""
    from pyspark import SparkContext
    from pyspark.sql import DataFrame

    def refuse(*a, **k):
        raise AssertionError("street copied data to the driver")

    nodes, edges = roads
    node_set = {(r["nx"], r["ny"]) for r in nodes.collect()}
    g_nodes, g_edges = nodes.select("*"), edges.select("*")
    with monkeypatch.context() as m:
        for frame in (g_nodes, g_edges):
            for method in ("toPandas", "collect", "count"):
                m.setattr(frame, method, refuse)
        m.setattr(DataFrame, "toPandas", refuse)
        m.setattr(SparkContext, "broadcast", refuse)
        out = street(points, 10, 20, g_nodes, g_edges, max_length=500.0, seed=7)
        rows = out.collect()
    assert len(rows) == points.count()
    assert {(r["x"], r["y"]) for r in rows} <= node_set


def test_street_without_snap_valid_node_raises(points, roads):
    """max_length below every edge length leaves no snap-valid node: a
    named ValueError, read from the extent aggregate's count of valid
    edges, instead of an empty-frame error or a silently empty mask."""
    nodes, edges = roads
    with pytest.raises(ValueError, match="no edge has length <= max_length"):
        street(points, 10, 20, nodes, edges, max_length=10.0, seed=7)


def test_mark_unmasked_idiom(spark, points):
    """reference tests/test_tools.py:25-35: translated points -> UNMASKED=0,
    untouched points -> UNMASKED=1 (our 1 means 'kept original')."""
    moved = points.withColumn(
        "x", F.when(F.col("pid") >= 5, F.col("x") + 1.0).otherwise(F.col("x"))
    )
    marked = analysis.mark_unmasked(points, moved)
    got = {r["pid"]: r["UNMASKED"] for r in marked.collect()}
    n = points.count()
    assert all(got[p] == 0 for p in got if p >= 5)
    assert all(got[p] == 1 for p in got if p < 5)
    assert sum(got.values()) == 5


def test_crs_validation_analogue(spark, points, addresses):
    """A18 (reference tools.py:165-180): tagged layers with mismatched CRS
    raise; matching or untagged layers pass; non-numeric geometry columns
    raise the geometry-kind error."""
    from maskmypy_spark.functions import meta
    from maskmypy_spark.operators.locationswap import locationswap

    p = meta.with_crs(points, "EPSG:26910")
    a_ok = meta.with_crs(addresses, "EPSG:26910", x="ax")
    a_bad = meta.with_crs(addresses, "EPSG:4326", x="ax")
    assert meta.crs_of(p) == "EPSG:26910"
    locationswap(p, 50.0, 300.0, a_ok, seed=1)          # matching: fine
    locationswap(points, 50.0, 300.0, a_bad, seed=1)    # one untagged: exempt
    with pytest.raises(ValueError, match="matching CRS"):
        locationswap(p, 50.0, 300.0, a_bad, seed=1)

    bad = points.withColumn("x", F.col("x").cast("string"))
    with pytest.raises(ValueError, match="Unexpected geometry type"):
        locationswap(bad, 50.0, 300.0, addresses, seed=1)


def test_adaptive_radius_join_salted_and_plain_equal(points, addresses):
    """The adaptive per-row-ring join (left_radius_col) must return exactly
    the closed-disk pairs, with and without hot-cell salting."""
    from maskmypy_spark.operators.distance_join import distance_join

    cand = points.withColumn("_radius", 150.0 + (F.col("pid") % 4) * 100.0)

    def pairs(salt):
        j = distance_join(
            cand.select("pid", "x", "y", "_radius"),
            addresses.select("aid", "ax", "ay"),
            radius=450.0, left_radius_col="_radius", salt=salt,
        )
        return {(r["pid"], r["aid"]) for r in j.select("pid", "aid").collect()}

    a = pairs(0)
    assert pairs(4) == a and len(a) > 0
    # ground truth: brute-force closed disk at each row's own radius
    import numpy as np

    P = points.join(cand.select("pid", "_radius"), "pid").collect()
    A = addresses.collect()
    ax = np.array([r["ax"] for r in A]); ay = np.array([r["ay"] for r in A])
    aid = np.array([r["aid"] for r in A])
    want = set()
    for r in P:
        d = np.hypot(ax - r["x"], ay - r["y"])
        for i in np.where(d <= r["_radius"])[0]:
            want.add((r["pid"], int(aid[i])))
    assert a == want


@pytest.mark.parametrize(
    "op", ["voronoi", "nnd", "nnd_delta", "ripleys_k", "ripleys_k_one_point"]
)
def test_empty_input_gives_empty_output(spark, op):
    """No point in, no point out: the masks return 0 rows and the NND
    stats are NULL, where the extent aggregate's NULL bounds used to raise
    TypeError. Ripley's K needs two points and says so."""
    schema = "pid long, x double, y double"
    empty = spark.createDataFrame([], schema)
    if op.startswith("ripleys_k"):
        pts = spark.createDataFrame([(1, 0.0, 0.0)], schema) if op.endswith("point") else empty
        with pytest.raises(ValueError, match=">= 2 points"):
            analysis.ripleys_k(pts)
    elif op == "voronoi":
        assert voronoi(empty).collect() == []
    else:
        out = analysis.nnd(empty) if op == "nnd" else analysis.nnd_delta(empty, empty)
        rows = out.collect()
        assert len(rows) == 1 and all(v is None for v in rows[0])


def _grid_containers(spark, rect=2000.0):
    rows = [
        (ix * 10 + iy, [
            {"x": ix * rect, "y": iy * rect}, {"x": (ix + 1) * rect, "y": iy * rect},
            {"x": (ix + 1) * rect, "y": (iy + 1) * rect}, {"x": ix * rect, "y": (iy + 1) * rect},
        ])
        for ix in range(10)
        for iy in range(5)
    ]
    return spark.createDataFrame(rows, "poly_id long, ring array<struct<x:double,y:double>>")


def test_empty_knn_side_runs_no_round(spark, points, knn_cs):
    """An empty neighbor layer settles a kNN call on the one extent job that
    chooses its plan: ``nearest_neighbor`` and ``knn_join`` against it run
    no escalation round and no fallback, at the estimated cell size or a
    set one (``knn_cs``), and ``nnd_delta(empty, points)`` sizes its cells
    from both layers, so the empty side costs no rounds. (Sized from the
    empty layer alone, the floor cell size ran all 12 rounds and the
    brute-force fallback.)"""
    from maskmypy_spark.operators.knn import knn_join, nearest_neighbor

    sc = spark.sparkContext
    points.count()
    none = points.selectExpr("pid AS nn_id", "x AS nn_x", "y AS nn_y").where("false")
    for name, cs, run, budget in (
        ("nearest_neighbor", None, lambda: nearest_neighbor(points, none).collect(), 1),
        ("knn_join", None, lambda: knn_join(points, none, 2).collect(), 1),
        ("nearest_neighbor_cs", 100.0, lambda: nearest_neighbor(points, none).collect(), 1),
        ("knn_join_cs", 100.0, lambda: knn_join(points, none, 2).collect(), 1),
        ("nnd_delta", None, lambda: analysis.nnd_delta(points.where("false"), points).collect(), 14),
    ):
        group = f"empty_knn_side_{name}"
        sc.setJobGroup(group, group)
        try:
            with knn_cs(cs):
                rows = run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= budget, (name, len(jobs))
        assert len(rows) == (1 if name == "nnd_delta" else 0), (name, rows)


def test_collinear_knn_sizes_cells_at_the_spacing(spark, knn_cs):
    """2,000 points on one horizontal line (spacing 10, jitter 5) have a
    zero-area bounding box. The estimated cell size still reaches their
    spacing (the box's long side over the count), so ``nnd`` on them runs
    no more jobs than a run at a hand-picked cell size of 30 (7 with the
    input cached: two for the extent aggregate, three for the one round,
    two for the stats), and gives its stats. (From the area alone cs sat at its
    floor: the 12 tripling rounds never reached the spacing, and the
    brute-force fallback took the whole residue: 57 jobs.)"""
    n = 2000
    x = np.arange(n) * 10.0 + np.random.default_rng(42).uniform(0.0, 5.0, n)
    line = spark.createDataFrame(fixtures.sensitive_points_pdf(n).assign(x=x, y=5000.0)).cache()
    line.count()  # the cache build is not nnd's
    sc = spark.sparkContext
    got = {}
    for cs in (None, 30.0):
        group = f"collinear_knn_{cs}"
        sc.setJobGroup(group, group)
        try:
            with knn_cs(cs):
                stats = analysis.nnd(line).collect()[0]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[cs] = stats, len(sc.statusTracker().getJobIdsForGroup(group))
    line.unpersist()
    assert got[None][0] == got[30.0][0]
    assert got[None][1] <= min(got[30.0][1], 7), got


def test_non_finite_knn_layer_raises(spark, points):
    """A NaN or infinite coordinate in the neighbor layer leaves no finite
    box to size the cells from: ``nearest_neighbor``, and ``voronoi``
    (whose neighbor layer is its input), raise a ValueError naming the
    layer's coordinate columns after the call's one extent job, instead of
    failing on an unresolvable cell expression while the plan is built."""
    from maskmypy_spark.operators.knn import nearest_neighbor

    for bad in (float("nan"), float("inf")):
        layer = points.unionByName(spark.createDataFrame([(400, bad, 5000.0)], points.schema))
        others = layer.selectExpr("pid AS nn_id", "x AS nn_x", "y AS nn_y")
        with pytest.raises(ValueError, match=r"\(nn_x, nn_y\) must be finite"):
            nearest_neighbor(points, others)
        with pytest.raises(ValueError, match=r"\(_vx, _vy\) must be finite"):
            voronoi(layer)


def test_locationswap_salted_matches_unsalted(points, addresses):
    """``salt`` only scatters hot cells of the annulus join over sub-keys:
    the salted plan carries them, and its result checksums equal to the
    default call's."""
    salted = locationswap(points, 100.0, 500.0, addresses, seed=7, salt=4)
    buf = io.StringIO()
    with redirect_stdout(buf):
        salted.explain(mode="simple")
    assert "_sk" in buf.getvalue()
    assert analysis.checksum(salted) == analysis.checksum(
        locationswap(points, 100.0, 500.0, addresses, seed=7)
    )


def test_escalation_job_budget(spark, points, monkeypatch):
    """One collect of ``voronoi`` runs at most 12 Spark jobs and one of
    ``donut(container=)`` at most 24: each escalation round's residue count
    and donut's orphan count are metrics of a checkpoint job, so a count
    job of their own fails the ceiling. ``nnd_delta(points, points)`` runs
    at most 12, and its cells are sized at ONE layer's density: the same
    cell size as ``nnd(points)``, not the union's (1/sqrt(2) of it)."""
    from maskmypy_spark.operators import knn

    sc = spark.sparkContext
    points.count()  # the fixture's cache build is not the operators'
    cont = _grid_containers(spark)
    for name, run, budget, n_rows in (
        ("voronoi", lambda: voronoi(points), 12, 400),
        ("donut", lambda: donut(points, 50.0, 800.0, seed=31, container=cont), 24, 400),
        ("nnd_delta", lambda: analysis.nnd_delta(points, points), 12, 1),
    ):
        group = f"escalation_job_budget_{name}"
        sc.setJobGroup(group, group)
        try:
            rows = run().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(rows) == n_rows and len(jobs) <= budget, (name, len(jobs))

    sizes, seen = knn._sizes, []
    monkeypatch.setattr(knn, "_sizes", lambda cs: seen.append(cs) or sizes(cs))
    analysis.nnd(points).collect()
    analysis.nnd_delta(points, points).collect()
    assert len(seen) == 2 and seen[0] == seen[1], seen
