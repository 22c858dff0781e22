"""Exact-value analytics oracles transcribed from the reference's golden
tests (/root/reference/tests/test_analysis.py) with one documented
divergence: the engine's k-disk is the exact CLOSED disk (dist <= r),
whereas the reference buffers points into 32-gon polygon approximations
whose boundary behavior is a numerical artifact (a point exactly at
distance r is included on the +x side of the buffer and excluded on the -x
side). Golden expectations below are the closed-disk values; boundary-free
cases match the reference exactly.
"""

import math

import pandas as pd
import pytest

from maskmypy_spark import analysis


def _pts(spark, coords):
    return spark.createDataFrame(
        pd.DataFrame([(i, float(x), float(y)) for i, (x, y) in enumerate(coords)],
                     columns=["pid", "x", "y"])
    )


def _addr(spark, coords):
    return spark.createDataFrame(
        pd.DataFrame([(i, float(x), float(y)) for i, (x, y) in enumerate(coords)],
                     columns=["aid", "ax", "ay"])
    )


ADDRS = [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0), (7, 0)]


@pytest.mark.parametrize(
    "sens,masked,k_expected",
    [
        # reference test_analysis.py:38-82; closed-disk counts:
        ((0, 0), (1, 0), 4),   # r=1 around (1,0): {0,1,2} -> 3+1 (ref: 3, buffer artifact)
        ((0, 0), (2, 0), 6),   # r=2 around (2,0): {0..4} -> 5+1 (ref: 5)
        ((0, 0), (3, 0), 7),   # r=3 around (3,0): {0..5} -> 6+1 (ref: 6, buffer artifact)
        ((0, 0), (-1, 0), 2),  # r=1 around (-1,0): {0} -> 1+1 (ref: 2, matches)
        ((-7, 0), (0, 0), 8),  # r=7 around (0,0): {0..5,7} -> 7+1... see below
    ],
)
def test_address_k_goldens(spark, sens, masked, k_expected):
    s = _pts(spark, [sens])
    m = _pts(spark, [masked])
    a = _addr(spark, ADDRS)
    k = analysis.k_anonymity_address(s, m, a).collect()[0]["k_anonymity"]
    # closed-disk ground truth computed independently here:
    r = math.dist(sens, masked)
    want = 1 + sum(1 for ax, ay in ADDRS if math.dist((ax, ay), masked) <= r)
    assert want == k_expected  # sanity of the hand-computed table
    assert k == k_expected


def test_k_anonymity_dispatches_on_the_given_address_columns(spark):
    """``k_anonymity`` picks the address path from the ``ax`` it is given,
    not from a hard-coded "ax" column: addresses named (lon, lat) give the
    same k as the default names."""
    s = _pts(spark, [(0, 0), (-7, 0)])
    m = _pts(spark, [(2, 0), (0, 0)])
    a = _addr(spark, ADDRS)
    renamed = a.withColumnsRenamed({"ax": "lon", "ay": "lat"})
    got = analysis.k_anonymity(s, m, renamed, ax="lon", ay="lat")
    want = analysis.k_anonymity(s, m, a)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}
    assert {r["pid"]: r["k_anonymity"] for r in got.collect()} == {0: 6, 1: 8}


def test_polygon_k_goldens(spark):
    """reference test_analysis.py:84-126 with EXACT circle areas (the
    reference's expected values use shapely's 32-gon buffer area; ours is
    the true circle, so the quarter-coverage cases use pi*r^2/4)."""
    polys = [
        (1, 1.0, [(0, 0), (0, 1), (1, 1), (1, 0)]),
        (10, 10.0, [(0, 0), (1, 0), (1, -1), (-1, 0)]),
        (100, 100.0, [(0, 0), (0, -1), (-1, -1), (-1, 0)]),
        (1000, 1000.0, [(0, 0), (-1, 0), (-1, 1), (0, 1)]),
    ]
    rows = [
        (pid, pop, [{"x": float(x), "y": float(y)} for x, y in ring])
        for pid, pop, ring in polys
    ]
    pop_df = spark.createDataFrame(
        rows, "poly_id long, pop double, ring array<struct<x:double,y:double>>"
    )

    # circle covers everything -> k = sum(pop) (boundary-free, matches ref)
    s = _pts(spark, [(3, 0)])
    m = _pts(spark, [(0, 0)])
    k = analysis.k_anonymity_polygon(s, m, pop_df).collect()[0]["k_anonymity"]
    assert k == 1111

    # quarter coverage of the pop-1000 unit square: circle r=1 at (-1,1)
    # covers its bottom-right quadrant: k = floor(1000 * (pi/4) / 1)
    s = _pts(spark, [(0, 1)])
    m = _pts(spark, [(-1, 1)])
    k = analysis.k_anonymity_polygon(s, m, pop_df).collect()[0]["k_anonymity"]
    assert k == math.floor(1000 * math.pi / 4)

    # partial coverage of all four polygons from the origin. poly1/100/1000
    # are unit squares (quarter-disk coverage = pi/4); poly10 is the
    # reference's skewed quad whose exact clip area differs slightly from
    # pi/4 (the reference test ASSUMES pi/4 for it and passes only at floor
    # granularity). Expected from the MC-validated exact kernel:
    import numpy as np

    from maskmypy_spark.functions import geometry

    s = _pts(spark, [(1, 0)])
    m = _pts(spark, [(0, 0)])
    k = analysis.k_anonymity_polygon(s, m, pop_df).collect()[0]["k_anonymity"]
    f10 = geometry.circle_ring_area(
        0, 0, 1.0, np.array([0.0, 1.0, 1.0, -1.0]), np.array([0.0, 0.0, -1.0, 0.0])
    )
    expected = math.floor((1 + 100 + 1000) * math.pi / 4 + 10 * f10)
    assert k == expected
    assert abs(expected - math.floor(1111 * math.pi / 4)) <= 2  # near reference value


def test_polygon_k_cell_path_equals_broadcast_path(spark):
    """The continent-scale cell-indexed equi-join prefilter must produce
    identical k values to the broadcast bbox range join."""
    from maskmypy_spark import analysis
    from maskmypy_spark.operators.donut import donut
    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(150, seed=42)).cache()
    m = donut(pts, 50.0, 400.0, seed=5)
    rect = 2500.0
    rows = []
    for ix in range(8):
        for iy in range(4):
            x0, y0 = ix * rect, iy * rect
            ring = [
                {"x": x0, "y": y0}, {"x": x0 + rect, "y": y0},
                {"x": x0 + rect, "y": y0 + rect}, {"x": x0, "y": y0 + rect},
            ]
            rows.append((ix * 10 + iy, ring, 200.0 + ix * 5))
    polys = spark.createDataFrame(
        rows, "poly_id long, ring array<struct<x:double,y:double>>, pop double"
    )
    a = {r["pid"]: r["k_anonymity"]
         for r in analysis.k_anonymity_polygon(pts, m, polys).collect()}
    b = {r["pid"]: r["k_anonymity"]
         for r in analysis.k_anonymity_polygon(pts, m, polys, cell_size=1000.0).collect()}
    assert a == b and len(a) == 150


def test_translation_goldens(spark):
    """reference test_analysis.py:28-35,129-133,163-169,187-197: a copy
    translated by (50, 0) has displacement min=max=med=mean=50, drift=50,
    all NND deltas 0, ripley_rmse 0."""
    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(150, seed=42)).cache()
    from pyspark.sql import functions as F

    moved = pts.withColumn("x", F.col("x") + 50.0)
    d = analysis.summarize_displacement(analysis.displacement(pts, moved)).collect()[0]
    assert (
        d["displacement_min"] == d["displacement_max"]
        == d["displacement_med"] == d["displacement_mean"] == 50.0
    )
    drift = analysis.central_drift(pts, moved).collect()[0][0]
    assert drift == 50.0
    nd = analysis.nnd_delta(pts, moved).collect()[0]
    assert nd["nnd_min_delta"] == nd["nnd_max_delta"] == nd["nnd_mean_delta"] == 0.0
    ra = analysis.ripleys_k(pts, max_dist=1000.0)
    rb = analysis.ripleys_k(moved, max_dist=1000.0)
    assert analysis.ripley_rmse(ra, rb) == 0.0


def test_ripley_k_properties(spark):
    """K is nondecreasing in d; CSR simulation envelope brackets a CSR-like
    uniform pattern; stronger masking moves K further (reference
    test_analysis.py:149-160 ordering)."""
    from maskmypy_spark.operators.donut import donut
    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(250, seed=42)).cache()
    r = analysis.ripleys_k(pts, max_dist=2000.0, simulations=19).collect()
    stats = [row["statistic"] for row in sorted(r, key=lambda q: q["band"])]
    assert all(b >= a for a, b in zip(stats, stats[1:]))
    # clustered pattern: K above the CSR upper envelope at mid distances
    mid = sorted(r, key=lambda q: q["band"])[5]
    assert mid["statistic"] > mid["sim_high"]

    rm_small = analysis.ripleys_k(donut(pts, 1.0, 5.0, seed=1), max_dist=2000.0)
    rm_big = analysis.ripleys_k(donut(pts, 1000.0, 5000.0, seed=1), max_dist=2000.0)
    base = analysis.ripleys_k(pts, max_dist=2000.0)
    assert analysis.ripley_rmse(base, rm_small) < analysis.ripley_rmse(base, rm_big)


def test_nnd_delta_fused_matches_separate(spark):
    """The fused single-loop nnd_delta (group-aware NN join) must equal the
    two independent nnd() runs bit-for-bit — including when the layers are
    spatially interleaved (side column, not distance, separates them)."""
    from pyspark.sql import functions as F

    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(300, seed=42)).cache()
    # interleaved candidate: jittered copy occupying the SAME box, so a
    # side-mixing bug would pick cross-layer neighbors (far closer than
    # intra-layer ones) and shift every stat
    cand = pts.withColumn("x", F.col("x") + 13.0).withColumn("y", F.col("y") - 7.0)
    got = analysis.nnd_delta(pts, cand).collect()[0]
    b = analysis.nnd(pts).collect()[0]
    a = analysis.nnd(cand).collect()[0]
    assert got["nnd_min_delta"] == round(a["nnd_min"] - b["nnd_min"], 6)
    assert got["nnd_max_delta"] == round(a["nnd_max"] - b["nnd_max"], 6)
    assert got["nnd_mean_delta"] == round(a["nnd_mean"] - b["nnd_mean"], 6)


def test_nnd_delta_cs_independent(spark, knn_cs):
    """The fused nnd_delta equals the two separate nnd() runs at ANY
    starting cell size. A small cs sends most points through later
    escalation rounds; a point that meets no cell-mate in a round must keep
    its side column for the next one (the build side's copy of the group
    key once replaced it, NULL-extended, and the point dropped out of
    every later round and of the stats)."""
    from maskmypy_spark.operators.donut import donut
    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(400, seed=42)).cache()
    cand = donut(pts, 50.0, 500.0, seed=7).cache()
    b = analysis.nnd(pts).collect()[0]
    a = analysis.nnd(cand).collect()[0]
    want = tuple(round(a[f"nnd_{s}"] - b[f"nnd_{s}"], 6) for s in ("min", "max", "mean"))
    for cs in (25.0, 150.0, None):
        with knn_cs(cs):
            assert tuple(analysis.nnd_delta(pts, cand).collect()[0]) == want, cs


def test_ripley_scale_guard(spark):
    """VERDICT r03 'What's wrong' #1: the default bbox-scale radius must
    not degenerate toward all-pairs on a dense layer. With ``max_pairs``
    set below n^2 * frac, the point set is hash-thinned to a bounded m
    (reported in the warning), deterministically, and the thinned statistic
    is an unbiased estimate of the exact K (invariance of K under
    independent thinning)."""
    import re
    import warnings

    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(4000, seed=42)).cache()
    pts.count()
    with warnings.catch_warnings(record=True) as wl:
        warnings.simplefilter("always")
        guarded = analysis.ripleys_k(pts, max_dist=2000.0, max_pairs=2e5).collect()
    msgs = [str(w.message) for w in wl if "ripleys_k" in str(w.message)]
    assert msgs, "scale guard did not warn"
    m_kept = int(re.search(r"4000 -> (\d+) points", msgs[0]).group(1))
    # frac = pi*2000^2 / (20000*10000) ~ 0.0628 -> m_target = sqrt(2e5/frac) ~ 1784
    assert m_kept <= 2100, m_kept  # candidate volume bounded: m^2*frac <~ max_pairs
    assert m_kept >= 1400, m_kept  # but not over-thinned

    # deterministic: same seed -> identical output
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        again = analysis.ripleys_k(pts, max_dist=2000.0, max_pairs=2e5).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, again))

    # unbiased: thinned K tracks the exact K (loose statistical tolerance)
    exact = analysis.ripleys_k(pts, max_dist=2000.0, max_pairs=None).collect()
    ex = {r["band"]: r["statistic"] for r in exact}
    for r in guarded:
        assert abs(r["statistic"] - ex[r["band"]]) <= 0.25 * ex[r["band"]] + 1e-9

    # guard inactive below the threshold: bit-identical to the exact path
    small = analysis.ripleys_k(pts, max_dist=2000.0).collect()  # 4000^2*0.063 = 1e6 < 5e7
    assert sorted(map(tuple, small)) == sorted(map(tuple, exact))


def test_nnd_delta_key_bound_guard(spark):
    """ADVICE r04: keys >= 2^31 would silently collide across the packed
    side*2^31+key row ids — the projection must raise instead."""
    import pytest
    from pyspark.sql import functions as F

    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(20, seed=1))
    bad = pts.withColumn("pid", (F.col("pid") + F.lit(1 << 31)).cast("long"))
    cand = bad.withColumn("x", F.col("x") + 5.0)
    with pytest.raises(Exception, match="nnd_delta"):
        analysis.nnd_delta(bad, cand).collect()
    # negative keys collide the same way (side 1, key -k == side 0, key 2^31-k)
    neg = pts.withColumn("pid", (-F.col("pid") - 1).cast("long"))
    with pytest.raises(Exception, match="nnd_delta"):
        analysis.nnd_delta(neg, neg.withColumn("x", F.col("x") + 5.0)).collect()


def test_ripley_thinning_underflow_guard(spark):
    """ADVICE r04: an unlucky seeded draw can keep < 2 points — the scale
    denominator n*(n-1) must raise a clear ValueError, not ZeroDivisionError."""
    import warnings

    import pytest

    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(40, seed=7)).cache()
    pts.count()
    raised = 0
    for seed in range(1, 13):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            try:
                # frac=1 at this max_dist, m_target floors at 2, p=0.05:
                # several of these deterministic draws keep 0 or 1 points
                analysis.ripleys_k(
                    pts, max_dist=30000.0, max_pairs=4.0, seed=seed
                )
            except ValueError as e:
                assert "ripleys_k" in str(e) and ">= 2" in str(e)
                raised += 1
    assert raised, "no seed triggered the underflow guard"


def test_suppress_and_satisfaction(spark):
    from maskmypy_spark.operators.suppress import suppress

    df = _pts(spark, [(0, 0), (10, 0), (0, 10), (10, 10)]).withColumn(
        "k_anonymity", (F := __import__("pyspark.sql.functions", fromlist=["col"])).col("pid") + 1
    )
    s = suppress(df, min_k=3).collect()
    by_id = {r["pid"]: r for r in s}
    assert by_id[0]["SUPPRESSED"] == "TRUE" and by_id[1]["SUPPRESSED"] == "TRUE"
    assert by_id[2]["SUPPRESSED"] == "FALSE" and by_id[3]["SUPPRESSED"] == "FALSE"
    assert by_id[0]["x"] == 5.0 and by_id[0]["y"] == 5.0  # mean center
    assert by_id[3]["x"] == 10.0

    ks = analysis.k_satisfaction_value(df, 3)
    assert ks == 0.5


def test_svg_renderers(spark, tmp_path):
    """A20 analogues (reference map_displacement / graph_ripleyresult):
    dependency-free SVG output parses as XML and scales to the data."""
    import xml.etree.ElementTree as ET

    from maskmypy_spark import analysis
    from maskmypy_spark.functions import viz
    from maskmypy_spark.operators.donut import donut
    from maskmypy_spark.sources import fixtures

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(120, seed=42))
    m = donut(pts, 50.0, 400.0, seed=3)
    seg = analysis.displacement(pts, m)
    seg = m.join(
        pts.selectExpr("pid", "x AS _s_x", "y AS _s_y"), "pid"
    )
    svg1 = viz.render_displacement_svg(seg, path=str(tmp_path / "disp.svg"))
    root = ET.fromstring(svg1)
    assert len(root) >= 1 + 2 * 120  # background + line+dot per point

    r = analysis.ripleys_k(pts, max_dist=1000.0, steps=8, simulations=9, seed=4)
    svg2 = viz.render_ripley_svg(r, path=str(tmp_path / "ripley.svg"))
    root2 = ET.fromstring(svg2)
    tags = {e.tag.split("}")[-1] for e in root2}
    assert "polyline" in tags and "polygon" in tags  # curve + envelope

    # A20 analogue of the reference's Atlas.scatter: one dot per point
    svg3 = viz.render_scatter_svg(m, path=str(tmp_path / "scatter.svg"))
    root3 = ET.fromstring(svg3)
    assert sum(1 for e in root3 if e.tag.endswith("circle")) == 120
    assert open(tmp_path / "scatter.svg").read() == svg3
