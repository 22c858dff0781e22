"""Physical-plan quality gates: the properties that make the engine hold at
100 TB must be visible in `.explain` — codegen for the mask arithmetic,
broadcast for the PIP dimension side, column pruning reaching the parquet
scan, no Python (BatchEvalPython/ArrowEvalPython) in relational hot paths.
"""

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from maskmypy_spark.operators.donut import donut
from maskmypy_spark.operators.pip import pip_join
from maskmypy_spark.sources import fixtures, tables


def _plan(df, mode="formatted"):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_donut_plan_is_jvm_only_and_codegens(spark):
    # range source (local relations constant-fold to LocalTableScan)
    pts = spark.range(1, 1001).selectExpr(
        "id AS pid", "CAST(id AS DOUBLE) AS x", "CAST(id AS DOUBLE) AS y"
    )
    m = donut(pts, 50.0, 500.0, seed=1)
    plan = _plan(m)
    assert "[codegen id :" in plan  # whole-stage codegen active
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pip_join_broadcasts_edges(spark):
    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(50, seed=42))
    rows = [(0, [{"x": 0.0, "y": 0.0}, {"x": 30000.0, "y": 0.0},
                 {"x": 30000.0, "y": 30000.0}, {"x": 0.0, "y": 30000.0}])]
    polys = spark.createDataFrame(rows, "poly_id long, ring array<struct<x:double,y:double>>")
    plan = _plan(pip_join(pts, polys))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan


def test_pip_join_cell_path_shuffles_not_broadcasts(spark):
    """cell_size= must produce a shuffle EQUI-join on the cell key (the
    continent-scale path for polygon layers too big to broadcast) with
    values identical to the broadcast plan — including via donut's
    container_cell_size."""
    from maskmypy_spark.operators.donut import donut

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42))
    rows = []
    for ix in range(8):
        for iy in range(4):
            x0, y0 = ix * 2500.0, iy * 2500.0
            rows.append((ix * 10 + iy, [
                {"x": x0, "y": y0}, {"x": x0 + 2500.0, "y": y0},
                {"x": x0 + 2500.0, "y": y0 + 2500.0}, {"x": x0, "y": y0 + 2500.0},
            ]))
    polys = spark.createDataFrame(
        rows, "poly_id long, ring array<struct<x:double,y:double>>"
    )
    # with auto-broadcast off (as a too-big-to-broadcast layer would be),
    # the cell path MUST still plan — as a shuffle equi-join; the bbox
    # theta-join path can only BroadcastNestedLoop
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cellp = pip_join(pts, polys, cell_size=2000.0)
        plan = _plan(cellp)
        assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BatchEvalPython" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    cellp = pip_join(pts, polys, cell_size=2000.0)
    a = {tuple(r) for r in cellp.collect()}
    b = {tuple(r) for r in pip_join(pts, polys).collect()}
    assert a == b and len(a) == 200

    m1 = donut(pts, 100.0, 500.0, seed=7, container=polys).collect()
    m2 = donut(
        pts, 100.0, 500.0, seed=7, container=polys, container_cell_size=2000.0
    ).collect()
    assert {tuple(r) for r in m1} == {tuple(r) for r in m2}


def test_parquet_scan_prunes_columns(spark):
    """Deriving points reads ONLY the key column from the 5-column parquet
    (ReadSchema pruning via Catalyst)."""
    df = tables.sensitive_df(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "ReadSchema" in plan
    seg = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "c_custkey" in seg
    for dropped in ("c_name", "c_acctbal", "c_mktsegment", "c_nationkey"):
        assert dropped not in seg


def test_locationswap_pick_hash_aggregates(spark):
    """The swap pick must plan as HashAggregate (map-side combining) — a
    min(struct) formulation planned SortAggregate over the entire exploded
    candidate set (the round-1 697s scale-killer)."""
    from maskmypy_spark.operators.locationswap import locationswap

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42))
    addr = spark.createDataFrame(fixtures.addresses_pdf(2000, seed=43))
    plan = _plan(locationswap(pts, 100.0, 500.0, addr, seed=1))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sq_threshold_le_exact():
    """sq_threshold_le(r) must satisfy  sqrt(s) <= r  <=>  s <= T(r)  for
    every double s >= 0 (the proof that squared-space radius/annulus
    predicates keep the pair set bit-identical to the oracle's sqrt
    formulation). Disagreement is only possible within a few ulps of r*r,
    so scan a +-40-ulp boundary window per radius plus far-field samples."""
    import math
    import random

    from maskmypy_spark.operators.distance_join import sq_threshold_le

    rnd = random.Random(7)
    for _ in range(2000):
        r = rnd.choice([
            rnd.uniform(0.001, 1e6),
            float(rnd.randint(0, 10**6)),
            rnd.uniform(0.0, 1.0) * 10.0 ** rnd.randint(-3, 8),
        ])
        T = sq_threshold_le(r)
        s = r * r
        for _ in range(40):
            s = math.nextafter(s, -math.inf)
        for _ in range(80):
            if s >= 0.0:
                assert (math.sqrt(s) <= r) == (s <= T), (r.hex(), s.hex())
            s = math.nextafter(s, math.inf)
    for r in (0.0, 1.0, 100.0, 500.0):
        T = sq_threshold_le(r)
        assert math.sqrt(T) <= r
        assert math.sqrt(math.nextafter(T, math.inf)) > r


def test_locationswap_bare_joinfree_and_payload_paths_agree(spark):
    """Bare (key, x, y) frames take the join-free LEFT OUTER + aggregate
    shape: ONE join total (the candidate join), NO sqrt anywhere in the
    plan (annulus runs in squared space), and results identical to the
    payload path (pick + join-back), including zero-candidate UNMASKED
    rows."""
    from maskmypy_spark.operators.locationswap import locationswap

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(300, seed=42))
    # plant isolated points (far from every address) to exercise UNMASKED=1
    pts = pts.selectExpr(
        "pid", "CASE WHEN pid % 29 = 0 THEN x + 1.0e6 ELSE x END AS x", "y"
    )
    addr = spark.createDataFrame(fixtures.addresses_pdf(2000, seed=43))
    bare = locationswap(pts, 100.0, 500.0, addr, seed=1)
    simple = _plan(bare, mode="simple")
    assert sum(1 for ln in simple.splitlines() if "Join" in ln) == 1, simple
    assert "SQRT" not in _plan(bare).upper()

    withp = pts.withColumn("payload", F.expr("pid * 3"))
    full = locationswap(withp, 100.0, 500.0, addr, seed=1)
    simple = _plan(full, mode="simple")
    assert sum(1 for ln in simple.splitlines() if "Join" in ln) == 2, simple
    a = {tuple(r) for r in bare.collect()}
    b = {tuple(r) for r in full.drop("payload").collect()}
    assert a == b and len(a) == 300
    assert any(r[3] == 1 for r in a)  # isolated points -> UNMASKED


def test_nearest_neighbor_unbounded_round_has_no_fact_join_back(spark, monkeypatch):
    """The unbounded escalation rounds carry the probe row through the
    argmin aggregate as grouping keys (LEFT OUTER cell join), so a
    single-round nearest_neighbor plans exactly ONE join — the cell join.
    The former shape added a ``remaining JOIN picked`` fact join-back per
    round (a full fact shuffle + two sorts at 100 TB)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from maskmypy_spark.operators import knn

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, *a, **kw: self)
    monkeypatch.setattr(knn, "MAX_ROUNDS", 1)
    monkeypatch.setattr(knn, "RESIDUE_BROADCAST_ROWS", 0)
    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42))
    others = pts.selectExpr("pid AS nn_id", "x AS nn_x", "y AS nn_y")
    nn = knn.nearest_neighbor(pts, others, cs=50000.0, exclude_self=True)
    simple = _plan(nn, mode="simple")
    n_joins = sum(1 for ln in simple.splitlines() if "Join" in ln)
    assert n_joins == 1, simple
    rows = {(r["pid"], r["nn_id"]) for r in nn.collect()}
    assert len(rows) == 200


def test_nearest_neighbor_argmin_hash_aggregates(spark, monkeypatch):
    """The kNN argmin must plan as HashAggregate — min(struct) forced a
    SortAggregate over the 9x exploded candidate set on the voronoi/snap/NND
    hot paths (CLAUDE.md invariant; round-2 verdict item 1). localCheckpoint
    is stubbed out so the per-round aggregate stays visible in the final
    lineage (the real path materializes each round eagerly)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from maskmypy_spark.operators.snap import snap_to_nodes
    from maskmypy_spark.operators.voronoi import voronoi

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, *a, **kw: self
    )
    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42))
    plan = _plan(voronoi(pts, cs=1000.0))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # payload columns (a caption string, image bytes) must stay out of the
    # candidate stream: min() over them would plan a SortAggregate
    payload = pts.select(
        "pid",
        F.concat(F.lit("pt "), F.col("pid").cast("string")).alias("caption"),
        F.expr("CAST(concat('img', CAST(pid AS STRING)) AS BINARY)").alias("image"),
    )
    withp = pts.join(payload, "pid")
    plan = _plan(voronoi(withp, cs=1000.0))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan

    def rows(df):
        return {
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in df.collect()
        }

    got = rows(voronoi(withp, cs=1000.0))
    assert got == rows(voronoi(pts, cs=1000.0).join(payload, "pid"))
    assert len(got) == 200

    nodes = spark.createDataFrame(fixtures.road_nodes_pdf(500))
    plan = _plan(snap_to_nodes(pts, nodes, cs=1000.0))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_packed_pick_carries_hash_aggregate(spark, monkeypatch):
    """knn.packed_pick's preconditions, gated: a non-key DOUBLE carry rides
    the pick as a hash-aggregable min() buffer and comes out unchanged, the
    winner is the (score, id) argmin, and a string payload on
    nearest_neighbor stays out of the candidate stream (a string min()
    carry would plan a SortAggregate)."""
    import numpy as np
    from pyspark.sql.classic.dataframe import DataFrame

    from maskmypy_spark.operators import knn
    from maskmypy_spark.operators.distance_join import dist_sql

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, *a, **kw: self)
    pdf = fixtures.sensitive_points_pdf(150, seed=42)
    pts = spark.createDataFrame(pdf).withColumn("w", F.col("x") / 7.0)
    others = pts.selectExpr("pid AS nn_id", "x AS nn_x", "y AS nn_y")
    cand = pts.crossJoin(others).where("pid != nn_id")
    score = F.floor(F.expr(dist_sql("x", "y", "nn_x", "nn_y"))).cast("long")
    picked = knn.packed_pick(cand, "pid", score, "nn_id", carry=("w",), take=("nn_x",))
    plan = _plan(picked)
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    got = {r["pid"]: (r["w"], r["nn_id"], r["nn_x"]) for r in picked.collect()}
    x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    for i in range(len(pdf)):
        d = np.floor(np.sqrt((x - x[i]) * (x - x[i]) + (y - y[i]) * (y - y[i])))
        d[i] = np.inf
        j = int(np.lexsort((np.arange(len(pdf)), d))[0])
        assert got[i] == (x[i] / 7.0, j, x[j])

    withp = pts.drop("w").withColumn(
        "caption", F.concat(F.lit("pt "), F.col("pid").cast("string"))
    )
    nn = knn.nearest_neighbor(withp, others, cs=300.0, exclude_self=True)
    plan = _plan(nn)
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    rows = nn.collect()
    assert {r["pid"]: r["caption"] for r in rows} == {i: f"pt {i}" for i in range(150)}
    bare = knn.nearest_neighbor(pts.drop("w"), others, cs=300.0, exclude_self=True)
    assert {r["pid"]: r["nn_id"] for r in rows} == {
        r["pid"]: r["nn_id"] for r in bare.collect()
    }


def test_nearest_neighbor_cell_join_never_broadcasts_fact_sides(spark, monkeypatch):
    """r4 q_voronoi_nn regression gate: Catalyst's size estimate ignores the
    9x cell explode, so under the session's 64 MB auto-broadcast threshold a
    mid-size self-join planned a BroadcastHashJoin that built a hash
    relation from the EXPLODED probe side — millions of rows through the
    driver, once per escalation round. With broadcast_others=False the cell
    join must stay a shuffled SortMergeJoin at ANY size estimate (tiny test
    inputs are exactly the trigger condition: both sides sit far below the
    threshold, so without the merge hint the planner always broadcasts)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from maskmypy_spark.operators.knn import knn_join
    from maskmypy_spark.operators.voronoi import voronoi

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, *a, **kw: self
    )

    def _cell_join_lines(df):
        # simple mode keeps the join keys on the operator's own line; the
        # coordinate-recovery joins (on okey/key) MAY legitimately broadcast
        # at small estimated sizes — only the _cell join is fact x fact
        return [
            ln
            for ln in _plan(df, mode="simple").splitlines()
            if "Join" in ln and "_cell" in ln
        ]

    from maskmypy_spark.operators import knn
    from maskmypy_spark.operators.knn import nearest_neighbor

    def no_residue_broadcast(build):
        with monkeypatch.context() as m:
            m.setattr(knn, "RESIDUE_BROADCAST_ROWS", 0)
            return build()

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42))
    others = pts.selectExpr("pid AS nn_id", "x AS nn_x", "y AS nn_y")

    # with the bounded-residue escalation DISABLED, every cell join (all
    # rounds) must stay sort-merge at any size estimate — the original r4
    # gate, unchanged
    lines = _cell_join_lines(no_residue_broadcast(
        lambda: nearest_neighbor(pts, others, cs=1000.0, exclude_self=True)
    ))
    assert lines, "no cell join found in plan"
    assert all("SortMergeJoin" in ln for ln in lines), lines

    # default path: round 1 (the UNBOUNDED fact x fact join — printed first,
    # parts are unioned in round order) must still be sort-merge; later
    # rounds MAY broadcast because the driver has COUNTED the residue under
    # knn.RESIDUE_BROADCAST_ROWS (a bound, not a planner estimate), and results
    # must be identical either way
    lines = _cell_join_lines(voronoi(pts, cs=1000.0))
    assert lines, "no cell join found in plan"
    assert "SortMergeJoin" in lines[0], lines
    assert all("NestedLoop" not in ln for ln in lines), lines
    a = {tuple(r) for r in voronoi(pts, cs=1000.0).collect()}
    b = {
        tuple(r)
        for r in no_residue_broadcast(
            lambda: nearest_neighbor(pts, others, cs=1000.0, exclude_self=True)
        )
        .select("pid")
        .collect()
    }
    assert len(a) == 200 and {r[0] for r in a} == {r[0] for r in b}

    lines = _cell_join_lines(no_residue_broadcast(
        lambda: knn_join(pts, others, k=2, cs=1000.0, exclude_self=True)
    ))
    assert lines, "no cell join found in plan"
    assert all("SortMergeJoin" in ln for ln in lines), lines
    lines = _cell_join_lines(knn_join(pts, others, k=2, cs=1000.0, exclude_self=True))
    assert lines and "SortMergeJoin" in lines[0], lines

    # the explicit dimension path still broadcasts when the caller asks
    lines = _cell_join_lines(
        knn_join(
            pts, others, k=2, cs=1000.0, exclude_self=True,
            broadcast_others=True,
        )
    )
    assert lines and all("BroadcastHashJoin" in ln for ln in lines), lines


def test_nearest_neighbor_results_cs_independent(spark):
    """The starting cell size is a pure performance knob: results must be
    identical at any cs (the escalation loop guarantees exactness; the
    quantized argmin's granularity is sub-micrometer at every round)."""
    from maskmypy_spark.operators.voronoi import voronoi

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(400, seed=42))
    outs = [
        {tuple(r) for r in voronoi(pts, cs=cs).collect()}
        for cs in (150.0, 450.0, 1350.0, None)
    ]
    assert all(o == outs[0] for o in outs[1:])
    assert len(outs[0]) == 400


def test_nearest_neighbor_salted_join_shape(spark, monkeypatch):
    """salt=4 must appear in the shuffle key (hot-cell scatter) and leave
    results identical to the unsalted plan."""
    from pyspark.sql.classic.dataframe import DataFrame

    from maskmypy_spark.operators.knn import knn_join, nearest_neighbor

    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, *a, **kw: self
    )

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(300, seed=7))
    # one dense cluster: all points mapped into a ~50m blob + sparse rest
    dense = pts.selectExpr("pid", "x % 50 + 1000.0 AS x", "y % 50 + 1000.0 AS y")
    others = dense.selectExpr("pid AS nn_id", "x AS nn_x", "y AS nn_y")
    salted = nearest_neighbor(dense, others, cs=200.0, exclude_self=True, salt=4)
    plain = nearest_neighbor(dense, others, cs=200.0, exclude_self=True)
    assert "_sk" in _plan(salted, mode="simple")
    a = {tuple(r) for r in salted.select("pid", "nn_id", "nn_dist").collect()}
    b = {tuple(r) for r in plain.select("pid", "nn_id", "nn_dist").collect()}
    assert a == b
    ks = knn_join(dense, others, k=2, cs=200.0, exclude_self=True, salt=4)
    kp = knn_join(dense, others, k=2, cs=200.0, exclude_self=True)
    a = {tuple(r) for r in ks.select("pid", "nn_id", "rank").collect()}
    b = {tuple(r) for r in kp.select("pid", "nn_id", "rank").collect()}
    assert a == b


def test_knn_join_cs_independent_and_window_bounded(spark, monkeypatch):
    """knn_join carries nearest_neighbor's guarantees (VERDICT r03 next #6):
    results identical at any starting cell size (the k-th-distance
    convergence proof makes cs a pure performance knob), and the per-round
    top-k Window stays a LOCAL per-partition sort over the 3x3-cell
    candidate set — never a global Sort of the exploded candidates, no
    SortAggregate, no Python in the plan."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    from maskmypy_spark.operators.knn import knn_join

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(400, seed=42))
    others = pts.selectExpr("pid AS nn_id", "x AS nn_x", "y AS nn_y")
    outs = [
        {
            tuple(r)
            for r in knn_join(pts, others, k=3, cs=cs, exclude_self=True).collect()
        }
        for cs in (150.0, 450.0, 1350.0, None)
    ]
    assert all(o == outs[0] for o in outs[1:])
    assert len(outs[0]) == 1200

    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, *a, **kw: self)
    plan = _plan(knn_join(pts, others, k=3, cs=450.0, exclude_self=True))
    assert "SortAggregate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the rank<=k filter must push into the Window as a group limit: the
    # per-partition sort state is then O(k), map-side (Partial) BEFORE the
    # exchange — candidates never accumulate into an unbounded sort buffer
    assert "WindowGroupLimit" in plan, plan
    sorts = re.findall(
        r"\(\d+\) Sort[^\n]*\n(?:[^\n]+\n)*?Arguments: \[[^\]]*\], (true|false), 0",
        plan,
    )
    assert sorts, plan  # the Window's local sort is present...
    assert all(g == "false" for g in sorts), plan  # ...and nothing global


def test_k_verify_pipeline_plan_quality(spark):
    """The join-free pipeline k-verify: no pid-join of the fact table before
    the annulus join, count aggregate hash-aggregates, zero Python."""
    from maskmypy_spark import analysis
    from maskmypy_spark.operators.donut import donut

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42))
    addr = spark.createDataFrame(fixtures.addresses_pdf(2000, seed=43))
    m = donut(analysis.with_original(pts), 100.0, 500.0, seed=42)
    disp = analysis.displacement_from_payload(m)
    k = analysis.k_anonymity_address(
        pts, m.drop("_orig_x", "_orig_y"), addr, max_radius=500.0, disp=disp
    )
    plan = _plan(k.select("pid", "k_anonymity"))
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # a bare (key, x, y, _distance) frame: exactly ONE join operator, the
    # LEFT OUTER annulus cell join — no displacement pid-join of the fact
    # table and no join-back (simple mode prints each operator once)
    simple = _plan(k.select("pid", "k_anonymity"), mode="simple")
    n_joins = sum(1 for ln in simple.splitlines() if "Join" in ln)
    assert n_joins == 1, simple

    # slim path: the same single join, and values match the default exactly
    ks = analysis.k_anonymity_address(
        pts, m.drop("_orig_x", "_orig_y"), addr, max_radius=500.0,
        disp=disp, slim=True,
    )
    simple = _plan(ks.select("pid", "k_anonymity"), mode="simple")
    n_joins = sum(1 for ln in simple.splitlines() if "Join" in ln)
    assert n_joins == 1, simple
    a = {(r["pid"], r["k_anonymity"]) for r in ks.collect()}
    b = {(r["pid"], r["k_anonymity"]) for r in k.select("pid", "k_anonymity").collect()}
    assert a == b


def test_k_anonymity_address_payload_joins_back_once(spark):
    """Payload columns (a caption string, image bytes) stay out of the pair
    stream: the count aggregate hash-aggregates (a string/binary min()
    carry would plan a SortAggregate), the payload comes back unchanged in
    the candidate's column order, and k equals the bare run's."""
    from maskmypy_spark import analysis
    from maskmypy_spark.operators.donut import donut

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42))
    addr = spark.createDataFrame(fixtures.addresses_pdf(2000, seed=43))
    m = donut(pts, 100.0, 500.0, seed=42)
    withp = m.select(
        "pid",
        F.concat(F.lit("pt "), F.col("pid").cast("string")).alias("caption"),
        "x",
        F.expr("CAST(concat('img', CAST(pid AS STRING)) AS BINARY)").alias("image"),
        "y",
    )
    k = analysis.k_anonymity_address(pts, withp, addr, max_radius=500.0)
    plan = _plan(k)
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
    assert k.columns == ["pid", "caption", "x", "image", "y", "k_anonymity"]

    def rows(df):
        return {
            tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
            for r in df.collect()
        }

    got = rows(k)
    want = rows(
        withp.join(
            analysis.k_anonymity_address(pts, m, addr, max_radius=500.0)
            .select("pid", "k_anonymity"),
            "pid",
        ).select(*k.columns)
    )
    assert got == want and len(got) == 200
    assert len({r[-1] for r in got}) > 1  # k varies across the fixture


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """sources/bucketed.py: two tables bucketed on the join key with the
    same bucket count join WITHOUT an Exchange on either side — the
    persisted-shuffle co-location that saves re-moving the fact table on
    every query at 100 TB. A plain parquet read of the same files (no
    bucket spec) must show the Exchange, proving the gate is meaningful."""
    from maskmypy_spark.sources import bucketed

    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(2000, seed=42))
    k = pts.selectExpr("pid", "CAST(pid % 7 AS INT) AS k_anonymity")
    bucketed.write_bucketed(pts, "t_pts_b", str(tmp_path / "pts_b"), "pid", 8)
    bucketed.write_bucketed(k, "t_k_b", str(tmp_path / "k_b"), "pid", 8)
    # disable auto-broadcast: at test scale the dim side broadcasts (which
    # also disables bucketed scans); the gate targets the at-scale shuffle
    # path where neither side fits in a broadcast
    with_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed.read_bucketed(spark, "t_pts_b").join(
            bucketed.read_bucketed(spark, "t_k_b"), "pid"
        )
        plan = _plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # broadcast is off, so ANY Exchange here would be a shuffle
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() == 2000

        # control: the same files WITHOUT the bucket spec shuffle both sides
        raw = spark.read.parquet(str(tmp_path / "pts_b")).join(
            spark.read.parquet(str(tmp_path / "k_b")), "pid"
        )
        assert "Exchange" in _plan(raw)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_thresh)
        spark.sql("DROP TABLE IF EXISTS t_pts_b")
        spark.sql("DROP TABLE IF EXISTS t_k_b")


def test_k_verify_bucketed_address_exchange_free(spark, tmp_path):
    """distance_join(right_cell_col=) + a cell-bucketed address table: the
    k-verification build side scans exchange-free (its cell index was
    persisted at write time), values identical to the computed-cell path.
    One Exchange disappears vs the plain plan — at 100 TB that is the
    recurring re-shuffle of the whole stored dimension."""
    from maskmypy_spark import analysis
    from maskmypy_spark.functions import cells
    from maskmypy_spark.operators.donut import donut
    from maskmypy_spark.sources import bucketed

    CS = 250.0  # radius 500 / 2 — pinned, so the stored cell index is valid
    pts = spark.createDataFrame(fixtures.sensitive_points_pdf(500, seed=42))
    addr = spark.createDataFrame(fixtures.addresses_pdf(3000, seed=43))
    addr_c = addr.withColumn("cell", F.expr(cells.cell_sql("ax", "ay", CS)))
    bucketed.write_bucketed(addr_c, "t_addr_c", str(tmp_path / "addr_c"), "cell", 8)

    m = donut(analysis.with_original(pts), 100.0, 500.0, seed=42)
    disp = analysis.displacement_from_payload(m)

    def kv(address, **kw):
        return analysis.k_anonymity_address(
            pts, m.drop("_orig_x", "_orig_y"), address, max_radius=500.0,
            disp=disp, slim=True, cs=CS, **kw
        ).select("pid", "k_anonymity")

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = kv(addr)
        buck = kv(bucketed.read_bucketed(spark, "t_addr_c"), addr_cell_col="cell")
        p_plain, p_buck = _plan(plain), _plan(buck)
        assert "Bucketed: true" in p_buck, p_buck
        n_ex = lambda p: p.count(") Exchange")
        assert n_ex(p_buck) == n_ex(p_plain) - 1, (p_plain, p_buck)
        a = {tuple(r) for r in plain.collect()}
        b = {tuple(r) for r in buck.collect()}
        assert a == b and len(a) == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_addr_c")


def test_mask_filter_pushdown_to_scan(spark):
    """A filter on the derived key pushes down to the parquet scan."""
    df = tables.sensitive_df(spark, "/root/testdata/sf0.001").where("pid <= 100")
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "LessThanOrEqual(c_custkey,100)" in pushed.replace(" ", "")
