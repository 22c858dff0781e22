"""Lineage layer: Atlas candidates + replay checksum contract, manifest
write/resume.
Reference idioms: /root/reference/tests/test_atlas.py (SURVEY §5.7).
"""

import io
import json
import os

import pytest

from maskmypy_spark import analysis
from maskmypy_spark.operators.donut import donut
from maskmypy_spark.operators.locationswap import locationswap
from maskmypy_spark.plans.atlas import Atlas
from maskmypy_spark.plans.manifest import run_mask
from maskmypy_spark.sources import fixtures


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(fixtures.sensitive_points_pdf(200, seed=42)).cache()


@pytest.fixture(scope="module")
def addresses(spark):
    return spark.createDataFrame(fixtures.addresses_pdf(2000, seed=43)).cache()


def test_atlas_mask_records_candidate_and_stats(points, addresses):
    atlas = Atlas(points, population=addresses)
    masked = atlas.mask(donut, low=50.0, high=300.0, seed=99)
    assert masked.count() == 200
    c = atlas.candidates[0]
    assert c["mask"] == "donut"
    assert c["kwargs"]["seed"] == 99
    assert 50.0 <= c["stats"]["displacement_min"]
    assert c["stats"]["displacement_max"] <= 300.0
    assert "k_mean" in c["stats"] and c["stats"]["k_min"] >= 1
    assert c["stats"]["execution_time"] > 0


def test_atlas_replay_checksum_contract(points):
    """reference atlas.py:229-233: regenerated checksum must equal the
    recorded one; a different-seed run must not."""
    atlas = Atlas(points)
    atlas.mask(donut, low=50.0, high=300.0, seed=5, evaluate=False)
    replayed = atlas.gen_df(0)
    assert analysis.checksum(replayed) == atlas.candidates[0]["checksum"]
    atlas.candidates[0]["kwargs"]["seed"] = 6
    with pytest.raises(ValueError, match="does not match"):
        atlas.gen_df(0)


def test_atlas_layer_hydration(points, addresses):
    atlas = Atlas(points)
    masked = atlas.mask(locationswap, low=50.0, high=500.0, address=addresses, seed=4, evaluate=False)
    assert masked.count() == 200
    kw = atlas.candidates[0]["kwargs"]
    assert kw["address"].startswith("context_")
    # replay re-hydrates the address layer from the store
    assert analysis.checksum(atlas.gen_df(0)) == atlas.candidates[0]["checksum"]
    # missing layer -> KeyError (reference tests/test_atlas.py:81-96)
    bad = Atlas(points)
    bad.candidates = json.loads(json.dumps(atlas.candidates))
    bad._mask_registry = {"locationswap": locationswap}
    with pytest.raises(KeyError):
        bad.gen_df(0)


def test_atlas_json_roundtrip_and_sort(points, addresses, tmp_path):
    atlas = Atlas(points, population=addresses)
    atlas.mask(donut, low=50.0, high=200.0, seed=1)
    atlas.mask(donut, low=200.0, high=800.0, seed=2)
    path = str(tmp_path / "atlas.json")
    atlas.to_json(path)
    re = Atlas.from_json(path, points, population=addresses)
    assert [c["checksum"] for c in re.candidates] == [c["checksum"] for c in atlas.candidates]
    re.sort(by="displacement_mean", desc=True)
    assert re.candidates[0]["stats"]["displacement_mean"] >= re.candidates[1]["stats"]["displacement_mean"]
    re.prune(by="displacement_mean", min=0, max=250)
    assert len(re.candidates) == 1


def test_atlas_reproduces_street_k_cross_session(spark, points, addresses, tmp_path):
    """reference tests/test_atlas.py:62-79: a persisted atlas replays a
    street_k candidate in a FRESH atlas (no registered callables) via
    name resolution + layer rehydration, checksum-verified."""
    from maskmypy_spark.operators.street import street_k
    from maskmypy_spark.sources import fixtures

    nodes = spark.createDataFrame(fixtures.road_nodes_pdf(spacing=300.0)).cache()
    edges = spark.createDataFrame(
        fixtures.road_edges_pdf(fixtures.road_nodes_pdf(spacing=300.0), spacing=300.0)
    ).cache()
    atlas = Atlas(points)
    atlas.mask(
        street_k, address=addresses, min_k=3, start=8, stop=60, spread=4,
        suppression=0.6, max_length=400.0, seed=12345,
        nodes=nodes, edges=edges, evaluate=False,
    )
    ck1 = atlas.candidates[0]["checksum"]
    p = str(tmp_path / "atlas_sk.json")
    atlas.to_json(p)
    del atlas

    atlas2 = Atlas.from_json(p, points)
    atlas2.add_layers(addresses, nodes, edges)
    replayed = atlas2.gen_df(idx=0)
    assert analysis.checksum(replayed) == ck1


def test_seed_not_injected_for_seedless_mask(spark, points):
    """reference tests/test_atlas.py:206-210: voronoi takes no seed, so the
    recorded kwargs must not contain one and replay must work."""
    from maskmypy_spark.operators.voronoi import voronoi

    atlas = Atlas(points)
    atlas.mask(voronoi, evaluate=False)
    assert "seed" not in atlas.candidates[0]["kwargs"]
    atlas.gen_df(idx=0)


def test_memory_and_speed_are_exclusive(points):
    """reference tests/test_atlas.py:213-216."""
    atlas = Atlas(points)
    with pytest.raises(ValueError):
        atlas.mask(donut, low=1.0, high=2.0, measure_peak_memory=True,
                   measure_execution_time=True)


def test_atlas_as_df_typed(spark, points, addresses):
    atlas = Atlas(points, population=addresses)
    atlas.mask(donut, low=50.0, high=300.0, seed=8)
    df = atlas.as_df(spark)
    assert df.count() == 1
    row = df.collect()[0].asDict()
    assert row["mask"] == "donut"
    # typed schema: numeric stats are numeric, not strings
    assert isinstance(row["central_drift"], float)


def test_evaluate_skip_slow_and_polygon_dispatch(spark, points):
    """Reference evaluate parity (analysis.py:64-74): skip_slow=False adds
    ripley_rmse; a polygon population dispatches to the disaggregation k."""
    m = donut(points, 50.0, 300.0, seed=6)
    fast = analysis.evaluate(points, m)
    assert "ripley_rmse" not in fast
    slow = analysis.evaluate(points, m, skip_slow=False)
    assert isinstance(slow["ripley_rmse"], float) and slow["ripley_rmse"] >= 0.0

    rect = 2000.0
    rows = []
    for ix in range(10):
        for iy in range(5):
            x0, y0 = ix * rect, iy * rect
            ring = [
                {"x": x0, "y": y0}, {"x": x0 + rect, "y": y0},
                {"x": x0 + rect, "y": y0 + rect}, {"x": x0, "y": y0 + rect},
            ]
            rows.append((ix * 10 + iy, ring, 500.0))
    polys = spark.createDataFrame(
        rows, "poly_id long, ring array<struct<x:double,y:double>>, pop double"
    )
    stats = analysis.evaluate(points, m, population=polys)
    assert stats["k_min"] >= 0 and stats["k_max"] >= stats["k_min"]
    assert 0.0 <= stats["k_satisfaction_5"] <= 1.0


def test_evaluate_assert_complete(spark, points):
    """evaluate(assert_complete=True): passes a row-preserving mask, raises
    on a dropped row, AND raises when a drop + a duplicate cancel out in
    the raw row count (the countDistinct gap)."""
    import pytest
    from pyspark.sql import functions as F

    m = donut(points, 50.0, 300.0, seed=6)
    analysis.evaluate(points, m, assert_complete=True)  # 1:1 — no raise
    with pytest.raises(ValueError, match="not 1:1-complete"):
        analysis.evaluate(points, m.where(F.col("pid") != 3), assert_complete=True)
    dupped = m.where(F.col("pid") != 3).unionByName(m.where(F.col("pid") == 4))
    assert dupped.count() == m.count()  # same row count, not 1:1
    with pytest.raises(ValueError, match="not 1:1-complete"):
        analysis.evaluate(points, dupped, assert_complete=True)


def test_run_mask_manifest_and_resume(spark, points, tmp_path):
    out = str(tmp_path / "run1")

    def mask_fn(df, **kw):
        return donut(df, 50.0, 300.0, seed=11)

    mask_fn.__name__ = "donut_50_300"
    m1, man1 = run_mask(spark, points, mask_fn, out)
    assert man1["status"] == "complete" and not man1["resumed"]
    assert man1["rows"] == 200
    assert len(man1["partitions"]) > 1  # cell-partitioned output
    assert os.path.exists(os.path.join(out, "manifest.json"))
    # resume: second invocation must NOT recompute (checksum verifies)
    m2, man2 = run_mask(spark, points, mask_fn, out)
    assert man2["resumed"]
    assert analysis.checksum(m2.drop("_pcell")) == man1["output_checksum"]


def test_run_mask_image_table_retile_and_resume(spark, tmp_path):
    """North-rule shape end-to-end: the geotagged IMAGE table is masked,
    re-tiled by cell partition, written with lineage, and resumed — bytes
    and captions byte-identical through the whole pipeline, and a tile
    predicate prunes partitions at read time."""
    from pyspark.sql import functions as F

    from maskmypy_spark.sources import fixtures

    src = fixtures.sensitive_images(spark, 80, seed=42).cache()
    out = str(tmp_path / "img_run")

    def mask_fn(df, **kw):
        return donut(df, 50.0, 300.0, seed=13, key="pid")

    mask_fn.__name__ = "donut_images"
    m1, man1 = run_mask(spark, src, mask_fn, out)
    assert man1["status"] == "complete" and man1["rows"] == 80
    assert len(man1["partitions"]) > 1  # re-tiled
    # payload fidelity through mask + write + read
    orig = {r["pid"]: r for r in src.collect()}
    for r in m1.collect():
        o = orig[r["pid"]]
        assert bytes(r["bytes"]) == bytes(o["bytes"])
        assert r["caption"] == o["caption"] and r["phash"] == o["phash"]
    # partition pruning: a _pcell predicate reads a strict subset of files
    one_cell = m1.select("_pcell").first()["_pcell"]
    plan_io = io.StringIO()
    from contextlib import redirect_stdout

    with redirect_stdout(plan_io):
        spark.read.parquet(os.path.join(out, "data")).where(
            F.col("_pcell") == one_cell
        ).explain(mode="formatted")
    plan = plan_io.getvalue()
    assert "PartitionFilters" in plan and "_pcell" in plan.split("PartitionFilters")[1].split("\n")[0]
    # resume is a no-op re-run
    m2, man2 = run_mask(spark, src, mask_fn, out)
    assert man2["resumed"]

