"""Streaming mask: the stateless donut projection runs unchanged on a
stream; results equal the batch mask row-for-row (exactly-once semantics
follow from the keyed RNG)."""

import pandas as pd
from pyspark.sql import functions as F

from maskmypy_spark.operators.donut import donut
from maskmypy_spark.sources import fixtures
from maskmypy_spark.streaming.mask_stream import (
    hot_cell_monitor,
    k_verify_stream,
    mask_stream,
)


def test_stream_equals_batch(spark, tmp_path):
    pdf = fixtures.sensitive_points_pdf(100, seed=42)
    src_dir = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src_dir)

    batch = {
        r["pid"]: (r["x"], r["y"])
        for r in donut(spark.read.parquet(src_dir), 50.0, 300.0, seed=9).collect()
    }

    stream = spark.readStream.schema("pid long, x double, y double").parquet(src_dir)
    masked = mask_stream(stream, 50.0, 300.0, seed=9)
    q = (
        masked.writeStream.format("memory")
        .queryName("masked_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["pid"]: (r["x"], r["y"])
        for r in spark.sql("SELECT * FROM masked_stream").collect()
    }
    assert got == batch


def test_k_verify_stream_matches_batch(spark, tmp_path):
    """Windowed streaming k equals the batch closed-disk k for the same
    rows (stream-static join + watermark + one windowed aggregation)."""
    from maskmypy_spark import analysis

    pdf = fixtures.sensitive_points_pdf(150, seed=42)
    pdf["timestamp"] = pd.Timestamp("2026-01-01 00:00:30")
    src_dir = str(tmp_path / "src_k")
    spark.createDataFrame(pdf).write.parquet(src_dir)
    addr = spark.createDataFrame(fixtures.addresses_pdf(3000, seed=43)).cache()

    stream = spark.readStream.schema(
        "pid long, x double, y double, timestamp timestamp"
    ).parquet(src_dir)
    kdf = k_verify_stream(stream, addr, 50.0, 400.0, seed=9)
    # update mode: emit current window aggregates each micro-batch (append
    # would wait for the watermark to pass the window end, which a single
    # availableNow batch never does)
    q = (
        kdf.writeStream.format("memory")
        .queryName("k_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["pid"]: r["k_anonymity"] for r in spark.sql("SELECT * FROM k_stream").collect()
    }

    pts = spark.read.parquet(src_dir).select("pid", "x", "y")
    m = donut(pts, 50.0, 400.0, seed=9)
    want_df = analysis.k_anonymity_address(pts, m, addr, max_radius=400.0)
    want = {r["pid"]: r["k_anonymity"] for r in want_df.collect()}
    # points with k=1 (no address pairs) never enter the join output
    # left-outer stream-static join: k = 1 rows (zero addresses in the
    # disk — the least-private points) MUST be emitted too
    assert got == want
    assert any(v == 1 for v in want.values()), "fixture should exercise k=1"


def test_k_verify_stream_runs_on_distance_join(spark, tmp_path):
    """The streaming k-verify is the batch shape (distance_join's per-row
    ring, LEFT OUTER, broadcast addresses): the executed plan explodes a
    literal ring index — no interpreted ``flatten(transform(sequence(...)))``
    ring list — and k equals the batch k, the k = 1 rows included."""
    import io
    from contextlib import redirect_stdout

    from maskmypy_spark import analysis

    pdf = fixtures.sensitive_points_pdf(120, seed=7)
    pdf["timestamp"] = pd.Timestamp("2026-01-01 00:00:30")
    src_dir = str(tmp_path / "src_kd")
    spark.createDataFrame(pdf).write.parquet(src_dir)
    addr = spark.createDataFrame(fixtures.addresses_pdf(2000, seed=11))

    stream = spark.readStream.schema(
        "pid long, x double, y double, timestamp timestamp"
    ).parquet(src_dir)
    kdf = k_verify_stream(stream, addr, 100.0, 500.0, seed=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        kdf.explain(extended=True)
    plan = buf.getvalue().lower()
    assert "join leftouter" in plan and "generate explode(" in plan, plan
    assert "flatten(" not in plan and "sequence(" not in plan, plan
    q = (
        kdf.writeStream.format("memory")
        .queryName("k_stream_dj")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["pid"]: r["k_anonymity"]
        for r in spark.sql("SELECT * FROM k_stream_dj").collect()
    }

    pts = spark.read.parquet(src_dir).select("pid", "x", "y")
    m = donut(pts, 100.0, 500.0, seed=3)
    want = {
        r["pid"]: r["k_anonymity"]
        for r in analysis.k_anonymity_address(pts, m, addr, max_radius=500.0).collect()
    }
    assert got == want and len(got) == 120
    assert any(v == 1 for v in want.values()) and any(v > 1 for v in want.values())


def test_stream_checkpoint_resume(spark, tmp_path):
    """Checkpointed streaming resume: a restarted query with the same
    checkpointLocation processes ONLY files that arrived while it was down
    — no reprocessing (exactly-once over the file source), and the union of
    both runs equals the batch mask of all data."""
    src_dir = str(tmp_path / "src_cp")
    cp_dir = str(tmp_path / "cp")
    pdf1 = fixtures.sensitive_points_pdf(60, seed=42)
    spark.createDataFrame(pdf1).write.mode("append").parquet(src_dir)

    out_dir = str(tmp_path / "out_cp")

    def run_once():
        stream = spark.readStream.schema("pid long, x double, y double").parquet(src_dir)
        masked = mask_stream(stream, 50.0, 300.0, seed=9)
        q = (
            masked.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", cp_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r["pid"]: (r["x"], r["y"])
            for r in spark.read.parquet(out_dir).collect()
        }

    first = run_once()
    assert set(first) == set(pdf1["pid"])

    pdf2 = fixtures.sensitive_points_pdf(100, seed=42).tail(40).copy()
    pdf2["pid"] += 1000
    spark.createDataFrame(pdf2).write.mode("append").parquet(src_dir)
    cumulative = run_once()
    # resume: exactly the old + new rows, none reprocessed/duplicated
    assert set(cumulative) == set(pdf1["pid"]) | set(pdf2["pid"])

    batch = {
        r["pid"]: (r["x"], r["y"])
        for r in donut(spark.read.parquet(src_dir), 50.0, 300.0, seed=9).collect()
    }
    assert cumulative == batch


def test_hot_cell_monitor_stateful(spark, tmp_path):
    """applyInPandasWithState accumulates per-cell totals across
    micro-batches."""
    pdf = fixtures.sensitive_points_pdf(200, seed=42)
    pdf["timestamp"] = pd.Timestamp("2026-01-01 00:00:00")
    src_dir = str(tmp_path / "src_hot")
    spark.createDataFrame(pdf).write.parquet(src_dir)

    stream = spark.readStream.schema(
        "pid long, x double, y double, timestamp timestamp"
    ).parquet(src_dir)
    mon = hot_cell_monitor(stream, cell_size=2000.0)
    q = (
        mon.writeStream.format("memory")
        .queryName("hot_cells")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["cell"]: r["total"]
        for r in spark.sql(
            "SELECT cell, max(total) AS total FROM hot_cells GROUP BY cell"
        ).collect()
    }
    from maskmypy_spark.functions import cells

    want = {
        r["_cell"]: r["n"]
        for r in spark.read.parquet(src_dir)
        .withColumn("_cell", F.expr(cells.cell_sql("x", "y", 2000.0)))
        .groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_dedup_stream_exact_once_per_content(spark, tmp_path):
    """Streaming content dedup (dedup_stream): duplicated texts — within a
    batch AND across re-delivered files — survive exactly once; distinct
    contents all survive; the survivor set equals batch distinct-digest."""
    import pandas as pd

    from maskmypy_spark.streaming.mask_stream import dedup_stream

    src_dir = str(tmp_path / "src_dd")
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    rows1 = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["alpha beta", "gamma", "alpha beta", "delta"],
            "timestamp": [t0] * 4,
        }
    )
    spark.createDataFrame(rows1).write.mode("append").parquet(src_dir)
    # second file: re-deliveries of old content + one new doc
    rows2 = pd.DataFrame(
        {
            "doc_id": [10, 11],
            "text": ["gamma", "epsilon zeta"],
            "timestamp": [t0 + pd.Timedelta(seconds=30)] * 2,
        }
    )
    spark.createDataFrame(rows2).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema(
        "doc_id long, text string, timestamp timestamp"
    ).parquet(src_dir)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_stream_sink").collect()
    texts = [r["text"] for r in got]
    assert sorted(texts) == ["alpha beta", "delta", "epsilon zeta", "gamma"]
    assert len({r["_digest"] for r in got}) == 4
