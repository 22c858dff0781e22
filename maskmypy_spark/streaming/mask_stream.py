"""Structured Streaming masking.

The reference has NO streaming surface (SURVEY §2.10) — this is engine-only
capability: because every random mask is a stateless per-row projection
driven by the keyed hash-RNG (no sequential RNG state, no shuffle), the
SAME operator code runs unchanged on a streaming DataFrame. A point that
arrives twice (at-least-once sources) masks to the identical location, so
the sink stays idempotent.

Joins against static dimensions (addresses, containers, road nodes) are
stream-static joins — supported by Structured Streaming out of the box;
the donut mask below needs no join at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.donut import donut


def mask_stream(
    stream: DataFrame,
    low: float,
    high: float,
    seed: int,
    distribution: str = "uniform",
    key: str = "pid",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Apply the donut mask to a streaming DataFrame (stateless projection;
    container retries need driver iteration and are batch-only)."""
    return donut(stream, low, high, seed, distribution, key=key, x=x, y=y)


def k_verify_stream(
    stream: DataFrame,
    address: DataFrame,
    low: float,
    high: float,
    seed: int,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    key: str = "pid",
    x: str = "x",
    y: str = "y",
    ts: str = "timestamp",
) -> DataFrame:
    """Streaming privacy verification: donut-mask arriving points, then
    count addresses within each point's displacement disk via a
    STREAM-STATIC ``distance_join`` (static address side broadcast per
    micro-batch), aggregated per event-time window with a watermark for late
    data. ONE streaming aggregation (window + point) keeps the plan in append
    mode; window-level k-satisfaction is a trivial batch query over the sink.

    The join is the batch k-verify shape (analysis.k_anonymity_address):
    LEFT OUTER, so points with ZERO addresses in their disk — the
    least-private, k = 1 rows — still emit a row (k = 1 + count of non-null
    address keys); an inner join would silently drop exactly the points a
    k-satisfaction monitor most needs to see. The stream side explodes the
    per-row ring sized to each point's own displacement
    (``left_radius_col``): small displacements probe one cell. The uniform
    donut's displacement is < ``high`` by construction
    (masksql.donut_stages), so ``radius=high`` bounds every ring.

    Returns (window, pid, k_anonymity)."""
    from ..analysis import displacement_from_payload, with_original
    from ..operators.distance_join import distance_join

    # originals ride through the mask as payload, so the displacement
    # radius is a stateless projection (no stream-stream join anywhere)
    pts = with_original(stream.select(key, x, y, ts), x, y)
    masked = donut(pts, low, high, seed, key=key, x=x, y=y)
    pairs = distance_join(
        displacement_from_payload(masked, x, y, col="_radius")
        .withWatermark(ts, watermark),
        address.select("aid", "ax", "ay"),
        radius=float(high), lx=x, ly=y, left_radius_col="_radius",
        broadcast_right=True, how="left",
    )
    return (
        pairs.groupBy(F.window(F.col(ts), window).alias("window"), F.col(key))
        .agg((F.count("aid") + F.lit(1)).alias("k_anonymity"))
    )


def hot_cell_monitor(
    stream: DataFrame,
    cell_size: float = 500.0,
    x: str = "x",
    y: str = "y",
    ts: str = "timestamp",
    timeout_ms: int = 60_000,
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState): running
    per-cell point totals — the skew monitor that feeds hot-cell salting
    decisions. State = one int per cell; emits (cell, total, batch_rows) on
    every update; state expires after ``timeout_ms`` idle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions import cells

    binned = stream.withColumn("_cell", F.expr(cells.cell_sql(x, y, cell_size)))

    def update(key_tuple, pdfs, state: GroupState):
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
        if state.exists:
            (total,) = state.get
        else:
            total = 0
        total += n_new
        state.update((total,))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"cell": [key_tuple[0]], "total": [total], "batch_rows": [n_new]}
        )

    return binned.groupBy("_cell").applyInPandasWithState(
        update,
        outputStructType="cell long, total long, batch_rows long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def dedup_stream(
    stream: DataFrame,
    key: str = "doc_id",
    text: str = "text",
    ts: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming EXACT content dedup — the streaming twin of
    ``operators/dedup.py:dedup_exact`` for an arriving document stream:
    keep the FIRST arrival of each content digest, drop every later
    duplicate (including at-least-once re-deliveries, which makes the sink
    exactly-once per content).

    State is one md5 digest per distinct content, expired once the
    watermark passes its arrival (``dropDuplicatesWithinWatermark``), so
    state size is bounded by the distinct-content arrival rate times the
    watermark horizon — not by stream lifetime. Semantic note vs batch:
    batch dedup_exact elects min(doc_id) per digest (order-free); the
    stream elects the first ARRIVAL — the only well-defined choice when
    the corpus is unbounded. Returns the surviving rows with their
    ``_digest`` column (callers drop it or keep it as lineage)."""
    digest = F.md5(F.coalesce(F.col(text), F.lit("")))
    return (
        stream.withColumn("_digest", digest)
        .withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
    )

