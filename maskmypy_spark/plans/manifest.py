"""Run manifests: cell-partitioned masked-table writes with per-partition
lineage + exact resume (the north rule's checkpoint contract).

A mask run =
  masked parquet, partitioned by coarse cell id (partition pruning for all
  downstream spatial reads) + ``manifest.json`` recording params (the
  master seed among them), input/output checksums, per-partition row
  counts, and status.

Resume: ``run_mask`` is idempotent — if the manifest says complete and the
recorded output checksum re-verifies, the write is skipped entirely; any
other run (no manifest, a torn or a corrupted one) reruns in full,
overwrites the data (parquet overwrite) and then publishes the manifest
atomically. A rerun with the same master seed reproduces the identical
output (reference's replay contract, atlas.py:229-233). Nothing replays
from a logged step or iteration: ``street_k``'s ``on_iteration`` callback
only reports each iteration's metrics to its caller.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import analysis
from ..functions import cells


def partition_by_cell(
    df: DataFrame, x: str = "x", y: str = "y", cell_size: float = 2500.0
) -> DataFrame:
    """Attach the coarse partition cell (Iceberg-style hidden partition
    stand-in: no Iceberg jar in this sandbox — SURVEY §7(3))."""
    return df.withColumn("_pcell", F.expr(cells.cell_sql(x, y, cell_size)))


def run_mask(
    spark: SparkSession,
    df: DataFrame,
    mask_func,
    out_dir: str,
    params: dict | None = None,
    x: str = "x",
    y: str = "y",
    cell_size: float = 2500.0,
    force: bool = False,
) -> tuple[DataFrame, dict]:
    """Execute (or resume) a mask run; returns (masked_df, manifest)."""
    params = dict(params or {})
    mpath = os.path.join(out_dir, "manifest.json")
    dpath = os.path.join(out_dir, "data")

    if not force and os.path.exists(mpath):
        with open(mpath) as f:
            man = json.load(f)
        if man.get("status") == "complete":
            out = spark.read.parquet(dpath)
            if analysis.checksum(out.drop("_pcell")) == man["output_checksum"]:
                man["resumed"] = True
                return out, man
        # torn or corrupted run: fall through and rerun

    os.makedirs(out_dir, exist_ok=True)
    t0 = time.perf_counter()
    masked = mask_func(df, **params)
    part = partition_by_cell(masked, x, y, cell_size)
    part.write.mode("overwrite").partitionBy("_pcell").parquet(dpath)
    out = spark.read.parquet(dpath)

    per_part = [
        {"_pcell": r["_pcell"], "rows": r["rows"]}
        for r in out.groupBy("_pcell").agg(F.count(F.lit(1)).alias("rows")).collect()
    ]
    man = {
        "mask": getattr(mask_func, "__name__", str(mask_func)),
        "params": {k: v for k, v in params.items() if not isinstance(v, DataFrame)},
        "input_checksum": analysis.checksum(df),
        "output_checksum": analysis.checksum(out.drop("_pcell")),
        "rows": int(sum(p["rows"] for p in per_part)),
        "partitions": per_part,
        "partition_cell_size": cell_size,
        "elapsed_sec": round(time.perf_counter() - t0, 3),
        "status": "complete",
        "resumed": False,
    }
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(man, f, indent=2, default=str)
    os.replace(tmp, mpath)  # atomic publish: manifest is the commit point
    return out, man

