"""Atlas — experiment manager: content-addressed layer store, candidate
lineage, replay-with-checksum-verification.

Reference: /root/reference/maskmypy/atlas.py (T1–T6 in SURVEY §2.3):
 - layers keyed by content checksum (:53, :83-85; checksum tools.py:46-63)
 - mask(): auto-seed injection (:137-138), wall-time instrumentation
   (:140-152), checksum + dehydrate layer kwargs (:154-155, :412-420),
   evaluate() stats (:156-162), candidate dict append (:177-178)
 - gen_gdf() replay: re-run recorded kwargs, regenerated checksum MUST match
   the recorded one (:229-233) — the reproducibility contract that our
   partitioning-independent RNG extends across cluster sizes
 - sort/prune (:242-300), to_json/from_json (:302-363), as_df (:365-372)

The engine's checksum is order-insensitive (xor of row hashes + count), so
replay equality holds under any partitioning — `local[8]` and `local[32]`
produce the identical candidate checksum (asserted in tests + BENCH).
"""

from __future__ import annotations

import inspect
import json
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import analysis
from ..functions import rng


def _resolve_builtin_mask(name: str):
    """Resolve a recorded mask name to the engine's built-in operators, so a
    persisted atlas (from_json) replays cross-session without re-registering
    callables — the reference resolves candidate['mask'] by name via
    getattr(masks, ...) (atlas.py:224)."""
    from .. import operators as ops

    builtin = {
        "donut": ops.donut,
        "locationswap": ops.locationswap,
        "voronoi": ops.voronoi,
        "street": ops.street,
        "street_k": ops.street_k,
        "snap_to_nodes": ops.snap_to_nodes,
        "suppress": ops.suppress,
    }
    return builtin.get(name)


class Atlas:
    def __init__(
        self,
        sensitive: DataFrame,
        key: str = "pid",
        x: str = "x",
        y: str = "y",
        population: DataFrame | None = None,
    ) -> None:
        self.sensitive = sensitive
        self.key, self.x, self.y = key, x, y
        self.population = population
        self.layers: dict[str, DataFrame] = {}
        self.candidates: list[dict] = []
        self.add_layers(sensitive)
        if population is not None:
            self.add_layers(population)

    # ------------------------------------------------------------ layers
    def add_layers(self, *dfs: DataFrame) -> list[str]:
        out = []
        for df in dfs:
            ck = analysis.checksum(df)
            self.layers.setdefault(ck, df)
            out.append(ck)
        return out

    def _dehydrate(self, kwargs: dict) -> dict:
        """DataFrame kwargs -> 'context_<checksum>' strings, registering the
        layer (reference atlas.py:412-420)."""
        out = {}
        for k, v in kwargs.items():
            if isinstance(v, DataFrame):
                (ck,) = self.add_layers(v)
                out[k] = f"context_{ck}"
            else:
                out[k] = v
        return out

    def _hydrate(self, kwargs: dict) -> dict:
        """'context_<checksum>' strings -> stored DataFrames (atlas.py:
        395-410; KeyError contract preserved)."""
        out = {}
        for k, v in kwargs.items():
            if isinstance(v, str) and v.startswith("context_"):
                ck = v[len("context_") :]
                if ck not in self.layers:
                    raise KeyError(
                        f"Could not find layer {ck}; add it with Atlas.add_layers()."
                    )
                out[k] = self.layers[ck]
            else:
                out[k] = v
        return out

    # -------------------------------------------------------------- mask
    def mask(
        self,
        mask_func: Callable[..., DataFrame],
        keep_candidate: bool = True,
        evaluate: bool = True,
        measure_execution_time: bool = True,
        measure_peak_memory: bool = False,
        skip_slow_evaluators: bool = True,
        keep_df: bool = True,
        **kwargs,
    ) -> DataFrame:
        """Run a mask, record lineage + stats. ``measure_peak_memory``
        mirrors the reference's tracemalloc instrumentation (atlas.py:
        142-152, 169-170): it measures DRIVER-side Python allocations — the
        engine's heavy lifting happens JVM-side (executor memory shows up in
        Spark's own task metrics, not tracemalloc), so this mainly catches
        accidental driver materialization. Mutually exclusive with
        ``measure_execution_time``, like the reference (:126-129)."""
        if measure_execution_time and measure_peak_memory:
            raise ValueError(
                "`measure_execution_time` and `measure_peak_memory` cannot both be true."
            )
        kwargs = self._hydrate(kwargs)
        sig = inspect.signature(mask_func).parameters
        if "seed" in sig and not kwargs.get("seed"):
            kwargs["seed"] = rng.gen_seed()  # atlas.py:137-138
        for col_kw, col in (("key", self.key), ("x", self.x), ("y", self.y)):
            if col_kw in sig and col_kw not in kwargs:
                kwargs[col_kw] = col

        if measure_peak_memory:
            import tracemalloc

            tracemalloc.start()
        t0 = time.perf_counter()
        masked = mask_func(self.sensitive, **kwargs)
        ck = analysis.checksum(masked)  # forces execution too
        elapsed = round(time.perf_counter() - t0, 3)
        if measure_peak_memory:
            _, mem_peak = tracemalloc.get_traced_memory()
            tracemalloc.stop()
            mem_peak_mb = round(mem_peak / 1024 / 1024, 3)

        stats: dict = {}
        if evaluate:
            stats = analysis.evaluate(
                self.sensitive, masked, population=self.population,
                key=self.key, x=self.x, y=self.y, skip_slow=skip_slow_evaluators,
            )
        if "UNMASKED" in masked.columns:
            from pyspark.sql import functions as F

            stats["UNMASKED_POINTS"] = masked.agg(F.sum("UNMASKED")).collect()[0][0]
        if measure_execution_time:
            stats["execution_time"] = elapsed
        if measure_peak_memory:
            stats["memory_peak_mb"] = mem_peak_mb

        candidate = {
            "mask": getattr(mask_func, "__name__", str(mask_func)),
            "kwargs": self._dehydrate(kwargs),
            "checksum": ck,
            "stats": stats,
        }
        if keep_candidate:
            self.candidates.append(candidate)
        if keep_df:
            # reference keep_gdf (atlas.py:172-175): store the masked layer
            # under its checksum so gen_df/hydrate find it without re-runs
            self.layers.setdefault(ck, masked)
        self._mask_registry = getattr(self, "_mask_registry", {})
        self._mask_registry[candidate["mask"]] = mask_func
        return masked

    # ------------------------------------------------------------ replay
    def gen_df(self, idx: int = None, checksum: str = None, custom_mask=None) -> DataFrame:
        """Replay a candidate; verify regenerated checksum (atlas.py:207-240)."""
        if checksum is not None:
            cand = next(c for c in self.candidates if c["checksum"] == checksum)
        else:
            cand = self.candidates[idx]
        fn = custom_mask or getattr(self, "_mask_registry", {}).get(cand["mask"])
        if fn is None:
            fn = _resolve_builtin_mask(cand["mask"])
        if fn is None:
            raise ValueError(f"No callable registered for mask '{cand['mask']}'")
        kwargs = self._hydrate(cand["kwargs"])
        masked = fn(self.sensitive, **kwargs)
        ck = analysis.checksum(masked)
        if ck != cand["checksum"]:
            raise ValueError(
                f"Checksum of regenerated DataFrame ({ck}) does not match "
                f"recorded candidate ({cand['checksum']})."  # atlas.py:229-233
            )
        return masked

    # --------------------------------------------------------- utilities
    def sort(self, by: str, desc: bool = False) -> None:
        self.candidates.sort(key=lambda c: c["stats"].get(by, 0), reverse=desc)

    def prune(self, by: str, min: float, max: float) -> None:  # noqa: A002
        self.candidates = [
            c for c in self.candidates if min <= c["stats"].get(by, 0) <= max
        ]

    def as_rows(self) -> list[dict]:
        return [
            {"mask": c["mask"], "checksum": c["checksum"], **c["kwargs"], **c["stats"]}
            for c in self.candidates
        ]

    def as_df(self, spark: SparkSession) -> DataFrame:
        """Candidates as a TYPED DataFrame (reference atlas.py:365-372
        returns a pandas frame): schema inferred from the JSON rows, so
        numeric stats stay numeric and are directly sort/filterable."""
        rows = [json.dumps(r, default=str) for r in self.as_rows()]
        return spark.read.json(spark.sparkContext.parallelize(rows or ["{}"]))

    def to_json(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.candidates, f, indent=2, default=str)

    @classmethod
    def from_json(
        cls, path: str, sensitive: DataFrame, population: DataFrame | None = None,
        key: str = "pid", x: str = "x", y: str = "y",
    ) -> "Atlas":
        atlas = cls(sensitive, key=key, x=x, y=y, population=population)
        with open(path) as f:
            atlas.candidates = json.load(f)
        return atlas
