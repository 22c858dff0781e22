"""The driver-side escalation loop shared by the kNN joins (``knn.py``) and
donut's containment retry (``donut.py``): run a round over the unsettled
residue, keep what it settled, shrink the residue, repeat. Also home of
:func:`materialize`, the engine's one checkpoint.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, functions as F


def materialize(df: DataFrame, **metrics: Column):
    """``df`` checkpointed: the engine's one materialization point. With
    ``metrics`` (name -> aggregate column), returns ``(frame, *values)`` in
    keyword order, each value read from an ``Observation`` on the same
    checkpoint job, so a count costs no job of its own; a NULL value (the
    sum over an empty frame) reads as 0. DISTINCT aggregates are not
    allowed there.

    The checkpoint is ``localCheckpoint(eager=True)``: its job runs when
    this is CALLED, before the caller's own action, no cache entry
    outlives the frame, and the blocks live only in executor storage with
    the lineage cut. An executor lost afterwards drops them, and a later
    action over the result fails instead of recomputing. Tests that need
    the lineage visible stub this function, not ``localCheckpoint``: under
    a no-op checkpoint an Observation never fires."""
    if not metrics:
        return df.localCheckpoint(eager=True)
    obs = Observation()
    out = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    out = out.localCheckpoint(eager=True)
    got = obs.get
    return (out, *(0 if got[k] is None else got[k] for k in metrics))


def escalate(
    remaining: DataFrame,
    step: Callable[[DataFrame, int, int | None], tuple[DataFrame, Column | None]],
    fallback: Callable[[DataFrame], DataFrame | None],
    rounds: int,
    key: str | None = None,
) -> DataFrame:
    """Union of the rows each round settles, over at most ``rounds`` rounds.

    Round ``rnd`` calls ``step(remaining, rnd, n)``, where ``n`` is the
    residue's COUNTED row count (None in round 0; the kNN steps broadcast a
    counted-small residue instead of re-shuffling the neighbor table, donut
    ignores it), and gets ``(marked, conv)``; ``marked`` is materialized.
    Without ``key``, ``marked`` carries every residue row: rows passing
    ``conv`` are settled, the others (projected back to the residue's
    columns) form the next residue, counted as ``sum(~conv)`` on
    ``marked``'s checkpoint. With ``key``, every ``marked`` row is settled
    (``conv`` is unused) and the next residue is the current one
    anti-joined on ``key`` against them, materialized and counted in one
    job. The loop stops when the count is 0. A residue left after the last
    round goes to ``fallback``, which settles it (a None return adds
    nothing) or raises. Every checkpoint goes through :func:`materialize`,
    whose docstring states what it costs and risks."""
    parts: list[DataFrame] = []
    n = None
    for rnd in range(rounds):
        marked, conv = step(remaining, rnd, n)
        if key is None:
            marked, n = materialize(marked, n=F.sum((~conv).cast("long")))
            parts.append(marked.where(conv))
            remaining = marked.where(~conv).select(*remaining.columns)
        else:
            marked = materialize(marked)
            parts.append(marked)
            remaining, n = materialize(
                remaining.join(marked.select(key), key, "left_anti"),
                n=F.count(F.lit(1)),
            )
        if n == 0:
            break
    else:
        last = fallback(remaining)
        if last is not None:
            parts.append(last)
    return reduce(lambda a, b: a.unionByName(b), parts)
