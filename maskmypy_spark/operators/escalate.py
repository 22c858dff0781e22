"""The driver-side escalation loop shared by the kNN joins (``knn.py``) and
donut's containment retry (``donut.py``): run a round over the unsettled
residue, keep what it settled, shrink the residue, repeat.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame


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
    ignores it), and gets ``(marked, conv)``; ``marked`` is checkpointed.
    Without ``key``, ``marked`` carries every residue row: rows passing
    ``conv`` are settled, the others (projected back to the residue's
    columns) form the next residue. With ``key``, every ``marked`` row is
    settled (``conv`` is unused) and the next residue is the current one
    anti-joined on ``key`` against them, checkpointed too. Either way the
    count reads checkpointed data, so it is one cheap local scan; the loop
    stops when it is 0. A residue left after the last round goes to
    ``fallback``, which settles it (a None return adds nothing) or raises.

    The checkpoints are ``localCheckpoint(eager=True)``: each runs its job
    while the round is BUILT, before the caller's own action, and keeps its
    blocks only in executor storage with the lineage cut. An executor lost
    after its round drops those blocks, and a later action over the result
    fails instead of recomputing them."""
    parts: list[DataFrame] = []
    n = None
    for rnd in range(rounds):
        marked, conv = step(remaining, rnd, n)
        marked = marked.localCheckpoint(eager=True)
        if key is None:
            parts.append(marked.where(conv))
            remaining = marked.where(~conv).select(*remaining.columns)
        else:
            parts.append(marked)
            remaining = remaining.join(
                marked.select(key), key, "left_anti"
            ).localCheckpoint(eager=True)
        n = remaining.count()
        if n == 0:
            break
    else:
        last = fallback(remaining)
        if last is not None:
            parts.append(last)
    return reduce(lambda a, b: a.unionByName(b), parts)
