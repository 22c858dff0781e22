"""Shared SQL formula builders for the random masks.

ONE source of truth for the arithmetic of each mask: the Spark operators
apply these snippets with ``F.expr`` and the DuckDB oracles inline the same
strings into CTE pipelines, so both engines execute the identical IEEE-754
operation sequence (+, -, *, /, sqrt are correctly rounded => bit-equal;
ln/cos differ by ulps => outputs rounded to 6 dp, the reference's own
distance precision, analysis.py:215-218).

Donut semantics transcribed from /root/reference/maskmypy/masks/donut.py:
  113-145: hypotenuse by distribution; x = U(0, hyp); y = sqrt(hyp²-x²);
           quadrant flips with probability 1/4 each.
  117-121: gaussian: mean=(high-low)/2+low, sigma=((high-low)/2)/2.5,
           hyp=|N(mean, sigma)| (may exceed [low, high] — documented there).
  122-129: areal: hyp = max of two U(low, high) draws (the reference's
           rejection loop "keep r1 if r1 > r2" == distribution of the max).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterable

from . import rng
from .rng import flit

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


def _project(
    df: DataFrame,
    stages: Iterable[tuple[str, str]] = (),
    sets: dict[str, str] | None = None,
    drop: Iterable[str] = (),
) -> DataFrame:
    """The one projection of an ordered ``(name, sql)`` stage list (such as
    :func:`donut_stages` or ``rng.staged`` produce): ``df``
    with each ``sets`` column (name -> sql) replaced in place or appended,
    the ``drop`` columns left out and the stage columns gone, in ``df``'s
    column order. It is ONE ``selectExpr``: each stage and set reads the
    stages before it as lateral column aliases, so the whole list is one
    plan analysis and one call into the JVM where a ``withColumn`` per
    stage re-analyses a growing plan each time. Catalyst still splits the
    list into one Project per dependency level, which keeps each hash stage
    its own small codegen expression (rng.staged). A set reads the input
    column it replaces, never another set's new value (an input column
    shadows a lateral alias), so stage names must be new columns."""
    stages, sets, drop = list(stages), sets or {}, set(drop)
    clash = {n for n, _ in stages} & set(df.columns)
    if clash:
        raise ValueError(f"stage names shadow input columns: {sorted(clash)}")

    def q(c: str) -> str:
        return "`" + c.replace("`", "``") + "`"

    out = df.selectExpr(
        *[f"{e} AS {q(n)}" for n, e in stages],
        *[f"{sets[c]} AS {q(c)}" if c in sets else q(c) for c in df.columns if c not in drop],
        *[f"{e} AS {q(c)}" for c, e in sets.items() if c not in df.columns],
    )
    return out.drop(*(n for n, _ in stages)) if stages else out


def donut_stages(
    key: str,
    low: float,
    high: float,
    seed: int,
    distribution: str = "uniform",
    attempt: int = 0,
    fast: bool = False,
) -> list[tuple[str, str]]:
    """Ordered (column_name, sql_expr) stages computing offx/offy for the
    donut mask. Each expr may reference previously defined names; apply as
    one projection (Spark: :func:`_project`) or nested CTEs
    (oracle SQL).

    ``fast=True`` renders the mod-2^31 stages as bitwise ANDs — the
    Spark-side dialect (rng._and_m): bit-identical integers, one AND instead
    of a 64-bit modulo per stage in codegen. Oracle SQL
    (contract._masked_cte) must keep the portable default — its text is
    hash-frozen.
    """
    low, high = float(low), float(high)

    def draw(name: str, tag: int) -> list[tuple[str, str]]:
        return rng.staged(name, key, tag, seed, attempt, fast)

    stages: list[tuple[str, str]] = [
        *draw("_u1", rng.TAG_DONUT_R),
        *draw("_u2", rng.TAG_DONUT_X),
        *draw("_u3", rng.TAG_DONUT_Q),
    ]
    if distribution == "uniform":
        stages.append(("_hyp", f"{flit(low)} + ({flit(high)} - {flit(low)}) * _u1"))
    elif distribution == "gaussian":
        mean = (high - low) / 2.0 + low
        sigma = ((high - low) / 2.0) / 2.5
        stages.extend(draw("_u4", rng.TAG_DONUT_R2))
        stages.append(
            ("_z", "sqrt(-2.0 * ln(1.0 - _u1)) * cos(2.0 * pi() * _u4)")
        )
        stages.append(("_hyp", f"abs({flit(mean)} + {flit(sigma)} * _z)"))
    elif distribution == "areal":
        stages.extend(draw("_u4", rng.TAG_DONUT_R2))
        stages.append(
            (
                "_hyp",
                f"greatest({flit(low)} + ({flit(high)} - {flit(low)}) * _u1,"
                f" {flit(low)} + ({flit(high)} - {flit(low)}) * _u4)",
            )
        )
    else:
        raise ValueError(f"Unknown distribution: {distribution}")
    stages.append(("_ox", "_hyp * _u2"))
    stages.append(("_oy", "sqrt(_hyp * _hyp - _ox * _ox)"))
    stages.append(
        (
            "_offx",
            "CASE WHEN _u3 < 0.25 THEN 0.0 - _ox"
            " WHEN _u3 < 0.5 THEN _ox"
            " WHEN _u3 < 0.75 THEN 0.0 - _ox"
            " ELSE _ox END",
        )
    )
    stages.append(
        (
            "_offy",
            "CASE WHEN _u3 < 0.25 THEN _oy"
            " WHEN _u3 < 0.5 THEN 0.0 - _oy"
            " WHEN _u3 < 0.75 THEN 0.0 - _oy"
            " ELSE _oy END",
        )
    )
    return stages


def swap_pick_parts(pkey: str, akey: str) -> tuple[str, str]:
    """The two single-side halves of :func:`swap_pick_key`, for PRE-STAGING
    on the join inputs: the point half is a projection over the point table
    (before the ring explode) and the address half over the address table
    (before the join), so the per-candidate-pair work drops to one BIGINT
    add. int64 addition is exact and commutative here (each half < 2.3e18,
    sum < 2^63), so ``part_p + part_a`` is bit-identical to the inline
    :func:`swap_pick_key` rendering the oracle keeps."""
    p = f"((({pkey}) % {rng.P1}) * 998244353 + (({pkey}) % {rng.P2}) * 69119)"
    a = f"((({akey}) % {rng.P1}) * 905035071 + (({akey}) % {rng.P2}) * 1000003)"
    return p, a


def swap_pick_key(pkey: str, akey: str) -> str:
    """Combined 63-bit-safe key for the locationswap candidate pick: both
    ids folded through both of the RNG's primes with distinct odd weights
    (max value ~4.1e18 < 2^63). The earlier ``(p % M) * 48271 + a % M``
    packing collided systematically for (p, a) vs (p+1, a-48271); the
    two-prime weighting leaves only incidental collisions (no dense
    family), matching the wide-fold guarantee of rng._t_expr."""
    return (
        f"((({pkey}) % {rng.P1}) * 998244353 + (({pkey}) % {rng.P2}) * 69119"
        f" + (({akey}) % {rng.P1}) * 905035071 + (({akey}) % {rng.P2}) * 1000003)"
    )


def swap_u(pkey: str, akey: str, seed: int) -> str:
    """Deterministic per-(point, address) uniform used as the 'random
    choice' among annulus candidates (reference locationswap.py:113 uses
    ``rng.choice``; our distributed contract is argmin of this hash —
    order- and partitioning-independent)."""
    return rng.u_sql(swap_pick_key(pkey, akey), rng.TAG_SWAP, seed)
