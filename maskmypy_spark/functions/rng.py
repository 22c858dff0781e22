"""Counter-based deterministic RNG, expressible identically in numpy,
Spark SQL, and ANSI SQL (DuckDB).

The reference (``/root/reference/maskmypy/tools.py:66-95``,
``masks/donut.py:110-111``) draws from ONE sequential ``numpy.default_rng``
in row order, so its exact outputs are only defined single-threaded. A
distributed engine needs a per-row stream that is independent of
partitioning, task order, and cluster size (the replay contract of
``atlas.py:229-233``). We use a keyed quadratic-congruential hash:

    t  = ((key mod P1)*A_KEY + (key mod P2)*A_KEY2 + C(seed, tag, draw)) mod M
    h1 = (t*t + t*B1 + C1) mod M                         (quadratic)
    h2 = (h1*h1 + h1*B2 + C2) mod M                      (quartic)
    u  = h2 / M   in [0, 1)

with M = 2^31 and P1, P2 distinct primes just below 2^31. The affine stage
folds the key through BOTH primes, so two distinct 63-bit keys share a
stream only when congruent mod lcm(P1, P2) ~ 2^62 — a single `key mod M`
fold would collide every pair of keys 2^31 apart, a privacy-relevant
correlation once BIGINT keys (orderkey*8+linenumber at the 100 TB target)
exceed 2^31. All intermediates stay < 2^63 ((P1*A_KEY + P2*A_KEY2) + M <
6.1e18), so the same integer arithmetic is exact in numpy int64, Spark SQL
BIGINT, and DuckDB BIGINT — the three renderers below produce bit-identical
doubles. This makes every "random" mask a pure JVM column expression
(whole-stage codegen, no UDF) AND gives every mask an exact DuckDB oracle
twin. (Bitwise mixing would be stronger still, but XOR/shift syntax is not
portable between Spark SQL and DuckDB — `^` is POWER in DuckDB — and the
shared-string property is what makes the oracles exact.)

Statistical quality is that of a quadratic congruential generator — fully
adequate for the reference's test contracts (bounds, ±10% means, seed
sensitivity; see ``/root/reference/tests/masks/test_donut.py:10-38``) though
not cryptographic.
"""

from __future__ import annotations

import numpy as np

M = 1 << 31  # modulus 2^31; all mixing is mod M
P1 = 2_147_483_647  # 2^31 - 1 (prime); first key fold
P2 = 2_147_483_629  # prime; second key fold
A_KEY = 1_588_635_695
A_KEY2 = 1_203_793_391
A_SEED = 888_888_877
A_TAG = 2_654_435_761
A_DRAW = 40_503
B1, C1 = 1_103_515_245, 12_345
B2, C2 = 179_424_673, 97

# Draw-site tags: every independent uniform a mask consumes has its own tag,
# so per-row streams never collide across draw sites.
TAG_DONUT_R = 1       # donut radius draw (u1)
TAG_DONUT_X = 2       # donut x-fraction draw (u2)
TAG_DONUT_Q = 3       # donut quadrant draw (u3)
TAG_DONUT_R2 = 4      # donut second radius draw (areal r2 / gaussian u1b)
TAG_SWAP = 6          # locationswap candidate pick
TAG_STREET_N = 7      # street target node count draw
TAG_SIM = 8           # Ripley CSR simulation draws (x)
TAG_SIM_Y = 9         # Ripley CSR simulation draws (y)
TAG_KSAMPLE = 10      # Ripley scale-guard point thinning draw


MASK = M - 1  # 2^31 - 1: x % M == x & MASK for non-negative x


def _and_m(e: str) -> str:
    """``(e) & (2^31 - 1)`` — identical to ``(e) % 2^31`` for the RNG's
    non-negative intermediates, but a single bitwise AND instead of a 64-bit
    modulo in JVM codegen. SPARK-SIDE ONLY: the portable renderers below are
    the single source of truth for oracle SQL text (frozen hashes) and
    continue to emit ``%``; the fast dialect is a bit-identical re-spelling,
    verified by the contract tests comparing Spark results against the
    DuckDB oracles. ``&`` binds looser than ``+``/``*`` in Spark SQL, hence
    the full parenthesization here."""
    return f"(({e}) & {MASK})"


def flit(v: float) -> str:
    """Render a float literal that parses as DOUBLE in BOTH Spark SQL and
    DuckDB. Spark parses plain decimal literals (``100.0``) as DECIMAL,
    which silently degrades downstream arithmetic to fixed-point; scientific
    notation is DOUBLE in both dialects. 17 significant digits round-trip
    any IEEE-754 double exactly."""
    return f"{float(v):.17e}"


def _const(tag: int, seed: int, draw: int) -> int:
    """Fold (seed, tag, draw) — Python ints at plan-build time — into one
    mod-M constant, so the rendered expression has a single variable: key."""
    return ((seed % M) * A_SEED + (tag % M) * A_TAG + (draw % M) * A_DRAW + 1) % M


def _t_expr(key: str, c: int, draw: str | None = None, fast: bool = False) -> str:
    """Affine stage with the two-prime key fold; ``draw`` optionally adds a
    SQL-expression draw counter (attempt column). ``fast=True`` renders the
    final mod-2^31 as a bitwise AND (Spark-side dialect, see ``_and_m``)."""
    d = f" + (({draw}) % {M}) * {A_DRAW}" if draw is not None else ""
    body = (
        f"((({key}) % {P1}) * {A_KEY}"
        f" + (({key}) % {P2}) * {A_KEY2}{d} + {c})"
    )
    return _and_m(body) if fast else f"({body} % {M})"


def _mix_sql(t: str) -> str:
    h1 = f"(({t}) * ({t}) % {M} + ({t}) * {B1} % {M} + {C1}) % {M}"
    h2 = f"(({h1}) * ({h1}) % {M} + ({h1}) * {B2} % {M} + {C2}) % {M}"
    return f"(({h2}) / {flit(M)})"


def u_sql(key: str, tag: int, seed: int, draw: int | str = 0) -> str:
    """Render u(key) as a single SQL scalar expression (valid in Spark SQL
    and DuckDB; ``key`` must be a non-negative BIGINT expression). The
    quadratic rounds inline the stage-1 expression multiple times; engines
    CSE it. Prefer the column stages of :func:`staged` (t, then g, then u,
    each computed once) when hand-writing SQL or on a hot Spark path.

    ``draw`` may be a SQL expression (str) — e.g. an attempt-counter column
    for the containment retry loop — entering the same affine stage as the
    folded constant, so int-draw and column-draw renderings are bit-equal.
    """
    if isinstance(draw, str):
        return _mix_sql(_t_expr(key, _const(tag, seed, 0), draw))
    return _mix_sql(_t_expr(key, _const(tag, seed, draw)))


def t_sql(key: str, tag: int, seed: int, draw: int | str = 0, fast: bool = False) -> str:
    """Stage-1 (affine) value as a SQL expression — the first of the
    :func:`staged` columns. ``draw`` may be a SQL expression, as in
    ``u_sql``. ``fast=True`` is the Spark-side AND dialect (oracle SQL must
    keep the default)."""
    if isinstance(draw, str):
        return _t_expr(key, _const(tag, seed, 0), draw, fast=fast)
    return _t_expr(key, _const(tag, seed, draw), fast=fast)


def staged(
    name: str,
    key: str,
    tag: int,
    seed: int,
    draw: int | str = 0,
    fast: bool = False,
    unit: bool = True,
) -> list[tuple[str, str]]:
    """The hash as ordered (column_name, sql_expr) stages ``_t<name>`` ->
    ``_g<name>`` -> ``name``, where ``name`` is the uniform u in [0, 1) or,
    with ``unit=False``, the integer h2 in [0, 2^31) that u divides (pick
    keys). Apply with sequential ``withColumn`` (Spark) or nested CTEs
    (oracle SQL). One inlined expression per draw blows whole-stage
    codegen's 64 KB method limit (interpreted fallback, ~4x slower); the
    stages keep each expression tiny and run the same integer sequence as
    :func:`u_sql`. ``fast=True`` renders each mod-2^31 as a bitwise AND
    (``_and_m``): Spark-side only, since oracle SQL text is hash-frozen."""
    t, g = f"_t{name}", f"_g{name}"
    if fast:
        g_expr = _and_m(f"{_and_m(f'{t} * {t}')} + {_and_m(f'{t} * {B1}')} + {C1}")
        h2 = _and_m(f"{_and_m(f'{g} * {g}')} + {_and_m(f'{g} * {B2}')} + {C2}")
    else:
        g_expr = f"({t} * {t} % {M} + {t} * {B1} % {M} + {C1}) % {M}"
        h2 = f"(({g} * {g} % {M} + {g} * {B2} % {M} + {C2}) % {M})"
    return [
        (t, t_sql(key, tag, seed, draw, fast=fast)),
        (g, g_expr),
        (name, f"{h2} / {flit(M)}" if unit else h2),
    ]


def h2_sql(key: str, tag: int, seed: int, draw: int = 0) -> str:
    """The INTEGER stage-2 hash h2 in [0, 2^31) as a SQL expression — the
    value ``u_sql`` divides by M. Used where downstream packing needs the
    raw 31-bit integer (pick keys, derived sketch inputs)."""
    t = _t_expr(key, _const(tag, seed, draw))
    h1 = f"(({t}) * ({t}) % {M} + ({t}) * {B1} % {M} + {C1}) % {M}"
    return f"((({h1}) * ({h1}) % {M} + ({h1}) * {B2} % {M} + {C2}) % {M})"


def u_np(key, tag: int, seed: int, draw: int = 0) -> np.ndarray:
    """numpy twin of the SQL renderers — bit-identical doubles."""
    key = np.asarray(key, dtype=np.int64)
    c = _const(tag, seed, draw)
    t = ((key % P1) * A_KEY + (key % P2) * A_KEY2 + c) % M
    h1 = ((t * t) % M + (t * B1) % M + C1) % M
    h2 = ((h1 * h1) % M + (h1 * B2) % M + C2) % M
    return h2 / float(M)


def gen_seed() -> int:
    """16-digit random master seed (reference ``tools.py:85-95``)."""
    from random import SystemRandom

    return int(SystemRandom().random() * (10**16))
