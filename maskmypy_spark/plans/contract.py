"""Driver-contract queries: every SURVEY §2 operator as a (Spark DataFrame
callable, DuckDB oracle SQL) pair over the driver's star schema.

The Spark side runs the ENGINE operators (cell joins, kNN escalation, PIP,
hash-RNG masks); the oracle side expresses the same semantics as plain ANSI
SQL (cross joins + window functions — correct but unscalable, which is the
point: it is the ground truth, not the plan). Coordinates derive from key
columns via the shared hash (sources/tables.py), so both sides are bit-
identical; every float output is rounded to 6 dp (the reference's distance
precision) before the driver hashes values.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache as _lru_cache

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import analysis
from ..functions import masksql
from ..functions.rng import flit
from ..operators.distance_join import dist_sql
from ..operators.donut import donut
from ..operators.locationswap import locationswap
from ..operators.pip import pip_join
from ..operators.snap import snap_to_nodes
from ..operators.suppress import suppress
from ..operators.voronoi import voronoi
from ..sources import tables

LOW, HIGH = 100.0, 500.0
SEED = 42
MIN_K = 10
RECT = 2500.0  # containment grid cell size (8x4 rects over the 20x10 km box)

PTS = tables.points_select("customer", "c_custkey")
ADDR = tables.address_select()
NODES = tables.nodes_select()


def _chain(stages, src: str, prefix: str = "_c") -> tuple[str, str]:
    """Render stage list as chained CTE bodies; returns (ctes, last_alias)."""
    parts = []
    prev = src
    for i, (name, expr) in enumerate(stages):
        a = f"{prefix}{i}"
        parts.append(f"{a} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = a
    return ", ".join(parts), prev


def _masked_cte(distribution: str, attempt: int | str = 0, prefix: str = "_c") -> str:
    """CTEs: pts -> m(pid, x, y, mx, my) at full precision."""
    stages = masksql.donut_stages("pid", LOW, HIGH, SEED, distribution, attempt)
    ctes, last = _chain(stages, "pts", prefix)
    return (
        f"pts AS ({PTS}), {ctes}, "
        f"m AS (SELECT pid, x, y, x + _offx AS mx, y + _offy AS my FROM {last})"
    )


def _sens(spark: SparkSession, sf: str) -> DataFrame:
    return tables.sensitive_df(spark, sf)


# ---------------------------------------------------------------- masks ---

def _q_donut(distribution: str):
    def q(spark: SparkSession, sf: str) -> DataFrame:
        m = donut(_sens(spark, sf), LOW, HIGH, SEED, distribution)
        return m.select(
            "pid", F.round("x", 6).alias("mx"), F.round("y", 6).alias("my")
        )

    sql = (
        f"WITH {_masked_cte(distribution)} "
        "SELECT pid, round(mx, 6) AS mx, round(my, 6) AS my FROM m"
    )
    return q, sql


def _rect_containers(spark: SparkSession) -> DataFrame:
    rows = []
    for ix in range(8):
        for iy in range(4):
            x0, y0 = ix * RECT, iy * RECT
            x1, y1 = x0 + RECT, y0 + RECT
            ring = [
                {"x": x0, "y": y0},
                {"x": x1, "y": y0},
                {"x": x1, "y": y1},
                {"x": x0, "y": y1},
            ]
            rows.append((ix * 10 + iy, ring))
    return spark.createDataFrame(
        rows, "poly_id long, ring array<struct<x: double, y: double>>"
    )


def _q_donut_contained():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        m = donut(
            _sens(spark, sf), LOW, HIGH, SEED, "uniform",
            container=_rect_containers(spark), max_attempts=64,
        )
        return m.select("pid", F.round("x", 6).alias("mx"), F.round("y", 6).alias("my"))

    rid = lambda xc, yc: (  # noqa: E731
        f"(CAST(floor(({xc}) / {flit(RECT)}) AS BIGINT) * 10"
        f" + CAST(floor(({yc}) / {flit(RECT)}) AS BIGINT))"
    )
    stages = masksql.donut_stages("pid", LOW, HIGH, SEED, "uniform", attempt="a")
    ctes, last = _chain(stages, "att")
    sql = (
        f"WITH pts AS ({PTS}), "
        f"ph AS (SELECT pid, x, y, {rid('x', 'y')} AS home FROM pts), "
        "att AS (SELECT * FROM ph CROSS JOIN (SELECT unnest(range(0, 64)) AS a) _t), "
        f"{ctes}, "
        f"m AS (SELECT pid, x + _offx AS mx, y + _offy AS my, home, a FROM {last}), "
        f"ok AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY a) AS rn "
        f"FROM m WHERE {rid('mx', 'my')} = home) "
        "SELECT pid, round(mx, 6) AS mx, round(my, 6) AS my FROM ok WHERE rn = 1"
    )
    return q, sql


def _q_locationswap():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        m = locationswap(
            _sens(spark, sf), LOW, HIGH, tables.address_df(spark, sf), SEED
        )
        return m.select(
            "pid", F.round("x", 6).alias("mx"), F.round("y", 6).alias("my"), "UNMASKED"
        )

    u = masksql.swap_u("pid", "aid", SEED)
    sql = (
        f"WITH pts AS ({PTS}), addr AS ({ADDR}), "
        f"cand AS (SELECT p.pid, p.x, p.y, a.aid, a.ax, a.ay, "
        f"{dist_sql('p.x', 'p.y', 'a.ax', 'a.ay')} AS dist FROM pts p CROSS JOIN addr a), "
        f"ann AS (SELECT * FROM cand WHERE dist <= {flit(HIGH)} AND dist > {flit(LOW)}), "
        f"pick AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY {u}, aid) AS rn FROM ann) "
        "SELECT p.pid, round(coalesce(k.ax, p.x), 6) AS mx, round(coalesce(k.ay, p.y), 6) AS my, "
        "CASE WHEN k.aid IS NULL THEN 1 ELSE 0 END AS UNMASKED "
        "FROM pts p LEFT JOIN (SELECT * FROM pick WHERE rn = 1) k ON p.pid = k.pid"
    )
    return q, sql


def _q_voronoi():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        m = voronoi(_sens(spark, sf))
        return m.select("pid", F.round("x", 6).alias("mx"), F.round("y", 6).alias("my"))

    sql = (
        f"WITH pts AS ({PTS}), "
        f"pairs AS (SELECT a.pid, a.x, a.y, b.pid AS qid, b.x AS qx, b.y AS qy, "
        f"{dist_sql('a.x', 'a.y', 'b.x', 'b.y')} AS dist "
        "FROM pts a CROSS JOIN pts b WHERE a.pid <> b.pid), "
        "nn AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY dist, qid) AS rn FROM pairs) "
        "SELECT pid, round((x + qx) / 2.0, 6) AS mx, round((y + qy) / 2.0, 6) AS my "
        "FROM nn WHERE rn = 1"
    )
    return q, sql


def _q_snap():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        m = snap_to_nodes(_sens(spark, sf), tables.nodes_df(spark, sf))
        return m.select("pid", F.round("x", 6).alias("mx"), F.round("y", 6).alias("my"))

    sql = (
        f"WITH pts AS ({PTS}), nodes AS ({NODES}), "
        f"pairs AS (SELECT p.pid, n.node_id, n.nx, n.ny, "
        f"{dist_sql('p.x', 'p.y', 'n.nx', 'n.ny')} AS dist FROM pts p CROSS JOIN nodes n), "
        "nn AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY dist, node_id) AS rn FROM pairs) "
        "SELECT pid, round(nx, 6) AS mx, round(ny, 6) AS my FROM nn WHERE rn = 1"
    )
    return q, sql


# Street contract parameters: spacing 600 keeps the baked pick table small
# (~520 valid nodes x 10 targets); max_length must exceed the jittered edge
# length (~600 +- 85) for any node to be snap-valid.
_ST_SPACING = 600.0
_ST_ML = 800.0
_ST_LO, _ST_HI = 10, 20
_ST_RSEED = 44  # fixtures.road_nodes_pdf default
_ST_NX = int(20000.0 / _ST_SPACING)  # fixtures.BOX_W
_ST_NY = int(10000.0 / _ST_SPACING)  # fixtures.BOX_H


def _roads(spark: SparkSession):
    """Deterministic perturbed-grid road network (sources/fixtures.py §4) —
    the same fixture the pytest street oracles use."""
    from ..sources import fixtures

    nodes = fixtures.road_nodes_pdf(spacing=_ST_SPACING)
    edges = fixtures.road_edges_pdf(nodes, spacing=_ST_SPACING)
    return spark.createDataFrame(nodes), spark.createDataFrame(edges)


@_lru_cache(maxsize=1)
def _street_resolved() -> tuple[tuple[int, int, int], ...]:
    """(node_id, target, picked_node_id) for every snap-valid node x target —
    the ONLY non-closed-form piece of the street oracle (graph shortest
    paths are not set-SQL in DuckDB 1.0; USING KEY recursion arrived later).

    Independently re-derived from the road fixture with a dense Bellman-Ford
    fixpoint (vs the engine's per-config cutoff-doubling heap Dijkstra,
    operators/street.py:92-136): relaxation composes edge weights left-to-
    right along the winning path exactly as Dijkstra's d + w does, so the
    fixpoint doubles are bit-equal and the (|d - mean|, node_id) pick is
    reproduced float-for-float. The engine's cutoff-doubling reachable-set
    contract (including the component-exhaustion guard) is replayed on the
    distance rows. The oracle string embedding this table is pinned by
    tests/frozen_oracles.json against silent drift."""
    import numpy as np

    from ..sources import fixtures

    nodes = fixtures.road_nodes_pdf(spacing=_ST_SPACING)
    edges = fixtures.road_edges_pdf(nodes, spacing=_ST_SPACING)
    ids = nodes["node_id"].to_numpy(np.int64)
    n = len(ids)
    remap = {int(v): i for i, v in enumerate(ids)}
    src = np.fromiter((remap[int(v)] for v in edges["src"]), np.int64)
    dst = np.fromiter((remap[int(v)] for v in edges["dst"]), np.int64)
    w = edges["length"].to_numpy(np.float64)
    valid = np.zeros(n, dtype=bool)
    ok = w <= _ST_ML
    valid[src[ok]] = True
    valid[dst[ok]] = True

    dmat = np.full((n, n), np.inf)
    dmat[np.arange(n), np.arange(n)] = 0.0
    changed = True
    while changed:
        changed = False
        for s_, d_, w_ in zip(src, dst, w):
            nd = dmat[:, s_] + w_
            m = nd < dmat[:, d_]
            if m.any():
                dmat[m, d_] = nd[m]
                changed = True

    rows: list[tuple[int, int, int]] = []
    for ui in np.where(valid)[0]:
        du = dmat[ui]
        for t in range(_ST_LO, _ST_HI):
            cutoff, prev = _ST_ML, -1
            while True:
                c = int((du <= cutoff).sum())
                if c >= t or c == prev:
                    break
                prev = c
                cutoff *= 2.0
            sel = np.where(du <= cutoff)[0]
            order = sorted(sel, key=lambda v: (du[v], ids[v]))
            take = order[: min(t, len(order))]
            acc = 0.0
            for v in take:
                acc += du[v]
            mean = acc / len(take)
            best = min(take, key=lambda v: (abs(du[v] - mean), ids[v]))
            rows.append((int(ids[ui]), t, int(ids[best])))
    return tuple(rows)


def _street_ctes(span: int = _ST_HI - _ST_LO) -> str:
    """Closed-form CTEs reconstructing the road fixture in DuckDB SQL:
    node coordinates and the keep-mask are the same hash-RNG formulas as
    sources/fixtures.py:201-215 (bit-equal doubles), snap-validity is an
    edge-existence predicate over the 4-neighbor grid, and the Dijkstra
    picks come from the baked ``res`` VALUES (:func:`_street_resolved`)."""
    from ..functions.rng import u_sql

    sp, half = flit(_ST_SPACING), flit(_ST_SPACING / 2.0)
    total = _ST_NX * _ST_NY
    u_jx = u_sql("i", 221, _ST_RSEED)
    u_jy = u_sql("i", 222, _ST_RSEED)
    u_keep = u_sql("i", 223, _ST_RSEED)
    res_vals = ", ".join(
        f"({a},{t},{p})" for a, t, p in _street_resolved()
    )
    return (
        f"grid AS (SELECT unnest(range(0, {total})) AS i), "
        f"rn AS (SELECT i AS node_id, "
        f"CAST(i % {_ST_NX} AS DOUBLE) * {sp} + {half} + ({u_jx} - {flit(0.5)}) * {flit(60.0)} AS nx, "
        f"CAST(i // {_ST_NX} AS DOUBLE) * {sp} + {half} + ({u_jy} - {flit(0.5)}) * {flit(60.0)} AS ny "
        f"FROM grid WHERE {u_keep} >= {flit(0.01)}), "
        # 4-neighbor grid edges between surviving nodes (both directions via
        # the UNION) with euclidean length, as road_edges_pdf builds them
        f"nbr AS (SELECT a.node_id AS i, b.node_id AS j, "
        f"{dist_sql('a.nx', 'a.ny', 'b.nx', 'b.ny')} AS len FROM rn a JOIN rn b "
        f"ON (b.node_id = a.node_id + 1 AND a.node_id % {_ST_NX} <> {_ST_NX - 1}) "
        f"OR b.node_id = a.node_id + {_ST_NX}), "
        f"vn AS (SELECT DISTINCT e.i AS node_id FROM "
        f"(SELECT i, len FROM nbr UNION ALL SELECT j AS i, len FROM nbr) e "
        f"WHERE e.len <= {flit(_ST_ML)}), "
        f"vnodes AS (SELECT r.* FROM rn r JOIN vn v ON r.node_id = v.node_id), "
        f"res(node_id, target, pick_id) AS (VALUES {res_vals}), "
        # snap each point to the nearest valid node (ties by node_id), draw
        # the per-point target count from the street hash-RNG stream (tag 7)
        f"snapd AS (SELECT p.pid, n.node_id, "
        f"row_number() OVER (PARTITION BY p.pid ORDER BY "
        f"{dist_sql('p.x', 'p.y', 'n.nx', 'n.ny')}, n.node_id) AS rnk "
        f"FROM pts p CROSS JOIN vnodes n), "
        f"tgt AS (SELECT pid, x, y, {_ST_LO} + CAST(floor(({u_sql('pid', 7, SEED)}) "
        f"* {span}) AS INT) AS target FROM pts), "
        f"sm AS (SELECT t.pid, t.x, t.y, pk.nx AS mx, pk.ny AS my "
        f"FROM (SELECT pid, node_id FROM snapd WHERE rnk = 1) s "
        f"JOIN tgt t ON s.pid = t.pid "
        f"JOIN res r ON r.node_id = s.node_id AND r.target = t.target "
        f"JOIN rn pk ON pk.node_id = r.pick_id)"
    )


def _q_street():
    """Street mask (reference masks/street.py:202-293): snap to the nearest
    snap-valid node, Dijkstra out to a per-point random target count, move
    to the node whose network distance is closest to the mean of the target
    nearest. Exact oracle: fixture reconstructed in closed form + the baked
    Bellman-Ford pick table (see _street_resolved)."""

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators.street import street

        nodes, edges = _roads(spark)
        m = street(
            _sens(spark, sf), _ST_LO, _ST_HI, nodes, edges,
            max_length=_ST_ML, seed=SEED,
        )
        return m.select(
            "pid", F.round("x", 6).alias("mx"), F.round("y", 6).alias("my")
        )

    sql = (
        f"WITH pts AS ({PTS}), {_street_ctes()} "
        "SELECT pid, round(mx, 6) AS mx, round(my, 6) AS my FROM sm"
    )
    return q, sql


def _q_street_k():
    """Adaptive street_k privacy loop (reference masks/street.py:82-192).
    Exact oracle with ONE unrolled iteration (low=start): the engine loop
    terminates on iteration 1 whenever k-satisfaction(min_k) >= suppression
    there — true for the contract data at every driver SF. The oracle
    SELF-CHECKS that assumption: if satisfaction at low=start were below
    the threshold it emits NULL coordinates, which cannot hash-match the
    engine — the gate fails loudly instead of comparing a stale unroll."""

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators.street import street_k

        nodes, edges = _roads(spark)
        m = street_k(
            _sens(spark, sf), tables.address_df(spark, sf),
            min_k=3, start=_ST_LO, stop=60, spread=2, increment=2,
            suppression=0.95, max_length=_ST_ML, seed=SEED,
            nodes=nodes, edges=edges,
        )
        return m.select(
            "pid",
            F.round("x", 6).alias("sx"),
            F.round("y", 6).alias("sy"),
            "SUPPRESSED",
        )

    # iteration 1 of the loop: street(low=10, high=12) => targets {10, 11}
    ctes = _street_ctes(span=2)
    sql = (
        f"WITH pts AS ({PTS}), addr AS ({ADDR}), {ctes}, "
        f"disp AS (SELECT pid, mx, my, {dist_sql('mx', 'my', 'x', 'y')} AS radius FROM sm), "
        f"cnt AS (SELECT d.pid, count(*) AS c FROM disp d JOIN addr a "
        f"ON {dist_sql('d.mx', 'd.my', 'a.ax', 'a.ay')} <= d.radius GROUP BY d.pid), "
        "kt AS (SELECT m.pid, m.mx, m.my, CAST(coalesce(c.c + 1, 1) AS BIGINT) AS k "
        "FROM sm m LEFT JOIN cnt c ON m.pid = c.pid), "
        "sat AS (SELECT round(sum(CASE WHEN k >= 3 THEN 1 ELSE 0 END) / CAST(count(k) AS DOUBLE), 3) AS s FROM kt), "
        "cent AS (SELECT avg(mx) AS cx, avg(my) AS cy FROM kt) "
        "SELECT kt.pid, "
        f"CASE WHEN sat.s >= {flit(0.95)} THEN round(CASE WHEN k < 3 THEN cx ELSE mx END, 6) END AS sx, "
        f"CASE WHEN sat.s >= {flit(0.95)} THEN round(CASE WHEN k < 3 THEN cy ELSE my END, 6) END AS sy, "
        f"CASE WHEN sat.s >= {flit(0.95)} THEN (CASE WHEN k < 3 THEN 'TRUE' ELSE 'FALSE' END) END AS SUPPRESSED "
        "FROM kt CROSS JOIN sat CROSS JOIN cent"
    )
    return q, sql


# ------------------------------------------------------------ analytics ---

# Shared oracle CTE: donut-uniform mask + per-point k (closed-disk contract).
_K_CTE = (
    f"WITH {_masked_cte('uniform')}, addr AS ({ADDR}), "
    f"disp AS (SELECT pid, mx, my, {dist_sql('mx', 'my', 'x', 'y')} AS radius FROM m), "
    f"cnt AS (SELECT d.pid, count(*) AS c FROM disp d JOIN addr a "
    f"ON {dist_sql('d.mx', 'd.my', 'a.ax', 'a.ay')} <= d.radius GROUP BY d.pid), "
    "kt AS (SELECT m.pid, m.mx, m.my, CAST(coalesce(c.c + 1, 1) AS BIGINT) AS k_anonymity "
    "FROM m LEFT JOIN cnt c ON m.pid = c.pid)"
)


def _kdf(spark: SparkSession, sf: str) -> DataFrame:
    sens = _sens(spark, sf)
    m = donut(sens, LOW, HIGH, SEED, "uniform")
    return analysis.k_anonymity_address(
        sens, m, tables.address_df(spark, sf), max_radius=HIGH
    )


def _q_k_anonymity():
    """Gates the ``slim=True`` k path: the LEFT OUTER pair stream and one
    count aggregate, returning (key, x, y, k) with no payload join-back. The
    suppress / k_satisfaction / summarize_k / street_k entries run the same
    shape through ``_kdf``."""

    def q(spark: SparkSession, sf: str) -> DataFrame:
        sens = _sens(spark, sf)
        m = donut(sens, LOW, HIGH, SEED, "uniform")
        k = analysis.k_anonymity_address(
            sens, m, tables.address_df(spark, sf), max_radius=HIGH, slim=True
        )
        return k.select("pid", "k_anonymity")

    sql = f"{_K_CTE} SELECT pid, k_anonymity FROM kt"
    return q, sql


def _q_k_satisfaction():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        k = _kdf(spark, sf)
        return k.agg(
            *[
                F.round(
                    F.sum(F.when(F.col("k_anonymity") >= mk, 1).otherwise(0))
                    / F.count("k_anonymity"),
                    3,
                ).alias(f"k_satisfaction_{mk}")
                for mk in (5, 25, 50)
            ]
        )

    sats = ", ".join(
        f"round(sum(CASE WHEN k_anonymity >= {mk} THEN 1 ELSE 0 END) / count(*), 3)"
        f" AS k_satisfaction_{mk}"
        for mk in (5, 25, 50)
    )
    sql = f"{_K_CTE} SELECT {sats} FROM kt"
    return q, sql


def _q_summarize_k():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        return analysis.summarize_k(_kdf(spark, sf))

    sql = (
        f"{_K_CTE} SELECT CAST(min(k_anonymity) AS BIGINT) AS k_min, "
        "CAST(max(k_anonymity) AS BIGINT) AS k_max, "
        "round(median(CAST(k_anonymity AS DOUBLE)), 2) AS k_med, "
        "round(avg(k_anonymity), 2) AS k_mean FROM kt"
    )
    return q, sql


def _q_suppress():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        s = suppress(_kdf(spark, sf), MIN_K)
        return s.select(
            "pid",
            F.round("x", 6).alias("sx"),
            F.round("y", 6).alias("sy"),
            "SUPPRESSED",
        )

    sql = (
        f"{_K_CTE}, cent AS (SELECT avg(mx) AS cx, avg(my) AS cy FROM kt) "
        f"SELECT pid, "
        f"round(CASE WHEN k_anonymity < {MIN_K} THEN cx ELSE mx END, 6) AS sx, "
        f"round(CASE WHEN k_anonymity < {MIN_K} THEN cy ELSE my END, 6) AS sy, "
        f"CASE WHEN k_anonymity < {MIN_K} THEN 'TRUE' ELSE 'FALSE' END AS SUPPRESSED "
        "FROM kt CROSS JOIN cent"
    )
    return q, sql


def _q_displacement_segments():
    """Per-point displacement segments (SURVEY A20 / reference
    analysis.py:468-521's map layer): original -> masked endpoints plus
    distance, the table a displacement-map renderer consumes."""

    def q(spark: SparkSession, sf: str) -> DataFrame:
        sens = _sens(spark, sf)
        m = donut(sens, LOW, HIGH, SEED, "uniform")
        d = analysis.displacement(sens, m)
        return d.select(
            "pid",
            F.round("x", 6).alias("mx"),
            F.round("y", 6).alias("my"),
            F.round("_distance", 6).alias("distance"),
        )

    sql = (
        f"WITH {_masked_cte('uniform')} "
        "SELECT pid, round(mx, 6) AS mx, round(my, 6) AS my, "
        f"round({dist_sql('mx', 'my', 'x', 'y')}, 6) AS distance FROM m"
    )
    return q, sql


def _q_displacement_summary():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        sens = _sens(spark, sf)
        m = donut(sens, LOW, HIGH, SEED, "uniform")
        return analysis.summarize_displacement(analysis.displacement(sens, m))

    sql = (
        f"WITH {_masked_cte('uniform')}, "
        f"d AS (SELECT {dist_sql('mx', 'my', 'x', 'y')} AS dist FROM m) "
        "SELECT round(min(dist), 6) AS displacement_min, round(max(dist), 6) AS displacement_max, "
        "round(median(dist), 6) AS displacement_med, round(avg(dist), 6) AS displacement_mean FROM d"
    )
    return q, sql


def _q_central_drift():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        sens = _sens(spark, sf)
        m = donut(sens, LOW, HIGH, SEED, "uniform")
        return analysis.central_drift(sens, m)

    sql = (
        f"WITH {_masked_cte('uniform')}, "
        "a AS (SELECT avg(x) AS ax, avg(y) AS ay FROM pts), "
        "b AS (SELECT avg(mx) AS bx, avg(my) AS by FROM m) "
        f"SELECT round({dist_sql('ax', 'ay', 'bx', 'by')}, 6) AS central_drift "
        "FROM a CROSS JOIN b"
    )
    return q, sql


def _q_nnd_delta():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        sens = _sens(spark, sf)
        m = donut(sens, LOW, HIGH, SEED, "uniform")
        return analysis.nnd_delta(sens, m)

    def nnd_sql(src, xc, yc):
        return (
            f"(SELECT min(d) AS dmin, max(d) AS dmax, avg(d) AS dmean FROM ("
            f"SELECT a.pid, min({dist_sql(f'a.{xc}', f'a.{yc}', f'b.{xc}', f'b.{yc}')}) AS d "
            f"FROM {src} a CROSS JOIN {src} b WHERE a.pid <> b.pid GROUP BY a.pid))"
        )

    sql = (
        f"WITH {_masked_cte('uniform')}, "
        f"m2 AS (SELECT pid, mx AS x, my AS y FROM m), "
        f"bf AS {nnd_sql('pts', 'x', 'y')}, af AS {nnd_sql('m2', 'x', 'y')} "
        "SELECT round(af.dmin - bf.dmin, 6) AS nnd_min_delta, "
        "round(af.dmax - bf.dmax, 6) AS nnd_max_delta, "
        "round(af.dmean - bf.dmean, 6) AS nnd_mean_delta "
        "FROM bf CROSS JOIN af"
    )
    return q, sql


def _rect_pop(poly_id: str) -> str:
    """Deterministic per-rect population, same formula both sides."""
    return f"(100.0 + ({poly_id}) * 7.0)"


def _q_k_polygon():
    """Population-disaggregation k (reference analysis.py:524-579): the
    engine clips each displacement disk against the census rectangles with
    the vectorized Green's-theorem kernel (functions/geometry.py); the
    oracle states the IDENTICAL per-edge closed form in SQL (sector terms
    via atan2 — ulp differences vs numpy are absorbed by the integer floor;
    any k flip would need a population sum within ~1e-9 of an integer)."""

    def q(spark: SparkSession, sf: str) -> DataFrame:
        sens = _sens(spark, sf)
        m = donut(sens, LOW, HIGH, SEED, "uniform")
        polys = _rect_containers(spark).withColumn(
            "pop", F.expr(_rect_pop("poly_id"))
        )
        k = analysis.k_anonymity_polygon(sens, m, polys)
        return k.select("pid", "k_anonymity")

    # per-edge contribution stages over circle-centered edge coords
    # (eax, eay, ebx, eby) and radius-squared r2 — mirrors
    # geometry.circle_poly_edge_area case-for-case.
    tri = lambda ux, uy, vx, vy: f"(0.5 * (({ux}) * ({vy}) - ({uy}) * ({vx})))"  # noqa: E731
    sec = lambda ux, uy, vx, vy: (  # noqa: E731
        f"(0.5 * r2 * atan2(({ux}) * ({vy}) - ({uy}) * ({vx}),"
        f" ({ux}) * ({vx}) + ({uy}) * ({vy})))"
    )
    stages = [
        ("dA2", "eax * eax + eay * eay"),
        ("dB2", "ebx * ebx + eby * eby"),
        ("edx", "ebx - eax"),
        ("edy", "eby - eay"),
        ("qa", "edx * edx + edy * edy"),
        ("qb", "2.0 * (eax * edx + eay * edy)"),
        ("qc", "dA2 - r2"),
        ("disc", "qb * qb - 4.0 * qa * qc"),
        ("sq", "sqrt(greatest(disc, 0.0))"),
        ("t1", "CASE WHEN qa > 0 THEN (0.0 - qb - sq) / (2.0 * qa) ELSE 0.0 END"),
        ("t2", "CASE WHEN qa > 0 THEN (0.0 - qb + sq) / (2.0 * qa) ELSE 0.0 END"),
        ("p1x", "eax + t1 * edx"),
        ("p1y", "eay + t1 * edy"),
        ("p2x", "eax + t2 * edx"),
        ("p2y", "eay + t2 * edy"),
        (
            "contrib",
            "CASE WHEN qa <= 0 THEN 0.0 "
            f"WHEN dA2 <= r2 AND dB2 <= r2 THEN {tri('eax','eay','ebx','eby')} "
            f"WHEN dA2 <= r2 THEN {tri('eax','eay','p2x','p2y')} + {sec('p2x','p2y','ebx','eby')} "
            f"WHEN dB2 <= r2 THEN {sec('eax','eay','p1x','p1y')} + {tri('p1x','p1y','ebx','eby')} "
            "WHEN disc > 0 AND t1 > 0.0 AND t1 < 1.0 AND t2 > 0.0 AND t2 < 1.0 THEN "
            f"{sec('eax','eay','p1x','p1y')} + {tri('p1x','p1y','p2x','p2y')} + {sec('p2x','p2y','ebx','eby')} "
            f"ELSE {sec('eax','eay','ebx','eby')} END",
        ),
    ]
    ctes, last = _chain(stages, "edges", "_e")
    sql = (
        f"WITH {_masked_cte('uniform')}, "
        f"disp AS (SELECT pid, mx, my, {dist_sql('mx', 'my', 'x', 'y')} AS radius FROM m), "
        "rects AS (SELECT ix * 10 + iy AS poly_id, "
        f"ix * {flit(RECT)} AS rx0, iy * {flit(RECT)} AS ry0, "
        f"ix * {flit(RECT)} + {flit(RECT)} AS rx1, iy * {flit(RECT)} + {flit(RECT)} AS ry1, "
        f"{_rect_pop('ix * 10 + iy')} AS pop "
        "FROM (SELECT unnest(range(0, 8)) AS ix) CROSS JOIN (SELECT unnest(range(0, 4)) AS iy)), "
        # ring (x0,y0)->(x1,y0)->(x1,y1)->(x0,y1) in circle-centered coords
        "edges AS (SELECT d.pid, r.poly_id, r.pop, d.radius * d.radius AS r2, "
        f"{flit(RECT * RECT)} AS rect_area, e.i, "
        "CASE e.i WHEN 0 THEN r.rx0 WHEN 1 THEN r.rx1 WHEN 2 THEN r.rx1 ELSE r.rx0 END - d.mx AS eax, "
        "CASE e.i WHEN 0 THEN r.ry0 WHEN 1 THEN r.ry0 WHEN 2 THEN r.ry1 ELSE r.ry1 END - d.my AS eay, "
        "CASE e.i WHEN 0 THEN r.rx1 WHEN 1 THEN r.rx1 WHEN 2 THEN r.rx0 ELSE r.rx0 END - d.mx AS ebx, "
        "CASE e.i WHEN 0 THEN r.ry0 WHEN 1 THEN r.ry1 WHEN 2 THEN r.ry1 ELSE r.ry0 END - d.my AS eby "
        "FROM disp d CROSS JOIN rects r CROSS JOIN (SELECT unnest(range(0, 4)) AS i) e), "
        f"{ctes}, "
        f"per_poly AS (SELECT pid, poly_id, any_value(pop) AS pop, any_value(rect_area) AS ra, "
        f"abs(sum(contrib)) AS inter FROM {last} GROUP BY pid, poly_id), "
        "ks AS (SELECT pid, CAST(floor(sum(pop * inter / ra)) AS BIGINT) AS k FROM per_poly GROUP BY pid) "
        "SELECT m.pid, coalesce(ks.k, 0) AS k_anonymity FROM m LEFT JOIN ks ON m.pid = ks.pid"
    )
    return q, sql


def _q_pip_count():
    def q(spark: SparkSession, sf: str) -> DataFrame:
        inside = pip_join(_sens(spark, sf), _rect_containers(spark))
        return (
            inside.groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n_points"))
            .orderBy("poly_id")
        )

    sql = (
        f"WITH pts AS ({PTS}) "
        f"SELECT (CAST(floor(x / {flit(RECT)}) AS BIGINT) * 10"
        f" + CAST(floor(y / {flit(RECT)}) AS BIGINT)) AS poly_id, "
        "count(*) AS n_points FROM pts "
        f"WHERE x >= 0 AND x < {flit(8 * RECT)} AND y >= 0 AND y < {flit(4 * RECT)} "
        "GROUP BY 1 ORDER BY 1"
    )
    return q, sql


def _q_ripleys_k():
    """Observed Ripley K at fixed support bands (reference analysis.py:
    288-336 estimator, bbox window, no edge correction). Simulation
    envelopes are engine-side (seeded CSR, rows-only)."""
    steps, max_d = 10, 1000.0
    support = [max_d / steps * (i + 1) for i in range(steps)]

    def q(spark: SparkSession, sf: str) -> DataFrame:
        r = analysis.ripleys_k(
            _sens(spark, sf), max_dist=max_d, min_dist=max_d / steps, steps=steps
        )
        return r.select("band", F.round("support", 6).alias("support"),
                        F.round("statistic", 6).alias("statistic")).orderBy("band")

    counts = ", ".join(
        f"sum(CASE WHEN dist <= {flit(d)} THEN 1 ELSE 0 END) AS _n{i}"
        for i, d in enumerate(support)
    )
    unpivot = " UNION ALL ".join(
        f"SELECT {i} AS band, round({flit(d)}, 6) AS support, "
        f"round(_n{i} * s, 6) AS statistic FROM wide"
        for i, d in enumerate(support)
    )
    sql = (
        f"WITH pts AS ({PTS}), "
        "bb AS (SELECT min(x) x0, max(x) x1, min(y) y0, max(y) y1, count(*) n FROM pts), "
        "sc AS (SELECT (x1 - x0) * (y1 - y0) / (n * (n - 1.0)) AS s FROM bb), "
        f"pairs AS (SELECT {dist_sql('a.x', 'a.y', 'b.x', 'b.y')} AS dist "
        "FROM pts a CROSS JOIN pts b WHERE a.pid <> b.pid), "
        f"wide AS (SELECT {counts}, any_value(sc.s) AS s FROM pairs CROSS JOIN sc) "
        f"SELECT * FROM ({unpivot}) ORDER BY band"
    )
    return q, sql


def _q_knn_join():
    """Exact k-NN join (k=3 nearest road nodes per point, ranked) — the
    general multi-neighbor lookup behind snap/NND, oracle = cross join +
    row_number."""
    K = 3

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators.knn import knn_join

        out = knn_join(
            _sens(spark, sf), tables.nodes_df(spark, sf), k=K, okey="node_id", ox="nx", oy="ny"
        )
        return out.select(
            "pid", "node_id", "rank", F.round("nn_dist", 6).alias("dist")
        )

    sql = (
        f"WITH pts AS ({PTS}), nodes AS ({NODES}), "
        f"pairs AS (SELECT p.pid, n.node_id, "
        f"{dist_sql('p.x', 'p.y', 'n.nx', 'n.ny')} AS d FROM pts p CROSS JOIN nodes n), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY pid ORDER BY d, node_id) AS rank FROM pairs) "
        f"SELECT pid, node_id, CAST(rank AS INT) AS rank, round(d, 6) AS dist FROM r WHERE rank <= {K}"
    )
    return q, sql


def _q_mask_checksum():
    """Order-insensitive content checksum of the masked table, cross-engine
    exact (SURVEY A15's replay primitive): per-row hash from INTEGER-only
    arithmetic (quantized coords folded through the engine's h2), xor-
    aggregated with a row count — partitioning- and order-independent on
    both engines, no string rendering anywhere."""
    from ..functions.rng import h2_sql

    rowkey = (
        "(pid * 1000003 + CAST(round(mx * 1000000.0, 0) AS BIGINT) % 2147483648"
        " + CAST(round(my * 1000000.0, 0) AS BIGINT) % 2147483648)"
    )
    rowhash = h2_sql(rowkey, 41, SEED)

    def q(spark: SparkSession, sf: str) -> DataFrame:
        m = donut(_sens(spark, sf), LOW, HIGH, SEED, "uniform")
        h = m.select(
            F.col("pid"),
            F.col("x").alias("mx"),
            F.col("y").alias("my"),
        ).select(F.expr(rowhash).alias("_h"))
        return h.agg(
            F.expr("bit_xor(_h)").alias("checksum"),
            F.count(F.lit(1)).alias("n_rows"),
        )

    sql = (
        f"WITH {_masked_cte('uniform')}, "
        f"h AS (SELECT {rowhash} AS _h FROM m) "
        "SELECT bit_xor(_h) AS checksum, count(*) AS n_rows FROM h"
    )
    return q, sql


def _q_ripley_rmse():
    """RMSE between the original and donut-masked Ripley K vectors
    (reference analysis.py:339-368; the evaluate(skip_slow=False) stat)."""
    steps, max_d = 10, 1000.0

    def q(spark: SparkSession, sf: str) -> DataFrame:
        sens = _sens(spark, sf)
        m = donut(sens, LOW, HIGH, SEED, "uniform")
        a = analysis.ripleys_k(sens, max_dist=max_d, min_dist=max_d / steps, steps=steps)
        b = analysis.ripleys_k(m, max_dist=max_d, min_dist=max_d / steps, steps=steps)
        rmse = analysis.ripley_rmse(a, b)
        return spark.createDataFrame([(float(rmse),)], "ripley_rmse double")

    def k_cte(src: str, alias: str) -> str:
        support = [max_d / steps * (i + 1) for i in range(steps)]
        counts = ", ".join(
            f"sum(CASE WHEN dist <= {flit(d)} THEN 1 ELSE 0 END) AS _n{i}"
            for i, d in enumerate(support)
        )
        unpivot = " UNION ALL ".join(
            f"SELECT {i} AS band, _n{i} * s AS statistic FROM {alias}_w"
            for i in range(steps)
        )
        return (
            f"{alias}_bb AS (SELECT min(x) x0, max(x) x1, min(y) y0, max(y) y1, "
            f"count(*) n FROM {src}), "
            f"{alias}_sc AS (SELECT (x1 - x0) * (y1 - y0) / (n * (n - 1.0)) AS s FROM {alias}_bb), "
            f"{alias}_p AS (SELECT {dist_sql('a.x', 'a.y', 'b.x', 'b.y')} AS dist "
            f"FROM {src} a CROSS JOIN {src} b WHERE a.pid <> b.pid), "
            f"{alias}_w AS (SELECT {counts}, any_value(sc.s) AS s FROM {alias}_p CROSS JOIN {alias}_sc sc), "
            f"{alias}_k AS ({unpivot})"
        )

    sql = (
        f"WITH {_masked_cte('uniform')}, "
        "m2 AS (SELECT pid, mx AS x, my AS y FROM m), "
        f"{k_cte('pts', 'ka')}, {k_cte('m2', 'kb')} "
        "SELECT round(sqrt(avg((kb.statistic - ka.statistic) * (kb.statistic - ka.statistic))), 3) "
        "AS ripley_rmse FROM ka_k ka JOIN kb_k kb ON ka.band = kb.band"
    )
    return q, sql


def _q_crop():
    """bbox crop with fractional padding (reference tools.py:150-162)."""
    bbox = (2000.0, 1000.0, 12000.0, 6000.0)
    pad = 0.1

    def q(spark: SparkSession, sf: str) -> DataFrame:
        c = analysis.crop(_sens(spark, sf), bbox, padding=pad)
        return c.select("pid", F.round("x", 6).alias("cx"), F.round("y", 6).alias("cy"))

    x0, y0, x1, y1 = bbox
    px, py = (x1 - x0) * pad, (y1 - y0) * pad
    sql = (
        f"WITH pts AS ({PTS}) "
        "SELECT pid, round(x, 6) AS cx, round(y, 6) AS cy FROM pts "
        f"WHERE x >= {flit(x0 - px)} AND x <= {flit(x1 + px)} "
        f"AND y >= {flit(y0 - py)} AND y <= {flit(y1 + py)}"
    )
    return q, sql


def _q_cell_pyramid():
    """Multi-resolution density pyramid (hypertable-rollup analogue): the
    oracle states each level directly from the fact table; the engine
    computes level 0 once and rolls parents up from children — identical
    results, L-1 fewer fact scans."""
    from ..operators.rollup import cell_pyramid

    CS, LEVELS = 1250.0, 4

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return cell_pyramid(_sens(spark, sf), cs=CS, levels=LEVELS)

    from ..functions import cells as _cells

    per_level = " UNION ALL ".join(
        f"SELECT {lvl} AS level, {_cells.cell_sql('x', 'y', CS * (2 ** lvl))} AS cell, "
        "count(*) AS n FROM pts GROUP BY 2"
        for lvl in range(LEVELS)
    )
    sql = f"WITH pts AS ({PTS}) SELECT * FROM ({per_level})"
    return q, sql


# ------------------------------------------------------- event analytics ---

def _q_events_windowed():
    from ..operators import events as ev

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return ev.windowed_counts(tables.load(spark, sf, "events"))

    sql = (
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "count(*) AS n_events, round(sum(value), 6) AS value_sum "
        "FROM events GROUP BY 1, 2"
    )
    return q, sql


def _q_events_sessionize():
    from ..operators import events as ev

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return ev.sessionize(tables.load(spark, sf, "events"))

    # gaps in integer MICROSECONDS (exact BIGINT on both engines; a double
    # epoch would round past 2^53 and could flip boundary comparisons)
    sql = (
        "WITH g AS (SELECT user_id, ts, event_id, "
        "CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 "
        "THEN 1 ELSE 0 END AS new_s FROM events), "
        "s AS (SELECT user_id, sum(new_s) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session FROM g), "
        "ps AS (SELECT user_id, session, count(*) AS n FROM s GROUP BY 1, 2) "
        "SELECT user_id, CAST(max(session) AS BIGINT) AS n_sessions, "
        "max(n) AS max_session_events FROM ps GROUP BY user_id"
    )
    return q, sql


def _q_events_props():
    from ..operators import events as ev

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return ev.extract_props(tables.load(spark, sf, "events"))

    sql = "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events"
    return q, sql


# ------------------------------------- training-data pipeline (docs/emb) ---

def _q_doc_tokens():
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.doc_tokens(tables.load(spark, sf, "documents"))

    bpe = dedup_mod().BPE_ISH.replace("'", "''")
    sql = (
        "SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens, "
        f"CAST(len(regexp_extract_all(text, '{bpe}', 0)) AS INT) AS n_tokens_bpe, "
        "CAST(length(text) AS INT) AS n_chars FROM documents"
    )
    return q, sql


def dedup_mod():
    from ..operators import dedup

    return dedup


def _q_fingerprint():
    """Winnowing rolling-hash fingerprints; md5-derived 60-bit hashes are
    computable in both engines, so the oracle is exact."""

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup_mod().fingerprint_winnow(tables.load(spark, sf, "documents"))

    k, window = 3, 4
    idx = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    sql = (
        "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents), "
        f"grams AS (SELECT doc_id, i AS pos, {idx} AS gram "
        f"FROM toks, UNNEST(generate_series(1, len(t) - {k - 1})) AS u(i) WHERE len(t) >= {k}), "
        "hashed AS (SELECT doc_id, pos, "
        "CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS h FROM grams), "
        "fp AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY pos "
        f"ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS fingerprint FROM hashed) "
        "SELECT DISTINCT doc_id, fingerprint FROM fp"
    )
    return q, sql


def _q_doc_quality():
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.doc_quality(tables.load(spark, sf, "documents"))

    stop_list = ", ".join(f"'{w}'" for w in dedup.STOPWORDS)
    sql = (
        "SELECT doc_id, "
        "round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text), 6) AS alpha_ratio, "
        f"round(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ({stop_list}))) "
        "/ len(string_split_regex(trim(text), '\\s+')), 6) AS stopword_ratio, "
        "round(length(regexp_replace(text, '\\s+', '', 'g')) "
        "/ len(string_split_regex(trim(text), '\\s+')), 6) AS mean_token_len "
        "FROM documents"
    )
    return q, sql


def _q_dedup_exact():
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.dedup_exact(tables.load(spark, sf, "documents"))

    sql = (
        "SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id, "
        "count(*) AS n_dups FROM documents GROUP BY 1"
    )
    return q, sql


JACCARD_T = 0.8


def _q_ngram_jaccard():
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.ngram_jaccard_pairs(
            tables.load(spark, sf, "documents"), threshold=JACCARD_T
        )

    sql = (
        "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s "
        "FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i) WHERE len(t) >= 3), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "common AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c "
        "FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT d1, d2, round(c / (na.n + nb.n - c), 6) AS jaccard "
        "FROM common JOIN sizes na ON na.doc_id = d1 JOIN sizes nb ON nb.doc_id = d2 "
        f"WHERE round(c / (na.n + nb.n - c), 6) >= {flit(JACCARD_T)}"
    )
    return q, sql


def _q_doc_sample():
    """Deterministic hash sampling (train/val split machinery): the keep
    decision is a pure function of (key, seed) — exact oracle by the shared
    hash-RNG expression."""
    from ..functions.rng import u_sql
    from ..operators import dedup

    RATE = 0.25

    def q(spark: SparkSession, sf: str) -> DataFrame:
        docs = tables.load(spark, sf, "documents").select("doc_id")
        return dedup.hash_sample(docs, RATE, seed=SEED)

    sql = (
        "SELECT doc_id FROM documents "
        f"WHERE ({u_sql('doc_id', dedup_mod().TAG_SAMPLE, SEED)}) < {flit(RATE)}"
    )
    return q, sql


def _q_pii_scrub():
    """PII redaction over text with PLANTED email/IP/phone strings (the
    fixture corpus is a clean word salad, so every 7th doc gets a synthetic
    contact line appended via the same SQL derivation on both engines);
    RE2-compatible patterns make the oracle exact. DuckDB needs the 'g'
    flag for replace-all (Spark's regexp_replace is always global)."""
    from ..operators import dedup

    plant = (
        "CASE WHEN doc_id % 7 = 0 THEN ' mail bob@example.com ip 10.0.0.1 "
        "call +1 555 123 4567' ELSE '' END"
    )

    def q(spark: SparkSession, sf: str) -> DataFrame:
        docs = tables.load(spark, sf, "documents").withColumn(
            "text", F.expr(f"text || {plant}")
        )
        return dedup.scrub_pii(docs).select("doc_id", "text")

    inner = f"text || {plant}"
    for pat, repl in dedup.PII_PATTERNS:
        inner = f"regexp_replace({inner}, '{pat}', '{repl}', 'g')"
    sql = f"SELECT doc_id, {inner} AS text FROM documents"
    return q, sql


def _q_decontaminate():
    """Benchmark decontamination (GPT-3/PaLM 13-gram rule; n=5 here so the
    fixture's planted cross-parity duplicates actually collide): train =
    even doc_ids, eval = odd; exact oracle over the shared shingle join."""
    from ..operators import dedup

    N = 5

    def q(spark: SparkSession, sf: str) -> DataFrame:
        docs = tables.load(spark, sf, "documents")
        return dedup.decontaminate(
            docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1"), n=N
        )

    idx = " || ' ' || ".join(f"t[i + {j}]" for j in range(N))
    half = (
        "SELECT DISTINCT doc_id, {idx} AS s FROM toks, "
        f"UNNEST(generate_series(1, len(t) - {N - 1})) AS u(i) "
        f"WHERE len(t) >= {N} AND doc_id % 2 = {{par}}"
    ).replace("{idx}", idx)
    sql = (
        "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents), "
        f"tr AS ({half.format(par=0)}), te AS ({half.format(par=1)}) "
        "SELECT tr.doc_id, count(DISTINCT te.doc_id) AS n_test_docs, "
        "count(DISTINCT tr.s) AS n_shared_ngrams "
        "FROM tr JOIN te ON tr.s = te.s GROUP BY tr.doc_id"
    )
    return q, sql


def _q_cosine_nn():
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.cosine_nn(tables.load(spark, sf, "embeddings")).select(
            "vec_id", "nn_id", "cos"
        )

    sql = (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos "
        "FROM e a JOIN e b ON a.vec_id <> b.vec_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn FROM p) "
        "SELECT id_a AS vec_id, id_b AS nn_id, cos FROM r WHERE rn = 1"
    )
    return q, sql


def _q_doc_language():
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.language_id(tables.load(spark, sf, "documents"))

    langs = sorted(dedup.LANG_PROFILES)
    # coalesce: NULL text scores 0 (=> 'und'), matching the engine's
    # isNotNull guard (ADVICE r02)
    score = lambda lang: (  # noqa: E731
        "coalesce(round(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
        f"t -> t IN ({', '.join(repr(w) for w in dedup.LANG_PROFILES[lang])}))) "
        "/ len(string_split_regex(trim(lower(text)), '\\s+')), 6), 0.0)"
    )
    scores = ", ".join(f"{score(lang)} AS s_{lang}" for lang in langs)
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    # ordered CASE with >= implements the alphabetical tie-break
    pick = " ".join(
        f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs
    )
    sql = (
        f"WITH s AS (SELECT doc_id, {scores} FROM documents) "
        f"SELECT doc_id, CASE WHEN {best} <= 0 THEN 'und' {pick} END AS language, "
        f"{best} AS score FROM s"
    )
    return q, sql


HAM_T = 2
_TAG_HG1, _TAG_HG2, _TAG_HPOS = 21, 22, 23


def _hash64_parts():
    """Derived 62-bit sketch column with PLANTED near-dup groups: docs
    sharing doc_id % 50 get the same 62-bit base; each doc flips one
    hash-chosen bit, so within-group hamming <= 2 and cross-group pairs are
    (62-bit-)random. Exercises the banded hamming join end-to-end with an
    exact integer oracle."""
    from ..functions.rng import h2_sql

    base_hi = h2_sql("doc_id % 50", _TAG_HG1, SEED)
    base_lo = h2_sql("doc_id % 50", _TAG_HG2, SEED)
    pos = f"({h2_sql('doc_id', _TAG_HPOS, SEED)} % 62)"
    return base_hi, base_lo, pos


def _q_dedup_hamming():
    from ..operators import dedup

    base_hi, base_lo, pos = _hash64_parts()

    def q(spark: SparkSession, sf: str) -> DataFrame:
        docs = tables.load(spark, sf, "documents").select("doc_id")
        h = docs.select(
            "doc_id",
            F.expr(
                f"({base_hi} * 2147483648 + {base_lo})"
                f" ^ shiftleft(CAST(1 AS BIGINT), CAST({pos} AS INT))"
            ).alias("hash64"),
        )
        return dedup.hamming_pairs(h, "hash64", key="doc_id", max_hamming=HAM_T)

    sql = (
        f"WITH h AS (SELECT doc_id, xor({base_hi} * 2147483648 + {base_lo}, "
        f"CAST(1 AS BIGINT) << CAST({pos} AS INT)) AS hash64 FROM documents) "
        "SELECT a.doc_id AS d1, b.doc_id AS d2, "
        "CAST(bit_count(xor(a.hash64, b.hash64)) AS INT) AS hamming "
        "FROM h a JOIN h b ON a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.hash64, b.hash64)) <= {HAM_T}"
    )
    return q, sql


def _q_dedup_clusters():
    """Duplicate-cluster resolution (connected components over the exact
    jaccard near-dup pairs): engine = driver-side numpy union-find (the
    pair graph is within dedup.LOCAL_COMPONENT_EDGES; label propagation
    is the over-bound path); oracle = recursive-CTE transitive closure.
    Verifies pairs actually resolve into keeper sets."""
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        pairs = dedup.ngram_jaccard_pairs(
            tables.load(spark, sf, "documents"), threshold=JACCARD_T
        )
        return dedup.dedup_clusters(pairs)

    # reuse the jaccard oracle as the edge set
    _, jac_sql = _q_ngram_jaccard()
    sql = (
        f"WITH jac AS ({jac_sql}), "
        "edges AS (SELECT d1 AS a, d2 AS b FROM jac UNION SELECT d2, d1 FROM jac), "
        "nodes AS (SELECT DISTINCT a FROM edges), "
        "reach AS (WITH RECURSIVE r(a, b) AS ("
        "SELECT a, b FROM edges UNION "
        "SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a) SELECT * FROM r) "
        "SELECT n.a AS doc_id, least(n.a, min(r.b)) AS cluster_id "
        "FROM nodes n LEFT JOIN reach r ON n.a = r.a GROUP BY n.a"
    )
    return q, sql


def _q_image_phash_dedup():
    """Multimodal dedup end-to-end on the input_hint image table: generate
    the deterministic image corpus, plant near-duplicates by LOSSY
    re-encode (5-bit quantization, PSNR >= 40 dB), then phash-hamming
    banded join + connected components. Exact oracle NEW in round 4: the
    street pick-table pattern — (image_id, cluster_id, keep) re-derived by
    an independent integer-exact phash + brute-force pairs + union-find
    (plans/media_oracle.py) and baked as VALUES; fidelity + recovery also
    pinned by tests/test_images.py."""
    from ..operators import images as imops
    from ..sources import fixtures
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        src = fixtures.sensitive_images(spark, 120, seed=42)
        near = imops.reencode(src, bits=5, suffix="_q")
        return imops.image_dedup(src.unionByName(near), max_hamming=6).orderBy(
            "image_id"
        )

    vals = ", ".join(
        f"('{i}', '{c}', {k})" for i, c, k in media_oracle.phash_dedup_rows()
    )
    sql = (
        f"SELECT image_id, cluster_id, CAST(keep AS INTEGER) AS keep "
        f"FROM (VALUES {vals}) t(image_id, cluster_id, keep) ORDER BY image_id"
    )
    return q, sql


def _q_image_decode_420():
    """4:2:0 JPEG decode end-to-end (VERDICT r04 next #2 — the layout of
    nearly every crawled web JPEG): re-encode the flat-tile corpus to
    fmt "jpg420" (functions/jpeg.py subsampling="420", quality 98) through
    the standard reencode operator, which refreshes phash from a fresh
    decode of the subsampled bytes. Oracle = VALUES of the integer-exact
    phash of the ORIGINAL pixels (plans/media_oracle.py:image_420_rows):
    the corpus is constructed so the 4:2:0 round trip is pixel-exact
    (MCU-aligned constant tiles), making phash equality a full-chain
    decode proof, not a lossy approximation."""
    from ..operators import images as imops
    from ..sources import fixtures
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        src = fixtures.tile_images(spark, 80, seed=42)
        r = imops.reencode(src, fmt="jpg420")
        return r.select("image_id", "fmt", "w", "h", "phash").orderBy("image_id")

    vals = ", ".join(
        f"('{i}', '{f}', {w}, {h}, {p})"
        for i, f, w, h, p in media_oracle.image_420_rows()
    )
    sql = (
        f"SELECT image_id, fmt, w, h, phash "
        f"FROM (VALUES {vals}) t(image_id, fmt, w, h, phash) ORDER BY image_id"
    )
    return q, sql


def _q_image_decode_prog():
    """Progressive (SOF2) JPEG decode end-to-end (round 5 — the OTHER
    common crawled-web layout, completing the JPEG surface next to
    image_decode_420): re-encode the flat-tile corpus to fmt "jpgprog"
    (functions/jpeg.py progressive=True, 4:2:0, quality 98 — the
    conventional 10-scan spectral-selection + successive-approximation
    script) through the standard reencode operator, which refreshes phash
    from a fresh decode of the multi-scan bytes. Oracle = VALUES of the
    integer-exact phash of the ORIGINAL pixels
    (plans/media_oracle.py:image_prog_rows): progressive losslessly
    re-codes the same quantized coefficients as baseline 4:2:0, so the
    corpus's pixel-exactness proof carries over and phash equality is a
    full-chain decode proof covering EOB-run, refinement-bit, and
    non-interleaved-scan machinery."""
    from ..operators import images as imops
    from ..sources import fixtures
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        src = fixtures.tile_images(spark, 80, seed=42)
        r = imops.reencode(src, fmt="jpgprog")
        return r.select("image_id", "fmt", "w", "h", "phash").orderBy("image_id")

    vals = ", ".join(
        f"('{i}', '{f}', {w}, {h}, {p})"
        for i, f, w, h, p in media_oracle.image_prog_rows()
    )
    sql = (
        f"SELECT image_id, fmt, w, h, phash "
        f"FROM (VALUES {vals}) t(image_id, fmt, w, h, phash) ORDER BY image_id"
    )
    return q, sql


def _q_image_decode_png():
    """Full-spec PNG decode end-to-end (round 5, the raster analogue of
    image_decode_420/prog): the web-PNG corpus plants every baseline-spec
    layout a crawled PNG actually uses — adaptive Sub/Up/Average/Paeth
    filters, palette + tRNS alpha, RGBA/gray-alpha over white, 16-bit,
    4-bit, Adam7 interlace (sources/fixtures.py:web_pngs, 9 layouts) —
    and the standard reencode operator decodes the bytes distributed
    (functions/png.py) and refreshes phash from the decoded pixels.
    Oracle = VALUES of the integer-exact phash of the codec-free canonical
    RGB (plans/media_oracle.py:png_rows): every layout is planted lossless
    w.r.t. its canonicalization, so phash equality proves the whole
    filter/interlace/palette/alpha/depth decode chain pixel-faithful.
    Reference scope anchor: the reference delegates raster IO to its
    geopandas/PIL stack; the engine ships its own codec (SURVEY §7)."""
    from ..operators import images as imops
    from ..sources import fixtures
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        src = fixtures.web_pngs(spark, 90, seed=42)
        r = imops.reencode(src, fmt="bmp")
        return (
            r.select(
                "image_id", F.col("caption").alias("layout"), "w", "h", "phash"
            ).orderBy("image_id")
        )

    vals = ", ".join(
        f"('{i}', '{l}', {w}, {h}, {p})"
        for i, l, w, h, p in media_oracle.png_rows()
    )
    sql = (
        f"SELECT image_id, layout, w, h, phash "
        f"FROM (VALUES {vals}) t(image_id, layout, w, h, phash) "
        f"ORDER BY image_id"
    )
    return q, sql


def _q_image_decode_gif():
    """Full-spec GIF decode end-to-end (round 5, completing the crawled-web
    raster surface next to image_decode_420/prog/png): the web-GIF corpus
    plants every decode feature a real GIF uses — global and LOCAL color
    tables (with a deliberately-wrong global one, so the local table must
    win), GCE transparency over the white logical screen, 4-pass row
    interlace, offset frame rects with undrawn white margins, and the
    12-bit LZW dictionary-growth + mid-stream-clear edge
    (sources/fixtures.py:web_gifs, 6 layouts) — and the standard reencode
    operator decodes the bytes distributed (functions/gif.py) and
    refreshes phash from the decoded pixels. Oracle = VALUES of the
    integer-exact phash of the codec-free canonical RGB
    (plans/media_oracle.py:gif_rows): every layout is planted lossless
    w.r.t. its canonicalization (GIF is lossless on indexed content), so
    phash equality proves the whole LZW/interlace/table/transparency
    decode chain pixel-faithful. Reference scope anchor: the reference
    delegates raster IO to its geopandas/PIL stack; the engine ships its
    own codec (SURVEY §7)."""
    from ..operators import images as imops
    from ..sources import fixtures
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        src = fixtures.web_gifs(spark, 90, seed=42)
        r = imops.reencode(src, fmt="bmp")
        return (
            r.select(
                "image_id", F.col("caption").alias("layout"), "w", "h", "phash"
            ).orderBy("image_id")
        )

    vals = ", ".join(
        f"('{i}', '{l}', {w}, {h}, {p})"
        for i, l, w, h, p in media_oracle.gif_rows()
    )
    sql = (
        f"SELECT image_id, layout, w, h, phash "
        f"FROM (VALUES {vals}) t(image_id, layout, w, h, phash) "
        f"ORDER BY image_id"
    )
    return q, sql


def _q_gif_frame_stats():
    """Animated-GIF frame compositing end-to-end (round 5): 40 animations
    exercise every GIF89a inter-frame feature — partial frame rects,
    disposal methods 0/2/3 (leave / restore-to-background / restore-to-
    previous), per-frame transparency, and a per-frame local palette
    (sources/fixtures.py:gif_animations, 4 scenarios) — through the SAME
    video_frame_sample -> image_stats pipeline as rawrgb/mjpeg clips, so
    the compressed multi-frame path is exercised by the standard
    multimodal handoff, not a bespoke query. Oracle = VALUES of the
    image_stats reductions on independently-composited frames
    (plans/media_oracle.py:gif_frame_stats_rows — spec semantics applied
    directly to the closed-form index planes, never touching the encoded
    bytes)."""
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators import images as imops
        from ..operators import media
        from ..sources import fixtures

        anims = fixtures.gif_animations(spark, 40, seed=42)
        frames = media.video_frame_sample(anims, every_n=1)
        return imops.image_stats(frames).orderBy("image_id")

    vals = ", ".join(
        f"('{i}', {flit(b)}, {flit(c)}, {flit(r)}, {flit(g)}, {flit(bl)})"
        for i, b, c, r, g, bl in media_oracle.gif_frame_stats_rows()
    )
    sql = (
        "SELECT image_id, brightness, contrast, mean_r, mean_g, mean_b "
        f"FROM (VALUES {vals}) "
        "t(image_id, brightness, contrast, mean_r, mean_g, mean_b) "
        "ORDER BY image_id"
    )
    return q, sql


def _q_image_decode_mixed():
    """Heterogeneous crawled-shard decode (round 5): ONE table whose fmt
    column mixes full-spec PNG, full-spec GIF, and 4:2:0 JPEG rows — the
    shape a real crawl shard actually has — pushed through a single
    reencode pass, so the per-row codec dispatch (functions/imagecodec.py
    CODECS) is exercised inside one Arrow batch rather than per-format
    queries. Oracle = the union of the three independent VALUES
    derivations (png_rows / gif_rows / image_420_rows — each planted
    lossless w.r.t. its canonicalization), projected to (id, w, h, phash).
    Marginal decode coverage is zero by construction (the three per-format
    entries pin each chain); what THIS entry pins is the dispatch and
    batch plumbing over mixed formats."""
    from ..operators import images as imops
    from ..sources import fixtures
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        pngs = fixtures.web_pngs(spark, 90, seed=42)
        gifs = fixtures.web_gifs(spark, 90, seed=42)
        tiles = imops.reencode(
            fixtures.tile_images(spark, 80, seed=42), fmt="jpg420"
        )
        src = pngs.unionByName(gifs).unionByName(tiles)
        # repartition without a key: every partition gets a format mix
        r = imops.reencode(src.repartition(8), fmt="bmp")
        return r.select("image_id", "w", "h", "phash").orderBy("image_id")

    rows = (
        [(i, w, h, p) for i, _l, w, h, p in media_oracle.png_rows()]
        + [(i, w, h, p) for i, _l, w, h, p in media_oracle.gif_rows()]
        + [(i, w, h, p) for i, _f, w, h, p in media_oracle.image_420_rows()]
    )
    vals = ", ".join(f"('{i}', {w}, {h}, {p})" for i, w, h, p in rows)
    sql = (
        f"SELECT image_id, w, h, phash "
        f"FROM (VALUES {vals}) t(image_id, w, h, phash) ORDER BY image_id"
    )
    return q, sql


def _q_image_resize():
    """Thumbnail resize (operators/images.py:image_resize) driver gate:
    24x24 nearest-neighbor over the image corpus, verified on the refreshed
    (w, h, phash) columns against the independent integer-exact derivation
    (plans/media_oracle.py:image_resize_rows). The bytes column round-trips
    through the real codec inside the query (pixel-exactness is pinned by
    tests/test_images.py); phash is its content witness here."""
    from ..operators import images as imops
    from ..sources import fixtures
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        src = fixtures.sensitive_images(spark, 120, seed=42)
        r = imops.image_resize(src, 24, 24)
        return r.select("image_id", "w", "h", "phash").orderBy("image_id")

    vals = ", ".join(
        f"('{i}', {w}, {h}, {p})" for i, w, h, p in media_oracle.image_resize_rows()
    )
    sql = (
        "SELECT image_id, CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h, "
        f"CAST(phash AS BIGINT) AS phash FROM (VALUES {vals}) "
        "t(image_id, w, h, phash) ORDER BY image_id"
    )
    return q, sql


def _q_video_frame_stats():
    """Video frame-sample -> image-stats handoff (multimodal pipeline).
    Exact oracle NEW in round 4: closed-form frame synthesis + identical
    reductions (plans/media_oracle.py:video_frame_stats_rows — the integer-
    valued sums are exact in float64, so the means are order-independent),
    baked as VALUES; plumbing also pinned by tests/test_media.py."""
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators import images as imops
        from ..operators import media
        from ..sources import fixtures

        vids = fixtures.video_clips(spark, 60, seed=42)
        frames = media.video_frame_sample(vids, every_n=2)
        return imops.image_stats(frames).orderBy("image_id")

    vals = ", ".join(
        f"('{i}', {flit(b)}, {flit(c)}, {flit(r)}, {flit(g)}, {flit(bl)})"
        for i, b, c, r, g, bl in media_oracle.video_frame_stats_rows()
    )
    sql = (
        "SELECT image_id, brightness, contrast, mean_r, mean_g, mean_b "
        f"FROM (VALUES {vals}) "
        "t(image_id, brightness, contrast, mean_r, mean_g, mean_b) "
        "ORDER BY image_id"
    )
    return q, sql


def _q_audio_stats():
    """Audio resample -> stats (multimodal pipeline). Exact oracle NEW in
    round 4: independent floor/lerp resample + pcm16 round-trip
    (plans/media_oracle.py:audio_stats_rows), baked as VALUES."""
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators import media
        from ..sources import fixtures

        clips = fixtures.audio_clips(spark, 100, seed=42)
        return media.audio_stats(media.audio_resample(clips, 16000)).orderBy(
            "audio_id"
        )

    vals = ", ".join(
        f"('{i}', {flit(r)}, {flit(d)})"
        for i, r, d in media_oracle.audio_stats_rows()
    )
    sql = (
        "SELECT audio_id, rms, duration_sec "
        f"FROM (VALUES {vals}) t(audio_id, rms, duration_sec) ORDER BY audio_id"
    )
    return q, sql


CURATE_MAX_REP = 0.3
CURATE_MIN_ALPHA = 0.4
CURATE_RATE = 0.8


def _q_curate():
    """The §2.11 capstone: the composed curation pipeline
    (operators/dedup.py:curate — quality gates -> hash sample -> exact
    keeper election) verified end-to-end as ONE query. The oracle chains
    the same stages as CTEs: list-built bigrams + alpha ratio, the shared
    hash-RNG sample draw, and a window-min keeper per md5 digest."""
    from ..functions.rng import u_sql
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.curate(
            tables.load(spark, sf, "documents"),
            max_repetition=CURATE_MAX_REP,
            min_alpha=CURATE_MIN_ALPHA,
            sample_rate=CURATE_RATE,
            seed=1,
        )

    samp = u_sql("doc_id", dedup.TAG_SAMPLE, 1)
    sql = (
        "WITH t AS (SELECT doc_id, text, "
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
        "c AS (SELECT doc_id, text, toks, len(toks) - 1 AS cnt FROM t), "
        "g AS (SELECT doc_id, text, cnt, CASE WHEN cnt >= 1 THEN "
        "list_transform(range(1, cnt + 1), "
        "i -> array_to_string(toks[i:i+1], ' ')) ELSE [] END AS grams FROM c), "
        "m AS (SELECT doc_id, text, "
        "round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / "
        "CAST(nullif(length(text), 0) AS DOUBLE), 6) AS alpha_ratio, "
        "CASE WHEN cnt >= 1 THEN "
        "round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) "
        "ELSE 0.0 END AS dup_ngram_frac FROM g), "
        f"f AS (SELECT * FROM m WHERE alpha_ratio >= {flit(CURATE_MIN_ALPHA)} "
        f"AND dup_ngram_frac <= {flit(CURATE_MAX_REP)} "
        f"AND ({samp}) < {flit(CURATE_RATE)}), "
        "k AS (SELECT *, min(doc_id) OVER (PARTITION BY md5(text)) AS keep "
        "FROM f) "
        "SELECT doc_id, alpha_ratio, dup_ngram_frac FROM k WHERE doc_id = keep"
    )
    return q, sql


def _q_curate_near():
    """The §2.11 NEAR-dup curation capstone (VERDICT r04 next #4):
    operators/dedup.py:curate_near — quality gates -> hash sample ->
    MinHash-LSH (md5 mode, so band membership is SQL-expressible) -> exact
    Jaccard verify -> recursive-CTE connected components -> cluster-keeper
    election, verified end-to-end as ONE chained oracle. Every stage's CTE
    is the already-proven oracle fragment of its standalone entry
    (doc_curate, dedup_minhash_lsh, dedup_clusters) re-rooted at the
    previous stage's output."""
    from ..functions.rng import u_sql
    from ..operators import dedup

    NH, BANDS = 32, 8
    ROWS = NH // BANDS

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.curate_near(
            tables.load(spark, sf, "documents"),
            max_repetition=CURATE_MAX_REP,
            min_alpha=CURATE_MIN_ALPHA,
            sample_rate=CURATE_RATE,
            seed=1,
            threshold=JACCARD_T,
            num_hashes=NH,
            bands=BANDS,
            hasher="md5",
        )

    samp = u_sql("doc_id", dedup.TAG_SAMPLE, 1)
    P = dedup.MINHASH_P
    hp = f"(CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {P})"
    mins = ", ".join(
        f"min(({hp} * {a} + {b}) % {P}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(NH))
    )
    band_pred = " OR ".join(
        "("
        + " AND ".join(
            f"a.mh_{b * ROWS + r} = b.mh_{b * ROWS + r}" for r in range(ROWS)
        )
        + ")"
        for b in range(BANDS)
    )
    sql = (
        # --- stage 1+2: quality gates + hash sample (doc_curate fragment)
        "WITH tok0 AS (SELECT doc_id, text, "
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
        "c0 AS (SELECT doc_id, text, toks, len(toks) - 1 AS cnt FROM tok0), "
        "g0 AS (SELECT doc_id, text, cnt, CASE WHEN cnt >= 1 THEN "
        "list_transform(range(1, cnt + 1), "
        "i -> array_to_string(toks[i:i+1], ' ')) ELSE [] END AS grams FROM c0), "
        "m0 AS (SELECT doc_id, text, "
        "round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / "
        "CAST(nullif(length(text), 0) AS DOUBLE), 6) AS alpha_ratio, "
        "CASE WHEN cnt >= 1 THEN "
        "round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) "
        "ELSE 0.0 END AS dup_ngram_frac FROM g0), "
        f"f AS (SELECT * FROM m0 WHERE alpha_ratio >= {flit(CURATE_MIN_ALPHA)} "
        f"AND dup_ngram_frac <= {flit(CURATE_MAX_REP)} "
        f"AND ({samp}) < {flit(CURATE_RATE)}), "
        # --- stage 3: MinHash-LSH + exact Jaccard over the SURVIVORS
        # (dedup_minhash_lsh fragment re-rooted at f)
        "toks1 AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM f), "
        "sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s "
        "FROM toks1, UNNEST(generate_series(1, len(tk) - 2)) AS u(i) WHERE len(tk) >= 3), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id), "
        "cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2 FROM sig a JOIN sig b "
        f"ON a.doc_id < b.doc_id AND ({band_pred})), "
        "common AS (SELECT cd.d1, cd.d2, count(*) AS c FROM cand cd "
        "JOIN sh sa ON sa.doc_id = cd.d1 JOIN sh sb ON sb.doc_id = cd.d2 AND sb.s = sa.s "
        "GROUP BY cd.d1, cd.d2), "
        "jac AS (SELECT d1, d2 FROM common "
        "JOIN sizes na ON na.doc_id = d1 JOIN sizes nb ON nb.doc_id = d2 "
        f"WHERE round(c / (na.n + nb.n - c), 6) >= {flit(JACCARD_T)}), "
        # --- stage 4: connected components (dedup_clusters fragment)
        "edges AS (SELECT d1 AS a, d2 AS b FROM jac UNION SELECT d2, d1 FROM jac), "
        "nodes AS (SELECT DISTINCT a FROM edges), "
        "reach AS (WITH RECURSIVE r(a, b) AS ("
        "SELECT a, b FROM edges UNION "
        "SELECT r.a, e.b FROM r JOIN edges e ON r.b = e.a) SELECT * FROM r), "
        "comp AS (SELECT n.a AS doc_id, least(n.a, min(r.b)) AS cluster_id "
        "FROM nodes n LEFT JOIN reach r ON n.a = r.a GROUP BY n.a), "
        "csize AS (SELECT cluster_id, count(*) AS cn FROM comp GROUP BY cluster_id) "
        # --- stage 5: cluster-keeper election
        "SELECT f.doc_id, f.alpha_ratio, f.dup_ngram_frac, "
        "CAST(coalesce(cs.cn, 1) AS BIGINT) AS n_near_dups "
        "FROM f LEFT JOIN comp ON comp.doc_id = f.doc_id "
        "LEFT JOIN csize cs ON cs.cluster_id = f.doc_id "
        "WHERE comp.cluster_id IS NULL OR comp.cluster_id = f.doc_id"
    )
    return q, sql


def _q_embed_quantize():
    """int8 embedding quantization (operators/dedup.py:embed_quantize):
    both engines compute per-vector max|v|/127 scales and rounded integer
    codes via list transforms — no explode; q is int-valued so the list
    cells hash exactly (floats stay top-level for the 6 dp round)."""
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.embed_quantize(tables.load(spark, sf, "embeddings"))

    sql = (
        "WITH e AS (SELECT vec_id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
        "m AS (SELECT vec_id, v, "
        "list_max(list_transform(v, x -> abs(x))) AS amax FROM e) "
        "SELECT vec_id, round(amax / 127.0, 6) AS scale, "
        "CASE WHEN amax = 0.0 THEN list_transform(v, x -> 0) "
        "ELSE list_transform(v, x -> CAST(round(x / (amax / 127.0)) AS INT)) "
        "END AS q FROM m"
    )
    return q, sql


def _q_doc_repetition():
    """Gopher-style within-document duplicate-bigram fraction
    (operators/dedup.py:doc_repetition) — both engines build the n-gram
    list per row (Spark transform/slice vs DuckDB list_transform/list
    slicing) and compare distinct/total counts; no explode on either
    side."""
    from ..operators import dedup

    n = 2

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.doc_repetition(tables.load(spark, sf, "documents"), n=n)

    sql = (
        "WITH t AS (SELECT doc_id, "
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), "
        f"c AS (SELECT doc_id, toks, len(toks) - {n - 1} AS cnt FROM t), "
        "g AS (SELECT doc_id, cnt, CASE WHEN cnt >= 1 THEN "
        "list_transform(range(1, cnt + 1), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' ')) "
        "ELSE [] END AS grams FROM c) "
        "SELECT doc_id, CASE WHEN cnt >= 1 THEN "
        "round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) "
        "ELSE 0.0 END AS dup_ngram_frac FROM g"
    )
    return q, sql


def _q_audio_transcode():
    """ADPCM transcode gate (operators/media.py:audio_transcode): the
    compressed bytes themselves are verified — Spark md5 over the
    operator's output vs hashlib over the independently re-coded encoder's
    bytes (plans/media_oracle.py:_ima_encode), baked as VALUES."""
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators import media
        from ..sources import fixtures

        clips = fixtures.audio_clips(spark, 50, seed=42)
        t = media.audio_transcode(clips, "adpcm")
        return t.select(
            "audio_id", "fmt",
            F.length("bytes").alias("n_bytes"),
            F.md5(F.col("bytes")).alias("digest"),
        ).orderBy("audio_id")

    vals = ", ".join(
        f"('{a}', '{f}', {n}, '{d}')"
        for a, f, n, d in media_oracle.audio_transcode_rows()
    )
    sql = (
        "SELECT audio_id, fmt, CAST(n_bytes AS INTEGER) AS n_bytes, digest "
        f"FROM (VALUES {vals}) t(audio_id, fmt, n_bytes, digest) "
        "ORDER BY audio_id"
    )
    return q, sql


def _q_video_transcode_gif():
    """Animated-GIF WRITE path end-to-end (round 5; the mjpeg entry below
    pins the lossy twin): rawrgb clips -> video_transcode(fmt='gif') ->
    video_stats over the compressed bytes. The rawrgb fixture is
    palette-friendly by construction (<= 256 distinct colors per clip), so
    the indexed-color transcode is LOSSLESS and the oracle is the exact
    closed-form brightness/duration VALUES
    (plans/media_oracle.py:video_gif_stats_rows) — an LZW-writer,
    sub-block, or frame-framing bug changes the decoded pixels and the
    brightness stops matching to the last bit."""
    from . import media_oracle

    def q(spark: SparkSession, sf: str) -> DataFrame:
        from ..operators import media
        from ..sources import fixtures

        vids = fixtures.video_clips(spark, 40, seed=42)
        return media.video_stats(media.video_transcode(vids, "gif")).orderBy(
            "video_id"
        )

    vals = ", ".join(
        f"('{i}', {flit(b)}, {flit(d)})"
        for i, b, d in media_oracle.video_gif_stats_rows()
    )
    sql = (
        "SELECT video_id, brightness, duration_sec "
        f"FROM (VALUES {vals}) t(video_id, brightness, duration_sec) "
        "ORDER BY video_id"
    )
    return q, sql


def _q_video_transcode():
    """Motion-JPEG transcode gate (operators/media.py:video_transcode):
    bytes are JPEG-entropy-coded (not re-derivable without a second JPEG
    implementation), so the oracle pins the CONTRACT instead — every clip
    re-decodes from the compressed bytes to the declared frame count at
    PSNR >= 40 dB vs its raw original. The engine can only match the
    all-true VALUES by actually achieving the fidelity bound; per-frame
    PSNR is additionally pinned in tests/test_media.py."""

    def q(spark: SparkSession, sf: str) -> DataFrame:
        import pandas as pd

        from ..functions import imagecodec
        from ..operators import media
        from ..sources import fixtures

        vids = fixtures.video_clips(spark, 40, seed=42)
        t = media.video_transcode(vids, "mjpeg").select(
            "video_id", F.col("bytes").alias("_cbytes"), "w", "h",
        )
        both = vids.select("video_id", "bytes", "w", "h", "fmt").join(
            t, ["video_id", "w", "h"]
        )

        def check(it):
            for pdf in it:
                rows = []
                for vid, ob, cb, w, h, f0 in zip(
                    pdf["video_id"], pdf["bytes"], pdf["_cbytes"],
                    pdf["w"], pdf["h"], pdf["fmt"],
                ):
                    a = media.decode_video(bytes(ob), int(w), int(h), f0)
                    b = media.decode_video(bytes(cb), int(w), int(h), "mjpeg")
                    ok = len(a) == len(b) and all(
                        imagecodec.psnr(fa, fb) >= 40.0 for fa, fb in zip(a, b)
                    )
                    rows.append((vid, len(b), bool(ok)))
                yield pd.DataFrame(
                    rows, columns=["video_id", "n_frames", "psnr_ge_40"]
                )

        return both.mapInPandas(
            check, schema="video_id string, n_frames int, psnr_ge_40 boolean"
        ).orderBy("video_id")

    vals = ", ".join(
        f"('vid{i:06d}', {4 + i % 5}, true)" for i in range(40)
    )
    sql = (
        "SELECT video_id, CAST(n_frames AS INTEGER) AS n_frames, psnr_ge_40 "
        f"FROM (VALUES {vals}) t(video_id, n_frames, psnr_ge_40) "
        "ORDER BY video_id"
    )
    return q, sql


def _simhash_md5_ctes() -> str:
    """CTEs ending in sh(doc_id, simhash): the md5-mode 60-bit simhash of
    documents.text, rendered from the SAME dialect-shared fragments the
    engine executes (operators/dedup.py:md5_nibble_sql/md5_bit_sql)."""
    from ..operators import dedup

    nibs = ", ".join(
        f"{dedup.md5_nibble_sql('_h', j)} AS _n{j}" for j in range(15)
    )
    votes = ", ".join(
        f"sum(CASE WHEN {dedup.md5_bit_sql(i)} = 1 THEN 1 ELSE -1 END) AS _v{i}"
        for i in range(dedup.SIMHASH_MD5_BITS)
    )
    asm = " + ".join(
        f"(CASE WHEN _v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(dedup.SIMHASH_MD5_BITS)
    )
    return (
        "toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS _tok "
        "FROM documents), "
        "hx AS (SELECT doc_id, md5(_tok) AS _h FROM toks), "
        f"nib AS (SELECT doc_id, {nibs} FROM hx), "
        f"votes AS (SELECT doc_id, {votes} FROM nib GROUP BY doc_id), "
        f"sh AS (SELECT doc_id, {asm} AS simhash FROM votes)"
    )


def _q_simhash_pairs():
    """SimHash banded hamming near-dups over the md5-mode sketch — EXACT
    oracle (r02 verdict item 5): the md5 token hash is reproducible in
    DuckDB, so the whole sketch->band->verify pipeline is checked end-to-
    end; the default xxhash64 sketch stays pinned by tests/test_dedup.py."""
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.simhash_pairs(
            tables.load(spark, sf, "documents"), max_hamming=8, hasher="md5"
        )

    sql = (
        f"WITH {_simhash_md5_ctes()} "
        "SELECT a.doc_id AS d1, b.doc_id AS d2, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming "
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 8"
    )
    return q, sql


_TAG_IVF = 33
_IVF_DIM, _IVF_NC, _IVF_PROBE = 64, 16, 3


def _ivf_centroids() -> list[tuple[int, list[float]]]:
    """Closed-form coarse quantizer: c[j][d] = (u(j*64 + d + 1)*2 - 1)/64
    from the shared hash-RNG — the SAME values the oracle recomputes in SQL
    (bit-equal doubles: *2, -1, /64 are all exact or identically-rounded
    IEEE ops), which is what makes the IVF entry exactly checkable. The /64
    keeps ||c|| <= 1/8 so the packed (round(dot*1e9), cid) BIGINT cannot
    overflow (the Lloyd path guarantees ||c|| <= 1 as a mean of unit
    vectors; a literal table must bound itself). The Lloyd-trained default
    stays pinned by recall tests."""
    import numpy as np

    from ..functions import rng as _rng

    out = []
    for j in range(_IVF_NC):
        ids = np.arange(_IVF_DIM, dtype=np.int64) + j * _IVF_DIM + 1
        u = _rng.u_np(ids, _TAG_IVF, SEED)
        out.append((j, [float(v) for v in (u * 2.0 - 1.0) / 64.0]))
    return out


def _q_ivf_nn():
    """IVF approximate NN over the embeddings table with the closed-form
    quantizer — EXACT oracle (r02 verdict item 5): DuckDB recomputes the
    centroids from the hash-RNG formula, the packed (round(dot*1e9), cid)
    assignment/probing, the candidate lists, and the packed final argmax —
    the same ANN answer from plain SQL. The Lloyd-trained path (not
    set-SQL-expressible: distributed float avg is summation-order-
    dependent) stays covered by recall/determinism pytests."""
    from ..functions.rng import u_sql
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.ivf_cosine_nn(
            tables.load(spark, sf, "embeddings"),
            n_probe=_IVF_PROBE, centroids=_ivf_centroids(),
        )

    PACK = 1 << 32
    u_c = u_sql(f"cid * {_IVF_DIM} + d + 1", _TAG_IVF, SEED)
    sql = (
        f"WITH cent AS (SELECT cid, list(u ORDER BY d) AS c FROM ("
        f"SELECT cid, d, (({u_c}) * 2 - 1) / 64 AS u "
        f"FROM (SELECT unnest(range(0, {_IVF_NC})) AS cid) "
        f"CROSS JOIN (SELECT unnest(range(0, {_IVF_DIM})) AS d)) GROUP BY cid), "
        "e0 AS (SELECT vec_id AS id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v0 "
        "FROM embeddings), "
        "e AS (SELECT id, list_transform(v0, v -> v / "
        f"greatest(sqrt(list_dot_product(v0, v0)), {flit(1e-12)})) AS v FROM e0), "
        "pk AS (SELECT id, cid, (1000000000 - CAST(round(list_dot_product(v, c) "
        f"* 1000000000, 0) AS BIGINT)) * {PACK} + cid AS pk FROM e CROSS JOIN cent), "
        f"lists AS (SELECT id, pk % {PACK} AS cid FROM "
        "(SELECT id, min(pk) AS pk FROM pk GROUP BY id)), "
        "probes AS (SELECT id, cid FROM (SELECT id, cid, "
        "row_number() OVER (PARTITION BY id ORDER BY pk) AS rn FROM pk) "
        f"WHERE rn <= {_IVF_PROBE}), "
        "cand AS (SELECT DISTINCT p.id AS id_a, l.id AS id_b FROM probes p "
        "JOIN lists l ON p.cid = l.cid AND p.id <> l.id), "
        "scored AS (SELECT id_a, id_b, round(list_dot_product(va.v, vb.v), 6) AS cos "
        "FROM cand JOIN e va ON va.id = id_a JOIN e vb ON vb.id = id_b), "
        "fin AS (SELECT id_a, min((1000000 - CAST(round(cos * 1000000, 0) AS BIGINT)) "
        f"* {PACK} + id_b) AS pk FROM scored GROUP BY id_a) "
        f"SELECT id_a AS vec_id, pk % {PACK} AS nn_id, "
        f"(1000000 - pk // {PACK}) / {flit(1e6)} AS cos FROM fin"
    )
    return q, sql


def _q_minhash_lsh():
    """MinHash-LSH near-dups over the md5-mode universal-hash family —
    EXACT oracle (r02 verdict item 5): the oracle recomputes the 32
    signature minima with the same coefficients mod 2^31-1, requires band
    agreement (all r rows equal — the engine's concat band key is
    collision-free, so the predicates coincide), then exact Jaccard on the
    candidates. The xxhash64 default stays pinned vs exact jaccard in
    tests/test_dedup.py."""
    from ..operators import dedup

    NH, BANDS = 32, 8
    ROWS = NH // BANDS

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.minhash_lsh_pairs(
            tables.load(spark, sf, "documents"), threshold=JACCARD_T,
            num_hashes=NH, bands=BANDS, hasher="md5",
        )

    P = dedup.MINHASH_P
    hp = f"(CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {P})"
    mins = ", ".join(
        f"min(({hp} * {a} + {b}) % {P}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(NH))
    )
    band_pred = " OR ".join(
        "("
        + " AND ".join(
            f"a.mh_{b * ROWS + r} = b.mh_{b * ROWS + r}" for r in range(ROWS)
        )
        + ")"
        for b in range(BANDS)
    )
    sql = (
        "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s "
        "FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS u(i) WHERE len(t) >= 3), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id), "
        "cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2 FROM sig a JOIN sig b "
        f"ON a.doc_id < b.doc_id AND ({band_pred})), "
        "common AS (SELECT cd.d1, cd.d2, count(*) AS c FROM cand cd "
        "JOIN sh sa ON sa.doc_id = cd.d1 JOIN sh sb ON sb.doc_id = cd.d2 AND sb.s = sa.s "
        "GROUP BY cd.d1, cd.d2) "
        "SELECT d1, d2, round(c / (na.n + nb.n - c), 6) AS jaccard "
        "FROM common JOIN sizes na ON na.doc_id = d1 JOIN sizes nb ON nb.doc_id = d2 "
        f"WHERE round(c / (na.n + nb.n - c), 6) >= {flit(JACCARD_T)}"
    )
    return q, sql


def _q_simhash():
    """md5-mode 60-bit simhash sketch — EXACT oracle (see _simhash_md5_ctes);
    the xxhash64 default stays pinned by tests/test_dedup.py."""
    from ..operators import dedup

    def q(spark: SparkSession, sf: str) -> DataFrame:
        return dedup.simhash64(
            tables.load(spark, sf, "documents"), hasher="md5"
        )

    sql = f"WITH {_simhash_md5_ctes()} SELECT doc_id, simhash FROM sh"
    return q, sql


# ------------------------------------------------------------- registry ---

def build() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    reg: dict[str, tuple[Callable, str | None]] = {}
    reg["donut_uniform"] = _q_donut("uniform")
    reg["donut_gaussian"] = _q_donut("gaussian")
    reg["donut_areal"] = _q_donut("areal")
    reg["donut_contained"] = _q_donut_contained()
    reg["locationswap"] = _q_locationswap()
    reg["voronoi"] = _q_voronoi()
    reg["snap_to_nodes"] = _q_snap()
    reg["street"] = _q_street()
    reg["street_k"] = _q_street_k()
    reg["k_anonymity_address"] = _q_k_anonymity()
    reg["k_anonymity_polygon"] = _q_k_polygon()
    reg["k_satisfaction"] = _q_k_satisfaction()
    reg["summarize_k"] = _q_summarize_k()
    reg["suppress"] = _q_suppress()
    reg["displacement_summary"] = _q_displacement_summary()
    reg["displacement_segments"] = _q_displacement_segments()
    reg["central_drift"] = _q_central_drift()
    reg["nnd_delta"] = _q_nnd_delta()
    reg["pip_count"] = _q_pip_count()
    reg["ripleys_k"] = _q_ripleys_k()
    reg["ripley_rmse"] = _q_ripley_rmse()
    reg["mask_checksum"] = _q_mask_checksum()
    reg["knn_join_k3"] = _q_knn_join()
    reg["crop"] = _q_crop()
    reg["cell_pyramid"] = _q_cell_pyramid()
    reg["events_windowed"] = _q_events_windowed()
    reg["events_sessionize"] = _q_events_sessionize()
    reg["events_json_props"] = _q_events_props()
    reg["doc_token_count"] = _q_doc_tokens()
    reg["doc_quality"] = _q_doc_quality()
    reg["dedup_exact"] = _q_dedup_exact()
    reg["doc_fingerprint"] = _q_fingerprint()
    reg["dedup_ngram_jaccard"] = _q_ngram_jaccard()
    reg["decontaminate"] = _q_decontaminate()
    reg["doc_sample"] = _q_doc_sample()
    reg["pii_scrub"] = _q_pii_scrub()
    reg["embed_cosine_nn"] = _q_cosine_nn()
    reg["embed_ivf_nn"] = _q_ivf_nn()
    reg["dedup_minhash_lsh"] = _q_minhash_lsh()
    reg["doc_simhash"] = _q_simhash()
    reg["doc_language"] = _q_doc_language()
    reg["dedup_hamming"] = _q_dedup_hamming()
    reg["dedup_clusters"] = _q_dedup_clusters()
    reg["dedup_simhash_pairs"] = _q_simhash_pairs()
    reg["image_phash_dedup"] = _q_image_phash_dedup()
    reg["image_resize"] = _q_image_resize()
    reg["image_decode_420"] = _q_image_decode_420()
    reg["image_decode_prog"] = _q_image_decode_prog()
    reg["image_decode_png"] = _q_image_decode_png()
    reg["image_decode_gif"] = _q_image_decode_gif()
    reg["gif_frame_stats"] = _q_gif_frame_stats()
    reg["image_decode_mixed"] = _q_image_decode_mixed()
    reg["video_frame_stats"] = _q_video_frame_stats()
    reg["audio_stats"] = _q_audio_stats()
    reg["audio_transcode"] = _q_audio_transcode()
    reg["video_transcode"] = _q_video_transcode()
    reg["video_transcode_gif"] = _q_video_transcode_gif()
    reg["doc_repetition"] = _q_doc_repetition()
    reg["embed_quantize"] = _q_embed_quantize()
    reg["doc_curate"] = _q_curate()
    reg["doc_curate_near"] = _q_curate_near()
    return reg
