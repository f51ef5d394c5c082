"""Graph queries over order-derived edge lists: PageRank, triangles,
BFS hops, HITS and the k-core peel."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from corpus.common import _orders_dim_small, _t


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (2 unrolled iterations, d=0.85) over the supplier →
    customer shipment graph (lineitem ⋈ orders): per round one
    src-keyed join + one dst-keyed map-combined aggregate; top-20 cut on
    the rounded rank so the boundary is engine-stable."""
    from obsplus_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).selectExpr("l_suppkey AS src", "o_custkey AS dst")
    return pagerank(edges, iterations=2, damping=0.85, k=20)


_SQL_PAGERANK = """
    WITH edges AS (
      -- NULL endpoints excluded by the engine's documented edge
      -- contract (unresolved ids are not nodes)
      SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_suppkey IS NOT NULL AND o_custkey IS NOT NULL
    ),
    ew AS (
      SELECT src, dst, 1.0 / count(*) OVER (PARTITION BY src) AS w
      FROM edges
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    c1 AS (SELECT dst, sum(w) AS contrib FROM ew GROUP BY dst),
    r1 AS (
      SELECT s.src AS node, 0.15 + 0.85 * coalesce(c.contrib, 0.0) AS rank
      FROM (SELECT DISTINCT src FROM edges) s
      LEFT JOIN c1 c ON s.src = c.dst
    ),
    c2 AS (
      SELECT e.dst, sum(r.rank * e.w) AS contrib
      FROM ew e JOIN r1 r ON e.src = r.node
      GROUP BY e.dst
    )
    SELECT n.node,
           round(0.15 + 0.85 * coalesce(c.contrib, 0.0), 6) AS rank
    FROM nodes n LEFT JOIN c2 c ON n.node = c.dst
    ORDER BY round(0.15 + 0.85 * coalesce(c.contrib, 0.0), 6) DESC, n.node
    LIMIT 20
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting (wedge closure on the oriented
    DAG) over the hash-folded customer↔order interaction graph: the
    orientation bounds wedge fan-out by O(√|E|) even on hub nodes; every
    stage is a keyed equi-join or map-combined aggregate."""
    from obsplus_spark.operators.graph import triangle_counts

    o = _t(spark, sf_dir, "orders")
    # hash-fold both endpoints into one 5003-bucket node space: sparse
    # (|E| ≪ |V|²/2) so triangle structure is non-trivial without the
    # near-complete-graph blowup a small modulus produces
    edges = o.selectExpr(
        "o_custkey % 5003 AS src", "o_orderkey % 5003 AS dst"
    )
    return triangle_counts(edges, k=20)


_SQL_TRIANGLES = """
    WITH e0 AS (
      SELECT DISTINCT least(o_custkey % 5003, o_orderkey % 5003) AS a,
                      greatest(o_custkey % 5003, o_orderkey % 5003) AS b
      FROM orders
      WHERE o_custkey % 5003 <> o_orderkey % 5003
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
      ) GROUP BY node
    ),
    eo AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                  THEN e0.a ELSE e0.b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                  THEN e0.b ELSE e0.a END AS v,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e0.a < e0.b)
                  THEN db.d ELSE da.d END AS dv
      FROM e0
      JOIN deg da ON e0.a = da.node
      JOIN deg db ON e0.b = db.node
    ),
    tri AS (
      SELECT w.n0, w.lo, w.hi
      FROM (
        SELECT e1.u AS n0, e1.v AS lo, e2.v AS hi
        FROM eo e1 JOIN eo e2
          ON e1.u = e2.u
         AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
      ) w
      JOIN eo c ON w.lo = c.u AND w.hi = c.v
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT n0 AS node FROM tri
      UNION ALL SELECT lo FROM tri
      UNION ALL SELECT hi FROM tri
    )
    GROUP BY node
    ORDER BY n_triangles DESC, node
    LIMIT 20
"""


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the bidirectional supplier↔customer
    co-shipment graph (prefixed node ids keep the two key spaces
    disjoint): hop tiers from suppliers s1/s2 within 3 hops —
    operators/graph.py bfs_distances, rounds unrolled into one
    statement, min-layering exact."""
    from obsplus_spark.operators.graph import bfs_distances

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # projected orders side broadcasts under the shared size gate
    # (keyed shuffle join at 100 TB)
    if _orders_dim_small(sf_dir):
        orders = F.broadcast(orders)
    # bidirectional doubling via ONE in-row explode, not a UNION of two
    # references of the join (a twice-referenced lineage derives the
    # lineitem join twice at materialization); dedup + src-partitioned
    # persist now live INSIDE bfs_distances — the r8 hoist that stops
    # each hop re-exchanging the edge frame (the distinct also
    # collapses the ~4× per-lineitem duplicate pairs there).
    # r12 (guide §2.3 "narrower types"): the BFS rounds run on BIGINT
    # node ids — supplier k ↦ 2k+1, customer k ↦ 2k (disjoint like the
    # old 's'/'c' prefixes) — so the 1.2M-pair edge distinct, the
    # src-keyed exchange, and every per-hop join shuffle/compare 8-byte
    # longs instead of ~10-byte strings; the prefixed-string ids the
    # oracle sees are reconstructed on the node-sized OUTPUT only
    # (node DIV 2 inverts both encodings; parity selects the prefix).
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .selectExpr(
            "explode(array("
            "  named_struct('src', 2 * CAST(l_suppkey AS BIGINT) + 1,"
            "               'dst', 2 * CAST(o_custkey AS BIGINT)),"
            "  named_struct('src', 2 * CAST(o_custkey AS BIGINT),"
            "               'dst', 2 * CAST(l_suppkey AS BIGINT) + 1)"
            ")) AS e"
        )
        .select("e.src", "e.dst")
    )
    # sources s1, s2 ↦ 2·1+1, 2·2+1
    d = bfs_distances(edges, [3, 5], max_hops=3)
    return d.selectExpr(
        "concat(CASE WHEN node % 2 = 1 THEN 's' ELSE 'c' END,"
        " CAST(node DIV 2 AS STRING)) AS node",
        "dist",
    )


_SQL_BFS = """
    WITH ship AS (
      -- NULL endpoints excluded per the engine's edge contract
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
             'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_suppkey IS NOT NULL AND o_custkey IS NOT NULL
    ),
    e AS (
      SELECT src, dst FROM ship
      UNION ALL
      SELECT dst AS src, src AS dst FROM ship
    ),
    d0 AS (SELECT node, 0 AS dist FROM (VALUES ('s1'), ('s2')) t(node)),
    d1 AS (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d0 d JOIN e ON d.node = e.src
        WHERE d.dist = 0
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d1 d JOIN e ON d.node = e.src
        WHERE d.dist = 1
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, CAST(min(dist) AS INT) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT e.dst AS node, d.dist + 1 AS dist
        FROM d2 d JOIN e ON d.node = e.src
        WHERE d.dist = 2
      ) GROUP BY node
    )
    SELECT node, dist FROM d3
"""


def q_hits_auth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HITS (hubs & authorities) over the directed
    customer→supplier purchase graph: top-20 authority suppliers —
    operators/graph.py hits_scores, iterations unrolled, all-BIGINT
    intermediates (no per-round float normalizer), per half-round one
    keyed join + one map-combined aggregate."""
    from obsplus_spark.operators.graph import hits_scores

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # the projected two-column orders side broadcasts under the same
    # deterministic size gate as the TPC-H shapes (at 100 TB the gate
    # flips and the edge build becomes a keyed shuffle join)
    if _orders_dim_small(sf_dir):
        o = F.broadcast(o)
    # hits_scores dedups + persists the edge frame internally (the
    # unrolled statement references it once per half-round).
    # Narrow node keys (guide §2.3): the rounds run on a BIGINT fold —
    # customer k ↦ 2k+1 (odd), supplier k ↦ 2k (even), injective and
    # disjoint exactly like the 'c'/'s' string prefixes — so the edge
    # dedup shuffle and every per-round join/aggregate move and hash
    # 8-byte longs instead of ~14-byte strings; node_decode rebuilds
    # the prefixed strings only in the final node-count-sized
    # projection, BEFORE the top-k ordering, so the output (including
    # string tie order) is row-identical to the string pipeline.
    # concat('c', NULL) is NULL exactly as 2*NULL+1 is, so the
    # operator's NULL-endpoint filter sees the same rows.
    edges = li.join(o, li.l_orderkey == o.o_orderkey).selectExpr(
        "CAST(2 * o_custkey + 1 AS BIGINT) AS src",
        "CAST(2 * l_suppkey AS BIGINT) AS dst",
    )
    # the authority side of this bipartite graph is the SUPPLIER node
    # set — dimension-bounded (≪ orders), so whenever orders itself is
    # broadcastable the per-round auth vectors certainly are: the
    # dst-joins become map-side and a full HITS round costs one
    # map-combined exchange (see hits_scores scale-shape note). At
    # 100 TB the same gate flips the operator back to co-partitioned
    # shuffle joins.
    return hits_scores(
        edges, iterations=2, k=20,
        broadcast_auth=_orders_dim_small(sf_dir),
        node_decode=(
            "CASE WHEN node % 2 = 1"
            " THEN concat('c', CAST((node - 1) DIV 2 AS STRING))"
            " ELSE concat('s', CAST(node DIV 2 AS STRING)) END"
        ),
    )


_SQL_HITS = """
    WITH edges AS (
      -- NULL endpoints excluded per the engine's edge contract
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
    ),
    a1 AS (
      SELECT dst AS node, CAST(count(*) AS BIGINT) AS auth
      FROM edges GROUP BY dst
    ),
    h1 AS (
      SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS hub
      FROM edges e JOIN a1 a ON e.dst = a.node GROUP BY e.src
    ),
    a2 AS (
      SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS auth
      FROM edges e JOIN h1 h ON e.src = h.node GROUP BY e.dst
    ),
    h2 AS (
      SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS hub
      FROM edges e JOIN a2 a ON e.dst = a.node GROUP BY e.src
    )
    SELECT n.node AS node,
           CAST(coalesce(a.auth, 0) AS BIGINT) AS auth,
           CAST(coalesce(h.hub, 0) AS BIGINT) AS hub
    FROM nodes n
    LEFT JOIN a2 a ON n.node = a.node
    LEFT JOIN h2 h ON n.node = h.node
    ORDER BY auth DESC, hub DESC, n.node
    LIMIT 20
"""


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (k=3, 4 rounds) on a hash-folded sparse
    orders graph — operators/graph.py k_core_peel: each round
    references the previous edge set exactly ONCE (explode + window
    degree + min-degree HAVING), dodging the 3^rounds CTE-inlining
    blowup of the naive degree-join formulation."""
    from obsplus_spark.operators.graph import k_core_peel

    o = _t(spark, sf_dir, "orders")
    # a different fold than triangle_count's graph: 4001-bucket node
    # space with a multiplicative scramble on the order side keeps the
    # graph sparse (mean degree ~7 at sf0.01) so the peel cascades
    edges = o.selectExpr(
        "o_custkey % 4001 AS src", "(o_orderkey * 7 + 3) % 4001 AS dst"
    )
    # node space is folded to 4001 buckets BY CONSTRUCTION (any sf), so
    # the surviving-node set is provably broadcast-safe: each peel round
    # becomes one map-combined degree aggregate + two map-side
    # semi-joins — zero edge shuffles/sorts (the window form pays an
    # explode-width exchange + sort per round). On an unbounded node
    # space leave the gate off.
    # r12: 2 rounds + the zero-stage convergence guard instead of 4
    # blind rounds — the peel reaches its fixed point at round 2 on all
    # three SFs (r4/r3/r2 outputs verified row-identical), every output
    # degree ≥ k is a fixed point so further rounds provably change
    # nothing, and require_converged raises LOUDLY at runtime if a
    # deeper cascade ever appears rather than silently diverging from
    # the oracle's 4-round closure. Two dropped rounds = two degree
    # aggregates + two persisted edge generations fewer per rep.
    return k_core_peel(
        edges, k=3, rounds=2, broadcast_degrees=True,
        require_converged=True,
    )


def _k_core_oracle_sql(k: int = 3, rounds: int = 4) -> str:
    """DuckDB twin of k_core_peel, in the straightforward degree-table
    formulation — semantically identical to the engine's
    single-reference explode/window form. Every CTE is ``AS
    MATERIALIZED``: each edge set is referenced three times (degree
    table twice via the endpoint joins, next round once), and DuckDB's
    optimizer may otherwise inline per reference — the same 3^rounds
    re-derivation blowup the engine dodges structurally (observed: OOM
    at the dense synthetic sf1 graph without the hint)."""
    parts = [
        """
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(o_custkey % 4001, (o_orderkey * 7 + 3) % 4001)
               AS a,
             greatest(o_custkey % 4001, (o_orderkey * 7 + 3) % 4001) AS b
      FROM orders
      WHERE o_custkey % 4001 <> (o_orderkey * 7 + 3) % 4001
    )"""
    ]
    for i in range(rounds):
        parts.append(
            f"""
    d{i} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}
      ) GROUP BY node HAVING count(*) >= {k}
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{i} e
      JOIN d{i} x ON e.a = x.node
      JOIN d{i} y ON e.b = y.node
    )"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
      SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
    ) GROUP BY node
"""
    )


QUERIES = [
    (q_pagerank, _SQL_PAGERANK),
    (q_triangle_count, _SQL_TRIANGLES),
    (q_bfs_hops, _SQL_BFS),
    (q_hits_auth, _SQL_HITS),
    (q_k_core, _k_core_oracle_sql(3, 4)),
]
