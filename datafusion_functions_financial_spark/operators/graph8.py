"""Graph ops #8: HITS hub/authority scores and the k-truss edge
support profile — the directed-centrality and cohesion upgrades of
the gated graph tier: PageRank (``graph_pagerank_nations``) scores a
node by incoming mass only, while HITS separates "points at good
things" (hub) from "is pointed at by good hubs" (authority) — the
pair diverges exactly on asymmetric trade networks; triangle counts
(``graph_triangles_lineitem``) are global, while per-edge support
(the number of triangles through each edge) is the k-truss
membership criterion — the standard community-core filter.

- ``hits_scores``: ``iters`` power iterations of weighted HITS with
  L1 normalization after each half-step, starting uniform. As in
  the gated PageRank, the edge list is the small aggregated relation
  (the same ``_trade_edges``); each half-step is one broadcast join +
  one aggregation, and the driver loop only grows the LOGICAL plan.
- ``truss_support_histogram``: every triangle is enumerated once
  from its lowest-(degree, id) corner (the gated triangle_count
  orientation, re-derived here for edge identity), charged to its
  three canonical edges, and reduced to a (support, n_edges)
  histogram — support >= k-2 is k-truss membership.

Engine-exactness: HITS contributions quantize to BIGINT at 1e8
before each per-node sum AND the L1 total (so normalization divides
two exact integers); the truss profile is pure integer counting.

Plan shape at 100 TB: HITS runs on the nation-level aggregate (the
heavy work is the edge aggregation, map-side combinable); the truss
join is degree-oriented — wedge fan-out is bounded by the HIGHER
endpoint's degree, the standard mitigation for power-law graphs.

Reference anchor: beyond-reference pipeline operators per SURVEY.md
extension scope (graph tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.analytics6 import _trade_edges
from ..plans.series import round_portable, round_portable_duck
from ..sources.tables import load

__all__ = ["hits_scores", "truss_support_histogram"]

Q = 10 ** 8
QF = float(Q)
HITS_ITERS = 3


def hits_scores(edges: DataFrame, nodes: DataFrame,
                n_nodes: int, iters: int = HITS_ITERS) -> DataFrame:
    """(node, hub, authority): weighted HITS after ``iters``
    iterations (authority then hub per iteration, L1-normalized
    after each half-step; isolated sides score 0)."""
    # materialize once: every half-step touches the edge relation,
    # and each contribution relation feeds TWO consumers (its L1
    # total and the normalization join) — without the checkpoints
    # the logical plan doubles per half-step and the heavy edge
    # aggregation re-executes ~2^(2*iters) times (measured 12x the
    # PageRank wall time at sf0.01; the graph5/graph6 lesson).
    edges = edges.localCheckpoint()
    nodes = nodes.localCheckpoint()
    hub = nodes.select(
        F.col("node"),
        F.expr(f"CAST(1 AS DOUBLE) / {n_nodes}").alias("h"))
    auth = None
    for _ in range(iters):
        ain = (
            edges.join(F.broadcast(hub),
                       edges["src"] == hub["node"])
            .select(F.col("dst"), F.expr(
                f"CAST(round(h * CAST(w AS DOUBLE) * {Q}) "
                f"AS BIGINT)").alias("__cq"))
            .groupBy("dst")
            .agg(F.sum("__cq").alias("__in"))
        ).localCheckpoint()
        tot_a = ain.agg(F.sum("__in").alias("__ta"))
        auth = (
            nodes.join(ain, nodes["node"] == ain["dst"], "left")
            .crossJoin(F.broadcast(tot_a))
            .select("node", F.expr(
                "CASE WHEN __ta > 0 THEN "
                "CAST(coalesce(__in, 0) AS DOUBLE) "
                "/ CAST(__ta AS DOUBLE) "
                "ELSE CAST(0 AS DOUBLE) END").alias("a"))
        )
        hin = (
            edges.join(F.broadcast(auth),
                       edges["dst"] == auth["node"])
            .select(F.col("src"), F.expr(
                f"CAST(round(a * CAST(w AS DOUBLE) * {Q}) "
                f"AS BIGINT)").alias("__cq"))
            .groupBy("src")
            .agg(F.sum("__cq").alias("__in"))
        ).localCheckpoint()
        tot_h = hin.agg(F.sum("__in").alias("__th"))
        hub = (
            nodes.join(hin, nodes["node"] == hin["src"], "left")
            .crossJoin(F.broadcast(tot_h))
            .select("node", F.expr(
                "CASE WHEN __th > 0 THEN "
                "CAST(coalesce(__in, 0) AS DOUBLE) "
                "/ CAST(__th AS DOUBLE) "
                "ELSE CAST(0 AS DOUBLE) END").alias("h"))
        )
    return (
        hub.join(auth.withColumnRenamed("node", "__n2"),
                 hub["node"] == F.col("__n2"))
        .select("node", F.col("h").alias("hub"),
                F.col("a").alias("authority"))
    )


def truss_support_histogram(edges: DataFrame, a_col: str,
                            b_col: str) -> DataFrame:
    """(support, n_edges): how many edges sit in exactly ``support``
    triangles (0-support edges included) — the k-truss membership
    profile of the undirected graph (one row per unordered pair)."""
    e = edges.select(F.col(a_col).alias("__x"),
                     F.col(b_col).alias("__y")).localCheckpoint()
    ends = e.selectExpr("__x AS __v").unionAll(
        e.selectExpr("__y AS __v"))
    deg = ends.groupBy("__v").agg(F.count(F.lit(1)).alias("__d"))
    withdeg = (
        e.join(deg.withColumnRenamed("__v", "__x")
               .withColumnRenamed("__d", "__dx"), "__x")
        .join(deg.withColumnRenamed("__v", "__y")
              .withColumnRenamed("__d", "__dy"), "__y")
    )
    lt = "(__dx < __dy OR (__dx = __dy AND __x < __y))"
    oriented = withdeg.selectExpr(
        f"CASE WHEN {lt} THEN __x ELSE __y END AS __u",
        f"CASE WHEN {lt} THEN __y ELSE __x END AS __w",
    ).localCheckpoint()
    canon = e.selectExpr("least(__x, __y) AS __p",
                         "greatest(__x, __y) AS __q")
    tri = (
        oriented.alias("o1")
        .join(oriented.alias("o2"),
              (F.col("o1.__u") == F.col("o2.__u"))
              & (F.col("o1.__w") < F.col("o2.__w")))
        .selectExpr("o1.__u AS __a", "o1.__w AS __p",
                    "o2.__w AS __q")
        .join(canon, ["__p", "__q"])
    )
    # each triangle charges its three canonical edges
    charged = tri.selectExpr(
        "explode(array("
        "struct(least(__a, __p) AS p, greatest(__a, __p) AS q), "
        "struct(least(__a, __q) AS p, greatest(__a, __q) AS q), "
        "struct(__p AS p, __q AS q))) AS e"
    ).selectExpr("e.p AS __p", "e.q AS __q")
    support = charged.groupBy("__p", "__q").agg(
        F.count(F.lit(1)).cast("bigint").alias("__s"))
    per_edge = (
        canon.join(support, ["__p", "__q"], "left")
        .withColumn("__s", F.coalesce(F.col("__s"), F.lit(0))
                    .cast("bigint"))
    )
    return (
        per_edge.groupBy(F.col("__s").alias("support"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )


# --------------------------------------------------------------------------
# Gate queries + mirrored oracles (nation trade network for HITS,
# part co-purchase graph for the truss profile)
# --------------------------------------------------------------------------


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = _trade_edges(spark, sf_dir)
    nodes = n.select(F.col("n_nationkey").alias("node"))
    sc = hits_scores(edges, nodes, n_nodes=25)
    return sc.join(F.broadcast(n), sc["node"] == n["n_nationkey"]).select(
        F.col("n_name").alias("nation"),
        round_portable(F.col("hub"), 6).alias("hub"),
        round_portable(F.col("authority"), 6).alias("authority"),
    )


def _q_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.analytics4 import copurchase_pairs
    li = load(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, "l_orderkey", "l_partkey",
                             min_count=2)
    return truss_support_histogram(edges, "item_a", "item_b")


def _hits_iter_sql(prev_h: str, it: int) -> str:
    return f"""ain{it} AS (
  SELECT e.dst,
         CAST(sum(CAST(round(r.h * CAST(e.w AS DOUBLE) * {Q})
           AS BIGINT)) AS BIGINT) AS cin
  FROM e JOIN {prev_h} r ON e.src = r.node GROUP BY 1
), tota{it} AS (
  SELECT CAST(sum(cin) AS BIGINT) AS ta FROM ain{it}
), auth{it} AS (
  SELECT n.node,
         CASE WHEN t.ta > 0 THEN
           CAST(coalesce(c.cin, 0) AS DOUBLE) / CAST(t.ta AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS a
  FROM nodes n LEFT JOIN ain{it} c ON n.node = c.dst, tota{it} t
), hin{it} AS (
  SELECT e.src,
         CAST(sum(CAST(round(r.a * CAST(e.w AS DOUBLE) * {Q})
           AS BIGINT)) AS BIGINT) AS cin
  FROM e JOIN auth{it} r ON e.dst = r.node GROUP BY 1
), toth{it} AS (
  SELECT CAST(sum(cin) AS BIGINT) AS th FROM hin{it}
), hub{it} AS (
  SELECT n.node,
         CASE WHEN t.th > 0 THEN
           CAST(coalesce(c.cin, 0) AS DOUBLE) / CAST(t.th AS DOUBLE)
         ELSE CAST(0 AS DOUBLE) END AS h
  FROM nodes n LEFT JOIN hin{it} c ON n.node = c.src, toth{it} t
)"""


_ORACLE_HITS = f"""
WITH e AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), nodes AS (
  SELECT n_nationkey AS node FROM nation
), hub0 AS (
  SELECT node, CAST(1 AS DOUBLE) / 25 AS h FROM nodes
), {_hits_iter_sql('hub0', 1)},
{_hits_iter_sql('hub1', 2)},
{_hits_iter_sql('hub2', 3)}
SELECT n.n_name AS nation,
       {round_portable_duck("hb.h", 6)} AS hub,
       {round_portable_duck("au.a", 6)} AS authority
FROM hub{HITS_ITERS} hb
JOIN auth{HITS_ITERS} au ON hb.node = au.node
JOIN nation n ON hb.node = n.n_nationkey
"""

_ORACLE_TRUSS = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), e AS (
  SELECT l.it AS x, r.it AS y
  FROM b l JOIN b r ON l.bk = r.bk AND l.it < r.it
  GROUP BY 1, 2 HAVING count(*) >= 2
), ends AS (
  SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e
), deg AS (
  SELECT v, count(*) AS d FROM ends GROUP BY 1
), withdeg AS (
  SELECT e.x, e.y, dx.d AS dx, dy.d AS dy
  FROM e JOIN deg dx ON e.x = dx.v JOIN deg dy ON e.y = dy.v
), oriented AS (
  SELECT CASE WHEN (dx < dy OR (dx = dy AND x < y))
           THEN x ELSE y END AS u,
         CASE WHEN (dx < dy OR (dx = dy AND x < y))
           THEN y ELSE x END AS w
  FROM withdeg
), canon AS (
  SELECT least(x, y) AS p, greatest(x, y) AS q FROM e
), tri AS (
  SELECT o1.u AS a, o1.w AS p, o2.w AS q
  FROM oriented o1 JOIN oriented o2
    ON o1.u = o2.u AND o1.w < o2.w
  JOIN canon c ON c.p = o1.w AND c.q = o2.w
), charged AS (
  SELECT least(a, p) AS p, greatest(a, p) AS q FROM tri
  UNION ALL
  SELECT least(a, q) AS p, greatest(a, q) AS q FROM tri
  UNION ALL
  SELECT p, q FROM tri
), support AS (
  SELECT p, q, CAST(count(*) AS BIGINT) AS s FROM charged
  GROUP BY 1, 2
), per_edge AS (
  SELECT canon.p, canon.q,
         CAST(coalesce(support.s, 0) AS BIGINT) AS s
  FROM canon LEFT JOIN support USING (p, q)
)
SELECT s AS support, CAST(count(*) AS BIGINT) AS n_edges
FROM per_edge GROUP BY 1
"""


QUERIES: dict = {
    "graph_hits_nations": (_q_hits, _ORACLE_HITS),
    "graph_truss_support_parts": (_q_truss, _ORACLE_TRUSS),
}
