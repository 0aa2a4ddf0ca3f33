"""Distributed graph analytics as join discipline: triangle counting.

Triangle counting is THE canonical example of a graph computation whose
naive formulation (3-way self-join of the edge list) explodes on skew: a
hub with degree d contributes O(d²) join rows. The standard fix —
node-iterator++ / degree orientation (Schank & Wagner 2005; the shape
MapReduce/Spark graph libraries use) — directs every edge from its
lower-degree endpoint to the higher (ties by id), making every vertex's
out-degree O(√m); each triangle is then counted EXACTLY once by joining
out-edge pairs against the oriented edge set, and the worst-case join
fan-out drops from O(d_max²) to O(m^1.5) total.

Edge source: the fixture has no edge table, so a deterministic
Erdős–Rényi-style graph is synthesized over the user population
(md5-hash-selected pairs within 100-user blocks — block-locality keeps
generation LINEAR in users at any SF; a real deployment reads its edge
table and starts at the degree computation). The generator is shared
verbatim between the Spark query and the DuckDB oracle, so the counting
machinery is what the oracle verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..lifetime import checkpoint
from ..functions.hashes import duck_h32, spark_h32
from ..sources import load_table

_BLOCK = 100  # users per block: bounds pair generation to O(users × BLOCK)
_EDGE_MOD = 6  # keep ~1/6 of candidate pairs


def _edges_sql(h32, cat: str) -> str:
    """Shared edge generator (dialect via the hash helper + concat style):
    undirected edges (a < b) within each 100-user block, selected by a
    deterministic hash — identical membership in both engines."""
    pair = cat.format(a="a.user_id", b="b.user_id")
    return f"""
      SELECT a.user_id AS a, b.user_id AS b
      FROM (SELECT DISTINCT user_id FROM events) a
      JOIN (SELECT DISTINCT user_id FROM events) b
        ON a.user_id < b.user_id
       AND a.user_id // {_BLOCK} = b.user_id // {_BLOCK}
      WHERE {h32(pair)} % {_EDGE_MOD} = 0
    """


_SPARK_CAT = "concat(cast({a} as string), ':', cast({b} as string))"
_DUCK_CAT = "(CAST({a} AS VARCHAR) || ':' || CAST({b} AS VARCHAR))"


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS ({_edges_sql(duck_h32, _DUCK_CAT)}),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e
      ) GROUP BY v
    ),
    o AS (
      -- orient low-degree -> high-degree, ties by id
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS src,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS dst
      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b
    ),
    tri AS (
      -- wedges keep v1 < v2, and e stores every edge as (a < b), so the
      -- closing test is ONE equi-join against the canonical edge set —
      -- no OR-condition (which would force a nested-loop join).
      SELECT count(*) AS n_triangles
      FROM o o1
      JOIN o o2 ON o2.src = o1.src AND o2.dst > o1.dst
      JOIN e ON e.a = o1.dst AND e.b = o2.dst
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count with degree orientation: edges are directed
    low-degree → high-degree, wedge pairs (two out-edges of one vertex)
    probe the oriented edge set, and each triangle closes exactly once.

    Scale shape: out-degree after orientation is O(√m) even on hub-heavy
    graphs, so the wedge join's fan-out is bounded; all three joins are
    equi-joins on vertex keys (shuffle-partitioned, AQE-skew-handled) —
    no cartesian anywhere. Wedges keep v1 < v2 and the edge set is
    canonical (a < b), so the closing test is one equi-join on (v1, v2).
    """
    return triangle_count(_edges_df(spark, sf_dir))


def _edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_edges_sql``: the canonical (a < b) synthetic edge
    list over the user population, shared by every graph entry."""
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    a = users.select(F.col("user_id").alias("a"))
    b = users.select(F.col("user_id").alias("b"))
    pair = _SPARK_CAT.format(a="a", b="b")
    return a.join(
        b,
        (F.col("a") < F.col("b"))
        & (F.expr(f"a div {_BLOCK}") == F.expr(f"b div {_BLOCK}")),
    ).where(F.expr(f"{spark_h32(pair)} % {_EDGE_MOD} = 0"))


def triangle_count(e: DataFrame) -> DataFrame:
    """Degree-oriented exact triangle count over a canonical (a < b)
    undirected edge list; returns 1 row (n_edges, n_triangles). Known
    graphs (cliques, paths, stars, bowties) pinned in tests/test_graph.py.

    The edge list is materialized ONCE (``lifetime.checkpoint``, same
    discipline as pagerank_fixedpoint below): the plan references it five
    times (degree count twice via unionAll, orientation, closing join,
    edge count) and without the cut each reference re-ran the upstream
    edge generator (r14, guide §1.2 — measured 1.00 → 0.77 s at sf0.1).
    The pinned edge-list blocks live until ``lifetime.release`` of the
    scope this is called in (the catalog entry's own tag), or until
    Spark's ContextCleaner collects them when no scope is open — so
    frames from earlier calls stay readable (ADVICE r15 #1).
    """
    e = checkpoint(e)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("dst"),
        )
    )
    o1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v1"))
    o2 = o.select(F.col("src").alias("u"), F.col("dst").alias("v2"))
    wedges = o1.join(o2, "u").where(F.col("v2") > F.col("v1"))
    # Closing join: wedges keep v1 < v2 and e is canonical (a < b), so one
    # equi-join on (v1, v2) closes every triangle — an OR-of-orientations
    # condition here would degrade to a nested-loop join.
    closing = e.select(F.col("a").alias("v1"), F.col("b").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"])
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return F.broadcast(n_edges).crossJoin(n_tri)


# Fixed-point PageRank: ranks are BIGINTs scaled by _PR_SCALE and every
# division is integer floor division, so the iteration is bit-identical
# regardless of summation order or engine — the reproducibility trick that
# makes an iterative float algorithm oracle-checkable (and, at 100 TB,
# run-to-run deterministic across retries and partition counts).
_PR_SCALE = 10**12
_PR_ITERS = 2


def _pagerank_oracle(iters: int) -> str:
    """Unroll the fixed-point iteration into ``iters`` chained CTEs so the
    oracle can never silently desync from ``_PR_ITERS`` (the Spark side
    loops the same constant)."""
    ctes = []
    prev = "base"
    for i in range(1, iters + 1):
        ctes.append(f"""
    r{i} AS (
      SELECT b.v, b.d, b.tele, b.tele + (85 * agg.c) // 100 AS r
      FROM (SELECT u.dst AS v, sum(s.r // s.d) AS c
            FROM und u JOIN {prev} s ON s.v = u.src GROUP BY u.dst) agg
      JOIN {prev} b ON b.v = agg.v
    )""")
        prev = f"r{i}"
    return f"""
    WITH e AS ({_edges_sql(duck_h32, _DUCK_CAT)}),
    und AS (SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b AS src, a AS dst FROM e),
    deg AS (SELECT src AS v, count(*) AS d FROM und GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    base AS (
      SELECT v, d, {_PR_SCALE} // n AS r,
             (15 * ({_PR_SCALE} // n)) // 100 AS tele
      FROM deg, nn
    ){"," + ",".join(ctes) if ctes else ""}
    SELECT CAST(v AS BIGINT) AS user_id, CAST(r AS BIGINT) AS rank_fp
    FROM {prev}
    """


@register("graph_pagerank_fixedpoint", oracle=_pagerank_oracle(_PR_ITERS))
def graph_pagerank_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, {iters} power iterations) over the shared
    synthetic user graph, in FIXED-POINT integer arithmetic: rank(v) =
    tele + 85% of the floor-divided neighbor contributions, all BIGINT.

    The distributed shape is the canonical Pregel/GraphX iteration spelled
    as DataFrame joins: per iteration, one equi-join of the rank frame
    onto the (cached) undirected edge list, one map-side-combinable sum by
    destination, one join back to attach degrees — every exchange is on
    the vertex key. The edge list is materialized ONCE (localCheckpoint)
    so the md5 generator doesn't re-run per iteration; a real deployment
    reads its edge table and starts at the degree step. Undirected degree
    ≥ 1 for every vertex in the frame, so there are no dangling nodes and
    the neighbor sum is never empty. The 1-row vertex count broadcast onto
    the degree frame is the same scalar-broadcast shape as
    ``scalar_subquery_avg``.
    """
    return pagerank_fixedpoint(_edges_df(spark, sf_dir)).select(
        F.col("v").alias("user_id"), F.col("r").alias("rank_fp")
    )


def pagerank_fixedpoint(edges: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """Fixed-point PageRank over a canonical (a < b) undirected edge list;
    returns (v, r) with r the BIGINT rank after ``iters`` iterations.
    Exposed separately so the integer-arithmetic kernel is testable on
    known graphs (paths, stars) independent of the fixture edge generator.
    The edge list is checkpointed with the same lifetime contract as
    triangle_count: its blocks live until ``lifetime.release`` of the
    enclosing scope, or until Spark's ContextCleaner runs when no scope
    is open.
    """
    e = checkpoint(edges)
    und = e.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("u")
    ).select("u.src", "u.dst")
    deg = und.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
    nn = deg.agg(F.count("*").alias("n"))
    base = F.broadcast(nn).crossJoin(deg).select(
        "v",
        "d",
        F.expr(f"{_PR_SCALE} div n").alias("r"),
        F.expr(f"(15 * ({_PR_SCALE} div n)) div 100").alias("tele"),
    )
    ranks = base
    for _ in range(iters):
        contrib = und.join(
            ranks.select(
                F.col("v").alias("src"), F.expr("r div d").alias("c")
            ),
            "src",
        )
        summed = contrib.groupBy(F.col("dst").alias("v")).agg(
            F.sum("c").alias("c")
        )
        ranks = summed.join(ranks.select("v", "d", "tele"), "v").select(
            "v",
            "d",
            "tele",
            (F.col("tele") + F.expr("(85 * c) div 100")).alias("r"),
        )
    return ranks.select("v", "r")


if graph_pagerank_fixedpoint.__doc__:  # absent under python -OO
    graph_pagerank_fixedpoint.__doc__ = graph_pagerank_fixedpoint.__doc__.format(
        iters=_PR_ITERS
    )
