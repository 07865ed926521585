"""Graph registry queries: fixed-point PageRank over the supplier↔customer
trade graph (operators/pagerank.py).

The oracle unrolls the K-iteration recurrence as chained CTEs — pure
integer arithmetic, so Spark's distributed loop and DuckDB's sequential
replay are bit-identical (see operators/pagerank.py for the recurrence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.operators.pagerank import SCALE, pagerank_fixed
from ftm_datalake_spark.plans.registry import register
from ftm_datalake_spark.sources.tables import load_table

_ITERS = 5


def _oracle_pagerank(iters: int) -> str:
    head = f"""
    WITH e0 AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    p AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (SELECT node, CAST({SCALE} // (SELECT n FROM p) AS BIGINT) AS pr
           FROM nodes)"""
    steps = "".join(
        f""",
    r{k + 1} AS (
      SELECT e.dst AS node,
             CAST((SELECT (CAST({SCALE} AS BIGINT) * 15 // 100) // n FROM p)
                  + (85 * SUM(r.pr // d.outdeg)) // 100 AS BIGINT) AS pr
      FROM edges e
      JOIN r{k} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst)"""
        for k in range(iters)
    )
    return head + steps + f"""
    SELECT node, pr FROM r{iters} ORDER BY node
    """


@register(
    "pagerank_trade_graph",
    checkpointed=True,
    oracle=_oracle_pagerank(_ITERS),
    tags=("graph", "iterative"),
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the symmetrized supplier↔customer graph (an edge per
    distinct trading pair), 5 fixed iterations in integer fixed-point."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_fixed(edges, _ITERS).orderBy("node")


# --------------------------------------------------------------------------
# Triangle enumeration on the nation-level trade graph: an undirected
# edge links two nations when any customer of one bought from any
# supplier of the other. operators/triangles.py orients edges by
# (degree, id) — compact-forward — so wedge work is bounded under skew.
_NATION_EDGES_SQL = """
    e0 AS MATERIALIZED (
      SELECT DISTINCT
             LEAST(c.c_nationkey, s.s_nationkey) AS u,
             GREATEST(c.c_nationkey, s.s_nationkey) AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    )
"""


@register(
    "graph_triangles_trade",
    checkpointed=True,
    oracle=f"""
    WITH {_NATION_EDGES_SQL},
    deg AS MATERIALIZED (
      SELECT n, COUNT(*) AS d
      FROM (SELECT u AS n FROM e0 UNION ALL SELECT v AS n FROM e0)
      GROUP BY n
    ),
    o AS MATERIALIZED (
      SELECT CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.u ELSE e0.v END AS src,
             CASE WHEN (du.d, e0.u) < (dv.d, e0.v) THEN e0.v ELSE e0.u END AS dst
      FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM o e1
      JOIN o e2 ON e2.src = e1.dst
      JOIN o e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT CAST(LEAST(a, b, c) AS BIGINT) AS n1,
           CAST(a + b + c - LEAST(a, b, c) - GREATEST(a, b, c) AS BIGINT) AS n2,
           CAST(GREATEST(a, b, c) AS BIGINT) AS n3
    FROM tri
    ORDER BY n1, n2, n3
    """,
    tags=("graph",),
)
def graph_triangles_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.triangles import triangles

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").cast("long").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").cast("long").alias("v"),
        )
        .distinct()
    )
    return triangles(pairs).orderBy("n1", "n2", "n3")


# --------------------------------------------------------------------------
# Bounded-depth BFS from nation 0 over the symmetrized trade graph —
# the frontier-expansion iterative shape (operators/bfs.py), oracled by
# a recursive CTE whose (node, d) UNION-dedup guarantees termination.
@register(
    "graph_bfs_distances",
    checkpointed=True,
    oracle=f"""
    WITH RECURSIVE {_NATION_EDGES_SQL},
    edges AS (
      SELECT u AS src, v AS dst FROM e0
      UNION SELECT v AS src, u AS dst FROM e0
    ),
    walk AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS d
      UNION
      SELECT e.dst, walk.d + 1
      FROM walk JOIN edges e ON e.src = walk.node
      WHERE walk.d < 4
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist
    FROM walk GROUP BY node ORDER BY node
    """,
    tags=("graph", "iterative"),
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.bfs import bfs_distances

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").cast("long").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").cast("long").alias("v"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionByName(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    return bfs_distances(edges, seed=0, max_depth=4).orderBy("node")


# --------------------------------------------------------------------------
# Weighted SSSP: Bellman–Ford from nation 0 over the weighted trade
# graph — edge weight = cheapest observed lineitem between the two
# nations in exact integer cents. operators/sssp.py generalizes the BFS
# frontier loop; the oracle replays the identical recurrence as
# unrolled CTEs (min() over exact BIGINTs is order-free, so both
# engines are bit-identical).
_SSSP_ROUNDS = 4


def _oracle_weighted_sssp(rounds: int) -> str:
    # Edge derivation is staged as single-join MATERIALIZED CTEs with a
    # min-agg between each stage: DuckDB's join-order optimizer would
    # otherwise pair customer×supplier on the `<>` predicate first and
    # blow the orders join up to 144M rows at sf0.1 (measured —
    # 18 s + spill vs 0.4 s staged). MATERIALIZED also stops the
    # unrolled rounds from re-deriving `edges` once per inlining.
    head = """
    WITH x1 AS MATERIALIZED (
      SELECT o.o_custkey AS ck, l.l_suppkey AS sk,
             MIN(l.l_extendedprice) AS p
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    x2 AS MATERIALIZED (
      SELECT c.c_nationkey AS cn, x1.sk, MIN(x1.p) AS p
      FROM x1 JOIN customer c ON x1.ck = c.c_custkey
      GROUP BY 1, 2
    ),
    lp AS MATERIALIZED (
      SELECT x2.cn, s.s_nationkey AS sn, MIN(x2.p) AS p
      FROM x2 JOIN supplier s ON x2.sk = s.s_suppkey
      GROUP BY 1, 2
    ),
    e0 AS (
      SELECT LEAST(cn, sn) AS u, GREATEST(cn, sn) AS v,
             CAST(ROUND(MIN(p) * 100) AS BIGINT) AS w
      FROM lp WHERE cn <> sn
      GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
              SELECT u AS src, v AS dst, w FROM e0
              UNION ALL SELECT v AS src, u AS dst, w FROM e0),
    r0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)"""
    steps = "".join(
        f""",
    r{k + 1} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM r{k}
        UNION ALL
        SELECT e.dst AS node, r{k}.dist + e.w AS dist
        FROM r{k} JOIN edges e ON e.src = r{k}.node
      ) GROUP BY node)"""
        for k in range(rounds)
    )
    return head + steps + f"""
    SELECT node, CAST(dist AS BIGINT) AS dist FROM r{rounds} ORDER BY node
    """


@register(
    "graph_weighted_sssp",
    checkpointed=True,
    oracle=_oracle_weighted_sssp(_SSSP_ROUNDS),
    tags=("graph", "iterative"),
)
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum trade-path cost from nation 0 using ≤ 4 edges. Each
    relaxation round is one equi-join + one min hash-agg on the 8-byte
    node key (operators/sssp.py) — the Pregel-on-relational shape."""
    from ftm_datalake_spark.operators.sssp import bellman_ford

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").cast("long").alias("u"),
            F.greatest("c_nationkey", "s_nationkey").cast("long").alias("v"),
        )
        .agg(F.round(F.min("l_extendedprice") * 100).cast("long").alias("w"))
    )
    edges = pairs.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )
    return bellman_ford(edges, seed=0, rounds=_SSSP_ROUNDS).orderBy("node")


# --------------------------------------------------------------------------
# k-core peeling on the supplier↔customer bipartite trade graph: nodes
# are suppliers (2·suppkey) and customers (2·custkey+1); each peel
# round drops nodes whose current degree is < k and re-induces the
# subgraph — the graph-dedup / dense-subgraph primitive. A fixed
# 3-round budget keeps the oracle expressible as unrolled CTEs; the
# Spark loop (operators/kcore.py) is the same recurrence.
_KCORE_K = 5
_KCORE_ROUNDS = 3


def _oracle_kcore(k: int, rounds: int) -> str:
    # Every g{r} is referenced twice (degree count + next induction), so
    # un-hinted CTE inlining re-derives the whole peel chain 2^rounds
    # times; MATERIALIZED keeps the oracle linear in the round count.
    head = """
    WITH p0 AS MATERIALIZED (
      SELECT DISTINCT l_suppkey * 2 AS a, o_custkey * 2 + 1 AS b
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    g0 AS MATERIALIZED (
           SELECT a AS src, b AS dst FROM p0
           UNION ALL SELECT b AS src, a AS dst FROM p0)"""
    steps = "".join(
        f""",
    d{r} AS (SELECT src AS node, COUNT(*) AS deg FROM g{r} GROUP BY src),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
    g{r + 1} AS MATERIALIZED (
      SELECT g{r}.src, g{r}.dst FROM g{r}
      JOIN k{r} x ON x.node = g{r}.src
      JOIN k{r} y ON y.node = g{r}.dst)"""
        for r in range(rounds)
    )
    return head + steps + f"""
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM g{rounds} GROUP BY src ORDER BY node
    """


@register(
    "graph_kcore_trade",
    checkpointed=True,
    oracle=_oracle_kcore(_KCORE_K, _KCORE_ROUNDS),
    tags=("graph", "iterative"),
)
def graph_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surviving nodes + induced degree after 3 peel rounds at k=5.
    Each round is one degree hash-agg + two semi-joins on the node key
    (operators/kcore.py); the edge table shrinks monotonically, so the
    loop cost is bounded by the first round's |edges| shuffle."""
    from ftm_datalake_spark.operators.kcore import kcore

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).cast("long").alias("a"),
            (F.col("o_custkey") * 2 + 1).cast("long").alias("b"),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return kcore(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS).orderBy("node")


# --------------------------------------------------------------------------
# Label-propagation communities (round 9): synchronous LPA with fixed
# iterations on the symmetrized supplier<->customer graph. The oracle
# unrolls the K rounds as CTE chains — plurality counting and the
# (cnt DESC, label ASC) tie-break are pure integer/string comparisons,
# so both engines replay the recurrence bit-exact. See
# operators/labelprop.py for the determinism spec and scale notes.
_LPA_ITERS = 4


def _oracle_lpa(iters: int) -> str:
    head = """
    WITH e0 AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    l0 AS (SELECT node, node AS label FROM nodes)"""
    steps = "".join(
        f""",
    v{k + 1} AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS cnt
      FROM edges e JOIN l{k} l ON l.node = e.src
      GROUP BY e.dst, l.label),
    l{k + 1} AS (
      SELECT p.node, COALESCE(w.label, p.label) AS label
      FROM l{k} p LEFT JOIN (
        SELECT node, label FROM (
          SELECT node, label,
                 ROW_NUMBER() OVER (PARTITION BY node
                                    ORDER BY cnt DESC, label) AS rn
          FROM v{k + 1}) ranked
        WHERE rn = 1) w ON w.node = p.node)"""
        for k in range(iters)
    )
    return head + steps + f"""
    SELECT node, label AS community FROM l{iters} ORDER BY node
    """


@register(
    "graph_label_propagation",
    checkpointed=True,
    oracle=_oracle_lpa(_LPA_ITERS),
    tags=("graph", "iterative", "community"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community id per node after 4 synchronous LPA rounds. Per round:
    one edges-on-src hash join + one deterministic ``mode`` vote per
    node (no window, no sort) — the Pregel-shaped cost, edge-scale
    shuffle once per round. The rounds are one plan over an edge list
    pinned once."""
    from ftm_datalake_spark.operators.labelprop import label_propagation

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return label_propagation(edges, iters=_LPA_ITERS).orderBy("node")


# ---------------------------------------------------------------------------
# Link prediction by common-neighbor Jaccard over the supplier-part
# bipartite graph — the graph family's missing scoring query (pagerank/
# SSSP/k-core/LPA compute structure; this predicts edges). Candidate
# generation is the dedup family's blocking idiom: pairs only through
# SHARED parts, with hot parts (fanout > 20 suppliers) purged first —
# the er_meta_blocking/winnow df-cap rationale: a part supplied by
# everyone pairs everyone (quadratic, zero signal), so the cap bounds
# candidate pairs at |parts| x cap^2/2 while keeping the discriminative
# ones. Exact integers: common counts, capped degrees, jaccard in ppm;
# fully-ordered top-100 (score desc, pair) so the cut is deterministic.
_LP_FANOUT_CAP = 20
_LP_TOPK = 100


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    keep AS (
      SELECT p FROM e0 GROUP BY p HAVING COUNT(*) <= {_LP_FANOUT_CAP}
    ),
    e AS (SELECT e0.s, e0.p FROM e0 JOIN keep USING (p)),
    deg AS (SELECT s, COUNT(*) AS d FROM e GROUP BY s),
    pairs AS (
      SELECT a.s AS s1, b.s AS s2, COUNT(*) AS common
      FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT s1, s2,
           CAST(common AS BIGINT) AS common,
           CAST(d1.d AS BIGINT) AS deg1,
           CAST(d2.d AS BIGINT) AS deg2,
           CAST(common * 1000000 // (d1.d + d2.d - common) AS BIGINT)
             AS jaccard_ppm
    FROM pairs
    JOIN deg d1 ON d1.s = pairs.s1
    JOIN deg d2 ON d2.s = pairs.s2
    ORDER BY jaccard_ppm DESC, s1, s2
    LIMIT {_LP_TOPK}
    """,
    tags=("graph", "join", "agg"),
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    keep = (
        e0.groupBy("p")
        .agg(F.count("*").alias("fan"))
        .where(F.col("fan") <= _LP_FANOUT_CAP)
        .select("p")
    )
    e = e0.join(keep, "p")
    deg = e.groupBy("s").agg(F.count("*").alias("d"))
    a = e.select(F.col("s").alias("s1"), "p")
    b = e.select(F.col("s").alias("s2"), "p")
    pairs = (
        a.join(b, "p")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("common"))
    )
    scored = (
        pairs.join(
            F.broadcast(deg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))),
            "s1",
        )
        .join(
            F.broadcast(deg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))),
            "s2",
        )
        .select(
            "s1",
            "s2",
            F.col("common").cast("long").alias("common"),
            F.col("deg1").cast("long").alias("deg1"),
            F.col("deg2").cast("long").alias("deg2"),
            F.expr("(common * 1000000) div (deg1 + deg2 - common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_ppm").desc(), "s1", "s2"
    ).limit(_LP_TOPK)
