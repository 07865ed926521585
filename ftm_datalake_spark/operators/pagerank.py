"""Fixed-iteration PageRank in integer fixed-point arithmetic.

Iterative-algorithm family member next to connected components
(operators/components.py). The usual obstacle to cross-engine
verification of PageRank is float summation order; here ranks live in
BIGINT fixed-point (SCALE = 1e9) and every step is integer arithmetic —
floor division for contributions and damping — so K iterations produce
bit-identical ranks on any engine and any partitioning, and the DuckDB
oracle can replay the exact recurrence:

    base        = (SCALE * 15 // 100) // N
    contrib(u)  = pr_k(u) // outdeg(u)
    pr_{k+1}(v) = base + (85 * sum_{(u,v) in E} contrib(u)) // 100

Scale shape per iteration: edges ⋈ ranks on src (shuffle keyed by node,
uniform), hash-agg on dst — the canonical distributed PageRank step.

Plan diet (round 7, hardened round 8): the degree table is joined into
the edge frame ONCE, before the loop, and the combined (src, dst,
outdeg) frame is repartitioned on src and localCheckpointed. Each
unrolled iteration then reads the checkpointed scan instead of
re-deriving distinct+degree+join from scratch. The pin does NOT carry
hashpartitioning(src) into the loop: with AQE on (the session.py
default) the checkpointed scan reports UnknownPartitioning(0) on Spark
4.1, eager or lazy, with or without a partition count, so every
iteration's join still shuffles the edge frame on src. Only AQE off
keeps the partitioning. This cut the static plan from 85 exchanges / 46
broadcasts (pre-rewrite, PLAN_AUDIT.md r6) to 12 exchanges / 1
broadcast at sf0.001 (regenerated PLAN_AUDIT.md r8); the budget is
CI-locked in tests/test_plan_shapes.py::test_pagerank_plan_budget. The rank agg
keys on dst aliased to node, so iteration k+1's join on node reuses
iteration k's output partitioning — one shuffle per round in steady
state. At higher K, localCheckpoint ranks every few rounds to truncate
lineage (same policy as components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000


def pagerank_fixed(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """PageRank over directed edges (src, dst) for `iterations` rounds.

    Every node must have outdegree ≥ 1 (feed a symmetrized edge set for
    graphs with sinks — dangling-mass redistribution is deliberately out
    of scope to keep the recurrence engine-exact).
    Returns (node, pr) with pr in SCALE fixed-point.
    """
    edges = edges.select("src", "dst").distinct()
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    # Pin (src, dst, outdeg) once: localCheckpoint materializes it and
    # truncates lineage, so every unrolled iteration scans the
    # checkpointed RDD instead of re-deriving distinct+degree+join (same
    # policy as sssp.py/kcore.py). The repartition on src does not
    # survive the pin under AQE (the scan reports UnknownPartitioning,
    # see module docstring): each iteration's join re-shuffles this
    # frame on src.
    edges_deg = (
        edges.join(deg, "src").repartition("src").localCheckpoint(eager=False)
    )
    # r14: localCheckpoint, not persist — persist registers the entry in
    # the plan-keyed CacheManager, so a later pagerank over the same
    # edges silently served this call's node set (cross-run reuse the
    # bench must not get; the kmeans fix, applied here). Identity-keyed
    # checkpoint gives the same within-call reuse for n/count + ranks.
    # r15: both pins LAZY — the mandatory n = nodes.count() driver read
    # below is the materializing action for edges_deg AND nodes in ONE
    # job (was: two eager checkpoint jobs + the count — 3 blocking
    # round-trips at build time, guide §5). Truncation is identical.
    nodes = (
        edges_deg.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    base = (SCALE * 15 // 100) // n

    ranks = nodes.select("node", F.lit(SCALE // n).cast("long").alias("pr"))
    for _ in range(iterations):
        contrib = edges_deg.join(ranks, edges_deg.src == ranks.node).select(
            "dst", F.expr("pr div outdeg").cast("long").alias("contrib")
        )
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(base)
                    + F.expr("85 * sum(contrib) div 100").cast("long")
                ).alias("pr")
            )
        )
    return ranks
