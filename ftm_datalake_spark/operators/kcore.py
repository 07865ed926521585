"""Bounded-round k-core peeling over an undirected edge list.

The k-core of a graph is the maximal subgraph where every node has
degree ≥ k. The standard algorithm peels iteratively: drop nodes whose
CURRENT degree is < k, recompute degrees on the induced subgraph,
repeat. Each peel round here is ONE hash-agg (degree count) + ONE
semi-join pair (keep edges whose both endpoints survive) — the
relational Pregel shape shared with operators/bfs.py / pagerank.py.
A fixed round budget keeps the oracle expressible as unrolled CTEs;
real deployments loop until a round removes nothing (the fixed bound
is an upper cut, and convergence-within-budget is asserted by tests
on the query's graph).

Determinism: degrees are exact integer counts and the peel predicate
is pointwise, so the surviving edge set is engine/partitioning
independent.

Scale: per-round cost is |edges| with shuffles only on the 8-byte node
key; the edge table shrinks monotonically across rounds. No collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _degrees(edges: DataFrame) -> DataFrame:
    """Node degrees of an undirected graph given one row per direction."""
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
) -> DataFrame:
    """(node, deg) for nodes surviving `rounds` peels at threshold `k`.

    `edges` must hold BOTH directions of each undirected edge
    (src, dst). `deg` is the degree in the induced subgraph after the
    final peel.
    """
    # the edge frame feeds the first peel three times (degree agg and
    # both semi-joins): pin it so the upstream runs once
    edges = edges.localCheckpoint()
    for _ in range(rounds):
        keep = _degrees(edges).where(F.col("deg") >= k).select("node")
        edges = (
            edges.join(
                keep.withColumnRenamed("node", "src"), "src", "semi"
            )
            .join(keep.withColumnRenamed("node", "dst"), "dst", "semi")
            .select("src", "dst")
            .localCheckpoint()
        )
    return _degrees(edges)
