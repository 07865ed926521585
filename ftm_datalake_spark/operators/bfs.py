"""Bounded-depth BFS shortest distances over a directed edge list.

Frontier-style iterative expansion expressed relationally: each round
joins the current distance table to the edge list and keeps the per-node
minimum. Rounds are a driver-side Python loop (like operators/pagerank
and operators/components); each round is ONE equi-join + ONE hash-agg
on the node key, and `localCheckpoint` truncates lineage so the plan
doesn't grow exponentially with depth. At 100 TB this is the textbook
Pregel-on-a-relational-engine shape — per-round cost proportional to
the frontier's edge neighborhood.

Determinism: distances are exact integers and min() is order-free, so
any engine (or a recursive-CTE oracle) reproduces the table exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bfs_distances(
    edges: DataFrame,
    seed: int,
    max_depth: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, dist) for every node reachable from `seed` within
    `max_depth` hops; dist is the exact hop-count minimum."""
    spark = edges.sparkSession
    # materialize the edge list once — every round joins against it, and
    # re-deriving it per round would rescan/rejoin the source tables
    edges = edges.localCheckpoint()
    dist = spark.createDataFrame([(seed, 0)], "node long, dist long")
    for _ in range(max_depth):
        step = (
            edges.join(dist, edges[src] == dist["node"])
            .where(F.col("dist") < max_depth)
            .select(
                F.col(dst).alias("node"), (F.col("dist") + 1).alias("dist")
            )
        )
        dist = (
            dist.unionByName(step)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist
