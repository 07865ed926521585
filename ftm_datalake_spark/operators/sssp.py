"""Bounded-round Bellman–Ford single-source shortest paths over a
weighted directed edge list.

Same Pregel-on-relational shape as operators/bfs.py, generalized to
integer edge weights: each round relaxes every edge out of the current
distance table (ONE equi-join + ONE hash-agg on the node key), and
`localCheckpoint` truncates lineage per round. After R rounds the table
holds the exact minimum-weight path using at most R edges — the
recurrence a recursive-CTE oracle replays verbatim.

Determinism: weights and distances are exact BIGINTs and min() is
order-free, so the result is independent of partitioning and engine.

Scale: per-round cost is |frontier ⋈ edges| — the frontier never
materializes more than (node, dist) pairs, and the join key is the edge
source, so a 1000-executor run shuffles each round on a single 8-byte
key. No collect; the round count is a small constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bellman_ford(
    edges: DataFrame,
    seed: int,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """(node, dist) minimum path weight from `seed` using ≤ `rounds`
    edges; nodes unreachable within the bound are absent."""
    spark = edges.sparkSession
    # materialize the edge list once — every round joins against it
    edges = edges.localCheckpoint()
    dist = spark.createDataFrame([(seed, 0)], "node long, dist long")
    for _ in range(rounds):
        step = edges.join(dist, edges[src] == dist["node"]).select(
            F.col(dst).alias("node"),
            (F.col("dist") + F.col(weight)).alias("dist"),
        )
        dist = (
            dist.unionByName(step)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist
