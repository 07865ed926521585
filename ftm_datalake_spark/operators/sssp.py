"""Bounded-round Bellman–Ford single-source shortest paths over a
weighted directed edge list.

Same Pregel-on-relational shape as operators/bfs.py, generalized to
integer edge weights: the edge list is pinned once, and each round is
``bfs.relax_round`` with the edge weight as the step — it relaxes every
edge out of the current distance table and reads that table once (ONE
left equi-join + ONE min hash-agg on the node key), so the rounds are
one plan that grows linearly with R and needs no per-round pin. After
R rounds the table holds the exact minimum-weight path using at most R
edges — the recurrence a recursive-CTE oracle replays verbatim.

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

from ftm_datalake_spark.operators.bfs import relax_round


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
    edges = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).localCheckpoint()
    dist = spark.createDataFrame([(seed, 0)], "node long, dist long")
    for _ in range(rounds):
        dist = relax_round(dist, edges, F.col("w"))
    return dist
