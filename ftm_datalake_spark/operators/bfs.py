"""Bounded-depth BFS shortest distances over a directed edge list.

Frontier-style iterative expansion expressed relationally: the edge
list is pinned once, and the rounds are then one lazy plan that the
caller's action runs. Each round reads the distance table once: ONE
left equi-join of the distances onto the edge list's src, an explode
of each row into the kept ``(node, dist)`` and the relaxed
``(dst, dist + 1)``, and ONE min hash-agg on the node key. With a
single reference to the distances per round the plan grows linearly
with depth, by 2 static exchanges per round (a
``dist.unionByName(step)`` round references it twice and doubles the
plan every round), so no per-round pin is needed. At
100 TB this is the textbook Pregel-on-a-relational-engine shape —
per-round cost proportional to the frontier's edge neighborhood.

Rounds need no depth filter: before round i every distance is at most
i, which is below ``max_depth``.

Determinism: distances are exact integers and min() is order-free, so
any engine (or a recursive-CTE oracle) reproduces the table exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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
    edges = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint()
    dist = spark.createDataFrame([(seed, 0)], "node long, dist long")
    for _ in range(max_depth):
        dist = relax_round(dist, edges, F.lit(1))
    return dist


def relax_round(dist: DataFrame, edges: DataFrame, step: Column) -> DataFrame:
    """One synchronous relaxation of ``dist(node, dist)`` over
    ``edges(src, dst, ...)``: every node keeps its distance, and every
    edge out of a node offers ``dist + step`` to its ``dst``; the
    per-node minimum wins. ``step`` is an expression over the edge
    columns. ``dist`` is read once. Columns are addressed by name: from
    the second round on, ``dist`` holds ``edges`` in its lineage, so the
    join re-aliases the right side and a column object of ``edges``
    would no longer resolve."""
    kept = F.struct("node", "dist")
    # a node without out-edges joins to a null src and offers nothing
    relaxed = F.when(
        F.col("src").isNotNull(),
        F.struct(F.col("dst").alias("node"), (F.col("dist") + step).alias("dist")),
    )
    return (
        dist.join(edges, F.col("node") == F.col("src"), "left")
        .select(F.explode(F.array(kept, relaxed)).alias("r"))
        .where(F.col("r").isNotNull())
        .groupBy(F.col("r.node").alias("node"))
        .agg(F.min("r.dist").alias("dist"))
    )
