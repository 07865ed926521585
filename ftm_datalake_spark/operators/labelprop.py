"""Synchronous label propagation (community detection) in fixed
iterations — the classic LPA of Raghavan et al. 2007, made fully
deterministic so a DuckDB oracle can replay it bit-exact.

Determinism spec (both engines implement exactly this):
- every node starts labeled with its own id (string);
- each iteration, every node simultaneously adopts the label held by
  the plurality of its neighbors, counted over EDGE OCCURRENCES, ties
  broken by the lexicographically smallest label;
- K iterations, synchronous (iteration k reads only labels from k-1).

Scale shape: per iteration one hash join (labels onto the edge list's
src side) and one two-level aggregation — partial counts per
(dst, label), then an exact arg-max per dst via ``min(struct(-cnt,
label))`` so no window/sort is needed. The labels frame is node-scale
(≪ edge-scale); at 100 TB edge lists the join shuffles edges once per
iteration on src, which is the textbook Pregel cost.

Plan diet (mirrors operators/pagerank.py round-7/8 hardening): the
edge frame is repartitioned on src and localCheckpointed ONCE before
the loop, so rounds scan the pin instead of the source. The pin does
not keep hashpartitioning(src): with AQE on (the session.py default)
the checkpointed scan reports UnknownPartitioning(0), so each round's
vote join re-shuffles the edge list on src (see operators/pagerank.py).
The node-scale labels frame is localCheckpointed every round — labels
feeds BOTH the vote join and the keep-old-label fallback, so without
the per-round pin the lineage doubles each iteration (measured: 116
static exchanges for K=4 un-pinned vs ~6 pinned). Per-round
materialization of a node-scale frame is the standard Pregel superstep
barrier.

No reference counterpart (the reference has no graph operators); this
completes the graph family next to pagerank/sssp/kcore/triangles/bfs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """(node, community) after ``iters`` synchronous LPA rounds over the
    directed edge list ``edges(src, dst)``. Symmetrize before calling
    for undirected semantics. Nodes with no in-edges keep their own id.
    """
    edges = edges.select("src", "dst").repartition("src").localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint()
    for _ in range(iters):
        votes = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(edges["dst"].alias("node"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        winner = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label"))
        )
        # isolated / no-in-edge nodes keep their previous label; the
        # per-round pin stops labels' double-reference from doubling
        # the lineage every iteration (see module docstring).
        labels = (
            labels.select("node", F.col("label").alias("prev"))
            .join(winner, "node", "left")
            .select(
                "node", F.coalesce(F.col("label"), F.col("prev")).alias("label")
            )
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").alias("community"))


def community_sizes(assignment: DataFrame) -> DataFrame:
    """(community, size) rollup of a label_propagation assignment."""
    return assignment.groupBy("community").agg(
        F.count("*").cast("long").alias("size")
    )
