"""Synchronous label propagation (community detection) in fixed
iterations — the classic LPA of Raghavan et al. 2007, made fully
deterministic so a DuckDB oracle can replay it bit-exact.

Determinism spec (both engines implement exactly this):
- every node starts labeled with its own id (string);
- each iteration, every node simultaneously adopts the label held by
  the plurality of its neighbors, counted over EDGE OCCURRENCES, ties
  broken by the lexicographically smallest label;
- K iterations, synchronous (iteration k reads only labels from k-1).

One plan, one vote per round. The edge list is pinned once; the K
rounds are then one lazy plan that the caller's action runs. A round
joins the labels onto the edge list's src side and takes one
aggregation per dst, ``mode(label, deterministic=True)``: Spark's
deterministic mode is the most frequent value with ties to the lowest,
which is the spec's plurality over edge occurrences with ties to the
smallest label. Nodes with no in-edges never get a vote, so they keep
their own id forever: that ``fixed`` set is unioned onto every round's
votes. Every other node has an in-edge from a labeled node, so each
round's result covers every node and reads the previous labels once.

With one reference to the labels per round the plan grows linearly in
K, by 5 static exchanges per round (measured at K = 1..8; a second
reference per round, such as a keep-old-label join, doubles the plan
every round). The pin does not keep any partitioning: with AQE on (the
session.py default) a checkpointed scan reports UnknownPartitioning(0),
so each round's vote join shuffles the edge list on src — the textbook
Pregel cost, an edge-scale shuffle per iteration, while the labels
frame is node-scale.

The rounds run as one adaptive plan, so its stages must be planned in
the same order on every run: the codegen stage id is part of each
generated class, and a plan whose stages are numbered in a different
order compiles its classes anew. Two things keep that order fixed. The
node set and the ``fixed`` set come from ONE aggregation over the edge
ends (a node is fixed iff no end of it is a dst), so no side branch
finishes at a time of its own. And the vote join is a left join from
the edges, whose build side can only be the labels: under an inner
join AQE broadcasts whichever small side finishes first.

No reference counterpart (the reference has no graph operators); this
completes the graph family next to pagerank/sssp/kcore/triangles/bfs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_propagation(edges: DataFrame, iters: int = 4) -> DataFrame:
    """(node, community) after ``iters`` synchronous LPA rounds over the
    directed edge list ``edges(src, dst)``, both ends non-null.
    Symmetrize before calling for undirected semantics. Nodes with no
    in-edges keep their own id.
    """
    edges = edges.select("src", "dst").localCheckpoint()
    ends = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), F.lit(False).alias("has_in")),
                F.struct(F.col("dst").alias("node"), F.lit(True).alias("has_in")),
            )
        ).alias("e")
    )
    nodes = ends.groupBy(F.col("e.node").alias("node")).agg(
        F.max("e.has_in").alias("has_in")
    )
    fixed = nodes.where(~F.col("has_in")).select("node", F.col("node").alias("label"))
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        # left join: every src holds a label, so the rows are the inner
        # join's, and only the labels side can be broadcast (see above)
        labels = (
            edges.join(labels, edges["src"] == labels["node"], "left")
            .groupBy(edges["dst"].alias("node"))
            .agg(F.mode("label", deterministic=True).alias("label"))
            .unionByName(fixed)
        )
    return labels.select("node", F.col("label").alias("community"))


def community_sizes(assignment: DataFrame) -> DataFrame:
    """(community, size) rollup of a label_propagation assignment."""
    return assignment.groupBy("community").agg(
        F.count("*").cast("long").alias("size")
    )
