"""Laws for synchronous label propagation (operators/labelprop.py).

Hand-built graphs with known answers cover the spec's corners (ties,
duplicate edges, nodes with no in-edges); a seeded random-graph law
checks the operator against the spec's two-level formula — per-(dst,
label) edge counts, then the arg-max per dst with ties to the smallest
label, and a node without a vote keeping its previous label — written
out below as the reference."""

from __future__ import annotations

import random
from collections import Counter

from pyspark.sql import functions as F

from ftm_datalake_spark.operators.labelprop import (
    community_sizes,
    label_propagation,
)


def _sym_edges(spark, pairs):
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src string, dst string")


def test_lpa_two_cliques_converge_to_two_communities(spark):
    # Two triangles joined by nothing: each converges to its own min id.
    e = _sym_edges(
        spark, [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z")]
    )
    got = {r["node"]: r["community"] for r in label_propagation(e, iters=4).collect()}
    assert {got["a"], got["b"], got["c"]} == {"a"}
    assert {got["x"], got["y"], got["z"]} == {"x"}


def test_lpa_tie_breaks_to_smallest_label(spark):
    # Star center "m" sees neighbors {"a","z"} once each after round 1
    # (both still hold their own labels) — the tie must go to "a".
    e = _sym_edges(spark, [("m", "a"), ("m", "z")])
    got = {r["node"]: r["community"] for r in label_propagation(e, iters=1).collect()}
    assert got["m"] == "a"


def test_lpa_isolated_node_keeps_own_label(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    # "b" has an in-edge; "a" does not (directed) — "a" keeps itself.
    got = {r["node"]: r["community"] for r in label_propagation(edges, iters=2).collect()}
    assert got["a"] == "a"
    assert got["b"] == "a"


def test_lpa_plurality_counts_edge_occurrences(spark):
    # Duplicate edges count as separate votes: "t" sees label "z" twice
    # and "a" once — plurality picks "z" even though the tie-break
    # alone would have picked "a".
    rows = [("z", "t"), ("z", "t"), ("a", "t")]
    edges = spark.createDataFrame(rows, "src string, dst string")
    got = {r["node"]: r["community"] for r in label_propagation(edges, iters=1).collect()}
    assert got["t"] == "z"


def test_lpa_community_sizes_rollup(spark):
    e = _sym_edges(spark, [("a", "b"), ("x", "y")])
    sizes = {
        r["community"]: r["size"]
        for r in community_sizes(label_propagation(e, iters=4)).collect()
    }
    assert sum(sizes.values()) == 4


def test_lpa_partitioning_independent(spark):
    """The determinism spec promises the same communities regardless of
    physical layout — run the same graph at 1 and 13 partitions."""
    import random

    rng = random.Random(9)
    pairs = [
        (f"n{rng.randrange(30):02d}", f"n{rng.randrange(30):02d}")
        for _ in range(80)
    ]
    rows = [(a, b) for a, b in pairs if a != b]
    rows = rows + [(b, a) for a, b in rows]
    e1 = spark.createDataFrame(rows, "src string, dst string").coalesce(1)
    e13 = spark.createDataFrame(rows, "src string, dst string").repartition(13)
    r1 = sorted(map(tuple, label_propagation(e1, iters=3).collect()))
    r13 = sorted(map(tuple, label_propagation(e13, iters=3).collect()))
    assert r1 == r13


# ids mix ASCII, Latin-1 and CJK, so ties compare multi-byte strings
_NAMES = ["a", "b", "z", "A", "0", "aa", "é", "ß", "ü", "日本"]


def _spec_lpa(edges, iters):
    """The determinism spec as a two-level aggregation: count votes per
    (dst, label), take ``min(struct(-cnt, label))`` per dst, and let a
    node with no vote keep its previous label. ``labels`` feeds both the
    vote join and the keep-old join, so each round is pinned."""
    edges = edges.select("src", "dst").localCheckpoint()
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
        winner = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label"))).alias("w")
        ).select("node", F.col("w.label").alias("label"))
        labels = (
            labels.select("node", F.col("label").alias("prev"))
            .join(winner, "node", "left")
            .select("node", F.coalesce("label", "prev").alias("label"))
            .localCheckpoint()
        )
    return labels.select("node", F.col("label").alias("community"))


def _random_graphs(n_graphs):
    """Edge rows of ``n_graphs`` seeded random directed graphs, each
    graph's ids prefixed with its seed. The graphs share no node, so
    label propagation over their union is the union of the runs over
    each graph: labels never leave a graph, and within one graph every
    label carries the same prefix, so ties order as they would alone."""
    rows = []
    for seed in range(n_graphs):
        rng = random.Random(seed)
        ids = [f"g{seed:02d}:{rng.choice(_NAMES)}{i}" for i in range(rng.randrange(2, 25))]
        edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(rng.randrange(1, 60))]
        rows += edges + edges[: rng.randrange(0, 5)]
    return rows


def _has_round_one_tie(rows):
    """True iff two srcs share the top edge count into some node, so
    its first-round vote is a tie."""
    votes = {}
    for s, d in rows:
        votes.setdefault(d, Counter())[s] += 1
    return any(list(c.values()).count(max(c.values())) > 1 for c in votes.values())


def test_lpa_equals_two_level_spec_on_random_graphs(spark):
    rows = _random_graphs(40)
    # the cases the law must exercise
    assert any(s == d for s, d in rows), "no self-loop"
    assert len(set(rows)) < len(rows), "no duplicate edge"
    assert {s for s, _ in rows} - {d for _, d in rows}, "no node without in-edges"
    assert any(not s.isascii() for s, _ in rows), "no non-ASCII id"
    assert _has_round_one_tie(rows), "no tied vote"
    edges = spark.createDataFrame(rows, "src string, dst string")
    for iters in (0, 1, 3, 4):
        got = sorted(map(tuple, label_propagation(edges, iters).collect()))
        want = sorted(map(tuple, _spec_lpa(edges, iters).collect()))
        assert got == want, f"iters={iters}"
