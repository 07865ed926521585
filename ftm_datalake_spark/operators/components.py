"""Connected components over candidate-pair edges: dedup families and
entity canonicalization.

MinHash/embedding candidate pairs form an undirected graph; a duplicate
*family* is a connected component, and the canonical representative is
the minimum id in the component (exactly how FTM canonical_ids collapse
merged entities). Implemented as iterative min-label propagation —
each round is one join + one aggregation, converging in O(diameter)
rounds; intermediate frames are localCheckpointed to truncate lineage.

At 100 TB this is the standard large-star/small-star regime; the
propagation join is an equi-join on node id, AQE-skew-safe."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`; component =
    min node id reachable. Deterministic for any input order."""
    # One checkpoint of the raw pairs, THEN the direction flip: the old
    # union referenced the upstream (often expensive) edge plan twice
    # inside a single job (r14, guide §1.2).
    base = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()
    both = base.unionByName(
        base.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    both = both.distinct().localCheckpoint()

    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            both.join(labels, both.b == labels.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
                (
                    F.coalesce(F.col("nbr_component"), F.col("component"))
                    < F.col("component")
                ).alias("changed"),
            )
        ).localCheckpoint()
        n_changed = updated.where(F.col("changed")).count()
        labels = updated.drop("changed")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter too large) — raise max_iterations; "
            "returning partial labels would silently split components"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 25,
    return_rounds: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """(node, component) via alternating large-star / small-star rounds —
    the two-phase MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Each round halves long chains instead of advancing the min label one
    hop, so convergence is O(log diameter) rounds vs O(diameter) for plain
    min-label propagation — a 64-node chain converges in ~6 rounds instead
    of 63. Every phase is one groupBy(node) + one equi-join, both keyed by
    node id (AQE-skew-safe); per-round driver sync is a 2-value aggregate
    (count + checksum) for the convergence test."""
    # Materialize the upstream pipeline ONCE (r14, guide §1.2/§2.4):
    # `nodes` and `e` previously each carried their own
    # localCheckpoint, so the (often expensive) edge-producing plan —
    # e.g. er_golden_record's full entity_match — executed twice before
    # the first CC round. One narrow (src, dst) checkpoint feeds both;
    # the node set and edge canonicalization are cheap projections of it.
    base = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint()
    nodes = (
        base.select(F.col("a").alias("node"))
        .unionByName(base.select(F.col("b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = (
        base.select(
            F.greatest(F.col("a"), F.col("b")).alias("u"),
            F.least(F.col("a"), F.col("b")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _signature(df: DataFrame) -> tuple[int, int]:
        # bit_xor: order-independent and overflow-free (edge sets are
        # distinct, so xor-cancellation of duplicates cannot occur)
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("chk"),
        ).first()
        return row["n"], row["chk"]

    # r15: no pre-loop signature job — `sig` starts as a sentinel, so
    # the first convergence test happens after round 1 (the graph is
    # virtually never already a star forest, and when it is, one extra
    # idempotent round costs less than an unconditional extra driver
    # job on every call).
    sig: tuple[int, int] | None = None
    rounds = 0
    for _ in range(max_iterations):
        # Large-star: every node links its LARGER neighbors to the min of
        # its neighborhood (incl. itself). Output edges stay (larger,
        # smaller) by construction: w > u >= m.
        # r15 (guide §2.4): ONE explicit repartition on the phase key
        # feeds both the min-aggregate and the join probe — before,
        # bidir was shuffled twice (once into the groupBy, once into
        # the join's build of the same key), 6 exchanges per round;
        # after, 4.
        bidir = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition("u")
        nbr_min = bidir.groupBy("u").agg(F.min("v").alias("mn"))
        large = (
            bidir.join(nbr_min, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("mn"), F.col("u")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            .repartition("u")  # shared by the m2 aggregate + its join
        )
        # Small-star: every node links its smaller-or-equal neighborhood
        # (and itself) to that neighborhood's min.
        m2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            large.join(m2, "u")
            .select(F.col("v").alias("a"), F.col("mn").alias("b"))
            .unionByName(m2.select(F.col("u").alias("a"), F.col("mn").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(
                F.greatest(F.col("a"), F.col("b")).alias("u"),
                F.least(F.col("a"), F.col("b")).alias("v"),
            )
            .distinct()
            .localCheckpoint()
        )
        rounds += 1
        new_sig = _signature(small)
        e = small
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "rounds — raise max_iterations"
        )
    labels = nodes.join(e, nodes.node == e.u, "left").select(
        "node", F.coalesce(F.col("v"), F.col("node")).alias("component")
    )
    return (labels, rounds) if return_rounds else labels


def dedup_families(pairs: DataFrame) -> DataFrame:
    """Candidate pairs → (doc_id, family) with min-id canonical labels.

    Uses the large-star/small-star algorithm (log-round convergence); the
    plain propagation variant stays available as `connected_components`."""
    return connected_components_star(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("family")
    )
