#!/usr/bin/env python
"""Interleaved A/B timing harness for round-14 optimization candidates.

Usage: python scripts/ab_r14.py EXPERIMENT [rounds]

Each experiment maps variant names to (spark, sf_dir) -> DataFrame
builders; the harness warms each variant once (plan + JIT), then times
them interleaved (A B A B ...) with the noop sink for `rounds` passes
(default 4) and prints min/median per variant plus a host canary before
and after. Interleaving is the defence against this host's tenancy
noise (canary drift 4-7.5x across a run): both variants see the same
noise windows, so the MIN comparison is meaningful where one-shot
cross-run bench totals are not (guide §1). Not a driver artifact — a
working tool; experiments are edited in place per investigation.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ftm_datalake_spark.session import release_pinned_blocks  # noqa: E402


def _noop(builder, spark, sf_dir) -> float:
    # Time builder + exec, like bench.py does (builder inside the timed
    # region): eager localCheckpoints do their heavy compute at BUILD
    # time, so timing only the noop write would silently exclude a
    # checkpointing variant's main cost and bias every materialization
    # A/B (this bug shipped in the first half of r14 and was caught when
    # bench.py disagreed with the A/B verdicts).
    start = time.perf_counter()
    builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    elapsed = round(time.perf_counter() - start, 3)
    release_pinned_blocks(spark)  # outside the clock; see session.py
    return elapsed


def main() -> None:
    exp_name = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from ftm_datalake_spark.session import build_session, release_pinned_blocks

    spark = build_session(
        app_name=f"ab-r14-{exp_name}",
        master=f"local[{cpus}]",
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    def canary() -> float:
        start = time.perf_counter()
        (
            spark.range(0, 100_000_000, 1, 32)
            .groupBy((F.col("id") % 4096).alias("k"))
            .agg(F.sum(F.hash("id").cast("long")).alias("s"))
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.perf_counter() - start, 3)

    variants = EXPERIMENTS[exp_name]()
    canary()
    c_pre = canary()
    samples: dict[str, list[float]] = {name: [] for name in variants}
    for name, builder in variants.items():  # warm: plan + JIT
        _noop(builder, spark, sf_dir)
    for _ in range(rounds):
        for name, builder in variants.items():
            spark.sparkContext.setJobDescription(f"ab:{exp_name}:{name}")
            samples[name].append(_noop(builder, spark, sf_dir))
    c_post = canary()
    print(f"canary pre={c_pre} post={c_post}")
    for name, vals in samples.items():
        print(
            f"{name}: min={min(vals)} med={statistics.median(vals)} "
            f"samples={vals}"
        )


# --------------------------------------------------------------- experiments


def _exp_er_postings():
    """er_blocked_matches: duplicated postings subtree vs one
    localCheckpoint feeding dfreq + ranked (guide §2.4 shared subtree)."""
    from ftm_datalake_spark.operators.blocking import entity_match
    from ftm_datalake_spark.sources.tables import load_table

    def _variant(materialize):
        def build(spark, sf_dir):
            docs = load_table(spark, sf_dir, "documents")
            return entity_match(
                docs,
                k=2,
                max_block_size=100,
                threshold_pct=80,
                materialize_postings=materialize,
            ).orderBy("doc_a", "doc_b")

        return build

    return {"old_dup_subtree": _variant(False), "new_ckpt": _variant(True)}


def _exp_seg_dedup():
    """dedup_common_segments: duplicated segment subtree vs one
    localCheckpoint feeding the frequency count + reassembly join."""
    from ftm_datalake_spark.operators import textops as X
    from ftm_datalake_spark.sources.tables import load_table

    def _variant(materialize):
        def build(spark, sf_dir):
            docs = load_table(spark, sf_dir, "documents")
            return X.segment_dedup(
                docs, seg_len=8, max_freq=1,
                materialize_segments=materialize,
            ).orderBy("doc_id")

        return build

    return {"old_dup_subtree": _variant(False), "new_ckpt": _variant(True)}


def _exp_semdedup():
    """semantic_dedup_pairs: old (dup'd kmeans-assign subtree, per-pair
    norms, 4-key self-join) vs new (checkpointed assignment + per-vector
    norms + salted join)."""
    from pyspark.sql import functions as F

    from ftm_datalake_spark.operators import clustering as C
    from ftm_datalake_spark.operators.similarity import (
        cosine,
        int_dot,
        int_norm2,
    )
    from ftm_datalake_spark.plans.clustering_ops import (
        _DIMS,
        _ITERS,
        _K,
    )
    from ftm_datalake_spark.plans.registry import REGISTRY
    from ftm_datalake_spark.sources.tables import load_table

    def old(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.select("vec_id", "embedding").unionByName(
            emb.where(F.col("vec_id") % 50 == 0).select(
                (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
            )
        )
        assigned, _ = C.kmeans(base, k=_K, iters=_ITERS, dims=_DIMS)
        a = assigned.select(
            F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), "cluster"
        )
        b = assigned.select(
            F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), "cluster"
        )
        pairs = (
            a.join(b, ["cluster"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .withColumn("dot", int_dot(F.col("qa"), F.col("qb")))
            .withColumn(
                "cosine",
                cosine(
                    F.col("dot"),
                    int_norm2(F.col("qa")),
                    int_norm2(F.col("qb")),
                ),
            )
            .where(F.col("cosine") >= 0.999)
        )
        return pairs.select("vec_a", "vec_b", "cluster", "cosine").orderBy(
            "vec_a", "vec_b"
        )

    def new(spark, sf_dir):
        return REGISTRY["semantic_dedup_pairs"].builder(spark, sf_dir)

    return {"old": old, "new": new}


def _exp_minhash_bands():
    """dedup_minhash_lsh: signature pipeline computed twice (both sides
    of the band self-join) vs one checkpointed band table."""
    from ftm_datalake_spark.operators import dedup as D
    from ftm_datalake_spark.sources.tables import load_table

    def _variant(materialize):
        def build(spark, sf_dir):
            docs = load_table(spark, sf_dir, "documents")
            return D.minhash_lsh_pairs(
                D.shingle_postings(docs), materialize_bands=materialize
            ).orderBy("doc_a", "doc_b")

        return build

    return {"old_dup_subtree": _variant(False), "new_ckpt": _variant(True)}


EXPERIMENTS = {
    "er_postings": _exp_er_postings,
    "seg_dedup": _exp_seg_dedup,
    "semdedup": _exp_semdedup,
    "minhash_bands": _exp_minhash_bands,
}


if __name__ == "__main__":
    main()
