"""Clustering + semantic-dedup queries over the `embeddings` table.

`embedding_kmeans` runs the deterministic Lloyd k-means from
operators/clustering.py; `semantic_dedup_pairs` is SemDeDup-shaped:
cluster first, then exact cosine near-dup ONLY within clusters — the
blocking step that turns an O(n^2) all-pairs scan into per-cluster
work, which is the 100 TB-sane shape.

The DuckDB oracle unrolls the same iterations (same md5 seeding, same
integer floor-div centroid update, same argmin tie-breaks) so every
intermediate — and therefore the final output — matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.operators import clustering as C
from ftm_datalake_spark.operators.similarity import cosine, int_dot
from ftm_datalake_spark.plans.registry import register
from ftm_datalake_spark.sources.tables import load_table

_K = 4
_ITERS = 2
_DIMS = 64

_QUANT = "CAST(round(CAST({x} AS DOUBLE) * 1000) AS BIGINT)"


def _kmeans_ctes(base: str, k: int = _K, iters: int = _ITERS, dims: int = _DIMS) -> str:
    """CTE chain replaying kmeans(): qv, c0 (seeds), a1/c1 ... a{iters}/c{iters},
    and `afinal` = assignment under the final centroids.

    `base` is any SQL producing (vec_id, embedding).
    """
    parts = [
        f"""qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding, x -> {_QUANT.format(x='x')}) AS q
      FROM ({base})
    )""",
        f"""c0 AS MATERIALIZED (
      SELECT (row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1)
               AS cluster,
             q AS cv
      FROM (SELECT vec_id, q FROM qv
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})
    )""",
    ]

    def assign(name: str, cents: str) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT vec_id, q, cluster FROM (
        SELECT p.vec_id, p.q, s.cluster,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY d.dist, s.cluster) AS rn
        FROM qv p, {cents} s,
             LATERAL (SELECT SUM((p.q[i]-s.cv[i])*(p.q[i]-s.cv[i])) AS dist
                      FROM generate_series(1,{dims}) g(i)) d
      ) WHERE rn = 1
    )"""

    for t in range(1, iters + 1):
        parts.append(assign(f"a{t}", f"c{t-1}"))
        # exact integer floor division: (s - pmod(s, cnt)) / cnt
        parts.append(
            f"""u{t} AS MATERIALIZED (
      SELECT a.cluster, t.i, SUM(t.v) AS s
      FROM a{t} a, LATERAL (SELECT i, a.q[i] AS v
                            FROM generate_series(1,{dims}) g(i)) t
      GROUP BY a.cluster, t.i
    )"""
        )
        parts.append(
            f"""n{t} AS MATERIALIZED (SELECT cluster, COUNT(*) AS cnt FROM a{t} GROUP BY cluster)"""
        )
        parts.append(
            f"""c{t} AS MATERIALIZED (
      SELECT p.cluster, COALESCE(nv.cv, p.cv) AS cv
      FROM c{t-1} p LEFT JOIN (
        SELECT u.cluster,
               list(CAST((u.s - ((u.s % n.cnt + n.cnt) % n.cnt)) / n.cnt AS BIGINT)
                    ORDER BY u.i) AS cv
        FROM u{t} u JOIN n{t} n USING (cluster)
        GROUP BY u.cluster
      ) nv ON nv.cluster = p.cluster
    )"""
        )
    parts.append(assign("afinal", f"c{iters}"))
    return ",\n    ".join(parts)


# --------------------------------------------------------------------------
@register(
    "embedding_kmeans",
    oracle=f"""
    WITH {_kmeans_ctes("SELECT vec_id, embedding FROM embeddings")}
    SELECT a.cluster, COUNT(*) AS n,
           CAST(SUM(a.vec_id) AS BIGINT) AS id_sum,
           MIN(c.cv[1]) AS c0, MIN(c.cv[2]) AS c1,
           MIN(c.cv[3]) AS c2, MIN(c.cv[4]) AS c3
    FROM afinal a JOIN c{_ITERS} c USING (cluster)
    GROUP BY a.cluster
    ORDER BY a.cluster
    """,
    tags=("clustering", "similarity", "bench"),
    bench=True,
    # r14: kmeans materializes the quantized corpus via localCheckpoint
    # (identity-keyed; replaces the CacheManager persist whose
    # plan-keyed entry leaked reuse across bench samples).
    checkpointed=True,
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = C.kmeans(emb, k=_K, iters=_ITERS, dims=_DIMS)
    return C.cluster_profile(assigned, centroids).orderBy("cluster")


# --------------------------------------------------------------------------
# SemDeDup: the corpus plus injected exact duplicates (vec_id % 50 == 0,
# re-keyed +1000000) so the near-dup set is non-trivial; pairs are only
# compared within their final k-means cluster.
_SEM_BASE = """SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding
        FROM embeddings WHERE vec_id % 50 = 0"""


def _sem_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared SemDeDup input: kmeans assignment over corpus+injected
    dups, materialized ONCE with the squared norm precomputed per
    vector.

    r14 (guide §2.4 + §2.3): the assignment subtree
    (scan → quantize → centroid argmin) previously re-ran per consumer
    (both sides of the pair self-join; three consumers in the prune
    summary), and `int_norm2` ran per PAIR instead of per vector —
    two of the three 64-element folds in every pair comparison were
    recomputing a per-vector constant. One localCheckpoint of
    (vec_id, q, n2, cluster) feeds every consumer; callers must be
    registered checkpointed=True."""
    from ftm_datalake_spark.operators.similarity import int_norm2

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "embedding").unionByName(
        emb.where(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    assigned, _ = C.kmeans(base, k=_K, iters=_ITERS, dims=_DIMS)
    return assigned.withColumn("n2", int_norm2(F.col("q"))).localCheckpoint()


def _sem_pairs(spark: SparkSession, assigned: DataFrame) -> DataFrame:
    """Within-cluster candidate pairs with exact integer cosine.

    r14 (guide §2.5): the self-join key `cluster` has only _K=4
    distinct values, so the pair-compare stage — the dominant cost,
    ~n²/(2·_K) interpreted 64-dim dot products — ran on at most _K
    tasks regardless of cluster size (58 s at sf0.1, 4 of 32 cores
    busy). Salting restores parallelism exactly like the flagship's
    salted aggregation: the probe side gets a deterministic salt
    pmod(xxhash64(vec_id), B), the build side is replicated B ways, and
    the join key becomes (cluster, salt) — identical pair set, B× the
    tasks. B adapts to the session's core count (scale-adaptive per the
    optimization rules: at production cluster-counts k is large and B
    degenerates to 1; replication only kicks in when k < cores).

    Both sides are EXPLICITLY repartitioned on the join key before the
    join: AQE coalesces reducer partitions by BYTES, and this stage is
    byte-light but compute-heavy (the first salted attempt measured
    its pair stage coalesced to 2 partitions — all the dot products on
    2 of 32 cores). An explicit user repartition is exempt from AQE
    coalescing, and a join keyed identically with matching partition
    counts reuses it instead of inserting its own exchange (guide
    §2.4)."""
    dp = spark.sparkContext.defaultParallelism
    b_factor = max(1, (8 * dp) // _K)
    n_parts = max(2, 2 * dp)
    a = (
        assigned.select(
            F.col("vec_id").alias("vec_a"),
            F.col("q").alias("qa"),
            F.col("n2").alias("na"),
            "cluster",
        )
        .withColumn(
            "__salt", F.pmod(F.xxhash64(F.col("vec_a")), F.lit(b_factor))
        )
        .repartition(n_parts, "cluster", "__salt")
    )
    b = (
        assigned.select(
            F.col("vec_id").alias("vec_b"),
            F.col("q").alias("qb"),
            F.col("n2").alias("nb"),
            "cluster",
        )
        .withColumn(
            "__salt",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(b_factor - 1))
            ),
        )
        .repartition(n_parts, "cluster", "__salt")
    )
    return (
        a.join(b, ["cluster", "__salt"])
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("dot", int_dot(F.col("qa"), F.col("qb")))
        .withColumn(
            "cosine", cosine(F.col("dot"), F.col("na"), F.col("nb"))
        )
    )


@register(
    "semantic_dedup_pairs",
    oracle=f"""
    WITH {_kmeans_ctes(_SEM_BASE)},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cluster,
             a.q AS qa, b.q AS qb
      FROM afinal a JOIN afinal b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    comp AS (
      -- integer dot products via list_dot_product: every product is
      -- <= (2.1e6)^2 and the 64-term sum stays < 2^53, so the double
      -- accumulator is EXACT (verified equal to the LATERAL form);
      -- ~24x faster than the per-element LATERAL at sf0.1
      SELECT vec_a, vec_b, cluster,
             CAST(list_dot_product(qa, qb) AS BIGINT) AS dot,
             CAST(list_dot_product(qa, qa) AS BIGINT) AS na,
             CAST(list_dot_product(qb, qb) AS BIGINT) AS nb
      FROM pairs
    )
    SELECT vec_a, vec_b, cluster,
           CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             AS cosine
    FROM comp
    WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
            >= 0.999
    ORDER BY vec_a, vec_b
    """,
    tags=("clustering", "dedup", "similarity"),
    checkpointed=True,
)
def semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _sem_pairs(spark, _sem_assigned(spark, sf_dir)).where(
        F.col("cosine") >= 0.999
    )
    return pairs.select("vec_a", "vec_b", "cluster", "cosine").orderBy(
        "vec_a", "vec_b"
    )


@register(
    "semdedup_prune_summary",
    oracle=f"""
    WITH {_kmeans_ctes(_SEM_BASE)},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cluster,
             a.q AS qa, b.q AS qb
      FROM afinal a JOIN afinal b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    comp AS (
      -- integer dot products via list_dot_product: every product is
      -- <= (2.1e6)^2 and the 64-term sum stays < 2^53, so the double
      -- accumulator is EXACT (verified equal to the LATERAL form);
      -- ~24x faster than the per-element LATERAL at sf0.1
      SELECT vec_a, vec_b, cluster,
             CAST(list_dot_product(qa, qb) AS BIGINT) AS dot,
             CAST(list_dot_product(qa, qa) AS BIGINT) AS na,
             CAST(list_dot_product(qb, qb) AS BIGINT) AS nb
      FROM pairs
    ),
    dropped AS (
      SELECT DISTINCT vec_b AS vec_id FROM comp
      WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
              >= 0.999
    )
    SELECT a.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(MIN(CASE WHEN d.vec_id IS NULL THEN a.vec_id END)
                AS BIGINT) AS min_kept_vec_id
    FROM afinal a LEFT JOIN dropped d ON d.vec_id = a.vec_id
    GROUP BY a.cluster
    ORDER BY a.cluster
    """,
    tags=("clustering", "dedup", "similarity"),
    checkpointed=True,
)
def semdedup_prune_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's prune leg (Abbas et al. 2023): within each k-means
    cluster, a vector is DROPPED when a lower-id near-duplicate
    (cosine >= 0.999) exists — keep-lowest-id is the deterministic
    stand-in for SemDeDup's keep-one-per-group. Output is the
    per-cluster retention ledger (n_vectors / n_dropped / n_kept).

    Scale shape: pairs only form within a cluster (the SemDeDup trick
    that makes near-dup pruning tractable at corpus scale); the drop
    set is a cluster-local anti-join, and the summary is one hash-agg
    keyed on the cluster id."""
    assigned = _sem_assigned(spark, sf_dir)
    dropped = (
        _sem_pairs(spark, assigned)
        .where(F.col("cosine") >= 0.999)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        assigned.select("vec_id", "cluster")
        .join(dropped, "vec_id", "left")
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.sum(
                F.when(F.col("is_dropped").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_kept"),
            F.min(F.when(F.col("is_dropped").isNull(), F.col("vec_id")))
            .cast("long")
            .alias("min_kept_vec_id"),
        )
        .orderBy("cluster")
    )
