"""Similarity search over embedding columns.

Cross-engine determinism trick: embeddings are quantized to integers
(round(x*1000)) before any arithmetic. Dot products and norms are then
*exact* 64-bit integer sums (order-independent), and the final
cosine = dot / sqrt(na*nb) is a single deterministic IEEE expression —
so Spark and a SQL oracle agree bit-for-bit, and results are stable
across partitionings/cluster sizes.

Scale design:
- Brute-force top-k broadcasts the (small) query set against the corpus:
  one pass, no shuffle of the corpus, embarrassingly parallel.
- The sign-LSH variant buckets vectors by sign bits of leading dims, so
  candidate generation is an equi-join on bucket — the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quantize(emb: Column, scale: int = 1000) -> Column:
    """float array → exact integer array (round(x*scale))."""
    return F.transform(
        emb, lambda x: F.round(x.cast("double") * scale).cast("long")
    )


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def int_norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine(dot: Column, norm2_a: Column, norm2_b: Column) -> Column:
    return dot.cast("double") / F.sqrt(
        norm2_a.cast("double") * norm2_b.cast("double")
    )


def _with_quantized(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    q = quantize(F.col(emb_col))
    return df.withColumn("q", q).withColumn("norm2", int_norm2(F.col("q")))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus scan.

    Output: (qid, nid, rank, cosine)."""
    corpus = _with_quantized(embeddings, emb_col).select(
        F.col(id_col).alias("nid"), F.col("q").alias("nq"), F.col("norm2").alias("nn")
    )
    qs = _with_quantized(queries, emb_col).select(
        F.col(id_col).alias("qid"), F.col("q").alias("qq"), F.col("norm2").alias("qn")
    )
    scored = (
        corpus.join(F.broadcast(qs), F.col("nid") != F.col("qid"))
        .withColumn("dot", int_dot(F.col("qq"), F.col("nq")))
        .withColumn("cosine", cosine(F.col("dot"), F.col("qn"), F.col("nn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def hard_negative_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the top-k most-cosine-similar corpus vectors whose LABEL DIFFERS
    from the query's — the vectors a contrastive loss most needs to see.

    Same scale shape as brute_force_topk (broadcast query set × one
    corpus scan; the label inequality rides the broadcast join
    condition, so mismatched-label pairs are dropped before scoring
    ever shuffles). Output: (qid, nid, rank, cosine)."""
    corpus = _with_quantized(embeddings, emb_col).select(
        F.col(id_col).alias("nid"),
        F.col("q").alias("nq"),
        F.col("norm2").alias("nn"),
        F.col(label_col).alias("nlabel"),
    )
    qs = _with_quantized(queries, emb_col).select(
        F.col(id_col).alias("qid"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qn"),
        F.col(label_col).alias("qlabel"),
    )
    scored = (
        corpus.join(
            F.broadcast(qs),
            (F.col("nid") != F.col("qid"))
            & (F.col("nlabel") != F.col("qlabel")),
        )
        .withColumn("dot", int_dot(F.col("qq"), F.col("nq")))
        .withColumn("cosine", cosine(F.col("dot"), F.col("qn"), F.col("nn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def vectorized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow-vectorized brute-force top-k: numpy matmul inside mapInPandas.

    Same integer-quantization math as brute_force_topk (int64 matmul is
    exact, so cosines are bit-identical to the Column-expression path),
    but each Arrow batch does ONE (batch × dims) @ (dims × n_queries)
    multiply instead of per-row fold evaluation — the fast path when the
    query set fits in memory and dims are wide."""
    import numpy as np
    import pandas as pd

    id_type = embeddings.schema[id_col].dataType
    q_rows = queries.select(id_col, emb_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows], dtype=object)
    def _quant(mat: "np.ndarray") -> "np.ndarray":
        # round half AWAY from zero, matching Spark/DuckDB round()
        # (np.rint rounds half to even)
        scaled = mat * 1000
        return np.where(
            scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
        ).astype(np.int64)

    q_mat = _quant(np.array([r[emb_col] for r in q_rows], dtype=np.float64))
    q_norm2 = (q_mat * q_mat).sum(axis=1)

    # id columns keep the corpus id type (bigint vec_ids, string doc ids…)
    out_schema = T.StructType(
        [
            T.StructField("qid", id_type),
            T.StructField("nid", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            scaled = np.array(list(pdf[emb_col]), dtype=np.float64) * 1000
            n_mat = np.where(
                scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
            ).astype(np.int64)
            n_ids = pdf[id_col].to_numpy(dtype=object)
            n_norm2 = (n_mat * n_mat).sum(axis=1)
            dots = n_mat @ q_mat.T  # exact int64
            cos = dots / np.sqrt(
                n_norm2[:, None].astype(np.float64) * q_norm2[None, :]
            )
            rows = {
                "qid": np.repeat(q_ids[None, :], len(n_ids), 0).ravel(),
                "nid": np.repeat(n_ids[:, None], len(q_ids), 1).ravel(),
                "cosine": cos.ravel(),
            }
            yield pd.DataFrame(rows)

    scored = (
        embeddings.select(id_col, emb_col)
        .mapInPandas(score, out_schema)
        .where(F.col("nid") != F.col("qid"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def sign_lsh_bucket(q: Column, n_bits: int = 8, stride: int = 1) -> Column:
    """Bucket key from the sign pattern of `n_bits` quantized dims.

    Sizing rule: pick n_bits ≈ log2(corpus_size / target_bucket_rows) —
    2^8 buckets suit the test corpus (~500 vectors); a 1e9-vector corpus
    wanting ~1e4-row buckets needs n_bits ≈ 17. `stride > 1` spreads the
    sampled dims across the vector (dims i, i+stride, ...) so the bits
    decorrelate when leading dimensions dominate (e.g. PCA-rotated
    embeddings); the random-hyperplane generalization is the same
    expression over pre-rotated vectors."""
    idx = F.sequence(F.lit(0), F.lit((n_bits - 1) * stride), F.lit(stride))
    # F.get is 0-based and NULL-safe out of bounds (ANSI-mode friendly for
    # vectors shorter than the sampled index range; NULL folds to "0").
    bits = F.transform(
        idx,
        lambda i: F.when(F.get(q, i) >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_bits: int = 8,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    The bucket equi-join replaces the cross join — at 100 TB the corpus
    shuffles once by bucket and each query only scans its bucket."""
    corpus = _with_quantized(embeddings, emb_col).select(
        F.col(id_col).alias("nid"),
        F.col("q").alias("nq"),
        F.col("norm2").alias("nn"),
        sign_lsh_bucket(F.col("q"), n_bits).alias("bucket"),
    )
    qs = _with_quantized(queries, emb_col).select(
        F.col(id_col).alias("qid"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qn"),
        sign_lsh_bucket(F.col("q"), n_bits).alias("bucket"),
    )
    scored = (
        corpus.join(F.broadcast(qs), "bucket")
        .where(F.col("nid") != F.col("qid"))
        .withColumn("dot", int_dot(F.col("qq"), F.col("nq")))
        .withColumn("cosine", cosine(F.col("dot"), F.col("qn"), F.col("nn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def near_dup_pairs(
    embeddings: DataFrame,
    threshold_num: int = 999,
    threshold_den: int = 1000,
    block_col: str = "label",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 8,
) -> DataFrame:
    """Embedding near-duplicates within blocks (e.g. same label/cluster).

    Blocking key is COMPOUND: (block, sign-LSH bucket). A primary block
    alone is unbounded — one dominant label makes the within-block
    all-pairs join quadratic; the sign bucket splits every block into
    ≤2^n_bits cells by construction, so block size is bounded regardless
    of the label distribution. Near-identical vectors (cos ≥ 0.999)
    share their leading sign pattern except at hard-zero boundaries, so
    recall loss is negligible at dedup thresholds.

    The threshold test is cos >= num/den evaluated in doubles derived
    from exact ints, so it is still engine-deterministic."""
    q = _with_quantized(embeddings, emb_col).select(
        F.col(id_col).alias("vid"),
        F.col(block_col).alias("block"),
        sign_lsh_bucket(F.col("q"), n_bits).alias("bucket"),
        "q",
        "norm2",
    )
    a = q.alias("a")
    b = q.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block") == F.col("b.block"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vid") < F.col("b.vid")),
    ).select(
        F.col("a.vid").alias("vec_a"),
        F.col("b.vid").alias("vec_b"),
        int_dot(F.col("a.q"), F.col("b.q")).alias("dot"),
        F.col("a.norm2").alias("na"),
        F.col("b.norm2").alias("nb"),
    )
    cos = cosine(F.col("dot"), F.col("na"), F.col("nb"))
    return pairs.withColumn("cosine", cos).where(
        F.col("cosine") >= threshold_num / threshold_den
    ).select("vec_a", "vec_b", "cosine")


def ivf_centroids(
    embeddings: DataFrame,
    cluster_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: one integer centroid per cluster.

    Centroid components are round(sum/n) of the quantized vectors —
    integers, so centroid assignment (max integer-dot cosine) is exactly
    reproducible on any engine. The cluster column stands in for an
    externally trained k-means assignment (label = cluster in testdata);
    re-training would only change this frame, not the probe plan."""
    # r14 (guide §1.2 per-task work): per-dimension sums via posexplode +
    # (cluster, pos) hash-agg instead of `dims` separate sum(element_at)
    # columns — the same fix clustering.kmeans documents (a 64-column
    # agg costs ~1 s of analysis/codegen per invocation), and it drops
    # the eager `dims` probe job entirely. The explosion collapses
    # map-side (each task emits at most k*dims partial rows); the
    # second exchange regrouping (cluster, pos) → cluster moves k*dims
    # rows — negligible. round(s/n) is the same expression as before,
    # so centroids are bit-identical.
    q = quantize(F.col(emb_col))
    stats = (
        embeddings.select(
            F.col(cluster_col).alias("cluster"),
            F.posexplode(q).alias("pos", "v"),
        )
        .groupBy("cluster", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )
    return (
        stats.groupBy("cluster")
        .agg(
            F.max("n").alias("n"),
            F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("__ps"),
        )
        .select(
            "cluster",
            F.transform(
                "__ps", lambda x: F.round(x["s"] / F.col("n")).cast("long")
            ).alias("cq"),
            "n",
        )
    )


def _assign_to_centroid(
    vectors: DataFrame, centroids: DataFrame, nprobe: int = 1
) -> DataFrame:
    """`nprobe` nearest centroids per vector by integer-quantized cosine
    (tie-break: lowest cluster id). nprobe=1 = hard assignment (corpus
    side); nprobe>1 = multi-probe (query side) — recall recovery for
    vectors near a Voronoi boundary."""
    cent = centroids.withColumn("cn", int_norm2(F.col("cq")))
    scored = vectors.crossJoin(F.broadcast(cent)).withColumn(
        "ccos",
        cosine(int_dot(F.col("q"), F.col("cq")), F.col("norm2"), F.col("cn")),
    )
    w = Window.partitionBy("vid").orderBy(F.col("ccos").desc(), F.col("cluster"))
    return (
        scored.withColumn("crn", F.row_number().over(w))
        .where(F.col("crn") <= nprobe)
        .drop("crn", "ccos", "cq", "cn")
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """IVF probe: assign corpus to its nearest centroid, queries to their
    `nprobe` nearest, search only the probed inverted lists.

    At 100 TB the corpus assignment is a one-off write partitioned by
    cluster; each query then scans `nprobe` partitions — the same
    partition-pruning story as the reference's dataset prefixes. Corpus
    lists are disjoint (hard assignment), so multi-probe results need no
    dedup: a (query, neighbor) pair can only arise from one list."""
    # r14 (guide §2.4): the centroid aggregate is consumed by BOTH the
    # corpus and the query assignment, and Spark executes a shared
    # subtree once per consumer — each probe re-scanned and re-agg'd
    # the corpus to rebuild the same k-row centroid table. One
    # localCheckpoint (k rows) feeds both broadcasts; registry callers
    # must be tagged checkpointed=True.
    cents = ivf_centroids(embeddings, cluster_col, emb_col).localCheckpoint()
    corpus = _with_quantized(embeddings, emb_col).select(
        F.col(id_col).alias("vid"), "q", "norm2"
    )
    corpus_assigned = _assign_to_centroid(corpus, cents).select(
        F.col("vid").alias("nid"),
        F.col("q").alias("nq"),
        F.col("norm2").alias("nn"),
        F.col("cluster"),
    )
    qs = _with_quantized(queries, emb_col).select(
        F.col(id_col).alias("vid"), "q", "norm2"
    )
    qs_assigned = _assign_to_centroid(qs, cents, nprobe=nprobe).select(
        F.col("vid").alias("qid"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qn"),
        F.col("cluster"),
    )
    scored = (
        corpus_assigned.join(F.broadcast(qs_assigned), "cluster")
        .where(F.col("nid") != F.col("qid"))
        .withColumn("dot", int_dot(F.col("qq"), F.col("nq")))
        .withColumn("cosine", cosine(F.col("dot"), F.col("qn"), F.col("nn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "cosine")
    )


def label_centroids(
    embeddings: DataFrame,
    dims: int = 4,
    emb_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of the leading dims (exact int sums / count)."""
    q = quantize(F.col(emb_col))
    cols = [F.element_at(q, i + 1).alias(f"q{i}") for i in range(dims)]
    agged = (
        embeddings.select(F.col(label_col).alias("label"), *cols)
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            *[F.sum(f"q{i}").alias(f"s{i}") for i in range(dims)],
        )
    )
    return agged.select(
        "label",
        "n",
        *[
            (F.col(f"s{i}").cast("double") / F.col("n")).alias(f"c{i}")
            for i in range(dims)
        ],
    )


def _pq_subdist_sql(codebook, s: int, c: int, sub: int) -> str:
    """SQL for the exact integer L2² between the `q` column's s-th
    subvector and codebook entry (c, s).

    r14 (guide §1, the random_projection finding): the Column-API form
    — an F.array of `sub` F.lit(...).cast(...) literals plus
    zip_with/aggregate per (s, c) combination — issued hundreds of py4j
    round-trips per PQ plan and dominated the ADC queries' build time;
    the SAME expressions rendered as one SQL string parse JVM-side in
    a single call. Arithmetic is unchanged: identical fold order,
    identical casts."""
    ref = ", ".join(f"{int(v)}L" for v in codebook[c][s])
    return (
        f"aggregate(zip_with(slice(q, {s * sub + 1}, {sub}), array({ref}), "
        "(x, y) -> (x - y) * (x - y)), cast(0 as bigint), "
        "(acc, v) -> acc + v)"
    )


def _pq_code_col(codebook, s: int, sub: int, codebook_size: int) -> Column:
    """argmin-by-(distance, code-id) PQ code for subspace s (exact
    struct-min, the same tie-break as the oracle)."""
    structs = ", ".join(
        f"struct({_pq_subdist_sql(codebook, s, c, sub)} as d, "
        f"cast({c} as int) as c)"
        for c in range(codebook_size)
    )
    return F.expr(f"array_min(array({structs})).c")


def _pq_dtab_col(codebook, s: int, sub: int, codebook_size: int) -> Column:
    """Per-row ADC lookup table for subspace s: [d(q_s, entry_0), ...]."""
    return F.expr(
        "array("
        + ", ".join(
            _pq_subdist_sql(codebook, s, c, sub)
            for c in range(codebook_size)
        )
        + ")"
    )


def pq_encode_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subspaces: int = 4,
    codebook_size: int = 4,
    dims: int = 64,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (ADC).

    The corpus compresses to n_subspaces × log2(codebook_size) bits per
    vector (here 4×2 = ONE BYTE instead of 64 floats): each 16-dim
    subvector is replaced by the id of its nearest codebook entry.
    Queries stay full-precision; distance is the ADC sum of per-subspace
    lookup-table entries — the IVF-PQ building block every large-scale
    vector index uses.

    Codebooks here are md5-order seed vectors (no Lloyd refinement):
    the encode/ADC mechanics are identical to a trained PQ, and the
    whole pipeline stays exactly integer-replayable by a SQL oracle
    (quantized ints, argmin with id tiebreak, exact integer sums).
    Scale shape: codebooks are literals (driver-held, k×dims ints);
    encoding is a zero-shuffle map; the query×corpus scoring broadcasts
    the (tiny) query ADC tables.
    """
    sub = dims // n_subspaces
    q_df = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize(F.col(emb_col)).alias("q")
    )
    seeds = (
        q_df.withColumn("__ord", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__ord", "vec_id")
        .limit(codebook_size)
        .collect()
    )
    # codebook[c][s] = the c-th seed's s-th subvector (python ints)
    codebook = [
        [list(r["q"])[s * sub : (s + 1) * sub] for s in range(n_subspaces)]
        for r in seeds
    ]
    # fewer vectors than codebook entries: shrink the codebook
    codebook_size = min(codebook_size, len(codebook))

    encoded = q_df.select(
        F.col("vec_id").alias("nid"),
        *[
            _pq_code_col(codebook, s, sub, codebook_size).alias(f"code{s}")
            for s in range(n_subspaces)
        ],
    )

    qs = queries.select(
        F.col(id_col).alias("qid"), quantize(F.col(emb_col)).alias("q")
    )
    # per-query ADC lookup tables: dtab{s} = [d(q_s, codebook[0][s]), ...]
    qtabs = qs.select(
        "qid",
        *[
            _pq_dtab_col(codebook, s, sub, codebook_size).alias(f"dtab{s}")
            for s in range(n_subspaces)
        ],
    )
    adist = sum(
        F.element_at(F.col(f"dtab{s}"), F.col(f"code{s}") + 1)
        for s in range(n_subspaces)
    )
    scored = (
        encoded.join(F.broadcast(qtabs), F.col("nid") != F.col("qid"))
        .withColumn("adist", adist.cast("long"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "adist")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_subspaces: int = 4,
    codebook_size: int = 4,
    dims: int = 64,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    cluster_col: str = "label",
) -> DataFrame:
    """The composed IVF-PQ index — the architecture every production
    vector store uses: IVF coarse lists bound the search (each query
    probes ONE inverted list) and PQ codes compress the candidates
    (approximate distance via per-subspace lookup tables, no
    full-precision vectors touched at query time).

    Storage story at scale: the index is (cluster, nid, code0..3) —
    one byte of codes per vector, partitioned by cluster; queries
    broadcast their (cluster, ADC tables); scoring is an equi-join on
    cluster + four array lookups. Exact integers end-to-end, so the
    SQL oracle replays the whole index build and probe."""
    sub = dims // n_subspaces
    cents = ivf_centroids(embeddings, cluster_col, emb_col)
    corpus = _with_quantized(embeddings, emb_col).select(
        F.col(id_col).alias("vid"), "q", "norm2"
    )
    corpus_assigned = _assign_to_centroid(corpus, cents).select(
        F.col("vid").alias("nid"), F.col("q").alias("q"), F.col("cluster")
    )

    seeds = (
        _with_quantized(embeddings, emb_col)
        .select(F.col(id_col).alias("vec_id"), "q")
        .withColumn("__ord", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__ord", "vec_id")
        .limit(codebook_size)
        .collect()
    )
    codebook = [
        [list(r["q"])[s * sub : (s + 1) * sub] for s in range(n_subspaces)]
        for r in seeds
    ]
    codebook_size = min(codebook_size, len(codebook))

    index = corpus_assigned.select(
        "nid",
        "cluster",
        *[
            _pq_code_col(codebook, s, sub, codebook_size).alias(f"code{s}")
            for s in range(n_subspaces)
        ],
    )

    qs = _with_quantized(queries, emb_col).select(
        F.col(id_col).alias("vid"), "q", "norm2"
    )
    q_assigned = _assign_to_centroid(qs, cents).select(
        F.col("vid").alias("qid"), F.col("q").alias("q"), F.col("cluster")
    )
    qtabs = q_assigned.select(
        "qid",
        "cluster",
        *[
            _pq_dtab_col(codebook, s, sub, codebook_size).alias(f"dtab{s}")
            for s in range(n_subspaces)
        ],
    )
    adist = sum(
        F.element_at(F.col(f"dtab{s}"), F.col(f"code{s}") + 1)
        for s in range(n_subspaces)
    )
    scored = (
        index.join(F.broadcast(qtabs), "cluster")
        .where(F.col("nid") != F.col("qid"))
        .withColumn("adist", adist.cast("long"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "adist")
    )
