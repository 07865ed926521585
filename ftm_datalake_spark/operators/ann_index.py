"""Persisted, incrementally-maintained IVF index (ANN at 100 TB).

The registry's ``ann_ivf_topk`` derives centroids and assignments
inline per query — right for a one-shot batch probe, wrong for a
standing corpus that takes weekly deltas. This module persists the
index once and maintains it in O(|delta|):

- ``build_ivf_index``: centroids (the coarse quantizer) → ``centroids/``;
  the corpus hard-assigned to its nearest centroid →
  ``postings/cluster=K/`` (parquet partitioned by cluster — the
  inverted lists ARE partition directories).
- ``append_ivf_index``: new vectors are assigned against the FROZEN
  codebook (standard IVF practice — FAISS add() semantics: appending
  never moves existing vectors or centroids) and appended as new part
  files under exactly the affected cluster partitions. An anti-join on
  vec_id makes re-delivery a no-op (same ledger pattern as
  streaming/ledger.py and the incremental training export).
- ``ivf_index_topk``: queries are assigned to their ``nprobe`` nearest
  centroids; the probed cluster ids (bounded: |queries| × nprobe)
  select the partition directories to read EXPLICITLY (basePath read —
  a root read + partition filter would still file-list every
  ``cluster=`` directory, O(nlist) metadata RPCs) — per query batch
  the engine reads only the probed inverted lists, never the corpus.
- lifecycle: ``compact_ivf_postings`` heals append-induced small-file
  decay (bit-identical rows, fewer files, touched partitions only);
  ``ivf_index_stats`` reports list skew, file decay, and the appended
  fraction since the codebook froze — the operator's compact/rebuild
  triggers (VERDICT r8 #3).

Scoring is the same integer-quantized cosine as operators/similarity.py
(engine-exact, no float summation order), so index results are
bit-comparable to the inline ``ivf_topk``: law-tested in
tests/test_ann_index.py (index == inline on a fresh build; append ==
rebuild under a frozen codebook; re-append is a no-op; the probe's
``inputFiles`` stay inside the probed partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.operators.similarity import (
    _assign_to_centroid,
    _with_quantized,
    cosine,
    int_dot,
    ivf_centroids,
)


def build_ivf_index(
    spark: SparkSession,
    embeddings: DataFrame,
    out_dir: str,
    cluster_col: str = "label",
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> dict:
    """Materialize the IVF index. ``centroids`` overrides the trained
    codebook (used by the append==rebuild law test; a production
    retrain would pass a fresh k-means here and rebuild). Also records
    ``index_meta.json`` (vectors/clusters at build time) — the anchor
    :func:`ivf_index_stats` uses to report append drift since build."""
    import json

    from ftm_datalake_spark import fsutil

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(embeddings, cluster_col, emb_col)
    ).localCheckpoint()
    cents.write.mode("overwrite").parquet(os.path.join(out_dir, "centroids"))

    corpus = _with_quantized(embeddings, emb_col).select(
        F.col(id_col).alias("vid"), "q", "norm2"
    )
    assigned = _assign_to_centroid(corpus, cents)
    (
        assigned.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(out_dir, "postings"))
    )
    posted = spark.read.parquet(os.path.join(out_dir, "postings"))
    stats = {
        "vectors": posted.count(),
        "clusters": cents.count(),
    }
    fsutil.write_bytes_atomic(
        spark,
        os.path.join(out_dir, "index_meta.json"),
        json.dumps(
            {"built_vectors": stats["vectors"], "clusters": stats["clusters"]},
            sort_keys=True,
        ).encode("utf-8"),
    )
    return stats


# ------------------------------------------------------------------ PQ layer
PQ_META = "pq_meta.json"


def _pq_subdist_sql(ref: list[int], s: int, sub: int) -> str:
    """SQL for the exact integer squared distance between the ``q``
    column's s-th subvector and a codebook entry — the same ADC
    arithmetic as similarity.pq_encode_topk (integer-replayable, no
    float order). Rendered as a SQL string parsed JVM-side in one call
    because the Column-API form (per-value F.lit arrays) issued
    hundreds of py4j round-trips per PQ plan (r14; the
    random_projection finding). Identical fold order and casts."""
    refs = ", ".join(f"{int(v)}L" for v in ref)
    return (
        f"aggregate(zip_with(slice(q, {s * sub + 1}, {sub}), "
        f"array({refs}), (x, y) -> (x - y) * (x - y)), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )


def _pq_subdist(vec_col, ref: list[int], s: int, sub: int):
    """Column form of :func:`_pq_subdist_sql` (callers all read the
    ``q`` column; ``vec_col`` is kept for signature stability)."""
    return F.expr(_pq_subdist_sql(ref, s, sub))


def _pq_code_col(vec_col, codebook: list[list[list[int]]], s: int, sub: int):
    """argmin over codebook entries for subspace ``s`` (id tiebreak)."""
    structs = ", ".join(
        f"struct({_pq_subdist_sql(codebook[c][s], s, sub)} as d, "
        f"cast({c} as int) as c)"
        for c in range(len(codebook))
    )
    return F.expr(f"array_min(array({structs})).c")


def _train_pq_codebooks(
    rows: DataFrame,
    n_subspaces: int,
    codebook_size: int,
    lloyd_steps: int = 2,
) -> list[list[list[int]]]:
    """Train PQ codebooks from (vid, q) rows: md5-order seed vectors
    (a deterministic sample of the CURRENT corpus) refined by
    ``lloyd_steps`` exact-integer Lloyd steps per subspace (assign
    every subvector to its nearest entry, recenter as round(mean) —
    one corpus pass per step, all subspaces at once). Because the
    seeds and the refinement are drawn from the data the codebooks are
    trained on, a retrain after drifted appends genuinely moves them —
    the refresh :func:`rebuild_ivf_index` ``pq=True`` performs. Driver
    state is the codebook only: n_subspaces x codebook_size x sub
    ints."""
    dims = rows.select(F.size("q").alias("d")).first()["d"]
    if dims % n_subspaces:
        # FAISS raises here too: dims // n_subspaces would silently drop
        # the trailing dims % n_subspaces dimensions from every code,
        # ADC table and training step, quietly degrading recall.
        raise ValueError(
            f"dims ({dims}) must be divisible by n_subspaces "
            f"({n_subspaces})"
        )
    sub = dims // n_subspaces
    seeds = (
        rows.withColumn("__ord", F.md5(F.col("vid").cast("string")))
        .orderBy("__ord", "vid")
        .limit(codebook_size)
        .collect()
    )
    codebook = [
        [list(r["q"])[s * sub : (s + 1) * sub] for s in range(n_subspaces)]
        for r in seeds
    ]
    for _ in range(max(lloyd_steps, 0)):
        exploded = rows.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.slice("q", s * sub + 1, sub).alias("v"),
                            _pq_code_col(
                                F.col("q"), codebook, s, sub
                            ).alias("c"),
                        )
                        for s in range(n_subspaces)
                    ]
                )
            ).alias("x")
        ).select("x.*")
        means = (
            exploded.groupBy("s", "c")
            .agg(
                *[
                    F.round(F.avg(F.element_at("v", d + 1)))
                    .cast("long")
                    .alias(f"m{d}")
                    for d in range(sub)
                ]
            )
            .collect()
        )
        moved = False
        for r in means:  # unassigned entries keep their current value
            new = [int(r[f"m{d}"]) for d in range(sub)]
            if codebook[r["c"]][r["s"]] != new:
                codebook[r["c"]][r["s"]] = new
                moved = True
        if not moved:
            break  # converged early — skip the remaining passes
    return codebook


def _read_pq_meta(spark: SparkSession, out_dir: str) -> dict | None:
    import json

    from ftm_datalake_spark import fsutil

    path = os.path.join(out_dir, PQ_META)
    if not fsutil.exists(spark, path):
        return None
    return json.loads(
        fsutil.read_bytes_with_fallback(spark, path).decode("utf-8")
    )


def _write_pq_meta(spark: SparkSession, out_dir: str, meta: dict) -> None:
    import json

    from ftm_datalake_spark import fsutil

    fsutil.write_bytes_atomic(
        spark,
        os.path.join(out_dir, PQ_META),
        json.dumps(meta, sort_keys=True).encode("utf-8"),
    )


def _with_pq_codes(df: DataFrame, meta: dict) -> DataFrame:
    """Add code0..codeS-1 columns encoding ``q`` against the given
    codebooks — the append path's FROZEN-codebook encode and the
    rebuild path's re-encode share this."""
    codebook = meta["codebooks"]
    n_subspaces = meta["n_subspaces"]
    sub = meta["sub"]
    return df.select(
        "*",
        *[
            _pq_code_col(F.col("q"), codebook, s, sub).alias(f"code{s}")
            for s in range(n_subspaces)
        ],
    )


def enable_pq(
    spark: SparkSession,
    out_dir: str,
    n_subspaces: int = 4,
    codebook_size: int = 16,
) -> dict:
    """Add the PQ compression layer to a persisted IVF index: train
    codebooks from the CURRENT postings, re-encode every posting with
    code columns (one pass, staged + swapped like rebuild), and record
    the codebooks in ``pq_meta.json``. Appends after this encode
    against the frozen codebooks (FAISS add() semantics); retrain via
    :func:`rebuild_ivf_index` with ``pq=True`` when
    ``appended_fraction`` says the quantizer drifted (VERDICT r12
    stretch #7)."""
    import json

    from ftm_datalake_spark import fsutil

    out_dir = fsutil.heal_dir(spark, out_dir)
    postings_dir = os.path.join(out_dir, "postings")
    rows = spark.read.parquet(postings_dir).select(
        "vid", "q", "norm2", "cluster"
    )
    dims = rows.select(F.size("q").alias("d")).first()["d"]
    codebook = _train_pq_codebooks(rows, n_subspaces, codebook_size)
    meta = {
        "n_subspaces": n_subspaces,
        "codebook_size": len(codebook),
        "sub": dims // n_subspaces,
        "dims": dims,
        "codebooks": codebook,
    }
    encoded = _with_pq_codes(rows, meta).localCheckpoint()
    # Stage the COMPLETE index (encoded postings + pq_meta + the
    # existing centroids/index_meta carried over) in a sibling of
    # out_dir and swap ONCE at out_dir — the same crash-window
    # discipline as rebuild_ivf_index, so the existing
    # heal_dir(out_dir) in every reader covers a crashed swap. The
    # previous postings/-level swap left two unhealed windows: a crash
    # between replace_dir's renames stranded postings.__old__ where no
    # reader heals (out_dir still "has data" via centroids/), and a
    # crash between the swap and _write_pq_meta left encoded postings
    # with no pq_meta.json — the PQ layer silently dropped.
    staged = out_dir.rstrip("/") + ".__pq__"
    fsutil.delete(spark, staged)
    (
        encoded.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(staged, "postings"))
    )
    spark.read.parquet(os.path.join(out_dir, "centroids")).write.mode(
        "overwrite"
    ).parquet(os.path.join(staged, "centroids"))
    fsutil.write_bytes(
        spark,
        os.path.join(staged, "index_meta.json"),
        fsutil.read_bytes_with_fallback(
            spark, os.path.join(out_dir, "index_meta.json")
        ),
    )
    fsutil.write_bytes(
        spark,
        os.path.join(staged, PQ_META),
        json.dumps(meta, sort_keys=True).encode("utf-8"),
    )
    fsutil.replace_dir(spark, out_dir, staged)
    return {"pq": True, "vectors": encoded.count(), **{
        k: meta[k] for k in ("n_subspaces", "codebook_size", "sub")
    }}


def _read_clusters(
    spark: SparkSession, postings_dir: str, clusters: list[int]
) -> DataFrame:
    """Read ONLY the given inverted-list partitions, by explicit
    directory path with ``basePath`` (so the ``cluster`` column
    survives). A root read + static partition filter prunes the SCAN
    but still LISTS every ``cluster=`` directory to build the file
    index — O(nlist) metadata RPCs, which dominates small probes and
    appends once nlist scales with the corpus (measured: the r9 scale
    probe's append decade ratio dropped from 1.55 to ~1 with this).
    One driver-side name listing of the root bounds the work at
    O(|clusters| + 1) RPCs; clusters with no data yet are skipped."""
    from ftm_datalake_spark import fsutil

    present = set(fsutil.list_names(spark, postings_dir))
    dirs = [
        os.path.join(postings_dir, f"cluster={int(c)}")
        for c in clusters
        if f"cluster={int(c)}" in present
    ]
    if not dirs:  # none of the requested lists exist yet
        return (
            spark.read.parquet(postings_dir).where(F.lit(False))
        )
    return spark.read.option("basePath", postings_dir).parquet(*dirs)


def _existing_vids(
    spark: SparkSession, postings_dir: str, clusters: list[int]
) -> DataFrame:
    """vids already indexed in the given cluster partitions ONLY. Under
    a frozen codebook a vec_id always assigns to the same cluster, so a
    re-delivered vid can only collide inside its own assigned partition
    — the re-delivery anti-join never needs the other lists (ADVICE r8
    #4: the old full-index vid scan made appends O(|corpus|))."""
    return _read_clusters(spark, postings_dir, clusters).select("vid")


def append_ivf_index(
    spark: SparkSession,
    delta: DataFrame,
    out_dir: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Fold a delta batch into an existing index in O(|delta|): assign
    against the frozen codebook, skip already-indexed vec_ids (anti-join
    restricted to the delta's own cluster partitions — never a full
    index scan), append part files under only the affected cluster
    partitions. Run :func:`compact_ivf_postings` when
    :func:`ivf_index_stats` shows file-count decay."""
    from ftm_datalake_spark import fsutil

    out_dir = fsutil.heal_dir(spark, out_dir)  # crashed rebuild swap
    cents = spark.read.parquet(os.path.join(out_dir, "centroids"))
    postings_dir = os.path.join(out_dir, "postings")

    assigned_all = _assign_to_centroid(
        _with_quantized(delta, emb_col).select(
            F.col(id_col).alias("vid"), "q", "norm2"
        ),
        cents,
    )
    pq_meta = _read_pq_meta(spark, out_dir)
    if pq_meta is not None:
        # PQ-enabled index: encode the delta against the FROZEN
        # codebooks (appending never retrains — the refresh verb is
        # rebuild(pq=True))
        assigned_all = _with_pq_codes(assigned_all, pq_meta)
    assigned_all = assigned_all.localCheckpoint()
    # the delta's cluster set bounds both the anti-join read and the
    # write (bounded collect: <= n_clusters ints)
    touched_all = sorted(
        int(r["cluster"])
        for r in assigned_all.select("cluster").distinct().collect()
    )
    if not touched_all:
        return {"appended": 0, "clusters_touched": []}
    assigned = assigned_all.join(
        _existing_vids(spark, postings_dir, touched_all), "vid", "left_anti"
    ).localCheckpoint()
    touched = sorted(
        int(r["cluster"])
        for r in assigned.select("cluster").distinct().collect()
    )
    if touched:
        (
            assigned.repartition(len(touched), "cluster")
            .write.mode("append")
            .partitionBy("cluster")
            .parquet(postings_dir)
        )
    return {"appended": assigned.count(), "clusters_touched": touched}


def compact_ivf_postings(
    spark: SparkSession,
    out_dir: str,
    clusters: list[int] | None = None,
    min_files: int = 2,
) -> dict:
    """Rewrite decayed inverted-list partitions to one file each.

    Appends accrete one part file per (fold, touched cluster) — the
    classic small-file decay (VERDICT r8 #3). Compaction picks the
    partitions whose file count reached ``min_files`` (or an explicit
    ``clusters`` list), reads ONLY those, and rewrites them in place
    via dynamic partition overwrite. Results are bit-identical: the
    rows are the same (vid, q, norm2) tuples, only file boundaries
    change — law-tested in tests/test_ann_index.py. Untouched
    partitions are never read or written, so incremental compaction
    after each fold is O(touched lists), not O(index); the
    checkpoint pins only the selected lists (bounded by the same
    choice). Mirrors compact_segment_ledger (training_export.py)."""
    from ftm_datalake_spark import fsutil

    out_dir = fsutil.heal_dir(spark, out_dir)  # crashed rebuild swap
    postings_dir = os.path.join(out_dir, "postings")
    per_cluster = _cluster_file_counts(spark, postings_dir)
    if clusters is None:
        selected = sorted(
            c for c, n in per_cluster.items() if n >= min_files
        )
    else:
        selected = sorted(int(c) for c in clusters if int(c) in per_cluster)
    files_before = sum(per_cluster.values())
    if not selected:
        return {
            "clusters_compacted": [],
            "files_before": files_before,
            "files_after": files_before,
        }
    # pin: source partitions are overwritten
    subset = _read_clusters(spark, postings_dir, selected).localCheckpoint()
    (
        subset.repartition(len(selected), "cluster")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cluster")
        .parquet(postings_dir)
    )
    after = _cluster_file_counts(spark, postings_dir)
    return {
        "clusters_compacted": selected,
        "files_before": files_before,
        "files_after": sum(after.values()),
    }


def _cluster_file_counts(spark: SparkSession, postings_dir: str) -> dict:
    """{cluster: n_part_files} from a metadata listing (never row data)."""
    from ftm_datalake_spark import fsutil

    out: dict[int, int] = {}
    for name in fsutil.list_names(spark, postings_dir):
        if not name.startswith("cluster="):
            continue
        part_files = [
            f
            for f in fsutil.list_names(
                spark, os.path.join(postings_dir, name)
            )
            if f.endswith(".parquet")
        ]
        out[int(name.split("=", 1)[1])] = len(part_files)
    return out


def rebuild_ivf_index(
    spark: SparkSession,
    out_dir: str,
    centroids: DataFrame | None = None,
    pq: bool = False,
) -> dict:
    """Retrain the coarse quantizer and remap the whole index in ONE
    pass over the stored postings — the rebuild verb the drift stats
    point at (VERDICT r9 #4: act on ``appended_fraction``/skew without
    re-touching the raw corpus; the quantized vectors already live in
    the postings).

    Codebook: ``centroids`` (cluster, cq) when an external retrain
    supplies one; default is one Lloyd refinement of the CURRENT
    assignment — round(mean q) per occupied cluster, the same integer
    centroid rule as similarity.ivf_centroids applied to the already-
    quantized postings, so drifted lists pull their centroid toward
    the appended mass.

    ``pq=True`` (VERDICT r12 stretch #7 — the codebook refresh): on a
    PQ-enabled index, RETRAIN the PQ codebooks from the current
    postings and re-encode every vector in the same staged rewrite.
    The coarse quantizer re-clusters on every rebuild, but PQ
    codebooks are otherwise train-once — after heavy appends from a
    drifted distribution the frozen quantizer's cells no longer fit
    the data and ADC recall decays; retraining restores it (recall
    law in tests/test_ann_index_pq.py). ``pq=False`` on a PQ index
    carries the EXISTING codes through unchanged (codes are
    cluster-independent, so re-clustering does not invalidate them).

    Crash-safe: the complete new index (centroids + postings +
    index_meta.json) is staged to a sibling directory and swapped in
    with :func:`fsutil.replace_dir`; every reader heals a crashed swap
    first (fsutil.heal_dir), so no instant loses the index. After the
    swap ``built_vectors`` equals the live count — appended_fraction
    resets to 0."""
    import json

    from ftm_datalake_spark import fsutil

    out_dir = fsutil.heal_dir(spark, out_dir)
    pq_meta = _read_pq_meta(spark, out_dir)
    if pq and pq_meta is None:
        raise ValueError(
            "pq=True needs a PQ-enabled index — run enable_pq() first"
        )
    stored = spark.read.parquet(os.path.join(out_dir, "postings"))
    code_cols = (
        [f"code{s}" for s in range(pq_meta["n_subspaces"])]
        if pq_meta is not None
        else []
    )
    rows = stored.select("vid", "q", "norm2", "cluster", *code_cols)
    if centroids is None:
        dims = rows.select(F.size("q").alias("d")).first()["d"]
        sums = rows.groupBy("cluster").agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.element_at("q", i + 1)).alias(f"s{i}")
                for i in range(dims)
            ],
        )
        centroids = sums.select(
            "cluster",
            F.array(
                *[
                    F.round(F.col(f"s{i}") / F.col("n")).cast("long")
                    for i in range(dims)
                ]
            ).alias("cq"),
            "n",
        )
    cents = centroids.localCheckpoint()
    carry = rows.select("vid", "q", "norm2", *code_cols)
    if pq:
        # the codebook refresh: retrain from the CURRENT postings and
        # re-encode in the same staged rewrite (codes replaced wholesale)
        pq_meta = dict(pq_meta)
        pq_meta["codebooks"] = _train_pq_codebooks(
            rows.select("vid", "q"),
            pq_meta["n_subspaces"],
            pq_meta["codebook_size"],
        )
        carry = _with_pq_codes(
            rows.select("vid", "q", "norm2"), pq_meta
        )
    assigned = _assign_to_centroid(
        carry, cents.select("cluster", "cq")
    ).localCheckpoint()

    staged = out_dir.rstrip("/") + ".__rebuild__"
    fsutil.delete(spark, staged)
    cents.write.mode("overwrite").parquet(os.path.join(staged, "centroids"))
    (
        assigned.repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(staged, "postings"))
    )
    n, k = assigned.count(), cents.count()
    fsutil.write_bytes(
        spark,
        os.path.join(staged, "index_meta.json"),
        json.dumps(
            {"built_vectors": n, "clusters": k}, sort_keys=True
        ).encode("utf-8"),
    )
    if pq_meta is not None:
        # the swap replaces the WHOLE index dir: the pq meta (retrained
        # codebooks under pq=True, the frozen ones otherwise) must ride
        # inside the staged tree or the layer is silently dropped
        fsutil.write_bytes(
            spark,
            os.path.join(staged, PQ_META),
            json.dumps(pq_meta, sort_keys=True).encode("utf-8"),
        )
    fsutil.replace_dir(spark, out_dir, staged)
    return {
        "vectors": n,
        "clusters": k,
        "rebuilt": True,
        "pq_retrained": bool(pq),
    }


def ivf_index_stats(spark: SparkSession, out_dir: str) -> dict:
    """Index health report — the operator's rebuild/compact trigger:

    - posting-list balance: max/mean/min list size and the max/mean
      skew ratio (a decaying codebook concentrates new vectors in few
      lists, degrading probe recall — high skew says retrain);
    - file decay: total part files + the worst partition's count
      (``compact_ivf_postings`` when that grows);
    - drift since build: fraction of the index appended after the
      codebook froze (``appended_fraction`` → rebuild trigger; FAISS
      practice is retrain at 10-50% drift).

    Everything driver-side is bounded by n_clusters."""
    import json

    from ftm_datalake_spark import fsutil

    out_dir = fsutil.heal_dir(spark, out_dir)  # crashed rebuild swap
    postings_dir = os.path.join(out_dir, "postings")
    sizes = (
        spark.read.parquet(postings_dir)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .agg(
            F.sum("n").cast("long").alias("vectors"),
            F.count("*").alias("clusters_used"),
            F.max("n").cast("long").alias("max_list"),
            F.min("n").cast("long").alias("min_list"),
            F.avg("n").alias("mean_list"),
        )
        .first()
    )
    files = _cluster_file_counts(spark, postings_dir)
    vectors = int(sizes["vectors"] or 0)
    stats = {
        "vectors": vectors,
        "clusters_used": int(sizes["clusters_used"] or 0),
        "max_list": int(sizes["max_list"] or 0),
        "min_list": int(sizes["min_list"] or 0),
        "mean_list": float(sizes["mean_list"] or 0.0),
        "skew": (
            float(sizes["max_list"]) / float(sizes["mean_list"])
            if sizes["mean_list"]
            else 0.0
        ),
        "total_files": sum(files.values()),
        "max_files_per_cluster": max(files.values()) if files else 0,
    }
    meta_path = os.path.join(out_dir, "index_meta.json")
    if fsutil.exists(spark, meta_path):
        meta = json.loads(
            fsutil.read_bytes_with_fallback(spark, meta_path).decode("utf-8")
        )
        built = int(meta.get("built_vectors", 0))
        stats["built_vectors"] = built
        stats["appended_fraction"] = (
            (vectors - built) / vectors if vectors else 0.0
        )
    return stats


def ivf_index_topk(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 1,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    use_pq: bool = False,
    refine: int = 0,
) -> DataFrame:
    """Probe the persisted index: same output contract as
    similarity.ivf_topk — (qid, nid, rank, cosine), rank 1..k per
    query. The probed cluster set (a bounded driver list: |queries| ×
    nprobe ints) becomes a partition filter on the postings scan, so
    only the probed inverted-list directories are read.

    ``use_pq=True`` scores via asymmetric distance over the STORED PQ
    codes (per-query lookup tables against the index codebooks,
    broadcast — similarity.pq_encode_topk's ADC on the persisted
    layout): the candidate scan never touches the full-precision ``q``
    column, which is the memory story PQ exists for. Output is then
    (qid, nid, rank, adist) with rank by ascending ADC distance.

    ``refine`` (with use_pq): the standard two-stage probe (FAISS's
    refine stage) — ADC selects ``k * refine`` candidates per query
    from the codes, then EXACT integer L2 on ``q`` re-ranks only those
    candidate rows (a semi-join back to the probed partitions, row
    count bounded by |queries| * k * refine). Restores most of the
    recall PQ's lossy codes give up while still never scanning
    full-precision vectors corpus-wide."""
    from pyspark.sql import Window

    from ftm_datalake_spark import fsutil

    out_dir = fsutil.heal_dir(spark, out_dir)  # crashed rebuild swap
    if use_pq:
        meta = _read_pq_meta(spark, out_dir)
        if meta is None:
            raise ValueError(
                "use_pq=True needs a PQ-enabled index — run enable_pq()"
            )
        return _ivf_index_topk_pq(
            spark, out_dir, queries, meta, k, nprobe, emb_col, id_col,
            refine=refine,
        )
    cents = spark.read.parquet(os.path.join(out_dir, "centroids"))
    qs = _with_quantized(queries, emb_col).select(
        F.col(id_col).alias("vid"), "q", "norm2"
    )
    qs_assigned = _assign_to_centroid(qs, cents, nprobe=nprobe).select(
        F.col("vid").alias("qid"),
        F.col("q").alias("qq"),
        F.col("norm2").alias("qn"),
        F.col("cluster"),
    ).localCheckpoint()
    probed = sorted(
        int(r["cluster"])
        for r in qs_assigned.select("cluster").distinct().collect()
    )
    postings = _read_clusters(
        spark, os.path.join(out_dir, "postings"), probed
    ).select(
        F.col("vid").alias("nid"),
        F.col("q").alias("nq"),
        F.col("norm2").alias("nn"),
        "cluster",
    )
    scored = (
        postings.join(F.broadcast(qs_assigned), "cluster")
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


def _ivf_index_topk_pq(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    meta: dict,
    k: int,
    nprobe: int,
    emb_col: str,
    id_col: str,
    refine: int = 0,
) -> DataFrame:
    """ADC probe over the persisted PQ codes (see ivf_index_topk).

    Plan shape: queries assign to their nprobe nearest centroids
    (broadcast centroids), per-query ADC lookup tables (n_subspaces x
    codebook_size ints — tiny) broadcast against ONLY the probed
    inverted-list partitions; distance is an exact integer sum of
    table lookups, so results replay bit-identically. With ``refine``
    the ADC pass keeps k*refine candidates and an exact integer-L2
    re-rank over just those rows' ``q`` produces the final top-k."""
    from pyspark.sql import Window

    n_subspaces = meta["n_subspaces"]
    codebook_size = meta["codebook_size"]
    sub = meta["sub"]
    codebook = meta["codebooks"]

    cents = spark.read.parquet(os.path.join(out_dir, "centroids"))
    qs = _with_quantized(queries, emb_col).select(
        F.col(id_col).alias("vid"), "q", "norm2"
    )
    qs_assigned = _assign_to_centroid(qs, cents, nprobe=nprobe)
    qtabs = qs_assigned.select(
        F.col("vid").alias("qid"),
        F.col("cluster"),
        *[
            F.array(
                *[
                    _pq_subdist(F.col("q"), codebook[c][s], s, sub)
                    for c in range(codebook_size)
                ]
            ).alias(f"dtab{s}")
            for s in range(n_subspaces)
        ],
    ).localCheckpoint()
    probed = sorted(
        int(r["cluster"])
        for r in qtabs.select("cluster").distinct().collect()
    )
    code_cols = [f"code{s}" for s in range(n_subspaces)]
    postings = _read_clusters(
        spark, os.path.join(out_dir, "postings"), probed
    ).select(F.col("vid").alias("nid"), "cluster", *code_cols)
    adist = sum(
        F.element_at(F.col(f"dtab{s}"), F.col(f"code{s}") + 1)
        for s in range(n_subspaces)
    )
    scored = (
        postings.join(F.broadcast(qtabs), "cluster")
        .where(F.col("nid") != F.col("qid"))
        .withColumn("adist", adist.cast("long"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("nid"))
    keep = k * refine if refine > 0 else k
    ranked = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= keep)
        .select("qid", "nid", "rank", "adist")
    )
    if refine <= 0:
        return ranked
    # exact re-rank stage: fetch q ONLY for the candidate rows (a
    # broadcast semi-join into the probed partitions — |queries| * k *
    # refine rows, never the lists wholesale)
    cand = ranked.select("qid", "nid").localCheckpoint()
    full = _read_clusters(
        spark, os.path.join(out_dir, "postings"), probed
    ).select(F.col("vid").alias("nid"), F.col("q").alias("nq"))
    qfull = qs_assigned.select(
        F.col("vid").alias("qid"), F.col("q").alias("qq")
    ).dropDuplicates(["qid"])
    exact = (
        cand.join(F.broadcast(qfull), "qid")
        .join(full, "nid")
        .withColumn(
            "adist",
            F.aggregate(
                F.zip_with(
                    F.col("qq"), F.col("nq"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("nid"))
    return (
        exact.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "rank", "adist")
    )
