"""Text-analysis + deduplication queries over the `documents` table.

Dedup specs run on an *augmented* corpus (documents UNION ALL re-keyed
copies of every 100th doc) so the dedup machinery has true duplicates to
find — the same augmentation is expressed in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.operators import bpe as B
from ftm_datalake_spark.operators import dedup as D
from ftm_datalake_spark.operators import textops as TX
from ftm_datalake_spark.operators import training as TR
from ftm_datalake_spark.plans.registry import register
from ftm_datalake_spark.sources.tables import load_table

_AUG_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0
"""


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (
        docs.where(F.col("doc_id") % 100 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return docs.unionByName(copies)


# --------------------------------------------------------------------------
@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
    tags=("text",),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.token_count(F.col("text")).cast("long").alias("n_tokens")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# BPE-ish subword-boundary token count: words, digit runs and isolated
# punctuation each count as tokens (the pre-tokenization regex most BPE
# vocabularies apply before merges).
@register(
    "text_bpe_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                AS BIGINT) AS n_bpe_tokens
    FROM documents ORDER BY doc_id
    """,
    tags=("text",),
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pattern = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(pattern)).cast("long").alias(
            "n_bpe_tokens"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
@register(
    "text_quality",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|is|in)\\b')) AS BIGINT) AS n_stopwords,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_alpha_chars
      FROM documents
    )
    SELECT doc_id, n_tokens, n_stopwords, n_alpha_chars,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_alpha_chars AS DOUBLE) / n_tokens AS avg_token_len
    FROM f ORDER BY doc_id
    """,
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return TX.quality_features(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
@register(
    "text_langid",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\\b(the|a|of)\\b')) AS BIGINT) AS n_en,
             CAST(len(regexp_extract_all(text, '\\b(der|die|und)\\b')) AS BIGINT) AS n_de,
             CAST(len(regexp_extract_all(text, '\\b(le|la|et)\\b')) AS BIGINT) AS n_fr,
             CAST(len(regexp_extract_all(text, '\\b(el|los|y)\\b')) AS BIGINT) AS n_es
      FROM documents
    )
    SELECT doc_id, n_en, n_de, n_fr, n_es,
           CASE WHEN n_en = 0 AND n_de = 0 AND n_fr = 0 AND n_es = 0 THEN 'und'
                WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
                WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
                WHEN n_fr >= n_es THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM c ORDER BY doc_id
    """,
    tags=("text",),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = TX.marker_counts(F.col("text"))
    return docs.select(
        "doc_id",
        *[counts[lang].cast("long").alias(f"n_{lang}") for lang in ("en", "de", "fr", "es")],
        TX.predict_lang(F.col("text")).alias("pred_lang"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           substr(md5(lower(regexp_replace(text, '\\s+', '', 'g'))), 1, 16) AS fp
    FROM documents ORDER BY doc_id
    """,
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", TX.fingerprint(F.col("text")).alias("fp")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# TF-IDF-style term salience: per-doc top-3 tokens by tf/df ratio
# (log-free so the score is an exact int-ratio double on both engines).
@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (token)
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token) AS rn
      FROM scored
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
    FROM ranked WHERE rn <= 3
    ORDER BY doc_id, score DESC, token
    """,
    tags=("text", "agg"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        "tf",
        "df",
        (F.col("tf").cast("double") / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "df", "score")
        .orderBy("doc_id", F.col("score").desc(), "token")
    )


# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL})
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper,
           COUNT(*) AS n
    FROM docs_aug
    GROUP BY md5(text)
    ORDER BY content_hash
    """,
    tags=("dedup", "bench"),
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    return D.exact_dedup_groups(docs).orderBy("content_hash")


# --------------------------------------------------------------------------
_SHINGLES_SQL = """
    SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(tokens) - 2),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
           ))) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
          FROM docs_aug)
"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 2
    )
    SELECT doc_a, doc_b, common,
           CAST(ca.n_sh + cb.n_sh - common AS BIGINT) AS uni
    FROM common
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup",),
    # r14: ngram_jaccard_pairs checkpoints the shingle table (guide
    # §2.4 — it fed three consumers).
    checkpointed=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    return D.ngram_jaccard_pairs(docs, min_common=2).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# Oracle mirror of operators/dedup.py minhash: one 32-bit shingle hash,
# (A*h+B) mod P per-seed mins, ','-joined integer band values. Generated
# from the SAME coefficient table so Spark and SQL cannot drift.
def _minhash_bands_sql() -> str:
    from ftm_datalake_spark.operators.dedup import MINHASH_COEFFS, MINHASH_PRIME

    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {band} AS band_id, {val} AS band_val FROM hs".format(
            band=band,
            val=" || ',' || ".join(
                f"CAST(mh{band * 3 + r} AS VARCHAR)" for r in range(3)
            ),
        )
        for band in range(4)
    )
    return f"""
    hs AS (
      SELECT doc_id,
             {mins}
      FROM (SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
            FROM sh)
      GROUP BY doc_id
    ),
    bands AS (
      {band_rows}
    )"""


_BANDS_SQL = _minhash_bands_sql()


@register(
    "dedup_minhash_lsh",
    # r14: minhash_lsh_pairs checkpoints the band table (guide
    # §2.4 shared-subtree; signatures were computed twice).
    checkpointed=True,
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    {_BANDS_SQL}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "bench"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    return D.minhash_lsh_pairs(D.shingle_postings(docs)).orderBy(
        "doc_a", "doc_b"
    )


# --------------------------------------------------------------------------
# SimHash signatures. Fully oracle-paired: the 60-bit token hash is the
# md5 hex prefix (castable in both engines), bit votes are SUM(±1) per
# bit, and the packed signature is integer arithmetic — all portable.
def _simhash_sql() -> str:
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(32)
    )
    sig = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"""
    toks AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM docs_aug
    ),
    hashed AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id,
             {sums}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {sig} AS simhash
    FROM votes ORDER BY doc_id"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    {_simhash_sql()}
    """,
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    return D.simhash(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# Composed discovery → verification: MinHash-LSH proposes candidate
# pairs, exact shingle-Jaccard verifies them (integer threshold 4/5).
# This is the 100 TB dedup shape: the quadratic verifier only ever runs
# on the (tiny) candidate set.
@register(
    "dedup_verified_pairs",
    # r14: minhash_lsh_pairs checkpoints the band table (guide
    # §2.4 shared-subtree; signatures were computed twice).
    checkpointed=True,
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    {_BANDS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT m.doc_a, m.doc_b, m.common,
           CAST(ca.n_sh + cb.n_sh - m.common AS BIGINT) AS uni
    FROM common m
    JOIN cnt ca ON ca.doc_id = m.doc_a
    JOIN cnt cb ON cb.doc_id = m.doc_b
    WHERE m.common * 5 >= (ca.n_sh + cb.n_sh - m.common) * 4
    ORDER BY m.doc_a, m.doc_b
    """,
    tags=("dedup", "composed"),
)
def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    # r15 (guide §2.4): one pinned shingle table feeds the band build
    # AND the verification sides + per-doc counts —
    # before, the scan+tokenize+shingle subtree executed once per
    # consumer (the dedup_lsh_recall fix applied here).
    sh = D.shingle_postings(docs).localCheckpoint()
    cand = D.minhash_lsh_pairs(sh)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    uni = F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("common")
    return (
        common.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .where(F.col("common") * 5 >= uni * 4)
        .select("doc_a", "doc_b", "common", uni.alias("uni"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Dedup families: connected components over the MinHash candidate pairs
# (min-id canonical label per family) — oracle via recursive CTE closure.
_MINHASH_PAIRS_SQL = f"""
    WITH docs_aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    {_BANDS_SQL},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
    )
"""


@register(
    "dedup_families",
    checkpointed=True,
    oracle=_MINHASH_PAIRS_SQL.replace("WITH docs_aug", "WITH RECURSIVE docs_aug", 1)
    + """
    , edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach AS (
      SELECT a AS n, a AS r FROM edges
      UNION
      SELECT reach.n, edges.b AS r FROM reach JOIN edges ON reach.r = edges.a
    )
    SELECT n AS doc_id, CAST(MIN(r) AS BIGINT) AS family
    FROM reach GROUP BY n ORDER BY doc_id
    """,
    tags=("dedup", "graph"),
)
def dedup_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.components import dedup_families as families

    docs = _augmented_docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(D.shingle_postings(docs))
    return families(pairs).orderBy("doc_id")


# --------------------------------------------------------------------------
# Canonical dedup APPLY: the end product of the dedup pipeline — pairs →
# families → one representative per family (min doc_id) → the surviving
# corpus with per-representative family stats. At 100 TB each stage is
# the same bounded-shuffle shape as its standalone query; the final
# filter is a zero-shuffle predicate on the family label.
@register(
    "dedup_canonical_corpus",
    checkpointed=True,
    oracle=_MINHASH_PAIRS_SQL.replace("WITH docs_aug", "WITH RECURSIVE docs_aug", 1)
    + """
    , edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach AS (
      SELECT a AS n, a AS r FROM edges
      UNION
      SELECT reach.n, edges.b AS r FROM reach JOIN edges ON reach.r = edges.a
    ),
    fam AS (SELECT n AS doc_id, MIN(r) AS family FROM reach GROUP BY n),
    labeled AS (
      SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
      FROM docs_aug d LEFT JOIN fam f ON f.doc_id = d.doc_id
    ),
    sizes AS (SELECT family, COUNT(*) AS family_size FROM labeled GROUP BY family)
    SELECT l.doc_id,
           CAST(s.family_size AS BIGINT) AS family_size,
           CAST(s.family_size - 1 AS BIGINT) AS n_dropped
    FROM labeled l JOIN sizes s USING (family)
    WHERE l.doc_id = l.family
    ORDER BY l.doc_id
    """,
    tags=("dedup", "composed", "graph"),
)
def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.components import dedup_families as families

    docs = _augmented_docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(D.shingle_postings(docs))
    fam = families(pairs)
    labeled = (
        docs.select("doc_id")
        .join(fam.withColumnRenamed("family", "__fam"), "doc_id", "left")
        .withColumn("family", F.coalesce(F.col("__fam"), F.col("doc_id")))
    )
    sizes = labeled.groupBy("family").agg(F.count("*").alias("family_size"))
    return (
        labeled.where(F.col("doc_id") == F.col("family"))
        .join(sizes, "family")
        .select(
            "doc_id",
            F.col("family_size").cast("long").alias("family_size"),
            (F.col("family_size") - 1).cast("long").alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# LSH recall measurement for the dedup family (the dedup twin of
# ann_lsh_recall): exact shingle-Jaccard >= 4/5 ground truth from a
# postings self-join, scored against the MinHash-LSH band candidates.
# The ground-truth side is an EVALUATION op — you run it on a sample to
# tune bands/rows, never on the full 100 TB corpus; the candidate side
# is the production path.
@register(
    "dedup_lsh_recall",
    # r14: minhash_lsh_pairs checkpoints the band table (guide
    # §2.4 shared-subtree; signatures were computed twice).
    checkpointed=True,
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    {_BANDS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
    ),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
      SELECT m.doc_a, m.doc_b
      FROM common m
      JOIN cnt ca ON ca.doc_id = m.doc_a
      JOIN cnt cb ON cb.doc_id = m.doc_b
      WHERE m.common * 5 >= (ca.n_sh + cb.n_sh - m.common) * 4
    ),
    hit AS (
      SELECT t.doc_a FROM truth t
      JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM hit) AS n_found,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           CAST(CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 100
                ELSE (SELECT COUNT(*) FROM hit) * 100
                     // (SELECT COUNT(*) FROM truth) END AS BIGINT)
             AS recall_pct
    """,
    tags=("dedup", "eval", "lsh"),
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    # r15 (guide §2.4): ONE pinned shingle table feeds the exact
    # ground-truth side (both halves of the overlap self-join + the
    # per-doc counts) AND the MinHash band build. Before, the scan+tokenize+shingle-explode subtree
    # executed once per consumer — 32 parquet scans / 42 exchanges in
    # the static plan; after, the corpus is scanned and shingled once.
    sh = D.shingle_postings(docs).localCheckpoint()
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("common"))
    )
    ca = cnt.alias("ca")
    cb = cnt.alias("cb")
    uni = F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("common")
    # truth and cand each feed TWO consumers (their own count + the hit
    # join) — pinned so the overlap self-join and the band self-join
    # execute once each instead of twice (guide §2.4).
    truth = (
        common.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .where(F.col("common") * 5 >= uni * 4)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    cand = (
        D.minhash_lsh_pairs(sh)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    hit = truth.join(cand, ["doc_a", "doc_b"])
    n_truth = truth.agg(F.count("*").alias("n_truth"))
    n_found = hit.agg(F.count("*").alias("n_found"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    return (
        n_truth.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_cand))
        .select(
            "n_truth",
            "n_found",
            "n_candidates",
            F.when(F.col("n_truth") == 0, F.lit(100))
            .otherwise(
                F.floor(F.col("n_found") * 100 / F.col("n_truth"))
            )
            .cast("long")
            .alias("recall_pct"),
        )
    )


# --------------------------------------------------------------------------
# Leakage-safe train/val/test split: fold assignment hashes the DEDUP
# FAMILY, not the document — near-duplicate documents land in the same
# fold by construction, so the eval set can never contain a near-copy
# of a training document. The split is md5-deterministic (engine- and
# partitioning-independent) and composes the existing family pipeline;
# the per-doc fold is a zero-shuffle projection once families exist.
@register(
    "corpus_leakage_safe_split",
    checkpointed=True,
    oracle=_MINHASH_PAIRS_SQL.replace("WITH docs_aug", "WITH RECURSIVE docs_aug", 1)
    + """
    , edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach AS (
      SELECT a AS n, a AS r FROM edges
      UNION
      SELECT reach.n, edges.b AS r FROM reach JOIN edges ON reach.r = edges.a
    ),
    fam AS (SELECT n AS doc_id, MIN(r) AS family FROM reach GROUP BY n),
    labeled AS (
      SELECT d.doc_id, COALESCE(f.family, d.doc_id) AS family
      FROM docs_aug d LEFT JOIN fam f ON f.doc_id = d.doc_id
    )
    SELECT doc_id,
           CAST(family AS BIGINT) AS family,
           CAST(CAST(('0x' || substr(md5('fold:' || CAST(family AS VARCHAR)),
                      1, 8)) AS BIGINT) % 3 AS BIGINT) AS fold
    FROM labeled ORDER BY doc_id
    """,
    tags=("training", "split", "dedup"),
)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.components import dedup_families as families
    from ftm_datalake_spark.operators.dedup import shingle_hash

    docs = _augmented_docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(D.shingle_postings(docs))
    fam = families(pairs)
    labeled = (
        docs.select("doc_id")
        .join(fam.withColumnRenamed("family", "__fam"), "doc_id", "left")
        .withColumn("family", F.coalesce(F.col("__fam"), F.col("doc_id")))
    )
    fold = (
        shingle_hash(F.concat(F.lit("fold:"), F.col("family").cast("string")))
        % 3
    )
    return labeled.select(
        "doc_id",
        F.col("family").cast("long").alias("family"),
        fold.cast("long").alias("fold"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# PPJoin-style prefix-filter similarity join: exact all-pairs Jaccard
# >= 4/5 with NO false negatives (unlike LSH), candidates bounded by
# rarest-token prefixes. See operators/dedup.prefix_filter_pairs.
@register(
    "dedup_prefix_filter_pairs",
    # r14: prefix_filter_pairs checkpoints the packed doc→tokens table
    # (three consumers) and broadcast-verifies the candidates (guide
    # §3.1) — 222 s → ~40 s at sf0.1. Second pass: the ≤64-token
    # vocabulary probe routes this corpus to the exact bitset/class
    # form (inline bit_count verification, salted few-key join, doc
    # pairs expanded from identical-set classes) — see
    # operators/dedup._prefix_filter_pairs_bitset.
    checkpointed=True,
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    tok AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM docs_aug)
    ),
    freq AS (SELECT token, COUNT(*) AS f FROM tok GROUP BY token),
    tf AS (SELECT t.doc_id, t.token, f.f FROM tok t JOIN freq f USING (token)),
    sizes AS (SELECT doc_id, COUNT(*) AS m FROM tf GROUP BY doc_id),
    ordered AS (
      SELECT doc_id, token,
             row_number() OVER (PARTITION BY doc_id ORDER BY f, token) AS rn
      FROM tf
    ),
    pref AS (
      SELECT o.doc_id, o.token
      FROM ordered o JOIN sizes s USING (doc_id)
      WHERE o.rn <= s.m - ((4 * s.m + 4) // 5) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id
    ),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS common
      FROM cand c
      JOIN tok x ON x.doc_id = c.doc_a
      JOIN tok y ON y.doc_id = c.doc_b AND y.token = x.token
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b, c.common,
           CAST(ma.m + mb.m - c.common AS BIGINT) AS uni
    FROM common c
    JOIN sizes ma ON ma.doc_id = c.doc_a
    JOIN sizes mb ON mb.doc_id = c.doc_b
    WHERE 5 * c.common >= 4 * (ma.m + mb.m - c.common)
    ORDER BY c.doc_a, c.doc_b
    """,
    tags=("dedup", "similarity"),
)
def dedup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    return D.prefix_filter_pairs(docs, t_num=4, t_den=5).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# BPE tokenizer family (operators/bpe.py). Fully oracle-gated since
# round 5: pair-count stage, fixed-table encode, AND the learned merge
# table + trained encode (via the unrolled training replay below), with
# independent pure-python parity in tests/test_bpe.py.
@register(
    "bpe_pair_freq_top20",
    oracle="""
    WITH w AS (
      SELECT word, COUNT(*) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents)
      GROUP BY word
    ),
    p AS (
      SELECT substr(word, i, 1) AS lsym, substr(word, i + 1, 1) AS rsym, freq
      FROM (SELECT word, freq,
                   unnest(generate_series(1, length(word) - 1)) AS i
            FROM w WHERE length(word) >= 2)
    )
    SELECT lsym, rsym, CAST(SUM(freq) AS BIGINT) AS pair_freq
    FROM p GROUP BY lsym, rsym
    ORDER BY pair_freq DESC, lsym, rsym
    LIMIT 20
    """,
    tags=("text", "bpe"),
)
def bpe_pair_freq_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training iteration's pair statistics: adjacent-symbol
    frequencies over the distinct-word vocabulary, weighted by word
    frequency — the exact stage the trainer argmaxes each round. One
    corpus scan (word_vocab), then vocab-scale work only."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = B.with_symbols(B.word_vocab(docs))
    return (
        B.pair_counts(vocab)
        .select("lsym", "rsym", F.col("pair_freq").cast("long").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), "lsym", "rsym")
        .limit(20)
    )


@register(
    "bpe_encode_fixed",
    oracle="""
    WITH c AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z]+', ' ', 'g')) AS s
      FROM documents
    ),
    e AS (
      SELECT doc_id, s,
             replace(replace(replace(replace(replace(replace(replace(replace(
               s, 'th', 'T'), 'Te', 'E'), 'in', 'I'), 'tI', 'Q'), 'an', 'A'),
               'er', 'R'), 'on', 'O'), 're', 'C') AS enc
      FROM c
    )
    SELECT doc_id,
           CAST(length(replace(s, ' ', '')) AS BIGINT) AS n_chars,
           CAST(length(replace(enc, ' ', '')) AS BIGINT) AS n_symbols
    FROM e ORDER BY doc_id
    """,
    tags=("text", "bpe"),
)
def bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encode under the FIXED single-char merge table: chained
    replace IS leftmost-non-overlapping BPE merge application when every
    symbol is one character. Pure per-row expressions — zero shuffle,
    whole-stage codegen; the oracle is the same replace chain."""
    docs = load_table(spark, sf_dir, "documents")
    s = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z]+", " "))
    enc = B.apply_fixed_merges(F.col("text"))
    return docs.select(
        "doc_id",
        F.length(F.replace(s, F.lit(" "), F.lit(""))).cast("long").alias("n_chars"),
        F.length(F.replace(enc, F.lit(" "), F.lit(""))).cast("long").alias(
            "n_symbols"
        ),
    ).orderBy("doc_id")


def _bpe_train_oracle_ctes(num_merges: int) -> str:
    """Unrolled BPE-training replay in SQL — the full 12-round
    data-dependent argmax loop, previously the registry's only rows-only
    carve-out, now DuckDB-oracled (round 5).

    Per round t: p{t} counts adjacent symbol pairs over the vocab, b{t}
    argmaxes (freq DESC, lsym, rsym), v{t} applies the merge with
    leftmost-non-overlapping semantics via list_reduce over a
    STRING-ENCODED accumulator 'out§pend' (symbols are [a-z]+ so '§'
    and '|' are safe separators) — a pending lsym followed by rsym emits
    the merged symbol, mirroring operators/bpe.merge_adjacent exactly.
    Every CTE is MATERIALIZED: DuckDB otherwise inlines the chain and
    re-evaluates it exponentially (377s → 0.18s measured at sf0.01)."""
    parts = [
        """w AS MATERIALIZED (
      SELECT word, COUNT(*) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents)
      GROUP BY word
    ),
    v0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(generate_series(1, length(word)), i -> word[i])
               AS syms
      FROM w
    )"""
    ]
    for t in range(1, num_merges + 1):
        p = t - 1
        parts.append(
            f"""p{t} AS MATERIALIZED (
      SELECT syms[i] AS lsym, syms[i + 1] AS rsym, SUM(freq) AS pair_freq
      FROM (SELECT syms, freq, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM v{p} WHERE len(syms) >= 2)
      GROUP BY 1, 2
    ),
    b{t} AS MATERIALIZED (
      SELECT lsym, rsym, CAST(pair_freq AS BIGINT) AS pair_freq
      FROM p{t} ORDER BY pair_freq DESC, lsym, rsym LIMIT 1
    ),
    v{t} AS MATERIALIZED (
      SELECT word, freq,
             string_split(ltrim(CASE WHEN split_part(f, '§', 2) <> ''
                  THEN split_part(f, '§', 1) || '|' || split_part(f, '§', 2)
                  ELSE split_part(f, '§', 1) END, '|'), '|') AS syms
      FROM (
        SELECT v.word, v.freq,
               list_reduce(list_prepend('§', v.syms), (acc, x) ->
                 CASE WHEN split_part(acc, '§', 2) = b.lsym AND x = b.rsym
                        THEN split_part(acc, '§', 1) || '|' || b.lsym || b.rsym
                             || '§'
                      WHEN split_part(acc, '§', 2) <> ''
                        THEN split_part(acc, '§', 1) || '|'
                             || split_part(acc, '§', 2) || '§' || x
                      ELSE split_part(acc, '§', 1) || '§' || x END) AS f
        FROM v{p} v CROSS JOIN b{t} b
      )
    )"""
        )
    return ",\n    ".join(parts)


_BPE_N = 12


@register(
    "bpe_train_merges",
    checkpointed=True,
    oracle="WITH "
    + _bpe_train_oracle_ctes(_BPE_N)
    + "\n    "
    + "\n    UNION ALL\n    ".join(
        f"SELECT {t} AS rank, lsym, rsym, pair_freq FROM b{t}"
        for t in range(1, _BPE_N + 1)
    )
    + "\n    ORDER BY rank",
    tags=("text", "bpe", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: 12 BPE merges over `documents`, trained
    distributed (vocab-scale iterations, 1-row driver state per merge).
    Deterministic: (freq DESC, left ASC, right ASC) argmax tie-break.
    Oracled by a full unrolled training replay (_bpe_train_oracle_ctes);
    independent pure-python parity in tests/test_bpe.py."""
    docs = load_table(spark, sf_dir, "documents")
    merges, _ = B.bpe_train(docs, num_merges=_BPE_N)
    rows = [
        (i + 1, left, right, freq) for i, (left, right, freq) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank INT, lsym STRING, rsym STRING, pair_freq BIGINT"
    )


@register(
    "bpe_encode_trained",
    checkpointed=True,
    oracle="WITH "
    + _bpe_train_oracle_ctes(_BPE_N)
    + f""",
    dw AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
      FROM documents
    )
    SELECT dw.doc_id, CAST(SUM(len(v.syms)) AS BIGINT) AS n_bpe_tokens
    FROM dw JOIN v{_BPE_N} v USING (word)
    GROUP BY dw.doc_id
    ORDER BY n_bpe_tokens DESC, doc_id
    LIMIT 20""",
    tags=("text", "bpe", "iterative"),
)
def bpe_encode_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 docs by token count under a trained 12-merge vocab: the
    full train → encode path. Encode never replays merges per token —
    the final vocab maps word → symbol count, so it is one corpus scan
    plus a broadcast word join. Oracled end-to-end through the unrolled
    training replay."""
    docs = load_table(spark, sf_dir, "documents")
    _, vocab = B.bpe_train(docs, num_merges=_BPE_N)
    return (
        # oracle-corpus vocab is bounded: force the broadcast (None)
        # rather than paying the size-probe count
        B.encode_token_counts(docs, vocab, max_broadcast_rows=None)
        .orderBy(F.desc("n_bpe_tokens"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Exact-substring decontamination (Lee et al. 2022 exact-match family):
# train docs sharing an exact 20-char window with a benchmark doc, via
# block-aligned train windows (stride w — 1/w row inflation, guarantees
# detection of shared runs >= 2w-1) joined to all-offset bench windows
# (bench corpora are eval-set-small). The augmented corpus' re-keyed
# copies of every 100th doc make true contaminations exist by
# construction: each copy fully contains its benchmark original.
@register(
    "decontaminate_exact_substring",
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    bench AS (
      SELECT doc_id, text FROM docs_aug
      WHERE doc_id % 10 = 0 AND doc_id < 1000000
    ),
    train AS (
      SELECT doc_id, text FROM docs_aug
      WHERE NOT (doc_id % 10 = 0 AND doc_id < 1000000)
    ),
    tb AS (
      SELECT doc_id AS train_doc, substr(text, (j - 1) * 20 + 1, 20) AS win
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) // 20)) AS j
            FROM train WHERE length(text) >= 20)
    ),
    bw AS (
      SELECT DISTINCT doc_id AS bench_doc, substr(text, i, 20) AS win
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 19)) AS i
            FROM bench WHERE length(text) >= 20)
    )
    SELECT t.train_doc, b.bench_doc,
           CAST(COUNT(DISTINCT t.win) AS BIGINT) AS n_matched_blocks
    FROM tb t JOIN bw b ON t.win = b.win
    GROUP BY t.train_doc, b.bench_doc
    ORDER BY t.train_doc, b.bench_doc
    """,
    tags=("training", "dedup", "decontamination"),
)
def decontaminate_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    is_bench = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1000000)
    bench = docs.where(is_bench)
    train = docs.where(~is_bench)
    return (
        TR.exact_substring_matches(train, bench, w=20)
        .select(
            "train_doc",
            "bench_doc",
            F.col("n_matched_blocks").cast("long").alias("n_matched_blocks"),
        )
        .orderBy("train_doc", "bench_doc")
    )


# --------------------------------------------------------------------------
# Containment similarity (doc-in-doc): |A∩B| / |A| — the ASYMMETRIC
# measure Jaccard misses (a short doc quoted inside a long one has high
# containment but low resemblance). Candidates come from the same
# shared-shingle postings join as the Jaccard path (never all pairs);
# the 90% threshold is integer cross-multiplication. Ordered pairs:
# (contained_doc, container_doc); exact copies qualify both ways.
@register(
    "dedup_containment_pairs",
    # r15: the shingle table is pinned (see builder).
    checkpointed=True,
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    cnt AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT m.doc_a AS contained_doc, m.doc_b AS container_doc,
           CAST(m.common AS BIGINT) AS common,
           CAST(ca.n_sh AS BIGINT) AS n_contained
    FROM common m
    JOIN cnt ca ON ca.doc_id = m.doc_a
    WHERE m.common * 10 >= ca.n_sh * 9
    ORDER BY contained_doc, container_doc
    """,
    tags=("dedup", "similarity"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    # r15 (guide §2.4): the shingle table feeds THREE consumers (both
    # overlap-join halves + the per-doc counts) — pinned once.
    sh = D.shingle_postings(docs).localCheckpoint()
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("contained_doc"),
            F.col("b.doc_id").alias("container_doc"),
        )
        .agg(F.count("*").alias("common"))
    )
    ca = cnt.select(
        F.col("doc_id").alias("contained_doc"), F.col("n_sh").alias("n_contained")
    )
    return (
        common.join(ca, "contained_doc")
        .where(F.col("common") * 10 >= F.col("n_contained") * 9)
        .select(
            "contained_doc",
            "container_doc",
            F.col("common").cast("long").alias("common"),
            F.col("n_contained").cast("long").alias("n_contained"),
        )
        .orderBy("contained_doc", "container_doc")
    )


# --------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup: split every document into
# variable-size chunks whose boundaries depend only on LOCAL content (the
# rolling hash of each adjacent word pair - a word-level Gear/Rabin
# analogue), then count duplicated chunks globally. Unlike fixed-stride
# chunking (corpus_sliding_chunks), CDC boundaries survive insertions:
# editing one sentence shifts at most the chunks that touch it, so
# shared chunks between near-identical docs still collide.
#
# Scale shape: the chunker is a pure per-row array expression (transform
# + array_join + split - zero shuffles, whole-stage codegen); the only
# shuffle is the final hash-aggregation on chunk_sig, a uniform
# high-cardinality key. No per-doc window, no ordinality join.
# Cross-engine: boundary = md5 32-bit prefix of "prev_word curr_word"
# % 16 == 0 (avg chunk ~16 words), identical in both engines; the U+0001
# marker trick reassembles chunk text without any positional join.
@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH docs_aug AS ({_AUG_SQL}),
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM docs_aug
    ),
    marked AS (
      SELECT doc_id,
             array_to_string(
               list_transform(tk, (x, i) -> CASE
                 WHEN i > 1 AND
                      CAST(('0x' || substr(md5(tk[i-1] || ' ' || x), 1, 8))
                           AS BIGINT) % 16 = 0
                 THEN chr(1) || x ELSE x END),
               ' ') AS marked_text
      FROM toks
    ),
    chunks AS (
      SELECT doc_id,
             unnest(string_split(marked_text, ' ' || chr(1))) AS chunk
      FROM marked
    )
    SELECT md5(chunk) AS chunk_sig,
           CAST(count(*) AS BIGINT) AS n_occur,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(len(string_split(chunk, ' '))) AS BIGINT) AS n_tokens
    FROM chunks
    GROUP BY chunk_sig
    HAVING count(*) > 1
    ORDER BY n_occur DESC, chunk_sig
    LIMIT 100
    """,
    tags=("dedup", "training"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _augmented_docs(spark, sf_dir)
    base = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("tk")
    )

    def mark(x, i):
        # previous word: the 0-based lambda index i IS the 1-based index
        # of the predecessor; greatest() guards the (unused) i=0 lookup.
        prev = F.element_at(F.col("tk"), F.greatest(i, F.lit(1)))
        h = F.conv(
            F.substring(F.md5(F.concat(prev, F.lit(" "), x)), 1, 8), 16, 10
        ).cast("long")
        return F.when(
            (i > F.lit(0)) & (h % 16 == 0), F.concat(F.lit("\u0001"), x)
        ).otherwise(x)

    chunks = base.select(
        "doc_id",
        F.explode(
            F.split(F.array_join(F.transform("tk", mark), " "), " \u0001")
        ).alias("chunk"),
    )
    return (
        chunks.groupBy(F.md5("chunk").alias("chunk_sig"))
        .agg(
            F.count("*").cast("long").alias("n_occur"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min(F.size(F.split(F.col("chunk"), " ")))
            .cast("long")
            .alias("n_tokens"),
        )
        .where(F.col("n_occur") > 1)
        .orderBy(F.desc("n_occur"), "chunk_sig")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Diversity-promoting sampling: one representative document per
# SimHash-LSH bucket (top 8 signature bits), picking the longest doc in
# each bucket (ties -> lowest doc_id). The one-per-bucket shape is the
# scale-safe diversified sampler: the per-bucket argmax is a single
# map-side-combinable max(struct) aggregation - no window, no per-bucket
# sort, no skew beyond the 256-way bucket key.
@register(
    "sample_diverse_lsh",
    oracle=f"""
    WITH sim AS (
      WITH docs_aug AS (SELECT doc_id, text FROM documents),
      {_simhash_sql()}
    ),
    scored AS (
      SELECT s.doc_id,
             CAST(s.simhash >> 24 AS BIGINT) AS bucket,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM sim s JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT bucket, doc_id, n_tokens,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM scored
    )
    SELECT bucket, doc_id, n_tokens FROM ranked WHERE rn = 1 ORDER BY bucket
    """,
    tags=("training", "dedup", "sampling"),
)
def sample_diverse_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sim = D.simhash(docs)
    scored = sim.join(
        docs.select(
            "doc_id", TX.token_count(F.col("text")).cast("long").alias("n_tokens")
        ),
        "doc_id",
    ).select(
        F.shiftright("simhash", 24).cast("long").alias("bucket"),
        "doc_id",
        "n_tokens",
    )
    # argmax(n_tokens, min doc_id) per bucket as a plain aggregation:
    # max(struct) orders by n_tokens first, then by -doc_id (so the max
    # struct carries the LOWEST doc_id among length ties).
    best = scored.groupBy("bucket").agg(
        F.max(
            F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("b")
    )
    return best.select(
        "bucket",
        (-F.col("b.neg_id")).cast("long").alias("doc_id"),
        F.col("b.n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("bucket")


# --------------------------------------------------------------------------
# Trigram novelty: for each document, the fraction of its DISTINCT word
# trigrams whose FIRST corpus occurrence (lowest doc_id) is this
# document — an originality score for dedup-aware curation (a doc built
# from already-seen fragments scores near 0 even when no single source
# passes a pairwise dedup threshold). Exact integer counts; the ratio is
# one IEEE division. Shape: explode distinct trigrams, min(doc_id) per
# trigram (uniform high-cardinality key), join back, per-doc rollup —
# two gram-keyed shuffles and one doc-keyed rollup, all
# partial-aggregatable.
@register(
    "text_trigram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, g
      FROM (
        SELECT doc_id,
               unnest(list_transform(tk, (x, i) -> CASE
                 WHEN i <= len(tk) - 2
                 THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END)) AS g
        FROM toks
      ) WHERE g IS NOT NULL
    ),
    firsts AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g)
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
    FROM grams gr JOIN firsts f USING (g)
    GROUP BY gr.doc_id ORDER BY gr.doc_id
    """,
    tags=("text", "dedup", "training"),
)
def text_trigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select("doc_id", tk.alias("tk"))
    from ftm_datalake_spark.operators.textops import ngram_array

    gram_arr = ngram_array(F.col("tk"), 3)
    grams = (
        base.select("doc_id", F.explode(gram_arr).alias("g"))
        .distinct()
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_grams")).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Source-level vocabulary overlap: pairwise Jaccard between the distinct
# token vocabularies of each corpus source — the corpus-composition
# diagnostic (how much do two scrape sources share?). The (source,
# token) distinct frame shuffles once on token for the pair
# intersection; per-source sizes broadcast back (sources are few). All
# integers; one IEEE division.
@register(
    "docs_source_vocab_overlap",
    oracle="""
    WITH st AS (
      SELECT DISTINCT source,
             unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
      FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa.n + sb.n - n_inter AS BIGINT) AS n_union,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
    tags=("text", "dedup", "stats"),
)
def docs_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count("*").alias("n"))
    a = st.select(F.col("source").alias("source_a"), "token")
    b = st.select(F.col("source").alias("source_b"), "token")
    inter = (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a", "source_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.col("n_inter"))
            .cast("long")
            .alias("n_union"),
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# Collocation mining (round 5): top-20 adjacent word pairs by pointwise
# mutual information over the documents corpus. PMI = log(n_ab*N /
# (n_a*n_b)) is monotone in the integer rational n_ab*N / (n_a*n_b), so
# the RANKING never computes a log: the score is quantized to exact
# integer ppm via the (s - s % d) / d identity and ties break on the
# pair — bit-exact ordering in both engines. Scale shape: one corpus
# scan explodes bigrams, then everything is hash-aggs over the
# vocabulary-scale frames; the unigram marginals broadcast back.
@register(
    "text_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents
    ),
    bi AS (
      SELECT ws[i] AS a, ws[i + 1] AS b
      FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM toks)
    ),
    pair_n AS (SELECT a, b, COUNT(*) AS n_ab FROM bi GROUP BY a, b),
    uni AS (
      SELECT w, COUNT(*) AS n FROM (
        SELECT a AS w FROM bi UNION ALL SELECT b FROM bi) GROUP BY w
    ),
    tot AS (SELECT COUNT(*) AS big_n FROM bi),
    scored AS (
      SELECT p.a, p.b, p.n_ab,
             ua.n AS n_a, ub.n AS n_b,
             (p.n_ab * t.big_n * 1000000
              - (p.n_ab * t.big_n * 1000000) % (ua.n * ub.n))
               / (ua.n * ub.n) AS score_ppm
      FROM pair_n p
      JOIN uni ua ON ua.w = p.a
      JOIN uni ub ON ub.w = p.b
      CROSS JOIN tot t
      WHERE p.n_ab >= 5
    )
    SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(score_ppm AS BIGINT) AS score_ppm
    FROM scored
    ORDER BY score_ppm DESC, a, b
    LIMIT 20
    """,
    tags=("text", "analytics"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    # adjacent pairs via zip_with over aligned slices — the old inline
    # transform re-ran regexp_extract_all PER ELEMENT (see
    # textops.ngram_array); the regex now runs once per row
    m = F.greatest(F.size(F.col("w")) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(F.col("w"), 1, m),
        F.slice(F.col("w"), 2, m),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    bi = (
        docs.select(ws.alias("w"))
        .select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
    )
    pair_n = bi.groupBy("a", "b").agg(F.count("*").alias("n_ab"))
    uni = (
        bi.select(F.col("a").alias("w"))
        .unionAll(bi.select(F.col("b").alias("w")))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    big_n = bi.agg(F.count("*").alias("big_n"))
    ua = uni.select(F.col("w").alias("a"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("n").alias("n_b"))
    scored = (
        pair_n.where(F.col("n_ab") >= 5)
        .join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(big_n))
    )
    num = F.col("n_ab") * F.col("big_n") * F.lit(1_000_000)
    den = F.col("n_a") * F.col("n_b")
    score = ((num - num % den) / den).cast("long")
    return (
        scored.select(
            "a",
            "b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            score.alias("score_ppm"),
        )
        .orderBy(F.col("score_ppm").desc(), "a", "b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Language-ID evaluation (round 5): confusion matrix of the marker-based
# predictor against the table's ground-truth lang column, with exact
# integer per-class recall in ppm — the standard classifier-evaluation
# op, over the same zero-shuffle scoring path as text_langid.
@register(
    "text_langid_confusion",
    oracle="""
    WITH c AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text, '\\b(the|a|of)\\b')) AS BIGINT) AS n_en,
             CAST(len(regexp_extract_all(text, '\\b(der|die|und)\\b')) AS BIGINT) AS n_de,
             CAST(len(regexp_extract_all(text, '\\b(le|la|et)\\b')) AS BIGINT) AS n_fr,
             CAST(len(regexp_extract_all(text, '\\b(el|los|y)\\b')) AS BIGINT) AS n_es
      FROM documents
    ),
    pred AS (
      SELECT lang AS actual,
             CASE WHEN n_en = 0 AND n_de = 0 AND n_fr = 0 AND n_es = 0 THEN 'und'
                  WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
                  WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
                  WHEN n_fr >= n_es THEN 'fr'
                  ELSE 'es' END AS predicted
      FROM c
    ),
    cells AS (
      SELECT actual, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2
    ),
    totals AS (SELECT actual, SUM(n) AS class_n FROM cells GROUP BY actual)
    SELECT c.actual, c.predicted, CAST(c.n AS BIGINT) AS n,
           CAST(t.class_n AS BIGINT) AS class_n,
           CAST((c.n * 1000000 - (c.n * 1000000) % t.class_n) / t.class_n
                AS BIGINT) AS share_ppm
    FROM cells c JOIN totals t USING (actual)
    ORDER BY actual, predicted
    """,
    tags=("text", "analytics", "agg"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("actual"),
        TX.predict_lang(F.col("text")).alias("predicted"),
    )
    cells = pred.groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    totals = cells.groupBy("actual").agg(F.sum("n").alias("class_n"))
    scaled = F.col("n") * F.lit(1_000_000)
    share = ((scaled - scaled % F.col("class_n")) / F.col("class_n")).cast("long")
    return (
        cells.join(totals, "actual")
        .select(
            "actual",
            "predicted",
            F.col("n").cast("long").alias("n"),
            F.col("class_n").cast("long").alias("class_n"),
            share.alias("share_ppm"),
        )
        .orderBy("actual", "predicted")
    )


# --------------------------------------------------------------------------
# Zipf head-slope fit: least-squares slope of floor(log2 freq) against
# floor(log2 rank) over the top-1000 vocabulary ranks — the corpus
# health check (natural text ~ -1; spam/boilerplate bends the head).
# Integer-exact: the log2s are binary-string lengths, the slope is one
# integer cross-multiplication scaled to milli units (all sums bounded
# by the FIXED 1000-rank head, so nothing overflows at any corpus
# size — and the head is also the statistically right Zipf window).
# The rank window runs over the vocab-collapsed count frame, and the
# fit is a 1-row scalar — the eval_auc two-phase shape.
@register(
    "text_zipf_slope",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    freq AS (
      SELECT token, COUNT(*) AS f FROM tok WHERE token <> ''
      GROUP BY token
    ),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY f DESC, token) AS r, f
      FROM freq
    ),
    pts AS (
      SELECT length(bin(r)) - 1 AS x, length(bin(f)) - 1 AS y
      FROM ranked WHERE r <= 1000
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts
    )
    SELECT CAST((SELECT COUNT(*) FROM freq) AS BIGINT) AS vocab_size,
           CAST(n AS BIGINT) AS head_ranks,
           CAST(((n * sxy - sx * sy) * 1000)
                // (n * sxx - sx * sx) AS BIGINT) AS slope_milli
    FROM s
    """,
    tags=("text", "stats", "corpus"),
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    freq = tok.groupBy("token").agg(F.count("*").alias("f"))
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), "token"))
    )
    flog2 = lambda c: (F.length(F.conv(c.cast("long"), 10, 2)) - 1).cast("long")  # noqa: E731
    pts = ranked.where(F.col("r") <= 1000).select(
        flog2(F.col("r")).alias("x"), flog2(F.col("f")).alias("y")
    )
    s = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    vocab = freq.agg(F.count("*").alias("vocab_size"))
    return (
        s.crossJoin(F.broadcast(vocab))
        .select(
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.col("n").cast("long").alias("head_ranks"),
            F.expr(
                "((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx)"
            ).cast("long").alias("slope_milli"),
        )
    )


# --------------------------------------------------------------------------
# Hapax / type-token vocabulary health per source (round 11): the
# share of a source's vocabulary seen exactly once (hapax legomena)
# and its type-token ratio — the standard corpus-health companions to
# the Zipf head slope (a scraped-to-death source shows collapsing
# hapax share; boilerplate shows a cratering TTR). One corpus-scale
# hash agg to (source, token) counts (map-side combined), then a
# per-source fold over the vocabulary frame; ratios are integer-exact
# scaled divisions.
@register(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents),
    vf AS (SELECT source, token, COUNT(*) AS freq
           FROM tok GROUP BY source, token)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST((SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * 1000000)
                // COUNT(*) AS BIGINT) AS hapax_share_x1e6,
           CAST((COUNT(*) * 1000000) // SUM(freq) AS BIGINT)
             AS type_token_x1e6
    FROM vf GROUP BY source ORDER BY source
    """,
    tags=("text", "quality", "agg"),
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.textops import tokens

    docs = load_table(spark, sf_dir, "documents")
    vf = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("freq"))
    )
    return (
        vf.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("vocab_size"),
            F.sum("freq").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
        )
        .select(
            "source",
            "vocab_size",
            "n_tokens",
            "n_hapax",
            F.expr("(n_hapax * 1000000L) div vocab_size")
            .cast("long")
            .alias("hapax_share_x1e6"),
            F.expr("(vocab_size * 1000000L) div n_tokens")
            .cast("long")
            .alias("type_token_x1e6"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Heaps'-law vocabulary-growth slope per source (round 12): V(N) ~ K*N^b
# — sub-linear vocab growth is the signature of natural text, and a
# source whose slope approaches 1 is emitting near-random tokens (a
# strong corpus-QA signal). Per doc (in doc_id order): cumulative token
# count T and cumulative distinct vocab V (exact, via each token's
# FIRST containing doc — one hash agg, no cumulative-distinct window);
# the slope is OLS over (log2 T, log2 V) in the integer bit-length
# staircase (length(bin(x)) - 1, the text_zipf_slope idiom — zero libm
# in the hash-compared result). The per-doc cumulatives run as ONE
# two-phase global cumsum over (source, doc_id) minus per-source
# offsets from the tiny source-totals frame — a per-source window
# would funnel each source's doc rows through a single task, which at
# 100 TB is millions of rows per task; the range-partitioned cumsum
# spreads them across the cluster.
@register(
    "corpus_heaps_law",
    oracle="""
    WITH tok AS (
      SELECT source, doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    tc AS (
      SELECT source, doc_id, COUNT(*) AS n_tok
      FROM tok WHERE token <> '' GROUP BY source, doc_id
    ),
    firsts AS (
      SELECT source, token, MIN(doc_id) AS first_doc
      FROM tok WHERE token <> '' GROUP BY source, token
    ),
    nv AS (
      SELECT source, first_doc AS doc_id, COUNT(*) AS n_new
      FROM firsts GROUP BY source, first_doc
    ),
    per_doc AS (
      SELECT tc.source, tc.doc_id, tc.n_tok, COALESCE(nv.n_new, 0) AS n_new
      FROM tc LEFT JOIN nv
        ON nv.source = tc.source AND nv.doc_id = tc.doc_id
    ),
    cum AS (
      SELECT source,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS t,
             SUM(n_new) OVER (PARTITION BY source ORDER BY doc_id) AS v
      FROM per_doc
    ),
    pts AS (
      SELECT source, length(bin(t)) - 1 AS x, length(bin(v)) - 1 AS y
      FROM cum
    ),
    s AS (
      SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE ((n * sxy - sx * sy) * 1000) // (n * sxx - sx * sx)
                END AS BIGINT) AS slope_milli
    FROM s ORDER BY source
    """,
    tags=("text", "stats", "corpus"),
    checkpointed=True,
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.rank import with_global_cumsums

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    tc = tok.groupBy("source", "doc_id").agg(F.count("*").alias("n_tok"))
    firsts = tok.groupBy("source", "token").agg(
        F.min("doc_id").alias("doc_id")
    )
    nv = firsts.groupBy("source", "doc_id").agg(
        F.count("*").alias("n_new")
    )
    per_doc = tc.join(nv, ["source", "doc_id"], "left").select(
        "source",
        "doc_id",
        "n_tok",
        F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
    )
    cum = with_global_cumsums(
        per_doc, ["source", "doc_id"], [("n_tok", "ct"), ("n_new", "cv")]
    )
    # per-source start offsets: cumsum over the |sources|-row totals
    # frame (same two-phase helper — tiny, but no 1-partition window)
    stot = per_doc.groupBy("source").agg(
        F.sum("n_tok").alias("tt"), F.sum("n_new").alias("tv")
    )
    offs = with_global_cumsums(
        stot, ["source"], [("tt", "ot"), ("tv", "ov")]
    ).select(
        "source",
        (F.col("ot") - F.col("tt")).alias("off_t"),
        (F.col("ov") - F.col("tv")).alias("off_v"),
    )
    bitlen = lambda c: (F.length(F.conv(c.cast("long"), 10, 2)) - 1).cast("long")  # noqa: E731
    pts = cum.join(F.broadcast(offs), "source").select(
        "source",
        bitlen(F.col("ct") - F.col("off_t")).alias("x"),
        bitlen(F.col("cv") - F.col("off_v")).alias("y"),
    )
    s = pts.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN NULL"
            " ELSE ((n * sxy - sx * sy) * 1000) div (n * sxx - sx * sx)"
            " END AS LONG)"
        ).alias("slope_milli"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Per-source total-variation divergence from the corpus unigram
# distribution (round 12): TVD = (1/2) * sum_t |p_t - q_t| — the
# domain-shift score a mixing pipeline uses to spot sources whose
# token distribution drifts from the corpus it is feeding. Exact
# rational arithmetic: |c_st*C - c_t*C_s| summed as integers, one
# DECIMAL(38) floor division at the end — no logs, no floats (KL needs
# libm; TVD carries the same signal hash-exactly).
@register(
    "text_source_divergence",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    st AS (
      SELECT source, token, COUNT(*) AS c_st
      FROM tok WHERE token <> '' GROUP BY source, token
    ),
    srctot AS (SELECT source, SUM(c_st) AS c_s FROM st GROUP BY source),
    gt AS (SELECT token, SUM(c_st) AS c_t FROM st GROUP BY token),
    tot AS (SELECT SUM(c_t) AS c FROM gt),
    terms AS (
      SELECT st.source,
             ABS(st.c_st * tot.c - gt.c_t * srctot.c_s) AS num
      FROM st
      JOIN gt ON gt.token = st.token
      JOIN srctot ON srctot.source = st.source
      CROSS JOIN tot
    )
    SELECT t.source,
           CAST(s2.c_s AS BIGINT) AS n_tokens,
           CAST((SUM(t.num)::HUGEINT * 1000000)
                // (2::HUGEINT * s2.c_s * tt.c) AS BIGINT) AS tvd_ppm
    FROM terms t
    JOIN srctot s2 ON s2.source = t.source
    CROSS JOIN tot tt
    GROUP BY t.source, s2.c_s, tt.c
    ORDER BY t.source
    """,
    tags=("text", "stats", "corpus"),
)
def text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    ).where(F.col("token") != "")
    st = tok.groupBy("source", "token").agg(F.count("*").alias("c_st"))
    srctot = st.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    glob = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    tot = glob.agg(F.sum("c_t").alias("c"))
    terms = (
        st.join(glob, "token")
        .join(F.broadcast(srctot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "c_s",
            "c",
            F.abs(
                F.col("c_st") * F.col("c") - F.col("c_t") * F.col("c_s")
            ).alias("num"),
        )
    )
    agg = terms.groupBy("source", "c_s", "c").agg(
        F.sum(F.col("num").cast("decimal(38,0)")).alias("num_sum")
    )
    # exact floor of a decimal ratio: subtract the remainder first so
    # the division is exact (Spark decimal division ROUNDS to the
    # result scale, which could cross the floor boundary)
    scaled = agg.select(
        "source",
        F.col("c_s").cast("long").alias("n_tokens"),
        (F.col("num_sum") * F.lit(1000000)).alias("snum"),
        (F.lit(2).cast("decimal(38,0)") * F.col("c_s") * F.col("c")).alias(
            "den"
        ),
    )
    return scaled.select(
        "source",
        "n_tokens",
        ((F.col("snum") - F.pmod(F.col("snum"), F.col("den"))) / F.col("den"))
        .cast("long")
        .alias("tvd_ppm"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# Tokenizer fertility by language (round 12): BPE-ish pre-tokens per
# whitespace word — the per-language cost multiplier a token-budgeted
# training mix pays (fertility near 1 for well-covered languages,
# higher where the pre-tokenizer fragments). Exact integer counts and
# one ppm floor division; same pre-tokenization regex as
# text_bpe_tokens.
@register(
    "text_tokenizer_fertility",
    oracle="""
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
             AS n_bpe_tokens,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
             AS n_words,
           CAST(SUM(len(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) * 1000000
                // SUM(len(string_split_regex(trim(text), '\\s+')))
                AS BIGINT) AS fertility_ppm
    FROM documents
    GROUP BY lang ORDER BY lang
    """,
    tags=("text", "stats"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pattern = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    per = docs.select(
        "lang",
        F.regexp_count(F.col("text"), F.lit(pattern)).alias("bpe"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("words"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.sum("bpe").cast("long").alias("n_bpe_tokens"),
            F.sum("words").cast("long").alias("n_words"),
        )
        .select(
            "lang",
            "n_bpe_tokens",
            "n_words",
            F.expr("(n_bpe_tokens * 1000000) div n_words")
            .cast("long")
            .alias("fertility_ppm"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Duplicate FAMILIES (round 12): MinHash-LSH candidate pairs collapsed
# into connected components — the step between pair discovery and
# actually deleting duplicates: a family of N near-identical docs is
# ONE cluster keeping ONE representative (the min doc_id, exactly how
# FTM canonical ids collapse merged entities), not N*(N-1)/2 unrelated
# pairs. Spark side: operators/components.connected_components
# (synchronous min-label propagation, one equi-join + one agg per
# round, run to convergence). Oracle: the SAME synchronous schedule
# unrolled 10 rounds — once converged, further rounds are fixpoints,
# so the results agree whenever the candidate graph's diameter is
# <= 10 (duplicate families are near-cliques; convergence is 2-3
# rounds). The members CSV is the oracle-readable demo form; the scale
# form is the operator's (node, component) pair rows.
def _oracle_cc(iters: int) -> str:
    head = f"""
    WITH docs_aug AS ({_AUG_SQL}),
    sh AS ({_SHINGLES_SQL}),
    {_BANDS_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
    ),
    edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
    l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS comp FROM edges)"""
    steps = "".join(
        f""",
    l{k + 1} AS MATERIALIZED (
      SELECT l.node, LEAST(l.comp, COALESCE(m.mn, l.comp)) AS comp
      FROM l{k} l LEFT JOIN (
        SELECT e.a AS node, MIN(l2.comp) AS mn
        FROM edges e JOIN l{k} l2 ON l2.node = e.b
        GROUP BY e.a) m ON m.node = l.node)"""
        for k in range(iters)
    )
    return head + steps + f"""
    SELECT CAST(comp AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removable,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM l{iters}
    GROUP BY comp
    ORDER BY cluster_id
    """


@register(
    "dedup_minhash_clusters",
    oracle=_oracle_cc(10),
    tags=("dedup", "iterative"),
    checkpointed=True,
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.components import connected_components

    docs = _augmented_docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(D.shingle_postings(docs))
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        comp.groupBy("component")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.count("*") - 1).cast("long").alias("n_removable"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("node")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .select(
            F.col("component").cast("long").alias("cluster_id"),
            "n_docs",
            "n_removable",
            "members",
        )
        .orderBy("cluster_id")
    )
