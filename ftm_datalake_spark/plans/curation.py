"""Flagship training-corpus curation pipeline: quality-filter → exact
dedup (keep lowest id) → language tag — the composed form of the text/
dedup operators, as one declarative plan with a full DuckDB oracle.

This is the shape a 100 TB pretraining-data pass takes: all stages are
projections or one hash-shuffle (the dedup groupBy); nothing is holistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ftm_datalake_spark.operators import textops as TX
from ftm_datalake_spark.plans.registry import register
from ftm_datalake_spark.sources.tables import load_table


@register(
    "corpus_curation",
    oracle="""
    WITH feat AS (
      SELECT doc_id, text, lang,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '\\b(the|a|of|and|is|in)\\b')) AS BIGINT) AS n_stop
      FROM documents
    ),
    quality AS (
      SELECT doc_id, text, lang, n_tokens,
             CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
      FROM feat
      WHERE n_tokens >= 20 AND CAST(n_stop AS DOUBLE) / n_tokens < 0.30
    ),
    deduped AS (
      SELECT doc_id, lang, n_tokens, stop_ratio,
             row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM quality
    )
    SELECT doc_id, lang, n_tokens, stop_ratio
    FROM deduped WHERE rn = 1
    ORDER BY doc_id
    """,
    tags=("text", "dedup", "flagship", "bench"),
    bench=True,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = TX.token_count(text).cast("long")
    n_stop = F.regexp_count(text, F.lit(TX.STOPWORD_PATTERN)).cast("long")
    feat = docs.select("doc_id", "text", "lang", n_tokens.alias("n_tokens"),
                       n_stop.alias("n_stop"))
    quality = feat.select(
        "doc_id",
        "text",
        "lang",
        "n_tokens",
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stop_ratio"),
    ).where(
        (F.col("n_tokens") >= 20)
        & ((F.col("n_stop").cast("double") / F.col("n_tokens")) < 0.30)
    )
    # r14 (guide §2.3): the rn=1 dedup window shuffled + sorted every
    # surviving row; groupBy(md5) + min_by does the same keep-lowest-id
    # with map-side partial aggregation and no per-group sort. One
    # candidate row per content hash crosses the exchange.
    keep = quality.groupBy(F.md5(F.col("text")).alias("__h")).agg(
        F.min_by(
            F.struct("doc_id", "lang", "n_tokens", "stop_ratio"), F.col("doc_id")
        ).alias("__w")
    )
    return keep.select(
        "__w.doc_id", "__w.lang", "__w.n_tokens", "__w.stop_ratio"
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# The WHOLE preprocessing pipeline as one declarative plan: Gopher
# gates → CCNet segment dedup → exact canonical dedup on the cleaned
# signature → per-source mixing quotas → realized-mix stats. Catalyst
# sees a single DAG (filters push into the scan, the only shuffles are
# the segment-frequency agg, the signature dedup window, and the
# per-source quota window). The oracle chains the same four verified
# fragments, so the END-TO-END composition is hash-checked, not just
# its pieces.
@register(
    "corpus_pipeline_e2e",
    oracle="""
    WITH gates AS (
      SELECT doc_id, text, source FROM (
        SELECT doc_id, text, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(length(replace(text, ' ', '')) AS BIGINT) AS total_chars,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ('the', 'a', 'of'))) AS BIGINT)
                 AS stop_hits,
               CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT)
                 AS symbols
        FROM documents)
      WHERE n_words >= 30 AND n_words <= 100000
        AND total_chars >= 3 * n_words AND total_chars <= 10 * n_words
        AND stop_hits >= 2 AND symbols * 10 <= total_chars
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM gates),
    segs AS (
      SELECT doc_id, s.i AS seg_idx,
             array_to_string(tk[(s.i*8+1):(s.i*8+8)], ' ') AS seg
      FROM toks, LATERAL (
        SELECT unnest(range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT))) AS i) s
    ),
    freq AS (SELECT md5(seg) AS seg_key, COUNT(*) AS n
             FROM segs GROUP BY md5(seg)),
    clean AS (
      SELECT s.doc_id,
             md5(COALESCE(string_agg(CASE WHEN f.n <= 1 THEN s.seg END, ' '
                                     ORDER BY s.seg_idx), '')) AS clean_sig
      FROM segs s JOIN freq f ON f.seg_key = md5(s.seg)
      GROUP BY s.doc_id
    ),
    canon AS (
      SELECT doc_id, clean_sig FROM (
        SELECT doc_id, clean_sig,
               row_number() OVER (PARTITION BY clean_sig ORDER BY doc_id) AS rn
        FROM clean) WHERE rn = 1
    ),
    mixable AS (
      SELECT g.source, c.doc_id,
             CASE WHEN g.source IN ('src0','src1','src2') THEN 80
                  WHEN g.source IN ('src3','src4','src5') THEN 50
                  ELSE 20 END AS pct,
             row_number() OVER (
               PARTITION BY g.source
               ORDER BY md5(CAST(c.doc_id AS VARCHAR)), c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY g.source) AS n
      FROM canon c JOIN gates g USING (doc_id)
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS deduped_docs,
           COUNT(*) AS selected,
           CAST(SUM(doc_id) AS BIGINT) AS selected_checksum
    FROM mixable
    WHERE rn * 100 <= pct * n
    GROUP BY source
    ORDER BY source
    """,
    tags=("composed", "training", "dedup", "quality", "bench"),
    bench=True,
)
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ftm_datalake_spark.operators.textops import (
        gopher_pass_predicate,
        segment_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    # r14 (guide §2.4; plan diff in
    # plans/r14/corpus_pipeline_e2e_{before,after}.txt): the Gopher gate
    # is applied as an in-scan predicate (gopher_pass_predicate) instead
    # of computing gopher_rules as a separate frame and joining the
    # surviving doc_ids back against the documents table — one corpus
    # scan and one corpus-scale join removed. Two rejected variants,
    # both measured slower at sf0.1: carrying `source` through
    # segment_dedup (adds payload to the exploded-segment shuffle,
    # ~+10%) and replacing the rn=1 window with groupBy(clean_sig) +
    # min_by (the window already map-side-prunes to one row per key via
    # WindowGroupLimit; min_by measured a wash-to-slightly-slower).
    gated = docs.where(gopher_pass_predicate(F.col("text"))).select(
        "doc_id", "text", "source"
    )
    cleaned = segment_dedup(gated).select("doc_id", "clean_sig")
    w_dedup = Window.partitionBy("clean_sig").orderBy("doc_id")
    canon = (
        cleaned.withColumn("rn", F.row_number().over(w_dedup))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    pct = (
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit(80))
        .when(F.col("source").isin("src3", "src4", "src5"), F.lit(50))
        .otherwise(F.lit(20))
    )
    w_mix = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    mixable = (
        canon.join(gated.select("doc_id", "source"), "doc_id")
        .select(
            "source",
            "doc_id",
            pct.alias("pct"),
            F.row_number().over(w_mix).alias("rn"),
            F.count("*").over(Window.partitionBy("source")).alias("n"),
        )
    )
    return (
        mixable.where(F.col("rn") * 100 <= F.col("pct") * F.col("n"))
        .groupBy("source")
        .agg(
            F.max("n").cast("long").alias("deduped_docs"),
            F.count("*").alias("selected"),
            F.sum("doc_id").cast("long").alias("selected_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# CCNet head/middle/tail bucketing (Wenzek et al., LREC 2020): score
# every doc with the integer corpus-LM surprisal (the lm_surprisal
# recipe over ALL docs), cut the corpus into perplexity tertiles with
# EXACT integer boundaries, and report per-source bucket counts. The
# tertile cutoffs come from a cumsum over the per-SCORE count frame —
# data collapses to |distinct scores| rows before the only
# single-partition exchange (the eval_auc_quality two-phase idiom) —
# and ship back as a broadcast 1-row scalar. head = lowest surprisal
# (the most in-distribution text), exactly CCNet's orientation.
@register(
    "quality_perplexity_buckets",
    # r14: trigram + doc-score tables checkpointed (guide §2.4 — the
    # pipeline re-ran once per consumer chain).
    checkpointed=True,
    oracle="""
    WITH tri AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, len(tokens) - 2),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
             )) AS trigram
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
            FROM documents)
    ),
    lm AS (SELECT trigram, COUNT(*) AS freq FROM tri GROUP BY trigram),
    occ AS (
      SELECT t.doc_id, 40 - (length(bin(l.freq)) - 1) AS surprisal
      FROM tri t JOIN lm l USING (trigram)
    ),
    doc AS (
      SELECT doc_id,
             CAST((SUM(surprisal) * 1000) // COUNT(*) AS BIGINT) AS score
      FROM occ GROUP BY doc_id
    ),
    sc AS (SELECT score, COUNT(*) AS n FROM doc GROUP BY score),
    cum AS (SELECT score, SUM(n) OVER (ORDER BY score) AS cumn FROM sc),
    tot AS (SELECT COUNT(*) AS total FROM doc),
    cuts AS (
      SELECT MIN(CASE WHEN cumn * 3 >= total THEN score END) AS t1,
             MIN(CASE WHEN cumn * 3 >= 2 * total THEN score END) AS t2
      FROM cum, tot
    )
    SELECT d2.source,
           CASE WHEN doc.score <= cuts.t1 THEN 'head'
                WHEN doc.score <= cuts.t2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM doc, cuts JOIN documents d2 ON doc.doc_id = d2.doc_id
    GROUP BY 1, 2 ORDER BY source, bucket
    """,
    tags=("quality", "training", "ccnet"),
)
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.textops import ngram_array, tokens

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "source", tokens(F.col("text")).alias("tk"))
    # r14 (guide §2.4): `tri` feeds the LM frequency aggregate AND the
    # per-occurrence join, and `doc` feeds three consumers (bucket
    # histogram, total, final labeling) — un-pinned, Spark re-ran the
    # scan→tokenize→trigram-explode pipeline once per consumer chain
    # (up to 6 times). Two checkpoints — the trigram table and the
    # doc-scale score table — make each stage run once.
    tri = (
        toked.where(F.size("tk") >= 3)
        .select(
            "doc_id", F.explode(ngram_array(F.col("tk"), 3)).alias("trigram")
        )
        .localCheckpoint()
    )
    lm = tri.groupBy("trigram").agg(F.count("*").alias("freq"))
    floor_log2 = F.length(F.conv(F.col("freq"), 10, 2)) - 1
    occ = tri.join(lm, "trigram").select(
        "doc_id", (F.lit(40) - floor_log2).alias("surprisal")
    )
    doc = (
        occ.groupBy("doc_id")
        .agg(
            F.floor((F.sum("surprisal") * 1000) / F.count("*"))
            .cast("long")
            .alias("score")
        )
        .localCheckpoint()
    )
    sc = doc.groupBy("score").agg(F.count("*").alias("n"))
    wcum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    cum = sc.withColumn("cumn", F.sum("n").over(wcum))
    tot = doc.agg(F.count("*").alias("total"))
    cuts = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.when(F.col("cumn") * 3 >= F.col("total"), F.col("score")))
            .alias("t1"),
            F.min(
                F.when(F.col("cumn") * 3 >= 2 * F.col("total"), F.col("score"))
            ).alias("t2"),
        )
    )
    bucket = (
        F.when(F.col("score") <= F.col("t1"), "head")
        .when(F.col("score") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    labeled = (
        doc.crossJoin(F.broadcast(cuts))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", bucket.alias("bucket"))
    )
    return (
        labeled.groupBy("source", "bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("source", "bucket")
    )
