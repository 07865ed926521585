"""Entity-resolution blocking: rare-token block keys, bounded candidate
generation, and set-overlap scoring for cross-dataset record matching.

The reference aggregates statements into entities per dataset
(/root/reference/docs/rfc.md:63-73) but leaves cross-dataset identity
resolution to downstream consumers. This operator family supplies that
step Spark-first, using the standard blocking-then-verify shape that
survives 100 TB:

- **Block key**: each record is keyed by its k *rarest* tokens (lowest
  document frequency, ties broken lexically). Rare tokens are the most
  discriminative, so block sizes stay small on natural corpora; a hard
  `max_block_size` cap drops degenerate blocks (stopword-like keys) so
  candidate generation is bounded *by construction* — the classic
  token-blocking + block-purging scheme from the ER literature.
- **Candidates**: an equi-join of records on block_key, restricted to
  cross-source pairs with `doc_a < doc_b` — a shuffle on a bounded-fanout
  key, never an all-pairs product.
- **Scoring**: distinct-token Jaccard via postings joins — candidates ×
  left-doc postings, then an equi-join on (right doc, token) — integer
  counts all the way, with the threshold applied as integer arithmetic
  (`n_inter * 10 >= n_union * 8` for 0.8) so the cut is bit-exact across
  engines.

Everything is built-in Column expressions (one window per doc bounded by
doc length, hash-agg joins); no Python boundary anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ftm_datalake_spark.operators.textops import tokens


def distinct_token_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Exploded distinct (doc_id, source, token) postings, empty tokens
    dropped. One explode + one distinct (single shuffle)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .where(F.col("token") != "")
        .distinct()
    )


def rare_token_block_keys(
    postings: DataFrame, k: int = 2, carry_tokens: bool = False
) -> DataFrame:
    """One block key per doc: its k rarest tokens (by corpus document
    frequency, lexical tie-break) joined with '|'.

    Windowless: the per-doc ranking is array_sort(collect_list(struct
    (df, token))) + slice inside ONE groupBy(doc_id) — (df, token) is a
    total order over a doc's distinct tokens, so the slice equals the
    old row_number()<=k window at one less shuffle, and the agg state is
    bounded by document length.

    ``carry_tokens=True`` additionally emits n_tok and the doc's full
    distinct-token array — callers that verify candidates by set overlap
    (entity_match) then need NO further postings joins at all.
    """
    dfreq = postings.groupBy("token").agg(F.count("*").alias("df"))
    ranked = postings.join(dfreq, "token")
    sorted_toks = F.array_sort(F.collect_list(F.struct("df", "token")))
    aggs = [
        F.any_value(F.col("source")).alias("source"),
        sorted_toks.alias("__sorted"),
    ]
    out = ranked.groupBy("doc_id").agg(*aggs).select(
        "doc_id",
        "source",
        F.array_join(
            F.transform(F.slice("__sorted", 1, k), lambda s: s["token"]), "|"
        ).alias("block_key"),
        *(
            [
                F.size("__sorted").cast("long").alias("n_tok"),
                F.transform("__sorted", lambda s: s["token"]).alias("toks"),
            ]
            if carry_tokens
            else []
        ),
    )
    return out


def candidate_pairs(
    block_keys: DataFrame, max_block_size: int = 100
) -> DataFrame:
    """Cross-source candidate pairs from same-block records.

    Blocks larger than max_block_size are purged *before* the self-join,
    so the join fanout per key is capped at max_block_size² regardless of
    corpus skew.
    """
    ok = (
        block_keys.groupBy("block_key")
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") <= max_block_size)
        .select("block_key")
    )
    b = block_keys.join(ok, "block_key")
    left = b.select(
        "block_key",
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("source_a"),
    )
    right = b.select(
        "block_key",
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("source_b"),
    )
    return (
        left.join(right, "block_key")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("source_a") != F.col("source_b"))
        )
        .select("doc_a", "doc_b", "source_a", "source_b")
    )


def entity_match(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    k: int = 2,
    max_block_size: int = 100,
    threshold_pct: int = 80,
    materialize_postings: bool = True,
) -> DataFrame:
    """Composed cross-source match: block → candidates → verify.

    The verify stage carries each doc's distinct-token ARRAY through the
    block self-join and intersects arrays in place
    (size(array_intersect)) instead of re-joining the postings relation
    per side — the round-4 plan audit's worst static-shuffle offender
    (25 exchanges) drops to the blocking stage's handful, and the
    quadratic work stays confined inside purged blocks. Token arrays are
    bounded by document length; candidate fanout is bounded by
    max_block_size² per block by construction.

    threshold_pct is applied as integer arithmetic
    (n_inter * 100 >= n_union * threshold_pct) so the cut is bit-exact
    across engines; the reported jaccard double is exact IEEE division of
    the same integers (array_intersect over distinct arrays == the
    postings-join distinct intersection count).
    """
    from pyspark.sql import Window

    postings = distinct_token_postings(df, text_col, id_col, source_col)
    if materialize_postings:
        # The postings relation feeds BOTH sides of the ranking join
        # (the document-frequency aggregate and the probe side), and
        # Spark executes a shared subtree once per consumer — the
        # before-plan carried the full scan+explode+distinct twice
        # (plans/r14/er_blocked_matches_before.txt). One narrow
        # (doc_id, source, token) materialization feeds both (guide
        # §2.4; the connected_components/pagerank policy). Callers
        # must be registered checkpointed=True.
        postings = postings.localCheckpoint()
    keys = rare_token_block_keys(postings, k, carry_tokens=True)
    # Purge with a same-key window BEFORE collecting members: oversized
    # (stopword-like) blocks are dropped without ever materializing
    # their member list, and the following groupBy reuses the window's
    # hash partitioning — no extra exchange, no purge-join diamond.
    wb = Window.partitionBy("block_key")
    guarded = keys.withColumn("__bn", F.count("*").over(wb)).where(
        F.col("__bn") <= max_block_size
    )
    # doc_id FIRST in the member struct: array_sort's struct order then
    # makes every generated pair (i < j) satisfy doc_a < doc_b with no
    # post-filter, independent of collect order.
    blocks = guarded.groupBy("block_key").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "source", "n_tok", "toks"))
        ).alias("members")
    )
    pairs = blocks.select(
        F.explode(
            F.expr(
                "flatten(transform(members, (x, i) -> "
                "transform(slice(members, i + 2, size(members) - i - 1), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).where(F.col("p.a.source") != F.col("p.b.source"))
    n_inter = F.size(F.array_intersect("p.a.toks", "p.b.toks")).cast("long")
    n_union = F.col("p.a.n_tok") + F.col("p.b.n_tok") - n_inter
    scored = pairs.select(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.source").alias("source_a"),
        F.col("p.b.source").alias("source_b"),
        n_inter.alias("n_inter"),
        n_union.alias("n_union"),
        (n_inter.cast("double") / n_union).alias("jaccard"),
    )
    return scored.where(
        F.col("n_inter") * 100 >= F.col("n_union") * F.lit(threshold_pct)
    )


def meta_blocking_wep(
    docs: DataFrame,
    min_df: int = 2,
    max_df: int = 20,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Meta-blocking with Weighted Edge Pruning (Papadakis et al.,
    TKDE 2014): k-gram shingle blocks -> comparison-graph edges
    weighted by Common Block Scheme (CBS = number of shared blocks) ->
    keep edges at or above the GLOBAL MEAN weight.

    Block purging is built in: shingles with df < min_df generate no
    pairs and df > max_df blocks are oversize boilerplate (the same
    hot-key cap as winnowing's max_df and the rare-token blocker's
    max_block_size), so the block self-join fans out at most
    max_df*(max_df-1)/2 pairs per block — never quadratic in the
    corpus. The mean threshold is integer-exact: an edge survives iff
    weight * n_edges >= total_weight (no float division). The 1-row
    (n_edges, total_weight) scalar ships via crossJoin(broadcast(..)),
    the text_pmi_collocations idiom — the edge frame itself stays
    distributed.

    Returns (doc_a, doc_b, cbs) for surviving comparisons.
    """
    from ftm_datalake_spark.operators.textops import ngram_array

    toks = tokens(F.col(text_col))
    postings = (
        docs.where(F.size(toks) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(ngram_array(toks, k)).alias("g"),
        )
        .distinct()
    )
    dfreq = postings.groupBy("g").agg(F.count("*").alias("df"))
    ok = postings.join(
        dfreq.where(
            (F.col("df") >= min_df) & (F.col("df") <= max_df)
        ).select("g"),
        "g",
    ).select("g", "doc_id")
    a = ok.select("g", F.col("doc_id").alias("doc_a"))
    b = ok.select("g", F.col("doc_id").alias("doc_b"))
    edges = (
        a.join(b, "g")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("cbs"))
    )
    totals = edges.agg(
        F.count("*").alias("n_edges"),
        F.sum("cbs").alias("total_weight"),
    )
    return (
        edges.crossJoin(F.broadcast(totals))
        .where(F.col("cbs") * F.col("n_edges") >= F.col("total_weight"))
        .select("doc_a", "doc_b", "cbs")
    )


def sorted_neighborhood_pairs(
    records: DataFrame,
    sort_cols: list[str],
    window: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995):
    sort all records by a blocking key and compare each record only to
    its `window - 1` successors in the sort order.

    The global sort position comes from operators/rank.with_global_rank
    (range shuffle → per-partition row_number → P driver offsets), so
    NO single-partition exchange appears — the classic SN weakness on
    a cluster (a total order) is exactly the problem that helper
    solves. Neighbor pairing is an EQUI-join: each record explodes to
    its `window - 1` target ranks and joins rank-to-rank — never a
    range/theta join, never quadratic. Cost: one range shuffle + one
    bounded-fanout equi-join; pairs per record are capped at
    window - 1 by construction, no hot-block risk at all (the dual
    failure mode of token blocking).

    Returns (doc_a, doc_b, rank_dist) with doc_a earlier in the sort.
    NOTE: the rank pass localCheckpoints — registry callers must carry
    checkpointed=True.
    """
    from ftm_datalake_spark.operators.rank import with_global_rank

    ranked, _n = with_global_rank(
        records.select(id_col, *sort_cols),
        [*sort_cols, id_col],
        rank_col="__rn",
    )
    a = ranked.select(F.col(id_col).alias("doc_a"), F.col("__rn"))
    targets = a.select(
        "doc_a",
        "__rn",
        F.explode(
            F.array(*[F.lit(d).cast("long") for d in range(1, window)])
        ).alias("__d"),
    ).select("doc_a", (F.col("__rn") + F.col("__d")).alias("__rn_b"),
             F.col("__d").alias("rank_dist"))
    b = ranked.select(F.col(id_col).alias("doc_b"),
                      F.col("__rn").alias("__rn_b"))
    return targets.join(b, "__rn_b").select("doc_a", "doc_b", "rank_dist")
