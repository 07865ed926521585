"""Distributed byte-pair-encoding: merge-table TRAINING and corpus encode.

The reference engine has no tokenizer; this extends the LLM-pipeline
surface (SURVEY §2 extensions) with the standard subword-vocabulary
learner (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units") re-expressed for Spark's execution model.

Scale design — the part that matters at 100 TB:
- The corpus is scanned ONCE (``word_vocab``): pre-tokenize to lowercase
  words, one hash aggregation to (word, freq). Everything after runs on
  the *distinct-word vocabulary*, which is corpus-size-independent
  (Heaps' law: ~10-100M rows for web-scale corpora — a small table by
  Spark standards), never on the corpus.
- Each merge iteration is one explode + hash-aggregate over the vocab
  (map-side partial aggregation applies: pair space is at most
  |alphabet + learned merges|^2 keys) and ONE driver-collected row (the
  argmax pair) — the same k-row-driver-state pattern as broadcast-Lloyd
  in operators/clustering.py. Merge application is a zero-shuffle
  higher-order-function pass over the vocab's symbol arrays.
- ``localCheckpoint`` after each merge keeps the vocab's lineage O(1)
  across iterations (the vocab is small; re-deriving N merge passes
  from the corpus on a retry would be O(N) scans).
- Encoding the corpus with the learned table does NOT re-run merges per
  token: the final vocab already maps word → symbol count, so encode is
  a single word-level join (broadcastable while the vocab fits, hash
  join beyond) — one corpus scan, one shuffle at most.

Determinism (partitioning-independent, engine-independent):
- pair argmax tie-breaks (freq DESC, left ASC, right ASC);
- merge application is leftmost-non-overlapping, the BPE standard;
- no floats anywhere.

Training is iterative with a data-dependent argmax per round, but since
round 5 even that is fully DuckDB-oracled: the registry oracle unrolls
all 12 rounds in SQL (plans/text_ops._bpe_train_oracle_ctes — pair
count → argmax → list_reduce merge application per round, MATERIALIZED
CTEs), so bpe_train_merges and bpe_encode_trained hash-match
cross-engine like everything else; tests/test_bpe.py additionally
checks the learned table against an independent pure-python trainer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_RE = "[a-z]+"


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over lowercase alphabetic words — the ONE corpus scan."""
    words = docs.select(
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
        ).alias("word")
    )
    return words.groupBy("word").agg(F.count("*").alias("freq"))


def with_symbols(vocab: DataFrame) -> DataFrame:
    """Add the initial symbol array: one single-character symbol per char."""
    return vocab.withColumn("syms", F.expr("split(word, '')"))


def pair_counts(vocab_syms: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word frequency.

    Explodes size-1 arrays away first; the aggregate's key space is the
    (bounded) symbol-pair alphabet, so map-side combine collapses the
    explosion before any shuffle.
    """
    pairs = vocab_syms.where(F.size("syms") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(0, size(syms) - 2),"
                " i -> struct(syms[i] AS lsym, syms[i + 1] AS rsym))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.lsym").alias("lsym"), F.col("p.rsym").alias("rsym")).agg(
        F.sum("freq").alias("pair_freq")
    )


def merge_adjacent(syms: Column, left: str, right: str) -> Column:
    """Replace each leftmost-non-overlapping (left, right) adjacency with
    the concatenated symbol — the BPE merge step, as a single
    ``F.aggregate`` pass (zero shuffle, whole-stage codegen).

    The accumulator carries (emitted symbols, one pending symbol); a
    pending `left` followed by `right` emits the merged symbol and
    clears the pending slot, which is exactly leftmost-non-overlapping
    semantics (e.g. merge (a,a) on [a,a,a] → [aa, a]).
    """
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: Column, s: Column) -> Column:
        is_pair = (
            acc["pend"].isNotNull()
            & (acc["pend"] == F.lit(left))
            & (s == F.lit(right))
        )
        flushed = F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])
        return F.when(
            is_pair,
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(F.struct(flushed.alias("out"), s.alias("pend")))

    def finish(acc: Column) -> Column:
        return F.when(
            acc["pend"].isNotNull(), F.concat(acc["out"], F.array(acc["pend"]))
        ).otherwise(acc["out"])

    return F.aggregate(syms, init, step, finish)


def bpe_train(
    docs: DataFrame, num_merges: int, text_col: str = "text"
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``num_merges`` BPE merges; returns (merge table, final vocab).

    Merge table rows are (left, right, pair_freq) in learned order. The
    final vocab is (word, freq, syms) under all learned merges — the
    input to :func:`encode_token_counts`. Driver-side state is one row
    per learned merge.
    """
    vocab = with_symbols(word_vocab(docs, text_col)).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        best = (
            pair_counts(vocab)
            .orderBy(F.desc("pair_freq"), "lsym", "rsym")
            .limit(1)
            .collect()
        )
        if not best:
            break
        left, right, freq = best[0]["lsym"], best[0]["rsym"], int(best[0]["pair_freq"])
        merges.append((left, right, freq))
        vocab = vocab.withColumn(
            "syms", merge_adjacent(F.col("syms"), left, right)
        ).localCheckpoint()
    return merges, vocab


def encode_token_counts(
    docs: DataFrame,
    vocab_syms: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_rows: int | None = 2_000_000,
    vocab_rows: int | None = None,
) -> DataFrame:
    """(doc_id, n_bpe_tokens) under a trained vocab: per-word symbol
    counts come from the vocab join — no per-token merge replay. One
    corpus scan; the join side is the word vocabulary.

    Same broadcast size guard as the classifier model (VERDICT r9 #3's
    risk class): the word vocab of a 100 TB corpus is uncapped, so the
    hint applies only at or below ``max_broadcast_rows`` (counted once
    unless ``vocab_rows`` is supplied); ``None`` forces it
    (known-bounded vocab, e.g. the oracle corpora), ``0`` never hints
    (planner/AQE decides)."""
    sel = vocab_syms.select("word", F.size("syms").alias("n_word_tokens"))
    if max_broadcast_rows is None:
        word_tokens = F.broadcast(sel)
    elif max_broadcast_rows <= 0:
        word_tokens = sel
    else:
        n = vocab_rows if vocab_rows is not None else sel.count()
        word_tokens = F.broadcast(sel) if n <= max_broadcast_rows else sel
    doc_words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '{WORD_RE}', 0)")
        ).alias("word"),
    )
    return (
        doc_words.join(word_tokens, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_word_tokens").cast("long").alias("n_bpe_tokens"))
    )


# Fixed demonstration merge table for the oracle-gated encode query:
# every symbol (input chars and merge outputs) is a single character, so
# sequential string `replace` IS leftmost-non-overlapping merge
# application — reproducible verbatim in any engine with replace().
# Later merges consume earlier outputs (E = "the", Q = "tin"),
# exercising the hierarchical property of real BPE tables.
FIXED_MERGES: tuple[tuple[str, str, str], ...] = (
    ("t", "h", "T"),  # th
    ("T", "e", "E"),  # the
    ("i", "n", "I"),  # in
    ("t", "I", "Q"),  # tin
    ("a", "n", "A"),  # an
    ("e", "r", "R"),  # er
    ("o", "n", "O"),  # on
    ("r", "e", "C"),  # re
)


def apply_fixed_merges(text: Column) -> Column:
    """Condense to lowercase a-z words, then apply FIXED_MERGES in rank
    order via chained replace — single-char symbols make this exact BPE
    encode, expression-only (zero shuffle, codegen'd)."""
    s = F.trim(F.regexp_replace(F.lower(text), "[^a-z]+", " "))
    for left, right, new in FIXED_MERGES:
        s = F.replace(s, F.lit(left + right), F.lit(new))
    return s


def apply_merges(syms: Column, merges: list[tuple[str, str, int]]) -> Column:
    """Fold the learned merge table over a symbol array — the
    inference-time encode for words the training vocab never saw (the
    vocab join covers seen words without replay; this is the OOV path).

    Expression-only (R chained merge_adjacent passes, zero shuffle);
    suitable for modest R. For production-size merge tables (10k+),
    move the same fold into a mapInPandas with a rank dict — semantics
    identical, tested against the pure-python reference either way."""
    out = syms
    for left, right, _freq in merges:
        out = merge_adjacent(out, left, right)
    return out
