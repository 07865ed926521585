"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in Column functions (JVM codegen, no
Python row boundary): tokenization via split, language-ID via regexp
marker counts, quality ratios via exact integer division, fingerprints via
md5 of normalized text. These run as one projection over the scan — no
shuffle at all — so they scale linearly to 100 TB.

These extend the reference's analyzer surface (docs/rfc.md:131-140: "NER,
geocoding, transcription services writing statements back").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WHITESPACE = r"\s+"

# marker-word regexes per language (word-boundary anchored, RE2/Java safe)
LANG_MARKERS = {
    "en": r"\b(the|a|of)\b",
    "de": r"\b(der|die|und)\b",
    "fr": r"\b(le|la|et)\b",
    "es": r"\b(el|los|y)\b",
}
STOPWORD_PATTERN = r"\b(the|a|of|and|is|in)\b"


def tokens(text: Column) -> Column:
    return F.split(F.trim(text), WHITESPACE)


def ngram_array(toks: Column, k: int, sep: str = " ") -> Column:
    """Positional k-grams from a token array, sep-joined, via
    zip_with over k aligned slices — O(n·k) straight-line column work
    per row. This replaces the transform(sequence(1, n-k+1),
    i -> concat_ws(element_at(toks, i), ...)) fold, whose per-element
    element_at indexing measured ~10× slower at sf0.1 (4.7 s vs 0.47 s
    for the bigram build over documents; codegen turns the index fold
    into repeated array walks). Empty result for rows with fewer than
    k tokens (slice length is clamped to 0, zip_with of empties is
    empty). Pass a plain column reference, not the tokenizing
    expression — slice() appears k times, so an inlined split() would
    re-tokenize k times per row."""
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        out = F.zip_with(
            out, F.slice(toks, j, m), lambda a, b: F.concat_ws(sep, a, b)
        )
    return out


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish refinements live in the same shape)."""
    return F.size(tokens(text))


def marker_counts(text: Column) -> dict[str, Column]:
    return {
        lang: F.regexp_count(text, F.lit(pat)) for lang, pat in LANG_MARKERS.items()
    }


def predict_lang(text: Column) -> Column:
    """n-gram-heuristic language ID: argmax of marker counts, priority-order
    tiebreak (en > de > fr > es), 'und' when nothing matches."""
    c = marker_counts(text)
    n_en, n_de, n_fr, n_es = c["en"], c["de"], c["fr"], c["es"]
    return (
        F.when((n_en == 0) & (n_de == 0) & (n_fr == 0) & (n_es == 0), F.lit("und"))
        .when((n_en >= n_de) & (n_en >= n_fr) & (n_en >= n_es), F.lit("en"))
        .when((n_de >= n_fr) & (n_de >= n_es), F.lit("de"))
        .when(n_fr >= n_es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality-scoring features: counts are exact ints; ratios are
    int/int double divisions (bit-deterministic across engines)."""
    text = F.col(text_col)
    n_tok = token_count(text)
    n_stop = F.regexp_count(text, F.lit(STOPWORD_PATTERN))
    n_alpha = F.length(F.regexp_replace(text, WHITESPACE, ""))
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        n_alpha.alias("n_alpha_chars"),
        (n_stop.cast("double") / n_tok).alias("stop_ratio"),
        (n_alpha.cast("double") / n_tok).alias("avg_token_len"),
    )


def fingerprint(text: Column, length: int = 16) -> Column:
    """Document fingerprint: md5 over whitespace-stripped lowercased text.

    A canonical content key for exact near-duplicate families; the rolling
    polynomial variant is in `rolling_fingerprint` (not oracle-paired:
    engines differ on char-fold primitives)."""
    normalized = F.lower(F.regexp_replace(text, WHITESPACE, ""))
    return F.substring(F.md5(normalized), 1, length)


def rolling_fingerprint(text: Column, mod: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling hash over unicode code points, fold kept exact
    with mod-per-step so 64-bit arithmetic never overflows."""
    codes = F.transform(F.split(text, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + c) % mod,
    )


def segment_table(
    docs: DataFrame,
    seg_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(doc_id, seg_idx, seg, seg_key) — fixed-width word segments via
    zero-shuffle sequence+slice, keyed by md5. The shared first stage of
    segment_dedup / segment_frequencies. ``carry_cols`` rides extra doc
    columns through the explode (still zero-shuffle) so callers that
    need them per-segment skip a corpus-scale join back to the docs."""
    carry = list(carry_cols or [])
    tk = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc_id"), *carry, tk.alias("tk"))
    n_segs = F.ceil(F.size("tk") / F.lit(float(seg_len))).cast("int")
    seg_arr = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(F.col("tk"), i * seg_len + 1, seg_len), " "
        ),
    )
    return base.select(
        "doc_id", *carry, F.posexplode(seg_arr).alias("seg_idx", "seg")
    ).withColumn("seg_key", F.md5("seg"))


def segment_frequencies(
    docs: DataFrame,
    seg_len: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(seg_key, n) global segment counts — the boilerplate-removal
    frequency table as a standalone, PERSISTABLE artifact. A 100 TB
    export writes this once as its segment ledger; each delta batch
    then folds its own counts in instead of re-scanning the corpus
    (pipelines/training_export.py segledger)."""
    return (
        segment_table(docs, seg_len, text_col, id_col)
        .groupBy("seg_key")
        .agg(F.count("*").cast("long").alias("n"))
    )


def segment_dedup(
    docs: DataFrame,
    seg_len: int = 8,
    max_freq: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_text: bool = False,
    extra_freq_docs: DataFrame | None = None,
    freq_table: DataFrame | None = None,
    materialize_segments: bool = False,
) -> DataFrame:
    """CCNet-style common-segment removal (Wenzek et al. 2020 dedup by
    paragraph hash, adapted to fixed `seg_len`-word segments because the
    synthetic corpus has no line breaks).

    Pipeline: tokenize → zero-shuffle segmentation via sequence+slice →
    global segment-frequency count (groupBy on md5(seg), a fixed-width
    key, ONE shuffle) → drop segments occurring more than `max_freq`
    times → order-preserving reassembly (ONE shuffle back to doc_id).
    At 100 TB the frequency table is the classic boilerplate-removal
    shape: map-side partial counts, then an equi-join on the 16-byte
    hash — never on raw segment text.

    ``extra_freq_docs`` adds a reference corpus to the FREQUENCY count
    only — its docs are segmented and counted but never reassembled or
    returned. ``freq_table`` goes further: a PRE-COMPUTED (seg_key, n)
    count table (e.g. a persisted ledger merged with the delta's own
    counts via :func:`segment_frequencies`) that REPLACES internal
    counting entirely — the caller owns making it include ``docs``' own
    segments. Both are the incremental-export shape: clean a delta
    batch against corpus-wide frequencies without re-cleaning (or, with
    ``freq_table``, without even re-scanning) the exported corpus
    (pipelines/training_export.py).

    Output per doc: (doc_id, n_segs, n_dropped, clean_sig, clean_len);
    ``keep_text`` adds the reassembled ``clean_text`` itself (used by
    the training export, which SHIPS the boilerplate-stripped text).
    """
    segs = segment_table(docs, seg_len, text_col, id_col)
    if materialize_segments and freq_table is None:
        # With internal counting the segment table feeds BOTH the
        # frequency aggregate and the reassembly join, and Spark
        # executes the shared scan+tokenize+explode+md5 subtree once
        # per consumer. One localCheckpoint feeds both (guide §2.4,
        # the connected_components policy); callers must be registered
        # checkpointed=True. Opt-in because the materialization
        # carries the segment text payload — callers with a
        # freq_table already read the corpus once.
        segs = segs.localCheckpoint()
    if freq_table is not None:
        freq = freq_table.select("seg_key", F.col("n").cast("long").alias("n"))
    else:
        freq_src = segs.select("seg_key")
        if extra_freq_docs is not None:
            freq_src = freq_src.unionByName(
                segment_table(extra_freq_docs, seg_len, text_col, id_col)
                .select("seg_key")
            )
        freq = freq_src.groupBy("seg_key").agg(F.count("*").alias("n"))
    joined = segs.join(freq, "seg_key")
    keep = F.col("n") <= max_freq
    kept_struct = F.when(keep, F.struct(F.col("seg_idx"), F.col("seg")))
    clean = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(kept_struct)), lambda s: s["seg"]
        ),
        " ",
    )
    out_cols = [
        "doc_id",
        "n_segs",
        "n_dropped",
        F.md5("clean_text").alias("clean_sig"),
        F.length("clean_text").cast("long").alias("clean_len"),
    ] + (["clean_text"] if keep_text else [])
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_segs"),
            F.sum(F.when(keep, 0).otherwise(1)).alias("n_dropped"),
            clean.alias("clean_text"),
        )
        .select(*out_cols)
    )


def boilerplate_report_by_source(
    docs: DataFrame,
    seg_len: int = 8,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-SOURCE boilerplate audit (CCNet runs dedup per language/
    domain bucket, not globally — Wenzek et al. 2020 §3.1): a segment
    is boilerplate within its source when it appears in >= ``min_df``
    DISTINCT docs of that source (headers, footers, nav chrome repeat
    across a site's pages but are legitimate text elsewhere).

    Output per source: (source, n_docs, n_seg_occurrences,
    boilerplate_keys, occurrences_removed, chars_removed) — the
    before/after ledger a curation run reports per domain.

    Scale shape: one corpus scan segments zero-shuffle (sequence+slice)
    with the source column CARRIED through the explode (no join back to
    the docs), then two hash-aggs keyed on (source, seg_key) — the md5
    key keeps the shuffle rows fixed-width. All outputs are integer
    counts — oracle-exact.
    """
    segs = segment_table(
        docs.withColumnRenamed(source_col, "source"),
        seg_len,
        text_col,
        id_col,
        carry_cols=["source"],
    )
    freq = segs.groupBy("source", "seg_key").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("n"),
        F.sum(F.length("seg")).alias("chars"),
    )
    bp = F.col("df") >= min_df
    return (
        freq.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_seg_occurrences"),
            F.sum(F.when(bp, 1).otherwise(0)).cast("long").alias(
                "boilerplate_keys"
            ),
            F.sum(F.when(bp, F.col("n")).otherwise(0)).cast("long").alias(
                "occurrences_removed"
            ),
            F.sum(F.when(bp, F.col("chars")).otherwise(0)).cast("long").alias(
                "chars_removed"
            ),
        )
        .join(
            docs.groupBy(F.col(source_col).alias("source")).agg(
                F.count("*").cast("long").alias("n_docs")
            ),
            "source",
        )
        .select(
            "source",
            "n_docs",
            "n_seg_occurrences",
            "boilerplate_keys",
            "occurrences_removed",
            "chars_removed",
        )
    )


def _gopher_flags(
    text: Column,
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stopwords: int = 2,
):
    """The Gopher feature/flag expressions, shared by :func:`gopher_rules`
    and :func:`gopher_pass_predicate` so the two can never diverge."""
    tk = tokens(text)
    n_words = F.size(tk).cast("long")
    total_chars = F.length(F.regexp_replace(text, " ", "")).cast("long")
    stop_hits = F.size(
        F.filter(tk, lambda w: w.isin("the", "a", "of"))
    ).cast("long")
    symbols = F.length(F.regexp_replace(text, "[a-z0-9 ]", "")).cast("long")
    wordcount_ok = (n_words >= min_words) & (n_words <= max_words)
    meanlen_ok = (total_chars >= min_mean_len * n_words) & (
        total_chars <= max_mean_len * n_words
    )
    stopword_ok = stop_hits >= min_stopwords
    symbol_ok = symbols * 10 <= total_chars
    return (
        n_words,
        total_chars,
        stop_hits,
        symbols,
        wordcount_ok,
        meanlen_ok,
        stopword_ok,
        symbol_ok,
    )


def gopher_pass_predicate(text: Column, **kwargs) -> Column:
    """The combined Gopher gate as ONE boolean Column — lets pipelines
    filter the scan in place instead of joining back against
    :func:`gopher_rules` output (a corpus-scale self-join of the
    documents table saved; guide §2.4)."""
    flags = _gopher_flags(text, **kwargs)
    return flags[4] & flags[5] & flags[6] & flags[7]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    min_stopwords: int = 2,
) -> DataFrame:
    """Gopher-style heuristic quality gates (Rae et al. 2021 §A1.1),
    re-expressed as exact integer predicates so any engine agrees:

    - word count within [min_words, max_words];
    - mean word length within [min_mean_len, max_mean_len], compared by
      integer cross-multiplication (min*n <= total_chars <= max*n) — no
      float division;
    - at least `min_stopwords` stopword tokens;
    - symbol-to-char ratio <= 10% (symbols*10 <= total_chars).

    One zero-shuffle projection over the scan.
    """
    (
        n_words,
        total_chars,
        stop_hits,
        symbols,
        wordcount_ok,
        meanlen_ok,
        stopword_ok,
        symbol_ok,
    ) = _gopher_flags(
        F.col(text_col), min_words, max_words, min_mean_len, max_mean_len,
        min_stopwords,
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        total_chars.alias("total_chars"),
        stop_hits.alias("stop_hits"),
        symbols.alias("symbols"),
        wordcount_ok.alias("wordcount_ok"),
        meanlen_ok.alias("meanlen_ok"),
        stopword_ok.alias("stopword_ok"),
        symbol_ok.alias("symbol_ok"),
        (wordcount_ok & meanlen_ok & stopword_ok & symbol_ok).alias("passes"),
    )
