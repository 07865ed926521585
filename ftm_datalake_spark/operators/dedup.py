"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design:
- Exact dedup is a single hash-groupBy on the content hash — one shuffle
  keyed by a uniform hash, no skew by construction.
- N-gram Jaccard materializes (doc, shingle) pairs and self-joins on the
  shingle — quadratic in posting-list length, so it is the *verifier* for
  candidate pairs, not the 100 TB discovery path.
- MinHash-LSH is the discovery path: per-doc signatures (map-side, no
  shuffle), banded into buckets; only same-bucket docs ever meet in the
  join. Hash functions are md5-based so signatures are engine-portable and
  reproducible (no seed-dependent JVM hashing).
- SimHash packs token hashes into a 64-bit signature per doc; hamming
  buckets give another near-dup family detector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ftm_datalake_spark.operators.textops import tokens


def shingles_from_tokens(toks: F.Column, k: int = 3) -> F.Column:
    """Distinct k-token shingles from a *materialized* token-array column.

    Must be given a plain column reference, not the tokenizing expression:
    slice() appears k times inside the gram build, so an inlined split()
    would re-tokenize the text k times per row (and the old per-element
    element_at fold was ~10× slower still — see textops.ngram_array).
    """
    from ftm_datalake_spark.operators.textops import ngram_array

    return F.array_distinct(ngram_array(toks, k))


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5-content groups with the minimum id as keeper."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").alias("n"),
        )
    )


def shingle_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Exploded (doc, shingle) postings — shared by Jaccard and MinHash."""
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    )
    return toked.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("toks"), k)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_common: int = 2,
) -> DataFrame:
    """Pairwise shingle overlap: (doc_a, doc_b, common, uni).

    Jaccard = common/uni, kept as two exact integers so thresholds are
    integer comparisons (no float drift).

    r14 (guide §2.4): the shingle table feeds THREE consumers (both
    sides of the overlap self-join and the per-doc counts) and Spark
    executes a shared subtree once per consumer — one localCheckpoint
    of the narrow (doc_id, shingle) relation replaces three
    scan+tokenize+explode runs. Registry callers must be tagged
    checkpointed=True."""
    sh = shingle_postings(df, text_col, id_col, k).localCheckpoint()
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
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
        .where(F.col("common") >= min_common)
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        common.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("common")).alias("uni"),
        )
    )


# Universal-hash family over the 32-bit shingle-hash domain:
# mh_s = (A_s*h + B_s) mod P, P prime just above 2^32 so the mod genuinely
# permutes the order (A*h alone is monotone in h — every seed would pick
# the same argmin shingle). A < 2^30 keeps A*h < 2^62: no 64-bit overflow
# in Spark OR the oracle engine (DuckDB errors on BIGINT overflow).
MINHASH_PRIME = 4294967311
MINHASH_COEFFS = [
    (983810711, 678216591), (332749021, 1831197988), (373613295, 1003945583),
    (933176341, 925509015), (804751169, 3730499887), (306746047, 1402071083),
    (443125681, 2614634003), (208837063, 3424255177), (667739677, 703730459),
    (537226443, 2514627151), (74950799, 2029196623), (991508929, 1314968747),
]


def shingle_hash(shingle: F.Column) -> F.Column:
    """One md5 per shingle → 32-bit integer (first 8 hex chars).

    Portable: DuckDB mirror is CAST('0x' || substr(md5(x),1,8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(shingle), 1, 8), 16, 10).cast("long")


def minhash_signatures(postings: DataFrame, num_hashes: int = 12) -> DataFrame:
    """Wide-form minhash signatures: ONE hash-aggregate on doc_id computes
    all `num_hashes` mins as parallel aggregate columns (mh0..mhN).

    Each shingle is hashed ONCE (md5 hex prefix → 32-bit int); the
    per-seed values come from the (A*h+B) mod P universal family — pure
    integer mixing instead of one md5 per (shingle, seed), which was the
    dominant cost of the whole LSH pipeline. Signatures stay portable
    across engines/runs (no JVM hashCode). Wide-form beats the
    (doc, shingle) × seeds cross-join + (doc_id, seed) groupBy by a full
    shuffle multiple: the postings shuffle once, keyed by doc_id, with
    map-side partial mins."""
    hashed = postings.select(
        "doc_id", shingle_hash(F.col("shingle")).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)
            ).alias(f"mh{seed}")
            for seed, (a, b) in enumerate(MINHASH_COEFFS[:num_hashes])
        ]
    )


def lsh_bands(
    signatures: DataFrame, num_hashes: int = 12, rows_per_band: int = 3
) -> DataFrame:
    """Band wide-form signatures: (doc_id, band_id, band_val) — a pure
    projection (posexplode over per-band value strings), no extra shuffle.
    The band value is the plain ','-joined integer triple — equality is
    all the bucket join needs, no hashing required."""
    band_vals = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(num_hashes // rows_per_band)
        ]
    )
    return signatures.select(
        "doc_id", F.posexplode(band_vals).alias("band_id", "band_val")
    )


def minhash_lsh_pairs(
    postings: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    materialize_bands: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing ≥1 LSH band, from a
    (doc_id, shingle) postings frame (:func:`shingle_postings`). Callers
    that also consume the shingle table (e.g. dedup_lsh_recall's exact
    ground-truth side) pass their already-pinned postings, so the
    scan+tokenize+explode subtree is shared instead of re-derived.

    `materialize_bands` (r14, guide §2.4): the band table ends in the
    whole signature pipeline (scan → shingle explode → 12-way min
    groupBy → band posexplode) and feeds BOTH sides of the band
    self-join — Spark executes a shared subtree once per consumer, so
    the signatures were computed twice (8 parquet scans in the before
    plan). One localCheckpoint of the narrow (doc_id, band_id,
    band_val) relation feeds both sides; registry callers must be
    tagged checkpointed=True."""
    bands = lsh_bands(
        minhash_signatures(postings, num_hashes), num_hashes, rows_per_band
    )
    if materialize_bands:
        bands = bands.localCheckpoint()
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """SimHash signatures: per-token md5 → bit votes → packed signature.

    Map-side only (explode + groupBy doc): one shuffle keyed by doc_id.
    32 bits keeps every intermediate in exact long arithmetic."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    # 60-bit integer from the md5 hex prefix (15 hex chars)
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("long")
    votes = toks.select(
        "doc_id",
        *[
            (F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(
                f"b{i}"
            )
            for i in range(bits)
        ],
    )
    agg = votes.groupBy("doc_id").agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(bits)]
    )
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return agg.select("doc_id", sig.alias("simhash"))


def prefix_filter_pairs(
    docs: DataFrame,
    t_num: int = 4,
    t_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs token-set Jaccard >= t_num/t_den via prefix filtering
    (PPJoin family — Vernica/Carey/Li's MapReduce set-similarity join).

    Unlike MinHash-LSH this has NO false negatives: order every doc's
    token set by ascending global frequency (rarest first); two sets
    with Jaccard >= t MUST share a token within each one's first
    m - ceil(t*m) + 1 tokens, so the candidate join only touches those
    prefixes — and prefixes are dominated by RARE tokens, keeping the
    per-token candidate lists short by construction. Verification is an
    exact integer Jaccard on the candidates only.

    All thresholds are integer cross-multiplications; the global order
    (frequency, token) is total, so any engine reproduces the exact
    pair set.

    r14 adaptive small-alphabet path (guide §1.1 first-principles +
    §2.3): prefix filtering assumes rare tokens exist — on a corpus
    whose whole vocabulary is tiny (categorical event streams, DNA-like
    alphabets; the bench corpus has 31 distinct tokens) every doc's
    "rarest" tokens are corpus-common, candidate lists go quadratic and
    the filter passes ~half of all pairs. When the vocabulary fits in
    64 bits (probed with one vocabulary-count scalar, the auto-salt
    precedent) the operator switches to an exact bitset form: identical
    token SETS collapse into classes, the same prefix join runs at
    class granularity on integer bit ids, and verification is an inline
    bit_count over two longs instead of a string-array intersection —
    no token arrays ever cross a shuffle, no verification join at all.
    Surviving class pairs expand back to doc pairs, which reproduces
    the exact pair set because (common, uni) depend only on the token
    SETS. Above 64 tokens the general path below runs unchanged.
    """
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("token"),
        )
        .distinct()
        # feeds freq AND the packed/mask join in both branches (§2.4).
        .localCheckpoint()
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("f"))
    if freq.count() <= _BITSET_VOCAB_MAX:
        return _prefix_filter_pairs_bitset(tok, freq, t_num, t_den)
    # One windowless groupBy packs each doc's rarest-first token array
    # + size (the rare_token_block_keys idiom — replaces the old
    # row_number window at one less shuffle); the array doubles as the
    # verification payload, so the candidate pairs never re-join the
    # postings relation (the entity_match array-intersect fix).
    # r14 (guide §2.4): packed feeds THREE consumers (the prefix
    # explode and both verification sides) — checkpoint it once;
    # registry callers must be tagged checkpointed=True.
    packed = (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("f", "token"))).alias("__s"))
        .select(
            "doc_id",
            F.transform("__s", lambda s: s["token"]).alias("toks"),
            F.size("__s").alias("m"),
        )
        .localCheckpoint()
    )
    # prefix length: m - ceil(t*m) + 1, ceil as exact integer
    # arithmetic; clamped at 0 (ADVICE r14) so a degenerate threshold
    # t_num > t_den yields an empty prefix (and hence the correctly
    # empty result) instead of a negative slice length, which raises
    # at execution time.
    plen = F.greatest(
        F.col("m") - F.floor((t_num * F.col("m") + t_den - 1) / t_den) + 1,
        F.lit(0),
    )
    pref = packed.select(
        "doc_id",
        "m",
        F.posexplode(F.slice("toks", 1, plen.cast("int"))).alias(
            "__p0", "token"
        ),
    ).select("doc_id", "m", (F.col("__p0") + 1).alias("p"), "token")
    a = pref.select(
        F.col("doc_id").alias("doc_a"), "token",
        F.col("p").alias("pa"), F.col("m").alias("ma"),
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"), "token",
        F.col("p").alias("pb"), F.col("m").alias("mb"),
    )
    # PPJoin pruning inside the prefix join (both are no-false-negative
    # bounds, so the surviving pair set is exactly the old one):
    #  - length filter: Jaccard >= n/d forces n*ma <= d*mb and v.v.
    #  - positional filter: the suffix overlap bound 1+min(ma-pa, mb-pb)
    #    must reach the required overlap o with (d+n)*o >= n*(ma+mb).
    ubound = 1 + F.least(
        F.col("ma") - F.col("pa"), F.col("mb") - F.col("pb")
    )
    cand = (
        a.join(b, "token")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (t_num * F.col("ma") <= t_den * F.col("mb"))
            & (t_num * F.col("mb") <= t_den * F.col("ma"))
            & ((t_den + t_num) * ubound >= t_num * (F.col("ma") + F.col("mb")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = packed.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("__ta"), F.col("m").alias("ma"),
    )
    tb = packed.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("__tb"), F.col("m").alias("mb"),
    )
    # r14 (guide §3.1): the candidate set can dwarf the doc set (a
    # near-dup-heavy corpus measured 6.2 M candidates from ~10 K docs),
    # and the planner's size ESTIMATE for the token-array side exceeds
    # the auto-broadcast threshold — so both verification joins ran as
    # sort-merge, shuffling every candidate twice and the token arrays
    # with them. The doc→tokens relation is doc-scale and exactly
    # counted (the checkpoint materialized it); broadcast it while it
    # is provably bounded and let the candidates verify in place,
    # shuffle-free. Above the guard the join stays planner-chosen —
    # a 100 TB vocab side must keep the shuffle escape (the
    # token_vote_predict rule).
    if packed.count() <= 200_000:
        ta, tb = F.broadcast(ta), F.broadcast(tb)
    common = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
    uni = F.col("ma") + F.col("mb") - F.col("common")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("common", common.cast("long"))
        .where(t_den * F.col("common") >= t_num * uni)
        .select("doc_a", "doc_b", "common", uni.cast("long").alias("uni"))
    )


# Vocabulary size up to which the bitset form of prefix_filter_pairs
# applies (one 64-bit mask per doc). Module-level so tests can force the
# general path on a small-vocab corpus and assert bit-equality.
_BITSET_VOCAB_MAX = 64


def _prefix_filter_pairs_bitset(
    tok: DataFrame, freq: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """Small-alphabet exact set-similarity join (see prefix_filter_pairs).

    `tok` is the checkpointed distinct (doc_id, token) relation and
    `freq` its per-token counts, with at most 64 distinct tokens.

    Shape: one bounded ≤64-row window assigns each token a bit id in
    the same rarest-first (f, token) total order the general path
    sorts by; each doc folds to one long mask; identical masks collapse
    to classes (an exact-duplicate-heavy corpus shrinks quadratically);
    the class self-join keys on the ≤64 bit ids, so it is salted with
    an explicit repartition exactly like the few-key SemDeDup pair join
    (guide §2.5 — AQE would coalesce this byte-light, compute-heavy
    stage); the length/positional prefix bounds AND the full Jaccard
    verification are inline integer filters (bit_count over two longs),
    so only surviving (mask_a, mask_b) pairs — 16 bytes each — reach
    the dedup exchange (§2.3). Expansion back to doc pairs emits
    exactly the true result rows, never more.
    """
    # Bit ids: ascending (f, token) == the general path's rarest-first
    # prefix order. The single-partition window is bounded by the ≤64
    # vocabulary gate that routed us here.
    w = Window.orderBy("f", "token")
    ids = freq.select("token", (F.row_number().over(w) - 1).alias("bit"))
    masks = (
        tok.join(F.broadcast(ids), "token")
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("shiftleft(1L, bit)")).alias("mask"),
            F.count("*").alias("m"),
        )
    )
    cls = (
        masks.groupBy("mask", "m")
        .agg(
            F.collect_list("doc_id").alias("members"),
            F.count("*").alias("cnt"),
        )
        # feeds the prefix explode (both join sides) + both expansion
        # joins — one narrow class-scale relation (§2.4)
        .localCheckpoint()
    )
    # Ascending set-bit ids of the mask == the class's tokens in
    # rarest-first order; the prefix is the first plen of them.
    set_bits = F.expr("filter(sequence(0, 63), i -> ((mask >> i) & 1) = 1)")
    # clamped at 0 like the general path (ADVICE r14): t_num > t_den
    # must produce an empty prefix, not a negative slice length
    plen = F.greatest(
        F.col("m") - F.floor((t_num * F.col("m") + t_den - 1) / t_den) + 1,
        F.lit(0),
    )
    pref = cls.select(
        "mask",
        "m",
        F.posexplode(F.slice(set_bits, 1, plen.cast("int"))).alias(
            "__p0", "bit"
        ),
    ).select("mask", "m", (F.col("__p0") + 1).alias("p"), "bit")
    # Few-key self-join (≤64 bit ids): salt the probe side, replicate
    # the build side, explicit repartition so AQE's byte-based
    # coalescing cannot serialize the popcount stage (the _sem_pairs
    # idiom; B degenerates to 1 on production core counts).
    sc = tok.sparkSession.sparkContext
    dp = sc.defaultParallelism
    b_factor = max(1, (4 * dp) // 64)
    n_parts = max(2, 2 * dp)
    a = (
        pref.select(
            F.col("mask").alias("mask_a"),
            "bit",
            F.col("p").alias("pa"),
            F.col("m").alias("ma"),
        )
        .withColumn("__salt", F.pmod(F.xxhash64(F.col("mask_a")), F.lit(b_factor)))
        .repartition(n_parts, "bit", "__salt")
    )
    b = (
        pref.select(
            F.col("mask").alias("mask_b"),
            "bit",
            F.col("p").alias("pb"),
            F.col("m").alias("mb"),
        )
        .withColumn(
            "__salt",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(b_factor - 1))),
        )
        .repartition(n_parts, "bit", "__salt")
    )
    ubound = 1 + F.least(F.col("ma") - F.col("pa"), F.col("mb") - F.col("pb"))
    common = F.bit_count(
        F.col("mask_a").bitwiseAND(F.col("mask_b"))
    ).cast("long")
    uni = F.bit_count(F.col("mask_a").bitwiseOR(F.col("mask_b"))).cast("long")
    cpairs = (
        a.join(b, ["bit", "__salt"])
        .where(
            (F.col("mask_a") < F.col("mask_b"))
            & (t_num * F.col("ma") <= t_den * F.col("mb"))
            & (t_num * F.col("mb") <= t_den * F.col("ma"))
            & ((t_den + t_num) * ubound >= t_num * (F.col("ma") + F.col("mb")))
            & (t_den * common >= t_num * uni)
        )
        .select("mask_a", "mask_b")
        .distinct()
    )
    ca = cls.select(F.col("mask").alias("mask_a"), F.col("members").alias("__ca"))
    cb = cls.select(F.col("mask").alias("mask_b"), F.col("members").alias("__cb"))
    # Broadcast guard on the DOC-scale payload (ADVICE r14): the
    # broadcast relation carries the collect_list members lists, whose
    # total size is the doc count, not the class count — an exact-dup-
    # heavy corpus can pack millions of member ids into few classes.
    # sum(cnt) over the pinned class table is exactly that doc count.
    n_member_docs = cls.agg(F.sum("cnt")).first()[0] or 0
    if n_member_docs <= 200_000:
        ca, cb = F.broadcast(ca), F.broadcast(cb)
    cross = (
        cpairs.join(ca, "mask_a")
        .join(cb, "mask_b")
        .select("mask_a", "mask_b", F.explode("__ca").alias("__da"), "__cb")
        .select("mask_a", "mask_b", "__da", F.explode("__cb").alias("__db"))
        .select(
            F.least("__da", "__db").alias("doc_a"),
            F.greatest("__da", "__db").alias("doc_b"),
            common.alias("common"),
            uni.alias("uni"),
        )
    )
    if t_num > t_den:
        # Jaccard can never exceed 1: identical sets only qualify when
        # the threshold allows J = 1.
        return cross
    within = (
        cls.where(F.col("cnt") >= 2)
        .select("m", F.explode("members").alias("doc_a"), "members")
        .select("m", "doc_a", F.explode("members").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("m").cast("long").alias("common"),
            F.col("m").cast("long").alias("uni"),
        )
    )
    return cross.unionByName(within)


def duplicate_span_coverage(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, covered, coverage_bp): per-doc fraction of
    token positions lying inside a CROSS-DOC duplicated k-gram — the
    measure behind exact-substring training-data dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better":
    duplicated spans of >= k tokens are what substring dedup removes;
    this reports how much of each doc they cover, in basis points via
    exact integer division).

    Differs from segment dedup (textops.segment_dedup): segments are
    fixed NON-overlapping windows keyed by within-doc frequency;
    this slides OVERLAPPING grams and keys on cross-doc document
    frequency, so a duplicated run is counted at every alignment —
    the suffix-array semantics, gram-approximated.

    Scale shape: gram construction is zero-shuffle (sequence+slice,
    the winnowing idiom); one hash-agg on the 32-hex gram for document
    frequency; one semi-join back (co-partitioned on the gram key);
    covered positions fold per doc with a bounded explode (k per dup
    gram). Never all-pairs, never position×position."""
    tk = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")
    base = docs.select(
        F.col(id_col).alias("doc_id"), tk.alias("tk")
    ).select("doc_id", "tk", F.size("tk").cast("long").alias("n_tokens"))
    n_grams = (F.col("n_tokens") - F.lit(k - 1)).cast("int")
    gram_arr = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.md5(F.array_join(F.slice(F.col("tk"), i + 1, k), " ")),
    )
    # r14 (guide §2.4): the gram table feeds BOTH the document-frequency
    # aggregate and the semi-join probe — un-pinned, the expensive
    # tokenize + per-gram md5 construction ran twice. One checkpoint of
    # (doc_id, n_tokens, pos, h) feeds both; registry callers must be
    # tagged checkpointed=True. (The final n_tokens join re-tokenizes
    # once — carrying the token arrays through a checkpoint to avoid
    # one regexp pass would pin corpus-scale text for doc-scale gain.)
    grams = (
        base.where(n_grams >= 1)
        .select(
            "doc_id", "n_tokens", F.posexplode(gram_arr).alias("pos", "h")
        )
        .localCheckpoint()
    )
    dup_hashes = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") >= 2)
        .select("h")
    )
    covered = (
        grams.join(dup_hashes, "h", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("covered"))
    )
    return (
        base.select("doc_id", "n_tokens")
        .where(F.col("n_tokens") > 0)
        .join(covered, "doc_id", "left")
        .withColumn("covered", F.coalesce("covered", F.lit(0)).cast("long"))
        .withColumn(
            "coverage_bp",
            F.expr("(covered * CAST(10000 AS BIGINT)) div n_tokens"),
        )
    )
