"""Unit properties for the round-9 operators: the token-vote classifier
(operators/classifier.py), the per-source boilerplate audit
(operators/textops.boilerplate_report_by_source) and winnowing —
hand-built inputs with known answers, covering the semantics corners
the registry oracle exercises only statistically (ties, abstention,
df-threshold boundaries). Label propagation's laws live in
tests/test_labelprop.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from ftm_datalake_spark.operators.classifier import (
    confusion_matrix,
    token_vote_model,
    token_vote_predict,
)
from ftm_datalake_spark.operators.textops import boilerplate_report_by_source


# ------------------------------------------------------ token-vote clf


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_clf_model_picks_rate_not_raw_count(spark):
    # "alpha" appears 2/4 tokens in lang A (500000 ppm) and 3/9 in B
    # (333333 ppm): A wins despite the lower raw count.
    train = _docs(
        spark,
        [
            (1, "A", "alpha alpha beta beta"),
            (2, "B", "alpha alpha alpha gamma gamma gamma gamma gamma gamma"),
        ],
    )
    m = {r["token"]: r for r in token_vote_model(train).collect()}
    assert m["alpha"]["label"] == "A"
    assert m["alpha"]["score_ppm"] == 500000
    assert m["alpha"]["cnt"] == 2
    assert m["gamma"]["label"] == "B"


def test_clf_model_tie_breaks_to_smallest_label(spark):
    # "w" is 1/2 of tokens in both langs: exact ppm tie -> label "A".
    train = _docs(spark, [(1, "B", "w x"), (2, "A", "w y")])
    m = {r["token"]: r["label"] for r in token_vote_model(train).collect()}
    assert m["w"] == "A"


def test_clf_predict_majority_and_abstention(spark):
    train = _docs(spark, [(1, "A", "aa aa aa"), (2, "B", "bb bb bb")])
    model = token_vote_model(train)
    test = _docs(
        spark,
        [
            (10, "A", "aa aa bb"),  # 2 votes A, 1 vote B -> A
            (11, "B", "zz qq"),  # no model tokens -> absent from output
        ],
    )
    preds = {r["doc_id"]: r for r in token_vote_predict(model, test).collect()}
    assert preds[10]["predicted"] == "A"
    assert preds[10]["votes"] == 2
    assert preds[10]["n_voting"] == 3
    assert 11 not in preds


def test_clf_confusion_matrix_counts(spark):
    train = _docs(spark, [(1, "A", "aa"), (2, "B", "bb")])
    model = token_vote_model(train)
    test = _docs(spark, [(10, "A", "aa"), (11, "A", "bb"), (12, "B", "bb")])
    preds = token_vote_predict(model, test)
    cm = {
        (r["label"], r["predicted"]): r["n"]
        for r in confusion_matrix(preds, test).collect()
    }
    assert cm == {("A", "A"): 1, ("A", "B"): 1, ("B", "B"): 1}


# ------------------------------------------------------ boilerplate


def test_boilerplate_flags_repeated_segment_within_source_only(spark):
    seg = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        # src0: the same 8-word segment in two docs -> boilerplate
        (1, seg + " u1 u2", "en", "src0"),
        (2, seg + " u3 u4", "en", "src0"),
        # src1: the segment appears once -> NOT boilerplate there
        (3, seg + " u5 u6", "en", "src1"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {
        r["source"]: r
        for r in boilerplate_report_by_source(docs, seg_len=8, min_df=2).collect()
    }
    assert got["src0"]["boilerplate_keys"] == 1
    assert got["src0"]["occurrences_removed"] == 2
    assert got["src0"]["chars_removed"] == 2 * len(seg)
    assert got["src1"]["boilerplate_keys"] == 0
    assert got["src1"]["occurrences_removed"] == 0
    # every doc contributes 2 segments (8 words + 2-word remainder)
    assert got["src0"]["n_seg_occurrences"] == 4
    assert got["src0"]["n_docs"] == 2


def test_boilerplate_df_counts_docs_not_occurrences(spark):
    # The repeated segment occurs twice in ONE doc: df=1 < min_df=2,
    # so in-doc repetition alone is not site chrome.
    seg = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [(1, seg + " " + seg, "en", "src0")],
        "doc_id long, text string, lang string, source string",
    )
    got = boilerplate_report_by_source(docs, seg_len=8, min_df=2).collect()[0]
    assert got["boilerplate_keys"] == 0
    assert got["n_seg_occurrences"] == 2


# ------------------------------------------------------ winnowing


def test_winnowing_guarantee_shared_run_produces_shared_fingerprint(spark):
    """The paper's local guarantee: any shared token run of length
    >= k + w - 1 (= 8 here) yields at least one shared fingerprint."""
    from ftm_datalake_spark.operators.winnow import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    # NOTE: the tokenizer is [a-z]+ — digits are stripped — so test
    # words must be alphabetic to stay distinct.
    shared_run = "qa qb qc qd qe qf qg qh"  # exactly k + w - 1 tokens
    docs = spark.createDataFrame(
        [
            (1, f"aa ab ac {shared_run} ad ae af"),
            (2, f"ba bb {shared_run} bc bd be bf bg"),
            (3, "ca cb cc cd ce cf cg ch ci cj ck cl"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=4, w=5)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared"]
        for r in winnow_candidate_pairs(fps, min_shared=1).collect()
    }
    assert (1, 2) in pairs  # the guarantee
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_winnowing_short_doc_has_no_fingerprints(spark):
    from ftm_datalake_spark.operators.winnow import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "ta tb tc td te tf tg")],  # 7 tokens < k + w - 1 = 8
        "doc_id long, text string",
    )
    assert winnow_fingerprints(docs, k=4, w=5).count() == 0


def test_winnowing_density_is_sublinear_in_grams(spark):
    """Winnowing stores ~2/(w+1) of gram hashes; assert the selected
    set is well under the gram count for a long repetitive-free doc."""
    from ftm_datalake_spark.operators.winnow import winnow_fingerprints

    import itertools
    import string

    words = [
        a + b
        for a, b in itertools.product(string.ascii_lowercase, repeat=2)
    ][:200]
    text = " ".join(words)  # 197 distinct 4-grams
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n = winnow_fingerprints(docs, k=4, w=5).count()
    assert 0 < n < 197 / 2  # far below the full gram index


# ---------------------------------------------- partitioning independence


def test_clf_model_partitioning_independent(spark):
    import random

    rng = random.Random(7)
    langs = ["A", "B", "C"]
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        (
            i,
            rng.choice(langs),
            " ".join(rng.choice(words) for _ in range(rng.randrange(3, 12))),
        )
        for i in range(60)
    ]
    d1 = _docs(spark, rows).coalesce(1)
    d13 = _docs(spark, rows).repartition(13)
    m1 = sorted(map(tuple, token_vote_model(d1).collect()))
    m13 = sorted(map(tuple, token_vote_model(d13).collect()))
    assert m1 == m13


def test_winnowing_partitioning_independent(spark):
    from ftm_datalake_spark.operators.winnow import winnow_fingerprints

    import random

    rng = random.Random(3)
    words = [c + v for c in "bcdfg" for v in "aeiou"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(40))) for i in range(25)
    ]
    d1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    d7 = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    f1 = sorted(map(tuple, winnow_fingerprints(d1).collect()))
    f7 = sorted(map(tuple, winnow_fingerprints(d7).collect()))
    assert f1 == f7 and f1
