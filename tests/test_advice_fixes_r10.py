"""Regression tests for the round-9 ADVICE findings (fixed round 10):

1. (medium) compact_classifier_ledger must never fold an UNCOMMITTED
   generation (crashed append: part files, no _SUCCESS) into gen=base —
   doing so double-counts the delta once its re-delivery lands. The
   read path now serves committed generations only, so the crashed
   partial is invisible, compaction discards it, and the re-delivery
   appends the full counts exactly once. The same laws for all three
   generation ledgers (export segment/sig, classifier tokens) live in
   tests/test_gen_ledger.py.
2. (low) winnow/segment oracles: per-doc series bounds replace the
   constant caps (covered by parity sweeps; here we assert no registry
   oracle carries the old capped idiom).
3. (low) score_ppm uses true integer division (`div`), never routing
   the quotient through a double — exact beyond 2^53.
4. (low) read paths and stats flag uncommitted generations.
5. (low) flat-layout ledger files count as gen=base in stats, not as a
   phantom appended generation.
"""

from __future__ import annotations

import os

from ftm_datalake_spark import fsutil
from ftm_datalake_spark.operators.classifier import (
    model_from_counts,
    token_counts,
    token_vote_predict,
)
from ftm_datalake_spark.pipelines.classifier_store import (
    append_classifier_model,
    build_classifier_model,
    classifier_model_stats,
    compact_classifier_ledger,
    predict_from_store,
    read_classifier_counts,
    read_classifier_model,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


_BASE = [
    (1, "A", "alpha alpha beta"),
    (2, "B", "gamma gamma gamma beta"),
    (3, "A", "alpha beta beta"),
]
_DELTA = [
    (10, "B", "alpha alpha alpha alpha"),
    (11, "A", "gamma"),
]


def _model_rows(spark, model_dir):
    return sorted(
        tuple(r) for r in read_classifier_model(spark, model_dir).collect()
    )


def _crash_append(spark, model_dir, delta):
    """Simulate an append whose job commit crashed: gen partition holds
    part files but no _SUCCESS marker."""
    res = append_classifier_model(spark, delta, model_dir)
    gen_dir = os.path.join(
        model_dir, "tokledger", f"gen={res['delta_id']}"
    )
    fsutil.delete(spark, gen_dir.rstrip("/") + "/_SUCCESS")
    assert not fsutil.dir_committed(spark, gen_dir)
    return res["delta_id"]


def test_uncommitted_gen_invisible_to_reads(spark, tmp_path):
    d = str(tmp_path / "m")
    build_classifier_model(spark, _docs(spark, _BASE), d)
    before = _model_rows(spark, d)
    _crash_append(spark, d, _docs(spark, _DELTA))
    # partial counts are never served mid-recovery
    assert _model_rows(spark, d) == before
    stats = classifier_model_stats(spark, d)
    assert stats["uncommitted_generations"] == 1
    assert stats["generations"] == 1  # base only


def test_compaction_skips_crashed_append_then_redelivery_exact_once(
    spark, tmp_path
):
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_classifier_model(spark, _docs(spark, _BASE), inc)
    _crash_append(spark, inc, _docs(spark, _DELTA))
    # the ADVICE scenario: compact WHILE the crashed gen is pending
    compact_classifier_ledger(spark, inc)
    # re-delivery of the same delta must append the FULL counts
    res = append_classifier_model(spark, _docs(spark, _DELTA), inc)
    assert not res["skipped"]
    build_classifier_model(spark, _docs(spark, _BASE + _DELTA), full)
    assert _model_rows(spark, inc) == _model_rows(spark, full)


def test_redelivery_overwrites_crashed_append_without_compaction(
    spark, tmp_path
):
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_classifier_model(spark, _docs(spark, _BASE), inc)
    _crash_append(spark, inc, _docs(spark, _DELTA))
    res = append_classifier_model(spark, _docs(spark, _DELTA), inc)
    assert not res["skipped"]
    build_classifier_model(spark, _docs(spark, _BASE + _DELTA), full)
    assert _model_rows(spark, inc) == _model_rows(spark, full)
    assert classifier_model_stats(spark, inc)["uncommitted_generations"] == 0


def test_flat_layout_counts_as_base_in_stats(spark, tmp_path):
    d = str(tmp_path / "m")
    ledger = os.path.join(d, "tokledger")
    # legacy flat layout: count files directly at the ledger root
    token_counts(_docs(spark, _BASE)).write.mode("overwrite").parquet(ledger)
    stats = classifier_model_stats(spark, d)
    assert stats["generations"] == 1  # '' gen folded into base
    assert stats["appended_mass"] == 0
    assert stats["uncommitted_generations"] == 0
    # and the model still reads
    assert len(_model_rows(spark, d)) > 0


def test_score_ppm_exact_beyond_double_precision(spark):
    # cnt * 1e6 > 2^53: double division rounds the exact quotient off
    # by one; `div` must not. 9_007_200_000 * 1e6 / 1e9 = 9_007_200_000
    # exactly, but the double path yields a neighbouring value.
    cnt, total = 9_007_200_001, 1_000_000_000
    counts = spark.createDataFrame(
        [("A", "the", cnt), ("A", "pad", total - cnt)],
        "label string, token string, cnt long",
    )
    row = {
        r["token"]: r
        for r in model_from_counts(counts).collect()
    }["the"]
    assert row["score_ppm"] == (cnt * 1_000_000) // total


def test_broadcast_guard_paths_identical(spark):
    train = _docs(spark, _BASE + _DELTA)
    test = _docs(spark, [(100, "A", "alpha gamma beta beta")])
    model = model_from_counts(token_counts(train))
    forced = token_vote_predict(model, test, max_broadcast_rows=None)
    never = token_vote_predict(model, test, max_broadcast_rows=0)
    counted = token_vote_predict(model, test, max_broadcast_rows=1)  # > 1 row
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(forced) == rows(never) == rows(counted)
    # the forced path hints broadcast; the guarded-over-threshold one
    # must NOT carry the hint in its optimized plan
    assert "broadcast" in forced._jdf.queryExecution().optimizedPlan().toString().lower()


def test_predict_from_store_matches_inline(spark, tmp_path):
    d = str(tmp_path / "m")
    train = _docs(spark, _BASE + _DELTA)
    build_classifier_model(spark, train, d)
    test = _docs(spark, [(100, "A", "alpha gamma beta beta")])
    inline = token_vote_predict(
        model_from_counts(token_counts(train)), test, max_broadcast_rows=None
    )
    stored_small = predict_from_store(spark, d, test)
    stored_big = predict_from_store(spark, d, test, max_broadcast_bytes=0)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    assert rows(inline) == rows(stored_small) == rows(stored_big)


def test_min_count_prunes_vocab_but_keeps_totals(spark):
    train = _docs(spark, _BASE + _DELTA)
    full = model_from_counts(token_counts(train))
    pruned = model_from_counts(token_counts(train), min_count=4)
    full_rows = {r["token"]: r for r in full.collect()}
    pruned_rows = {r["token"]: r for r in pruned.collect()}
    assert set(pruned_rows) < set(full_rows)
    # surviving tokens keep their FULL-corpus-calibrated scores
    for t, r in pruned_rows.items():
        assert r["score_ppm"] == full_rows[t]["score_ppm"]


def test_no_constant_capped_series_in_oracles():
    """No registry oracle may bound a per-document LATERAL series with
    a constant cap (the silent-divergence trap, ADVICE r9 #2)."""
    from ftm_datalake_spark.plans import REGISTRY

    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        sql = " ".join(spec.oracle.split()).lower()
        assert "generate_series(0, 127)" not in sql, name
        assert "generate_series(0, 2047)" not in sql, name


def test_bpe_encode_broadcast_guard_paths_identical(spark):
    """Same guard class as the classifier model: the trained word vocab
    is corpus-uncapped, so encode_token_counts must produce identical
    counts whether the vocab side is forced-broadcast, unhinted, or
    guarded over a tiny threshold."""
    from ftm_datalake_spark.operators import bpe as B

    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * (i + 1)) for i in range(4)],
        "doc_id long, text string",
    )
    _, vocab = B.bpe_train(docs, num_merges=3)
    vocab = vocab.localCheckpoint(eager=True)
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    forced = B.encode_token_counts(docs, vocab, max_broadcast_rows=None)
    never = B.encode_token_counts(docs, vocab, max_broadcast_rows=0)
    counted = B.encode_token_counts(docs, vocab, max_broadcast_rows=1)
    assert rows(forced) == rows(never) == rows(counted)
