"""Laws for the persisted incremental token-vote classifier model
(pipelines/classifier_store.py): incremental == full, idempotent
re-delivery, compaction invisibility, and the O(|delta|) shape claim
(an append never reads the existing ledger)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ftm_datalake_spark.pipelines.classifier_store import (
    append_classifier_model,
    build_classifier_model,
    compact_classifier_ledger,
    read_classifier_counts,
    read_classifier_model,
)
from ftm_datalake_spark.pipelines.genledger import delta_gen_id
from tests.test_driver_jobs import _jobs


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


def test_incremental_equals_full(spark, tmp_path):
    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")
    build_classifier_model(spark, _docs(spark, _BASE), inc_dir)
    res = append_classifier_model(spark, _docs(spark, _DELTA), inc_dir)
    assert not res["skipped"] and res["rows_appended"] > 0
    build_classifier_model(spark, _docs(spark, _BASE + _DELTA), full_dir)
    assert _model_rows(spark, inc_dir) == _model_rows(spark, full_dir)


def test_redelivered_delta_is_noop(spark, tmp_path):
    d = str(tmp_path / "m")
    build_classifier_model(spark, _docs(spark, _BASE), d)
    first = append_classifier_model(spark, _docs(spark, _DELTA), d)
    before = _model_rows(spark, d)
    # same doc ids, different order/partitioning -> same delta_id
    again = append_classifier_model(
        spark, _docs(spark, list(reversed(_DELTA))).repartition(5), d
    )
    assert again["skipped"] and again["delta_id"] == first["delta_id"]
    assert _model_rows(spark, d) == before


def test_skipped_redelivery_runs_only_the_delta_id(spark, tmp_path):
    """A re-delivered delta costs its identity alone: the committed
    generation is seen before the token counts are built or pinned."""
    d = str(tmp_path / "m")
    build_classifier_model(spark, _docs(spark, _BASE), d)
    append_classifier_model(spark, _docs(spark, _DELTA), d)
    delta = _docs(spark, _DELTA)
    id_jobs = len(_jobs(spark, lambda: delta_gen_id(delta)))
    out = []
    redelivery_jobs = len(
        _jobs(spark, lambda: out.append(append_classifier_model(spark, delta, d)))
    )
    assert out[0]["skipped"]
    assert redelivery_jobs <= id_jobs


def test_compaction_preserves_model_and_merges_generations(spark, tmp_path):
    d = str(tmp_path / "m")
    build_classifier_model(spark, _docs(spark, _BASE), d)
    append_classifier_model(spark, _docs(spark, _DELTA), d)
    append_classifier_model(
        spark, _docs(spark, [(20, "B", "beta beta")]), d
    )
    before = _model_rows(spark, d)
    n = compact_classifier_ledger(spark, d)
    assert n == len(
        read_classifier_counts(spark, d).collect()
    )
    after = _model_rows(spark, d)
    assert after == before
    # all generations folded into gen=base
    gens = {
        r["gen"]
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(f"{d}/tokledger")
        .select(F.input_file_name().alias("f"))
        .withColumn("gen", F.regexp_extract("f", r"gen=([^/]+)", 1))
        .collect()
    }
    assert gens == {"base"}


def test_append_never_touches_existing_generations(spark, tmp_path):
    """O(|delta|) shape: an append writes ONLY its own gen partition —
    every pre-existing ledger file is bit-identical afterwards (same
    path, mtime, size), so the append neither read-modified nor
    rewrote corpus-scale state."""
    import os

    d = str(tmp_path / "m")
    build_classifier_model(spark, _docs(spark, _BASE), d)

    def snapshot():
        out = {}
        for root, _dirs, files in os.walk(f"{d}/tokledger"):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = snapshot()
    append_classifier_model(spark, _docs(spark, _DELTA), d)
    after = snapshot()
    # every old file unchanged; new files only under a new gen= dir
    for p, sig in before.items():
        assert after[p] == sig, f"append rewrote pre-existing file {p}"
    new_files = set(after) - set(before)
    assert new_files
    assert all("gen=" in p and "gen=base" not in p for p in new_files)


def test_model_matches_inline_training(spark, tmp_path):
    from ftm_datalake_spark.operators.classifier import token_vote_model

    d = str(tmp_path / "m")
    all_docs = _docs(spark, _BASE + _DELTA)
    build_classifier_model(spark, _docs(spark, _BASE), d)
    append_classifier_model(spark, _docs(spark, _DELTA), d)
    inline = sorted(tuple(r) for r in token_vote_model(all_docs).collect())
    assert _model_rows(spark, d) == inline


def test_stream_classifier_deltas(spark, tmp_path):
    """Streaming model refresh: labeled deltas dropped as parquet files
    fold micro-batch by micro-batch and the merged model equals one-shot
    training on everything; a checkpointed re-run of the drained stream
    appends nothing (exactly-once per delta, and a crash-replayed batch
    hits the gen= no-op path)."""
    import glob
    import os
    import shutil

    from ftm_datalake_spark.operators.classifier import token_vote_model
    from ftm_datalake_spark.pipelines.classifier_store import (
        stream_classifier_deltas,
    )

    d = str(tmp_path / "m")
    build_classifier_model(spark, _docs(spark, _BASE), d)

    drop = tmp_path / "drop"
    drop.mkdir()

    def drop_delta(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, str(drop / f"{name}.parquet"))

    extra = [(30, "A", "beta gamma gamma")]
    drop_delta(_docs(spark, _DELTA), "batch1")
    drop_delta(_docs(spark, extra), "batch2")

    q = stream_classifier_deltas(spark, str(drop), d, max_files_per_trigger=1)
    q.awaitTermination(120)

    inline = sorted(
        tuple(r)
        for r in token_vote_model(_docs(spark, _BASE + _DELTA + extra)).collect()
    )
    assert _model_rows(spark, d) == inline

    # ledger has base + one gen per micro-batch
    import re

    gens = {
        m.group(1)
        for p in os.listdir(f"{d}/tokledger")
        if (m := re.match(r"gen=(.+)", p))
    }
    assert "base" in gens and len(gens) == 3

    # drained stream restarted on the same checkpoint: nothing new
    q2 = stream_classifier_deltas(spark, str(drop), d)
    q2.awaitTermination(120)
    assert _model_rows(spark, d) == inline
    gens2 = {p for p in os.listdir(f"{d}/tokledger") if p.startswith("gen=")}
    assert len(gens2) == 3
