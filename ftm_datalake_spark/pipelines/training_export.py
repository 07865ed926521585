"""End-to-end training-data export: the corpus-curation operators
composed into ONE product verb that writes loader-ready artifacts.

Stages (each one an operator this engine already oracles individually):

1. quality gate  — Gopher rules (operators/textops.gopher_rules)
2. dedup + clean — CCNet segment-dedup canonicalization: boilerplate
                   segments are STRIPPED FROM THE SHIPPED TEXT, docs
                   whose content is entirely boilerplate are dropped,
                   and one survivor is kept per cleaned signature
                   (operators/textops.segment_dedup +
                   operators/training.sample_per_group_cap)
3. decontaminate — optional: drop docs sharing word k-grams with a
                   benchmark corpus (operators/training.decontaminate)
4. shard         — deterministic seeded shuffle into n_shards epoch
                   shards (operators/training.epoch_shards)
5. pack          — concat-and-chunk sequence packing PER SHARD, in
                   epoch (shuffle) order: every chunk is assembled from
                   one shard's own docs, so a per-shard loader never
                   reads across shards, and a different seed yields
                   different packed sequences (a new epoch), not just a
                   relabeled shard split

Outputs under ``out_dir``:
- ``docs/shard=K/*.parquet``   — surviving docs (CLEANED text), in
                                 epoch order by pos within each shard
- ``chunks/*.parquet``         — (shard, doc_id, n_tokens, cum_end,
                                 chunk_id) per-shard packing map
                                 (offsets let the reader slice docs
                                 back into chunks)
- ``manifest.json``            — per-stage counts + config (the export
                                 is a pure function of (corpus, config,
                                 seed): same inputs, same manifest)
- ``segledger/``, ``sigledger/`` — segment counts and per-doc clean
                                 signatures as generation ledgers
                                 (pipelines/genledger.py): what
                                 :func:`export_training_incremental`
                                 reads and appends instead of
                                 rescanning the corpus
- ``epochs/epoch=S/...``       — optional extra epochs
                                 (:func:`export_epoch_maps`): per-seed
                                 assignment + chunk maps over the SAME
                                 doc bytes — O(docs + spans) per epoch,
                                 the text is never copied

Everything is hash-deterministic (md5 shuffle keys, no RNG state), so a
re-run over the same corpus produces byte-stable shard membership — the
property a 100 TB pipeline needs to resume/verify an export. Each
curation stage is localCheckpoint-ed BEFORE its manifest count, so the
expensive chain (gopher gate, segment explode + two shuffles) executes
once, not once per downstream count. The per-shard packing cumsum is a
window partitioned by shard — each task holds corpus/n_shards rows, the
same scale contract as epoch_shards itself. No stage collects data to
the driver; the manifest counts are 1-row aggregates.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.pipelines.genledger import GenLedger
from ftm_datalake_spark.pipelines.genledger import delta_gen_id as _delta_id

# The export's two generation ledgers (pipelines/genledger.py): segment
# counts sum across generations; sig rows are disjoint (each doc_id is
# processed by exactly one fold), so they merge by plain union.
SEG_LEDGER = GenLedger("segledger", "seg_key string, n long", ("seg_key",))
SIG_LEDGER = GenLedger(
    "sigledger", "doc_id bigint, clean_sig string, exported boolean", None
)


def export_training(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    seq_len: int = 2048,
    n_shards: int = 8,
    seed: str = "epoch0",
    benchmark: DataFrame | None = None,
    quality_gate: bool = True,
) -> dict:
    """Run the full export; returns (and writes) the manifest dict."""
    from ftm_datalake_spark.operators.textops import (
        gopher_rules,
        segment_dedup,
        token_count,
    )
    from ftm_datalake_spark.operators.training import (
        decontaminate,
        epoch_shards,
        pack_epoch_shards,
        sample_per_group_cap,
    )

    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")

    manifest: dict = {
        "config": {
            "seq_len": seq_len,
            "n_shards": n_shards,
            "seed": seed,
            "quality_gate": quality_gate,
            "decontaminate": benchmark is not None,
        },
        "stages": {},
    }
    stages = manifest["stages"]
    stages["input_docs"] = docs.count()

    kept = docs
    if quality_gate:
        passes = gopher_rules(kept).where(F.col("passes")).select("doc_id")
        kept = kept.join(passes, "doc_id").localCheckpoint()
        stages["after_quality"] = kept.count()

    # CCNet canonicalization: the SHIPPED text is the boilerplate-
    # stripped reassembly; docs cleaned down to nothing carry no novel
    # content and are dropped (they would otherwise all collide on
    # md5('') and collapse into one arbitrary survivor); one survivor
    # per cleaned signature (exact dup == clean_sig collision)
    # pinned once: the winner window and the text branch below both
    # read `cleaned` — without the checkpoint Spark would re-run the
    # whole segment explode + shuffle chain for each branch.
    # The frequency table is computed ONCE, pinned, fed to the dedup
    # AND persisted as the export's segment LEDGER (segledger/): a
    # later delta fold counts only its own segments and sums them into
    # this table instead of re-scanning the corpus —
    # export_training_incremental's O(|delta|) path.
    from ftm_datalake_spark.operators.textops import segment_frequencies

    freq = segment_frequencies(kept).localCheckpoint()
    SEG_LEDGER.write_base(spark, out_dir, freq)
    cleaned = (
        segment_dedup(kept, keep_text=True, freq_table=freq)
        .where(F.col("clean_len") > 0)
        .localCheckpoint()
    )
    # cap on (doc_id, clean_sig) ONLY — the survivor window must not
    # shuffle the full cleaned-text payload; the text moves once, in
    # the winner join below
    winner_ids = sample_per_group_cap(
        cleaned.select("doc_id", "clean_sig"),
        "clean_sig",
        [F.col("doc_id")],
        cap=1,
    ).select("doc_id")
    kept = (
        kept.drop("text")
        .join(
            cleaned.select(
                "doc_id", F.col("clean_text").alias("text")
            ).join(winner_ids, "doc_id"),
            "doc_id",
        )
        .localCheckpoint()
    )
    stages["after_dedup"] = kept.count()

    if benchmark is not None:
        contaminated = decontaminate(kept, benchmark).select("doc_id")
        kept = kept.join(
            contaminated, "doc_id", "left_anti"
        ).localCheckpoint()
        stages["after_decontaminate"] = kept.count()

    # shards and chunks must see the SAME rows and epoch order
    sharded = epoch_shards(kept, seed, n_shards).drop(
        "shuffle_key"
    ).localCheckpoint()

    # sig LEDGER (sigledger/ base generation): one row per INPUT doc — its
    # cleaned signature (null if it never reached dedup) and whether it
    # shipped. Incremental folds anti-join doc_ids against this (so
    # re-delivered docs, including ones dedup DROPPED, are exactly-once
    # — ADVICE r8 #1a) and take first-write-wins sigs from its exported
    # rows instead of re-hashing the whole corpus text every fold
    # (ADVICE r8 #3). Both are generation ledgers (pipelines/genledger.py).
    SIG_LEDGER.write_base(
        spark, out_dir, _sig_rows(docs, cleaned, sharded)
    )
    (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "docs"))
    )

    # per-shard concat-and-chunk packing in EPOCH order (chunk ids are
    # local to the shard) — the oracled operator. Partitioned by shard
    # like docs/, so an incremental delta can replace exactly the
    # affected shards' maps via dynamic partition overwrite.
    packed = pack_epoch_shards(sharded, seq_len)
    (
        packed.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(os.path.join(out_dir, "chunks"))
    )

    totals = sharded.agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("tokens")
    ).first()
    # chunk counts from the parquet just written — re-aggregating
    # `packed` would re-run the whole window+explode plan a second time.
    # An empty corpus writes no part files (nothing to infer a schema
    # from), detected explicitly — any OTHER read failure must surface,
    # not silently become chunks=0 in a "successful" manifest. The
    # per-shard map (bounded: n_shards entries) is what lets a delta
    # fold update the total from only its affected shards, replay-safe
    # (the manifest — not possibly-crash-rewritten files — is the
    # authoritative pre-fold state).
    per_shard = _chunks_per_shard(spark, os.path.join(out_dir, "chunks"))
    stages["total_tokens"] = int(totals["tokens"] or 0)
    stages["chunks"] = sum(per_shard.values())
    stages["chunks_per_shard"] = per_shard
    stages["shards"] = n_shards

    _write_manifest(os.path.join(out_dir, "manifest.json"), manifest, spark)
    return manifest


from ftm_datalake_spark import fsutil

# Promoted to the shared fsutil module (VERDICT r8 #1) — these aliases
# keep the export's internal call sites and tests stable.
_hadoop_fs = fsutil.hadoop_fs
_dir_has_data = fsutil.dir_has_data


def _chunks_per_shard(
    spark: SparkSession, chunk_dir: str, shards: list[int] | None = None
) -> dict:
    """{shard(str): chunk_count} from a written chunk map — JSON-string
    keys so the map round-trips through manifest.json. ``shards``
    restricts the scan to those partitions (partition-pruned)."""
    if not _dir_has_data(spark, chunk_dir):
        return {}
    df = spark.read.parquet(chunk_dir)
    if shards is not None:
        if not shards:
            return {}
        df = df.where(F.col("shard").isin(shards))
    return {
        str(int(r["shard"])): int(r["n"])
        for r in df.groupBy("shard")
        .agg((F.max("chunk_id") + 1).cast("long").alias("n"))
        .collect()
    }


def _read_manifest(spark: SparkSession, path: str) -> dict:
    """Manifest read through the Hadoop FS client, so exports on
    non-file schemes (viewfs/s3a/hdfs) round-trip. Falls back to the
    ``.__bak__`` copy a crashed atomic swap may have left — at least one
    complete manifest always exists (ADVICE r8 #2)."""
    return json.loads(
        fsutil.read_bytes_with_fallback(spark, path).decode("utf-8")
    )


def _write_manifest(path: str, manifest: dict, spark: SparkSession | None = None) -> None:
    """Crash-safe manifest replace (fsutil.write_bytes_atomic): local
    paths os.replace; other Hadoop schemes swap through a ``.__bak__``
    so no crash window leaves the export with ZERO complete manifests
    (the old delete-then-rename had exactly that window — ADVICE r8
    #2); the matching reader fallback is in :func:`_read_manifest`."""
    from pyspark.sql import SparkSession as _S

    payload = json.dumps(manifest, indent=1, sort_keys=True).encode("utf-8")
    spark = spark or _S.getActiveSession()
    fsutil.write_bytes_atomic(spark, path, payload)


def read_training_chunks(
    spark: SparkSession,
    out_dir: str,
    epoch: str | None = None,
    shard: int | None = None,
) -> DataFrame:
    """Reader twin of :func:`export_training`: materialize each packed
    chunk's text pieces from the exported docs + chunk map.

    Returns one row per (shard, chunk_id, doc_id) span — ``piece_start``
    / ``piece_end`` are 0-based token offsets within the doc, ``piece``
    the corresponding whitespace-token slice, ``cum_end`` the doc's
    exclusive token end in the shard stream (the in-chunk piece order
    key). Concatenating pieces in (chunk_id, cum_end) order within a
    shard reproduces that shard's exact epoch token stream (law-tested
    in tests/test_training_export.py); a per-shard loader reads only its
    own shard's docs. The join is doc_id-keyed (one shuffle on an 8-byte
    key); slicing is codegen'd — no Python row boundary; no global sort
    is imposed (a loader groups by (shard, chunk_id) anyway).

    ``shard`` restricts the read to one shard — the per-loader shape: a
    rank-K data loader materializes only its own stream. For the base
    export both ``docs/`` and ``chunks/`` are shard-partitioned, so
    the bare-column filter prunes to one partition directory on each
    side; for an ``epoch`` map the docs pruning doesn't apply (epoch
    shard assignment is independent of the base partitioning) and the
    filter narrows the chunk side only."""
    from ftm_datalake_spark.operators.textops import tokens

    seq_len = _read_manifest(spark, os.path.join(out_dir, "manifest.json"))[
        "config"
    ]["seq_len"]
    docs = spark.read.parquet(os.path.join(out_dir, "docs"))
    # ``epoch`` selects an export_epoch_maps chunk map (same doc bytes,
    # different shard/packing); default is the base export's map
    chunk_dir = (
        os.path.join(out_dir, "epochs", f"epoch={epoch}", "chunks")
        if epoch
        else os.path.join(out_dir, "chunks")
    )
    chunks = spark.read.parquet(chunk_dir)
    if shard is not None:
        chunks = chunks.where(F.col("shard") == int(shard))
        if epoch is None:
            docs = docs.where(F.col("shard") == int(shard))
    j = chunks.join(docs.select("doc_id", "text"), "doc_id")
    start_global = F.col("cum_end") - F.col("n_tokens")
    piece_start = F.greatest(
        F.col("chunk_id") * seq_len - start_global, F.lit(0).cast("long")
    )
    piece_end = F.least(
        (F.col("chunk_id") + 1) * seq_len - start_global, F.col("n_tokens")
    )
    return j.select(
        "shard",
        "chunk_id",
        "doc_id",
        "cum_end",
        piece_start.alias("piece_start"),
        piece_end.alias("piece_end"),
        F.array_join(
            F.slice(
                tokens(F.col("text")),  # the packer's exact tokenization
                (piece_start + 1).cast("int"),
                (piece_end - piece_start).cast("int"),
            ),
            " ",
        ).alias("piece"),
    )


def export_epoch_maps(
    spark: SparkSession,
    out_dir: str,
    seeds: list[str],
    n_shards: int | None = None,
) -> dict:
    """Additional training epochs over an EXISTING export without
    copying the corpus: each seed yields a fresh shard assignment
    (doc_id, shard, pos) and per-shard chunk map, written under
    ``epochs/epoch=<seed>/{assignment,chunks}``. Storage per epoch is
    O(docs + spans) — text bytes are written once by export_training;
    a loader joins the epoch's assignment to ``docs/`` by doc_id (the
    8-byte-key shuffle) or re-reads docs/shard=K for epoch 0.

    Returns {"epochs": {seed: {"chunks": n, "span_tokens": n}}} and
    appends the same block to manifest.json (``span_tokens`` counts a
    boundary-straddling doc once per chunk — a span checksum, not a
    corpus token total). Deterministic like the base export: same
    (corpus, seed, config) ⇒ identical maps. Seeds double as directory
    names, so only ``[A-Za-z0-9._-]`` seeds are accepted — silent
    sanitization could alias two distinct seeds onto one directory."""
    from ftm_datalake_spark.operators.training import (
        epoch_shards,
        pack_epoch_shards,
    )

    for seed in seeds:
        if not seed or not all(
            c.isalnum() or c in "-_." for c in seed
        ):
            raise ValueError(
                f"epoch seed {seed!r} is not a safe directory name "
                "(use [A-Za-z0-9._-] only)"
            )
    if n_shards is not None and n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")

    man_path = os.path.join(out_dir, "manifest.json")
    manifest = _read_manifest(spark, man_path)
    seq_len = manifest["config"]["seq_len"]
    if n_shards is None:
        n_shards = manifest["config"]["n_shards"]

    docs = spark.read.parquet(os.path.join(out_dir, "docs")).select(
        "doc_id", "text"
    )
    stats: dict = {}
    for seed in seeds:
        epoch_dir = os.path.join(out_dir, "epochs", f"epoch={seed}")
        sharded = epoch_shards(docs, seed, n_shards).drop("shuffle_key")
        # pin once: assignment and chunks must agree on shard/pos
        sharded = sharded.localCheckpoint()
        (
            sharded.select("doc_id", "shard", "pos")
            .repartition(n_shards, "shard")
            .sortWithinPartitions("shard", "pos")
            .write.mode("overwrite")
            .parquet(os.path.join(epoch_dir, "assignment"))
        )
        packed = pack_epoch_shards(sharded, seq_len)
        packed.write.mode("overwrite").parquet(
            os.path.join(epoch_dir, "chunks")
        )
        chunk_dir = os.path.join(epoch_dir, "chunks")
        if not _dir_has_data(spark, chunk_dir):
            stats[seed] = {"chunks": 0, "span_tokens": 0}  # empty corpus
            continue
        row = (
            spark.read.parquet(chunk_dir)
            .groupBy("shard")
            .agg(
                (F.max("chunk_id") + 1).alias("n"),
                F.sum("n_tokens").alias("t"),
            )
            .agg(
                F.sum("n").cast("long").alias("chunks"),
                F.sum("t").cast("long").alias("tokens"),
            )
            .first()
        )
        stats[seed] = {
            "chunks": int(row["chunks"] or 0),
            # NOTE: summed over spans, so boundary-straddling docs count
            # once per chunk — loaders use it as a span checksum, not a
            # corpus token total (that lives in stages.total_tokens)
            "span_tokens": int(row["tokens"] or 0),
        }

    manifest.setdefault("epochs", {}).update(stats)
    _write_manifest(man_path, manifest, spark)
    return {"epochs": stats}


def _sig_rows(
    processed: DataFrame, cleaned: DataFrame, exported: DataFrame
) -> DataFrame:
    """Sig-ledger rows: one per processed doc — its cleaned signature
    (null if it never reached dedup) and whether it shipped."""
    return (
        processed.select("doc_id")
        .join(cleaned.select("doc_id", "clean_sig"), "doc_id", "left")
        .join(
            exported.select("doc_id").withColumn("__exp", F.lit(True)),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "clean_sig",
            F.coalesce("__exp", F.lit(False)).alias("exported"),
        )
    )


def export_training_incremental(
    spark: SparkSession,
    delta_docs: DataFrame,
    out_dir: str,
    *,
    benchmark: DataFrame | None = None,
) -> dict:
    """Weekly-refresh resume of :func:`export_training`: fold a delta
    batch into an EXISTING export, touching only the shards the delta
    lands in (VERDICT r6 #6 / r7 brief #5).

    Ledger pattern (streaming/ledger.py:19 and the reference's cache-
    skip crawl, /root/reference/ftm_datalake/crawl.py:64-65), with
    per-delta idempotence (ADVICE r8 #1): every fold has a
    deterministic ``delta_id`` (order-independent hash of its doc_id
    set); the manifest generation entry carrying that id is the fold's
    COMMIT RECORD, and both ledgers append generation ``<delta_id>``
    (pipelines/genledger.py). Replay at every crash point is
    exactly-once:

    - delta_id already committed in the manifest → pure no-op (even
      when the original fold's docs were ALL dropped by dedup — the
      old docs/-membership anti-join could not see those);
    - crash before the ledger appends → the sig ledger lacks the
      delta's ids, so the replay re-runs the whole deterministic fold
      (shard rewrites are dynamic-overwrite idempotent);
    - crash between ledger appends and the manifest commit → the
      ``<delta_id>`` generations are committed, so the replay recovers
      the generation entry from them instead of double-appending
      counts.

    Fresh docs (anti-joined against the sig ledger's ALL-processed ids,
    not docs/ membership) run the SAME curation chain as the full
    export:

    - quality gate: per-doc, delta-only (no global state);
    - segment dedup: the delta's own segment counts are SUMMED INTO the
      export's persisted segment ledger (``segledger/``, written by
      export_training) and the delta is cleaned against the combined
      table — O(|delta|) with no corpus rescan; the updated ledger is
      written back for the next fold. Exports predating the ledger fall
      back to one segmentation scan over the exported text
      (``extra_freq_docs``). The cleaned delta is dropped when its
      clean_sig already exists in the export (first-write-wins);
    - decontaminate: per-doc vs the static benchmark, delta-only;
    - shard + pack: the delta's deterministic shard set is computed
      (md5 fold — per-doc, so existing docs never move shards), those
      shards' docs are re-sharded and re-packed TOGETHER with the
      delta, and ONLY those shard partitions of ``docs/`` and
      ``chunks/`` are replaced (dynamic partition overwrite). Shards
      the delta misses are never read or written.

    Exactness contract (law-tested in tests/test_incremental_export.py):
    ``incremental(C, Δ) == full(C ∪ Δ)`` on shard membership, epoch
    order, and chunk maps whenever (a) Δ does not change C's CLEANED
    text — the already-shipped corpus is never re-cleaned
    retroactively (with the ledger, Δ's own cleaning sees the exact
    full-corpus frequencies; the approximation is one-sided) — and
    (b) Δ's doc_ids sort after C's in the dedup winner order (the
    append-only case). Scale: with the ledgers every stage — including
    the first-write-wins sig check (sigledger/, no corpus-text rehash;
    ADVICE r8 #3) and the manifest totals (maintained incrementally:
    token/doc deltas plus only the affected shards' chunk recount) —
    reads O(|Δ| + |affected shards| + |ledgers|), never the corpus
    text.

    Extra epoch maps (``epochs/``) are derived from the pre-delta
    corpus and become stale — re-run :func:`export_epoch_maps` after
    folding a delta; the generation entry records which seeds staled.

    Appends a generation entry to ``manifest.json`` and returns the
    updated manifest.
    """
    from ftm_datalake_spark.operators.textops import (
        gopher_rules,
        segment_dedup,
        token_count,
    )
    from ftm_datalake_spark.operators.training import (
        decontaminate,
        epoch_shards,
        pack_epoch_shards,
        sample_per_group_cap,
    )

    man_path = os.path.join(out_dir, "manifest.json")
    manifest = _read_manifest(spark, man_path)
    cfg = manifest["config"]
    seq_len, n_shards = cfg["seq_len"], cfg["n_shards"]
    seed, quality_gate = cfg["seed"], cfg["quality_gate"]
    if cfg.get("decontaminate") and benchmark is None:
        raise ValueError(
            "export was built with decontamination; pass the same "
            "benchmark frame to the incremental fold"
        )

    existing = spark.read.parquet(os.path.join(out_dir, "docs"))
    stages = manifest["stages"]
    delta_id = _delta_id(delta_docs)
    n_input = delta_docs.count()

    # commit-record check: a delta_id already in the manifest was fully
    # folded AND committed — pure no-op replay (records an audit entry)
    if any(
        g.get("delta_id") == delta_id
        for g in manifest.get("generations", [])
    ):
        gen = {
            "delta_id": delta_id,
            "delta_input": n_input,
            "delta_fresh": 0,
            "affected_shards": [],
            "docs_added": 0,
            "replayed": True,
        }
        manifest.setdefault("generations", []).append(gen)
        _write_manifest(man_path, manifest, spark)
        return manifest

    gen_rows = SIG_LEDGER.read_gen(spark, out_dir, delta_id)
    if gen_rows is not None:
        # crash window: ledgers advanced, manifest commit lost. Docs and
        # ledgers are complete (ledger appends happen after the shard
        # writes; read_gen serves committed generations only, so a
        # half-committed gen re-folds instead of recovering from
        # partial counts); reconstruct the generation entry from the
        # ledger gen instead of re-counting the delta into the ledgers
        # (ADVICE r8 #1b's dual: counts must land exactly once).
        gen_rows = gen_rows.localCheckpoint()
        exported_ids = gen_rows.where(F.col("exported")).select("doc_id")
        gen = {
            "delta_id": delta_id,
            "delta_input": n_input,
            "delta_fresh": gen_rows.count(),
            "docs_added": exported_ids.count(),
            "affected_shards": sorted(
                int(r["shard"])
                for r in existing.join(exported_ids, "doc_id")
                .select("shard")
                .distinct()
                .collect()
            ),
            "recovered": True,
            "stale_epochs": sorted(manifest.get("epochs", {})),
        }
        totals = existing.agg(
            F.sum(token_count(F.col("text"))).cast("long").alias("tokens"),
            F.count("*").alias("docs"),
        ).first()
        stages["total_tokens"] = int(totals["tokens"] or 0)
        stages["after_dedup"] = int(totals["docs"] or 0)
        per_shard = _chunks_per_shard(spark, os.path.join(out_dir, "chunks"))
        stages["chunks"] = sum(per_shard.values())
        stages["chunks_per_shard"] = per_shard
        manifest.setdefault("generations", []).append(gen)
        _write_manifest(man_path, manifest, spark)
        return manifest

    # sig-ledger bootstrap for exports predating it: one corpus pass
    # (ids + shipped-text hash), after which every fold is ledger-only
    if not SIG_LEDGER.present(spark, out_dir):
        SIG_LEDGER.write_base(
            spark,
            out_dir,
            existing.select(
                "doc_id",
                F.md5("text").alias("clean_sig"),
                F.lit(True).alias("exported"),
            ),
        )
    sig = SIG_LEDGER.read(spark, out_dir)

    gen: dict = {"delta_id": delta_id, "delta_input": n_input}
    # ledger skip: doc_ids already PROCESSED (exported or dropped)
    # never re-enter — re-delivered dropped docs must not re-count
    # their segments into the ledger (ADVICE r8 #1a)
    fresh = delta_docs.join(
        sig.select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint()
    gen["delta_fresh"] = fresh.count()

    kept = fresh
    if quality_gate:
        passes = gopher_rules(kept).where(F.col("passes")).select("doc_id")
        kept = kept.join(passes, "doc_id").localCheckpoint()
        gen["after_quality"] = kept.count()

    # clean the delta against corpus-wide segment frequencies. Fast
    # path: the export's segment LEDGER (segledger/, written by
    # export_training) holds the post-quality corpus counts as
    # MERGEABLE GENERATIONS — reads sum them (read_segment_ledger), and
    # this fold APPENDS only the delta's own counts, so the per-fold
    # ledger write is O(|delta|), not O(|corpus segments|); run
    # compact_segment_ledger when the generation count grows. The
    # append happens at the END of the fold (after the shard writes):
    # a crash mid-fold re-runs the whole delta and the ledger is only
    # ever advanced by a completed fold. Fallback for pre-ledger
    # exports: segment the exported (cleaned) text as extra frequency
    # evidence — one corpus scan, no text reassembly.
    from ftm_datalake_spark.operators.textops import segment_frequencies

    delta_freq = None
    if SEG_LEDGER.present(spark, out_dir):
        delta_freq = segment_frequencies(kept).localCheckpoint()
        # only the DELTA's seg_keys matter to the delta's cleaning —
        # semi-join the ledger down to them BEFORE the sum, so the fold
        # never runs a corpus-wide aggregate (the ledger scan stays a
        # one-column filtered read; AQE broadcasts the delta's keys)
        freq = (
            SEG_LEDGER.read_raw(spark, out_dir).join(
                delta_freq.select("seg_key").distinct(), "seg_key", "left_semi"
            )
            .unionByName(delta_freq)
            .groupBy("seg_key")
            .agg(F.sum("n").cast("long").alias("n"))
        )
        cleaned = segment_dedup(kept, keep_text=True, freq_table=freq)
    else:
        cleaned = segment_dedup(
            kept,
            keep_text=True,
            extra_freq_docs=existing.select("doc_id", "text"),
        )
    cleaned = cleaned.where(F.col("clean_len") > 0).localCheckpoint()
    winner_ids = sample_per_group_cap(
        cleaned.select("doc_id", "clean_sig"),
        "clean_sig",
        [F.col("doc_id")],
        cap=1,
    ).select("doc_id", "clean_sig")
    # first-write-wins against the SIG LEDGER's exported signatures —
    # never a rehash of the corpus text column (ADVICE r8 #3). No
    # distinct: an anti-join's right side needs membership, not
    # uniqueness, and the aggregate would be a corpus-wide shuffle.
    existing_sigs = (
        sig.where(F.col("exported"))
        .select("clean_sig")
        .where(F.col("clean_sig").isNotNull())
    )
    new_ids = winner_ids.join(
        existing_sigs, "clean_sig", "left_anti"
    ).select("doc_id")
    kept = (
        kept.drop("text")
        .join(
            cleaned.select("doc_id", F.col("clean_text").alias("text")).join(
                new_ids, "doc_id"
            ),
            "doc_id",
        )
        .localCheckpoint()
    )
    gen["after_dedup"] = kept.count()

    if benchmark is not None:
        contaminated = decontaminate(kept, benchmark).select("doc_id")
        kept = kept.join(contaminated, "doc_id", "left_anti").localCheckpoint()
        gen["after_decontaminate"] = kept.count()

    # deterministic per-doc shard fold: the delta's shard set is the
    # full blast radius (bounded collect: ≤ n_shards rows)
    affected = sorted(
        int(r["shard"])
        for r in epoch_shards(kept, seed, n_shards)
        .select("shard")
        .distinct()
        .collect()
    )
    gen["affected_shards"] = affected
    gen["docs_added"] = gen["after_decontaminate" if benchmark is not None else "after_dedup"]

    # per-shard chunk map: the manifest's copy is the authoritative
    # PRE-fold state (a crashed prior attempt may have rewritten the
    # affected shards' files already — counting those would double the
    # delta); legacy manifests derive it from the files once
    chunks_dir = os.path.join(out_dir, "chunks")
    chunks_per_shard = dict(
        stages.get("chunks_per_shard")
        or _chunks_per_shard(spark, chunks_dir)
    )

    if affected:
        combined = (
            # bare column in the filter: wrapping the PARTITION column
            # in a cast would defeat partition pruning and list-scan
            # every shard directory of a 100 TB export. The anti-join
            # on the delta's ids makes a replay over a crashed partial
            # shard write idempotent (the crashed write may already
            # hold delta docs; the re-fold must not duplicate them).
            existing.where(F.col("shard").isin(affected))
            .join(kept.select("doc_id"), "doc_id", "left_anti")
            .drop("shard", "pos")
            .unionByName(kept)
        )
        resharded = (
            epoch_shards(combined, seed, n_shards)
            .drop("shuffle_key")
            .localCheckpoint()
        )
        (
            resharded.repartition(len(affected), "shard")
            .sortWithinPartitions("shard", "pos")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard")
            .parquet(os.path.join(out_dir, "docs"))
        )
        packed = pack_epoch_shards(resharded, seq_len)
        (
            packed.repartition(len(affected), "shard")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("shard")
            .parquet(os.path.join(out_dir, "chunks"))
        )

    # advance the ledgers after the shard writes, each as generation
    # <delta_id>, skipped when already committed — so a crash at ANY
    # point replays to exactly one generation of counts (ADVICE r8
    # #1b), and the manifest write below is the commit
    if gen["delta_fresh"]:
        if delta_freq is not None:
            SEG_LEDGER.append(spark, out_dir, delta_id, delta_freq)
        SIG_LEDGER.append(
            spark, out_dir, delta_id, _sig_rows(fresh, cleaned, kept)
        )

    # manifest totals maintained INCREMENTALLY — O(|Δ| + affected
    # shards), never a corpus rescan (ADVICE r8 #3): disjoint docs make
    # token/doc counts additive, and re-packing only changes the
    # affected shards' chunk counts (counted partition-pruned).
    delta_tokens = 0
    if gen["docs_added"]:
        delta_tokens = int(
            kept.agg(
                F.sum(token_count(F.col("text"))).cast("long").alias("t")
            ).first()["t"]
            or 0
        )
    if affected:
        chunks_per_shard.update(
            _chunks_per_shard(spark, chunks_dir, shards=affected)
        )
    stages["total_tokens"] = int(stages.get("total_tokens", 0)) + delta_tokens
    stages["after_dedup"] = (
        int(stages.get("after_dedup", 0)) + gen["docs_added"]
    )
    stages["chunks"] = sum(chunks_per_shard.values())
    stages["chunks_per_shard"] = chunks_per_shard
    gen["stale_epochs"] = sorted(manifest.get("epochs", {}))
    manifest.setdefault("generations", []).append(gen)
    _write_manifest(man_path, manifest, spark)
    return manifest


def read_segment_ledger(spark: SparkSession, out_dir: str) -> DataFrame:
    """Canonical (seg_key, n) view of the export's segment ledger: the
    committed generations summed on the 16-byte hash. Segment counts
    are additive, which is what makes O(|delta|) appends sound."""
    return SEG_LEDGER.read(spark, out_dir)


def compact_segment_ledger(spark: SparkSession, out_dir: str) -> int:
    """Fold the segment ledger's generations into one base; returns the
    distinct segment count. Run BETWEEN folds only: the per-delta
    generations double as crash-recovery breadcrumbs within a fold
    (their job ends at the fold's manifest commit)."""
    return SEG_LEDGER.compact(spark, out_dir)


def compact_sig_ledger(spark: SparkSession, out_dir: str) -> int:
    """sigledger twin of :func:`compact_segment_ledger`; returns the
    processed-doc count."""
    return SIG_LEDGER.compact(spark, out_dir)


def refresh_epoch_maps(spark: SparkSession, out_dir: str) -> dict:
    """Re-derive every epoch map recorded in the manifest over the
    CURRENT docs/ — the follow-up to a delta fold, which stales extra
    epochs (their assignment/chunk maps predate the new docs; the
    generation entries record which seeds). Same cost contract as
    export_epoch_maps: O(docs + spans) per seed, text never copied."""
    manifest = _read_manifest(spark, os.path.join(out_dir, "manifest.json"))
    seeds = sorted(manifest.get("epochs", {}))
    if not seeds:
        return {"epochs": {}}
    return export_epoch_maps(spark, out_dir, seeds)


def stream_training_deltas(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    *,
    benchmark: DataFrame | None = None,
    checkpoint: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Continuous corpus ingestion: fold document deltas landing in
    ``source_dir`` (a parquet drop directory) into an existing export.

    Structured Streaming file source → foreachBatch →
    :func:`export_training_incremental`. Exactly-once per document
    WITHOUT relying on the sink checkpoint alone: the fold's ledger
    anti-join makes a replayed micro-batch a no-op, so checkpoint
    recovery (which may re-deliver the in-flight batch) cannot
    double-ingest — the same idempotence contract as the RFC stage
    pipeline (streaming/stages.py). The delta schema is taken from the
    export's own docs (minus the derived shard/pos), so a drop file
    with a drifted schema fails loudly at the source, not mid-fold.

    ``available_now=True`` (default) drains the backlog and stops — the
    cron-driven refresh shape; pass False for a long-running query.
    Returns the StreamingQuery (caller awaits/stops it)."""
    from pyspark.sql.types import StructType

    docs_schema = StructType(
        [
            f
            for f in spark.read.parquet(os.path.join(out_dir, "docs")).schema
            if f.name not in ("shard", "pos")
        ]
    )
    stream = spark.readStream.schema(docs_schema)
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    frames = stream.parquet(source_dir)

    def fold(batch: DataFrame, _batch_id: int) -> None:
        export_training_incremental(
            spark, batch, out_dir, benchmark=benchmark
        )

    writer = frames.writeStream.foreachBatch(fold).option(
        "checkpointLocation",
        checkpoint or os.path.join(out_dir, "_delta_stream_checkpoint"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
