"""CLI entry points mirroring the reference's Typer commands (SURVEY §3):

    python -m ftm_datalake_spark crawl  SRC  -d DATASET --lake LAKE [--include G] [--exclude G] [--archive]
    python -m ftm_datalake_spark make   SRC  -d DATASET --lake LAKE
    python -m ftm_datalake_spark stats       -d DATASET --lake LAKE
    python -m ftm_datalake_spark ls          -d DATASET --lake LAKE [--keys|--checksums]
    python -m ftm_datalake_spark config      -d DATASET --lake LAKE [--config PATH]
    python -m ftm_datalake_spark catalog         --lake LAKE [--names-only]
    python -m ftm_datalake_spark versions    -d DATASET --lake LAKE
    python -m ftm_datalake_spark diff        -d DATASET --lake LAKE -v NEW [--against OLD]
    python -m ftm_datalake_spark get    KEY  -d DATASET --lake LAKE [-o OUT]
    python -m ftm_datalake_spark head   KEY  -d DATASET --lake LAKE
    python -m ftm_datalake_spark export-zip  -d DATASET --lake LAKE --out FILE.zip
    python -m ftm_datalake_spark serve           --lake LAKE --secret S [--debug]
    python -m ftm_datalake_spark forget KEY...  -d DATASET --lake LAKE [--keep-blobs]
    python -m ftm_datalake_spark gc          -d DATASET --lake LAKE [--dry-run]
    python -m ftm_datalake_spark dq profile PATH --cols a,b  |  dq skew PATH --key k

`crawl` routes by URI scheme: a local path scans via binaryFile, an
http(s):// source lists/fetches through sources/http_store, an
s3://bucket/prefix source through sources/s3_store (ListObjectsV2 +
per-task boto3 GETs; --s3-endpoint for moto/MinIO) — all with the same
key-based skip-existing contract; --archive fetches only blobs whose
shard is absent.

Reference: ftm_datalake/cli.py:96-283 (config/catalog/versions/diff/make/
get/head/ls/crawl/export) plus aleph-load-dataset / aleph-load-catalog
(cli.py:351-395, sync/aleph_entities.py) — same verbs, Spark jobs
underneath. `head`
matches the reference semantics: it prints the file INFO record (metadata
JSON), not leading bytes; `get` streams the blob from the content-
addressed archive (populate it with `crawl --archive`).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="ftm_datalake_spark")
    parser.add_argument("--master", default=None, help="spark master override")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_crawl = sub.add_parser("crawl")
    p_crawl.add_argument("source")
    p_crawl.add_argument("-d", "--dataset", required=True)
    p_crawl.add_argument("--lake", required=True)
    p_crawl.add_argument("--include")
    p_crawl.add_argument("--exclude")
    p_crawl.add_argument(
        "--archive", action="store_true",
        help="also copy blob bytes into the content-addressed archive",
    )
    p_crawl.add_argument(
        "--s3-endpoint", default=None,
        help="custom S3 endpoint URL for s3:// sources (e.g. a moto or "
        "MinIO server); credentials/region come from the boto3 default "
        "chain unless FTM_DATALAKE_S3_* env vars are set",
    )
    p_crawl.add_argument(
        "--inventory", default=None,
        help="S3 Inventory manifest URI (parquet, `key` column): crawl "
        "keys from the manifest instead of ListObjectsV2 — the "
        "manifest-scale path; keys never visit the driver",
    )

    p_make = sub.add_parser("make")
    p_make.add_argument("source")
    p_make.add_argument("-d", "--dataset", required=True)
    p_make.add_argument("--lake", required=True)

    p_stats = sub.add_parser("stats")
    p_stats.add_argument("-d", "--dataset", required=True)
    p_stats.add_argument("--lake", required=True)

    p_ls = sub.add_parser("ls")
    p_ls.add_argument("-d", "--dataset", required=True)
    p_ls.add_argument("--lake", required=True)
    group = p_ls.add_mutually_exclusive_group()
    group.add_argument("--keys", action="store_true")
    group.add_argument("--checksums", action="store_true")

    p_cfg = sub.add_parser("config")
    p_cfg.add_argument("-d", "--dataset", required=True)
    p_cfg.add_argument("--lake", required=True)
    p_cfg.add_argument("--config", help="config.yml path override")

    p_cat = sub.add_parser("catalog")
    p_cat.add_argument("--lake", required=True)
    p_cat.add_argument("--names-only", action="store_true")

    p_ver = sub.add_parser("versions")
    p_ver.add_argument("-d", "--dataset", required=True)
    p_ver.add_argument("--lake", required=True)

    p_diff = sub.add_parser("diff")
    p_diff.add_argument("-d", "--dataset", required=True)
    p_diff.add_argument("--lake", required=True)
    p_diff.add_argument("-v", "--version", required=True)
    p_diff.add_argument("--against", help="older version (default: predecessor)")

    p_get = sub.add_parser("get")
    p_get.add_argument("key")
    p_get.add_argument("-d", "--dataset", required=True)
    p_get.add_argument("--lake", required=True)
    p_get.add_argument("-o", "--out", help="write blob here (default: stdout)")
    p_get.add_argument(
        "--s3-endpoint", default=None,
        help="custom S3 endpoint for an s3:// lake (moto/MinIO); "
        "credentials via FTM_DATALAKE_S3_* or the boto3 default chain",
    )

    p_head = sub.add_parser("head")
    p_head.add_argument("key")
    p_head.add_argument("-d", "--dataset", required=True)
    p_head.add_argument("--lake", required=True)

    p_mem = sub.add_parser("memorious-sync")
    p_mem.add_argument("glob", help="memorious sidecar JSON glob")
    p_mem.add_argument("-d", "--dataset", required=True)
    p_mem.add_argument("--lake", required=True)
    p_mem.add_argument("--key-strip-prefix")
    p_mem.add_argument("--key-template")

    p_al = sub.add_parser("aleph-sync")
    p_al.add_argument("-d", "--dataset", required=True)
    p_al.add_argument("--lake", required=True)
    p_al.add_argument("-o", "--out", help="write upload payload JSONL here (default: stdout)")
    p_al.add_argument("--host", help="live Aleph API base URL (omit for dry-run payload)")
    p_al.add_argument("--api-key", help="Aleph ApiKey for --host")

    p_ald = sub.add_parser("aleph-load-dataset")
    p_ald.add_argument("uri", help="dataset index.json uri")
    p_ald.add_argument(
        "--out", help="dry-run sink dir (one JSON file per pushed batch)"
    )
    p_ald.add_argument("--host", help="live Aleph API base URL (instead of --out)")
    p_ald.add_argument("--api-key", help="Aleph ApiKey for --host")
    p_ald.add_argument("--foreign-id", help="collection foreign_id for --host")
    p_ald.add_argument("--ledger", help="task-ledger dir for incremental resource skip")
    p_ald.add_argument("--batch-size", type=int, default=1000)

    p_alc = sub.add_parser("aleph-load-catalog")
    p_alc.add_argument("uri", help="catalog index.json uri")
    p_alc.add_argument("--out", required=True)
    p_alc.add_argument("--ledger")
    p_alc.add_argument("--include-dataset", help="fnmatch glob on dataset names")
    p_alc.add_argument("--exclude-dataset", help="fnmatch glob on dataset names")

    p_query = sub.add_parser("query")
    p_query.add_argument("name", nargs="?", help="registry query name (omit to list)")
    p_query.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_query.add_argument("--limit", type=int, default=20)
    p_query.add_argument(
        "--explain", action="store_true", help="print the physical plan instead of rows"
    )
    p_query.add_argument(
        "--oracle", action="store_true", help="print the DuckDB oracle SQL instead of rows"
    )
    p_query.add_argument(
        "--lint",
        action="store_true",
        help="print plan-shape lint JSON (shuffles/broadcasts/1-part/"
        "cartesian/BNLJ/codegen + verdicts) instead of rows",
    )

    p_zip = sub.add_parser("export-zip")
    p_zip.add_argument("-d", "--dataset", required=True)
    p_zip.add_argument("--lake", required=True)
    p_zip.add_argument("--out", required=True)

    p_exp = sub.add_parser("export-training")
    p_exp.add_argument(
        "source", help="documents parquet path (or a sf dir containing one)"
    )
    p_exp.add_argument("--out", required=True)
    p_exp.add_argument("--seq-len", type=int, default=2048)
    p_exp.add_argument("--shards", type=int, default=8)
    p_exp.add_argument("--seed", default="epoch0")
    p_exp.add_argument(
        "--benchmark", help="benchmark parquet to decontaminate against"
    )
    p_exp.add_argument(
        "--no-quality-gate", action="store_true",
        help="skip the Gopher quality gate",
    )

    p_inc = sub.add_parser(
        "export-training-delta",
        help="fold a delta batch into an existing export-training dir "
        "(ledger skip, delta-only curation, affected-shards repack)",
    )
    p_inc.add_argument(
        "source", help="delta documents parquet path (or a sf dir)"
    )
    p_inc.add_argument("--out", required=True, help="existing export dir")
    p_inc.add_argument(
        "--benchmark", help="benchmark parquet (required if the export "
        "was built with decontamination)"
    )

    p_cmp = sub.add_parser(
        "export-compact",
        help="fold the export's segment/sig ledger generations into one "
        "(maintenance between folds; reads stay correct without it)",
    )
    p_cmp.add_argument("export_dir", help="an existing export-training dir")

    p_epo = sub.add_parser("export-epochs")
    p_epo.add_argument("export_dir", help="an existing export-training dir")
    p_epo.add_argument(
        "--seeds", required=True,
        help="comma-separated epoch seeds (e.g. epoch1,epoch2)",
    )
    p_epo.add_argument("--shards", type=int, help="override manifest n_shards")

    p_ann = sub.add_parser(
        "ann-index",
        help="persisted IVF index over an embeddings parquet: build / "
        "append a delta / probe top-k",
    )
    p_ann.add_argument(
        "action",
        choices=[
            "build", "append", "probe", "stats", "compact", "rebuild",
            "enable-pq",
        ],
    )
    p_ann.add_argument(
        "source", nargs="?", default=None,
        help="embeddings/delta/queries parquet (build/append/probe only)",
    )
    p_ann.add_argument("--index", required=True, help="index directory")
    p_ann.add_argument("-k", type=int, default=3)
    p_ann.add_argument("--nprobe", type=int, default=1)
    p_ann.add_argument(
        "--min-files", type=int, default=2,
        help="compact: rewrite clusters with at least this many part files",
    )
    p_ann.add_argument(
        "--pq", action="store_true",
        help="rebuild: retrain the PQ codebooks; probe: ADC over stored "
        "codes (requires enable-pq)",
    )
    p_ann.add_argument(
        "--refine", type=int, default=0,
        help="probe --pq: exact re-rank of k*refine ADC candidates",
    )
    p_ann.add_argument(
        "--subspaces", type=int, default=4,
        help="enable-pq: PQ subspace count (must divide dims)",
    )
    p_ann.add_argument(
        "--codebook-size", type=int, default=16,
        help="enable-pq: entries per subspace codebook",
    )

    p_clf = sub.add_parser(
        "classifier",
        help="persisted token-vote classifier: build from a labeled "
        "documents parquet / append a delta / compact the count "
        "ledger / print the model / score a docs parquet",
    )
    p_clf.add_argument(
        "action",
        choices=["build", "append", "compact", "model", "predict", "stats"],
    )
    p_clf.add_argument(
        "source", nargs="?", default=None,
        help="labeled docs parquet (build/append) or docs to score (predict)",
    )
    p_clf.add_argument("--model", required=True, help="model directory")
    p_clf.add_argument(
        "--label-col", default="lang", help="label column (build/append)"
    )

    p_inv = sub.add_parser(
        "inverted-index",
        help="entity-xref inverted.idx export: referenced entity id -> "
        "referencing entity ids, from a statements parquet "
        "(docs/rfc.md's theoretical inverted index)",
    )
    p_inv.add_argument("source", help="statements parquet")
    p_inv.add_argument("--out", required=True,
                       help="dataset directory (written next to index.json)")
    p_inv.add_argument(
        "--props", default=None,
        help="comma-separated entity-reference prop names to restrict to",
    )

    p_dsir = sub.add_parser(
        "dsir",
        help="DSIR importance weights (hashed-bigram target-vs-raw "
        "log-likelihood ratio): score a docs parquet against a target "
        "slice, optionally keep only the top-k most target-like docs",
    )
    p_dsir.add_argument("source", help="documents parquet to score")
    p_dsir.add_argument("--out", required=True, help="weights parquet")
    p_dsir.add_argument(
        "--target-lang", default=None,
        help="target slice = rows with this lang value",
    )
    p_dsir.add_argument(
        "--target-source", default=None,
        help="target slice = rows with this source value",
    )
    p_dsir.add_argument(
        "--top-k", type=int, default=None,
        help="keep only the k highest-weight docs (default: all)",
    )

    p_wds = sub.add_parser(
        "export-webdataset",
        help="export a docs parquet as WebDataset tar shards + manifest "
        "(local, s3:// task-side, or any Hadoop scheme via the driver "
        "fallback); prints the manifest summary",
    )
    p_wds.add_argument("source", help="documents parquet to export")
    p_wds.add_argument("--out", required=True, help="shard output dir/URI")
    p_wds.add_argument("--shard-size", type=int, default=1000)
    p_wds.add_argument("--key-col", default="doc_id")
    p_wds.add_argument("--text-col", default="text")
    p_wds.add_argument(
        "--s3-endpoint", default=None,
        help="custom S3 endpoint for an s3:// --out (moto/MinIO); "
        "credentials via FTM_DATALAKE_S3_* or the boto3 default chain",
    )

    p_cdc = sub.add_parser(
        "cdc-apply",
        help="drain a sequenced JSON change feed (op/seq/key columns) "
        "onto a parquet snapshot, exactly-once per checkpoint; with "
        "--buckets the snapshot is hash-partitioned and only touched "
        "buckets are rewritten (the O(delta) scale form)",
    )
    p_cdc.add_argument("snapshot", help="snapshot parquet dir")
    p_cdc.add_argument("--feed", required=True, help="JSONL change-feed dir")
    p_cdc.add_argument("--checkpoint", required=True)
    p_cdc.add_argument(
        "--keys", required=True, help="comma-separated key columns"
    )
    p_cdc.add_argument(
        "--schema", required=True,
        help="change-feed DDL schema, e.g. 'key string, seq long, "
        "op string, val string'",
    )
    p_cdc.add_argument(
        "--buckets", type=int, default=None,
        help="bucket count of a partitioned snapshot (init with the "
        "same value); omit for the whole-snapshot swap form",
    )
    p_cdc.add_argument(
        "--layout", choices=("swap", "pointer"), default="swap",
        help="'pointer' maintains immutable generation dirs + an "
        "atomically-replaced pointer file (object-store-safe; snapshot "
        "arg is the base dir, init with init_pointer_snapshot); 'swap' "
        "renames directories (atomic-rename filesystems)",
    )

    p_pub = sub.add_parser("publish")
    p_pub.add_argument("--lake", required=True)

    p_srv = sub.add_parser("serve")
    p_srv.add_argument("--lake", required=True)
    p_srv.add_argument("--host", default="127.0.0.1")
    p_srv.add_argument("--port", type=int, default=8000)
    p_srv.add_argument("--secret", required=True, help="JWT signing secret")
    p_srv.add_argument("--debug", action="store_true")
    p_srv.add_argument(
        "--max-requests", type=int, default=None,
        help="serve N requests then exit (testing)",
    )
    p_srv.add_argument(
        "--lookup-mode", default="auto",
        choices=["auto", "snapshot", "projection", "spark"],
        help="hot-GET lookup backend (default auto: O(1) snapshot, or "
        "the parquet projection when --projection-dir is given; 'spark' "
        "is the explicit per-GET scan fallback)",
    )
    p_srv.add_argument(
        "--projection-dir", default=None,
        help="directory for the (dataset, shard)-partitioned O(1) lookup "
        "projection (enables projection mode)",
    )

    p_forget = sub.add_parser("forget")
    p_forget.add_argument("keys", nargs="+", help="document keys to forget")
    p_forget.add_argument("-d", "--dataset", required=True)
    p_forget.add_argument("--lake", required=True)
    p_forget.add_argument(
        "--keep-blobs", action="store_true",
        help="skip the orphan-blob sweep after the table delete",
    )

    p_gc = sub.add_parser("gc")
    p_gc.add_argument("-d", "--dataset", required=True)
    p_gc.add_argument("--lake", required=True)
    p_gc.add_argument("--dry-run", action="store_true")

    p_dq = sub.add_parser("dq")
    dq_sub = p_dq.add_subparsers(dest="dq_cmd", required=True)
    d_p = dq_sub.add_parser("profile")
    d_p.add_argument("path", help="parquet table directory/file")
    d_p.add_argument("--cols", required=True, help="comma-separated columns")
    d_s = dq_sub.add_parser("skew")
    d_s.add_argument("path")
    d_s.add_argument("--key", required=True)
    d_s.add_argument("--top", type=int, default=10)

    # Lakehouse table maintenance over plain parquet directories
    # (operators/layout): OPTIMIZE-style verbs.
    p_opt = sub.add_parser("optimize")
    opt_sub = p_opt.add_subparsers(dest="opt_cmd", required=True)
    o_z = opt_sub.add_parser("zorder")
    o_z.add_argument("path")
    o_z.add_argument("--out", required=True)
    o_z.add_argument("--cols", required=True, help="comma-separated columns")
    o_z.add_argument("--bits", type=int, default=16)
    o_z.add_argument("--partitions", type=int, default=32)
    o_c = opt_sub.add_parser("compact-plan")
    o_c.add_argument("path")
    o_c.add_argument("--target-mb", type=int, default=128)
    o_i = opt_sub.add_parser("index")
    o_i.add_argument("path")
    o_i.add_argument("--cols", required=True, help="comma-separated columns")
    o_i.add_argument("--out", help="write index parquet here (default: print)")

    args = parser.parse_args(argv)

    from ftm_datalake_spark.session import build_session

    spark = build_session(
        app_name=f"ftm-datalake-{args.cmd}", master=args.master
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _dispatch(spark, args)
    finally:
        spark.stop()


def _lake_s3_conn(args) -> dict | None:
    """boto3 client config for an s3:// LAKE root (the blob-archive
    side; source-side crawls build their own) — same credential chain
    as the crawl verb: --s3-endpoint + FTM_DATALAKE_S3_{KEY,SECRET}
    or the boto3 default chain. None for non-s3 lakes."""
    if not str(getattr(args, "lake", "") or "").startswith("s3://"):
        return None
    import os as _os

    return {
        "endpoint_url": getattr(args, "s3_endpoint", None),
        "access_key": _os.environ.get("FTM_DATALAKE_S3_KEY"),
        "secret_key": _os.environ.get("FTM_DATALAKE_S3_SECRET"),
    }


def _dispatch(spark, args) -> int:
    from ftm_datalake_spark.pipelines.ingest import (
        crawl,
        make,
        make_index_stats,
        read_documents,
    )

    if args.cmd == "crawl":
        if args.source.startswith(("s3://", "http://", "https://")):
            # Key-addressed store, routed by URI scheme like the
            # reference's fsspec stores. The store is listed ONCE: the
            # listing feeds both the crawl and the --archive pass.
            if args.source.startswith("s3://"):
                # creds via the boto3 default chain or
                # FTM_DATALAKE_S3_{KEY,SECRET} (moto/MinIO endpoints via
                # --s3-endpoint)
                import os as _os

                from ftm_datalake_spark.sources import s3_store

                bucket, _, s3_prefix = args.source[len("s3://"):].partition("/")
                s3_conn = {
                    "endpoint_url": args.s3_endpoint,
                    "access_key": _os.environ.get("FTM_DATALAKE_S3_KEY"),
                    "secret_key": _os.environ.get("FTM_DATALAKE_S3_SECRET"),
                }
                if getattr(args, "inventory", None):
                    listing = s3_store.read_s3_inventory(
                        spark, args.inventory, prefix=s3_prefix
                    )
                else:
                    listing = s3_store.list_s3_objects(bucket, s3_prefix, s3_conn)
                counters = s3_store.crawl_s3(
                    spark, bucket, args.dataset, args.lake, prefix=s3_prefix,
                    include=args.include, exclude=args.exclude, conn=s3_conn,
                    keys=listing,
                )

                def fetch(keys):
                    return s3_store.scan_s3_store(
                        spark, bucket, keys=keys, prefix=s3_prefix,
                        conn=s3_conn, on_missing="skip",
                    )
            else:
                from ftm_datalake_spark.sources import http_store

                listing = http_store.list_http_autoindex(args.source)
                counters = http_store.crawl_http(
                    spark, args.source, args.dataset, args.lake,
                    include=args.include, exclude=args.exclude, keys=listing,
                )

                def fetch(keys):
                    return http_store.scan_http_store(
                        spark, args.source, keys=keys, on_missing="skip"
                    )

            if args.archive:
                # the crawl applied --include/--exclude and merged the
                # table; archive what it holds that is still in the
                # store and not yet in the archive
                from pyspark.sql import functions as F

                from ftm_datalake_spark.functions.checksum import (
                    content_checksum,
                )
                from ftm_datalake_spark.sources.archive import (
                    archive_blob_bytes,
                    pending_archive_keys,
                )

                pending = pending_archive_keys(
                    spark, args.lake, args.dataset, listing
                )
                archive_blob_bytes(
                    fetch(pending).select(
                        "content",
                        content_checksum(F.col("content")).alias("content_hash"),
                    ),
                    args.lake, args.dataset, s3_conn=_lake_s3_conn(args),
                )
        else:
            counters = crawl(
                spark, args.source, args.dataset, args.lake,
                include=args.include, exclude=args.exclude,
            )
            if args.archive:
                from pyspark.sql import functions as F

                from ftm_datalake_spark.sources.archive import archive_blobs

                # Archive pass driven by the MERGED TABLE, not a fresh
                # content scan: the crawl already applied
                # --include/--exclude and computed every hash, so excluded
                # files are never archived and nothing is re-read or
                # re-hashed here; existing shards are skipped, and rows
                # whose source file has since been removed are skipped
                # as stale.
                docs = read_documents(spark, args.lake, args.dataset)
                src_prefix = args.source.rstrip("/") + "/"
                files = docs.select(
                    F.concat(F.lit(src_prefix), F.col("key")).alias("path"),
                    "content_hash",
                )
                archive_blobs(
                    files, args.lake, args.dataset,
                    s3_conn=_lake_s3_conn(args),
                )
        print(json.dumps(counters))
    elif args.cmd == "make":
        actions = make(spark, args.source, args.dataset, args.lake)
        from pyspark.sql import functions as F

        counts = {
            r["action"]: r["n"]
            for r in actions.groupBy("action").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps(counts))
    elif args.cmd == "stats":
        print(json.dumps(make_index_stats(spark, args.lake, args.dataset)))
    elif args.cmd == "ls":
        docs = read_documents(spark, args.lake, args.dataset).orderBy("key")
        if args.checksums:
            for row in docs.select("content_hash").collect():
                print(row["content_hash"])
        elif args.keys:
            for row in docs.select("key").collect():
                print(row["key"])
        else:
            for row in docs.collect():
                print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "config":
        import os

        from ftm_datalake_spark.sources.archive import read_dataset_config

        path = args.config or os.path.join(args.lake, args.dataset, "config.yml")
        cfg = read_dataset_config(path) if os.path.exists(path) else {}
        print(
            json.dumps(
                {"dataset": args.dataset, "lake": args.lake, "config": cfg}
            )
        )
    elif args.cmd == "catalog":
        from pyspark.sql import functions as F

        from ftm_datalake_spark.operators.stats import catalog, dataset_index
        from ftm_datalake_spark.pipelines.ingest import project_entities

        from pyspark.errors import AnalysisException

        try:
            docs = spark.read.parquet(f"{args.lake}/documents")
        except AnalysisException as exc:
            # An empty lake (no documents table yet) is an empty catalog;
            # any OTHER read failure (corrupt footers, permissions) must
            # surface, not masquerade as "no datasets".
            if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
                return 0
            print(f"catalog read failed: {exc}", file=sys.stderr)
            return 1
        except Exception as exc:  # corrupt footers etc. — exit loudly
            print(f"catalog read failed: {exc}", file=sys.stderr)
            return 1
        if args.names_only:
            for r in docs.select("dataset").distinct().orderBy("dataset").collect():
                print(r["dataset"])
        else:
            rows = catalog(dataset_index(docs, project_entities(docs)))
            for row in rows.collect():
                print(json.dumps(row.asDict(recursive=True), default=str))
    elif args.cmd == "versions":
        from ftm_datalake_spark.operators.versions import list_versions

        for v in list_versions(spark, args.lake, args.dataset):
            print(v)
    elif args.cmd == "diff":
        from ftm_datalake_spark.operators.versions import (
            diff_versions,
            list_versions,
        )

        versions = list_versions(spark, args.lake, args.dataset)
        if args.version not in versions:
            print(f"unknown version: {args.version}", file=sys.stderr)
            return 1
        old = args.against
        if old is not None and old not in versions:
            print(f"unknown version: {old}", file=sys.stderr)
            return 1
        if old is None:
            idx = versions.index(args.version)
            if idx == 0:
                print("no predecessor version", file=sys.stderr)
                return 1
            old = versions[idx - 1]
        added, deleted = diff_versions(
            spark, args.lake, args.dataset, old, args.version
        )
        for op, frame in (("added", added), ("deleted", deleted)):
            for row in frame.collect():
                print(json.dumps({"op": op, **row.asDict()}, default=str))
    elif args.cmd in ("get", "head"):
        from ftm_datalake_spark.serving import lookup_file
        from ftm_datalake_spark.sources.archive import open_blob

        docs = read_documents(spark, args.lake, args.dataset)
        info = lookup_file(docs, args.dataset, args.key)
        if info is None:
            print(f"not found: {args.dataset}/{args.key}", file=sys.stderr)
            return 1
        if args.cmd == "head":
            print(json.dumps(info, default=str))
        else:
            blob = open_blob(
                args.lake, args.dataset, info["content_hash"],
                s3_conn=_lake_s3_conn(args), spark=spark,
            )
            if args.out:
                with open(args.out, "wb") as fh:
                    fh.write(blob)
                print(args.out)
            else:
                sys.stdout.buffer.write(blob)
                sys.stdout.buffer.flush()
    elif args.cmd == "memorious-sync":
        from pyspark.sql import functions as F

        from ftm_datalake_spark.operators.documents import merge_documents
        from ftm_datalake_spark.pipelines.ingest import write_documents
        from ftm_datalake_spark.pipelines.sync import (
            key_from_template,
            key_strip_prefix,
            memorious_import,
        )

        # memorious sidecar contract (reference sync/memorious.py): an
        # explicit schema so headers arrive as a MAP and timestamps typed
        meta = spark.read.schema(
            "url string, content_hash string, _file_name string, "
            "headers map<string,string>, retrieved_at timestamp, "
            "modified_at timestamp, request_id string"
        ).json(args.glob)
        key_func = None
        if args.key_strip_prefix:
            prefix = args.key_strip_prefix
            key_func = lambda df: key_strip_prefix(F.col("url"), prefix)  # noqa: E731
        elif args.key_template:
            tmpl_udf = key_from_template(args.key_template)
            # template fields come from the sidecar row: pass every column
            key_func = lambda df: tmpl_udf(  # noqa: E731
                F.struct(*[F.col(c) for c in df.columns])
            )
        imported = memorious_import(meta, key_func=key_func).withColumn(
            "dataset", F.lit(args.dataset)
        )
        current = read_documents(spark, args.lake, args.dataset)
        n = imported.count()
        write_documents(merge_documents(current, imported), args.lake)
        print(json.dumps({"imported": n}))
    elif args.cmd == "aleph-sync":
        import hashlib

        from ftm_datalake_spark.pipelines.sync import (
            aleph_folder_ids,
            aleph_upload_rows,
        )

        docs = read_documents(spark, args.lake, args.dataset)
        if getattr(args, "host", None):
            # Live sync over HTTP (connectors/aleph_http): collection
            # get-or-create, folder tree once, task-side _bulk batches.
            from ftm_datalake_spark.connectors.aleph_http import (
                sync_to_aleph_http,
            )

            cid = sync_to_aleph_http(
                docs, args.host, foreign_id=args.dataset,
                api_key=args.api_key,
            )
            print(json.dumps({"collection_id": cid}))
            return 0
        # Dry-run sync: deterministic folder ids (no live Aleph API from
        # the CLI); the payload written here is exactly what
        # sync_to_aleph would push batch-wise.
        make_folder = lambda path, parent: hashlib.sha1(  # noqa: E731
            f"{args.dataset}:{parent or ''}:{path}".encode()
        ).hexdigest()[:16]
        rows = aleph_upload_rows(docs, aleph_folder_ids(docs, make_folder))
        lines = [
            json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
            for r in rows.collect()
        ]
        if args.out:
            with open(args.out, "w") as fh:
                fh.write("\n".join(lines) + ("\n" if lines else ""))
            print(args.out)
        else:
            for line in lines:
                print(line)
    elif args.cmd in ("aleph-load-dataset", "aleph-load-catalog"):
        import hashlib
        import os

        from ftm_datalake_spark.pipelines.sync import (
            load_entities_catalog,
            load_entities_dataset,
        )

        index_doc = None
        if getattr(args, "host", None):
            # Live _bulk loads over HTTP (connectors/aleph_http)
            from ftm_datalake_spark.connectors.aleph_http import (
                AlephHTTPClient,
                make_bulk_sender,
            )

            client = AlephHTTPClient(args.host, args.api_key)
            fid = args.foreign_id
            if not fid:
                # The uri points at the dataset's index.json, so its
                # basename is 'index' for EVERY dataset — the right
                # default foreign_id is the index document's own name.
                # Fallback chain: parent-directory name (resolved, so a
                # bare relative 'index.json' still yields a real name),
                # then the filename stem as a last resort. The index
                # read here is handed to load_entities_dataset so the
                # document is fetched exactly once.
                from ftm_datalake_spark.pipelines.sync import _read_json_uri

                try:
                    index_doc = _read_json_uri(args.uri)
                    fid = index_doc.get("name")
                except Exception:
                    index_doc = None
                if not fid:
                    u = args.uri.rstrip("/")
                    parent = (
                        os.path.dirname(u)
                        if "://" in u
                        else os.path.dirname(os.path.abspath(u))
                    )
                    fid = (
                        os.path.basename(parent)
                        or os.path.splitext(os.path.basename(u))[0]
                    )
            col = client.load_collection_by_foreign_id(fid)
            send = make_bulk_sender(client, str(col["id"]))
        else:
            if not args.out:
                print("either --out or --host is required", file=sys.stderr)
                return 2
            outdir = args.out
            os.makedirs(outdir, exist_ok=True)

            def send(batch: list[dict]) -> None:
                # Dry-run sink (no live Aleph API): one file per pushed
                # batch, named by content hash so re-pushes are
                # idempotent on disk.
                blob = json.dumps(batch, default=str, sort_keys=True)
                name = hashlib.sha1(blob.encode()).hexdigest()[:16]
                with open(os.path.join(outdir, name + ".json"), "w") as fh:
                    fh.write(blob)

        if args.cmd == "aleph-load-dataset":
            res = load_entities_dataset(
                spark,
                args.uri,
                send,
                ledger_dir=args.ledger,
                batch_size=args.batch_size,
                index_doc=index_doc,
            )
        else:
            res = load_entities_catalog(
                spark,
                args.uri,
                send,
                include_dataset=args.include_dataset,
                exclude_dataset=args.exclude_dataset,
                ledger_dir=args.ledger,
            )
        print(json.dumps(res, default=str, sort_keys=True))
    elif args.cmd == "query":
        from ftm_datalake_spark.plans import REGISTRY

        if not args.name:
            for name, spec in sorted(REGISTRY.items()):
                oracle = "oracle" if spec.oracle else "rows-only"
                print(f"{name}\t{oracle}\t{','.join(spec.tags)}")
        elif args.oracle:
            sql = REGISTRY[args.name].oracle
            print(sql.strip() if sql else "-- rows-only query: no oracle")
        elif args.explain:
            df = REGISTRY[args.name].builder(spark, args.sf_dir)
            df.explain(mode="formatted")
        elif args.lint:
            from ftm_datalake_spark.plans.lint import lint_plan

            spec = REGISTRY[args.name]
            df = spec.builder(spark, args.sf_dir)
            report = lint_plan(df, checkpointed=spec.checkpointed, name=args.name)
            print(json.dumps({"query": args.name, **report}))
        else:
            df = REGISTRY[args.name].builder(spark, args.sf_dir)
            for row in df.limit(args.limit).collect():
                print(json.dumps(row.asDict(recursive=True), default=str))
    elif args.cmd == "optimize":
        from pyspark.sql import functions as F

        from ftm_datalake_spark.operators.layout import (
            build_skipping_index,
            compaction_plan,
            quantize,
            zorder_repartition,
        )

        if args.opt_cmd == "zorder":
            df = spark.read.parquet(args.path)
            cols = []
            dtypes = dict(df.dtypes)
            for c in args.cols.split(","):
                if dtypes.get(c) in ("double", "float"):
                    lo, hi = df.agg(F.min(c), F.max(c)).collect()[0]
                    cols.append(quantize(F.col(c), lo, hi + 1e-9, args.bits))
                else:
                    cols.append(F.pmod(F.col(c), F.lit(1 << args.bits)))
            zorder_repartition(df, cols, args.bits, args.partitions).write.mode(
                "overwrite"
            ).parquet(args.out)
            print(args.out)
        elif args.opt_cmd == "compact-plan":
            listing = (
                spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.parquet")
                .option("recursiveFileLookup", "true")
                .load(args.path)
                .select(F.col("path"), F.col("length").alias("size"))
            )
            plan = compaction_plan(
                listing, target_bytes=args.target_mb * 1024 * 1024
            )
            for row in plan.orderBy("bin").collect():
                print(json.dumps(row.asDict(), default=str))
        elif args.opt_cmd == "index":
            idx = build_skipping_index(spark, args.path, args.cols.split(","))
            if args.out:
                idx.write.mode("overwrite").parquet(args.out)
                print(args.out)
            else:
                for row in idx.orderBy("file", "column").collect():
                    print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "ann-index":
        from ftm_datalake_spark.operators.ann_index import (
            append_ivf_index,
            build_ivf_index,
            compact_ivf_postings,
            enable_pq,
            ivf_index_stats,
            ivf_index_topk,
            rebuild_ivf_index,
        )

        if args.action == "stats":
            print(json.dumps(ivf_index_stats(spark, args.index)))
        elif args.action == "enable-pq":
            print(
                json.dumps(
                    enable_pq(
                        spark,
                        args.index,
                        n_subspaces=getattr(args, "subspaces", 4),
                        codebook_size=getattr(args, "codebook_size", 16),
                    )
                )
            )
        elif args.action == "rebuild":
            print(
                json.dumps(
                    rebuild_ivf_index(
                        spark, args.index, pq=getattr(args, "pq", False)
                    )
                )
            )
        elif args.action == "compact":
            print(
                json.dumps(
                    compact_ivf_postings(
                        spark, args.index, min_files=args.min_files
                    )
                )
            )
        else:
            if not args.source:
                print(f"{args.action} needs a source parquet", file=sys.stderr)
                return 2
            frame = spark.read.parquet(args.source)
            if args.action == "build":
                print(json.dumps(build_ivf_index(spark, frame, args.index)))
            elif args.action == "append":
                print(json.dumps(append_ivf_index(spark, frame, args.index)))
            else:
                hits = ivf_index_topk(
                    spark, args.index, frame, k=args.k, nprobe=args.nprobe,
                    use_pq=getattr(args, "pq", False),
                    refine=getattr(args, "refine", 0),
                )
                for row in hits.orderBy("qid", "rank").collect():
                    print(json.dumps(row.asDict()))
    elif args.cmd == "classifier":
        from ftm_datalake_spark.operators.classifier import token_vote_predict
        from ftm_datalake_spark.pipelines.classifier_store import (
            append_classifier_model,
            build_classifier_model,
            compact_classifier_ledger,
            read_classifier_model,
        )

        if args.action == "compact":
            n = compact_classifier_ledger(spark, args.model)
            print(json.dumps({"rows": n, "compacted": True}))
        elif args.action == "stats":
            from ftm_datalake_spark.pipelines.classifier_store import (
                classifier_model_stats,
            )

            print(json.dumps(classifier_model_stats(spark, args.model)))
        elif args.action == "model":
            for row in (
                read_classifier_model(spark, args.model)
                .orderBy("token")
                .collect()
            ):
                print(json.dumps(row.asDict()))
        else:
            if not args.source:
                print(f"{args.action} needs a source parquet", file=sys.stderr)
                return 2
            frame = spark.read.parquet(args.source)
            if args.action == "build":
                n = build_classifier_model(
                    spark, frame, args.model, label_col=args.label_col
                )
                print(json.dumps({"rows": n, "built": True}))
            elif args.action == "append":
                print(
                    json.dumps(
                        append_classifier_model(
                            spark, frame, args.model, label_col=args.label_col
                        )
                    )
                )
            else:
                preds = token_vote_predict(
                    read_classifier_model(spark, args.model), frame
                )
                for row in preds.orderBy("doc_id").collect():
                    print(json.dumps(row.asDict()))
    elif args.cmd == "inverted-index":
        from ftm_datalake_spark.sources.sinks import (
            read_inverted_idx,
            write_inverted_idx,
        )

        props = args.props.split(",") if args.props else None
        target = write_inverted_idx(
            spark.read.parquet(args.source), args.out, ref_props=props
        )
        print(
            json.dumps(
                {"path": target, "rows": read_inverted_idx(spark, target).count()}
            )
        )
    elif args.cmd == "dsir":
        from pyspark.sql import functions as F

        from ftm_datalake_spark.operators.dsir import dsir_importance_weights

        if (args.target_lang is None) == (args.target_source is None):
            print("dsir: pass exactly one of --target-lang/--target-source")
            return 2
        pred = (
            F.col("lang") == args.target_lang
            if args.target_lang is not None
            else F.col("source") == args.target_source
        )
        docs = spark.read.parquet(args.source)
        weights = dsir_importance_weights(docs, pred)
        if args.top_k:
            weights = weights.orderBy(
                F.desc("dsir_weight"), "doc_id"
            ).limit(args.top_k)
        weights.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({"path": args.out, "rows": n,
                          "top_k": args.top_k}))
    elif args.cmd == "export-webdataset":
        import os as _os

        from ftm_datalake_spark.sources.sinks import write_webdataset_shards

        conn = None
        if args.out.startswith("s3://"):
            conn = {
                "endpoint_url": args.s3_endpoint,
                "access_key": _os.environ.get("FTM_DATALAKE_S3_KEY"),
                "secret_key": _os.environ.get("FTM_DATALAKE_S3_SECRET"),
            }
        docs = spark.read.parquet(args.source)
        manifest = write_webdataset_shards(
            docs, args.out, shard_size=args.shard_size,
            key_col=args.key_col, text_col=args.text_col, s3_conn=conn,
        )
        print(json.dumps({
            "out": args.out, "shards": len(manifest),
            "samples": sum(m["n_samples"] for m in manifest),
            "sha256": [m["sha256"] for m in manifest],
        }))
    elif args.cmd == "cdc-apply":
        from ftm_datalake_spark.streaming.cdc import (
            read_pointer_snapshot,
            run_cdc_upsert_stream,
            run_cdc_upsert_stream_partitioned,
            run_cdc_upsert_stream_pointer,
        )

        keys = [k.strip() for k in args.keys.split(",") if k.strip()]
        stream = spark.readStream.schema(args.schema).json(args.feed)
        if getattr(args, "layout", "swap") == "pointer":
            if args.buckets:
                raise SystemExit("--layout pointer and --buckets are exclusive")
            q = run_cdc_upsert_stream_pointer(
                stream, args.snapshot, args.checkpoint, keys
            )
            q.awaitTermination()
            n = read_pointer_snapshot(spark, args.snapshot).count()
            mode = "pointer"
        elif args.buckets:
            q = run_cdc_upsert_stream_partitioned(
                stream, args.snapshot, args.checkpoint, keys,
                n_buckets=args.buckets,
            )
            q.awaitTermination()
            n = spark.read.parquet(args.snapshot).count()
            mode = "partitioned"
        else:
            q = run_cdc_upsert_stream(
                stream, args.snapshot, args.checkpoint, keys
            )
            q.awaitTermination()
            n = spark.read.parquet(args.snapshot).count()
            mode = "swap"
        print(json.dumps({
            "snapshot": args.snapshot, "rows": n, "mode": mode,
        }))
    elif args.cmd == "publish":
        from ftm_datalake_spark.pipelines.ingest import publish

        print(json.dumps(publish(spark, args.lake)))
    elif args.cmd == "serve":
        from ftm_datalake_spark.api import build_app_from_documents, serve

        docs = spark.read.parquet(f"{args.lake}/documents")
        app = build_app_from_documents(
            docs, args.lake, args.secret, debug=args.debug,
            lookup_mode=getattr(args, "lookup_mode", "auto"),
            projection_dir=getattr(args, "projection_dir", None),
        )
        httpd = serve(app, args.host, args.port)
        print(
            json.dumps(
                {"listening": f"http://{args.host}:{httpd.server_address[1]}"}
            ),
            flush=True,
        )
        if args.max_requests:
            for _ in range(args.max_requests):
                httpd.handle_request()
        else:  # pragma: no cover - interactive server loop
            httpd.serve_forever()
    elif args.cmd == "forget":
        from ftm_datalake_spark.pipelines.retention import (
            forget_and_gc,
            forget_keys,
        )

        keys_df = spark.createDataFrame(
            [(k,) for k in args.keys], "key string"
        )
        if args.keep_blobs:
            removed = forget_keys(spark, args.lake, args.dataset, keys_df)
            print(json.dumps({"rows_removed": removed, "blobs_collected": 0}))
        else:
            print(
                json.dumps(forget_and_gc(spark, args.lake, args.dataset, keys_df))
            )
    elif args.cmd == "gc":
        from ftm_datalake_spark.pipelines.retention import gc_blobs

        n = gc_blobs(spark, args.lake, args.dataset, dry_run=args.dry_run)
        print(json.dumps({"orphan_blobs": n, "dry_run": args.dry_run}))
    elif args.cmd == "dq":
        from ftm_datalake_spark.operators.quality import (
            key_skew_report,
            table_profile,
        )

        table = spark.read.parquet(args.path)
        if args.dq_cmd == "profile":
            out = table_profile(table, args.cols.split(",")).orderBy("column")
        else:
            out = key_skew_report(table, args.key, top_n=args.top)
        for row in out.collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "export-zip":
        import os

        from ftm_datalake_spark.sources.sinks import (
            export_dataset_zip,
            write_documents_csv,
        )

        staging = os.path.join(args.lake, "exports", args.dataset)
        write_documents_csv(
            read_documents(spark, args.lake, args.dataset), staging, snapshot=False
        )
        export_dataset_zip(staging, args.out, spark=spark)
        print(args.out)
    elif args.cmd == "export-training":
        import os

        from ftm_datalake_spark.pipelines.training_export import (
            export_training,
        )

        src = args.source
        if os.path.isdir(src) and os.path.exists(
            os.path.join(src, "documents.parquet")
        ):
            src = os.path.join(src, "documents.parquet")
        docs = spark.read.parquet(src)
        bench = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        manifest = export_training(
            spark,
            docs,
            args.out,
            seq_len=args.seq_len,
            n_shards=args.shards,
            seed=args.seed,
            benchmark=bench,
            quality_gate=not args.no_quality_gate,
        )
        print(json.dumps(manifest, sort_keys=True))
    elif args.cmd == "export-training-delta":
        import os

        from ftm_datalake_spark.pipelines.training_export import (
            export_training_incremental,
        )

        src = args.source
        if os.path.isdir(src) and os.path.exists(
            os.path.join(src, "documents.parquet")
        ):
            src = os.path.join(src, "documents.parquet")
        delta = spark.read.parquet(src)
        bench = (
            spark.read.parquet(args.benchmark) if args.benchmark else None
        )
        manifest = export_training_incremental(
            spark, delta, args.out, benchmark=bench
        )
        print(json.dumps(manifest, sort_keys=True))
    elif args.cmd == "export-compact":
        from ftm_datalake_spark.pipelines.training_export import (
            compact_segment_ledger,
            compact_sig_ledger,
        )

        print(
            json.dumps(
                {
                    "segments": compact_segment_ledger(spark, args.export_dir),
                    "docs": compact_sig_ledger(spark, args.export_dir),
                }
            )
        )
    elif args.cmd == "export-epochs":
        from ftm_datalake_spark.pipelines.training_export import (
            export_epoch_maps,
        )

        res = export_epoch_maps(
            spark,
            args.export_dir,
            [s.strip() for s in args.seeds.split(",") if s.strip()],
            n_shards=args.shards,
        )
        print(json.dumps(res, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
