"""The crawl / make ingest lifecycle as single Spark jobs (SURVEY §3.1-3.2).

Reference control flow is producer/consumer threads over an in-process
queue (anystore Worker); here each lifecycle is ONE declarative plan:

crawl:  metadata listing → glob filters → anti-join existing on
        (key, size, updated_at) → content scan of the changed files only
        (one bulk scan when at least half the listing changed, an
        explicit path list otherwise) → checksum/mime projection → merge
        into documents. A crawl with nothing changed writes nothing.
make:   full-outer reconcile of source scan vs metadata table → actions

No task queue, no threads, no per-file IO loops — a 1000-executor cluster
runs the same plan unchanged; the scan parallelism comes from file
splits, the merge shuffle is keyed by `key`.
"""

from __future__ import annotations

import fnmatch
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.functions.checksum import content_checksum, entity_id
from ftm_datalake_spark.functions.mime import guess_mimetype, mimetype_to_schema
from ftm_datalake_spark.operators.documents import merge_documents
from ftm_datalake_spark.sources.tables import scan_binary_files


def _glob_to_regex(glob: str) -> str:
    # rlike uses substring-find semantics and fnmatch.translate only
    # end-anchors; anchor the start too so 'tmp/*' does not also match
    # 'backup/tmp/...' (the reference's fnmatch is start-anchored).
    return r"\A" + fnmatch.translate(glob)


def _glob_keep(keys: list[str], include: str | None, exclude: str | None) -> list[str]:
    """The include/exclude globs over a key list: the list form of
    :func:`_glob_where`, with the same anchored patterns."""
    inc = re.compile(_glob_to_regex(include)) if include else None
    exc = re.compile(_glob_to_regex(exclude)) if exclude else None
    return [
        k
        for k in keys
        if (inc is None or inc.match(k)) and (exc is None or not exc.match(k))
    ]


def _glob_where(df: DataFrame, include: str | None, exclude: str | None) -> DataFrame:
    """The include/exclude globs over a ``key`` column, in-plan."""
    if include:
        df = df.where(F.col("key").rlike(_glob_to_regex(include)))
    if exclude:
        df = df.where(~F.col("key").rlike(_glob_to_regex(exclude)))
    return df


def _document_rows(files: DataFrame, source_uri: str, dataset: str) -> DataFrame:
    """binaryFile rows → DOCUMENTS_SCHEMA-shaped rows (key, sha1, mime)."""
    from ftm_datalake_spark.functions.paths import path_to_key

    key = path_to_key(F.col("path"), source_uri)
    return files.select(
        key.alias("key"),
        content_checksum(F.col("content")).alias("content_hash"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("updated_at"),
    ).select(
        "key",
        "content_hash",
        "size",
        guess_mimetype(F.col("key")).alias("mimetype"),
        F.col("updated_at").alias("created_at"),
        "updated_at",
        F.lit(dataset).alias("dataset"),
    )


def crawl_scan(
    spark: SparkSession,
    source_uri: str,
    dataset: str,
    include: str | None = None,
    exclude: str | None = None,
) -> DataFrame:
    """S1/S2 + P2/P3 + F1/F9: list files, filter by glob, checksum, type.

    Reads and hashes EVERY blob — the integrity-check scan (`make`/
    `repair` need checksums of everything). Incremental crawls must not
    use this; `crawl()` skips unchanged files on metadata alone.
    Returns file-metadata rows in DOCUMENTS_SCHEMA shape. Reference:
    CrawlWorker (ftm_datalake/crawl.py:55-106)."""
    files = scan_binary_files(spark, source_uri)
    df = _document_rows(files, source_uri, dataset)
    # Spark's binaryFile source produces no splits for zero-length files,
    # silently dropping them — but empty files are real corpus members
    # (the reference archives them with the empty-content sha1). Recover
    # them from a listing pass.
    empties = _empty_files(spark, source_uri)
    if empties is not None:
        df = df.unionByName(_zero_length_documents(empties, dataset))
    return _glob_where(df, include, exclude)


def crawl_listing(
    spark: SparkSession,
    source_uri: str,
    include: str | None = None,
    exclude: str | None = None,
) -> DataFrame:
    """Metadata-only crawl listing: (path, key, size, updated_at).

    The binaryFile ``content`` column is never projected, so column
    pruning keeps blob bytes out of the scan entirely (ReadSchema shows
    path/length/modificationTime only). This is the skip-existing input:
    the reference likewise iterates keys and skips *before* fetching
    (ftm_datalake/crawl.py:55-71)."""
    from ftm_datalake_spark.functions.paths import path_to_key

    files = scan_binary_files(spark, source_uri).select(
        "path", "length", "modificationTime"
    )
    df = files.select(
        "path",
        path_to_key(F.col("path"), source_uri).alias("key"),
        F.col("length").alias("size"),
        F.col("modificationTime").alias("updated_at"),
    )
    empties = _empty_files(spark, source_uri)
    if empties is not None:
        df = df.unionByName(empties.select("path", "key", "size", "updated_at"))
    return _glob_where(df, include, exclude)


EMPTY_SHA1 = "da39a3ee5e6b4b0d3255bfef95601890afd80709"


def _empty_files(spark: SparkSession, source_uri: str) -> DataFrame | None:
    """Zero-length files under a local source dir as listing rows
    (path, key, size, updated_at) — their sha1 is the constant
    ``EMPTY_SHA1``, no read needed.

    Local-FS listing; for object stores, plug the store's inventory
    listing into the same row shape."""
    import datetime as dt

    root = source_uri
    if root.startswith("file:"):
        root = root[len("file:") :]
    if "://" in root or not os.path.isdir(root):
        return None
    rows = []
    for walk_root, _dirs, names in os.walk(root):
        for name in names:
            full = os.path.join(walk_root, name)
            if os.path.getsize(full) == 0:
                rows.append(
                    (
                        "file:" + full,
                        os.path.relpath(full, root),
                        0,
                        # keep tz-aware: Spark converts naive datetimes via
                        # the HOST zone, which would shift mtimes off-UTC hosts
                        dt.datetime.fromtimestamp(
                            os.path.getmtime(full), dt.timezone.utc
                        ),
                    )
                )
    if not rows:
        return None
    return spark.createDataFrame(
        rows, "path string, key string, size long, updated_at timestamp"
    )


def _zero_length_documents(listing: DataFrame, dataset: str) -> DataFrame:
    """Zero-length listing rows (key, size, updated_at) → DOCUMENTS_SCHEMA
    rows: their sha1 is ``EMPTY_SHA1``, so no content is read."""
    return listing.select(
        "key",
        F.lit(EMPTY_SHA1).alias("content_hash"),
        "size",
        guess_mimetype(F.col("key")).alias("mimetype"),
        F.col("updated_at").alias("created_at"),
        "updated_at",
        F.lit(dataset).alias("dataset"),
    )


def _empty_documents_table(spark: SparkSession) -> DataFrame:
    """A typed empty documents table the optimizer can see is empty.

    ``createDataFrame([], schema)`` would be an opaque Python RDD that
    costs jobs wherever it is used; a zero-row range lets
    PropagateEmptyRelation fold joins and unions against it at plan
    time. The non-null ``key`` is cast from the range's non-null id."""
    from ftm_datalake_spark.schemas import DOCUMENTS_SCHEMA

    return spark.range(0).select(
        *[
            (
                F.lit(None).cast(f.dataType)
                if f.nullable
                else F.col("id").cast(f.dataType)
            ).alias(f.name)
            for f in DOCUMENTS_SCHEMA.fields
        ]
    )


def read_documents(spark: SparkSession, lake_dir: str, dataset: str) -> DataFrame:
    """The dataset's rows of the documents table; a lake with no table
    yet reads as an empty one. Any other read failure (listing,
    permissions, filesystem) propagates: treating it as empty would make
    the next crawl re-ingest every file and reset first-archived
    ``created_at`` values."""
    from pyspark.errors import AnalysisException

    from ftm_datalake_spark.schemas import DOCUMENTS_SCHEMA

    path = os.path.join(lake_dir, "documents")
    try:
        df = spark.read.schema(DOCUMENTS_SCHEMA).parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        return _empty_documents_table(spark)
    return df.where(F.col("dataset") == dataset)


def write_documents(documents: DataFrame, lake_dir: str) -> None:
    """The managed documents table: dataset-partitioned parquet."""
    (
        documents.write.mode("overwrite")
        .partitionBy("dataset")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(os.path.join(lake_dir, "documents"))
    )


def crawl(
    spark: SparkSession,
    source_uri: str,
    dataset: str,
    lake_dir: str,
    include: str | None = None,
    exclude: str | None = None,
) -> dict:
    """Full crawl: listing → skip-existing anti-join → content scan of
    the changed files → merge → write.

    Returns the counter dict the reference tracks (A4:
    files_total/added/updated, ftm_datalake/crawl.py:29-30)."""
    listing = crawl_listing(spark, source_uri, include, exclude).persist()
    current = read_documents(spark, lake_dir, dataset)
    changed = None
    try:
        n_total = listing.count()

        # J4 skip-existing on METADATA ALONE: a key whose (size, mtime)
        # matches the table is never read or hashed — an unchanged 100 TB
        # corpus re-crawls with zero content bytes touched. (Round 1
        # anti-joined on content_hash, which forced sha1 over every blob
        # each crawl; the reference likewise skips *before* fetching,
        # ftm_datalake/crawl.py:67-71.) Metadata-vs-metadata join: both
        # sides are narrow listing rows, no broadcast assumption — the
        # current table's key set is NOT small at scale. Against an
        # absent table the optimizer drops the join
        # (_empty_documents_table).
        current_meta = current.select("key", "size", "updated_at")
        changed = listing.join(
            current_meta, ["key", "size", "updated_at"], "left_anti"
        ).persist()
        n_changed = changed.count()

        # Nothing changed: the merge would rewrite the partition with
        # the rows it already holds, so skip it (as crawl_keys does).
        # Deleted files are not removed by a crawl either way.
        if n_changed:
            # zero-length files were listed without a read (binaryFile
            # drops them from content scans); only size > 0 is scanned
            to_read = changed.where(F.col("size") > 0).select(
                "path", "size", "updated_at"
            )
            if 2 * n_changed >= n_total:
                # Initial / bulk crawl: at least half the blobs must be
                # read anyway — one content scan of the source root
                # beats a path list (binaryFile re-lists a list of more
                # than parallelPartitionDiscovery.threshold paths in a
                # job with one task per path). The semi-join on the raw
                # file columns keeps only the changed rows before any
                # hashing, so the merge shuffle never carries unchanged
                # keys.
                files = scan_binary_files(spark, source_uri).join(
                    to_read.toDF("path", "length", "modificationTime"),
                    ["path", "length", "modificationTime"],
                    "left_semi",
                )
            else:
                # Incremental crawl: read ONLY the changed files via an
                # explicit path list. The list is driver-side metadata of
                # fewer than half the listing's rows — the same set the
                # reference materializes as its task queue.
                paths = [r["path"] for r in to_read.select("path").collect()]
                files = (
                    spark.read.format("binaryFile").load(paths) if paths else None
                )
            new_or_changed = _zero_length_documents(
                changed.where(F.col("size") == 0), dataset
            )
            if files is not None:
                new_or_changed = _document_rows(
                    files, source_uri, dataset
                ).unionByName(new_or_changed)
            write_documents(merge_documents(current, new_or_changed), lake_dir)
    finally:
        listing.unpersist()
        if changed is not None:
            changed.unpersist()
    # not_found is structurally 0 here — the local listing and the read
    # happen in one binaryFile scan, there is no list/fetch gap — but
    # the counters contract is uniform across local/HTTP/S3 backends
    return {
        "files_total": n_total,
        "added_or_updated": n_changed,
        "not_found": 0,
    }


def crawl_keys(
    spark: SparkSession,
    keys: "list[str] | DataFrame",
    fetch,
    source_uri: str,
    dataset: str,
    lake_dir: str,
    include: str | None = None,
    exclude: str | None = None,
) -> dict:
    """Crawl of a key-addressed store (S3, HTTP): key listing → glob
    filters → skip-existing anti-join on ``key`` → fetch only the new
    keys → merge → write. A store listing carries no size/mtime to
    compare, so the skip is the reference's key-existence check
    (ftm_datalake/crawl.py:67-71): a re-crawl of an unchanged store
    fetches nothing and writes nothing.

    ``keys`` is a list (a store walk) or a ``key`` DataFrame (an
    inventory manifest); ``fetch(new_keys)`` is the store's
    binaryFile-shaped scan of a ``key`` DataFrame with missing keys
    skipped. No key set is collected to the driver. Returns the crawl
    counters: files_total (listed after the globs), added_or_updated
    (rows landed), not_found (listed but gone by fetch time — the
    reference's memorious counter, sync/memorious.py:29-33)."""
    from ftm_datalake_spark.sources.http_store import _keys_df

    if isinstance(keys, DataFrame):
        # pin: the listing feeds the total count and the anti-join
        listing = _glob_where(keys, include, exclude)
        listing = listing.localCheckpoint()
        n_total = listing.count()
    else:  # a store walk is already on the driver: filter and count it there
        keys = _glob_keep(keys, include, exclude)
        listing, n_total = _keys_df(spark, keys), len(keys)
    current = read_documents(spark, lake_dir, dataset)
    n_before = current.count()
    new_keys = listing.join(
        current.select("key"), "key", "left_anti"
    ).localCheckpoint()
    n_new = new_keys.count()
    n_after = n_before
    if n_new:
        rows = _document_rows(fetch(new_keys), source_uri, dataset)
        write_documents(merge_documents(current, rows), lake_dir)
        n_after = read_documents(spark, lake_dir, dataset).count()
    return {
        "files_total": n_total,
        "added_or_updated": n_after - n_before,
        "not_found": n_new - (n_after - n_before),
    }


def crawl_scan_keys(
    keys: "list[str] | DataFrame",
    fetch,
    source_uri: str,
    dataset: str,
    include: str | None = None,
    exclude: str | None = None,
) -> DataFrame:
    """crawl_scan of a key-addressed store: the globs prune the key
    source (a list stays a list, a DataFrame is pruned in-plan) before
    ``fetch`` reads any blob — the reference skips before fetching,
    ftm_datalake/crawl.py:58-71."""
    if isinstance(keys, DataFrame):
        keys = _glob_where(keys, include, exclude)
    else:
        keys = _glob_keep(keys, include, exclude)
    return _document_rows(fetch(keys), source_uri, dataset)


def _index_document(
    name: str,
    *,
    entity_count: int,
    total_file_size: int,
    updated_at,
    facets: list[dict],
    coverage_start=None,
    coverage_end=None,
    with_interval: bool = False,
    file_count: int | None = None,
) -> dict:
    """The single source of truth for the published index.json document
    shape (reference: make_index, ftm_datalake/archive/dataset.py:177-190;
    golden fixture tests/fixtures/archive/test_dataset/.leakrfc/index.json)
    — both make_index_stats and publish render through here, so a field
    change can never drift between the two outputs."""
    coverage: dict = {"frequency": "unknown"}
    if with_interval:
        # publish() ALWAYS carries the start/end keys (null when the
        # dataset has no timestamps) — consumers index into them, so
        # the keys may not disappear on an all-null dataset
        coverage["start"] = (
            coverage_start.isoformat() if coverage_start is not None else None
        )
        coverage["end"] = (
            coverage_end.isoformat() if coverage_end is not None else None
        )
    doc = {
        "name": name,
        "prefix": name.replace("_", "-").lower(),
        "title": name.title(),
        "updated_at": updated_at.isoformat() if updated_at is not None else None,
        "coverage": coverage,
        "things": {"total": entity_count, "schemata": facets},
        "entity_count": entity_count,
        "content_type": "structured",
        "total_file_size": total_file_size,
        "ftm_datalake": {
            "metadata_prefix": ".ftm_datalake",
            "checksum_algorithm": "sha1",
        },
    }
    if file_count is not None:
        doc["file_count"] = file_count
    return doc


def make_index_stats(spark: SparkSession, lake_dir: str, dataset: str) -> dict:
    """A1-A3: the published index.json document from the documents table.

    Field-level parity with the reference's make_index output
    (ftm_datalake/archive/dataset.py:177-190; golden fixture
    tests/fixtures/archive/test_dataset/.leakrfc/index.json): name /
    prefix (slugified) / title (title-cased default), things.total and
    things.schemata[] with the FTM label/plural per schema,
    entity_count, total_file_size, coverage.frequency (default
    "unknown"), content_type, updated_at (max document timestamp), and
    the archive block (metadata_prefix / checksum_algorithm)."""
    from ftm_datalake_spark.functions.mime import SCHEMA_LABELS

    docs = read_documents(spark, lake_dir, dataset)
    entities = project_entities(docs)
    facets = []
    for r in (
        entities.groupBy("schema")
        .agg(F.count("*").alias("count"))
        .orderBy("schema")
        .collect()
    ):
        label, plural = SCHEMA_LABELS.get(r["schema"], (r["schema"], r["schema"]))
        facets.append(
            {
                "name": r["schema"],
                "count": r["count"],
                "label": label,
                "plural": plural,
            }
        )
    totals = docs.agg(
        F.count("*").alias("n"),
        F.sum("size").alias("total_file_size"),
        F.max("updated_at").alias("updated_at"),
    ).first()
    return _index_document(
        dataset,
        entity_count=int(totals["n"]),
        total_file_size=int(totals["total_file_size"] or 0),
        updated_at=totals["updated_at"],
        facets=facets,
    )


def publish(spark: SparkSession, lake_dir: str) -> dict:
    """A5/S12 fan-in to FILES: write ``{dataset}/index.json`` for every
    dataset in the lake plus the root ``catalog.json`` over all of them
    (reference: make_index → ftm_datalake/archive/dataset.py:177-190,
    catalog fan-in → archive/base.py:75-83, docs/rfc.md:154-158).

    The per-dataset stats come from ONE pass over the partitioned
    documents table (dataset_index groups by the partition column — no
    per-dataset job loop); each index.json and the catalog are
    driver-side JSON dumps of collected metadata rows, which is their
    scale by construction. Returns {"datasets": n, "catalog": path}."""
    import json as _json
    import os as _os

    from ftm_datalake_spark.operators.stats import dataset_index
    from ftm_datalake_spark.sources.sinks import write_index_json

    from ftm_datalake_spark.functions.mime import SCHEMA_LABELS
    from ftm_datalake_spark.schemas import DOCUMENTS_SCHEMA

    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(
        _os.path.join(lake_dir, "documents")
    )
    rows = dataset_index(docs, project_entities(docs)).collect()
    entries = []
    for row in sorted(rows, key=lambda r: r["dataset"]):
        r = row.asDict(recursive=True)
        name = r["dataset"]
        facets = []
        for s in r.get("schemata") or []:
            label, plural = SCHEMA_LABELS.get(s["name"], (s["name"], s["name"]))
            facets.append({**s, "label": label, "plural": plural})
        end = r.get("coverage_end")
        start = r.get("coverage_start")
        # Shared document shape plus the coverage interval the one-pass
        # dataset_index already computed.
        index_row = _index_document(
            name,
            entity_count=int(r.get("entity_count") or 0),
            total_file_size=int(r.get("total_file_size") or 0),
            updated_at=end,
            facets=facets,
            coverage_start=start,
            coverage_end=end,
            with_interval=True,
            file_count=int(r.get("file_count") or 0),
        )
        write_index_json(index_row, _os.path.join(lake_dir, name), spark)
        entries.append(index_row)
    cat_path = _os.path.join(lake_dir, "catalog.json")
    from ftm_datalake_spark import fsutil

    fsutil.write_bytes_atomic(
        spark,
        cat_path,
        _json.dumps(
            {"datasets": entries}, default=str, sort_keys=True
        ).encode("utf-8"),
    )
    fsutil._drop_crc_sidecar(spark, cat_path)
    return {"datasets": len(entries), "catalog": cat_path}


def project_entities(documents: DataFrame) -> DataFrame:
    """P7: file rows → FTM entity proxies (ENTITY_SCHEMA shape).

    Reference: to_proxy(), ftm_datalake/model.py:37-52 — id derived from
    (dataset, key, content_hash), schema from the mime map, properties as
    MAP<STRING, ARRAY<STRING>>."""
    return documents.select(
        entity_id(F.col("dataset"), F.col("key"), F.col("content_hash")).alias("id"),
        mimetype_to_schema(F.col("mimetype")).alias("schema"),
        F.map_from_arrays(
            F.array(
                F.lit("contentHash"),
                F.lit("fileName"),
                F.lit("fileSize"),
                F.lit("mimeType"),
            ),
            F.array(
                F.array(F.col("content_hash")),
                F.array(F.element_at(F.split(F.col("key"), "/"), -1)),
                F.array(F.col("size").cast("string")),
                F.array(F.col("mimetype")),
            ),
        ).alias("properties"),
        F.col("dataset"),
    )


def _source_scan(
    spark: SparkSession, source_uri: str, dataset: str
) -> DataFrame:
    """Full content scan of a source, routed by URI scheme — integrity
    passes re-read and re-hash every blob wherever it lives (local FS
    via binaryFile; HTTP stores via the task-side fetcher)."""
    if source_uri.startswith(("http://", "https://")):
        from ftm_datalake_spark.sources.http_store import crawl_scan_http

        return crawl_scan_http(spark, source_uri, dataset)
    return crawl_scan(spark, source_uri, dataset)


def make(
    spark: SparkSession, source_uri: str, dataset: str, lake_dir: str
) -> DataFrame:
    """Integrity check: reconcile source files vs the documents table.

    One full-outer join replaces the reference's twin task streams
    (ftm_datalake/make.py:52-111). Returns (key, action) with
    add|delete|fix|ok. Works over local and http(s) sources alike."""
    from ftm_datalake_spark.operators.documents import reconcile

    source = _source_scan(spark, source_uri, dataset)
    current = read_documents(spark, lake_dir, dataset)
    return reconcile(source, current)


def repair(
    spark: SparkSession, source_uri: str, dataset: str, lake_dir: str
) -> dict:
    """Apply `make` actions: re-add missing, drop orphaned, fix corrupted —
    by rebuilding the table from the reconciled source scan (idempotent)."""
    from ftm_datalake_spark.operators.documents import reconcile

    # one source scan (sha1 of every blob) serves both the action counts
    # and the rewrite
    source = _source_scan(spark, source_uri, dataset).persist()
    try:
        current = read_documents(spark, lake_dir, dataset)
        actions = reconcile(source, current)
        counters = {
            r["action"]: r["n"]
            for r in actions.groupBy("action").agg(F.count("*").alias("n")).collect()
        }
        # The scan's created_at is file mtime; keys already in the table
        # must keep their first-archived created_at (the invariant
        # merge_documents preserves — F.least skips nulls).
        existing = current.select("key", F.col("created_at").alias("__cur_created"))
        repaired = (
            source.join(existing, "key", "left")
            .withColumn(
                "created_at", F.least(F.col("created_at"), F.col("__cur_created"))
            )
            .drop("__cur_created")
        )
        write_documents(repaired, lake_dir)
    finally:
        source.unpersist()
    return counters
