"""Deletion propagation: forget keys, then garbage-collect orphaned
content-addressed blobs.

The reference marks documents deleted in the table merge
(ftm_datalake/archive/documents.py:78-90) but leaves the archived blob
bytes in place forever. A lake with deletion obligations (GDPR-style
right-to-be-forgotten) needs the rest of the pipeline:

- ``forget_keys``: anti-join rewrite of the dataset's documents
  partition (merge_documents' J2 path) — the table-level delete.
- ``gc_blobs``: the blob sweep. Content-addressing means a blob may be
  referenced by MANY keys (dedup by construction), so deletion is a
  REFCOUNT decision, computed relationally: list the archive shard
  files (binaryFile metadata scan — no content bytes move), anti-join
  against the distinct content_hash set still referenced by the
  documents table, and delete the orphans task-side via
  foreachPartition. At 100 TB both sides are metadata-scale relations
  (file listings and hash sets), and the delete is embarrassingly
  parallel.

Both steps are idempotent: re-running forget on absent keys is a no-op
merge; re-running gc finds no orphans. ``gc_blobs`` returns the orphan
count and an audit DataFrame is available via ``dry_run=True`` (plan
only, delete nothing) — the same dry-run contract as
versions.retention_plan.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession


def forget_keys(
    spark: SparkSession, lake_dir: str, dataset: str, keys: DataFrame
) -> int:
    """Remove the given keys (single ``key`` column) from the dataset's
    documents partition. Returns the number of rows removed."""
    from ftm_datalake_spark.operators.documents import merge_documents
    from ftm_datalake_spark.pipelines.ingest import read_documents, write_documents

    current = read_documents(spark, lake_dir, dataset)
    n_before = current.count()
    kept = merge_documents(current, deleted_keys=keys.select("key"))
    n_kept = kept.count()
    if n_kept == 0:
        # write_documents uses dynamic partitionOverwriteMode, so an
        # empty frame writes no partitions and the old dataset partition
        # would survive intact — a forget-ALL-keys request would
        # silently no-op. Drop the partition directory explicitly.
        from ftm_datalake_spark import fsutil

        part_dir = os.path.join(lake_dir, "documents", f"dataset={dataset}")
        fsutil.delete(spark, part_dir, recursive=True)
        return n_before
    write_documents(kept, lake_dir)
    n_after = read_documents(spark, lake_dir, dataset).count()
    return n_before - n_after


def orphan_blobs(
    spark: SparkSession, lake_dir: str, dataset: str
) -> DataFrame:
    """Archive blob files whose content hash no documents row references
    — the GC plan, as a DataFrame of (path, content_hash). Pure
    metadata: the archive listing (:func:`sources.archive.archived_blobs`)
    never reads content bytes, and the referenced-hash side is a
    distinct projection of the table. A failed listing raises."""
    from ftm_datalake_spark.pipelines.ingest import read_documents
    from ftm_datalake_spark.sources.archive import archived_blobs

    blobs = archived_blobs(spark, lake_dir, dataset)
    referenced = (
        read_documents(spark, lake_dir, dataset)
        .select("content_hash")
        .distinct()
    )
    return blobs.join(referenced, "content_hash", "left_anti").select(
        "path", "content_hash"
    )


def gc_blobs(
    spark: SparkSession, lake_dir: str, dataset: str, dry_run: bool = False
) -> int:
    """Delete orphaned archive blobs (refcount zero). Returns the orphan
    count; with ``dry_run`` nothing is deleted."""
    orphans = orphan_blobs(spark, lake_dir, dataset)
    n = orphans.count()
    if dry_run or n == 0:
        return n

    from urllib.parse import urlparse

    scheme = urlparse(lake_dir).scheme
    if scheme in ("", "file"):
        # local archive: delete task-side (Python workers have no JVM
        # FS client, but POSIX unlink works from any worker)
        def delete_partition(rows: Iterator) -> None:
            for row in rows:
                path = row["path"]
                if path.startswith("file:"):
                    path = path[len("file:") :]
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass  # concurrent gc / retry — idempotent

        orphans.select("path").foreachPartition(delete_partition)
        return n

    # object-store / cluster-FS archive: delete through the driver's
    # Hadoop FS client, streamed (toLocalIterator never materializes the
    # full orphan set). Deletes are metadata RPCs — the bytes never move
    # — so driver throughput is the listing's, not the corpus's.
    from ftm_datalake_spark import fsutil

    for row in orphans.select("path").toLocalIterator():
        fsutil.delete(spark, row["path"], recursive=False)
    return n


def forget_and_gc(
    spark: SparkSession, lake_dir: str, dataset: str, keys: DataFrame
) -> dict:
    """The full deletion pipeline: table delete then blob sweep.
    Returns the audit counters."""
    removed = forget_keys(spark, lake_dir, dataset, keys)
    collected = gc_blobs(spark, lake_dir, dataset)
    return {"rows_removed": removed, "blobs_collected": collected}
