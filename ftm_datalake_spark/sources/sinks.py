"""Spec-layout sinks (SURVEY §2.1 S11-S14).

The reference's interchange formats are single deterministic files:
documents.csv (+ timestamped snapshots + diffs), index.json, and
entities.ftm.json (reference: ftm_datalake/archive/documents.py:82-117,
dataset.py:150-190, export.py:13-36). Distributed engines produce
part-files, so these sinks write through a single-partition stage with a
stable ORDER BY and rename to the spec name — correct for the metadata
scale these files have (per-dataset, not per-row-of-lake).

The *real* queryable tables stay dataset-partitioned parquet; these sinks
exist for interchange parity only.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import zipfile

from ftm_datalake_spark.fsutil import strip_file_scheme as fsutil_strip
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENT_COLUMNS = ["key", "content_hash", "size", "mimetype", "created_at", "updated_at"]


def _single_file_write(df: DataFrame, target: str, fmt: str, header: bool) -> None:
    """Single deterministic interchange file on ANY Hadoop scheme: the
    coalesce(1) stage directory lands wherever ``target`` lives, the
    part file is renamed into place through the FileSystem client
    (same swap ordering as fsutil.write_bytes_atomic — the old file is
    parked at ``.__bak__`` until the new one has landed, so no crash
    instant leaves zero complete copies). Replaces the os/shutil/glob
    form that confined the sink to the local FS (VERDICT r9 #1)."""
    from ftm_datalake_spark import fsutil

    spark = df.sparkSession
    tmp = target + ".__stage__"
    writer = df.coalesce(1).write.mode("overwrite")
    ext = "csv" if fmt == "csv" else "json"
    if fmt == "csv":
        writer.option("header", str(header).lower()).csv(tmp)
    else:
        writer.json(tmp)
    part = next(
        n for n in fsutil.list_names(spark, tmp)
        if n.startswith("part-") and n.endswith(f".{ext}")
    )
    parent = os.path.dirname(target.rstrip("/"))
    if parent:
        fsutil.mkdirs(spark, parent)
    bak = target + ".__bak__"
    fsutil.delete(spark, bak)
    if fsutil.exists(spark, target):
        fsutil.rename(spark, target, bak)
    fsutil.rename(spark, tmp.rstrip("/") + "/" + part, target)
    fsutil.delete(spark, bak)
    fsutil.delete(spark, tmp)


# Above this row count the interchange CSV switches from one deterministic
# file to a directory of globally range-ordered parts: a coalesce(1) funnel
# on a 100M-row documents table would serialize the whole write through a
# single task (and its memory). 1M rows of ~150-byte document lines is a
# ~150 MB file — the sensible ceiling for "one file" interchange.
SINGLE_FILE_MAX_ROWS = 1_000_000


def write_documents_csv(
    documents: DataFrame,
    out_dir: str,
    snapshot: bool = True,
    single_file_max_rows: int = SINGLE_FILE_MAX_ROWS,
) -> str:
    """S11: documents.csv with stable ordering + timestamped snapshot.

    Mirrors Documents.write() (reference: archive/documents.py:82-117):
    current table at documents.csv, plus documents.csv.{iso-ts} snapshot.
    Diffs between snapshots are *computed relationally* (snapshot_diff),
    not stored as unified-diff text.

    Scale guard: up to ``single_file_max_rows`` rows the sink emits the
    reference's single deterministic file. Above it, documents.csv
    becomes a DIRECTORY of part files in global (key, updated_at) range
    order (repartitionByRange + sortWithinPartitions — concatenating
    parts in filename order reproduces the sorted file), written fully
    distributed. The single-file form is interchange parity for
    per-dataset metadata scale; the directory form is what a 100M-row
    dataset needs.

    Object-store-safe (VERDICT r9 #1): every probe/delete/rename/copy
    goes through fsutil (Hadoop FileSystem client), so a lake rooted
    on s3a://, viewfs://, hdfs://... emits and snapshots this artifact
    exactly like a local one. The snapshot is an fs-level copy — the
    previous hardlink farm only existed on POSIX filesystems."""
    from ftm_datalake_spark import fsutil

    spark = documents.sparkSession
    target = out_dir.rstrip("/") + "/documents.csv"
    ordered = documents.select(*DOCUMENT_COLUMNS)
    n_rows = ordered.count()
    if n_rows <= single_file_max_rows:
        if fsutil.is_dir(spark, target):
            fsutil.delete(spark, target)  # switching forms: directory -> file
        _single_file_write(
            ordered.orderBy("key", "updated_at"), target, "csv", header=True
        )
    else:
        parts = max(2, min(2048, n_rows // single_file_max_rows + 1))
        if fsutil.is_file(spark, target):
            fsutil.delete(spark, target)  # switching forms: file -> directory
        (
            ordered.repartitionByRange(parts, "key", "updated_at")
            .sortWithinPartitions("key", "updated_at")
            .write.mode("overwrite")
            .option("header", "false")
            .csv(target)
        )
        fsutil.write_bytes(
            spark,
            target + "/_header",
            (",".join(DOCUMENT_COLUMNS) + "\n").encode("utf-8"),
        )
    if snapshot:
        stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
        fsutil.copy_path(spark, target, f"{target}.{stamp}")
    return target


def documents_csv_lines(documents: DataFrame) -> DataFrame:
    """The reference's make_lines as a relational projection: each
    document row rendered as one stripped CSV line (QUOTE_MINIMAL — a
    field is quoted iff it contains a comma, quote, CR or LF, quotes
    doubled; None renders empty), distinct-ed like the reference's set
    (archive/documents.py:129-136). Timestamp-typed columns render via
    an explicit 6-digit-microsecond format to match pandas'
    str(Timestamp) used by the reference: pandas pads the fraction to 6
    digits when non-zero ('00:00:00.500000') and omits it entirely at
    exactly .000000, while Spark's plain string cast trims trailing
    fractional zeros ('00:00:00.5') — so the cast alone would break
    byte parity of documents.csv.{ts}.diff."""
    ts_cols = {
        f.name for f in documents.schema.fields
        if f.dataType.typeName() == "timestamp"
    }

    def fld(c: str):
        if c in ts_cols:
            full = F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            rendered = F.regexp_replace(full, r"\.000000$", "")
        else:
            rendered = F.col(c).cast("string")
        s = F.when(F.col(c).isNull(), F.lit("")).otherwise(rendered)
        quoted = F.concat(
            F.lit('"'), F.regexp_replace(s, '"', '""'), F.lit('"')
        )
        return F.when(s.rlike('[",\n\r]'), quoted).otherwise(s)

    line = F.concat_ws(",", *[fld(c) for c in DOCUMENT_COLUMNS])
    stripped = F.regexp_replace(F.regexp_replace(line, r"^\s+", ""), r"\s+$", "")
    return documents.select(stripped.alias("line")).distinct()


def _format_range_unified(start: int, stop: int) -> str:
    """difflib._format_range_unified, byte-for-byte (0-based [start, stop))."""
    beginning = start + 1
    length = stop - start
    if length == 1:
        return str(beginning)
    if not length:
        beginning -= 1
    return f"{beginning},{length}"


def render_unified_diff(
    deleted: list, added: list, from_version: str, to_version: str
) -> str:
    """Render (line, anchor) change sets as the exact bytes the reference
    writes for documents.csv.{ts}.diff (archive/documents.py:96-117): it
    iterates difflib.unified_diff(n=0) and writes each element + '\\n',
    so header/hunk lines — which difflib yields with their own lineterm —
    carry a trailing blank line, and body lines (built from stripped
    input) a single newline. Headers use empty file names with optional
    '\\t{version}' dates, matching unified_diff's fromfiledate/tofiledate
    rendering. Empty change set → empty string (the reference skips the
    diff file entirely when nothing changed)."""
    dmap: dict[int, list[str]] = {}
    amap: dict[int, list[str]] = {}
    for row in deleted:
        dmap.setdefault(row["anchor"], []).append(row["line"])
    for row in added:
        amap.setdefault(row["anchor"], []).append(row["line"])
    anchors = sorted(set(dmap) | set(amap))
    if not anchors:
        return ""
    for group in dmap.values():
        group.sort()
    for group in amap.values():
        group.sort()
    fromdate = f"\t{from_version}" if from_version else ""
    todate = f"\t{to_version}" if to_version else ""
    elements = [f"--- {fromdate}\n", f"+++ {todate}\n"]
    cum_d = cum_a = 0
    for a in anchors:
        d = dmap.get(a, [])
        i = amap.get(a, [])
        i1 = a + cum_d
        j1 = a + cum_a
        fr1 = _format_range_unified(i1, i1 + len(d))
        fr2 = _format_range_unified(j1, j1 + len(i))
        elements.append(f"@@ -{fr1} +{fr2} @@\n")
        elements.extend("-" + line for line in d)
        elements.extend("+" + line for line in i)
        cum_d += len(d)
        cum_a += len(i)
    return "".join(e + "\n" for e in elements)


# Above this many changed lines the diff switches from one collected
# file to a directory of anchor-range-ordered hunk parts, rendered fully
# distributed — the same guard pattern as SINGLE_FILE_MAX_ROWS: a
# snapshot pair differing by 100M rows must never materialize its delta
# on the driver.
DIFF_SINGLE_FILE_MAX_CHANGES = 1_000_000


def _diff_header(from_version: str, to_version: str) -> str:
    fromdate = f"\t{from_version}" if from_version else ""
    todate = f"\t{to_version}" if to_version else ""
    return f"--- {fromdate}\n\n+++ {todate}\n\n"


def write_documents_diff(
    old: DataFrame,
    new: DataFrame,
    target: str,
    from_version: str = "",
    to_version: str = "",
    single_file_max_changes: int = DIFF_SINGLE_FILE_MAX_CHANGES,
) -> str:
    """documents.csv.{ts}.diff with reference byte parity
    (ftm_datalake/archive/documents.py:96-117).

    The diff is COMPUTED relationally (operators/documents.
    unified_diff_changes — anti-joins + two-phase ranks, no
    single-partition stage, no full-snapshot collect). Up to
    ``single_file_max_changes`` changed lines, only the delta reaches
    the driver, where render_unified_diff reproduces
    difflib.unified_diff's exact output bytes (n=0 hunks, header dates,
    the reference's extra newline per yielded element). Above it, the
    diff becomes a DIRECTORY: a ``_header`` sidecar with the two header
    lines plus text parts of whole hunks in global anchor-range order
    (operators/documents.unified_diff_hunks — rendered distributed);
    concatenating ``_header`` + parts in filename order reproduces the
    same bytes. ``read_diff_text`` reads either form."""
    from ftm_datalake_spark.operators.documents import (
        unified_diff_changes,
        unified_diff_hunks,
    )

    from ftm_datalake_spark import fsutil

    spark = old.sparkSession
    dels, adds = unified_diff_changes(
        documents_csv_lines(old), documents_csv_lines(new)
    )
    dels = dels.persist()
    adds = adds.persist()
    try:
        n_changes = dels.count() + adds.count()
        if n_changes <= single_file_max_changes:
            if fsutil.is_dir(spark, target):
                fsutil.delete(spark, target)  # switching forms: dir -> file
            fsutil.write_bytes(
                spark,
                target,
                render_unified_diff(
                    dels.collect(), adds.collect(), from_version, to_version
                ).encode("utf-8"),
            )
            return target
        parts = max(2, min(2048, n_changes // single_file_max_changes + 1))
        if fsutil.is_file(spark, target):
            fsutil.delete(spark, target)  # switching forms: file -> dir
        (
            unified_diff_hunks(dels, adds)
            .repartitionByRange(parts, "anchor")
            .sortWithinPartitions("anchor")
            .select("text")
            .write.mode("overwrite")
            .text(target)
        )
        fsutil.write_bytes(
            spark,
            os.path.join(target, "_header"),
            _diff_header(from_version, to_version).encode("utf-8"),
        )
        return target
    finally:
        dels.unpersist()
        adds.unpersist()


def read_diff_text(path: str, spark: "SparkSession | None" = None) -> str:
    """Read a documents diff back as its exact byte string — either the
    single-file form or the distributed directory form (``_header`` +
    parts concatenated in filename order). Goes through the Hadoop FS
    client, so a diff written next to an object-store lake reads back
    the same way (fsutil contract); ``spark`` defaults to the active
    session."""
    from pyspark.sql import SparkSession

    from ftm_datalake_spark import fsutil

    spark = spark or SparkSession.getActiveSession()
    if spark is None:  # no session: plain local read
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as fh:
                return fh.read()
        chunks = []
        header = os.path.join(path, "_header")
        if os.path.exists(header):
            with open(header, encoding="utf-8") as fh:
                chunks.append(fh.read())
        for name in sorted(os.listdir(path)):
            if name.startswith("part-") and not name.endswith(".crc"):
                with open(os.path.join(path, name), encoding="utf-8") as fh:
                    chunks.append(fh.read())
        return "".join(chunks)
    if fsutil.is_file(spark, path):
        return fsutil.read_bytes(spark, path).decode("utf-8")
    chunks = []
    names = fsutil.list_names(spark, path)
    if "_header" in names:
        chunks.append(
            fsutil.read_bytes(spark, os.path.join(path, "_header")).decode(
                "utf-8"
            )
        )
    for name in names:
        if name.startswith("part-") and not name.endswith(".crc"):
            chunks.append(
                fsutil.read_bytes(spark, os.path.join(path, name)).decode(
                    "utf-8"
                )
            )
    return "".join(chunks)


def write_index_json(
    index_row: dict, out_dir: str, spark: "SparkSession | None" = None
) -> str:
    """S12: per-dataset index.json from a collected stats row. With a
    session (``spark`` or the active one), the write goes through
    fsutil's crash-safe replace on any Hadoop scheme; a plain local
    write remains for Spark-free callers (the serving hot path is
    deliberately sessionless)."""
    from pyspark.sql import SparkSession as _SS

    target = os.path.join(out_dir, "index.json")
    clean = {k: v for k, v in index_row.items() if v is not None}
    payload = json.dumps(clean, default=str, sort_keys=True)
    spark = spark or _SS.getActiveSession()
    if spark is not None:
        from ftm_datalake_spark import fsutil

        fsutil.mkdirs(spark, out_dir)
        fsutil.write_bytes_atomic(spark, target, payload.encode("utf-8"))
        fsutil._drop_crc_sidecar(spark, target)
        return target
    os.makedirs(out_dir, exist_ok=True)
    with open(target, "w", encoding="utf-8") as fh:
        fh.write(payload)
    return target


def write_entities_jsonl(entities: DataFrame, out_dir: str) -> str:
    """S13: entities.ftm.json (JSON-lines of entity rows, ordered by id)."""
    target = os.path.join(out_dir, "entities.ftm.json")
    _single_file_write(entities.orderBy("id"), target, "json", header=False)
    return target


INVERTED_IDX_MAX_ROWS = 1_000_000


def write_inverted_idx(
    statements: DataFrame,
    out_dir: str,
    ref_props: list[str] | None = None,
    single_file_max_rows: int = INVERTED_IDX_MAX_ROWS,
) -> str:
    """Entity-xref ``inverted.idx`` export — the RFC's "what entity IDs
    point to entity X" sidecar (reference: /root/reference/docs/
    rfc.md:100,180 — sketched there, realized here), written next to
    ``index.json`` in the dataset directory.

    Format: JSONL of {referenced_id, n_referrers, referrers[]} in
    global referenced_id order. Same scale guard as documents.csv: up
    to ``single_file_max_rows`` referenced entities it is one
    deterministic file; above that a DIRECTORY of range-ordered
    headerless parts (concatenation in filename order reproduces the
    sorted file). Object-store-safe via the same fsutil write path."""
    from ftm_datalake_spark.operators.statements import entity_xref_inverted

    from ftm_datalake_spark import fsutil

    spark = statements.sparkSession
    target = out_dir.rstrip("/") + "/inverted.idx"
    inv = entity_xref_inverted(statements, ref_props)
    n_rows = inv.count()
    if n_rows <= single_file_max_rows:
        if fsutil.is_dir(spark, target):
            fsutil.delete(spark, target)
        _single_file_write(
            inv.orderBy("referenced_id"), target, "json", header=False
        )
    else:
        parts = max(2, min(2048, n_rows // single_file_max_rows + 1))
        if fsutil.is_file(spark, target):
            fsutil.delete(spark, target)
        (
            inv.repartitionByRange(parts, "referenced_id")
            .sortWithinPartitions("referenced_id")
            .write.mode("overwrite")
            .json(target)
        )
    return target


def read_inverted_idx(spark: SparkSession, path: str) -> DataFrame:
    """Read either form of ``inverted.idx`` back with an explicit
    schema (no inference pass)."""
    return spark.read.schema(
        "referenced_id string, n_referrers long, referrers array<string>"
    ).json(path)


def export_dataset_zip(dataset_dir: str, zip_path: str, spark=None) -> str:
    """S14: zip export of a dataset directory (driver-side; the reference
    is also single-threaded here, export.py:13-36, and writes LZMA
    members — ftm_datalake/export.py:17 — matched here).

    URI-aware on both ends when a live ``spark`` session is passed: a
    remote ``dataset_dir`` is walked through the Hadoop FS client
    (recursive listFiles — metadata RPCs, member bytes streamed one
    file at a time), and a remote ``zip_path`` is spooled to a local
    temp zip and published with a single FS copy (zip needs a seekable
    writer, so the archive itself is always assembled locally). Local
    in, local out keeps the original zero-Spark path."""
    from urllib.parse import urlparse

    src_scheme = urlparse(dataset_dir).scheme
    dst_scheme = urlparse(zip_path).scheme
    if src_scheme in ("", "file") and dst_scheme in ("", "file"):
        src = fsutil_strip(dataset_dir)
        dst = fsutil_strip(zip_path)
        with zipfile.ZipFile(dst, "w", zipfile.ZIP_LZMA) as zf:
            for root, _dirs, files in os.walk(src):
                for name in sorted(files):
                    if name.startswith("."):
                        continue  # FS metadata (.crc sidecars), not spec files
                    full = os.path.join(root, name)
                    zf.write(full, os.path.relpath(full, src))
        return zip_path

    import tempfile

    from ftm_datalake_spark import fsutil

    if spark is None:
        raise ValueError(
            "export_dataset_zip on a remote URI needs a live SparkSession"
        )
    base = dataset_dir.rstrip("/")
    fs, root_path, _ = fsutil.hadoop_fs(spark, base)
    # Relativize against the FS-qualified root, not the caller's
    # spelling: listFiles returns normalized fully-qualified URIs
    # (hdfs://nn:8020/x) that need not prefix-match a shorthand input
    # (hdfs:///x) — a silent fallback to the bare name would flatten
    # the tree into colliding members (ADVICE r11 #3).
    qualified = fs.makeQualified(root_path).toString().rstrip("/")
    entries = []
    it = fs.listFiles(root_path, True)
    while it.hasNext():
        status = it.next()
        uri = status.getPath().toString()
        name = status.getPath().getName()
        if name.startswith("."):
            continue
        if not uri.startswith(qualified + "/"):
            raise IOError(
                f"listed path {uri} is outside the qualified export root "
                f"{qualified} — refusing to guess a member name"
            )
        entries.append((uri[len(qualified):].lstrip("/"), uri))
    fd, tmp = tempfile.mkstemp(suffix=".zip")
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_LZMA) as zf:
            for rel, uri in sorted(entries):
                zf.writestr(rel, fsutil.read_bytes(spark, uri))
        if dst_scheme in ("", "file"):
            dst = fsutil_strip(zip_path)
            os.replace(tmp, dst)
            tmp = None
        else:
            fsutil.copy_path(spark, tmp, zip_path)
    finally:
        if tmp and os.path.exists(tmp):
            os.remove(tmp)
    return zip_path


def read_zip_store(spark: SparkSession, zip_path: str, staging_dir: str) -> DataFrame:
    """S8: read a zipped dataset as a binaryFile DataFrame (staging
    variant: driver-side extract, then a distributed binaryFile scan).

    Kept for compatibility with local workflows; the scale path is
    :func:`read_zip_store_distributed`, which never materializes the
    archive on the driver."""
    os.makedirs(staging_dir, exist_ok=True)
    with zipfile.ZipFile(zip_path) as zf:
        zf.extractall(staging_dir)
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(staging_dir)
    )


def read_zip_store_distributed(
    spark: SparkSession, zip_path: str, num_partitions: int | None = None
) -> DataFrame:
    """S8 at scale: read a zip store as a binaryFile-shaped DataFrame
    WITHOUT extracting on the driver (reference reads zip stores natively,
    ftm_datalake/archive/base.py:25-29).

    The driver reads only the zip *central directory* (entry names, sizes,
    mtimes — metadata, a few bytes per member, no decompression); entry
    names are parallelized and each task opens the archive itself and
    decompresses just its own members. The archive must be task-readable
    (shared FS locally; an object store via a mounted/ranged reader on a
    real cluster) — the bytes of the members never pass through the
    driver. Output schema matches `spark.read.format("binaryFile")`:
    (path, modificationTime, length, content)."""
    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    # Carry the central-directory INDEX, not just the name: duplicate
    # entry names are legal in zip, and name-based zf.read(name) would
    # return the first member's bytes for every duplicate. infolist()
    # order is the central-directory order, stable across opens.
    with zipfile.ZipFile(zip_path) as zf:
        entries = [
            (idx, i.filename, i.file_size, dt.datetime(*i.date_time))
            for idx, i in enumerate(zf.infolist())
            if not i.is_dir()
        ]
    p = num_partitions or spark.sparkContext.defaultParallelism
    meta = spark.createDataFrame(
        entries, "idx long, name string, size long, mtime timestamp"
    ).repartition(min(p, max(1, len(entries))), "idx")

    out_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )

    def extract(batches):
        # One archive handle per task, reused across Arrow batches: the
        # central directory is parsed once, then each member is a ranged
        # read + inflate of only that member.
        with zipfile.ZipFile(zip_path) as zf:
            infos = zf.infolist()
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "path": [f"zip://{zip_path}!/{n}" for n in pdf["name"]],
                        "modificationTime": pdf["mtime"],
                        "length": pdf["size"].astype("int64"),
                        "content": [zf.read(infos[i]) for i in pdf["idx"]],
                    }
                )

    return meta.mapInPandas(extract, out_schema)


def compact_table(
    df: DataFrame, out_dir: str, max_records_per_file: int, partitions: int
) -> int:
    """Small-file compaction for lake maintenance: rewrite a table with a
    bounded file count AND a bounded per-file row count — the two knobs
    that keep a 100 TB table's file census sane (too many small files =
    driver/list pressure; too-large files = no scan parallelism).

    Returns the number of parquet part-files written."""
    (
        df.repartition(partitions)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(out_dir)
    )
    return len(glob.glob(os.path.join(out_dir, "part-*.parquet")))


# ---------------------------------------------------------------- webdataset
def _webdataset_tar_bytes(pdf, key_col: str, text_col: str,
                          binary_col: str | None) -> bytes:
    """One shard's tar, built in memory — the SINGLE byte-deterministic
    builder every backend (local / s3 / generic Hadoop scheme) shares,
    so sha256 equality across storage backends is structural, not
    tested-into-existence. Zeroed mtime/uid/gid, fixed member order and
    modes; memory is bounded by the shard (its rows are already
    in-memory as the applyInPandas group)."""
    import io
    import tarfile

    pdf = pdf.sort_values("rank")
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        for _, row in pdf.iterrows():
            members = [(f"{int(row[key_col]):09d}.txt",
                        str(row[text_col]).encode("utf-8"))]
            if binary_col:
                payload = row[binary_col]
                members.append(
                    (f"{int(row[key_col]):09d}.bin",
                     bytes(payload) if payload is not None else b"")
                )
            for name, data in members:
                info = tarfile.TarInfo(name)
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tar.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def write_webdataset_shards(
    df: DataFrame,
    out_dir: str,
    shard_size: int = 1000,
    key_col: str = "doc_id",
    text_col: str = "text",
    binary_col: str | None = None,
    prefix: str = "shard",
    s3_conn: dict | None = None,
    write_manifest: bool = True,
    task_fs_factory=None,
) -> list[dict]:
    """Training-data export: WebDataset-style tar shards + manifest.

    ``write_manifest=False`` publishes the shards but NOT the
    manifest.json commit record — for callers that own a larger commit
    protocol (the streaming publisher merges per-batch entries into a
    cumulative manifest atomically; see streaming/wds.py).

    The standard large-corpus training format (one tar per shard, one
    sample per key with `{key}.txt` / optional `{key}.bin` members,
    shards consumed sequentially by dataloaders). Spark-first shape:

    - exact global order via the two-phase rank (operators/rank.py — a
      range partition + per-partition offsets, no single-partition
      stage), so shard assignment `rank // shard_size` is deterministic
      and every shard except the last is exactly `shard_size` samples;
    - one `applyInPandas` group per shard builds its tar in memory
      (groups are bounded by shard_size rows — the unit of memory is
      the shard, not the corpus);
    - tars are BYTE-DETERMINISTIC (one shared builder,
      :func:`_webdataset_tar_bytes`): re-running under any input
      partitioning or storage backend produces identical sha256 per
      shard, so task retries are idempotent overwrites and downstream
      caches can trust the digests;
    - ``manifest.json`` is written LAST, from one metadata row per
      shard — it is the COMMIT RECORD (the committed-dir protocol's
      marker): a reader that requires the manifest never sees a
      half-exported shard set, and a crashed export re-runs into
      identical bytes.

    Storage dispatch on ``out_dir``'s scheme (VERDICT r10 missing #1 —
    the executor-side ``os.path``/``tarfile.open(path)`` writes used to
    land on executor-local disks when given an object-store URI):

    - no scheme / ``file://`` — executors write tars directly
      (temp + ``os.replace`` atomic publish); zero driver bytes;
    - ``s3://`` — executors PUT tars through boto3 (``s3_conn`` is the
      plain-dict client config that crosses the task boundary, the
      sources/s3_store.py pattern); a single PUT is atomic on S3 and
      retries overwrite the same bytes; zero driver bytes;
    - any other scheme with a pure-Python filesystem client
      (``pyarrow.fs.FileSystem.from_uri`` by default — gs://, hdfs://
      with libhdfs — or a caller-supplied ``task_fs_factory``) —
      executors publish their own shards through the pickled client
      (atomic-on-close on object stores, stage+move elsewhere); zero
      driver bytes (round 12, the blob archive's tiering);
    - JVM-only schemes (viewfs://, ...) — executors return tar BYTES
      as Arrow rows and the driver streams them shard-by-shard through
      ``fsutil.write_bytes_atomic`` (``toLocalIterator`` — memory
      bounded by one output partition, throughput bounded by the
      driver NIC: the documented last-resort fallback).

    Returns the manifest entries.
    """
    import hashlib
    from urllib.parse import urlparse

    import pandas as pd

    from ftm_datalake_spark.operators.rank import with_global_rank
    from pyspark.sql import functions as F

    parsed = urlparse(out_dir)
    scheme = parsed.scheme
    cols = [key_col, text_col] + ([binary_col] if binary_col else [])
    ranked, _total = with_global_rank(df.select(*cols), [key_col])
    sharded = ranked.withColumn(
        "__shard", ((F.col("rank") - 1) / shard_size).cast("long")
    )
    grouped = sharded.groupBy("__shard")
    spark = df.sparkSession

    _generic_fs = None
    if scheme not in ("", "file", "s3"):
        from ftm_datalake_spark.fsutil_py import pyarrow_fs_for

        _generic_fs = (
            task_fs_factory(out_dir)
            if task_fs_factory is not None
            else pyarrow_fs_for(out_dir)
        )

    if scheme in ("", "file"):
        base = fsutil_strip(out_dir)
        os.makedirs(base, exist_ok=True)

        def write_shard_local(pdf: pd.DataFrame) -> pd.DataFrame:
            shard_id = int(pdf["__shard"].iloc[0])
            data = _webdataset_tar_bytes(pdf, key_col, text_col, binary_col)
            path = os.path.join(base, f"{prefix}-{shard_id:06d}.tar")
            tmp = path + ".__stage__"
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, path)  # atomic publish; retries same bytes
            return pd.DataFrame(
                [{"shard_id": shard_id, "path": path, "n_samples": len(pdf),
                  "sha256": hashlib.sha256(data).hexdigest()}]
            )

        meta_rows = grouped.applyInPandas(
            write_shard_local,
            "shard_id LONG, path STRING, n_samples LONG, sha256 STRING",
        ).collect()  # one row per shard — metadata-scale
    elif scheme == "s3":
        from ftm_datalake_spark.sources.archive import _s3_put_verified
        from ftm_datalake_spark.sources.s3_store import _client, _require_boto3

        _require_boto3()
        bucket = parsed.netloc
        key_prefix = parsed.path.strip("/")
        conn = dict(s3_conn or {})

        def write_shard_s3(pdf: pd.DataFrame) -> pd.DataFrame:
            shard_id = int(pdf["__shard"].iloc[0])
            data = _webdataset_tar_bytes(pdf, key_col, text_col, binary_col)
            name = f"{prefix}-{shard_id:06d}.tar"
            key = f"{key_prefix}/{name}" if key_prefix else name
            # upload-then-verify (archive.py's blob protocol): a
            # corrupted PUT must fail the task, not ship a shard whose
            # bytes contradict the manifest sha256 the readers trust
            _s3_put_verified(_client(conn), bucket, key, data)
            return pd.DataFrame(
                [{"shard_id": shard_id, "path": f"s3://{bucket}/{key}",
                  "n_samples": len(pdf),
                  "sha256": hashlib.sha256(data).hexdigest()}]
            )

        meta_rows = grouped.applyInPandas(
            write_shard_s3,
            "shard_id LONG, path STRING, n_samples LONG, sha256 STRING",
        ).collect()
    elif _generic_fs is not None:
        # distributed generic tier (round 12, same design as the blob
        # archive's): a pure-Python filesystem resolved on the driver
        # pickles into the applyInPandas closure, so each task publishes
        # its own shard through _task_fs_put (atomic-on-close on object
        # stores, stage+move on filesystem-likes) — zero driver bytes
        from ftm_datalake_spark.sources.archive import _task_fs_put

        fs, root_path = _generic_fs
        base = str(root_path).rstrip("/")
        # recorded paths keep the caller's URI form: pyarrow's from_uri
        # strips the scheme (gs://bucket/dir -> bucket/dir), and a
        # scheme-less manifest entry is unresolvable by consumers and
        # inconsistent with the local/s3 tiers (ADVICE r12 #4)
        uri_base = out_dir.rstrip("/")

        def write_shard_fs(pdf: pd.DataFrame) -> pd.DataFrame:
            shard_id = int(pdf["__shard"].iloc[0])
            data = _webdataset_tar_bytes(pdf, key_col, text_col, binary_col)
            name = f"{prefix}-{shard_id:06d}.tar"
            _task_fs_put(fs, f"{base}/{name}", data)
            return pd.DataFrame(
                [{"shard_id": shard_id, "path": f"{uri_base}/{name}",
                  "n_samples": len(pdf),
                  "sha256": hashlib.sha256(data).hexdigest()}]
            )

        meta_rows = grouped.applyInPandas(
            write_shard_fs,
            "shard_id LONG, path STRING, n_samples LONG, sha256 STRING",
        ).collect()
    else:
        from ftm_datalake_spark import fsutil

        base = out_dir.rstrip("/")

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            shard_id = int(pdf["__shard"].iloc[0])
            data = _webdataset_tar_bytes(pdf, key_col, text_col, binary_col)
            return pd.DataFrame(
                [{"shard_id": shard_id, "n_samples": len(pdf),
                  "sha256": hashlib.sha256(data).hexdigest(), "tar": data}]
            )

        built = grouped.applyInPandas(
            build_shard,
            "shard_id LONG, n_samples LONG, sha256 STRING, tar BINARY",
        )
        # spread to ~one shard per output partition: toLocalIterator
        # materializes a PARTITION at a time on the driver, and the
        # groupBy's shuffle partitioning would otherwise pack
        # n_shards/shuffle_partitions tars into each fetch. RANGE
        # partitioning on the distinct shard ids gives each partition a
        # contiguous id span — with n_shards partitions that is one tar
        # per partition up to boundary-sampling jitter, never the
        # arbitrary stacking hash collisions allow (ADVICE r11 #4) —
        # so the driver-memory bound is ~one shard, worst-case two
        # adjacent ones
        n_shards = int((_total + shard_size - 1) // shard_size) or 1
        built = built.repartitionByRange(n_shards, F.col("shard_id"))
        meta_rows = []
        # driver streams one output partition at a time; each shard is
        # published atomically under its final name before the next is
        # pulled, so a crash leaves complete shards + no manifest
        for row in built.toLocalIterator():
            path = f"{base}/{prefix}-{int(row['shard_id']):06d}.tar"
            fsutil.write_bytes_atomic(spark, path, bytes(row["tar"]))
            meta_rows.append(
                {"shard_id": row["shard_id"], "path": path,
                 "n_samples": row["n_samples"], "sha256": row["sha256"]}
            )

    manifest = sorted(
        (
            {"shard_id": r["shard_id"], "path": r["path"],
             "n_samples": r["n_samples"], "sha256": r["sha256"]}
            for r in meta_rows
        ),
        key=lambda m: m["shard_id"],
    )
    if not write_manifest:
        return manifest
    payload = json.dumps(manifest, indent=1).encode("utf-8")
    # one metadata tier for every scheme (round 13): local os.replace,
    # s3 ETag-verified PUT, pyarrow-resolvable schemes, JVM fallback
    from ftm_datalake_spark import fsutil_py

    fsutil_py.write_bytes_atomic(
        spark, out_dir.rstrip("/") + "/manifest.json", payload, s3_conn
    )
    return manifest


def read_webdataset_shards(
    spark: SparkSession, shards_dir: str, s3_conn: dict | None = None
) -> DataFrame:
    """Ingest twin of :func:`write_webdataset_shards`: tar shards back to
    (key, member, content) rows.

    Scale shape: the shard is the parallel unit — whole tars are
    assigned to tasks (tar has no central directory, so sequential
    member walk per archive is the format's native access pattern), and
    an Arrow-batched mapInPandas parses members task-side. Shard bytes
    never pass through the driver. Source dispatch mirrors the writer:
    ``s3://`` dirs list task-fetchable keys through the S3 store
    backend (per-task boto3 GETs — the bundled Spark has no s3a jars);
    everything else goes through ``binaryFile`` on the Hadoop FS
    client, so the s3 write path round-trips without cluster jars."""
    import io
    import tarfile
    from collections.abc import Iterator

    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("shard_path", T.StringType(), False),
            T.StructField("key", T.LongType(), False),
            T.StructField("member", T.StringType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                with tarfile.open(fileobj=io.BytesIO(bytes(content))) as tar:
                    for info in tar.getmembers():
                        if not info.isfile():
                            continue
                        stem, _, ext = info.name.partition(".")
                        rows.append(
                            {
                                "shard_path": path,
                                "key": int(stem),
                                "member": ext,
                                "content": tar.extractfile(info).read(),
                            }
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    if shards_dir.startswith("s3://"):
        from urllib.parse import urlparse

        from ftm_datalake_spark.sources.s3_store import (
            list_s3_objects,
            scan_s3_store,
        )

        parsed = urlparse(shards_dir)
        bucket, prefix = parsed.netloc, parsed.path.strip("/")
        conn = dict(s3_conn or {})
        keys = [
            k
            for k in list_s3_objects(bucket, prefix, conn)
            if k.endswith(".tar")
        ]
        tars = scan_s3_store(
            spark, bucket, keys=keys, prefix=prefix, conn=conn
        ).select("path", "content")
    else:
        tars = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.tar")
            .load(shards_dir)
            .select("path", "content")
        )
    return tars.mapInPandas(parse, schema)


# ----------------------------------------------------------------------- orc
def write_table_orc(
    df: DataFrame, out_dir: str, partition_by: list[str] | None = None
) -> str:
    """ORC sink with optional Hive-style partition layout
    (``col=value/`` directories). ORC is the second Spark-native
    columnar format next to parquet — same predicate pushdown, column
    pruning and partition pruning, so a lake can serve readers pinned to
    either ecosystem from one pipeline. Partitioning on a low-cardinality
    column turns equality predicates into directory pruning: the scan
    never lists, let alone reads, the other partitions."""
    w = df.write.mode("overwrite").option("compression", "zlib")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(out_dir)
    return out_dir


def read_table_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; partition columns come back from the directory layout
    and filters on them prune at planning time (PartitionFilters in the
    physical plan — asserted in tests/test_sinks.py)."""
    return spark.read.orc(path)
