"""S2 remote-store backend: crawl an HTTP store (SURVEY §2.1).

The reference's storage layer is fsspec-backed and its tests exercise a
live local HTTP range server (reference tests/conftest.py:60-80). Spark
has no Hadoop filesystem for http://, so the backend is built from the
two primitives an HTTP store actually offers:

- LISTING: driver-side, metadata-only — either a caller-supplied key
  list (manifest/inventory, the common object-store case) or a
  recursive walk of an autoindex page (``python -m http.server``
  style), yielding relative keys. Listing is metadata scale by
  definition — bytes never flow here.
- FETCH: task-side — keys are parallelized and each task GETs its own
  keys, so blob bytes go straight from the store to executors, never
  through the driver. ``scan_key_store`` is this fetch scan for every
  key-addressed store (HTTP here, S3 in sources/s3_store.py): a store
  supplies only its per-task client and its one-key GET. Output is
  binaryFile-shaped (path, modificationTime, length, content), so the
  whole downstream crawl pipeline (checksum → projection → merge,
  ``pipelines.ingest.crawl_keys``) is IDENTICAL to the local-FS path —
  proven by the http-vs-local crawl parity test
  (tests/test_http_store.py).

Ranged reads (``read_http_range``) cover the reference's range-server
contract for streaming single blobs without full downloads."""

from __future__ import annotations

import datetime as dt
import posixpath
from email.utils import parsedate_to_datetime
from html.parser import HTMLParser
from urllib.parse import quote, unquote
from urllib.request import Request, urlopen

from pyspark.sql import DataFrame, SparkSession


class _HrefParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__()
        self.hrefs: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            for name, value in attrs:
                if name == "href" and value:
                    self.hrefs.append(value)


def _safe_key(key: str) -> bool:
    """Reject autoindex-derived keys that could escape the base prefix:
    a crafted page can serve hrefs like ``a/../../x`` (which pass a
    naive leading-``../`` check) that the server then resolves OUTSIDE
    the store root. A key is safe iff posixpath.normpath is the
    identity (no ``..``/``.`` segments, no ``//``, no trailing
    artifacts) and it stays relative."""
    if not key or key.startswith("/"):
        return False
    norm = posixpath.normpath(key)
    # Reject '.' segments explicitly: normpath('.') == '.' is the
    # identity, so a bare './' href would otherwise re-queue the same
    # directory under a new prefix string (one wasted GET per page).
    return norm == key and not any(
        seg in ("..", ".") for seg in key.split("/")
    )


def list_http_autoindex(base_url: str, timeout: float = 30.0) -> list[str]:
    """Recursively walk an HTML autoindex (http.server / nginx style)
    and return sorted relative keys. Driver-side metadata traversal —
    one small HTML page per directory, no blob bytes. Candidate keys
    are normalized: any href whose resolved path contains ``..``/``.``
    segments or collapses under posixpath.normpath is discarded, so a
    hostile autoindex page cannot yield keys that escape the base
    prefix when the server resolves the GET."""
    base_url = base_url.rstrip("/") + "/"
    keys: list[str] = []
    stack = [""]
    seen = set()
    while stack:
        prefix = stack.pop()
        if prefix in seen:
            continue
        seen.add(prefix)
        with urlopen(base_url + quote(prefix), timeout=timeout) as res:
            html = res.read().decode(res.headers.get_content_charset() or "utf-8")
        parser = _HrefParser()
        parser.feed(html)
        for href in parser.hrefs:
            if href.startswith(("?", "#")) or "://" in href:
                continue
            rel = unquote(href)
            if rel.startswith("/"):  # absolute within server: keep subtree only
                continue
            if rel.endswith("/"):
                if _safe_key(prefix + rel.rstrip("/")):
                    stack.append(prefix + rel)
            elif _safe_key(prefix + rel):
                keys.append(prefix + rel)
    return sorted(keys)


def _http_date(value: str | None) -> dt.datetime | None:
    if not value:
        return None
    try:
        return parsedate_to_datetime(value)
    except (TypeError, ValueError):
        return None


def read_http_range(
    url: str, start: int, length: int, timeout: float = 30.0
) -> bytes:
    """Ranged blob read (bytes [start, start+length)) — the reference's
    range-server contract (tests/conftest.py:60-80): stream a slice
    without fetching the object."""
    req = Request(url, headers={"Range": f"bytes={start}-{start + length - 1}"})
    with urlopen(req, timeout=timeout) as res:
        if res.status not in (200, 206):
            raise OSError(f"range request failed: {res.status}")
        body = res.read()
    if res.status == 200:  # server ignored Range: slice locally
        return body[start : start + length]
    return body


def _keys_df(
    spark: SparkSession,
    keys: "list[str] | DataFrame",
    num_partitions: int | None = None,
) -> DataFrame:
    """Normalize a key source to a single-column ``key`` DataFrame.
    Lists (bounded: a store walk) are parallelized; DataFrames (an S3
    Inventory manifest, possibly 10⁸ rows) pass through without ever
    touching the driver."""
    if isinstance(keys, DataFrame):
        df = keys.select("key")
        return df.repartition(num_partitions, "key") if num_partitions else df
    p = num_partitions or spark.sparkContext.defaultParallelism
    return spark.createDataFrame(
        [(k,) for k in keys] or [], "key string"
    ).repartition(min(p, max(1, len(keys))), "key")


def scan_key_store(
    spark: SparkSession,
    keys: "list[str] | DataFrame",
    get,
    open_client=lambda: None,
    num_partitions: int | None = None,
    on_missing: str = "error",
) -> DataFrame:
    """binaryFile-shaped scan (path, modificationTime, length, content)
    of any key-addressed store. Keys are parallelized and fetched
    task-side through one Arrow-batched mapInPandas, so blob bytes go
    store → executor, never through the driver.

    The store supplies ``open_client()``, called once per task (a boto3
    client does not pickle, and one per task amortizes its handshake),
    and ``get(client, key)``, its one-key GET: ``(logical path, mtime,
    bytes)``, or None when the key is missing. ``on_missing="error"``
    fails the task on a missing key; ``"skip"`` drops it and the caller
    counts the shortfall — at scale a listing is always stale (the
    reference's not_found counter, ftm_datalake/sync/memorious.py:29-33)."""
    import pandas as pd

    if on_missing not in ("error", "skip"):
        raise ValueError(
            f"on_missing must be 'error' or 'skip', got {on_missing!r}"
        )
    skip_missing = on_missing == "skip"

    def fetch(batches):
        client = open_client()  # one per task, reused across batches
        for pdf in batches:
            paths, mtimes, contents = [], [], []
            for key in pdf["key"]:
                got = get(client, key)
                if got is None:
                    if skip_missing:
                        continue  # deleted between list and fetch
                    raise FileNotFoundError(f"store key not found: {key!r}")
                paths.append(got[0])
                mtimes.append(got[1])
                contents.append(got[2])
            # explicit dtypes: an all-skipped batch is EMPTY, and pandas
            # would otherwise infer float64 for the timestamp column,
            # which Arrow refuses to cast
            yield pd.DataFrame(
                {
                    "path": pd.Series(paths, dtype="object"),
                    "modificationTime": pd.to_datetime(
                        pd.Series(mtimes, dtype="object"), utc=True
                    ),
                    "length": pd.Series([len(c) for c in contents], dtype="int64"),
                    "content": pd.Series(contents, dtype="object"),
                }
            )

    return _keys_df(spark, keys, num_partitions).mapInPandas(
        fetch,
        "path string, modificationTime timestamp, length long, content binary",
    )


def scan_http_store(
    spark: SparkSession,
    base_url: str,
    keys: "list[str] | DataFrame | None" = None,
    num_partitions: int | None = None,
    timeout: float = 60.0,
    on_missing: str = "error",
) -> DataFrame:
    """:func:`scan_key_store` over an HTTP store. ``keys`` defaults to an
    autoindex walk; Last-Modified becomes modificationTime (fetch time
    when the server sends none); a 404/410 is a missing key.

    Path-column convention: ``path`` is the LOGICAL store path —
    ``base + raw_key`` (unquoted) — chosen so ``path_to_key`` strips the
    base prefix and round-trips to the exact table key. The wire URL is
    ``base + quote(key)``; the two differ only by percent-encoding and
    the raw-key form is the single convention recorded everywhere."""
    base = base_url.rstrip("/") + "/"
    if keys is None:
        keys = list_http_autoindex(base)

    def get(_client, key):
        from urllib.error import HTTPError

        try:
            with urlopen(base + quote(key), timeout=timeout) as res:
                body = res.read()
                modified = _http_date(res.headers.get("Last-Modified"))
        except HTTPError as exc:
            if exc.code in (404, 410):
                return None
            raise
        return base + key, modified or dt.datetime.now(dt.timezone.utc), body

    return scan_key_store(
        spark, keys, get, num_partitions=num_partitions, on_missing=on_missing
    )


def crawl_http(
    spark: SparkSession,
    base_url: str,
    dataset: str,
    lake_dir: str,
    include: str | None = None,
    exclude: str | None = None,
    keys: "list[str] | DataFrame | None" = None,
) -> dict:
    """Crawl an HTTP store into the lake (:func:`pipelines.ingest.crawl_keys`):
    an autoindex carries no size/mtime, so a key already in the
    documents table is never re-fetched — a re-crawl of an unchanged
    store downloads ZERO bytes (the reference's key-existence skip,
    ftm_datalake/crawl.py:67-71). ``keys`` replaces the autoindex walk
    with a caller's listing. Returns the crawl counters."""
    from ftm_datalake_spark.pipelines.ingest import crawl_keys

    base = base_url.rstrip("/") + "/"
    if keys is None:
        keys = list_http_autoindex(base)
    return crawl_keys(
        spark,
        keys,
        lambda new: scan_http_store(spark, base, keys=new, on_missing="skip"),
        base,
        dataset,
        lake_dir,
        include,
        exclude,
    )


def crawl_scan_http(
    spark: SparkSession,
    base_url: str,
    dataset: str,
    keys: list[str] | None = None,
    include: str | None = None,
    exclude: str | None = None,
) -> DataFrame:
    """crawl_scan for HTTP sources (:func:`pipelines.ingest.crawl_scan_keys`):
    DOCUMENTS_SCHEMA rows, checksums computed task-side over fetched
    bytes; excluded blobs are never downloaded."""
    from ftm_datalake_spark.pipelines.ingest import crawl_scan_keys

    base = base_url.rstrip("/") + "/"
    if keys is None:
        keys = list_http_autoindex(base)
    return crawl_scan_keys(
        keys,
        lambda pruned: scan_http_store(spark, base, pruned),
        base,
        dataset,
        include,
        exclude,
    )
