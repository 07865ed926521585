"""Remote-store backend e2e against a LIVE local HTTP range server —
the reference's remote test shape (tests/conftest.py:60-80): crawl over
HTTP must be bit-identical to crawl over the local FS, ranged reads
must slice without full downloads, and glob excludes must prune before
any fetch."""

from __future__ import annotations

import http.server
import os
import threading

import pytest
from pyspark.sql import functions as F

FILES = {
    "a.txt": b"alpha",
    "b.csv": b"k,v\n1,2\n",
    "sub/nested.txt": b"nested bytes",
    "sub/deep/leaf.bin": bytes(range(256)) * 4,
    "space name.txt": b"with space",
}


class _RangeHandler(http.server.SimpleHTTPRequestHandler):
    """SimpleHTTPRequestHandler + single-range GET support, like the
    reference's range server fixture."""

    def send_head(self):
        range_header = self.headers.get("Range")
        if not range_header:
            return super().send_head()
        path = self.translate_path(self.path)
        try:
            fh = open(path, "rb")
        except OSError:
            self.send_error(404)
            return None
        size = os.fstat(fh.fileno()).st_size
        start_s, _, end_s = range_header.removeprefix("bytes=").partition("-")
        start = int(start_s)
        end = min(int(end_s) if end_s else size - 1, size - 1)
        self.send_response(206)
        self.send_header("Content-Range", f"bytes {start}-{end}/{size}")
        self.send_header("Content-Length", str(end - start + 1))
        self.send_header("Content-Type", self.guess_type(path))
        self.end_headers()
        fh.seek(start)
        self._range_span = end - start + 1
        return _Limited(fh, self._range_span)

    def log_message(self, *args):  # quiet
        pass


class _Limited:
    def __init__(self, fh, limit):
        self.fh, self.limit = fh, limit

    def read(self, n=-1):
        if self.limit <= 0:
            return b""
        n = self.limit if n < 0 else min(n, self.limit)
        data = self.fh.read(n)
        self.limit -= len(data)
        return data

    def close(self):
        self.fh.close()


@pytest.fixture(scope="module")
def http_store(tmp_path_factory):
    root = tmp_path_factory.mktemp("httpsrc")
    for key, body in FILES.items():
        full = root / key
        full.parent.mkdir(parents=True, exist_ok=True)
        full.write_bytes(body)

    handler = lambda *a, **kw: _RangeHandler(*a, directory=str(root), **kw)  # noqa: E731
    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}", str(root)
    httpd.shutdown()


def test_autoindex_listing(http_store):
    from ftm_datalake_spark.sources.http_store import list_http_autoindex

    base, _root = http_store
    assert list_http_autoindex(base) == sorted(FILES)


def test_ranged_read(http_store):
    from ftm_datalake_spark.sources.http_store import read_http_range

    base, _root = http_store
    blob = FILES["sub/deep/leaf.bin"]
    assert read_http_range(f"{base}/sub/deep/leaf.bin", 100, 50) == blob[100:150]
    assert read_http_range(f"{base}/a.txt", 0, 3) == b"alp"


def test_scan_streams_bytes_task_side(spark, http_store):
    from ftm_datalake_spark.sources.http_store import scan_http_store

    base, _root = http_store
    rows = {
        r["path"]: r
        for r in scan_http_store(spark, base).collect()
    }
    assert len(rows) == len(FILES)
    for key, body in FILES.items():
        row = rows[f"{base}/{key}"]
        assert bytes(row["content"]) == body
        assert row["length"] == len(body)


def test_http_crawl_matches_local_crawl(spark, http_store):
    """The parity gate: the same corpus crawled over HTTP and over the
    local FS yields identical (key, content_hash, size, mimetype)."""
    from ftm_datalake_spark.pipelines.ingest import crawl_scan
    from ftm_datalake_spark.sources.http_store import crawl_scan_http

    base, root = http_store
    cols = ["key", "content_hash", "size", "mimetype"]
    via_http = {
        tuple(r) for r in crawl_scan_http(spark, base, "ds").select(*cols).collect()
    }
    via_local = {
        tuple(r) for r in crawl_scan(spark, root, "ds").select(*cols).collect()
    }
    assert via_http == via_local
    assert len(via_http) == len(FILES)


def test_exclude_prunes_before_fetch(spark, http_store, monkeypatch):
    from ftm_datalake_spark.sources import http_store as hs

    base, _root = http_store
    fetched: list[str] = []
    real = hs.scan_http_store

    def spy(spark_, base_, keys=None, **kw):
        if keys is None or isinstance(keys, list):
            fetched.extend(keys or [])
        else:  # the distributed new-key DataFrame
            fetched.extend(r["key"] for r in keys.select("key").collect())
        return real(spark_, base_, keys, **kw)

    monkeypatch.setattr(hs, "scan_http_store", spy)
    out = hs.crawl_scan_http(spark, base, "ds", exclude="sub/*")
    keys = {r["key"] for r in out.select("key").collect()}
    assert keys == {k for k in FILES if not k.startswith("sub/")}
    # excluded keys were never handed to the fetcher at all
    assert set(fetched) == keys

    # globs are start-anchored: 'deep/*' does not match 'sub/deep/leaf.bin'
    fetched.clear()
    out = hs.crawl_scan_http(spark, base, "ds", include="deep/*")
    assert out.count() == 0
    assert fetched == []


def test_crawl_http_full_pipeline_and_incremental(spark, tmp_path, monkeypatch):
    """crawl_http e2e: initial crawl lands every file in the documents
    table; an unchanged re-crawl fetches ZERO keys (key-based
    skip-existing); a new file fetches only itself."""
    import http.server
    import threading

    from ftm_datalake_spark.pipelines.ingest import read_documents
    from ftm_datalake_spark.sources import http_store as hs

    root = tmp_path / "src"
    root.mkdir()
    (root / "one.txt").write_bytes(b"first")
    (root / "two.txt").write_bytes(b"second")
    handler_cls = type(
        "Quiet", (http.server.SimpleHTTPRequestHandler,),
        {"log_message": lambda self, *a: None},
    )
    httpd = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0),
        lambda *a, **kw: handler_cls(*a, directory=str(root), **kw),
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    lake = str(tmp_path / "lake")

    fetched: list[str] = []
    real = hs.scan_http_store

    def spy(spark_, base_, keys=None, **kw):
        if keys is None or isinstance(keys, list):
            fetched.extend(keys or [])
        else:  # the distributed new-key DataFrame
            fetched.extend(r["key"] for r in keys.select("key").collect())
        return real(spark_, base_, keys, **kw)

    monkeypatch.setattr(hs, "scan_http_store", spy)
    try:
        counters = hs.crawl_http(spark, base, "ds", lake)
        assert counters == {"files_total": 2, "added_or_updated": 2, "not_found": 0}
        assert sorted(fetched) == ["one.txt", "two.txt"]
        docs = read_documents(spark, lake, "ds")
        assert {r.key for r in docs.collect()} == {"one.txt", "two.txt"}

        fetched.clear()
        counters = hs.crawl_http(spark, base, "ds", lake)
        assert counters == {"files_total": 2, "added_or_updated": 0, "not_found": 0}
        assert fetched == []  # unchanged store: zero bytes downloaded

        (root / "three.txt").write_bytes(b"third")
        fetched.clear()
        counters = hs.crawl_http(spark, base, "ds", lake)
        assert counters == {"files_total": 3, "added_or_updated": 1, "not_found": 0}
        assert fetched == ["three.txt"]  # only the delta
    finally:
        httpd.shutdown()


def test_make_and_repair_over_http(spark, tmp_path):
    """Integrity pass over an HTTP store: corrupting a remote blob is
    detected as `fix` and repair rewrites the table with the new hash —
    the reference's make semantics, scheme-routed."""
    import hashlib
    import http.server
    import threading

    from ftm_datalake_spark.pipelines.ingest import make, read_documents, repair
    from ftm_datalake_spark.sources.http_store import crawl_http

    root = tmp_path / "src"
    root.mkdir()
    (root / "ok.txt").write_bytes(b"stable")
    (root / "mut.txt").write_bytes(b"original")
    handler_cls = type(
        "Quiet", (http.server.SimpleHTTPRequestHandler,),
        {"log_message": lambda self, *a: None},
    )
    httpd = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0),
        lambda *a, **kw: handler_cls(*a, directory=str(root), **kw),
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    lake = str(tmp_path / "lake")
    try:
        crawl_http(spark, base, "ds", lake)
        # clean state: everything ok
        actions = {r.key: r.action for r in make(spark, base, "ds", lake).collect()}
        assert actions == {"ok.txt": "ok", "mut.txt": "ok"}

        (root / "mut.txt").write_bytes(b"corrupted!")
        actions = {r.key: r.action for r in make(spark, base, "ds", lake).collect()}
        assert actions == {"ok.txt": "ok", "mut.txt": "fix"}

        counters = repair(spark, base, "ds", lake)
        assert counters.get("fix") == 1 and counters.get("ok") == 1
        row = {
            r.key: r.content_hash
            for r in read_documents(spark, lake, "ds").collect()
        }
        assert row["mut.txt"] == hashlib.sha1(b"corrupted!").hexdigest()
    finally:
        httpd.shutdown()


def test_http_stale_listing_skips_and_counts(spark, tmp_path, monkeypatch):
    """A key the listing promised but the server 404s by fetch time is
    skipped and counted (not_found) instead of failing the crawl — the
    same stale-listing policy as the S3 backend."""
    import http.server
    import threading

    from ftm_datalake_spark.pipelines.ingest import read_documents
    from ftm_datalake_spark.sources import http_store as hs

    root = tmp_path / "src"
    root.mkdir()
    (root / "keep.txt").write_bytes(b"kept")
    handler_cls = type(
        "Quiet", (http.server.SimpleHTTPRequestHandler,),
        {"log_message": lambda self, *a: None},
    )
    httpd = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0),
        lambda *a, **kw: handler_cls(*a, directory=str(root), **kw),
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    lake = str(tmp_path / "lake")

    # a stale listing: ghost.txt listed but never served
    monkeypatch.setattr(
        hs, "list_http_autoindex", lambda *a, **kw: ["keep.txt", "ghost.txt"]
    )
    try:
        counters = hs.crawl_http(spark, base, "ds", lake)
        assert counters == {
            "files_total": 2,
            "added_or_updated": 1,
            "not_found": 1,
        }
        docs = read_documents(spark, lake, "ds")
        assert {r["key"] for r in docs.collect()} == {"keep.txt"}

        # the default scan policy stays loud
        import pytest as _pytest

        with _pytest.raises(Exception):
            hs.scan_http_store(spark, base, keys=["ghost.txt"]).collect()
    finally:
        httpd.shutdown()
