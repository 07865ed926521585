"""Laws of the one ingest path for key-addressed stores (S3, HTTP):
`crawl --archive` lists the store once and computes its pending set
without a driver collect, an archived empty blob is neither re-fetched
nor invisible to GC, and an archive listing that cannot be read raises
instead of reading as an empty archive."""

from __future__ import annotations

import argparse
import hashlib
import http.server
import json
import os
import threading

import pytest

from ftm_datalake_spark.pipelines.ingest import EMPTY_SHA1


def _crawl_args(source: str, lake: str, **kw) -> argparse.Namespace:
    return argparse.Namespace(
        cmd="crawl", source=source, dataset="ds", lake=lake,
        include=None, exclude=None, archive=True, **kw,
    )


def _shards(lake: str) -> set[str]:
    return {
        name
        for _root, _dirs, names in os.walk(os.path.join(lake, "ds", "archive"))
        for name in names
    }


@pytest.fixture()
def http_src(tmp_path):
    """An autoindex HTTP store holding one empty and two non-empty files."""
    root = tmp_path / "www"
    root.mkdir()
    (root / "x.txt").write_bytes(b"payload x")
    (root / "y.txt").write_bytes(b"payload y")
    (root / "empty.txt").write_bytes(b"")
    handler_cls = type(
        "Quiet", (http.server.SimpleHTTPRequestHandler,),
        {"log_message": lambda self, *a: None},
    )
    httpd = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0),
        lambda *a, **kw: handler_cls(*a, directory=str(root), **kw),
    )
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def test_http_crawl_archive_runs_without_driver_collect(
    spark, tmp_path, http_src, monkeypatch, capsys
):
    """The pending set is documents ⋉ live keys ▷ archived hashes, a
    plan: with DataFrame.collect poisoned the whole command still runs
    and archives every blob."""
    import pyspark.sql.classic.dataframe as cdf

    from ftm_datalake_spark.__main__ import _dispatch

    lake = str(tmp_path / "lake")

    def poisoned(self):
        raise AssertionError("driver-side collect in the crawl --archive path")

    monkeypatch.setattr(cdf.DataFrame, "collect", poisoned)
    assert _dispatch(spark, _crawl_args(http_src, lake)) in (0, None)
    monkeypatch.undo()
    counters = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counters == {"files_total": 3, "added_or_updated": 3, "not_found": 0}
    assert _shards(lake) == {
        hashlib.sha1(b).hexdigest() for b in (b"payload x", b"payload y", b"")
    }


def test_second_http_crawl_archive_fetches_nothing(
    spark, tmp_path, http_src, monkeypatch, capsys
):
    """binaryFile lists no zero-length files, so the archived empty blob
    is found by its shard path; without that a re-run would fetch it on
    every command."""
    from ftm_datalake_spark.__main__ import _dispatch
    from ftm_datalake_spark.sources import http_store as hs

    lake = str(tmp_path / "lake")
    assert _dispatch(spark, _crawl_args(http_src, lake)) in (0, None)
    assert EMPTY_SHA1 in _shards(lake)

    fetched: list[str] = []
    real = hs.scan_http_store

    def spy(spark_, base_, keys=None, **kw):
        if keys is None or isinstance(keys, list):
            fetched.extend(keys or [])
        else:
            fetched.extend(r["key"] for r in keys.select("key").collect())
        return real(spark_, base_, keys, **kw)

    monkeypatch.setattr(hs, "scan_http_store", spy)
    capsys.readouterr()
    assert _dispatch(spark, _crawl_args(http_src, lake)) in (0, None)
    counters = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counters == {"files_total": 3, "added_or_updated": 0, "not_found": 0}
    assert fetched == []


def test_gc_collects_an_unreferenced_empty_blob(spark, tmp_path):
    from ftm_datalake_spark.__main__ import _dispatch
    from ftm_datalake_spark.pipelines.retention import forget_and_gc

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_bytes(b"kept")
    (src / "empty.txt").write_bytes(b"")
    lake = str(tmp_path / "lake")
    assert _dispatch(spark, _crawl_args(str(src), lake)) in (0, None)
    assert EMPTY_SHA1 in _shards(lake)

    audit = forget_and_gc(
        spark, lake, "ds", spark.createDataFrame([("empty.txt",)], "key string")
    )
    assert audit == {"rows_removed": 1, "blobs_collected": 1}
    assert _shards(lake) == {hashlib.sha1(b"kept").hexdigest()}


def test_archive_listing_raises_on_an_unreadable_lake(spark, tmp_path):
    from ftm_datalake_spark.pipelines.retention import orphan_blobs
    from ftm_datalake_spark.sources.archive import archived_blobs

    # a lake with no archive yet is an empty listing ...
    assert archived_blobs(spark, str(tmp_path / "nolake"), "ds").count() == 0
    # ... an unknown filesystem scheme is an outage, not an empty archive
    with pytest.raises(Exception, match="(?i)scheme"):
        archived_blobs(spark, "nosuchscheme://bucket/lake", "ds")
    with pytest.raises(Exception, match="(?i)scheme"):
        orphan_blobs(spark, "nosuchscheme://bucket/lake", "ds")


def test_s3_crawl_archive_lists_the_bucket_once(
    spark, tmp_path, monkeypatch, capsys
):
    boto3 = pytest.importorskip("boto3")
    pytest.importorskip("moto")
    from moto.server import ThreadedMotoServer

    from ftm_datalake_spark.__main__ import _dispatch
    from ftm_datalake_spark.sources import s3_store as ss

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://{host}:{port}"
        client = boto3.client(
            "s3", endpoint_url=endpoint, region_name="us-east-1",
            aws_access_key_id="t", aws_secret_access_key="t",
        )
        client.create_bucket(Bucket="once")
        for key, body in {"a.txt": b"alpha", "b/c.txt": b"nested", "e.txt": b""}.items():
            client.put_object(Bucket="once", Key=f"corp/{key}", Body=body)
        monkeypatch.setenv("FTM_DATALAKE_S3_KEY", "t")
        monkeypatch.setenv("FTM_DATALAKE_S3_SECRET", "t")

        calls = []
        real = ss.list_s3_objects

        def spy(*a, **kw):
            calls.append(a)
            return real(*a, **kw)

        monkeypatch.setattr(ss, "list_s3_objects", spy)
        lake = str(tmp_path / "lake")
        args = _crawl_args("s3://once/corp", lake, s3_endpoint=endpoint)
        for added in (3, 0):
            calls.clear()
            assert _dispatch(spark, args) in (0, None)
            counters = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            assert counters == {
                "files_total": 3, "added_or_updated": added, "not_found": 0
            }
            assert len(calls) == 1, calls
        assert _shards(lake) == {
            hashlib.sha1(b).hexdigest() for b in (b"alpha", b"nested", b"")
        }
    finally:
        server.stop()
