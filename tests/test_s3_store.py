"""S3 store backend e2e against a LIVE moto S3 server — the reference's
mocked-S3 crawl shape (tests/conftest.py:83-171). The sandbox grew
moto+boto3 in round 8, so the long-standing s3a waiver is upgraded to a
real protocol-level test: a ThreadedMotoServer speaks the actual S3
REST API over a socket, which matters here because the fetchers run in
Python WORKER processes (mapInPandas) that an in-process moto mock
would never patch.

Gates: listing parity, crawl parity vs the local-FS path (identical
key/checksum/size/mimetype), prefix scoping, glob pruning before any
GET, and the zero-refetch incremental contract."""

from __future__ import annotations

import pytest

boto3 = pytest.importorskip("boto3")
pytest.importorskip("moto")

FILES = {
    "a.txt": b"alpha",
    "b.csv": b"k,v\n1,2\n",
    "sub/nested.txt": b"nested bytes",
    "sub/deep/leaf.bin": bytes(range(256)) * 4,
    "space name.txt": b"with space",
}
BUCKET = "graft-test"


@pytest.fixture(scope="module")
def s3_store(tmp_path_factory):
    from moto.server import ThreadedMotoServer

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    conn = {
        "endpoint_url": f"http://{host}:{port}",
        "region_name": "us-east-1",
        "access_key": "testing",
        "secret_key": "testing",
    }
    client = boto3.client(
        "s3",
        endpoint_url=conn["endpoint_url"],
        region_name=conn["region_name"],
        aws_access_key_id=conn["access_key"],
        aws_secret_access_key=conn["secret_key"],
    )
    client.create_bucket(Bucket=BUCKET)
    for key, body in FILES.items():
        client.put_object(Bucket=BUCKET, Key=key, Body=body)
        client.put_object(Bucket=BUCKET, Key=f"scoped/{key}", Body=body)

    # the same corpus on local disk, for the parity gate
    root = tmp_path_factory.mktemp("s3src")
    for key, body in FILES.items():
        full = root / key
        full.parent.mkdir(parents=True, exist_ok=True)
        full.write_bytes(body)

    yield conn, client, str(root)
    server.stop()


def test_listing(s3_store):
    from ftm_datalake_spark.sources.s3_store import list_s3_objects

    conn, _client, _root = s3_store
    assert list_s3_objects(BUCKET, "", conn) == sorted(
        list(FILES) + [f"scoped/{k}" for k in FILES]
    )
    # prefix scoping returns RELATIVE keys
    assert list_s3_objects(BUCKET, "scoped", conn) == sorted(FILES)
    assert list_s3_objects(BUCKET, "scoped/sub", conn) == sorted(
        k[len("sub/"):] for k in FILES if k.startswith("sub/")
    )


def test_scan_streams_bytes_task_side(spark, s3_store):
    from ftm_datalake_spark.sources.s3_store import scan_s3_store

    conn, _client, _root = s3_store
    rows = {
        r["path"]: r
        for r in scan_s3_store(spark, BUCKET, prefix="scoped", conn=conn).collect()
    }
    assert len(rows) == len(FILES)
    for key, body in FILES.items():
        row = rows[f"s3://{BUCKET}/scoped/{key}"]
        assert bytes(row["content"]) == body
        assert row["length"] == len(body)
        assert row["modificationTime"] is not None


def test_s3_crawl_matches_local_crawl(spark, s3_store):
    """The parity gate: the same corpus crawled from S3 and from the
    local FS yields identical (key, content_hash, size, mimetype)."""
    from ftm_datalake_spark.pipelines.ingest import crawl_scan
    from ftm_datalake_spark.sources.s3_store import crawl_scan_s3

    conn, _client, root = s3_store
    cols = ["key", "content_hash", "size", "mimetype"]
    via_s3 = {
        tuple(r)
        for r in crawl_scan_s3(spark, BUCKET, "ds", prefix="scoped", conn=conn)
        .select(*cols)
        .collect()
    }
    via_local = {
        tuple(r) for r in crawl_scan(spark, root, "ds").select(*cols).collect()
    }
    assert via_s3 == via_local
    assert len(via_s3) == len(FILES)


def test_exclude_prunes_before_fetch(spark, s3_store, monkeypatch):
    from ftm_datalake_spark.sources import s3_store as ss

    conn, _client, _root = s3_store
    fetched: list[str] = []
    real = ss.scan_s3_store

    def spy(spark_, bucket_, keys=None, *a, **kw):
        fetched.extend(keys or [])
        return real(spark_, bucket_, keys, *a, **kw)

    monkeypatch.setattr(ss, "scan_s3_store", spy)
    out = ss.crawl_scan_s3(
        spark, BUCKET, "ds", prefix="scoped", exclude="sub/*", conn=conn
    )
    keys = {r["key"] for r in out.select("key").collect()}
    assert keys == {k for k in FILES if not k.startswith("sub/")}
    assert set(fetched) == keys

    # globs are start-anchored: 'deep/*' does not match 'sub/deep/leaf.bin'
    fetched.clear()
    out = ss.crawl_scan_s3(
        spark, BUCKET, "ds", prefix="scoped", include="deep/*", conn=conn
    )
    assert out.count() == 0
    assert fetched == []


def test_crawl_s3_full_pipeline_and_incremental(spark, tmp_path, s3_store):
    """crawl_s3 e2e: initial crawl lands every file in the documents
    table; an unchanged re-crawl fetches ZERO objects (key-based
    skip-existing); a new object fetches only itself."""
    from ftm_datalake_spark.pipelines.ingest import read_documents
    from ftm_datalake_spark.sources.s3_store import crawl_s3

    conn, client, _root = s3_store
    lake = str(tmp_path / "lake")

    stats = crawl_s3(spark, BUCKET, "ds", lake, prefix="scoped", conn=conn)
    assert stats == {"files_total": len(FILES), "added_or_updated": len(FILES), "not_found": 0}
    docs = read_documents(spark, lake, "ds")
    assert docs.count() == len(FILES)

    stats = crawl_s3(spark, BUCKET, "ds", lake, prefix="scoped", conn=conn)
    assert stats["added_or_updated"] == 0

    client.put_object(Bucket=BUCKET, Key="scoped/new.txt", Body=b"late arrival")
    stats = crawl_s3(spark, BUCKET, "ds", lake, prefix="scoped", conn=conn)
    assert stats == {"files_total": len(FILES) + 1, "added_or_updated": 1, "not_found": 0}
    assert read_documents(spark, lake, "ds").count() == len(FILES) + 1


def test_ranged_read(s3_store):
    from ftm_datalake_spark.sources.s3_store import read_s3_range

    conn, _client, _root = s3_store
    blob = FILES["sub/deep/leaf.bin"]
    assert read_s3_range(BUCKET, "sub/deep/leaf.bin", 100, 50, conn) == blob[100:150]
    assert read_s3_range(BUCKET, "a.txt", 0, 3, conn) == b"alp"


def test_crawl_cli_routes_s3_scheme(spark, tmp_path, s3_store, monkeypatch, capsys):
    """`crawl s3://bucket/prefix` routes through the S3 backend with the
    same counters contract, including the --archive blob pass."""
    import argparse
    import json
    import os

    from ftm_datalake_spark.__main__ import _dispatch

    conn, _client, _root = s3_store
    monkeypatch.setenv("FTM_DATALAKE_S3_KEY", conn["access_key"])
    monkeypatch.setenv("FTM_DATALAKE_S3_SECRET", conn["secret_key"])
    lake = str(tmp_path / "lake")
    ns = argparse.Namespace(
        cmd="crawl", source=f"s3://{BUCKET}/scoped", dataset="ds",
        lake=lake, include=None, exclude=None, archive=True,
        s3_endpoint=conn["endpoint_url"],
    )
    assert _dispatch(spark, ns) in (0, None)
    counters = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # expected count from a live listing: earlier tests in this module
    # may have added objects to the shared bucket
    from ftm_datalake_spark.sources.s3_store import list_s3_objects

    n = len(list_s3_objects(BUCKET, "scoped", conn))
    assert n >= len(FILES)
    assert counters == {"files_total": n, "added_or_updated": n, "not_found": 0}
    # blobs landed in the content-addressed archive
    import hashlib

    sha = hashlib.sha1(FILES["a.txt"]).hexdigest()
    assert os.path.exists(
        os.path.join(lake, "ds", "archive", sha[0:2], sha[2:4], sha[4:6], sha)
    )


def test_inventory_manifest_crawl_matches_listing_crawl(spark, tmp_path):
    """The law (VERDICT r8 #2): crawling from an S3 Inventory manifest
    DataFrame yields the exact same documents table as the
    ListObjectsV2 crawl — and the manifest path never collects keys to
    the driver (DataFrame.collect is poisoned for the duration)."""
    import pyspark.sql.classic.dataframe as cdf
    from moto.server import ThreadedMotoServer
    from pyspark.sql import DataFrame as SparkDF

    from ftm_datalake_spark.pipelines.ingest import read_documents
    from ftm_datalake_spark.sources.s3_store import (
        crawl_s3,
        read_s3_inventory,
    )

    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    try:
        host, port = server.get_host_and_port()
        conn = {
            "endpoint_url": f"http://{host}:{port}",
            "region_name": "us-east-1",
            "access_key": "t",
            "secret_key": "t",
        }
        client = boto3.client(
            "s3",
            endpoint_url=conn["endpoint_url"],
            region_name="us-east-1",
            aws_access_key_id="t",
            aws_secret_access_key="t",
        )
        client.create_bucket(Bucket="inv-bucket")
        for key, body in FILES.items():
            client.put_object(Bucket="inv-bucket", Key=f"corp/{key}", Body=body)

        # the Inventory manifest: one parquet of ABSOLUTE keys, as S3
        # Inventory delivers it (bucket-relative, prefix included)
        inv_dir = str(tmp_path / "inventory")
        spark.createDataFrame(
            [(f"corp/{k}",) for k in FILES] + [("corp/sub/",)],  # dir marker
            "key string",
        ).write.parquet(inv_dir)

        lake_listing = str(tmp_path / "lake_listing")
        lake_manifest = str(tmp_path / "lake_manifest")
        stats_listing = crawl_s3(
            spark, "inv-bucket", "ds", lake_listing, prefix="corp", conn=conn
        )

        inv_keys = read_s3_inventory(spark, inv_dir, prefix="corp")
        assert isinstance(inv_keys, SparkDF)
        # poison collect: the manifest crawl must be driver-collect-free.
        # A classic session's frames are cdf.DataFrame, which overrides
        # collect, so poisoning pyspark.sql.DataFrame would never fire.
        real_collect = cdf.DataFrame.collect
        cdf.DataFrame.collect = lambda self: (_ for _ in ()).throw(
            AssertionError("driver-side collect in the manifest crawl path")
        )
        try:
            stats_manifest = crawl_s3(
                spark,
                "inv-bucket",
                "ds",
                lake_manifest,
                prefix="corp",
                conn=conn,
                keys=inv_keys,
            )
        finally:
            cdf.DataFrame.collect = real_collect

        assert stats_manifest == stats_listing
        cols = ["key", "content_hash", "size", "mimetype"]
        a = {tuple(r) for r in read_documents(spark, lake_listing, "ds").select(*cols).collect()}
        b = {tuple(r) for r in read_documents(spark, lake_manifest, "ds").select(*cols).collect()}
        assert a == b and len(a) == len(FILES)

        # include/exclude prune in-plan on the manifest path too
        lake_glob = str(tmp_path / "lake_glob")
        stats_glob = crawl_s3(
            spark, "inv-bucket", "ds", lake_glob, prefix="corp", conn=conn,
            keys=read_s3_inventory(spark, inv_dir, prefix="corp"),
            exclude="sub/*",
        )
        got = {r["key"] for r in read_documents(spark, lake_glob, "ds").select("key").collect()}
        assert got == {k for k in FILES if not k.startswith("sub/")}
        assert stats_glob["files_total"] == len(got)
    finally:
        server.stop()


def test_deleted_between_list_and_fetch_skips_and_counts(spark, tmp_path, s3_store):
    """At 100 TB listings are always stale: an object deleted after the
    listing must not fail the crawl — it is skipped and surfaces in the
    not_found counter (reference memorious semantics, sync/memorious.py:
    29-33). VERDICT r8 #7."""
    import pytest as _pytest

    from ftm_datalake_spark.pipelines.ingest import read_documents
    from ftm_datalake_spark.sources.s3_store import crawl_s3, scan_s3_store

    conn, client, _root = s3_store
    client.put_object(Bucket=BUCKET, Key="stale/keep.txt", Body=b"keep")
    client.put_object(Bucket=BUCKET, Key="stale/gone.txt", Body=b"gone")
    lake = str(tmp_path / "lake")

    # a stale key source: gone.txt listed but deleted before the fetch
    stale_keys = ["keep.txt", "gone.txt"]
    client.delete_object(Bucket=BUCKET, Key="stale/gone.txt")

    stats = crawl_s3(
        spark, BUCKET, "ds", lake, prefix="stale", conn=conn, keys=stale_keys
    )
    assert stats == {"files_total": 2, "added_or_updated": 1, "not_found": 1}
    docs = read_documents(spark, lake, "ds")
    assert {r["key"] for r in docs.select("key").collect()} == {"keep.txt"}

    # the default scan policy stays loud
    with _pytest.raises(Exception):
        scan_s3_store(
            spark, BUCKET, keys=["gone.txt"], prefix="stale", conn=conn
        ).collect()
    # and the skip policy is explicit opt-in
    assert (
        scan_s3_store(
            spark, BUCKET, keys=["gone.txt"], prefix="stale", conn=conn,
            on_missing="skip",
        ).count()
        == 0
    )


def test_read_s3_inventory_csv_url_encoded(spark, tmp_path):
    """The Inventory CSV flavor: header CSV with URL-encoded keys —
    decoded, prefix-scoped/stripped, directory markers dropped."""
    from ftm_datalake_spark.sources.s3_store import read_s3_inventory

    inv = tmp_path / "inv.csv"
    inv.write_text(
        "bucket,key,size\n"
        "b,corp/a.txt,5\n"
        "b,corp/space%20name.txt,9\n"
        "b,corp/sub/,0\n"          # directory marker
        "b,other/skip.txt,3\n"     # outside the prefix
    )
    keys = read_s3_inventory(
        spark, str(inv), fmt="csv", prefix="corp", url_encoded=True
    )
    assert {r["key"] for r in keys.collect()} == {"a.txt", "space name.txt"}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_s3_inventory(spark, str(inv), fmt="orc")


# --------------------------------------------------------------- webdataset
def test_webdataset_shards_to_s3_matches_local_golden(spark, s3_store, tmp_path):
    """The s3:// dispatch of the WebDataset sink: executors PUT the
    tars task-side through boto3 (no driver bytes, no local-disk
    leak), manifest last as the commit record, digests equal to a
    local golden run of the same frame."""
    import hashlib
    import json as _json

    from pyspark.sql import functions as F

    from ftm_datalake_spark.sources.sinks import write_webdataset_shards

    conn, client, _root = s3_store
    docs = spark.range(70).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s3doc-"), F.col("id")).alias("text"),
    )
    m_s3 = write_webdataset_shards(
        docs.repartition(4),
        f"s3://{BUCKET}/exports/wds",
        shard_size=30,
        s3_conn=conn,
    )
    m_local = write_webdataset_shards(
        docs.repartition(2), str(tmp_path / "golden"), shard_size=30
    )
    assert [m["sha256"] for m in m_s3] == [m["sha256"] for m in m_local]
    assert [m["path"] for m in m_s3] == [
        f"s3://{BUCKET}/exports/wds/shard-{i:06d}.tar" for i in range(3)
    ]
    # objects really landed in the bucket with the manifest's digests
    for m in m_s3:
        key = m["path"].split(f"s3://{BUCKET}/")[1]
        body = client.get_object(Bucket=BUCKET, Key=key)["Body"].read()
        assert hashlib.sha256(body).hexdigest() == m["sha256"]
    manifest = _json.loads(
        client.get_object(Bucket=BUCKET, Key="exports/wds/manifest.json")[
            "Body"
        ].read()
    )
    assert manifest == m_s3


# ------------------------------------------------------------ blob archive
def test_archive_blobs_to_s3_sharded_layout(spark, s3_store, tmp_path):
    """VERDICT r10 missing #3: the S10 blob sink materializes the
    sharded archive/ layout on S3 — task-side HEAD/PUT/verify, listing
    shows the ab/cd/ef/<sha1> keys, read-back bytes checksum-equal,
    and a re-run is a pure HEAD pass (idempotent, zero re-uploads)."""
    import hashlib
    import os as _os

    from pyspark.sql import functions as F

    from ftm_datalake_spark.functions.checksum import content_checksum
    from ftm_datalake_spark.sources.archive import archive_blobs, open_blob
    from ftm_datalake_spark.sources.tables import scan_binary_files

    conn, client, _root = s3_store
    src = str(tmp_path / "blobsrc")
    _os.makedirs(src)
    payloads = {"one.bin": b"payload one", "two.bin": b"payload two!",
                "three.bin": bytes(range(256))}
    for name, content in payloads.items():
        open(_os.path.join(src, name), "wb").write(content)

    files = scan_binary_files(spark, src).select(
        "path", content_checksum(F.col("content")).alias("content_hash")
    )
    root = f"s3://{BUCKET}/lake"
    archive_blobs(files, root, "ds1", s3_conn=conn)
    archive_blobs(files, root, "ds1", s3_conn=conn)  # idempotent re-run

    listed = {
        o["Key"]
        for o in client.list_objects_v2(
            Bucket=BUCKET, Prefix="lake/ds1/archive/"
        )["Contents"]
    }
    for content in payloads.values():
        ch = hashlib.sha1(content).hexdigest()
        key = f"lake/ds1/archive/{ch[0:2]}/{ch[2:4]}/{ch[4:6]}/{ch}"
        assert key in listed
        body = client.get_object(Bucket=BUCKET, Key=key)["Body"].read()
        assert body == content
        assert hashlib.sha1(body).hexdigest() == ch
        # the serving-layer point read routes by scheme too
        assert open_blob(root, "ds1", ch, s3_conn=conn) == content
    assert len(listed) == len(payloads)


def test_archive_blob_bytes_to_s3(spark, s3_store):
    """The bytes-in-frame flavor (HTTP-crawled blobs with no local
    source path) lands the same layout."""
    import hashlib

    from ftm_datalake_spark.sources.archive import archive_blob_bytes, open_blob

    conn, client, _root = s3_store
    rows = [(b"alpha bytes",), (b"beta bytes",)]
    df = spark.createDataFrame(rows, "content binary").selectExpr(
        "content", "sha1(content) AS content_hash"
    )
    root = f"s3://{BUCKET}/lake2"
    archive_blob_bytes(df, root, "dsb", s3_conn=conn)
    for (content,) in rows:
        ch = hashlib.sha1(content).hexdigest()
        assert open_blob(root, "dsb", ch, s3_conn=conn) == content


def test_webdataset_s3_read_back_roundtrip(spark, s3_store):
    """Full s3 round-trip: shards written task-side are read back
    through the task-side GET scanner (no s3a jars needed) and every
    sample reconstructs."""
    from pyspark.sql import functions as F

    from ftm_datalake_spark.sources.sinks import (
        read_webdataset_shards,
        write_webdataset_shards,
    )

    conn, _client, _root = s3_store
    docs = spark.range(45).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("rt-"), F.col("id")).alias("text"),
    )
    write_webdataset_shards(
        docs, f"s3://{BUCKET}/exports/wds_rt", shard_size=20, s3_conn=conn
    )
    back = read_webdataset_shards(
        spark, f"s3://{BUCKET}/exports/wds_rt", s3_conn=conn
    )
    rows = back.where(F.col("member") == "txt").collect()
    assert len(rows) == 45
    assert {r["key"] for r in rows} == set(range(45))
    assert all(bytes(r["content"]) == f"rt-{r['key']}".encode() for r in rows)
