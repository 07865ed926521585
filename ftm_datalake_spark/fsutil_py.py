"""Pure-Python twin of fsutil's small-artifact helpers (VERDICT r12
next-round #3): metadata IO — manifests, pointer files, generation
listings — without the JVM FS gateway.

The reference's storage layer is fsspec-uniform for metadata exactly
like for data (/root/reference/ftm_datalake/archive/base.py:25-29); the
r12 task-side FS tier (sources/archive.py) gave SHARD BYTES that
uniformity, but the streaming WebDataset manifest and the pointer-CDC
pointer still round-tripped through the driver's JVM FileSystem client,
so a pure-s3 deployment without s3a jars could not host them. This
module closes that: the same read/write/list/exists/delete surface as
fsutil, dispatched per scheme to clients that need no JVM —

- no scheme / ``file://`` — plain ``os`` calls, ``os.replace`` for the
  atomic write (what fsutil's local tier already does);
- ``s3://`` — boto3 with the plain-dict ``s3_conn`` the task-side
  tiers use (sources/s3_store._client); a single non-multipart PUT is
  atomic on S3, and the upload is ETag-verified;
- any other scheme ``pyarrow.fs.FileSystem.from_uri`` resolves (gs://,
  hdfs:// with libhdfs, ...) — atomic-on-close writes on object
  stores, stage+move on filesystem-likes (the archive tier's rule);
- anything else (viewfs://, mount-table schemes) — fall through to the
  JVM-backed fsutil, which is then REQUIRED to resolve it (pass the
  SparkSession; ``spark=None`` raises for these schemes instead of
  degrading).

Atomicity/fallback semantics mirror fsutil: ``write_bytes_atomic``
never leaves zero complete copies, and ``read_bytes_with_fallback``
recovers the ``.__bak__`` an interrupted JVM-tier swap leaves (the
pure tiers replace in one operation, so their readers never need it,
but a lake previously managed through fsutil stays readable).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from ftm_datalake_spark import fsutil


def pyarrow_fs_for(uri: str):
    """(pyarrow FileSystem, in-fs path) for URIs pyarrow resolves
    WITHOUT a JVM (gs://, hdfs:// with libhdfs, ...), else None — the
    one probe shared by this module's generic tier and the task-side
    writers (sources/archive.py, sources/sinks.py). pyarrow FileSystem
    objects pickle, so a resolved client can cross the task boundary
    inside a foreachPartition closure."""
    try:
        import pyarrow.fs as pafs

        return pafs.FileSystem.from_uri(uri)
    except Exception:
        return None


def _s3_parts(uri: str) -> tuple[str, str]:
    parsed = urlparse(uri)
    return parsed.netloc, parsed.path.lstrip("/")


def _s3_client(s3_conn: dict | None):
    from ftm_datalake_spark.sources.s3_store import _client, _require_boto3

    _require_boto3()
    return _client(dict(s3_conn or {}))


def _tier(uri: str):
    scheme = urlparse(uri).scheme
    if scheme in ("", "file"):
        return ("local", fsutil.strip_file_scheme(uri))
    if scheme == "s3":
        return ("s3", None)
    resolved = pyarrow_fs_for(uri)
    if resolved is not None:
        return ("pafs", resolved)
    return ("jvm", None)


def _require_spark(spark, uri: str):
    if spark is None:
        raise ValueError(
            f"scheme of {uri!r} needs the JVM FileSystem client — pass a "
            "SparkSession (pure-Python tiers cover file://, s3://, and "
            "pyarrow-resolvable schemes)"
        )
    return spark


def exists(spark, uri: str, s3_conn: dict | None = None) -> bool:
    kind, handle = _tier(uri)
    if kind == "local":
        return os.path.exists(handle)
    if kind == "s3":
        bucket, key = _s3_parts(uri)
        client = _s3_client(s3_conn)
        try:
            client.head_object(Bucket=bucket, Key=key)
            return True
        except Exception:
            # a "directory" on s3 is a key prefix with children
            res = client.list_objects_v2(
                Bucket=bucket, Prefix=key.rstrip("/") + "/", MaxKeys=1
            )
            return bool(res.get("KeyCount"))
    if kind == "pafs":
        from pyarrow.fs import FileType

        fs, path = handle
        return fs.get_file_info(path).type != FileType.NotFound
    return fsutil.exists(_require_spark(spark, uri), uri)


def read_bytes(spark, uri: str, s3_conn: dict | None = None) -> bytes:
    kind, handle = _tier(uri)
    if kind == "local":
        with open(handle, "rb") as fh:
            return fh.read()
    if kind == "s3":
        bucket, key = _s3_parts(uri)
        res = _s3_client(s3_conn).get_object(Bucket=bucket, Key=key)
        return res["Body"].read()
    if kind == "pafs":
        fs, path = handle
        with fs.open_input_stream(path) as stream:
            return stream.read()
    return fsutil.read_bytes(_require_spark(spark, uri), uri)


def read_bytes_with_fallback(
    spark, uri: str, s3_conn: dict | None = None
) -> bytes:
    """Read ``uri``, recovering ``uri.__bak__`` if a JVM-tier atomic
    swap was interrupted between its renames. The pure tiers publish
    in a single replace and never create the window, but honoring the
    fallback keeps a previously JVM-managed artifact readable."""
    if not exists(spark, uri, s3_conn) and exists(
        spark, uri + ".__bak__", s3_conn
    ):
        return read_bytes(spark, uri + ".__bak__", s3_conn)
    return read_bytes(spark, uri, s3_conn)


def write_bytes_atomic(
    spark, uri: str, payload: bytes, s3_conn: dict | None = None
) -> None:
    """Crash-safe replace: at no instant does a reader see a truncated
    artifact. Local: ``os.replace``. s3: one ETag-verified PUT (atomic
    by the store's semantics). pyarrow: atomic-on-close for object
    stores, stage+move for filesystem-likes. JVM fallback: fsutil's
    stage/bak swap."""
    kind, handle = _tier(uri)
    if kind == "local":
        os.makedirs(os.path.dirname(handle) or ".", exist_ok=True)
        tmp = handle + ".__stage__"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        os.replace(tmp, handle)
        return
    if kind == "s3":
        from ftm_datalake_spark.sources.archive import _s3_put_verified

        bucket, key = _s3_parts(uri)
        _s3_put_verified(_s3_client(s3_conn), bucket, key, payload)
        return
    if kind == "pafs":
        from ftm_datalake_spark.sources.archive import _task_fs_put

        fs, path = handle
        _task_fs_put(fs, path, payload)
        return
    fsutil.write_bytes_atomic(_require_spark(spark, uri), uri, payload)


def list_names(spark, uri: str, s3_conn: dict | None = None) -> list[str]:
    """Sorted immediate child names (files and directories); [] when
    the path does not exist — same contract as fsutil.list_names."""
    kind, handle = _tier(uri)
    if kind == "local":
        if not os.path.isdir(handle):
            return []
        return sorted(os.listdir(handle))
    if kind == "s3":
        bucket, key = _s3_parts(uri)
        prefix = key.rstrip("/") + "/" if key else ""
        client = _s3_client(s3_conn)
        names: set[str] = set()
        token = None
        while True:
            kwargs = dict(Bucket=bucket, Prefix=prefix, Delimiter="/")
            if token:
                kwargs["ContinuationToken"] = token
            res = client.list_objects_v2(**kwargs)
            for item in res.get("Contents", []) or []:
                tail = item["Key"][len(prefix):]
                if tail:
                    names.add(tail)
            for cp in res.get("CommonPrefixes", []) or []:
                names.add(cp["Prefix"][len(prefix):].rstrip("/"))
            if not res.get("IsTruncated"):
                break
            token = res.get("NextContinuationToken")
        return sorted(names)
    if kind == "pafs":
        from pyarrow.fs import FileSelector, FileType

        fs, path = handle
        if fs.get_file_info(path).type == FileType.NotFound:
            return []
        infos = fs.get_file_info(
            FileSelector(path, recursive=False, allow_not_found=True)
        )
        return sorted(info.base_name for info in infos)
    return fsutil.list_names(_require_spark(spark, uri), uri)


def delete(
    spark, uri: str, recursive: bool = True, s3_conn: dict | None = None
) -> bool:
    """Delete a file or (recursively) a directory/prefix; False if it
    was already gone."""
    kind, handle = _tier(uri)
    if kind == "local":
        import shutil

        if os.path.isdir(handle):
            if not recursive:
                os.rmdir(handle)
            else:
                shutil.rmtree(handle)
            return True
        if os.path.exists(handle):
            os.remove(handle)
            return True
        return False
    if kind == "s3":
        bucket, key = _s3_parts(uri)
        client = _s3_client(s3_conn)
        deleted = False
        try:
            client.head_object(Bucket=bucket, Key=key)
            client.delete_object(Bucket=bucket, Key=key)
            deleted = True
        except Exception:
            pass
        if recursive:
            prefix = key.rstrip("/") + "/"
            token = None
            while True:
                kwargs = dict(Bucket=bucket, Prefix=prefix)
                if token:
                    kwargs["ContinuationToken"] = token
                res = client.list_objects_v2(**kwargs)
                keys = [
                    {"Key": item["Key"]}
                    for item in res.get("Contents", []) or []
                ]
                if keys:
                    client.delete_objects(
                        Bucket=bucket, Delete={"Objects": keys}
                    )
                    deleted = True
                if not res.get("IsTruncated"):
                    break
                token = res.get("NextContinuationToken")
        return deleted
    if kind == "pafs":
        from pyarrow.fs import FileType

        fs, path = handle
        info = fs.get_file_info(path)
        if info.type == FileType.NotFound:
            return False
        if info.type == FileType.Directory:
            fs.delete_dir(path)
        else:
            fs.delete_file(path)
        return True
    return fsutil.delete(_require_spark(spark, uri), uri, recursive)
