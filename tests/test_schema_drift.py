"""Declared schemas against the data they read.

``load_table`` and the lake's documents-table readers read with declared
schemas instead of inferring them (schemas.py), so a drift in what the
writers produce would no longer show as a changed dtype downstream. This
tripwire compares each declared schema with the one Spark infers from
the files: the test tables at every scale next to the test scale, and a
documents table freshly written by ``crawl``.
tests/test_schema_contract.py keeps pinning the dtypes queries rely on.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ftm_datalake_spark.schemas import DOCUMENTS_SCHEMA, TEST_TABLE_SCHEMAS, TEST_TABLES


def _fields(schema: T.StructType) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _scales(sf_dir: str) -> list[str]:
    """The test scale and every other scale next to it."""
    return sorted({sf_dir, *glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*"))})


@pytest.mark.parametrize("name", TEST_TABLES)
def test_declared_equals_inferred(spark, sf_dir, name):
    declared = _fields(TEST_TABLE_SCHEMAS[name])
    for sf in _scales(sf_dir):
        inferred = _fields(spark.read.parquet(os.path.join(sf, f"{name}.parquet")).schema)
        if name == "events":
            # the one declared normalization: naive ts is read as TIMESTAMP
            inferred = [(c, "timestamp" if c == "ts" else t) for c, t in inferred]
        assert declared == inferred, f"{sf}/{name}.parquet drifted"


def test_events_ts_values_survive_declared_read(spark, sf_dir):
    from ftm_datalake_spark.sources.tables import load_table

    for sf in _scales(sf_dir):
        declared = load_table(spark, sf, "events").select(
            "event_id", F.unix_micros("ts").alias("us")
        )
        inferred = spark.read.parquet(os.path.join(sf, "events.parquet")).select(
            "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
        )
        assert declared.exceptAll(inferred).isEmpty(), sf
        assert inferred.exceptAll(declared).isEmpty(), sf


def test_crawled_documents_table_matches_declared_schema(spark, tmp_path):
    from ftm_datalake_spark.pipelines.ingest import crawl, read_documents

    src, lake = tmp_path / "src", str(tmp_path / "lake")
    (src / "sub").mkdir(parents=True)
    (src / "a.txt").write_bytes(b"alpha")
    (src / "sub" / "b.pdf").write_bytes(b"%PDF-1.4 beta")
    crawl(spark, str(src), "ds1", lake)

    inferred = spark.read.parquet(os.path.join(lake, "documents")).schema
    assert _fields(inferred) == _fields(DOCUMENTS_SCHEMA)
    docs = read_documents(spark, lake, "ds1")
    assert _fields(docs.schema) == _fields(DOCUMENTS_SCHEMA)
    assert docs.count() == 2
