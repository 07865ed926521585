"""Parquet/CSV/JSON table readers for the lake layout.

Spark mappings of the reference's scan operators (SURVEY §2.1):
S3 csv scan (reference: ftm_datalake/archive/documents.py:45-50),
S4 json point read (reference: ftm_datalake/archive/dataset.py:43-45),
and the driver's synthetic parquet tables.

All readers take explicit schemas: inference costs a Spark job on every
read (a footer pass for parquet, a full pass over the data for CSV/JSON),
which is unacceptable at 100 TB and dominates short queries at bench scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ftm_datalake_spark.schemas import (
    DOCUMENTS_SCHEMA,
    TEST_TABLE_SCHEMAS,
    TEST_TABLES,
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided parquet table (TESTDATA.md) with its
    declared schema (``schemas.TEST_TABLE_SCHEMAS``), so the read runs no
    Spark job. ``events.ts`` is declared TIMESTAMP; see schemas.py for
    why that reads naive and zone-aware parquet timestamps alike."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(TEST_TABLE_SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TEST_TABLES}


def read_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    """S3: documents.csv scan with the fixed 6-column header.

    Reads BOTH interchange forms the sink writes
    (sources/sinks.write_documents_csv): the single headered file, and
    the large-table directory of headerless range-ordered parts (with
    its `_header` sidecar, which Spark's scan skips as a `_`-hidden
    file) — there, header=True would silently eat the first data row of
    every part.

    Reference: ftm_datalake/archive/documents.py:45-50 (pandas read_csv).
    The directory-form probe goes through the Hadoop FileSystem client
    (fsutil), so the scan resolves either form on any scheme — an
    ``os.path.isdir`` probe would misread every non-local URI as the
    single-file form and then eat the first row of each part as a
    header (VERDICT r9 #1).
    """
    from ftm_datalake_spark import fsutil

    directory_form = fsutil.is_dir(spark, path) and fsutil.exists(
        spark, path.rstrip("/") + "/_header"
    )
    return (
        spark.read.option("header", not directory_form)
        .schema(DOCUMENTS_SCHEMA)
        .csv(path)
    )


def scan_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """S1/S2: recursive file listing as a DataFrame.

    Reference: ftm_datalake/archive/dataset.py:62-69 (iter_keys) and
    crawl.py:55-62 (remote crawl scan). ``binaryFile`` yields
    (path, modificationTime, length, content); metadata-only pipelines
    should immediately drop ``content`` so the scan prunes it.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.option("recursiveFileLookup", "true").load(path)


def register_tables(
    spark: SparkSession, sf_dir: str, suffix: str = ""
) -> list[str]:
    """SQL surface: register every lake table as a temp view so users
    query with plain ``spark.sql(...)`` — the DuckDB-oracle parity then
    holds almost verbatim (same table names the oracles use). Views are
    lazy; Catalyst still sees the parquet scans, so pushdown/pruning are
    unaffected. Returns the registered view names."""
    names = []
    for name in TEST_TABLES:
        view = f"{name}{suffix}"
        load_table(spark, sf_dir, name).createOrReplaceTempView(view)
        names.append(view)
    return names
