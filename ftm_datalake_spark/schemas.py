"""Explicit StructTypes for the lake tables (SURVEY.md §1.2, FIXTURES.md).

The reference keeps row-oriented JSON/CSV with pydantic validation
(reference: ftm_datalake/model.py:55-118); here every table gets a fixed
columnar schema so scans prune columns and push predicates into parquet.
All tables are partitionable by ``dataset``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# documents.csv columns (reference: ftm_datalake/archive/documents.py:1-6,32)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("size", T.LongType(), True),
        T.StructField("mimetype", T.StringType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("dataset", T.StringType(), True),
    ]
)

# info.json / File model (reference: ftm_datalake/model.py:55-91)
FILE_INFO_SCHEMA = T.StructType(
    DOCUMENTS_SCHEMA.fields
    + [
        T.StructField("processed", T.TimestampType(), True),
        T.StructField("origin", T.StringType(), True),  # 'original'|'converted'
        T.StructField("source_file", T.StringType(), True),
        T.StructField("store", T.StringType(), True),
        T.StructField("extra", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# FTM entity proxy rows (reference: ftm_datalake/model.py:37-52)
ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("schema", T.StringType(), False),
        T.StructField(
            "properties",
            T.MapType(T.StringType(), T.ArrayType(T.StringType())),
            True,
        ),
        T.StructField("dataset", T.StringType(), True),
    ]
)

# Statement fragments, long format (reference: docs/rfc.md:63-73)
STATEMENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("canonical_id", T.StringType(), False),
        T.StructField("entity_id", T.StringType(), True),
        T.StructField("schema", T.StringType(), True),
        T.StructField("prop", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("dataset", T.StringType(), True),
        T.StructField("origin", T.StringType(), True),
        T.StructField("first_seen", T.TimestampType(), True),
        T.StructField("last_seen", T.TimestampType(), True),
    ]
)

# Task-ledger cache (reference: ftm_datalake/archive/cache.py:11-23)
TASK_LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("cache_key", T.StringType(), False),
        T.StructField("completed_at", T.TimestampType(), True),
    ]
)

# Per-dataset stats index.json (reference: ftm_datalake/archive/dataset.py:177-196)
DATASET_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("entity_count", T.LongType(), True),
        T.StructField("total_file_size", T.LongType(), True),
        T.StructField(
            "things",
            T.StructType(
                [
                    T.StructField("total", T.LongType(), True),
                    T.StructField(
                        "schemata",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("name", T.StringType(), True),
                                    T.StructField("count", T.LongType(), True),
                                    T.StructField("label", T.StringType(), True),
                                    T.StructField("plural", T.StringType(), True),
                                ]
                            )
                        ),
                        True,
                    ),
                ]
            ),
            True,
        ),
    ]
)


_I, _L, _D, _S = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_NTZ, _TS = T.TimestampNTZType(), T.TimestampType()


def _columns(*cols: tuple[str, T.DataType]) -> T.StructType:
    # all nullable: a parquet scan reports every column nullable anyway
    return T.StructType([T.StructField(n, t, True) for n, t in cols])


# Driver-provided synthetic test tables (TESTDATA.md), declared so a scan
# needs no footer-inference job. ``o_orderdate``/``l_shipdate`` stay
# TIMESTAMP_NTZ (the parquet physical type; only compared and truncated).
# ``events.ts`` is declared TIMESTAMP, which unix_micros call sites need:
# Spark reads the naive ``timestamp[us]`` test data into it as UTC wall
# time (the same values as an NTZ read cast under the session's pinned UTC
# zone, and DuckDB's naive ``epoch_us``) and zone-aware data unchanged.
# tests/test_schema_drift.py checks these against the inferred schemas.
TEST_TABLE_SCHEMAS = {
    "region": _columns(("r_regionkey", _I), ("r_name", _S)),
    "nation": _columns(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _columns(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
        ("c_acctbal", _D), ("c_mktsegment", _S),
    ),
    "supplier": _columns(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D)
    ),
    "part": _columns(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
    "orders": _columns(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _NTZ), ("o_orderpriority", _S),
    ),
    "lineitem": _columns(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
        ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
        ("l_linestatus", _S), ("l_shipdate", _NTZ),
    ),
    "events": _columns(
        ("event_id", _L), ("ts", _TS), ("user_id", _L), ("event_type", _S),
        ("value", _D), ("props", _S),
    ),
    "documents": _columns(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L)
    ),
    "embeddings": _columns(
        ("vec_id", _L), ("embedding", T.ArrayType(T.FloatType(), True)), ("label", _I)
    ),
}
TEST_TABLES = tuple(TEST_TABLE_SCHEMAS)
