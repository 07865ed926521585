"""Property-based tests (hypothesis) for the merge semantics: the
latest-wins total order must be deterministic under any row order and
any partitioning — the reference relies on pandas stable sort here
(SURVEY §7.3 hard-part #1), our engine must not depend on input order."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings, strategies as st

KEYS = ["a", "b", "c"]
HASHES = ["h1", "h2", "h3", "h4"]
TIMES = [dt.datetime(2024, 1, d + 1) for d in range(3)]

row_strategy = st.tuples(
    st.sampled_from(KEYS), st.sampled_from(HASHES), st.sampled_from(TIMES)
)


def test_0_session_bootstrap(spark):
    """Runs first (definition order): materializes the session-scoped
    spark fixture so the @given test can use the active session (fixtures
    can't be injected under @given)."""
    assert spark.range(1).count() == 1


def _expected_latest(rows):
    best: dict[str, tuple] = {}
    for key, chash, ts in rows:
        cur = best.get(key)
        # total order: updated_at desc, content_hash desc
        if cur is None or (ts, chash) > (cur[2], cur[1]):
            best[key] = (key, chash, ts)
    return {k: (v[1], v[2]) for k, v in best.items()}


@settings(max_examples=15, deadline=None)
@given(st.lists(row_strategy, min_size=1, max_size=30), st.integers(1, 4))
def test_latest_wins_matches_model(rows, partitions):
    # session-scoped spark fixture isn't usable under @given; use active one
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    from ftm_datalake_spark.operators.documents import latest_wins

    df = spark.createDataFrame(
        rows, "key string, content_hash string, updated_at timestamp"
    ).repartition(partitions)
    got = {
        r["key"]: (r["content_hash"], r["updated_at"])
        for r in latest_wins(
            df, ["key"], "updated_at", tiebreak_cols=["content_hash"]
        ).collect()
    }
    assert got == _expected_latest(rows)


stmt_strategy = st.tuples(
    st.sampled_from(["e1", "e2", "e3"]),  # canonical_id
    st.sampled_from(["name", "country", "date"]),  # prop
    st.sampled_from(["v1", "v2", "v3", "v4"]),  # value
    st.sampled_from(["ds1", "ds2"]),  # dataset
)


def _expected_entities(rows):
    props: dict[str, dict[str, set]] = {}
    datasets: dict[str, set] = {}
    for cid, prop, value, ds in rows:
        props.setdefault(cid, {}).setdefault(prop, set()).add(value)
        datasets.setdefault(cid, set()).add(ds)
    return {
        cid: (
            {p: sorted(vs) for p, vs in sorted(by_prop.items())},
            sorted(datasets[cid]),
        )
        for cid, by_prop in props.items()
    }


@settings(max_examples=10, deadline=None)
@given(st.lists(stmt_strategy, min_size=1, max_size=40), st.integers(1, 4))
def test_statement_aggregation_matches_model(rows, partitions):
    """A6 must be input-order and partitioning invariant: value arrays
    sorted, datasets merged, independent of physical layout."""
    from pyspark.sql import SparkSession

    from ftm_datalake_spark.operators.statements import aggregate_statements

    spark = SparkSession.getActiveSession()
    df = spark.createDataFrame(
        [
            (f"s{i}", cid, cid, "Thing", prop, value, ds, "ingest", None, None)
            for i, (cid, prop, value, ds) in enumerate(rows)
        ],
        "id string, canonical_id string, entity_id string, schema string, "
        "prop string, value string, dataset string, origin string, "
        "first_seen timestamp, last_seen timestamp",
    ).repartition(partitions)
    got = {
        r["id"]: (
            {p: list(v) for p, v in sorted(r["properties"].items())},
            list(r["datasets"]),
        )
        for r in aggregate_statements(df).collect()
    }
    assert got == _expected_entities(rows)


@pytest.mark.usefixtures("spark")
@settings(max_examples=10, deadline=None)
@given(
    st.lists(stmt_strategy, min_size=1, max_size=40),
    st.integers(0, 40),
)
def test_incremental_merge_equals_full_aggregation(rows, split_at):
    """merge(aggregate(A), B) == aggregate(A ∪ B): the incremental path
    must be indistinguishable from a full re-aggregation."""
    from pyspark.sql import SparkSession

    from ftm_datalake_spark.operators.statements import (
        aggregate_statements,
        merge_entity_increment,
    )

    spark = SparkSession.getActiveSession()

    def mk(rs, offset):
        return spark.createDataFrame(
            [
                (f"s{offset + i}", cid, cid, "Thing", prop, value, ds,
                 "ingest", None, None)
                for i, (cid, prop, value, ds) in enumerate(rs)
            ],
            "id string, canonical_id string, entity_id string, schema string, "
            "prop string, value string, dataset string, origin string, "
            "first_seen timestamp, last_seen timestamp",
        )

    k = min(split_at, len(rows))
    old, new = rows[:k], rows[k:]
    full = aggregate_statements(mk(rows, 0))
    if not old:
        merged = aggregate_statements(mk(new, 0))
    elif not new:
        merged = aggregate_statements(mk(old, 0))
    else:
        merged = merge_entity_increment(
            aggregate_statements(mk(old, 0)), mk(new, 1000)
        )

    def canon(df):
        return {
            r["id"]: (
                r["schema"],
                {p: list(v) for p, v in sorted(r["properties"].items())},
                list(r["datasets"]),
            )
            for r in df.collect()
        }

    assert canon(merged) == canon(full)


def _two_aggregation_merge(current, added, deleted_keys):
    """The specification of merge_documents: latest-wins, then the
    first-seen created_at from a second aggregation joined back."""
    from pyspark.sql import functions as F

    from ftm_datalake_spark.operators.documents import latest_wins

    merged = current.unionByName(added)
    if deleted_keys is not None:
        merged = merged.join(F.broadcast(deleted_keys), "key", "left_anti")
    latest = latest_wins(merged, ["key"], "updated_at", tiebreak_cols=["content_hash"])
    first_seen = merged.groupBy("key").agg(F.min("created_at").alias("__first"))
    return (
        latest.join(first_seen, "key", "left")
        .withColumn("created_at", F.coalesce(F.col("__first"), F.col("created_at")))
        .drop("__first")
    )


@pytest.mark.parametrize("seed", range(8))
def test_merge_documents_equals_two_aggregation_spec(spark, seed):
    """One aggregation per upsert: the one-pass merge equals the
    two-aggregation formula on frames with duplicate keys, tied
    updated_at, tied content_hash and null created_at."""
    import random

    from ftm_datalake_spark.operators.documents import merge_documents
    from ftm_datalake_spark.schemas import DOCUMENTS_SCHEMA

    rng = random.Random(seed)

    def rows(n):
        return [
            (
                rng.choice(KEYS + ["d", "e"]),
                rng.choice(HASHES[:2]),  # few hashes: ties
                rng.choice([None, 1, 2, 3]),
                rng.choice(["text/plain", None]),
                rng.choice([None, *TIMES]),  # null created_at
                rng.choice(TIMES[:2]),  # few timestamps: ties
                "ds",
            )
            for _ in range(n)
        ]

    current = spark.createDataFrame(rows(rng.randint(0, 12)), DOCUMENTS_SCHEMA)
    added = spark.createDataFrame(rows(rng.randint(1, 12)), DOCUMENTS_SCHEMA)
    added = added.repartition(rng.randint(1, 4))
    deleted = (
        spark.createDataFrame([(k,) for k in rng.sample(KEYS, 1)], "key string")
        if seed % 2
        else None
    )
    got = merge_documents(current, added, deleted)
    want = _two_aggregation_merge(current, added, deleted)
    assert got.columns == want.columns
    assert sorted(got.collect()) == sorted(want.collect())
