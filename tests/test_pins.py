"""Laws of the one pin idiom.

Every pin in the package is ``df.localCheckpoint()``, Spark's eager
default: the pinned frame is computed and stored when the call returns.
A "lazy" pin (``eager=False``) already runs every shuffle stage below
it at the call under AQE, so the mode saved at most one job per site,
and a lazy pin read by concurrent consumers (a self-union) could
compute its last stage once per consumer before any block was stored.

- Law 1: a pin's upstream is computed once. A source whose rows pass
  through a Python UDF that bumps an accumulator feeds each iterative
  operator; after the operator's result is collected the accumulator
  equals the source row count. In local mode the block manager's write
  locks serialize two computes of one block on the single executor, so
  this law cannot show a cross-executor race; it guards against any pin
  that stops covering the upstream.
- Law 2 (static): no ``localCheckpoint`` call in the package takes an
  argument, and ``persist`` appears only at the scoped sites listed in
  ``PERSIST_SITES``, whose first count doubles as materialization.
- The multimodal id respread never yields fewer partitions than its
  input and runs no job at build.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.test_driver_jobs import _jobs

PACKAGE = Path(__file__).resolve().parent.parent / "ftm_datalake_spark"

# (module, enclosing function) of every persist() call: the crawl's
# listing and changed set, repair's source scan and the diff writer's
# two sides. Each is unpersisted in a finally block by the same function.
PERSIST_SITES = sorted(
    [
        ("pipelines/ingest.py", "crawl"),
        ("pipelines/ingest.py", "crawl"),
        ("pipelines/ingest.py", "repair"),
        ("sources/sinks.py", "write_documents_diff"),
        ("sources/sinks.py", "write_documents_diff"),
    ]
)

# a connected undirected graph, one row per direction (pagerank needs
# every node to have an out-edge): a 0-1-2-3-4 chain, a 5-6-7 triangle
# and a 4-5 bridge, plus two duplicate rows for the `distinct()` variant
_UNDIRECTED = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 5)]
EDGES = (
    _UNDIRECTED + [(b, a) for a, b in _UNDIRECTED] + [(1, 2), (6, 7)]
)


def _method_calls(name: str) -> list[tuple[str, str | None, ast.Call]]:
    """(module, enclosing function, call node) of every ``x.<name>(...)``
    call under the package."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == name
            ):
                found.append((module, fn, node))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(ast.parse(path.read_text(), str(path)), None)
    return found


def test_every_pin_is_the_eager_default():
    calls = _method_calls("localCheckpoint")
    assert len(calls) > 50  # the walk sees the package's pins
    with_args = [
        f"{module}:{call.lineno}"
        for module, _, call in calls
        if call.args or call.keywords
    ]
    assert with_args == [], f"localCheckpoint with an argument at {with_args}"


def test_persist_only_at_scoped_sites():
    sites = sorted((module, fn) for module, fn, _ in _method_calls("persist"))
    assert sites == PERSIST_SITES


def _counted_edges(spark, behind_distinct: bool):
    """(src, dst, w) edges whose every source row bumps the returned
    accumulator once per computation. The UDF is non-deterministic, as
    an upstream with side effects is: Catalyst would otherwise copy a
    deterministic UDF into the isnotnull filter it infers from a join
    on ``src`` and count every row twice in a single computation."""
    acc = spark.sparkContext.accumulator(0)

    def bump(v):
        acc.add(1)
        return v

    touch = F.udf(bump, "long").asNondeterministic()
    src = spark.createDataFrame(EDGES, "src long, dst long").repartition(3)
    df = src.select(touch("src").alias("src"), "dst")
    if behind_distinct:
        df = df.distinct()
    return df.withColumn("w", F.lit(1).cast("long")), acc


def _cc(edges):
    from ftm_datalake_spark.operators.components import connected_components

    return connected_components(edges, "src", "dst")


def _cc_star(edges):
    from ftm_datalake_spark.operators.components import (
        connected_components_star,
    )

    return connected_components_star(edges, "src", "dst")


def _lpa(edges):
    from ftm_datalake_spark.operators.labelprop import label_propagation

    return label_propagation(edges)


def _pagerank(edges):
    from ftm_datalake_spark.operators.pagerank import pagerank_fixed

    return pagerank_fixed(edges, iterations=3)


def _sssp(edges):
    from ftm_datalake_spark.operators.sssp import bellman_ford

    return bellman_ford(edges, seed=0)


OPERATORS = {
    "connected_components": _cc,
    "connected_components_star": _cc_star,
    "label_propagation": _lpa,
    "pagerank_fixed": _pagerank,
    "bellman_ford": _sssp,
}


@pytest.mark.parametrize("behind_distinct", [False, True], ids=["narrow", "distinct"])
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_pin_upstream_computed_once(spark, op, behind_distinct):
    edges, acc = _counted_edges(spark, behind_distinct)
    rows = OPERATORS[op](edges).collect()
    assert rows  # the operator ran to a result
    assert acc.value == len(EDGES)


@pytest.mark.parametrize("factor", [0.5, 3])
def test_spread_ids_keeps_width_and_runs_no_job(spark, factor):
    from ftm_datalake_spark.plans.multimodal_ops import _spread_ids

    width = max(1, int(spark.sparkContext.defaultParallelism * factor))
    docs = spark.range(0, 400, numPartitions=width).withColumnRenamed("id", "doc_id")
    out = []
    assert _jobs(spark, lambda: out.append(_spread_ids(spark, docs))) == []
    assert out[0].rdd.getNumPartitions() >= width
    assert out[0].count() == 400
