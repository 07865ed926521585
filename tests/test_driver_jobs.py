"""Driver fixed costs a query pays before it executes.

Two laws over what the driver does on its own, outside any query's
execution:

- Reading a table the package owns runs no Spark job: every test table
  is loaded with a declared schema, so there is no footer-inference
  job, and the registry builders of the headline read queries run no
  job at build time either.
- Generated code is compiled once per session: running the same
  registry queries a second time compiles no new class. A codegen cache
  smaller than one round of these queries, or generated code that
  differs between two builds of the same plan, fails here.

Jobs are counted the way an outside observer sees them: the call runs
under its own job group and the status tracker lists the group's jobs.
"""

from __future__ import annotations

import uuid

import pytest

from ftm_datalake_spark.schemas import TEST_TABLES

# bench=True registry queries whose builders only compose a plan
BUILD_ONLY = (
    "docs_merge_upsert",
    "events_sessionize",
    "q1_pricing_summary",
    "q5_region_revenue",
    "statement_aggregation",
)
# the same queries plus a loop that pins one frame per round
REUSED = BUILD_ONLY + ("graph_label_propagation",)


def _jobs(spark, call) -> list[int]:
    """Ids of the Spark jobs ``call()`` runs."""
    sc = spark.sparkContext
    group = f"driver-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        call()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _compiles(spark) -> int:
    """Generated classes compiled so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_job_meter_sees_jobs(spark):
    # without this, a broken meter would pass every law below
    assert len(_jobs(spark, lambda: spark.range(10).count())) >= 1


@pytest.mark.parametrize("name", TEST_TABLES)
def test_load_table_runs_no_job(spark, sf_dir, name):
    from ftm_datalake_spark.sources.tables import load_table

    assert _jobs(spark, lambda: load_table(spark, sf_dir, name).schema) == []


@pytest.mark.parametrize("name", BUILD_ONLY)
def test_builder_runs_no_job(spark, sf_dir, name):
    from ftm_datalake_spark.plans import REGISTRY

    assert _jobs(spark, lambda: REGISTRY[name].builder(spark, sf_dir)) == []


def test_second_round_compiles_nothing(spark, sf_dir):
    from ftm_datalake_spark.plans import REGISTRY
    from ftm_datalake_spark.session import release_pinned_blocks

    def one_round():
        for name in REUSED:
            df = REGISTRY[name].builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            release_pinned_blocks(spark)

    # meter check: a literal no earlier plan used forces a new class
    before = _compiles(spark)
    spark.range(3).selectExpr("id * 7919 + 104729 AS x").collect()
    assert _compiles(spark) > before

    one_round()
    before = _compiles(spark)
    one_round()
    assert _compiles(spark) - before == 0
