from __future__ import annotations

import os

import pytest

TESTDATA_SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ftm_datalake_spark.session import build_session

    import tempfile

    s = build_session(
        app_name="ftm-datalake-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
            # Stage meters (tests/test_crawl_work.py) read stage records
            # back from the status store. Past retainedStages (default
            # 1000) each cleanup evicts skipped stages first, including
            # those of the job that just ran, so keep the whole session.
            "spark.ui.retainedStages": "1000000",
            # keep saveAsTable output out of the repo cwd
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TESTDATA_SF
