"""Work laws for the local crawl: each piece of work happens once.

- A crawl with nothing changed writes nothing: the documents table's
  part files keep their names and mtimes, and no stage writes output.
- A first crawl reads the source with one bulk content scan. It never
  hands binaryFile a path list longer than
  ``parallelPartitionDiscovery.threshold`` (32), which would re-list
  every file in a job with one task per path.
- A lake with no documents table reads as a typed empty frame the
  optimizer can see is empty: reading it runs no job, and the
  skip-existing anti-join against it runs no job for the empty side.
- Per-crawl job counts stay at or below those measured at the
  lake benchmark's shape (200 files, then 14 changed, then none):
  9 for the first crawl, 10 for a delta crawl, 7 for a no-op crawl.

Jobs are counted with ``tests/test_driver_jobs._jobs``: the call runs
under its own job group and the status tracker lists the group's jobs.
"""

from __future__ import annotations

import os

import pytest

from tests.test_driver_jobs import _jobs

N_FILES = 40  # more than parallelPartitionDiscovery.threshold (32)
T0 = 1_700_000_000  # fixed mtimes keep the skip-existing join deterministic

# job counts per crawl at the lake benchmark's shape
MAX_JOBS = {"initial": 9, "delta": 10, "noop": 7}


def _stages(spark, job_ids):
    """Status-store records of every stage the jobs ran."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tracker = spark.sparkContext.statusTracker()
    return [
        store.lastStageAttempt(sid)
        for j in job_ids
        for sid in tracker.getJobInfo(j).stageIds
    ]


def _write(path: str, data: bytes, mtime: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)
    os.utime(path, (mtime, mtime))


def _make_store(root: str) -> None:
    for i in range(N_FILES - 1):
        _write(os.path.join(root, f"d{i % 4}", f"f{i}.txt"), b"x" * (i + 1), T0 + i)
    _write(os.path.join(root, "empty.txt"), b"", T0)  # zero-length member


def _update_store(root: str) -> None:
    """A small leak update: 3 rewritten files and 1 new one."""
    for i in (1, 5, 9):
        _write(os.path.join(root, f"d{i % 4}", f"f{i}.txt"), b"y" * (i + 2), T0 + 10_000)
    _write(os.path.join(root, "new", "g.txt"), b"new", T0 + 10_000)


def _part_files(lake: str) -> dict[str, int]:
    """Every file under documents/ with its mtime in ns."""
    out = {}
    for root, _dirs, names in os.walk(os.path.join(lake, "documents")):
        for name in names:
            full = os.path.join(root, name)
            out[os.path.relpath(full, lake)] = os.stat(full).st_mtime_ns
    return out


def _crawl(spark, src, lake):
    from ftm_datalake_spark.pipelines.ingest import crawl

    got = {}
    jobs = _jobs(spark, lambda: got.update(crawl(spark, src, "ds", lake)))
    return got, jobs


@pytest.fixture
def store(tmp_path):
    src = str(tmp_path / "src")
    _make_store(src)
    return src, str(tmp_path / "lake")


def test_stage_meter_sees_writes(spark, tmp_path):
    # without this, a broken meter would pass the no-write law below
    jobs = _jobs(spark, lambda: spark.range(10).write.parquet(str(tmp_path / "o")))
    assert any(s.outputRecords() > 0 for s in _stages(spark, jobs))


def test_noop_crawl_writes_nothing(spark, store):
    src, lake = store
    _crawl(spark, src, lake)
    before = _part_files(lake)
    assert any(name.endswith(".parquet") for name in before)

    got, jobs = _crawl(spark, src, lake)
    assert got == {"files_total": N_FILES, "added_or_updated": 0, "not_found": 0}
    assert _part_files(lake) == before
    written = [
        (s.stageId(), s.outputRecords(), s.outputBytes())
        for s in _stages(spark, jobs)
        if s.outputRecords() or s.outputBytes()
    ]
    assert written == []


def test_first_crawl_runs_no_per_path_listing(spark, store):
    src, lake = store
    got, jobs = _crawl(spark, src, lake)
    assert got == {"files_total": N_FILES, "added_or_updated": N_FILES, "not_found": 0}
    tasks = [s.numTasks() for s in _stages(spark, jobs)]
    assert max(tasks) < N_FILES - 1, tasks


def test_absent_table_reads_empty_with_no_job(spark, tmp_path):
    from ftm_datalake_spark.pipelines.ingest import read_documents
    from ftm_datalake_spark.schemas import DOCUMENTS_SCHEMA

    lake = str(tmp_path / "no-lake")
    frames = []
    assert _jobs(spark, lambda: frames.append(read_documents(spark, lake, "ds"))) == []
    (df,) = frames
    assert df.schema == DOCUMENTS_SCHEMA
    assert df.collect() == []


def test_first_crawl_runs_no_job_for_the_empty_side(spark, store):
    from ftm_datalake_spark.pipelines.ingest import crawl_listing, read_documents

    src, lake = store
    listing = crawl_listing(spark, src)
    current = read_documents(spark, lake, "ds").select("key", "size", "updated_at")
    anti = listing.join(current, ["key", "size", "updated_at"], "left_anti")
    # the optimizer folds the join away: the plan is the listing alone
    assert "Join" not in anti._jdf.queryExecution().optimizedPlan().toString()
    assert len(_jobs(spark, anti.count)) == len(_jobs(spark, listing.count))


def test_read_error_other_than_missing_table_propagates(spark):
    from ftm_datalake_spark.pipelines.ingest import read_documents

    # an unknown filesystem scheme fails the listing, not the lookup:
    # it must not read as an empty table
    with pytest.raises(Exception, match="(?i)scheme"):
        read_documents(spark, "nosuchscheme://bucket/lake", "ds")


def test_crawl_job_counts(spark, store):
    src, lake = store
    counts = {}
    got, jobs = _crawl(spark, src, lake)
    counts["initial"] = len(jobs)
    _update_store(src)
    got, jobs = _crawl(spark, src, lake)
    assert got == {"files_total": N_FILES + 1, "added_or_updated": 4, "not_found": 0}
    counts["delta"] = len(jobs)
    got, jobs = _crawl(spark, src, lake)
    assert got["added_or_updated"] == 0
    counts["noop"] = len(jobs)
    assert all(counts[k] <= MAX_JOBS[k] for k in MAX_JOBS), counts
