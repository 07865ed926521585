"""Traced-run collector.

Measures each layer from outside the package: every phase of an op
(registry builder, its execution, one pipeline call) runs under its own
Spark job group, and after the op, outside the timed region, the
collector reads what those jobs did. Job ids come from the status
tracker; run time, CPU, GC, shuffle, spill and input bytes come from the
application status store, which Spark keeps even with the UI disabled.
Spans stay in memory; the run reports them once, at the end.
"""

from __future__ import annotations

import itertools
import re
from contextlib import contextmanager

_MB = 1024.0 * 1024.0
# physical operators that run Python code inside a stage
_PYTHON_NODE = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow|"
    r"AggregateInPandas|WindowInPandas|BatchEvalPythonUDTF|ArrowEvalPythonUDTF|"
    r"PythonMapInArrow|FlatMapGroupsInPandasWithState)"
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc
        self._store = self._jsc.sc().statusStore()
        self._ids = itertools.count()
        self.open: list[tuple[str, str]] = []  # (phase, group) of the current op

    @contextmanager
    def phase(self, op: str, phase: str):
        group = f"lakebench-{next(self._ids)}"
        self.sc.setJobGroup(group, f"{op}:{phase}", False)
        try:
            yield
        finally:
            self._jsc.clearJobGroup()
            self.open.append((phase, group))

    def collect(self) -> dict[str, dict[str, float]]:
        """Stage metrics per phase of the op just finished. Waits for the
        listener bus so the status store holds every finished stage."""
        self._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        out: dict[str, dict[str, float]] = {}
        for phase, group in self.open:
            m = dict.fromkeys(
                ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                 "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"),
                0.0,
            )
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                m["jobs"] += 1
                for stage_id in info.stageIds:
                    sd = self._store.lastStageAttempt(stage_id)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    m["stages"] += 1
                    m["tasks"] += sd.numCompleteTasks()
                    m["run_s"] += sd.executorRunTime() / 1e3
                    m["cpu_s"] += sd.executorCpuTime() / 1e9
                    m["gc_s"] += sd.jvmGcTime() / 1e3
                    m["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
                    m["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                    m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
                    m["input_mb"] += sd.inputBytes() / _MB
            out[phase] = m
        self.open = []
        return out

    def codegen_compiles(self) -> int:
        """Generated classes Spark has compiled so far (a JVM-wide count;
        Spark caches only the last 100, so a class can compile again)."""
        metrics = self.sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def pins(self) -> tuple[int, float]:
        """Pinned RDDs (persist / localCheckpoint) and their size in MB."""
        n = len(self._jsc.getPersistentRDDs())
        size = sum(i.memSize() + i.diskSize() for i in self._jsc.sc().getRDDStorageInfo())
        return n, size / _MB


def python_nodes(df) -> int:
    """Python-evaluating operators in a DataFrame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_PYTHON_NODE.findall(plan))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
