#!/usr/bin/env python3
"""Benchmark driver for ftm_datalake_spark.

    python3 lakebench/run.py --workload <queries|lake_cycle> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs from the
seed under ``.lakebench_work/`` (removed again at the end), sets the
session up three times, runs one untimed warm pass that checks every
output and then the workload's further untimed warm passes, and times
passes for ``--seconds``. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics).
Progress goes to stderr. See README.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
# timed passes at least, so that a traced run has traced and untraced
# samples of every op
MIN_PASSES = 2
# Driver heap, fixed at start (-Xms = -Xmx): a heap that grows on demand
# made peak RSS bimodal across runs (1.3 or 1.6 GB for the same inputs).
HEAP = "1g"


def log(msg: str) -> None:
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


class Ctx:
    """Runs ops, times their phases and keeps the samples of the timed
    window. In a traced run, each op's samples alternate between traced
    and untraced, so the run can also report the tracing overhead; half
    of the ops start traced, so neither side gets all first-pass samples."""

    def __init__(self, spark, tracer, ops: tuple[str, ...]):
        self.spark = spark
        self.tracer = tracer
        self.first_traced = set(ops[::2])
        self.traced = False
        self.measuring = False
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[dict]] = defaultdict(list)

    def fail(self, op: str, problem: str) -> None:
        self.failed += 1
        self.errors.append(f"{op}: {problem}"[:400])
        log(f"FAILED {op}: {problem}"[:400])

    def run_op(self, name, body, check=None):
        from ftm_datalake_spark.session import release_pinned_blocks

        from collector import python_nodes

        if self.measuring and self.tracer is not None:
            self.traced = (len(self.samples[name]) % 2 == 0) == (name in self.first_traced)
        tracer = self.tracer if self.traced else None
        phases: dict[str, float] = {}

        @contextmanager
        def phase(label):
            t = time.perf_counter()
            if tracer is None:
                yield
            else:
                with tracer.phase(name, label):
                    yield
            phases[label] = time.perf_counter() - t

        self.attempted += 1
        result, problem, extra = None, None, {}
        try:
            compiled = tracer.codegen_compiles() if tracer is not None else 0
            t0 = time.perf_counter()
            result = body(phase)
            latency = time.perf_counter() - t0
            # everything below is outside the timed region
            if tracer is not None:
                extra["codegen"] = tracer.codegen_compiles() - compiled
                extra["stages"] = tracer.collect()
                extra["pinned_rdds"], extra["pinned_mb"] = tracer.pins()
                if hasattr(result, "_jdf"):
                    extra["python_nodes"] = python_nodes(result)
            if check is not None:
                problem = check(result)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            problem = f"{type(exc).__name__}: {exc}"
        finally:
            if tracer is not None:
                tracer.open = []
            release_pinned_blocks(self.spark)
        if problem:
            self.fail(name, problem)
            return None
        if self.measuring:
            self.samples[name].append(
                {"latency": latency, "phases": phases, "traced": self.traced, **extra}
            )
        return result


def make_session(work: str, cores: int):
    from ftm_datalake_spark.session import build_session

    spark = build_session(
        app_name="lakebench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def median_by_op(ctx: Ctx, traced: bool | None, value) -> dict[str, float]:
    """Per op: the median of ``value(sample)`` over the op's samples
    (only traced or only untraced ones, when asked)."""
    out = {}
    for op, samples in ctx.samples.items():
        vals = [value(s) for s in samples if traced is None or s["traced"] == traced]
        if vals:
            out[op] = statistics.median(vals)
    return out


def end_to_end(ctx: Ctx, setup: list[float], jvm_pid: int) -> dict:
    """End-to-end metrics of the untraced run. An op's time is its
    fastest sample: contention from other tenants of the host only ever
    adds time, in bursts of a few seconds that slow a single-threaded
    loop by up to half, so the fastest sample is the one that tracks the
    program rather than the host."""
    lat = {
        op: min(s["latency"] for s in samples)
        for op, samples in ctx.samples.items()
    }
    return {
        "setup_s": {"value": statistics.median(setup), "unit": "s"},
        "pass_s": {"value": sum(lat.values()), "unit": "s"},
        "op_geomean_s": {
            "value": math.exp(statistics.fmean(math.log(v) for v in lat.values())),
            "unit": "s",
        },
        "peak_rss_mb": {"value": peak_rss(jvm_pid), "unit": "MB"},
    }


def peak_rss(jvm_pid: int) -> float:
    from collector import vm_hwm_mb

    return vm_hwm_mb(jvm_pid) + vm_hwm_mb()


def per_layer(ctx: Ctx, cores: int, session_s: list[float], sources: list[dict],
              lake: dict | None) -> dict:
    """Per-layer metrics of one typical pass: for every metric, the median
    over an op's traced samples, summed over the ops it applies to. Ops
    of the other workload have no samples, so their layers sum to 0."""
    if not any(s["traced"] for ss in ctx.samples.values() for s in ss):
        raise RuntimeError("the timed window holds no traced sample")

    def total(value, ops=None) -> float:
        per_op = median_by_op(ctx, True, value)
        return sum(v for op, v in per_op.items() if ops is None or op in ops)

    def wall(phase=None):
        return lambda s: s["phases"].get(phase, 0.0) if phase else s["latency"]

    def stage(key, phase=None):
        """A stage metric of one phase, or of all phases of the op."""
        return lambda s: sum(
            m.get(key, 0.0) for p, m in s["stages"].items() if phase in (None, p)
        )

    plans = None if lake is None else ()  # registry queries: the query workload only
    pipes = ("crawl_initial", "crawl_delta", "crawl_noop", "make", "repair", "publish")
    statements = ("aggregate", "merge")
    m: dict[str, tuple[float, str]] = {
        "session.build_s": (statistics.median(session_s), "s"),
        "sources.load_s": (statistics.median(s["wall"] for s in sources), "s"),
        "sources.load_jobs": (statistics.median(s["jobs"] for s in sources), "count"),
    }

    build_s, exec_s = total(wall("build"), plans), total(wall("exec"), plans)
    m["plans.build_s"] = (build_s, "s")
    m["plans.build_jobs"] = (total(stage("jobs", "build"), plans), "count")
    m["plans.build_run_s"] = (total(stage("run_s", "build"), plans), "s")
    m["plans.exec_s"] = (exec_s, "s")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("run_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                      ("spill_mb", "MB"), ("input_mb", "MB")):
        m[f"plans.exec_{key}"] = (total(stage(key, "exec"), plans), unit)
    busy = total(stage("run_s"), plans)
    m["plans.slot_idle_frac"] = (
        1.0 - busy / ((build_s + exec_s) * cores) if build_s + exec_s else 0.0, "ratio")

    m["operators.pinned_rdds"] = (total(lambda s: s["pinned_rdds"]), "count")
    m["operators.pinned_mb"] = (total(lambda s: s["pinned_mb"]), "MB")
    m["operators.python_stages"] = (total(lambda s: s.get("python_nodes", 0)), "count")
    m["plans.codegen_compiles"] = (total(lambda s: s["codegen"]), "count")

    agg_s, merge_s = total(wall(), ("aggregate",)), total(wall(), ("merge",))
    m["operators.statements.aggregate_s"] = (agg_s, "s")
    m["operators.statements.merge_s"] = (merge_s, "s")
    m["operators.statements.shuffle_write_mb"] = (total(stage("shuffle_write_mb"), statements), "MB")
    m["operators.statements.spill_mb"] = (total(stage("spill_mb"), statements), "MB")
    m["operators.statements.rows_per_s"] = (
        lake["statement_rows"] / (agg_s + merge_s) if lake else 0.0, "1/s")

    for op in pipes:
        m[f"pipelines.{op}_s"] = (total(wall(), (op,)), "s")
    m["pipelines.crawl_initial_jobs"] = (total(stage("jobs"), ("crawl_initial",)), "count")
    m["pipelines.crawl_delta_jobs"] = (total(stage("jobs"), ("crawl_delta",)), "count")
    delta_read_mb = total(stage("input_mb"), ("crawl_delta",))
    m["pipelines.crawl_delta_read_ratio"] = (
        delta_read_mb / (lake["changed_bytes"] / 2**20) if lake else 0.0, "ratio")
    m["pipelines.lake_files"] = (lake["lake_files"] if lake else 0, "count")
    m["pipelines.crawl_files_per_s"] = (
        lake["files"] / m["pipelines.crawl_initial_s"][0] if lake else 0.0, "1/s")
    m["pipelines.refresh_s"] = (
        sum(m[f"pipelines.{op}_s"][0] for op in ("crawl_delta", "make", "publish")), "s")

    traced, untraced = median_by_op(ctx, True, wall()), median_by_op(ctx, False, wall())
    both = traced.keys() & untraced.keys()
    m["trace.overhead_frac"] = (
        sum(traced[op] for op in both) / sum(untraced[op] for op in both) - 1.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def count_files(root: str) -> int:
    return sum(len(files) for _, _, files in os.walk(root))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import ftm_datalake_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package under test from {ROOT}: {exc}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload]()
    cores = os.cpu_count() or 4
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    spark = None
    try:
        # --- set-up, several times: session, inputs, source tables -------
        setup, session_s, sources, digests = [], [], [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = make_session(work, cores)
            session_s.append(time.perf_counter() - t0)
            inputs = os.path.join(work, f"inputs{rep}")
            digests.append(wl.generate(inputs, args.seed))
            tracer = None
            if args.trace:
                from collector import Tracer

                tracer = Tracer(spark)
            t1 = time.perf_counter()
            if tracer is None:
                wl.prepare(spark, inputs)
            else:
                with tracer.phase("sources", "load"):
                    wl.prepare(spark, inputs)
            wall = time.perf_counter() - t1
            setup.append(time.perf_counter() - t0)
            if tracer is not None:
                sources.append({"wall": wall, "jobs": tracer.collect()["load"]["jobs"]})
            if rep:
                shutil.rmtree(inputs)
        inputs = os.path.join(work, "inputs0")
        log(f"setup {[round(s, 3) for s in setup]}")
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        ctx = Ctx(spark, tracer, wl.ops)
        if len(set(digests)) != 1:
            ctx.fail("generate", f"same seed gave different inputs: {digests}")

        # --- untimed warm pass, with every output check ------------------
        wl.start_checks(inputs)
        t0 = time.perf_counter()
        wl.warm(spark, ctx, inputs)
        log(f"warm pass {time.perf_counter() - t0:.2f}s")
        for _ in range(wl.warm_passes):
            t0 = time.perf_counter()
            wl.run_pass(spark, ctx, inputs)
            log(f"warm pass {time.perf_counter() - t0:.2f}s")

        # --- timed window -------------------------------------------------
        ctx.measuring = True
        passes, t0 = 0, time.perf_counter()
        while passes < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            t1 = time.perf_counter()
            wl.run_pass(spark, ctx, inputs)
            passes += 1
            log(f"timed pass {time.perf_counter() - t1:.2f}s")
        log(f"{passes} passes in {time.perf_counter() - t0:.2f}s")
        for op, samples in ctx.samples.items():
            log(f"{op} " + " ".join(f"{s['latency']:.3f}" for s in samples))
        missing = [op for op in wl.ops if op not in ctx.samples]
        if missing:
            ctx.fail("window", f"no timed sample for {missing}")

        if args.trace:
            lake = None
            if args.workload == "lake_cycle":
                lake = {
                    "statement_rows": wl.truth["rows"] + wl.truth["increment_rows"],
                    "changed_bytes": wl.changed_bytes,
                    "files": len(wl.plan["initial"]),
                    "lake_files": count_files(os.path.join(work, "lake")),
                }
            metrics = per_layer(ctx, cores, session_s, sources, lake)
        else:
            metrics = end_to_end(ctx, setup, jvm_pid)
        for err in ctx.errors:
            log(err)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
