"""The benchmark's workloads.

A workload generates its inputs from the seed, prepares them for the
package (the program-side part of set-up), runs one untimed warm pass
that also checks every output, and then runs timed passes. Each op of a
pass goes through ``ctx.run_op``, which times its phases (and traces
them in a traced run).
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import gen
from checks import describe_mismatch, fingerprint, oracle_fingerprints

# Five of the 16 registry queries bench.py times (bench=True): two TPC-H
# style aggregates and joins, the flagship statement aggregation, a
# window and an upsert. The other eleven are left out so that, within one
# run's time budget, every op gets warmed up and timed several times.
HEADLINE_OPS = (
    "docs_merge_upsert",
    "events_sessionize",
    "q1_pricing_summary",
    "q5_region_revenue",
    "statement_aggregation",
)
# One of the iterative registry queries the project names as its loops:
# its build runs a driver round trip and a localCheckpoint per round.
LOOP_OPS = ("graph_label_propagation",)
QUERY_SF = 0.005
LAKE_FILES = 200
LAKE_STATEMENTS = 40_000
LAKE_ENTITIES = 5_000
DATASET = "leak"


def _registry():
    from ftm_datalake_spark.plans import REGISTRY

    return REGISTRY


class QueryWorkload:
    """Registry queries over the generated query tables: builder call
    (build phase), then a noop-sink write (exec phase)."""

    # untimed passes after the checked one: op times still fall by a
    # third over the first three passes while the JIT compiles
    warm_passes = 1

    def __init__(self, ops: tuple[str, ...]):
        self.ops = ops
        self._oracle: dict = {}
        self._oracle_error = "no oracle result"
        self._thread: threading.Thread | None = None

    def generate(self, out_dir: str, seed: int) -> str:
        gen.write_query_tables(out_dir, seed, QUERY_SF)
        return gen.digest_dir(out_dir)

    def prepare(self, spark, inputs: str) -> None:
        """Load every table through the package's source layer."""
        from ftm_datalake_spark.schemas import TEST_TABLES
        from ftm_datalake_spark.sources.tables import load_table

        for name in TEST_TABLES:
            load_table(spark, inputs, name).schema  # noqa: B018 — resolves the scan

    def start_checks(self, inputs: str) -> None:
        """Compute the DuckDB oracle fingerprints in the background, while
        the (untimed) warm pass runs."""
        reg = _registry()
        sqls = {n: reg[n].oracle for n in self.ops}
        missing = [n for n, sql in sqls.items() if sql is None]
        if missing:
            raise ValueError(f"ops without an oracle: {missing}")

        def work():
            try:
                self._oracle = oracle_fingerprints(inputs, sqls)
            except Exception as exc:  # noqa: BLE001 — reported by warm()
                self._oracle_error = f"oracle failed: {type(exc).__name__}: {exc}"

        self._thread = threading.Thread(target=work, daemon=True)
        self._thread.start()

    def warm(self, spark, ctx, inputs: str) -> None:
        reg = _registry()
        results = {
            name: ctx.run_op(name, lambda phase, n=name: self._collect(spark, reg[n], inputs, phase))
            for name in self.ops
        }
        self._thread.join()
        for name, got in results.items():
            want = self._oracle.get(name)
            if want is None:
                ctx.fail(name, self._oracle_error)
            elif got is not None and got != want:
                ctx.fail(name, describe_mismatch(got, want))

    @staticmethod
    def _collect(spark, spec, inputs, phase):
        with phase("build"):
            df = spec.builder(spark, inputs)
        with phase("exec"):
            pdf = df.toPandas()
        return fingerprint(pdf)

    def run_pass(self, spark, ctx, inputs: str) -> None:
        # Always the same order: Spark keeps only the last 100 generated
        # classes, fewer than one pass makes, so an op's cost depends on
        # what ran before it; a fixed order makes every pass the same work.
        reg = _registry()
        for name in self.ops:
            ctx.run_op(name, lambda phase, n=name: self._execute(spark, reg[n], inputs, phase))

    @staticmethod
    def _execute(spark, spec, inputs, phase):
        with phase("build"):
            df = spec.builder(spark, inputs)
        with phase("exec"):
            df.write.format("noop").mode("overwrite").save()
        return df


class LakeWorkload:
    """One leak-update cycle of the dataflow: crawl a file store into the
    documents table, apply a leak update, re-crawl, check, repair,
    publish, then aggregate statements into entities and merge an
    increment into them."""

    ops = (
        "crawl_initial", "crawl_delta", "crawl_noop", "make", "repair",
        "publish", "aggregate", "merge",
    )
    warm_passes = 0

    def generate(self, out_dir: str, seed: int) -> str:
        self.plan = gen.plan_tree(seed, LAKE_FILES)
        gen.write_tree(os.path.join(out_dir, "initial"), self.plan["initial"])
        gen.write_tree(os.path.join(out_dir, "updated"), self.plan["updated"])
        self.truth = gen.write_statements(
            os.path.join(out_dir, "statements"), seed, LAKE_STATEMENTS, LAKE_ENTITIES
        )
        # the tree's mtimes are part of the input (crawl skips on them)
        return "/".join((
            gen.digest_dir(os.path.join(out_dir, "initial"), with_mtime=True),
            gen.digest_dir(os.path.join(out_dir, "updated"), with_mtime=True),
            gen.digest_dir(os.path.join(out_dir, "statements")),
        ))

    def prepare(self, spark, inputs: str) -> None:
        """Resolve the statement tables the cycle aggregates and merges."""
        for name in ("statements", "increment"):
            spark.read.parquet(os.path.join(inputs, "statements", f"{name}.parquet")).schema  # noqa: B018

    def start_checks(self, inputs: str) -> None:
        plan = self.plan
        n0, n1 = len(plan["initial"]), len(plan["updated"])
        self.expect = {
            "crawl_initial": {"files_total": n0, "added_or_updated": n0, "not_found": 0},
            "crawl_delta": {
                "files_total": n1,
                "added_or_updated": len(plan["rewritten"]) + len(plan["added"]),
                "not_found": 0,
            },
            "crawl_noop": {"files_total": n1, "added_or_updated": 0, "not_found": 0},
            # after the delta crawl the table still lists the deleted keys
            "make": {"ok": n1, "delete": len(plan["deleted"])},
        }
        self.expect["repair"] = self.expect["make"]
        self.changed_bytes = sum(
            plan["updated"][k][1] for k in plan["rewritten"] + plan["added"]
        )

    def warm(self, spark, ctx, inputs: str) -> None:
        self.run_pass(spark, ctx, inputs)
        self._check_merge_law(spark, ctx, inputs)

    def run_pass(self, spark, ctx, inputs: str) -> None:
        from ftm_datalake_spark.operators.statements import (
            aggregate_statements,
            merge_entity_increment,
        )
        from ftm_datalake_spark.pipelines import ingest
        from pyspark.sql import functions as F

        work = os.path.dirname(inputs)
        store, lake = os.path.join(work, "store"), os.path.join(work, "lake")
        stmts = os.path.join(inputs, "statements")
        # reset, outside every timed region
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(lake, ignore_errors=True)
        shutil.copytree(os.path.join(inputs, "initial"), store)

        def counters(op):
            return lambda got: None if got == self.expect[op] else f"counters {got} != {self.expect[op]}"

        def call(fn):
            def body(phase):
                with phase("call"):
                    return fn()
            return body

        ctx.run_op("crawl_initial", call(lambda: ingest.crawl(spark, store, DATASET, lake)),
                   counters("crawl_initial"))
        self._apply_update(inputs, store)
        ctx.run_op("crawl_delta", call(lambda: ingest.crawl(spark, store, DATASET, lake)),
                   counters("crawl_delta"))
        ctx.run_op("crawl_noop", call(lambda: ingest.crawl(spark, store, DATASET, lake)),
                   counters("crawl_noop"))

        def make(phase):
            with phase("build"):
                actions = ingest.make(spark, store, DATASET, lake)
            with phase("exec"):
                rows = actions.groupBy("action").count().collect()
            return {r["action"]: r["count"] for r in rows}

        ctx.run_op("make", make, counters("make"))
        ctx.run_op("repair", call(lambda: ingest.repair(spark, store, DATASET, lake)),
                   counters("repair"))
        ctx.run_op("publish", call(lambda: ingest.publish(spark, lake)),
                   lambda _: self._check_catalog(lake))

        entities = os.path.join(lake, "entities")
        merged = os.path.join(lake, "entities_merged")

        def aggregate(phase):
            with phase("build"):
                df = aggregate_statements(spark.read.parquet(os.path.join(stmts, "statements.parquet")))
            with phase("exec"):
                df.write.mode("overwrite").parquet(entities)

        def merge(phase):
            with phase("build"):
                df = merge_entity_increment(
                    spark.read.parquet(entities),
                    spark.read.parquet(os.path.join(stmts, "increment.parquet")),
                )
            with phase("exec"):
                df.write.mode("overwrite").parquet(merged)

        def rows(path, want):
            def check(_):
                got = spark.read.parquet(path).select(F.count("*")).first()[0]
                return None if got == want else f"{got} entities, expected {want}"
            return check

        ctx.run_op("aggregate", aggregate, rows(entities, self.truth["entities"]))
        ctx.run_op("merge", merge, rows(merged, self.truth["entities_merged"]))

    def _apply_update(self, inputs: str, store: str) -> None:
        for key in self.plan["deleted"]:
            os.remove(os.path.join(store, key))
        for key in self.plan["rewritten"] + self.plan["added"]:
            dst = os.path.join(store, key)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy2(os.path.join(inputs, "updated", key), dst)

    def _check_catalog(self, lake: str) -> str | None:
        with open(os.path.join(lake, "catalog.json")) as fh:
            entries = json.load(fh)["datasets"]
        want = gen.tree_truth(self.plan["updated"])
        got = {
            "file_count": entries[0].get("file_count"),
            "total_file_size": entries[0].get("total_file_size"),
        } if len(entries) == 1 else {"datasets": len(entries)}
        if got != want:
            return f"catalog {got} != {want}"
        if entries[0].get("entity_count") != want["file_count"]:
            return f"entity_count {entries[0].get('entity_count')} != {want['file_count']}"
        return None

    def _check_merge_law(self, spark, ctx, inputs: str) -> None:
        """merge(aggregate(A), B) == aggregate(A ∪ B), row for row."""
        from ftm_datalake_spark.operators.statements import aggregate_statements
        from pyspark.sql import functions as F

        stmts = os.path.join(inputs, "statements")
        lake = os.path.join(os.path.dirname(inputs), "lake")
        union = spark.read.parquet(
            os.path.join(stmts, "statements.parquet"), os.path.join(stmts, "increment.parquet")
        )

        def rows(df):
            """The entities as sorted, comparable tuples (a few thousand)."""
            return sorted(
                (r["id"], r["schema"], json.dumps(r["p"]), tuple(r["datasets"]))
                for r in df.select(
                    "id", "schema",
                    F.sort_array(F.map_entries("properties")).alias("p"), "datasets",
                ).collect()
            )

        try:
            want = rows(aggregate_statements(union))
            got = rows(spark.read.parquet(os.path.join(lake, "entities_merged")))
        except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
            ctx.fail("merge", f"merge law not checked: {type(exc).__name__}: {exc}")
            return
        if got != want:
            ctx.fail("merge", f"merge law broken: {len(got)} rows, expected {len(want)}, "
                              f"{len(set(got) ^ set(want))} differ")


WORKLOADS = {
    "queries": lambda: QueryWorkload(HEADLINE_OPS + LOOP_OPS),
    "lake_cycle": LakeWorkload,
}
