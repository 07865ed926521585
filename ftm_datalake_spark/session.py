"""SparkSession builders tuned for the datalake workload.

Defaults are chosen for a multi-executor cluster reading ~100 TB of
dataset-partitioned parquet, but work unchanged on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts.
- Arrow on: every pandas_udf / mapInPandas stage moves batches, not rows.
- Shuffle partitions default to 2x cores locally; on a real cluster AQE
  coalesces from a deliberately high initial number instead.
- Generated code is cached for the whole session: Spark's default cache
  holds 100 compiled classes, but one pass of the benchmark's query
  workload compiles about 140 and one lake cycle about 170, so with the
  default every repeat of a query recompiled all of them.
  1000 entries hold several such passes. Peak RSS (driver JVM plus
  client, 1 GB heap, local[4]) measured flat against the default: median
  2006 → 1971 MB on the query workload, 1817 → 1812 MB on the lake cycle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def build_session(
    app_name: str = "ftm-datalake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: coalesce post-shuffle partitions, split skewed joins, convert
        # sort-merge joins to broadcast at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas interchange (pandas_udf, mapInPandas, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Stable timestamp semantics regardless of host zone.
        .config("spark.sql.session.timeZone", "UTC")
        # 128 MB scan splits keep task counts sane at 100 TB while still
        # giving local[32] enough parallelism at bench scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Generated-code cache sized for the session (module docstring).
        # Static conf: only takes effect when this call starts the context.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def get_session() -> SparkSession:
    """Return the active session or build a default one."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()


def release_pinned_blocks(spark: SparkSession) -> int:
    """Unpersist every pinned RDD (localCheckpoint blocks and stray
    persists) and return how many were released.

    localCheckpoint blocks are cleaned by the ContextCleaner only when
    the JVM garbage-collects the RDD object — with a large mostly-idle
    driver heap that can lag hundreds of queries behind (measured in
    r14: a 281-query session accumulated pinned blocks until storage
    eviction slowed late queries 10-20×, while short sessions were
    flat; an explicit System.gc() did not reclaim them). Calling this
    BETWEEN queries makes the release deterministic. Never call it
    while a query whose plan contains a checkpoint is still to be
    consumed — between independent queries each build re-materializes
    its own checkpoints, so the call is safe there by construction.
    """
    released = 0
    # py4j exposes the java.util.Map as a dict-like JavaMap
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
        released += 1
    return released
