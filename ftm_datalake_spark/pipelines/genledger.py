"""Generation ledgers: mergeable incremental state as a base plus one
delta generation per fold, with crash-safe compaction between folds.

Three artifacts keep their state this way — the training export's
segment ledger (``segledger/``) and signature ledger (``sigledger/``)
and the classifier store's token-count ledger (``tokledger/``). This
module is the only code that knows their on-disk layout and commit
rule:

    <root>/<subdir>/gen=base/        full build (partitionBy write;
                                     committed by the ledger root's
                                     _SUCCESS)
    <root>/<subdir>/gen=<delta_id>/  one direct write per folded delta
                                     (committed by its own _SUCCESS)
    <root>/<subdir>/part-*.parquet   legacy flat layout, read as base

Crash calculus (law-tested in tests/test_gen_ledger.py):

1. *A generation exists iff its write committed.* Only committed
   generations are read, merged, compacted or counted; a crashed
   append's partial files are invisible until its re-delivery
   overwrites them, so partial rows are never served, never folded
   into base ahead of the re-delivery, and never double-counted.
2. *Re-delivery lands a delta at most once.* :func:`delta_gen_id`
   names the generation after the delta's doc-id set; appending a
   generation that is already committed is a no-op.
3. *Compaction can crash at any instruction without losing state.*
   The merged ledger is staged to a sibling directory and swapped in
   by :func:`fsutil.replace_dir`; every entry point first runs
   :func:`fsutil.heal_dir`, which completes a swap that crashed
   between its two renames.

The IVF index (operators/ann_index.py) is not a generation ledger: it
swaps whole index directories and compacts by cluster partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark import fsutil

_GEN = "gen="


def delta_gen_id(delta_docs: DataFrame) -> str:
    """Deterministic, order-independent identity of a delta batch:
    row count + xor of per-doc_id 64-bit hashes (one 1-row aggregate,
    O(|delta|) compute, O(1) driver). doc_id is the document identity —
    the corpus contract is append-only (content updates arrive under
    new ids; existing docs never move shards) — so the id set IS the
    delta's identity, and a re-delivered batch maps to the same
    generation however it is partitioned or ordered. Hashed over the
    DISTINCT ids: under xor a doc_id repeated twice would cancel out,
    letting two different deltas alias (e.g. {1,1,3} vs {2,2,3}) —
    distinct-first removes that structural collision, and matches the
    fold's semantics (a doc_id is processed at most once)."""
    row = (
        delta_docs.select("doc_id")
        .distinct()
        .select(F.xxhash64(F.col("doc_id").cast("string")).alias("h"))
        .agg(F.count("*").alias("n"), F.bit_xor("h").alias("x"))
        .first()
    )
    x = (row["x"] or 0) & 0xFFFFFFFFFFFFFFFF
    return f"{int(row['n'])}x{x:016x}"


class GenLedger:
    """One generation-ledger artifact: the ledger directory ``subdir``
    under a caller's root, its declared row ``schema`` (a DDL string —
    reads never infer, so an empty or all-uncommitted ledger is still a
    typed frame), and the key columns ``sum_by`` whose rows merge by
    summing every other column. ``sum_by=None`` declares rows disjoint
    across generations: reads are a plain union and compaction a plain
    rewrite."""

    def __init__(
        self, subdir: str, schema: str, sum_by: tuple[str, ...] | None
    ):
        self.subdir = subdir
        self.schema = schema
        self.sum_by = sum_by

    def path(self, root: str) -> str:
        return os.path.join(root, self.subdir)

    def _healed(self, spark: SparkSession, root: str) -> str:
        return fsutil.heal_dir(spark, self.path(root))

    def _gen_dir(self, spark: SparkSession, root: str, gen_id: str) -> str:
        return os.path.join(self._healed(spark, root), _GEN + gen_id)

    def _scan(
        self, spark: SparkSession, root: str
    ) -> tuple[list[str], list[str]]:
        """``(read_paths, uncommitted_gen_ids)``. A ``gen=`` directory
        is committed iff it carries its own ``_SUCCESS`` — except
        ``gen=base``, whose ``partitionBy`` write commits at the ledger
        root, so the root's ``_SUCCESS`` also vouches for it. Legacy
        flat part files predate the marker protocol and always read."""
        ledger = self._healed(spark, root).rstrip("/")
        fs, path, _ = fsutil.hadoop_fs(spark, ledger)
        if not fs.exists(path):
            return [], []
        root_success = fsutil.exists(spark, ledger + "/_SUCCESS")
        paths: list[str] = []
        uncommitted: list[str] = []
        for status in fs.listStatus(path):
            name = status.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            child = ledger + "/" + name
            if status.isDirectory() and name.startswith(_GEN):
                if fsutil.dir_committed(spark, child) or (
                    name == _GEN + "base"
                    and root_success
                    and fsutil.dir_has_data(spark, child)
                ):
                    paths.append(child)
                else:
                    uncommitted.append(name[len(_GEN):])
            elif status.isDirectory() or name.endswith(".parquet"):
                paths.append(child)
        return paths, uncommitted

    def present(self, spark: SparkSession, root: str) -> bool:
        """True iff the ledger directory holds any generation, committed
        or not — whether this root has a ledger at all."""
        return fsutil.dir_has_data(spark, self._healed(spark, root))

    def uncommitted(self, spark: SparkSession, root: str) -> list[str]:
        """Ids of crashed generations whose re-delivery is outstanding
        — do not compact while this is non-empty."""
        return self._scan(spark, root)[1]

    def read_raw(self, spark: SparkSession, root: str) -> DataFrame:
        """Every committed generation's rows, unmerged."""
        paths = self._scan(spark, root)[0]
        if not paths:
            return spark.createDataFrame([], self.schema)
        return (
            spark.read.schema(self.schema)
            .option("recursiveFileLookup", "true")
            .parquet(*paths)
        )

    def read(self, spark: SparkSession, root: str) -> DataFrame:
        """The canonical view: committed rows merged on ``sum_by``."""
        raw = self.read_raw(spark, root)
        if self.sum_by is None:
            return raw
        values = [c for c in raw.columns if c not in self.sum_by]
        return raw.groupBy(*self.sum_by).agg(
            *[F.sum(c).cast("long").alias(c) for c in values]
        )

    def read_tagged(self, spark: SparkSession, root: str) -> DataFrame:
        """Committed rows plus ``file`` (the part file) and ``gen`` (its
        generation id; legacy flat files count as ``base``)."""
        gen = F.regexp_extract("file", _GEN + "([^/]+)", 1)
        return (
            self.read_raw(spark, root)
            .withColumn("file", F.input_file_name())
            .withColumn("gen", F.when(gen == "", F.lit("base")).otherwise(gen))
        )

    def committed(self, spark: SparkSession, root: str, gen_id: str) -> bool:
        """True iff generation ``gen_id`` carries its own ``_SUCCESS``."""
        return fsutil.dir_committed(spark, self._gen_dir(spark, root, gen_id))

    def read_gen(
        self, spark: SparkSession, root: str, gen_id: str
    ) -> DataFrame | None:
        """One generation's rows, or None when it is not committed."""
        gen_dir = self._gen_dir(spark, root, gen_id)
        if not fsutil.dir_committed(spark, gen_dir):
            return None
        return spark.read.schema(self.schema).parquet(gen_dir)

    def _write_base_at(self, path: str, df: DataFrame) -> None:
        (
            df.withColumn("gen", F.lit("base"))
            .write.mode("overwrite")
            .partitionBy("gen")
            .parquet(path)
        )

    def write_base(
        self, spark: SparkSession, root: str, df: DataFrame
    ) -> None:
        """Replace the whole ledger with ``df`` as its only generation."""
        self._write_base_at(self.path(root), df)

    def append(
        self, spark: SparkSession, root: str, gen_id: str, df: DataFrame
    ) -> bool:
        """Write ``df`` as generation ``gen_id``; returns True when the
        write was skipped because that generation is already committed.
        The generation is a DIRECT write into its own directory, so it
        carries its own ``_SUCCESS``: a generation whose job commit
        crashed half-renamed reads as uncommitted and is overwritten
        here, never skipped (a skip would be a silent undercount).
        Callers whose ``df`` costs work to build can ask :meth:`committed`
        first and build nothing for a re-delivery."""
        if self.committed(spark, root, gen_id):
            return True
        df.write.mode("overwrite").parquet(self._gen_dir(spark, root, gen_id))
        return False

    def compact(self, spark: SparkSession, root: str) -> int:
        """Fold every committed generation into one ``gen=base`` and
        return its row count; :meth:`read` is unchanged. Run between
        folds: an uncommitted generation is not merged, and the swap
        discards its partial files, so its re-delivery lands in full
        exactly once. The merged rows are pinned, staged to a sibling
        directory and swapped in — a truncating overwrite of the live
        ledger would have a window where a crash loses every
        generation."""
        merged = self.read(spark, root).localCheckpoint()
        ledger = self.path(root).rstrip("/")
        staged = ledger + ".__new__"
        fsutil.delete(spark, staged)
        self._write_base_at(staged, merged)
        fsutil.replace_dir(spark, ledger, staged)
        return merged.count()
