"""Documents-table merge semantics — the reference's beating heart.

Reference (ftm_datalake/archive/documents.py:82-117)::

    new = pd.concat((current, added))                      # UNION ALL   (J1)
    new = new[~new["key"].isin(deleted["key"])]            # ANTI JOIN   (J2)
    new = new.sort_values(["key","updated_at"])            # latest-wins (J3/W1)
             .drop_duplicates(subset=["key"], keep="last")

Spark-first design:
- J1 is ``unionByName``.
- J2 is a broadcast left-anti join (the deletion set is always small
  relative to the table; hint it so no shuffle of the big side).
- J3 is one ``groupBy(key)`` with ``max_by`` — one shuffle on the key, which
  at 100 TB is the unavoidable upsert shuffle; the first-archived
  ``created_at`` (a ``min``) rides in the same aggregation. The reference
  relies on pandas stable sort for ties; we define a total order with
  explicit tiebreakers (updated_at desc, content_hash desc) so the merge
  is deterministic under equal timestamps (SURVEY §7.3 hard-part #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_wins(df: DataFrame, key_cols: list[str], order_col: str = "updated_at",
                tiebreak_cols: list[str] | None = None) -> DataFrame:
    """J3/W1: keep the newest row per key, deterministically.

    r14 (guide §2.3 "aggregate before you shuffle"): groupBy + max_by
    replaces the row_number window. The window shuffled EVERY row to the
    key's reducer and sorted it there; max_by keeps one candidate row
    per key per map task (partial aggregation), so the exchange moves
    ~|keys| rows instead of |input| and the per-key sort disappears —
    the difference between shuffling a 100 TB upsert and shuffling its
    key set. Winner identical: max over the (order, tiebreaks) struct
    picks the same row as row_number()=1 under desc_nulls_last ordering
    (struct comparison ranks null fields lowest, so null order values
    lose exactly as before; the struct itself is never null, so max_by
    never skips a row)."""
    return _latest_wins(df, key_cols, order_col, tiebreak_cols or [], {})


def _latest_wins(df: DataFrame, key_cols: list[str], order_col: str,
                 tiebreak_cols: list[str], overrides: dict) -> DataFrame:
    """latest_wins, with the columns named in ``overrides`` taken from
    their per-key aggregate instead of the winning row — computed in the
    same groupBy, so still one exchange."""
    ord_struct = F.struct(F.col(order_col), *[F.col(c) for c in tiebreak_cols])
    others = [c for c in df.columns if c not in key_cols and c not in overrides]
    picked = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), ord_struct).alias("__w"),
        *[agg.alias(f"__o_{c}") for c, agg in overrides.items()],
    )

    def out(c: str):
        if c in key_cols:
            return F.col(c)
        if c in overrides:
            return F.col(f"__o_{c}").alias(c)
        return F.col("__w").getField(c).alias(c)

    return picked.select(*[out(c) for c in df.columns])


def merge_documents(
    current: DataFrame,
    added: DataFrame | None = None,
    deleted_keys: DataFrame | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Full documents merge: union + anti-delete + latest-wins, as one
    aggregation per key.

    The winner is the row with the greatest (updated_at, content_hash).
    ``created_at`` is first-archived time: it is the minimum over every
    row of the key (nulls skipped), computed in the same groupBy as the
    winner, so a re-crawled row never advances it (reference keeps the
    original timestamp, model.py:106-114). ``deleted_keys`` carries just
    the key columns. Mirrors Documents.write() (reference:
    ftm_datalake/archive/documents.py:82-117).
    """
    keys = key_cols or ["key"]
    merged = current if added is None else current.unionByName(added)
    if deleted_keys is not None:
        merged = merged.join(F.broadcast(deleted_keys), on=keys, how="left_anti")
    overrides = (
        {"created_at": F.min("created_at")} if "created_at" in merged.columns else {}
    )
    return _latest_wins(merged, keys, "updated_at", ["content_hash"], overrides)


def snapshot_diff(old: DataFrame, new: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J5: (added_rows, deleted_rows) between two snapshots.

    Relational replacement for the reference's unified-diff of sorted CSV
    lines (ftm_datalake/archive/documents.py:96-117,165-185): a row that
    changed shows up in both streams, exactly like a -/+ line pair.
    """
    return new.exceptAll(old), old.exceptAll(new)


def unified_diff_changes(
    old_lines: DataFrame, new_lines: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Distributed difflib: per-changed-line hunk anchors for a
    byte-parity unified diff (n=0) between two sorted unique line sets.

    The reference diffs snapshots with ``difflib.unified_diff`` over the
    full sorted line lists in memory (archive/documents.py:96-117). For
    sorted *unique* sequences the longest common subsequence is exactly
    the set intersection, so difflib's matching — and with n=0 its hunk
    grouping — is fully determined by, per changed line, the number of
    common lines strictly before it (its "anchor"): changed lines with
    equal anchors form one hunk, deletions before insertions. Anchors
    are computable distributed with NO single-partition stage:

        anchor(deleted x) = pos_in_old(x) - rank_among_deleted(x)
        anchor(added   x) = pos_in_new(x) - rank_among_added(x)

    using the two-phase global rank (operators/rank.py). Only the
    CHANGED lines ever need to reach a renderer — at 100 TB the diff of
    two 100M-row snapshots collects just the delta, where difflib itself
    would need both full files driver-side.

    Input: DataFrames with a single ``line`` string column (multisets
    are collapsed — the reference's make_lines builds a set). Returns
    ``(deleted, added)`` each with columns (line, anchor).
    """
    from ftm_datalake_spark.operators.rank import with_global_rank

    o = old_lines.select("line").distinct()
    n = new_lines.select("line").distinct()
    dels = o.join(n, "line", "left_anti")
    adds = n.join(o, "line", "left_anti")

    def _anchored(full: DataFrame, changed: DataFrame) -> DataFrame:
        pos, _ = with_global_rank(full, ["line"], "pos")
        rnk, _ = with_global_rank(changed, ["line"], "rnk")
        return pos.join(rnk, "line").select(
            "line", (F.col("pos") - F.col("rnk")).cast("long").alias("anchor")
        )

    return _anchored(o, dels), _anchored(n, adds)


def unified_diff_hunks(dels: DataFrame, adds: DataFrame) -> DataFrame:
    """Render unified-diff HUNKS distributed: (anchor, text) rows whose
    texts, concatenated in anchor order after the two header lines,
    reproduce difflib.unified_diff(n=0) byte-for-byte — the fully
    distributed twin of the driver-side render_unified_diff
    (sources/sinks.py), for deltas too large to collect.

    Inputs are the (line, anchor) change sets from
    :func:`unified_diff_changes`. Per difflib's n=0 grouping, one hunk
    per distinct anchor, deletions (sorted) before insertions (sorted);
    the hunk header ranges need the RUNNING totals of deletions and
    insertions before each hunk, which come from the two-phase global
    cumsum (operators/rank.py) — no single-partition stage anywhere.
    Hunk texts contain their interior newlines but NOT the final one
    (the text sink's line separator supplies it)."""
    from ftm_datalake_spark.operators.rank import with_global_cumsum

    d = dels.groupBy("anchor").agg(
        F.sort_array(F.collect_list("line")).alias("d_lines"),
        F.count("*").alias("d_n"),
    )
    a = adds.groupBy("anchor").agg(
        F.sort_array(F.collect_list("line")).alias("a_lines"),
        F.count("*").alias("a_n"),
    )
    hunks = d.join(a, "anchor", "full_outer").select(
        "anchor",
        F.coalesce("d_lines", F.array().cast("array<string>")).alias("d_lines"),
        F.coalesce("a_lines", F.array().cast("array<string>")).alias("a_lines"),
        F.coalesce("d_n", F.lit(0)).cast("long").alias("n_d"),
        F.coalesce("a_n", F.lit(0)).cast("long").alias("n_a"),
    )
    counts = with_global_cumsum(
        hunks.select("anchor", "n_d", "n_a"), ["anchor"], "n_d", "cum_d_end"
    )
    counts = with_global_cumsum(
        counts.select("anchor", "n_d", "n_a", "cum_d_end"),
        ["anchor"],
        "n_a",
        "cum_a_end",
    ).select(
        "anchor",
        (F.col("cum_d_end") - F.col("n_d")).alias("cum_d"),
        (F.col("cum_a_end") - F.col("n_a")).alias("cum_a"),
    )

    def fr(start, length):
        # difflib._format_range_unified on 0-based [start, start+length)
        beginning = start + F.lit(1)
        return (
            F.when(length == 1, beginning.cast("string"))
            .when(
                length == 0,
                F.concat((beginning - 1).cast("string"), F.lit(",0")),
            )
            .otherwise(
                F.concat(
                    beginning.cast("string"), F.lit(","), length.cast("string")
                )
            )
        )

    hx = hunks.join(counts, "anchor")
    fr1 = fr(F.col("anchor") + F.col("cum_d"), F.col("n_d"))
    fr2 = fr(F.col("anchor") + F.col("cum_a"), F.col("n_a"))
    render_body = lambda col, sign: F.array_join(  # noqa: E731
        F.transform(col, lambda x: F.concat(F.lit(sign), x)), "\n"
    )
    # elements joined by '\n': header (with its difflib-carried trailing
    # blank line), then '-' lines, then '+' lines; empty sides drop out
    body = F.array_join(
        F.filter(
            F.array(
                F.concat(F.lit("@@ -"), fr1, F.lit(" +"), fr2, F.lit(" @@\n")),
                F.when(F.col("n_d") > 0, render_body(F.col("d_lines"), "-")),
                F.when(F.col("n_a") > 0, render_body(F.col("a_lines"), "+")),
            ),
            lambda x: x.isNotNull(),
        ),
        "\n",
    )
    return hx.select("anchor", body.alias("text"))


def reconcile(
    source_files: DataFrame,
    metadata: DataFrame,
    key: str = "key",
    checksum_col: str = "content_hash",
) -> DataFrame:
    """The `make` integrity reconciliation as one relational statement.

    Reference runs twin task streams over source keys and info.json keys
    (ftm_datalake/make.py:52-111); here a single full outer join classifies
    every key: add (source-only), delete (metadata-only), fix (checksum
    mismatch), ok. SURVEY §3.2.
    """
    s = source_files.select(
        F.col(key).alias("key"), F.col(checksum_col).alias("src_hash")
    )
    m = metadata.select(
        F.col(key).alias("key"), F.col(checksum_col).alias("meta_hash")
    )
    joined = s.join(m, "key", "full_outer")
    return joined.select(
        "key",
        F.when(F.col("meta_hash").isNull(), F.lit("add"))
        .when(F.col("src_hash").isNull(), F.lit("delete"))
        .when(F.col("src_hash") != F.col("meta_hash"), F.lit("fix"))
        .otherwise(F.lit("ok"))
        .alias("action"),
    )


def apply_cdc(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a sequenced change feed (op ∈ I/U/D) onto a snapshot — the
    lakehouse MERGE pattern, generalized from merge_documents (J1-J3).

    Per key only the highest-seq change matters: one window over the
    (small) change feed, never over the snapshot. The snapshot side then
    full-outer joins the winning changes on the key — a single shuffle of
    each side keyed by the (uniform) key. D drops the row; I/U replace
    it; unchanged snapshot rows pass through. Deterministic given unique
    seq per key (enforce upstream; ties broken by op desc for stability).
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(seq_col).desc(), F.col(op_col).desc()
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", seq_col)
    )
    data_cols = [c for c in snapshot.columns if c not in key_cols]
    s = snapshot.alias("s")
    c = latest.alias("c")
    joined = s.join(c, key_cols, "full_outer")
    kept = joined.where(
        F.col(f"c.{op_col}").isNull() | (F.col(f"c.{op_col}") != "D")
    )
    return kept.select(
        *key_cols,
        *[
            F.when(
                F.col(f"c.{op_col}").isNotNull(), F.col(f"c.{col}")
            ).otherwise(F.col(f"s.{col}")).alias(col)
            for col in data_cols
        ],
    )


def as_changefeed(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    seq: int = 1,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Derive the I/U/D change feed that turns snapshot `old` into
    snapshot `new` — the inverse of :func:`apply_cdc`, so
    ``apply_cdc(old, as_changefeed(old, new, keys), keys) == new`` by
    construction (the CDC roundtrip law, property-tested).

    One full-outer join on the (unique-per-snapshot) key: new-only rows
    emit I, old-only rows emit D (carrying the old values — consumers
    often want the deleted image), both-sides rows emit U only when any
    data column differs (null-safe struct compare). Unchanged rows emit
    nothing, so the feed size is the true delta, not the table."""
    data_cols = [c for c in new.columns if c not in key_cols]
    # presence flags: key-side columns can't distinguish a null data value
    # from an absent row after the full outer, so each side carries a
    # literal marker column
    o2 = old.select(*key_cols, F.lit(1).alias("__in_old"), *[F.col(c).alias(f"__o_{c}") for c in data_cols])
    n2 = new.select(*key_cols, F.lit(1).alias("__in_new"), *[F.col(c).alias(f"__n_{c}") for c in data_cols])
    j = o2.join(n2, key_cols, "full_outer")
    changed = ~F.struct(*[F.col(f"__o_{c}") for c in data_cols]).eqNullSafe(
        F.struct(*[F.col(f"__n_{c}") for c in data_cols])
    )
    op = (
        F.when(F.col("__in_old").isNull(), F.lit("I"))
        .when(F.col("__in_new").isNull(), F.lit("D"))
        .when(changed, F.lit("U"))
    )
    picked = j.withColumn(op_col, op).where(F.col(op_col).isNotNull())
    return picked.select(
        *key_cols,
        *[
            F.when(F.col(op_col) == "D", F.col(f"__o_{c}"))
            .otherwise(F.col(f"__n_{c}"))
            .alias(c)
            for c in data_cols
        ],
        F.col(op_col),
        F.lit(int(seq)).alias(seq_col),
    )
