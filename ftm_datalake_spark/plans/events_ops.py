"""Event-sequence analytics over the events table: ordered-funnel
conversion and weekly cohort retention.

These extend the sessionization family (plans/reference_ops.py,
streaming/stages.py) with the two other staple event-analytics shapes.
Both are pure join+agg pipelines keyed by user_id — uniform keys, no
window over anything larger than a user's history, so they scale
linearly.

Cross-engine determinism: step ordering uses strict ts comparisons on
microsecond-truncated timestamps (identical in both engines per
sources/tables.load_table); week arithmetic is date_trunc('week') (Monday
start in both Spark and DuckDB) with day-difference // 7 — exact integers
since both sides are week-aligned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.plans.corpus_ops import _hll_rho_sql
from ftm_datalake_spark.plans.registry import register
from ftm_datalake_spark.sources.tables import load_table

FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


def _first_after(
    events: DataFrame, prev: DataFrame, event_type: str, t_prev: str, t_out: str
) -> DataFrame:
    """First `event_type` per user strictly after that user's `t_prev`.

    One equi-join on user_id (prev shrinks monotonically down the funnel)
    + one hash-agg — never a per-user window over the full event stream.
    """
    return (
        events.where(F.col("event_type") == event_type)
        .join(prev, "user_id")
        .where(F.col("ts") > F.col(t_prev))
        .groupBy("user_id")
        .agg(F.min("ts").alias(t_out))
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE event_type = 'view' AND ts > t1 GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE event_type = 'click' AND ts > t2 GROUP BY e.user_id),
    s4 AS (
      SELECT e.user_id, MIN(ts) AS t4 FROM events e JOIN s3 USING (user_id)
      WHERE event_type = 'purchase' AND ts > t3 GROUP BY e.user_id)
    SELECT * FROM (
      SELECT 1 AS step, 'signup' AS event_type, COUNT(*) AS n_users FROM s1
      UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
      UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
      UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4)
    ORDER BY step
    """,
    tags=("events", "funnel", "join"),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users reaching each step via strictly-increasing
    first-occurrence timestamps (signup → view → click → purchase)."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = _first_after(events, s1, "view", "t1", "t2")
    s3 = _first_after(events, s2, "click", "t2", "t3")
    s4 = _first_after(events, s3, "purchase", "t3", "t4")
    parts = [
        stage.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).alias("step"),
            F.lit(name).alias("event_type"),
            "n_users",
        )
        for i, (name, stage) in enumerate(zip(FUNNEL_STEPS, [s1, s2, s3, s4]))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("step")


@register(
    "events_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            date_trunc('week', e.ts)) // 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN first f USING (user_id))
    SELECT cohort_week, week_offset, COUNT(*) AS n_users
    FROM act GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    tags=("events", "cohort", "agg"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, counted
    per week-offset of later activity."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    act = (
        events.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_gapfill_hourly",
    # r15: the hourly rollup is pinned (see builder).
    checkpointed=True,
    oracle="""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS hour_value
      FROM events GROUP BY user_id, hour
    ),
    bounds AS (
      SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
      FROM hourly GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, u.h AS hour
      FROM bounds, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS u(h)
    )
    SELECT g.user_id, g.hour,
           COALESCE(h.n_events, 0) AS n_events,
           LAST_VALUE(h.hour_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g
    LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
    ORDER BY g.user_id, g.hour
    """,
    tags=("events", "timeseries", "window"),
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense hourly grid per user (sequence +
    explode, bounded by each user's observed span) left-joined to the
    hourly rollup, gaps forward-filled with last-non-null. The fill
    window partitions by user — state bounded by one user's span; the
    grid explode is data-proportional (spans × users), never a global
    cross product."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    # r15 (guide §2.4): the hourly rollup feeds TWO consumers (the
    # per-user grid bounds and the gap-fill join) and executed the
    # events scan + hash-agg once per consumer — pinned once; it is
    # user×hour scale, strictly smaller than the events input.
    hourly = events.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias(
            "hour_value"
        ),
    ).localCheckpoint()
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            "hour",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.last("hour_value", ignorenulls=True).over(w).alias("filled_value"),
        )
        .orderBy("user_id", "hour")
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
    """,
    tags=("events", "sequence", "window"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: counts of consecutive event-type
    bigrams per user (lead window bounded by one user's history)."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# Interval × interval overlap join: 30-min-gap sessions overlapped with
# ±1h windows around each purchase (same user). The scale story lives in
# operators/rangejoin.interval_overlap_join — both interval sets explode
# into shared hour buckets and the join is a hash equi-join on
# (user_id, bucket), never a nested loop.
_SESSIONS_CTE = """
    marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, event_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    ),
    sess AS (
      SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM numbered GROUP BY user_id, session_id
    )
"""


@register(
    "sessions_overlap_purchases",
    oracle=f"""
    WITH {_SESSIONS_CTE},
    p AS (
      SELECT user_id, ts AS purchase_ts,
             ts - INTERVAL 1 HOUR AS win_start,
             ts + INTERVAL 1 HOUR AS win_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT DISTINCT s.user_id, s.session_start, s.session_end, p.purchase_ts
    FROM sess s JOIN p ON p.user_id = s.user_id
      AND s.session_start < p.win_end AND p.win_start < s.session_end
    ORDER BY s.user_id, s.session_start, p.purchase_ts
    """,
    tags=("join", "interval", "events"),
)
def sessions_overlap_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.rangejoin import interval_overlap_join
    from ftm_datalake_spark.plans.reference_ops import events_sessionize

    sessions = events_sessionize(spark, sf_dir).select(
        "user_id", "session_start", "session_end"
    )
    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("purchase_ts"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("win_end"),
    )
    out = interval_overlap_join(
        sessions,
        purchases,
        on="user_id",
        left_start="session_start",
        left_end="session_end",
        right_start="win_start",
        right_end="win_end",
    )
    return out.select(
        "user_id", "session_start", "session_end", "purchase_ts"
    ).distinct().orderBy("user_id", "session_start", "purchase_ts")


# --------------------------------------------------------------------------
# SCD2 history build: per-user event-type change log → validity
# intervals [valid_from, valid_to) with consecutive duplicates
# collapsed — the slowly-changing-dimension shape every lakehouse
# pipeline maintains. One window shuffle on the dimension key.
@register(
    "scd2_event_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to,
           (lead(valid_from) OVER (
             PARTITION BY user_id ORDER BY valid_from, event_id) IS NULL)
             AS is_current
    FROM changes
    ORDER BY user_id, valid_from, event_id
    """,
    tags=("window", "scd", "events"),
)
def scd2_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = events.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    changes = ordered.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    valid_to = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from", "event_id")


# --------------------------------------------------------------------------
# Per-group p90 WITHOUT a global (or even per-group row-level) sort:
# the same value-histogram order-statistics trick as
# quality_iqr_outliers, per group — cumulative counts over the distinct
# (event_type, value) table, pick the smallest value whose cumulative
# count reaches ceil(0.9 * n). Values go through DECIMAL(12,2) so the
# histogram keys are exact.
@register(
    "events_p90_value_by_type",
    oracle="""
    WITH vals AS (
      SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v, COUNT(*) AS c
      FROM events GROUP BY event_type, v
    ),
    cum AS (
      SELECT event_type, v, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM vals
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN v END) AS DOUBLE) AS p90
    FROM cum
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "stats", "window"),
)
def events_p90_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    vals = events.groupBy(
        "event_type", F.col("value").cast("decimal(12,2)").alias("v")
    ).agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vals.select(
        "event_type",
        "v",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("v")))
            .cast("double")
            .alias("p90"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Right-to-be-forgotten cascade: delete every trace of a user set and
# prove the result — the anti-join family applied as a compliance
# operation. The forget-set is tiny (broadcast anti-join: no shuffle of
# the fact tables at any scale); output is per-table surviving/purged
# counts plus a checksum of survivors so the oracle verifies the rows
# themselves, not just the counts.
@register(
    "gdpr_forget_users",
    oracle="""
    WITH forget AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0
    ),
    ev AS (
      SELECT e.* FROM events e ANTI JOIN forget f USING (user_id)
    )
    SELECT 'events' AS table_name,
           (SELECT COUNT(*) FROM events) AS before_rows,
           COUNT(*) AS after_rows,
           (SELECT COUNT(*) FROM events) - COUNT(*) AS purged_rows,
           CAST(SUM(user_id) AS BIGINT) AS survivor_checksum
    FROM ev
    """,
    tags=("compliance", "join"),
)
def gdpr_forget_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    forget = events.where(F.col("user_id") % 37 == 0).select("user_id").distinct()
    surviving = events.join(F.broadcast(forget), "user_id", "left_anti")
    before = events.count()
    return surviving.agg(
        F.lit("events").alias("table_name"),
        F.lit(before).cast("long").alias("before_rows"),
        F.count("*").alias("after_rows"),
        (F.lit(before) - F.count("*")).cast("long").alias("purged_rows"),
        F.sum("user_id").cast("long").alias("survivor_checksum"),
    )


@register(
    "events_pattern_match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS s,
             COUNT(*) AS n_events
      FROM events GROUP BY user_id)
    SELECT user_id, n_events
    FROM seq
    WHERE regexp_matches(s, 'signup(,[a-z]+)*,purchase')
    ORDER BY user_id
    """,
    tags=("events", "sequence", "pattern"),
)
def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: users whose ordered event stream matches a
    sequence regex (a signup later followed by a purchase). The per-user
    event-type string is built from a sort_array'd collect_list — one
    hash-agg shuffle on user_id, the regex runs once per user on the
    aggregated row, and the same RE2-compatible pattern evaluates in
    both engines. The (ts, event_id) sort key is a total order, so the
    assembled string is deterministic."""
    from pyspark.sql import Window  # noqa: F401 - symmetry with siblings

    events = load_table(spark, sf_dir, "events")
    seq = (
        events.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ",",
            ).alias("s"),
            F.count("*").alias("n_events"),
        )
    )
    return (
        seq.where(F.col("s").rlike("signup(,[a-z]+)*,purchase"))
        .select("user_id", "n_events")
        .orderBy("user_id")
    )


@register(
    "events_attribution_last_touch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
      FROM events),
    attr AS (
      SELECT event_type, value,
             LAST_VALUE(touch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS attributed
      FROM marked)
    SELECT COALESCE(attributed, 'none') AS attributed_type,
           COUNT(*) AS n_purchases,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM attr WHERE event_type = 'purchase'
    GROUP BY attributed_type ORDER BY attributed_type
    """,
    tags=("events", "attribution", "window"),
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent preceding non-purchase event. One window shuffle on user_id
    (running last(ignoreNulls) over an exclusive-preceding frame — the
    same union-marker shape as the as-of join), then a tiny group-by on
    the attributed type. Revenue sums integer cents (round(value*100)
    is the identical double op in both engines), so the aggregate is
    exact and order-independent."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    marked = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias(
            "touch"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attr = marked.select(
        "event_type",
        "value",
        F.last("touch", ignorenulls=True).over(w).alias("attributed"),
    )
    return (
        attr.where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("attributed"), F.lit("none")).alias(
                "attributed_type"
            )
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("attributed_type")
    )


# --------------------------------------------------------------------------
# Robust anomaly detection per event_type: median / MAD (median absolute
# deviation) with the discrete lower-median definition (the smallest
# value whose cumulative count reaches half the group) — the same
# cumulative-count idiom as events_p90_value_by_type, so the statistic is
# bit-exact in both engines with no reliance on interpolation parity.
# An event is anomalous when |v - median| > 5 * MAD.
#
# Scale shape: everything aggregates by (event_type, value) first — the
# windows run over DISTINCT quantized values per type (bounded domain,
# decimal cents), never over raw events; median/MAD frames are broadcast
# back (few types). Raw events are touched exactly once.
@register(
    "events_anomaly_mad",
    oracle="""
    WITH vals AS (
      SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v, COUNT(*) AS c
      FROM events GROUP BY event_type, v
    ),
    cum AS (
      SELECT event_type, v, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM vals
    ),
    med AS (
      SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             MIN(CASE WHEN 2*cumc >= n THEN v END) AS med
      FROM cum GROUP BY event_type
    ),
    devs AS (
      SELECT v.event_type, abs(v.v - m.med) AS dev, v.c, m.n, m.med
      FROM vals v JOIN med m USING (event_type)
    ),
    dev_counts AS (
      SELECT event_type, dev, SUM(c) AS c FROM devs GROUP BY event_type, dev
    ),
    dcum AS (
      SELECT event_type, dev, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY dev
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM dev_counts
    ),
    mad AS (
      SELECT event_type, MIN(CASE WHEN 2*cumd >= n THEN dev END) AS mad
      FROM dcum GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(MAX(d.n) AS BIGINT) AS n,
           CAST(MAX(d.med) AS DOUBLE) AS med,
           CAST(MAX(m2.mad) AS DOUBLE) AS mad,
           CAST(COALESCE(SUM(CASE WHEN d.dev > 5*m2.mad THEN d.c ELSE 0 END), 0)
                AS BIGINT) AS n_anomalies
    FROM devs d JOIN mad m2 USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    tags=("events", "stats", "dq"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    vals = events.groupBy(
        "event_type", F.col("value").cast("decimal(12,2)").alias("v")
    ).agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = vals.select(
        "event_type", "v", "c",
        F.sum("c").over(wcum).alias("cumc"),
        F.sum("c").over(wall).alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(2 * F.col("cumc") >= F.col("n"), F.col("v"))).alias("med"),
    )
    devs = vals.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(F.col("v") - F.col("med")).alias("dev"),
        "c", "n", "med",
    )
    dev_counts = devs.groupBy("event_type", "dev").agg(F.sum("c").alias("c"))
    wdev = (
        Window.partitionBy("event_type")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dcum = dev_counts.select(
        "event_type", "dev", "c",
        F.sum("c").over(wdev).alias("cumd"),
        F.sum("c").over(wall).alias("n"),
    )
    mad = dcum.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("cumd") >= F.col("n"), F.col("dev"))).alias("mad")
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("med").cast("double").alias("med"),
            F.max("mad").cast("double").alias("mad"),
            F.coalesce(
                F.sum(F.when(F.col("dev") > 5 * F.col("mad"), F.col("c")).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# DAU/WAU engagement ("stickiness"): exact distinct users per day and per
# week, then avg-daily / weekly ratio. The base frame is the DISTINCT
# (week, day, user) projection — ONE shuffle on the compound key, after
# which both rollups are cheap; weekly distinct users come from the same
# frame (a user appears once per active day). Exact distinct is the
# demonstration here; the mergeable-sketch alternative for 100 TB lives
# in operators/sketches.py (sketch_hll_by_event_type).
@register(
    "events_dau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day,
                      date_trunc('week', ts) AS week,
                      user_id
      FROM events
    ),
    daily AS (
      SELECT week, day, CAST(COUNT(*) AS BIGINT) AS dau
      FROM du GROUP BY week, day
    ),
    weekly AS (
      SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM du GROUP BY week
    )
    SELECT w.week, w.wau,
           CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) AS avg_dau,
           CAST(SUM(d.dau) AS DOUBLE) / COUNT(*) / w.wau AS stickiness
    FROM weekly w JOIN daily d USING (week)
    GROUP BY w.week, w.wau ORDER BY w.week
    """,
    tags=("events", "agg", "analytics"),
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("week", "ts").alias("week"),
        "user_id",
    ).distinct()
    daily = du.groupBy("week", "day").agg(F.count("*").cast("long").alias("dau"))
    weekly = du.groupBy("week").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        weekly.join(daily, "week")
        .groupBy("week", "wau")
        .agg((F.sum("dau").cast("double") / F.count("*")).alias("avg_dau"))
        .select(
            "week",
            "wau",
            "avg_dau",
            (F.col("avg_dau") / F.col("wau")).alias("stickiness"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# Lag-1 autocorrelation of the hourly event-count series (per event_type):
# Pearson r over consecutive-hour pairs. Hour pairing is an equi-join on
# hour = hour + 1h (skips gaps, like a lag over the gap-filled series
# with missing hours excluded), so no window is needed at all. All five
# Pearson terms are exact integer sums; the final expression is double
# arithmetic over those integers with one IEEE sqrt — correctly rounded,
# hence bit-identical across engines.
@register(
    "events_hourly_autocorr",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hour
    ),
    pairs AS (
      SELECT a.event_type, a.n AS x, b.n AS y
      FROM hourly a JOIN hourly b
        ON a.event_type = b.event_type
       AND b.hour = a.hour + INTERVAL 1 HOUR
    ),
    terms AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
      FROM pairs GROUP BY event_type
    )
    SELECT event_type, k,
           (CAST(k AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(k AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(k AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             AS autocorr_lag1
    FROM terms ORDER BY event_type
    """,
    tags=("events", "stats", "window"),
)
def events_hourly_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").cast("long").alias("n"))
    nxt = hourly.select(
        "event_type",
        (F.col("hour") - F.expr("INTERVAL 1 HOUR")).alias("hour"),
        F.col("n").alias("y"),
    )
    pairs = hourly.join(nxt, ["event_type", "hour"]).select(
        "event_type", F.col("n").alias("x"), "y"
    )
    terms = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    k, sx, sy = F.col("k").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    num = k * F.col("sxy") - sx * F.col("sy")
    den = F.sqrt(
        (k * F.col("sxx") - sx * F.col("sx")) * (k * F.col("syy") - sy * F.col("sy"))
    )
    return terms.select(
        "event_type", "k", (num / den).alias("autocorr_lag1")
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Rolling 7-day active users (the WAU-per-day curve): for every active
# day, the distinct users seen in the trailing 7-day window. The window
# is expressed as a range join of the tiny day dimension against the
# DISTINCT (day, user) frame — the day dimension broadcasts, the
# distinct count shuffles on (window_day, user), and no sliding
# count-distinct window (which Spark cannot partial-aggregate) ever
# appears. Same base frame idiom as events_dau_stickiness.
@register(
    "events_rolling_7d_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    win AS (
      SELECT d.day, du.user_id
      FROM days d JOIN du
        ON du.day <= d.day AND du.day > d.day - INTERVAL 7 DAY
    )
    SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM win GROUP BY day ORDER BY day
    """,
    tags=("events", "window", "analytics"),
)
def events_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    du = events.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    win = F.broadcast(days.select(F.col("day").alias("wday"))).join(
        du,
        (F.col("day") <= F.col("wday"))
        & (F.col("day") > F.col("wday") - F.expr("INTERVAL 7 DAYS")),
    )
    return (
        win.groupBy(F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("users_7d"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Time-to-convert: for each user with a purchase at/after their first
# signup, the latency from first signup to FIRST subsequent purchase,
# rolled up per signup-week cohort with discrete p50/p90 latency (the
# cumulative-count idiom again — bit-exact, no interpolation). Latency
# is integer minutes. Min-aggregations per user, one window-free
# percentile pass over the per-cohort latency distributions.
@register(
    "events_conversion_latency",
    oracle="""
    WITH signup AS (
      SELECT user_id, MIN(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, date_trunc('week', s.s_ts) AS cohort_week,
             CAST(floor(epoch_us(MIN(e.ts)) / 60000000.0)
                  - floor(epoch_us(s.s_ts) / 60000000.0) AS BIGINT) AS lat_min
      FROM signup s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
       AND e.ts >= s.s_ts
      GROUP BY s.user_id, s.s_ts
    ),
    counts AS (
      SELECT cohort_week, lat_min, COUNT(*) AS c
      FROM conv GROUP BY cohort_week, lat_min
    ),
    cum AS (
      SELECT cohort_week, lat_min, c,
             SUM(c) OVER (PARTITION BY cohort_week ORDER BY lat_min
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
             SUM(c) OVER (PARTITION BY cohort_week) AS n
      FROM counts
    )
    SELECT cohort_week,
           CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(CASE WHEN 2*cumc >= n THEN lat_min END) AS BIGINT) AS p50_min,
           CAST(MIN(CASE WHEN 10*cumc >= 9*n THEN lat_min END) AS BIGINT) AS p90_min
    FROM cum GROUP BY cohort_week ORDER BY cohort_week
    """,
    tags=("events", "cohort", "stats"),
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ftm_datalake_spark.functions.timeutil import ts_micros

    events = load_table(spark, sf_dir, "events")
    signup = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        signup.join(purchases, "user_id")
        .where(F.col("p_ts") >= F.col("s_ts"))
        .groupBy("user_id", "s_ts")
        .agg(F.min("p_ts").alias("first_p"))
        .select(
            F.date_trunc("week", "s_ts").alias("cohort_week"),
            (
                F.floor(ts_micros(F.col("first_p")) / 60000000.0)
                - F.floor(ts_micros(F.col("s_ts")) / 60000000.0)
            )
            .cast("long")
            .alias("lat_min"),
        )
    )
    counts = conv.groupBy("cohort_week", "lat_min").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("lat_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("cohort_week")
    cum = counts.select(
        "cohort_week", "lat_min", "c",
        F.sum("c").over(wcum).alias("cumc"),
        F.sum("c").over(wall).alias("n"),
    )
    return (
        cum.groupBy("cohort_week")
        .agg(
            F.max("n").cast("long").alias("n_converted"),
            F.min(F.when(2 * F.col("cumc") >= F.col("n"), F.col("lat_min")))
            .cast("long")
            .alias("p50_min"),
            F.min(F.when(10 * F.col("cumc") >= 9 * F.col("n"), F.col("lat_min")))
            .cast("long")
            .alias("p90_min"),
        )
        .orderBy("cohort_week")
    )


# --------------------------------------------------------------------------
# DAU/WAU stickiness on the SKETCH path — the 100 TB twin of
# events_dau_stickiness: distinct users per day/week come from 64-bucket
# HLL registers instead of exact distincts. The weekly registers are NOT
# rebuilt from raw events — they are the daily registers re-maxed on
# (week, bucket), i.e. the register merge a tiered rollup would ship
# between levels; per group each task emits ≤64 rows after map-side
# combine regardless of user cardinality. Every estimate is a
# dyadic-rational sum (exact, order-independent) so even the sketch
# floats are bit-identical cross-engine. No cross-row float sums: the
# output is per-day, each value a pure function of its two register
# sets.
@register(
    "events_dau_stickiness_hll",
    oracle=f"""
    WITH hashed AS (
      SELECT date_trunc('week', ts) AS week, date_trunc('day', ts) AS day,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM events
    ),
    probe AS (
      SELECT week, day, h % 64 AS bucket, {_hll_rho_sql()} AS rho
      FROM (SELECT week, day, h, CAST(floor(h / 64) AS BIGINT) AS w
            FROM hashed)
    ),
    daily_regs AS (
      SELECT week, day, bucket, MAX(rho) AS r
      FROM probe GROUP BY week, day, bucket
    ),
    weekly_regs AS (
      SELECT week, bucket, MAX(r) AS r
      FROM daily_regs GROUP BY week, bucket
    ),
    dau AS (
      SELECT week, day,
             0.709 * 64 * 64 / (SUM(pow(2.0, -r)) + (64 - COUNT(*)) * 1.0)
               AS dau_est
      FROM daily_regs GROUP BY week, day
    ),
    wau AS (
      SELECT week,
             0.709 * 64 * 64 / (SUM(pow(2.0, -r)) + (64 - COUNT(*)) * 1.0)
               AS wau_est
      FROM weekly_regs GROUP BY week
    )
    SELECT d.week, d.day, d.dau_est, w.wau_est,
           d.dau_est / w.wau_est AS day_stickiness
    FROM dau d JOIN wau w USING (week)
    ORDER BY d.week, d.day
    """,
    tags=("sketch", "events", "analytics"),
)
def events_dau_stickiness_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.sketches import (
        hll_estimate_by,
        hll_registers_by,
    )

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
        F.col("user_id").alias("key"),
    )
    daily_regs = hll_registers_by(base, ["week", "day"])
    weekly_regs = daily_regs.groupBy("week", "bucket").agg(
        F.max("r").alias("r")
    )
    dau = hll_estimate_by(daily_regs, ["week", "day"]).select(
        "week", "day", F.col("estimate").alias("dau_est")
    )
    wau = hll_estimate_by(weekly_regs, "week").select(
        "week", F.col("estimate").alias("wau_est")
    )
    return (
        dau.join(wau, "week")
        .select(
            "week",
            "day",
            "dau_est",
            "wau_est",
            (F.col("dau_est") / F.col("wau_est")).alias("day_stickiness"),
        )
        .orderBy("week", "day")
    )


# --------------------------------------------------------------------------
# Offline change-point detection (round 5): per event_type, the hour
# where the value series' mean shifts most — binary segmentation's first
# split, scored with the integer CUSUM statistic
#   D(t) = | S_t * (T - t)  -  (S - S_t) * t |
# (= t*(T-t)*|mean_before - mean_after|, all in integer cents so the
# argmax is bit-exact; ties break to the earliest hour). Scale shape:
# the raw stream collapses to a per-(type, hour) frame FIRST (one
# hash-agg); the prefix sums and the argmax run on that tiny series
# frame via per-type windows (state bounded by hours-per-type), never
# on raw events.
@register(
    "events_changepoint_meanshift",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT event_type, h, v, n,
             SUM(v) OVER w AS s_t, SUM(n) OVER w AS n_t,
             SUM(v) OVER p AS s_tot, SUM(n) OVER p AS n_tot,
             ROW_NUMBER() OVER w AS t,
             COUNT(*) OVER p AS big_t
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY event_type)
    ),
    scored AS (
      SELECT event_type, h, t,
             abs(s_t * (n_tot - n_t) - (s_tot - s_t) * n_t) AS stat,
             s_t, n_t, s_tot, n_tot
      FROM pre WHERE t < big_t
    ),
    best AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY stat DESC, h) AS rk
        FROM scored) WHERE rk = 1
    )
    SELECT event_type, h AS change_hour, CAST(stat AS BIGINT) AS statistic,
           CAST((s_t * 1000 - (s_t * 1000) % n_t) / n_t AS BIGINT)
             AS mean_before_millicents,
           CAST(((s_tot - s_t) * 1000 - ((s_tot - s_t) * 1000)
                 % (n_tot - n_t)) / (n_tot - n_t) AS BIGINT)
             AS mean_after_millicents
    FROM best ORDER BY event_type
    """,
    tags=("events", "analytics", "window"),
)
def events_changepoint_meanshift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(cents).alias("v"), F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = Window.partitionBy("event_type")
    pre = hourly.select(
        "event_type",
        "h",
        F.sum("v").over(w).alias("s_t"),
        F.sum("n").over(w).alias("n_t"),
        F.sum("v").over(p).alias("s_tot"),
        F.sum("n").over(p).alias("n_tot"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("h")).alias(
            "t"
        ),
        F.count("*").over(p).alias("big_t"),
    )
    scored = pre.where(F.col("t") < F.col("big_t")).select(
        "event_type",
        "h",
        F.abs(
            F.col("s_t") * (F.col("n_tot") - F.col("n_t"))
            - (F.col("s_tot") - F.col("s_t")) * F.col("n_t")
        ).alias("stat"),
        "s_t",
        "n_t",
        "s_tot",
        "n_tot",
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.col("stat").desc(), "h")
    )
    best = scored.withColumn("rk", rk).where(F.col("rk") == 1)

    def exact_div(num, den):  # integer millicents: exactly-divisible pair
        scaled = num * F.lit(1000)
        return ((scaled - scaled % den) / den).cast("long")

    return best.select(
        "event_type",
        F.col("h").alias("change_hour"),
        F.col("stat").cast("long").alias("statistic"),
        exact_div(F.col("s_t"), F.col("n_t")).alias("mean_before_millicents"),
        exact_div(
            F.col("s_tot") - F.col("s_t"), F.col("n_tot") - F.col("n_t")
        ).alias("mean_after_millicents"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Seasonality deviation profile (round 5): (hour-of-day × event_type)
# observed counts vs the independence expectation, scored with the
# exact-rational deviation |obs·total − row·col| quantized to ppm of
# row·col — the χ² numerator shape without any float division, so the
# ranking of hot/cold cells is bit-exact cross-engine. One hash-agg
# over the stream plus two marginal rollups of the tiny cell frame.
@register(
    "events_seasonality_profile",
    oracle="""
    WITH cells AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod, event_type,
             COUNT(*) AS obs
      FROM events GROUP BY 1, 2
    ),
    rows_m AS (SELECT hod, SUM(obs) AS row_n FROM cells GROUP BY hod),
    cols_m AS (SELECT event_type, SUM(obs) AS col_n FROM cells GROUP BY event_type),
    tot AS (SELECT SUM(obs) AS n FROM cells)
    SELECT c.hod, c.event_type, CAST(c.obs AS BIGINT) AS obs,
           CAST(r.row_n AS BIGINT) AS row_n, CAST(co.col_n AS BIGINT) AS col_n,
           CAST((abs(c.obs * t.n - r.row_n * co.col_n) * 1000000
                 - (abs(c.obs * t.n - r.row_n * co.col_n) * 1000000)
                   % (r.row_n * co.col_n))
                / (r.row_n * co.col_n) AS BIGINT) AS dev_ppm
    FROM cells c
    JOIN rows_m r USING (hod)
    JOIN cols_m co USING (event_type)
    CROSS JOIN tot t
    ORDER BY dev_ppm DESC, hod, event_type
    LIMIT 25
    """,
    tags=("events", "analytics", "agg"),
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cells = events.groupBy(
        F.hour("ts").cast("long").alias("hod"), "event_type"
    ).agg(F.count("*").alias("obs"))
    rows_m = cells.groupBy("hod").agg(F.sum("obs").alias("row_n"))
    cols_m = cells.groupBy("event_type").agg(F.sum("obs").alias("col_n"))
    tot = cells.agg(F.sum("obs").alias("n"))
    j = (
        cells.join(rows_m, "hod")
        .join(F.broadcast(cols_m), "event_type")
        .crossJoin(F.broadcast(tot))
    )
    diff = F.abs(F.col("obs") * F.col("n") - F.col("row_n") * F.col("col_n"))
    den = F.col("row_n") * F.col("col_n")
    scaled = diff * F.lit(1_000_000)
    dev = ((scaled - scaled % den) / den).cast("long")
    return (
        j.select(
            "hod",
            "event_type",
            F.col("obs").cast("long").alias("obs"),
            F.col("row_n").cast("long").alias("row_n"),
            F.col("col_n").cast("long").alias("col_n"),
            dev.alias("dev_ppm"),
        )
        .orderBy(F.col("dev_ppm").desc(), "hod", "event_type")
        .limit(25)
    )


# --------------------------------------------------------------------------
# Cohort lifetime value (round 5): customers bucketed by first-order
# month, cumulative revenue per cohort-age month in exact integer cents
# — the running sum runs over the tiny (cohort, age) matrix, not the
# fact table, so the window is frame-bounded at any scale.
@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cohort,
             CAST(date_diff('month', f.cohort,
                            date_trunc('month', o.o_orderdate)) AS BIGINT)
               AS age_months,
             SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_cents
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2
    )
    SELECT cohort, age_months,
           CAST(rev_cents AS BIGINT) AS rev_cents,
           CAST(SUM(rev_cents) OVER (
             PARTITION BY cohort ORDER BY age_months
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_rev_cents
    FROM rev
    WHERE age_months <= 6
    ORDER BY cohort, age_months
    """,
    tags=("analytics", "window", "agg"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    rev = (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            (
                (F.year(F.col("o_orderdate")) - F.year(F.col("cohort"))) * 12
                + (F.month(F.col("o_orderdate")) - F.month(F.col("cohort")))
            )
            .cast("long")
            .alias("age_months"),
        )
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.where(F.col("age_months") <= 6)
        .select(
            "cohort",
            "age_months",
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.sum("rev_cents").over(w).cast("long").alias("cum_rev_cents"),
        )
        .orderBy("cohort", "age_months")
    )


# --------------------------------------------------------------------------
# Time-weighted average value per user (TWAP — the standard finance /
# IoT aggregate over step-function state): each event's value holds
# until the user's next event; the average weights each value by its
# holding duration. Integer-exact: cents via the DECIMAL(18,2) idiom
# (make_reconcile), durations in epoch milliseconds, one integer
# division at the end. Scale shape: ONE window + ONE agg, both keyed by
# user_id — uniform keys, linear, no global anything.
@register(
    "events_time_weighted_value",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ),
    d AS (
      SELECT user_id, cents,
             CASE WHEN nxt IS NULL THEN 0
                  ELSE (epoch_us(nxt) - epoch_us(ts)) // 1000 END AS dur_ms
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(dur_ms) AS BIGINT) AS span_ms,
           CAST((SUM(cents * dur_ms) * 1000) // SUM(dur_ms) AS BIGINT)
             AS twap_cents_x1000
    FROM d GROUP BY user_id
    HAVING SUM(dur_ms) > 0
    ORDER BY user_id
    """,
    tags=("events", "window", "temporal"),
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    stepped = events.select(
        "user_id",
        cents.alias("cents"),
        F.coalesce(
            (
                F.unix_micros(F.lead("ts").over(w))
                - F.unix_micros(F.col("ts"))
            ),
            F.lit(0),
        ).alias("dur_us"),
    ).withColumn("dur_ms", F.expr("dur_us div 1000"))
    return (
        stepped.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("dur_ms").cast("long").alias("span_ms"),
            F.expr("(sum(cents * dur_ms) * 1000) div sum(dur_ms)")
            .cast("long")
            .alias("twap_cents_x1000"),
        )
        .where(F.col("span_ms") > 0)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Activity concentration (round 11): the exact Gini coefficient of
# per-user event counts — the "is this corpus/user-base dominated by a
# few heavy hitters" readout (the same question temperature mixing
# answers for sources, here as one scalar). Closed form over the
# ASCENDING rank: G = (2*Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i), all
# integer until the final scaled division (numerator ≥ 0 for an
# ascending rank, so truncating div agrees across engines). The rank
# comes from operators/rank.with_global_rank (range shuffle + driver
# offsets — no single-partition exchange for the data term); the
# 1-row final fold is the documented global-scalar shape.
@register(
    "events_user_activity_gini",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id),
    ranked AS (
      SELECT n_events,
             ROW_NUMBER() OVER (ORDER BY n_events, user_id) AS r
      FROM per_user),
    s AS (SELECT COUNT(*) AS n, SUM(n_events) AS t,
                 SUM(r * n_events) AS s1
          FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_users, CAST(t AS BIGINT) AS total_events,
           CAST(((2 * s1 - (n + 1) * t) * 1000000) // (n * t) AS BIGINT)
             AS gini_x1e6
    FROM s
    """,
    tags=("events", "stats", "agg"),
    checkpointed=True,
)
def events_user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.rank import with_global_rank

    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(F.count("*").alias("n_events"))
    ranked, _n = with_global_rank(per_user, ["n_events", "user_id"])
    return ranked.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.sum(F.col("rank") * F.col("n_events")).alias("__s1"),
    ).select(
        "n_users",
        "total_events",
        F.expr(
            "((2 * __s1 - (n_users + 1) * total_events) * 1000000)"
            " div (n_users * total_events)"
        )
        .cast("long")
        .alias("gini_x1e6"),
    )


# --------------------------------------------------------------------------
# Kaplan-Meier hazard table (round 12): time-to-first-failure survival
# with administrative right-censoring — the reliability estimator a
# usage pipeline runs over its event log. A user's clock starts at
# their first event; the terminal event is their first 'error', in
# elapsed hours; the study window is 72 hours, so users whose failure
# falls beyond it (or who never fail) are CENSORED at the horizon (or
# at their last event if earlier). The output is the KM estimator's
# exact per-event-time table: n_at_risk (duration >= t), n_events
# (failed at t), n_censored_at (leaving at t without failing), and the
# discrete hazard d_t/n_t in exact ppm — the survival curve is the
# running product of (1 - hazard), derivable without any float op in
# the hash-compared result. Risk-set counts come from the two-phase
# cumsum over the per-duration tally frame (collapsed, user-scale),
# never a global window.
@register(
    "events_kaplan_meier",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(date_part('epoch', MIN(ts)) AS BIGINT) AS t0,
             CAST(date_part('epoch',
               MIN(CASE WHEN event_type = 'error' THEN ts END)) AS BIGINT)
               AS te,
             CAST(date_part('epoch', MAX(ts)) AS BIGINT) AS tl
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE
               WHEN te IS NOT NULL AND (te - t0) // 3600 <= 72
                 THEN (te - t0) // 3600
               WHEN te IS NULL AND (tl - t0) // 3600 < 72
                 THEN (tl - t0) // 3600
               ELSE 72
             END AS duration_h,
             CASE WHEN te IS NOT NULL AND (te - t0) // 3600 <= 72
                  THEN 1 ELSE 0 END AS failed
      FROM u
    ),
    tal AS (
      SELECT duration_h, COUNT(*) AS n_all, SUM(failed) AS n_evt
      FROM obs GROUP BY duration_h
    ),
    t AS (SELECT SUM(n_all) AS big_n FROM tal),
    c AS (
      SELECT duration_h, n_all, n_evt,
             SUM(n_all) OVER (ORDER BY duration_h) - n_all AS n_below
      FROM tal
    )
    SELECT CAST(c.duration_h AS BIGINT) AS duration_hours,
           CAST(t.big_n - c.n_below AS BIGINT) AS n_at_risk,
           CAST(c.n_evt AS BIGINT) AS n_events,
           CAST(c.n_all - c.n_evt AS BIGINT) AS n_censored_at,
           CAST(c.n_evt * 1000000 // (t.big_n - c.n_below) AS BIGINT)
             AS hazard_ppm
    FROM c, t
    WHERE c.n_evt > 0
    ORDER BY duration_hours
    """,
    tags=("events", "survival", "stats"),
    checkpointed=True,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.rank import with_global_cumsum

    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.unix_timestamp(F.min("ts")).alias("t0"),
        F.unix_timestamp(
            F.min(F.when(F.col("event_type") == "error", F.col("ts")))
        ).alias("te"),
        F.unix_timestamp(F.max("ts")).alias("tl"),
    )
    fail_h = F.floor((F.col("te") - F.col("t0")) / 3600)
    last_h = F.floor((F.col("tl") - F.col("t0")) / 3600)
    obs = u.select(
        F.when(F.col("te").isNotNull() & (fail_h <= 72), fail_h)
        .when(F.col("te").isNull() & (last_h < 72), last_h)
        .otherwise(F.lit(72))
        .alias("duration_h"),
        F.when(F.col("te").isNotNull() & (fail_h <= 72), 1)
        .otherwise(0)
        .alias("failed"),
    )
    tal = obs.groupBy("duration_h").agg(
        F.count("*").alias("n_all"), F.sum("failed").alias("n_evt")
    )
    tot = tal.agg(F.sum("n_all").alias("big_n"))
    c = with_global_cumsum(tal, ["duration_h"], "n_all", "cum_end").select(
        "duration_h",
        "n_all",
        "n_evt",
        (F.col("cum_end") - F.col("n_all")).alias("n_below"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .where(F.col("n_evt") > 0)
        .select(
            F.col("duration_h").cast("long").alias("duration_hours"),
            (F.col("big_n") - F.col("n_below")).cast("long").alias(
                "n_at_risk"
            ),
            F.col("n_evt").cast("long").alias("n_events"),
            (F.col("n_all") - F.col("n_evt")).cast("long").alias(
                "n_censored_at"
            ),
            F.expr("(n_evt * 1000000) div (big_n - n_below)")
            .cast("long")
            .alias("hazard_ppm"),
        )
        .orderBy("duration_hours")
    )
