"""Event-stream analytics: ordered funnels, weekly retention cohorts,
Markov next-event transitions, trailing-week distinct actives and the
forward as-of join with a tolerance.

Each operator reads an event frame with ``user_id``, ``event_type``,
``ts`` (and ``event_id`` where order ties need breaking) and has a DuckDB
twin (``*_sql``) over a SQL source with the same columns, the repo's
oracle convention. Null ordering is pinned on both sides: Spark sorts
nulls first, DuckDB last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from datafusion_delta_sharing_spark.functions.money import cents_sql


def funnel(ev: DataFrame) -> DataFrame:
    """view -> click -> purchase funnel: users reaching each stage in
    order (later stages must happen at-or-after the previous stage's
    first occurrence)."""
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") >= F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") >= F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    stages = [("1_view", v), ("2_click_after_view", c),
              ("3_purchase_after_click", p)]
    out = None
    for name, df in stages:
        row = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users")
        out = row if out is None else out.unionByName(row)
    return out


def funnel_sql(source: str) -> str:
    """DuckDB mirror of :func:`funnel` over a SQL source."""
    return f"""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM {source}
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM {source} e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM {source} e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT '2_click_after_view', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM p
"""


def retention(ev: DataFrame) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-activity week,
    distinct active users per (cohort week, weeks since cohort)."""
    ev = ev.select(
        "user_id",
        F.date_trunc("week", "ts").cast("timestamp_ntz").alias("wk"))
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    week_s = 7 * 24 * 3600
    return (ev.join(first, "user_id")
            .withColumn(
                "weeks_later",
                F.expr("(unix_seconds(cast(wk as timestamp))"
                       " - unix_seconds(cast(cohort_wk as timestamp)))"
                       f" div {week_s}"))
            .groupBy("cohort_wk", "weeks_later")
            .agg(F.countDistinct("user_id").alias("n_active")))


def retention_sql(source: str) -> str:
    """DuckDB mirror of :func:`retention` over a SQL source."""
    return f"""
    WITH acts AS (
        SELECT user_id, date_trunc('week', ts) AS wk FROM {source}
    ), first AS (
        SELECT user_id, min(wk) AS cohort_wk FROM acts GROUP BY user_id
    )
    SELECT f.cohort_wk,
           (CAST(epoch(a.wk) AS BIGINT) - CAST(epoch(f.cohort_wk) AS BIGINT))
               // 604800 AS weeks_later,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM acts a JOIN first f ON a.user_id = f.user_id
    GROUP BY 1, 2
"""


def transitions(ev: DataFrame) -> DataFrame:
    """Markov transition counts: (event_type -> next event_type) per user
    stream, plus terminal transitions to '<end>'."""
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
    return (ev.withColumn("next_type",
                          F.coalesce(F.lead("event_type").over(w),
                                     F.lit("<end>")))
            .groupBy(F.col("event_type").alias("from_type"), "next_type")
            .agg(F.count(F.lit(1)).alias("n")))


def transitions_sql(source: str) -> str:
    """DuckDB mirror of :func:`transitions` over a SQL source."""
    next_type = f"""
    SELECT event_type AS from_type,
           coalesce(lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts NULLS LAST, event_id NULLS LAST),
                    '<end>') AS next_type
    FROM {source}
"""
    return f"""
    SELECT from_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM ({next_type})
    GROUP BY from_type, next_type
"""


def rolling_wau(ev: DataFrame) -> DataFrame:
    """Trailing-7-day distinct active users per day. Distinct-count over a
    sliding window can't be expressed as a window function; the scalable
    form is (user, day) dedup -> day-spine range join over the trailing
    week -> per-day distinct count. Days are epoch-day integers so both
    engines bucket identically."""
    # floor(a/b), not div: div truncates toward zero and would bucket
    # pre-1970 timestamps differently from DuckDB's flooring //
    acts = (ev.select("user_id",
                      F.floor(F.expr("unix_micros(cast(ts as timestamp))")
                              / F.lit(86_400_000_000)).cast("long")
                      .alias("day"))
            .distinct())
    days = acts.select("day").distinct()
    return (days.alias("d")
            .join(acts.alias("a"),
                  (F.col("a.day") >= F.col("d.day") - 6)
                  & (F.col("a.day") <= F.col("d.day")))
            .groupBy(F.col("d.day").alias("day"))
            .agg(F.countDistinct("a.user_id").alias("wau")))


def rolling_wau_sql(source: str) -> str:
    """DuckDB mirror of :func:`rolling_wau` over a SQL source."""
    return f"""
    WITH acts AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM {source}
    ), days AS (SELECT DISTINCT day FROM acts)
    SELECT d.day AS day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN acts a ON a.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
"""


def next_within(ev: DataFrame, from_type: str, to_type: str,
                minutes: int) -> DataFrame:
    """Forward as-of join with a tolerance: for each ``from_type`` event,
    the first ``to_type`` event of the same user strictly after it and at
    most ``minutes`` later (NULL when none) — an equi-join on the user
    with the time window as residual, fan-out bounded by events per user
    per window."""
    src = (ev.filter(F.col("event_type") == from_type)
           .select("event_id", "user_id", "ts"))
    dst = (ev.filter(F.col("event_type") == to_type)
           .select(F.col("user_id").alias("p_user"),
                   F.col("ts").alias("p_ts")))
    joined = src.join(
        dst,
        (src.user_id == dst.p_user)
        & (dst.p_ts > src.ts)
        & (dst.p_ts <= src.ts + F.expr(f"INTERVAL {minutes} minutes")),
        "left")
    return (joined.groupBy("event_id", "user_id", "ts")
            .agg(F.min("p_ts").alias(f"next_{to_type}_ts")))


def next_within_sql(source: str, from_type: str, to_type: str,
                    minutes: int) -> str:
    """DuckDB mirror of :func:`next_within` over a SQL source."""
    return f"""
        SELECT e.event_id, e.user_id, e.ts, min(p.ts) AS next_{to_type}_ts
        FROM (SELECT event_id, user_id, ts FROM {source}
              WHERE event_type = '{from_type}') e
        LEFT JOIN (SELECT user_id, ts FROM {source}
                   WHERE event_type = '{to_type}') p
          ON p.user_id = e.user_id
         AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL {minutes} MINUTE
        GROUP BY e.event_id, e.user_id, e.ts
    """


CHANGE_POINTS_SCHEMA = "user_id bigint, event_id bigint, event_type string"


class ChangePoints:
    """Python UDTF over a TABLE argument PARTITIONED BY user_id and
    ORDERED BY (ts, event_id): emits each event whose type differs from
    the previous event of its user (a fresh instance per partition, rows
    arriving in the declared order) as a :data:`CHANGE_POINTS_SCHEMA`
    row."""

    def __init__(self):
        self.prev = None

    def eval(self, row):
        if self.prev is None or row.event_type != self.prev:
            yield (row.user_id, row.event_id, row.event_type)
        self.prev = row.event_type


def session_totals_sql(source_sql: str, gap_s: int) -> str:
    """Gap-based sessions per user as SQL islands (lag + running sum; a
    gap of ``gap_s`` seconds or more opens a session): per session its
    start, event count and integer-cents value total — the DuckDB mirror
    of Spark's ``session_window`` aggregate, batch or streaming."""
    return f"""
        SELECT user_id, min(ts) AS session_start,
               count(*) AS n_events,
               CAST(sum({cents_sql('value')}) AS BIGINT)
                   AS session_cents
        FROM (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS session_id
            FROM (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id))
                            >= {gap_s}
                            THEN 1 ELSE 0 END AS new_session
                FROM {source_sql}
            )
        )
        GROUP BY user_id, session_id
    """
