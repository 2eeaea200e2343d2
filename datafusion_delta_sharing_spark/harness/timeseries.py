"""Time-series and event-stream queries: OHLC rollups, gap fill, TWAP,
funnels, retention cohorts, interval joins and merges, Markov
transitions, rolling distinct actives and medians, as-of joins with a
tolerance, EWMA, autocorrelation, seasonal decomposition and CUSUM
change points.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datafusion_delta_sharing_spark.functions.money import cents, cents_sql
from datafusion_delta_sharing_spark.harness import load_table
from datafusion_delta_sharing_spark.operators import (
    events as EV, intervals as IV, timeseries as TS)


def q_ohlc_rollup(spark, sf_dir):
    """Hourly OHLC rollup of event values per event type — the hypertable
    continuous-aggregate shape, one hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return TS.ohlc_rollup(ev, "ts", "event_type", "value", "event_id",
                          bucket_minutes=60)


def q_gap_fill(spark, sf_dir):
    """Linear-interpolated gap fill over sparse per-user purchase series
    (users subsampled so the hourly spine has real gaps to interpolate)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter((F.col("event_type") == "purchase")
                  & (F.col("user_id") % 97 == 0)))
    return TS.gap_fill_interpolate(ev, "ts", "user_id", "value",
                                   bucket_minutes=60, agg="max")


def q_twap(spark, sf_dir):
    """Hourly time-weighted average event value per user (subset)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id") < 50))
    return TS.twap(ev, "ts", "user_id", "value", "event_id",
                   bucket_minutes=60)


def q_funnel(spark, sf_dir):
    """view -> click -> purchase funnel (see operators/events.funnel)."""
    return EV.funnel(load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"))


def q_retention(spark, sf_dir):
    """Weekly retention cohorts (see operators/events.retention)."""
    return EV.retention(load_table(spark, sf_dir, "events"))


_IVL_USERS = 80
_IVL_GRAIN_US = 86_400_000_000  # 1-day grains over multi-week spans


def q_interval_join(spark, sf_dir):
    """Overlapping user-activity spans via the bucketed interval join; the
    oracle is the naive quadratic theta join, so the hash check proves
    the scalable rewrite is lossless."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id") < _IVL_USERS))
    spans = (ev.groupBy("user_id")
             .agg(F.min(F.expr("unix_micros(cast(ts as timestamp))"))
                  .alias("s"),
                  (F.max(F.expr("unix_micros(cast(ts as timestamp))")) + 1)
                  .alias("e")))
    return IV.interval_overlap_join(spans, spans, "user_id", "s", "e",
                                    grain_us=_IVL_GRAIN_US)


_SPANS_SQL = f"""(
    SELECT user_id,
           CAST(min(epoch_us(ts)) AS BIGINT) AS s,
           CAST(max(epoch_us(ts)) + 1 AS BIGINT) AS e
    FROM events WHERE user_id < {_IVL_USERS}
    GROUP BY user_id
)"""


def q_event_transitions(spark, sf_dir):
    """Markov transition counts per user stream (see
    operators/events.transitions)."""
    return EV.transitions(load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"))


def q_rolling_wau(spark, sf_dir):
    """Trailing-7-day distinct active users per day (see
    operators/events.rolling_wau)."""
    return EV.rolling_wau(load_table(spark, sf_dir, "events"))


def q_rolling_median(spark, sf_dir):
    """Exact rolling median of event values per user over the trailing 7
    events (``percentile(0.5)`` over a row frame) — the robust-smoothing
    counterpart of the mean-based ``window_running``. Partitioned by
    user_id: per-entity state only, no global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-6, 0))
    return (ev.select(
        "event_id", "user_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 6)
        .alias("med7"))
        .filter(F.col("event_id") < 2000))


_ROLLING_MEDIAN_SQL = """
    SELECT event_id, user_id,
           round(median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
    FROM events
    QUALIFY event_id < 2000
"""


# -- interval merge ---------------------------------------------------------
_IVL_DUR_US = 600_000_000  # each event opens a 10-minute activity interval


def q_interval_merge(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("s"),
        (F.expr("unix_micros(cast(ts as timestamp))")
         + F.lit(_IVL_DUR_US)).alias("e"))
    return IV.merge_intervals(iv, "user_id", "s", "e")


_IVL_SRC_SQL = f"""(
    SELECT user_id,
           CAST(epoch_us(ts) AS BIGINT) AS s,
           CAST(epoch_us(ts) + {_IVL_DUR_US} AS BIGINT) AS e
    FROM events
)"""

# -- forward as-of with tolerance -------------------------------------------

_ASOF_MINUTES = 15


def q_asof_tolerance(spark, sf_dir):
    """Each error event's next purchase by the same user within 15
    minutes (operators/events.next_within)."""
    return EV.next_within(load_table(spark, sf_dir, "events"), "error",
                          "purchase", _ASOF_MINUTES)


# -- EWMA smoothing --------------------------------------------------------------
_EWMA_ALPHA, _EWMA_WINDOW, _EWMA_USERS = 0.25, 8, 40

_EWMA_SRC_SQL = (f"(SELECT user_id, event_id, ts, value FROM events "
                 f"WHERE user_id < {_EWMA_USERS} "
                 f"AND value IS NOT NULL)")


def q_ewma_smooth(spark, sf_dir):
    """Finite-window EWMA (alpha=.25, last 8 observations) of each
    user's event values in time order — integer cents × dyadic weights,
    so both engines' arithmetic is bit-identical (see operators/
    timeseries.ewma). User subset bounds the driver row; the operator
    itself is one key-shuffle at any scale."""
    ev = (load_table(spark, sf_dir, "events")
          .filter((F.col("user_id") < _EWMA_USERS)
                  & F.col("value").isNotNull()))
    return TS.ewma(ev, "ts", "user_id", cents(F.col("value")),
                   "event_id", alpha=_EWMA_ALPHA, window=_EWMA_WINDOW)


# -- autocorrelation ---------------------------------------------------------------
_ACF_EPOCH = "1992-01-01"
_ACF_MAX_LAG = 7

# the daily order count both modulated series are built from
_DAILY_ORDERS_SQL = f"""
    FROM (
        SELECT CAST(date_diff('day', DATE '{_ACF_EPOCH}',
                              CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS day,
               count(*) AS cnt
        FROM orders GROUP BY 1
    )
"""
# weekly-modulated daily order count: the (1 + day%7) factor injects an
# exact 7-day cycle strong enough to beat the Poisson count noise at
# every SF (measured acf(7) ≈ 0.57 at sf0.01 vs |acf(1..6)| ≤ 0.28; the
# earlier (10 + day%7) spelling left acf(7) at 0.14 — modulation sigma
# must exceed the count-noise sigma, r8 session). day%7 from the
# integer day number is engine-portable (dayofweek builtins disagree
# on their 0/1 origin across engines).
_ACF_SERIES_SQL = f"""
    SELECT day, CAST(cnt * (1 + day % 7) AS BIGINT) AS x{_DAILY_ORDERS_SQL}"""


def _daily_orders(spark, sf_dir):
    day = F.datediff(F.col("o_orderdate"), F.lit(_ACF_EPOCH))
    return (load_table(spark, sf_dir, "orders")
            .groupBy(day.cast("bigint").alias("day"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def weekly_order_series(spark, sf_dir):
    """THE weekly-modulated daily order-count series (shared by acf_lags
    and seasonal_decompose so the modulation calibration lives in
    exactly one place)."""
    return _daily_orders(spark, sf_dir).select(
        "day", (F.col("cnt") * (1 + F.col("day") % 7))
        .cast("bigint").alias("x"))


def q_acf_lags(spark, sf_dir):
    """ACF of the weekly-modulated daily order count at lags 0..7:
    lag 0 must be exactly 1.0 (the formula's self-attestation) and the
    injected weekly cycle puts lag 7 far above lags 1..6 (measured
    0.57 vs |others| ≤ 0.28 at sf0.01 — the sawtooth's own harmonics
    fill the middle lags). Integer headroom of the n²-scaled sums
    for THIS series: the dominant term n·S·(A+B) ≈ 1.7e17 at sf1
    (n ≈ 2400 days, S ≈ 6e6) — a ~50× margin against int64; the term
    grows ~sf², so exact through roughly sf7. Beyond that, requantize:
    ACF is scale-invariant, so dividing x by c before integerizing
    restores headroom by c² without changing any result — see
    operators/timeseries._acf_tail_sql."""
    return TS.acf(spark, weekly_order_series(spark, sf_dir), "day",
                  "x", _ACF_MAX_LAG)


# -- seasonal decomposition ---------------------------------------------------------
_SD_PERIOD = 7


def q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition (period 7) of the weekly-
    modulated daily order count: the injected (1 + day%7) cycle must
    land in the seasonal component, leaving the residual small. Edge
    days (incomplete centered window) carry NULL trend/resid by the
    classical definition."""
    return TS.seasonal_decompose(
        spark, weekly_order_series(spark, sf_dir), "day", "x",
        _SD_PERIOD)


# -- CUSUM changepoint ---------------------------------------------------------------

_CU_SHIFT_DAY, _CU_SHIFT = 1200, 200


def q_cusum_changepoint(spark, sf_dir):
    """Page's CUSUM deviation over the daily order count with an
    injected +200 level shift from day 1200: |nS_t| must peak AT the
    shift boundary (the flagged row), exact integers end-to-end. At
    sf0.01 the natural series is ~6/day, so the shift dominates and
    the peak day is stable across SFs."""
    series = _daily_orders(spark, sf_dir).select(
        "day", (F.col("cnt") + F.when(F.col("day") >= _CU_SHIFT_DAY,
                                      _CU_SHIFT).otherwise(0))
        .cast("bigint").alias("x"))
    return TS.cusum_deviation(spark, series, "day", "x")


_CU_SERIES_SQL = f"""
    SELECT day, CAST(cnt + CASE WHEN day >= {_CU_SHIFT_DAY}
                               THEN {_CU_SHIFT} ELSE 0 END AS BIGINT)
               AS x{_DAILY_ORDERS_SQL}"""


ORACLES = {
    "ohlc_rollup": TS.ohlc_rollup_sql(
        "events", "ts", "event_type", "value", "event_id",
        bucket_minutes=60),
    "gap_fill": TS.gap_fill_interpolate_sql(
        "(SELECT * FROM events WHERE event_type = 'purchase'"
        " AND user_id % 97 = 0)",
        "ts", "user_id", "value", bucket_minutes=60, agg="max"),
    "twap": TS.twap_sql("(SELECT * FROM events WHERE user_id < 50)",
                        "ts", "user_id", "value", "event_id",
                        bucket_minutes=60),
    "funnel": EV.funnel_sql("events"),
    "retention": EV.retention_sql("events"),
    "interval_join": IV.interval_overlap_join_sql(
        _SPANS_SQL, _SPANS_SQL, "user_id", "s", "e"),
    "event_transitions": EV.transitions_sql("events"),
    "rolling_wau": EV.rolling_wau_sql("events"),
    "rolling_median": _ROLLING_MEDIAN_SQL,
    "interval_merge": IV.merge_intervals_sql(
        _IVL_SRC_SQL, "user_id", "s", "e"),
    "asof_tolerance": EV.next_within_sql("events", "error", "purchase",
                                         _ASOF_MINUTES),
    "ewma_smooth": TS.ewma_sql(
        _EWMA_SRC_SQL, "ts", "user_id", cents_sql("value"), "event_id",
        alpha=_EWMA_ALPHA, window=_EWMA_WINDOW),
    "acf_lags": TS.acf_sql(_ACF_SERIES_SQL, "day", "x", _ACF_MAX_LAG),
    "seasonal_decompose": TS.seasonal_decompose_sql(
        _ACF_SERIES_SQL, "day", "x", _SD_PERIOD),
    "cusum_changepoint": TS.cusum_deviation_sql(_CU_SERIES_SQL, "day",
                                                "x"),
}
