"""Time-series rollup operators (hypertable-style continuous aggregates).

Downsampling an event stream into fixed buckets with open/high/low/close
semantics is the canonical time-series materialization. The scalable form
is a single groupBy on (entity, bucket): open/close are min_by/max_by on a
unique (ts, id) ordering struct — deterministic even when two events share
a timestamp — so the whole rollup is one shuffle with map-side partial
aggregation, never a window over the full series.

Both engines order open/close by the same zero-padded "<epoch_us>-<id>"
string (lexicographic == numeric for fixed-width non-negative numbers):
DuckDB's arg_min/arg_max only take scalar ordering keys, and the shared
rendering guarantees the two engines break ts ties identically. The epoch
is offset by 2^62 before rendering so pre-1970 (negative-epoch) rows keep
lexicographic == numeric — a bare %020d would order "-99" before "-100".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_SIGN_OFFSET = 1 << 62  # added before %020d rendering; see module docstring


def _bucket(ts_col: str, secs: int):
    """Sign-safe bucket floor shared by every rollup here. floor(a/b),
    not `a div b`: Spark's div truncates toward zero while DuckDB's //
    floors — they disagree for pre-1970 (negative-epoch) timestamps. The
    double division is exact for |epoch_us| < 2^53 (~±285 years), and
    float seconds would round vs truncate differently at bucket edges,
    hence the integer-µs base. ONE definition (+ _bucket_sql) so the
    four hand-copies cannot drift (r5 review)."""
    return F.timestamp_seconds(
        F.floor(F.expr(f"unix_micros(cast({ts_col} as timestamp))")
                / F.lit(secs * 1_000_000)).cast("long") * secs)


def _bucket_sql(ts_col: str, secs: int) -> str:
    """DuckDB mirror of :func:`_bucket` (NTZ epoch arithmetic, NOT
    to_timestamp(...)::TIMESTAMP — that cast goes through TIMESTAMPTZ and
    shifts by DuckDB's session TimeZone; Spark is pinned UTC)."""
    return (f"(TIMESTAMP '1970-01-01 00:00:00'"
            f" + ((epoch_us({ts_col}) // {secs * 1_000_000})"
            f" * {secs}) * INTERVAL 1 SECOND)")


def ohlc_rollup(df: DataFrame, ts_col: str, key_col: str, val_col: str,
                id_col: str, bucket_minutes: int = 60) -> DataFrame:
    """(key, bucket_start, n, open, high, low, close, total) per entity and
    time bucket. One hash aggregate; open/close deterministic via the
    unique (ts, id) ordering."""
    secs = bucket_minutes * 60
    bucket = _bucket(ts_col, secs)
    # sign-safe ordering key: + 2^62 keeps the rendered number positive
    # for any representable epoch (|epoch_us| < 2^55), so lexicographic
    # order == numeric order even for pre-1970 timestamps (ADVICE r3).
    # ids are non-negative by contract and rendered at the FULL int64
    # width (19 digits): the old %012d ceiling silently broke
    # lexicographic==numeric above 1e12 — snowflake-style ids hit that
    # routinely, picking the wrong open/close on timestamp ties (r5
    # review; both engines broke identically, invisible to the oracle)
    order = F.format_string(
        "%020d-%019d",
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        + F.lit(_SIGN_OFFSET),
        F.col(id_col))
    return (df.groupBy(F.col(key_col).alias("key"),
                       bucket.cast("timestamp_ntz").alias("bucket_start"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min_by(val_col, order), 2).alias("open"),
                 F.round(F.max(val_col), 2).alias("high"),
                 F.round(F.min(val_col), 2).alias("low"),
                 F.round(F.max_by(val_col, order), 2).alias("close"),
                 F.round(F.sum(val_col), 2).alias("total")))


def ohlc_rollup_sql(source_sql: str, ts_col: str, key_col: str,
                    val_col: str, id_col: str,
                    bucket_minutes: int = 60) -> str:
    """DuckDB mirror of ohlc_rollup."""
    secs = bucket_minutes * 60
    bucket = _bucket_sql(ts_col, secs)
    order = (f"printf('%020d-%019d', epoch_us({ts_col})"
             f" + {_SIGN_OFFSET}, {id_col})")
    return f"""
    SELECT {key_col} AS key,
           {bucket} AS bucket_start,
           CAST(count(*) AS BIGINT) AS n,
           round(arg_min({val_col}, {order}), 2) AS open,
           round(max({val_col}), 2) AS high,
           round(min({val_col}), 2) AS low,
           round(arg_max({val_col}, {order}), 2) AS close,
           round(sum({val_col}), 2) AS total
    FROM {source_sql}
    GROUP BY 1, 2
    """


def twap(df: DataFrame, ts_col: str, key_col: str, val_col: str,
         id_col: str, bucket_minutes: int = 60) -> DataFrame:
    """Time-weighted average per (key, bucket): each observation holds its
    value until the next one (step interpolation), and the bucket average
    weights values by held-microseconds inside the bucket. The integral
    runs entirely in integers — value cents x microsecond overlaps,
    floor-divided — so the oracle is hash-exact (a float integral would
    hit the same accumulation-order ULP traps as the lerp in
    gap_fill_interpolate). Intervals after the last observation are
    dropped (no extrapolation).

    Scale: one window per key for the interval ends, one explode over the
    buckets each interval spans (bounded by interval length / bucket),
    one hash aggregate. Output: (key, bucket_start, twap_num, twap_den,
    twap_cents) where twap_cents = floor(twap_num / twap_den) in exact
    integer arithmetic — sign-safe, matching DuckDB's // even for
    negative values or pre-1970 epochs."""
    us = bucket_minutes * 60 * 1_000_000
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy("t0", "id")
    iv = (df.select(F.col(key_col).alias("key"),
                    F.round(F.col(val_col) * 100).cast("long").alias("vc"),
                    F.expr(f"unix_micros(cast({ts_col} as timestamp))")
                    .alias("t0"),
                    F.col(id_col).alias("id"))
          .withColumn("t1", F.lead("t0").over(w))
          .filter(F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))))
    coded = (iv.withColumn("bk", F.explode(F.sequence(
        F.floor(F.col("t0") / F.lit(us)).cast("long"),
        F.floor((F.col("t1") - 1) / F.lit(us)).cast("long")))))
    overlap = (F.least(F.col("t1"), (F.col("bk") + 1) * F.lit(us))
               - F.greatest(F.col("t0"), F.col("bk") * F.lit(us)))
    return (coded.withColumn("_ov", overlap)
            .groupBy("key", "bk")
            .agg(F.sum(F.col("vc") * F.col("_ov")).alias("twap_num"),
                 F.sum("_ov").alias("twap_den"))
            .select("key",
                    F.timestamp_seconds(F.col("bk")
                                        * (bucket_minutes * 60))
                    .cast("timestamp_ntz").alias("bucket_start"),
                    "twap_num", "twap_den",
                    # flooring integer division (DuckDB // semantics, den
                    # always > 0): subtracting pmod makes the numerator an
                    # exact multiple, so truncating `div` == floor — exact
                    # for negative values too, with no double round-trip
                    # (ADVICE r3: bare `div` truncates toward zero)
                    F.expr("(twap_num - pmod(twap_num, twap_den))"
                           " div twap_den").alias("twap_cents")))


def twap_sql(source_sql: str, ts_col: str, key_col: str, val_col: str,
             id_col: str, bucket_minutes: int = 60) -> str:
    """DuckDB mirror of twap."""
    us = bucket_minutes * 60 * 1_000_000
    secs = bucket_minutes * 60
    return f"""
    WITH ev AS (
        SELECT {key_col} AS key,
               CAST(round({val_col} * 100) AS BIGINT) AS vc,
               epoch_us({ts_col}) AS t0,
               lead(epoch_us({ts_col})) OVER (
                   PARTITION BY {key_col}
                   ORDER BY epoch_us({ts_col}), {id_col}) AS t1
        FROM {source_sql}
    ), iv AS (
        SELECT * FROM ev WHERE t1 IS NOT NULL AND t1 > t0
    ), ex AS (
        SELECT key, vc, t0, t1,
               unnest(generate_series(t0 // {us}, (t1 - 1) // {us})) AS bk
        FROM iv
    ), agg AS (
        SELECT key, bk,
               CAST(sum(vc * (least(t1, (bk + 1) * {us})
                              - greatest(t0, bk * {us}))) AS BIGINT)
                   AS twap_num,
               CAST(sum(least(t1, (bk + 1) * {us})
                        - greatest(t0, bk * {us})) AS BIGINT) AS twap_den
        FROM ex GROUP BY key, bk
    )
    SELECT key,
           (TIMESTAMP '1970-01-01 00:00:00'
            + (bk * {secs}) * INTERVAL 1 SECOND) AS bucket_start,
           twap_num, twap_den,
           twap_num // twap_den AS twap_cents
    FROM agg
    """


def gap_fill_interpolate(df: DataFrame, ts_col: str, key_col: str,
                         val_col: str, bucket_minutes: int = 60,
                         agg: str = "avg") -> DataFrame:
    """Per-key time spine with linear interpolation across gaps: bucket
    observations (mean per bucket), generate each key's own bucket range
    with sequence+explode (JVM-side, no driver loop), then fill missing
    buckets by interpolating between the previous and next observed points
    (edges hold the nearest observation).

    Scale: observations aggregate in one shuffle; the spine explode is
    narrow; the forward/backward scan is a window per key — state is one
    struct per row, and keys partition the work. The windows sort within
    each key's spine, which is bounded by the time range, not the corpus.

    Exactness: the interpolation runs in integer "cents" (values scaled by
    100 and floor-divided on the exact second offsets), because a lerp in
    doubles lands on .5-rounding boundaries where engines legitimately
    disagree by one ULP (observed: DuckDB's round() and Spark's
    BigDecimal round can return doubles one ULP apart for the same
    input). Integer math is bit-exact on every engine; requires
    non-negative values (floor vs truncate agree). ``agg`` picks the
    bucket representative (avg/min/max; min/max are accumulation-order-
    independent and therefore safest cross-engine).
    """
    from pyspark.sql import Window

    secs = bucket_minutes * 60
    bucket = _bucket(ts_col, secs).cast("timestamp_ntz")
    agg_fn = {"avg": F.avg, "min": F.min, "max": F.max}[agg]
    obs = (df.groupBy(F.col(key_col).alias("key"), bucket.alias("h"))
           .agg(F.round(agg_fn(val_col) * 100).cast("bigint").alias("vc")))
    spine = (obs.groupBy("key")
             .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
             .select("key", F.explode(F.sequence(
                 "lo", "hi", F.expr(f"INTERVAL {secs} SECONDS"))).alias("h")))
    joined = spine.join(obs, ["key", "h"], "left")
    point = F.when(F.col("vc").isNotNull(),
                   F.struct(F.unix_timestamp("h").alias("t"), F.col("vc")))
    w_ff = (Window.partitionBy("key").orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_bf = (Window.partitionBy("key").orderBy("h")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    marked = (joined
              .withColumn("ff", F.last(point, ignorenulls=True).over(w_ff))
              .withColumn("bf", F.first(point, ignorenulls=True).over(w_bf))
              .withColumn("tt", F.unix_timestamp("h")))
    lerp = F.expr("(ff.vc * (bf.t - tt) + bf.vc * (tt - ff.t))"
                  " div (bf.t - ff.t)")
    cents = (F.when(F.col("vc").isNotNull(), F.col("vc"))
             .when(F.col("ff").isNull(), F.col("bf.vc"))
             .when(F.col("bf").isNull(), F.col("ff.vc"))
             .otherwise(lerp))
    return marked.select(
        "key", "h", F.col("vc").isNotNull().alias("observed"),
        cents.alias("filled_cents"),
        (cents / 100.0).alias("filled"))


def gap_fill_interpolate_sql(source_sql: str, ts_col: str, key_col: str,
                             val_col: str, bucket_minutes: int = 60,
                             agg: str = "avg") -> str:
    """DuckDB mirror of gap_fill_interpolate (IGNORE NULLS windows +
    unnest(generate_series) per-key spine)."""
    secs = bucket_minutes * 60
    bucket = _bucket_sql(ts_col, secs)
    pt = ("CASE WHEN vc IS NOT NULL THEN struct_pack("
          "t := CAST(epoch(h) AS BIGINT), vc := vc) END")
    return f"""
    WITH obs AS (
        SELECT {key_col} AS key, {bucket} AS h,
               CAST(round({agg}({val_col}) * 100) AS BIGINT) AS vc
        FROM {source_sql} GROUP BY 1, 2
    ), bounds AS (
        SELECT key, min(h) AS lo, max(h) AS hi FROM obs GROUP BY key
    ), spine AS (
        SELECT key, unnest(generate_series(lo, hi,
            INTERVAL {secs} SECONDS)) AS h
        FROM bounds
    ), joined AS (
        SELECT s.key, s.h, o.vc
        FROM spine s LEFT JOIN obs o ON s.key = o.key AND s.h = o.h
    ), marked AS (
        SELECT key, h, vc, CAST(epoch(h) AS BIGINT) AS tt,
          last_value({pt} IGNORE NULLS) OVER (PARTITION BY key ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
          first_value({pt} IGNORE NULLS) OVER (PARTITION BY key ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bf
        FROM joined
    )
    SELECT key, h, vc IS NOT NULL AS observed,
      CASE WHEN vc IS NOT NULL THEN vc
           WHEN ff IS NULL THEN (bf).vc
           WHEN bf IS NULL THEN (ff).vc
           ELSE ((ff).vc * ((bf).t - tt) + (bf).vc * (tt - (ff).t))
                // ((bf).t - (ff).t)
      END AS filled_cents,
      CASE WHEN vc IS NOT NULL THEN vc
           WHEN ff IS NULL THEN (bf).vc
           WHEN bf IS NULL THEN (ff).vc
           ELSE ((ff).vc * ((bf).t - tt) + (bf).vc * (tt - (ff).t))
                // ((bf).t - (ff).t)
      END / 100.0 AS filled
    FROM marked
    """


# -- exponentially weighted moving average -------------------------------------

def _ewma_weights(alpha: float, window: int) -> list[float]:
    """w_j = (1-alpha)^j for lag j. With a dyadic alpha (0.25, 0.5) every
    weight is an exact double AND an exact short decimal literal, so the
    generated SQL is bit-identical arithmetic on both engines."""
    return [(1.0 - alpha) ** j for j in range(window)]


def ewma(df: DataFrame, ts_col: str, key_col: str, val_int: F.Column,
         id_col: str, alpha: float = 0.25, window: int = 8) -> DataFrame:
    """Exponentially weighted moving average over the last ``window``
    observations per key (finite-window EWMA — the streaming-friendly
    truncation; the tail weight beyond lag 7 at alpha=.25 is 0.75^8 ≈
    0.1 relative and the truncated form is a DEFINED estimator, not an
    approximation of the infinite one).

    ``val_int`` must be an exact integer expression (cents): each
    ``lag_j * w_j`` product is then exact in double (integer * dyadic
    weight), the left-to-right sum of ``window`` exact terms is exact,
    and the single normalizing division is the only rounded op — both
    engines compute identical bits. Rows with fewer than ``window``
    predecessors normalize by the weights actually present.

    One shuffle on ``key_col``; per-key in-partition window of fixed
    width — bounded state, no skew risk beyond key cardinality (100 TB:
    repartition on key; per-row state stays O(window)).

    Returns (key, id, ts, n_obs, ewma) with ewma rounded to 6.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    weights = _ewma_weights(alpha, window)
    lags = [F.lag(val_int, j).over(w) for j in range(window)]
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(window):
        num = num + F.coalesce(lags[j].cast("double") * F.lit(weights[j]),
                               F.lit(0.0))
        den = den + F.when(lags[j].isNotNull(),
                           F.lit(weights[j])).otherwise(F.lit(0.0))
    n_obs = sum((F.when(lags[j].isNotNull(), 1).otherwise(0)
                 for j in range(window)), F.lit(0))
    return df.select(
        F.col(key_col), F.col(id_col), F.col(ts_col),
        n_obs.cast("int").alias("n_obs"),
        F.round(num / den, 6).alias("ewma"))


def ewma_sql(source_sql: str, ts_col: str, key_col: str,
             val_int_sql: str, id_col: str, alpha: float = 0.25,
             window: int = 8) -> str:
    """DuckDB mirror of :func:`ewma`: the same lag/weight/coalesce
    derivation in the same left-to-right order (repr() of dyadic weights
    round-trips exactly)."""
    weights = _ewma_weights(alpha, window)
    over = (f"OVER (PARTITION BY {key_col} "
            f"ORDER BY {ts_col}, {id_col})")
    num = " + ".join(
        f"coalesce(CAST(lag(v, {j}) {over} AS DOUBLE) * {weights[j]!r}, "
        f"0.0)" for j in range(window))
    den = " + ".join(
        f"(CASE WHEN lag(v, {j}) {over} IS NOT NULL "
        f"THEN {weights[j]!r} ELSE 0.0 END)" for j in range(window))
    n_obs = " + ".join(
        f"(CASE WHEN lag(v, {j}) {over} IS NOT NULL THEN 1 ELSE 0 END)"
        for j in range(window))
    return f"""
        SELECT {key_col}, {id_col}, {ts_col},
               CAST({n_obs} AS INTEGER) AS n_obs,
               round(({num}) / ({den}), 6) AS ewma
        FROM (SELECT {key_col}, {id_col}, {ts_col},
                     {val_int_sql} AS v
              FROM {source_sql})
    """


# -- autocorrelation ----------------------------------------------------------

def _acf_tail_sql(spine: str, perlag: str, scalars: str) -> str:
    """Shared ACF tail over a lag spine (l = 0..max_lag, every lag
    present), a per-lag sums relation (l, m_pairs, p, a, b) that may
    MISS lags with zero pairs (the pair join produced no rows), and a
    one-row scalars relation (n, s, sxx). The spine LEFT JOIN restores
    the missing lags as (lag, 0, NULL) — the operator's contract is one
    row per lag, and an ACF over zero pairs is undefined, not absent.
    The n²-scaled centered formula keeps EVERYTHING integer until one
    final division —

        num·n² = n²·Σx_t·x_{t+l} − n·S·(A_l + B_l) + m_l·S²
        den·n² = n²·Σx²          − n·S²

    so both engines divide the same two exact integers (lag 0
    reproduces num = den, i.e. acf = 1, exactly — the built-in
    attestation).

    Integer headroom: the largest intermediate is n·S·(A_l+B_l) ≈
    2·n·S² — with the registry's weekly-modulated order-count series
    (n ≈ 2400 days, S ≈ 6e6 at sf1) that is 2·2400·(6e6)² ≈ 1.7e17, a
    ~50× margin against int64 (ADVICE r8 reconciled an earlier stale
    ~2.8e18/~3× claim here to acf_lags' measured figure). The
    term grows ~sf² (S scales with sf, n is the fixed day span), so
    exact through roughly sf7, overflowing beyond that.
    ACF is SCALE-INVARIANT, so the right move at larger SFs
    is to requantize the series (divide x by c before integerizing:
    num and den both shrink by c², the ratio is unchanged) — that
    preserves the exact-integer contract at any SF. DuckDB's HUGEINT
    sums make IT safe regardless; Spark BIGINT is the binding side."""
    return f"""
        SELECT CAST(l AS BIGINT) AS lag,
               CAST(coalesce(m_pairs, 0) AS BIGINT) AS m_pairs,
               CASE WHEN den = 0 OR coalesce(m_pairs, 0) = 0 THEN NULL
                    ELSE CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
               END AS acf
        FROM (
            SELECT l, m_pairs,
                   n * n * coalesce(p, 0)
                       - n * s * (coalesce(a, 0) + coalesce(b, 0))
                       + coalesce(m_pairs, 0) * s * s AS num,
                   n * n * sxx - n * s * s AS den
            FROM {spine} LEFT JOIN {perlag} USING (l)
            CROSS JOIN {scalars}
        )
    """


def acf(spark, series: DataFrame, day_col: str, x_col: str,
        max_lag: int) -> DataFrame:
    """Sample autocorrelation of an integer-valued daily series at lags
    0..max_lag, pairing on DAY ARITHMETIC (day+lag equi-join), not row
    offsets — calendar gaps simply contribute no pair (the
    pairs-available estimator); the mean/variance come from the full
    series. Returns (lag, m_pairs, acf); lag 0 is exactly 1.0 whenever
    the series is non-constant.

    Scale: the series is already aggregated (one row per day); the lag
    fan-out is an explode of max_lag+1 literals followed by ONE
    equi-join on the day key and one hash aggregate on the lag —
    day-count-sized work however large the raw table was. The one-row
    scalars frame broadcasts (the usual scalar crossJoin). Lags whose
    pair join is empty (every day+lag lands in a calendar gap) still
    emit a (lag, 0, NULL) row via the spine left-join. Integer
    headroom and the requantization rule live in _acf_tail_sql."""
    # the series is day-count-sized after the caller's aggregate;
    # materializing it once stops Spark re-deriving the raw-table
    # aggregate for the three consumers below (pair left/right sides
    # and the scalars row) — 1 raw scan instead of 3
    series = series.localCheckpoint(eager=False)
    lags = F.explode(
        F.array([F.lit(i) for i in range(max_lag + 1)])).alias("l")
    left = series.select(F.col(day_col).alias("d0"),
                         F.col(x_col).alias("x0"), lags)
    right = series.select(F.col(day_col).alias("d1"),
                          F.col(x_col).alias("x1"))
    pairs = (left.withColumn("d1", F.col("d0") + F.col("l"))
             .join(right, "d1"))
    perlag = pairs.groupBy("l").agg(
        F.sum(F.col("x0") * F.col("x1")).alias("p"),
        F.sum("x0").alias("a"), F.sum("x1").alias("b"),
        F.count(F.lit(1)).alias("m_pairs"))
    scalars = series.agg(
        F.count(F.lit(1)).alias("n"), F.sum(x_col).alias("s"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("sxx"))
    spine = spark.range(max_lag + 1).select(
        F.col("id").cast("int").alias("l"))
    spine.createOrReplaceTempView("_acf_spine")
    perlag.createOrReplaceTempView("_acf_perlag")
    scalars.createOrReplaceTempView("_acf_scalars")
    return spark.sql(
        _acf_tail_sql("_acf_spine", "_acf_perlag", "_acf_scalars"))


def acf_sql(series_sql: str, day_col: str, x_col: str,
            max_lag: int) -> str:
    """DuckDB mirror of :func:`acf` — same pairing, same integer sums,
    and the IDENTICAL shared tail text."""
    return f"""
        WITH srs AS ({series_sql}),
        pairs AS (
            SELECT lg.l, a.{x_col} AS x0, b.{x_col} AS x1
            FROM srs a
            CROSS JOIN (SELECT UNNEST(range({max_lag + 1})) AS l) lg
            JOIN srs b ON b.{day_col} = a.{day_col} + lg.l
        ),
        perlag AS (
            SELECT l, sum(x0 * x1) AS p, sum(x0) AS a, sum(x1) AS b,
                   count(*) AS m_pairs
            FROM pairs GROUP BY l
        ),
        spine AS (SELECT UNNEST(range({max_lag + 1})) AS l),
        scalars AS (
            SELECT count(*) AS n, sum({x_col}) AS s,
                   sum({x_col} * {x_col}) AS sxx
            FROM srs
        )
        {_acf_tail_sql('spine', 'perlag', 'scalars')}
    """


# -- seasonal decomposition ----------------------------------------------------

def _seasonal_tail_sql(series: str, period: int) -> str:
    """Shared classical-decomposition tail over an integer daily series
    (day, x), additive model, RANGE-framed so calendar gaps shrink the
    window instead of misaligning it:

    * trend  = centered ``period``-day moving average (NULL at the
      edges / around gaps where fewer than ``period`` days exist — the
      classical estimator is undefined there, standard practice drops
      edges);
    * seasonal = per-(day % period) mean of the detrended series,
      estimated ONLY over full windows; NULL for a day whose day%period
      class has no full-window representative (LEFT join — every input
      day emits a row, r8 review: the earlier inner join silently
      dropped such days). Exactness trick: the detrended value x − S/p
      is scaled by p (``p·x − S``, an exact integer), so the seasonal
      mean is ONE division of exact integers — engine-bit-exact.
      Indexes are dow means of the detrended series, NOT re-centered to
      sum 0 (documented; subtract their mean downstream if a zero-sum
      convention is needed);
    * resid = x − trend − seasonal as a fixed-shape expression of the
      same two divisions (NULL whenever either part is).

    The windowed pass is computed ONCE in a CTE shared by the output
    rows and the seasonal estimation (r8 review: the earlier tail
    duplicated the window subquery, paying the day-level sort twice).
    """
    half = period // 2
    return f"""
        WITH win_pass AS (
            SELECT day, x,
                   CAST(sum(x) OVER win AS BIGINT) AS s,
                   CAST(count(x) OVER win AS BIGINT) AS c,
                   day % {period} AS dow
            FROM {series}
            WINDOW win AS (ORDER BY day
                           RANGE BETWEEN {half} PRECEDING
                           AND {half} FOLLOWING)
        ),
        seas AS (
            SELECT dow, CAST(sum({period} * x - s) AS BIGINT) AS sd,
                   CAST(count(*) AS BIGINT) AS nd
            FROM win_pass WHERE c = {period}
            GROUP BY dow
        )
        SELECT day, x,
               CASE WHEN c = {period}
                    THEN CAST(s AS DOUBLE) / {period}e0 END AS trend,
               CAST(sd AS DOUBLE) / (nd * {period}e0) AS seasonal,
               CASE WHEN c = {period}
                    THEN CAST(x AS DOUBLE)
                         - CAST(s AS DOUBLE) / {period}e0
                         - CAST(sd AS DOUBLE) / (nd * {period}e0)
               END AS resid
        FROM win_pass LEFT JOIN seas USING (dow)
    """


def seasonal_decompose(spark, series: DataFrame, day_col: str,
                       x_col: str, period: int) -> DataFrame:
    """Additive classical decomposition of an integer daily series into
    trend / seasonal / residual (period must be odd so the moving
    average centers exactly). Returns (day, x, trend, seasonal, resid).

    Scale: the series is one row per day (caller pre-aggregates); both
    window passes and the per-dow aggregate are day-count-sized. The
    unpartitioned RANGE window is a deliberate day-level global sort —
    its input is the caller's aggregate, thousands of rows at any SF.
    Every input day emits a row: trend/resid NULL where the centered
    window is incomplete, seasonal NULL where the day's day%period
    class has no full-window representative."""
    _check_period(period)
    # day-count-sized after the caller's aggregate; materialize once so
    # the tail's two window passes don't re-derive the raw-table scan
    (series.select(F.col(day_col).alias("day"),
                   F.col(x_col).alias("x"))
     .localCheckpoint(eager=False)
     .createOrReplaceTempView("_seas_series"))
    return spark.sql(_seasonal_tail_sql("_seas_series", period))


def _check_period(period: int) -> None:
    """Odd >= 3 — an even period's 'centered' RANGE window is actually
    off-center, and its c = period completeness test then ACCEPTS
    windows missing one edge day (r8 review caught the SQL mirror
    lacking this guard while the Spark twin had it)."""
    if period % 2 != 1 or period < 3:
        raise ValueError(f"period must be odd and >= 3, got {period}")


def seasonal_decompose_sql(series_sql: str, day_col: str, x_col: str,
                           period: int) -> str:
    """DuckDB mirror of :func:`seasonal_decompose` — the IDENTICAL
    shared tail and the same odd-period validation."""
    _check_period(period)
    return _seasonal_tail_sql(
        f"(SELECT {day_col} AS day, {x_col} AS x FROM ({series_sql}))",
        period)


# -- CUSUM changepoint ---------------------------------------------------------

def _cusum_tail_sql(series: str, scalars: str) -> str:
    """Shared CUSUM tail: the n-scaled cumulative deviation
    ``n·S_t = n·Σ_{i<=t} x_i − t·Σx`` (Page 1954 cumulative-sum chart;
    the argmax-|S_t| changepoint statistic) — EXACT integers
    throughout, no doubles anywhere; the peak flag compares against the
    max via a one-row scalar."""
    return f"""
        SELECT day, x, ns_t,
               abs(ns_t) = mx AS is_peak
        FROM (
            SELECT day, x, n * cum - t * sx AS ns_t
            FROM {series} CROSS JOIN {scalars}
        )
        CROSS JOIN (
            SELECT max(abs(n * cum - t * sx)) AS mx
            FROM {series} CROSS JOIN {scalars}
        )
    """


def cusum_deviation(spark, series: DataFrame, day_col: str,
                    x_col: str) -> DataFrame:
    """n-scaled CUSUM deviation per day over an integer daily series,
    with the argmax-|S_t| changepoint(s) flagged: returns
    (day, x, ns_t, is_peak). A mean level shift at day D makes |ns_t|
    peak at D — the classic offline changepoint locator.

    Scale: runs entirely over the caller's day-level aggregate (the
    cumulative window's global sort is day-count-sized); the (n, Σx)
    scalars and the max ride one-row broadcasts. Integer headroom:
    |ns_t| <= n·Σx ~ 1e11 at sf1 here — 10⁷ under int64."""
    # materialized once: the tail references the series four times
    (series.select(F.col(day_col).alias("day"),
                   F.col(x_col).alias("x"))
     .localCheckpoint(eager=False)
     .createOrReplaceTempView("_cusum_series"))
    spark.sql("""
        SELECT day, x,
               CAST(sum(x) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM _cusum_series
    """).createOrReplaceTempView("_cusum_cum")
    spark.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx
        FROM _cusum_series
    """).createOrReplaceTempView("_cusum_scalars")
    return spark.sql(_cusum_tail_sql("_cusum_cum", "_cusum_scalars"))


def cusum_deviation_sql(series_sql: str, day_col: str,
                        x_col: str) -> str:
    """DuckDB mirror of :func:`cusum_deviation` — same cumulative
    window and the IDENTICAL shared tail."""
    src = f"(SELECT {day_col} AS day, {x_col} AS x FROM ({series_sql}))"
    cum = f"""(
        SELECT day, x,
               CAST(sum(x) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM {src}
    )"""
    scalars = f"""(
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx
        FROM {src}
    )"""
    return _cusum_tail_sql(cum, scalars)
