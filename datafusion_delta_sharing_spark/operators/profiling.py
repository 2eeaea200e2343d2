"""Table profiling and data-quality operators.

The operations layer over shared tables: an ANALYZE-style per-column
profile (row/null/distinct counts, min/max), declarative quality
constraints (not-null / unique / accepted-values / range / referential),
and an equi-width histogram. All single-pass aggregations — the profile
computes every column's stats in ONE scan (a struct of aggregates melted
with stack), constraints are one aggregate over boolean indicator columns
(the referential check is the only join, against the dimension's key set),
and the histogram is a groupBy on a computed bucket. Each operator has a
DuckDB SQL mirror so the harness hash-checks values, not just shapes.

`n_distinct` is exact here (oracle-checkable); at 100 TB swap in
approx_count_distinct — the reading of the profile is the same.

String-typed min/max: values are rendered to strings so one schema covers
heterogeneous columns; profile only bigint/string/date columns (float
formatting differs across engines).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_val, max_val) per column,
    computed in one scan: all columns' aggregates evaluated together, then
    melted with stack (no per-column jobs, no second scan)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            # aggregate in NATIVE type, cast the result: casting first
            # would make numeric min/max lexicographic ('9' > '60000')
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _nd_{c}, _mn_{c}, _mx_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_nulls, n_distinct, min_val, max_val)", "_n AS n_rows"
    ).select("column_name", "n_rows", "n_nulls", "n_distinct",
             "min_val", "max_val")


def table_profile_sql(source_sql: str, cols: list[str]) -> str:
    """DuckDB mirror: one aggregate row per column, unioned."""
    parts = [f"""
    SELECT '{c}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM {source_sql}""" for c in cols]
    return " UNION ALL ".join(parts)


def quality_checks(df: DataFrame, *,
                   not_null: list[str] = (),
                   unique: list[str] = (),
                   accepted_values: dict[str, list[str]] | None = None,
                   ranges: dict[str, tuple[float, float]] | None = None,
                   ) -> DataFrame:
    """(check_name, n_violations, passed) per declared constraint, all
    non-unique checks folded into ONE aggregate pass; each uniqueness
    check is its own groupBy (a shuffle on the checked key — unavoidable,
    that's what uniqueness means distributed)."""
    aggs = []
    for c in not_null:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .alias(f"not_null:{c}"))
    for c, vals in (accepted_values or {}).items():
        aggs.append(F.sum(F.when(~F.col(c).isin(vals), 1).otherwise(0))
                    .alias(f"accepted_values:{c}"))
    for c, (lo, hi) in (ranges or {}).items():
        aggs.append(F.sum(F.when((F.col(c) < lo) | (F.col(c) > hi), 1)
                          .otherwise(0)).alias(f"range:{c}"))
    parts = []
    if aggs:
        wide = df.agg(*aggs)
        stack_args = ", ".join(
            f"'{a}', `{a}`" for a in
            [f"not_null:{c}" for c in not_null]
            + [f"accepted_values:{c}" for c in (accepted_values or {})]
            + [f"range:{c}" for c in (ranges or {})])
        n = len(not_null) + len(accepted_values or {}) + len(ranges or {})
        parts.append(wide.selectExpr(
            f"stack({n}, {stack_args}) AS (check_name, n_violations)"))
    for c in unique:
        dup = (df.groupBy(c).agg(F.count(F.lit(1)).alias("_n"))
               .filter(F.col("_n") > 1)
               .agg(F.coalesce(F.sum("_n"), F.lit(0)).alias("n_violations"))
               .select(F.lit(f"unique:{c}").alias("check_name"),
                       "n_violations"))
        parts.append(dup)
    if not parts:
        raise ValueError(
            "quality_checks: no checks declared — pass at least one of "
            "not_null, unique, accepted_values, or ranges")
    out = reduce(lambda a, b: a.unionByName(b), parts)
    return out.withColumn("passed", F.col("n_violations") == 0)


def table_profile_approx(df: DataFrame, cols: list[str],
                         rsd: float = 0.01, tol: float = 0.05) -> DataFrame:
    """Sketch-profile demonstrator for :func:`table_profile`: distinct
    counts come from approx_count_distinct (HLL++). The sketch estimate is
    engine-specific, so the checkable output follows the approx_percentile
    pattern: every exact column is returned as-is and the estimate
    collapses to ``nd_within_tol`` — |approx−exact| ≤ tol·exact, computed
    against the SAME scan's exact count. The oracle recomputes the exact
    columns and expects the verdict TRUE; a mis-wired sketch (wrong
    column, wrong merge) lands orders of magnitude off.

    Cost honesty: because the verdict needs the exact count in-plan, this
    checkable form still pays the exact form's countDistinct Expand PLUS
    the k HLL sketches — it is strictly MORE expensive than
    :func:`table_profile` and exists to prove the sketch wiring. The
    actual 100 TB profile drops the ``_nd_`` exact aggregates and emits
    the raw HLL estimate, which removes the Expand entirely; that form is
    a two-line edit of this one but has no engine-independent oracle."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_nd_{c}"),
            F.approx_count_distinct(c, rsd).alias(f"_ad_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nn_{c}, _mn_{c}, _mx_{c}, "
        f"abs(_ad_{c} - _nd_{c}) <= {tol!r} * _nd_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_nulls, min_val, max_val, nd_within_tol)",
        "_n AS n_rows",
    ).select("column_name", "n_rows", "n_nulls", "min_val", "max_val",
             "nd_within_tol")


def table_profile_approx_sql(source_sql: str, cols: list[str]) -> str:
    """DuckDB mirror of :func:`table_profile_approx`: exact columns
    recomputed, the tolerance verdict expected TRUE."""
    parts = []
    for c in cols:
        parts.append(f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               CAST(min({c}) AS VARCHAR) AS min_val,
               CAST(max({c}) AS VARCHAR) AS max_val,
               TRUE AS nd_within_tol
        FROM {source_sql}""")
    return " UNION ALL ".join(parts)


def quality_checks_sql(source_sql: str, *,
                       not_null: list[str] = (),
                       unique: list[str] = (),
                       accepted_values: dict[str, list[str]] | None = None,
                       ranges: dict[str, tuple[float, float]] | None = None,
                       ) -> str:
    """DuckDB mirror of quality_checks.

    Every branch aliases both output columns explicitly: DuckDB's UNION
    binds the outer SELECT to the FIRST branch's column names, so relying
    on branch order (only the first branch aliased) breaks as soon as a
    config omits not_null checks."""
    parts = []
    for c in not_null:
        parts.append(
            f"SELECT 'not_null:{c}' AS check_name, CAST(sum(CASE WHEN {c} "
            f"IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations "
            f"FROM {source_sql}")
    for c, vals in (accepted_values or {}).items():
        lit = ", ".join(f"'{v}'" for v in vals)
        parts.append(
            f"SELECT 'accepted_values:{c}' AS check_name, "
            f"CAST(sum(CASE WHEN {c} NOT IN "
            f"({lit}) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations "
            f"FROM {source_sql}")
    for c, (lo, hi) in (ranges or {}).items():
        parts.append(
            f"SELECT 'range:{c}' AS check_name, "
            f"CAST(sum(CASE WHEN {c} < {lo} OR {c} > {hi}"
            f" THEN 1 ELSE 0 END) AS BIGINT) AS n_violations "
            f"FROM {source_sql}")
    for c in unique:
        parts.append(
            f"SELECT 'unique:{c}' AS check_name, "
            f"CAST(coalesce(sum(_n), 0) AS BIGINT) AS n_violations FROM "
            f"(SELECT count(*) AS _n FROM {source_sql} GROUP BY {c} "
            f"HAVING count(*) > 1)")
    if not parts:
        raise ValueError(
            "quality_checks_sql: no checks declared — pass at least one of "
            "not_null, unique, accepted_values, or ranges")
    union = " UNION ALL ".join(parts)
    return (f"SELECT check_name, n_violations, n_violations = 0 AS passed "
            f"FROM ({union})")


def skew_report(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """(column, n_rows, n_distinct, max_freq) per candidate join/groupBy
    key — the planning signal for when a plain shuffle join needs AQE skew
    handling or an explicit salt (operators/skew.py): a key whose max_freq
    is a large share of n_rows concentrates that share of the shuffle on
    one reducer. One count-pass per key column over the distinct-value
    counts (map-side combinable); columns are independent passes unioned,
    since each has its own grouping."""
    parts = []
    for c in key_cols:
        freq = df.groupBy(F.col(c)).agg(F.count(F.lit(1)).alias("_f"))
        parts.append(freq.agg(
            F.lit(c).alias("column_name"),
            F.sum("_f").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("_f").alias("max_freq")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def skew_report_sql(source_sql: str, key_cols: list[str]) -> str:
    """DuckDB mirror of skew_report."""
    parts = [f"""
    SELECT '{c}' AS column_name,
           CAST(sum(_f) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(max(_f) AS BIGINT) AS max_freq
    FROM (SELECT {c}, count(*) AS _f FROM {source_sql} GROUP BY {c})"""
             for c in key_cols]
    return " UNION ALL ".join(parts)


def contingency_table(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """(row, col, observed, row_total, col_total, n) contingency counts
    with marginals — the chi-square independence inputs as exact integers
    (expected count = row_total*col_total/n left to the caller; no float
    is materialized here). Three aggregations joined on the category
    keys."""
    obs = (df.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
           .agg(F.count(F.lit(1)).alias("observed")))
    rt = obs.groupBy("r").agg(F.sum("observed").alias("row_total"))
    ct = obs.groupBy("c").agg(F.sum("observed").alias("col_total"))
    n = obs.agg(F.sum("observed").alias("n"))
    return (obs.join(rt, "r").join(ct, "c").crossJoin(F.broadcast(n))
            .select(F.col("r").alias(row_col), F.col("c").alias(col_col),
                    "observed", "row_total", "col_total", "n"))


def contingency_table_sql(source_sql: str, row_col: str,
                          col_col: str) -> str:
    """DuckDB mirror of contingency_table."""
    return f"""
    WITH obs AS (
        SELECT {row_col} AS r, {col_col} AS c, count(*) AS observed
        FROM {source_sql} GROUP BY 1, 2
    ), rt AS (SELECT r, sum(observed) AS row_total FROM obs GROUP BY r),
    ct AS (SELECT c, sum(observed) AS col_total FROM obs GROUP BY c),
    n AS (SELECT sum(observed) AS n FROM obs)
    SELECT obs.r AS {row_col}, obs.c AS {col_col},
           CAST(obs.observed AS BIGINT) AS observed,
           CAST(rt.row_total AS BIGINT) AS row_total,
           CAST(ct.col_total AS BIGINT) AS col_total,
           CAST(n.n AS BIGINT) AS n
    FROM obs JOIN rt ON obs.r = rt.r JOIN ct ON obs.c = ct.c CROSS JOIN n
    """


def equi_width_histogram(df: DataFrame, col: str, lo: float, hi: float,
                         n_buckets: int) -> DataFrame:
    """(bucket, n) equi-width counts over [lo, hi); values outside clamp to
    the edge buckets (so the histogram is total over NON-NULL values).
    NULLs are excluded explicitly — without the filter, Spark's
    null-skipping ``greatest(NULL, 0) = 0`` would silently count every
    NULL row into bucket 0 (and DuckDB's null-propagating greatest would
    instead emit a NULL bucket, diverging). One groupBy on a computed
    bucket — a single shuffle of n_buckets partial counts."""
    w = (hi - lo) / n_buckets
    bucket = F.least(
        F.greatest(F.floor((F.col(col) - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(n_buckets - 1)).cast("bigint")
    return (df.filter(F.col(col).isNotNull())
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n")))


def equi_width_histogram_sql(source_sql: str, col: str, lo: float, hi: float,
                             n_buckets: int) -> str:
    """DuckDB mirror of equi_width_histogram."""
    w = (hi - lo) / n_buckets
    b = (f"CAST(least(greatest(floor(({col} - {lo}) / {w}), 0), "
         f"{n_buckets - 1}) AS BIGINT)")
    return (f"SELECT {b} AS bucket, CAST(count(*) AS BIGINT) AS n "
            f"FROM {source_sql} WHERE {col} IS NOT NULL GROUP BY 1")


# -- robust outliers ---------------------------------------------------------


def mad_outliers(df: DataFrame, id_col: str, group_col: str,
                 value_col: str) -> DataFrame:
    """Robust outlier flags: per group, rows whose value deviates from
    the group median by more than 3 median-absolute-deviations. Medians
    of integers land on .0/.5 exactly, so the comparison is float-safe
    and the DuckDB mirror hash-exact. Two grouped aggregates (median,
    then MAD) + a broadcast-joined flag pass."""
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("med"))
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "dev", F.abs(F.col(value_col) - F.col("med")))
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(dev, 0.5)").alias("mad"))
    return (dev.join(F.broadcast(mad), group_col)
            .select(id_col, group_col, value_col,
                    F.round("dev", 6).alias("dev"),
                    (F.col("dev") > 3 * F.col("mad")).alias("is_outlier")))


def mad_outliers_sql(source_sql: str, id_col: str, group_col: str,
                     value_col: str) -> str:
    """DuckDB mirror of :func:`mad_outliers`."""
    return f"""
    WITH med AS (
        SELECT {group_col}, median({value_col}) AS med FROM {source_sql} GROUP BY {group_col}
    ),
    dev AS (
        SELECT d.{id_col}, d.{group_col}, d.{value_col},
               abs(d.{value_col} - m.med) AS dev
        FROM {source_sql} d JOIN med m USING ({group_col})
    ),
    mad AS (SELECT {group_col}, median(dev) AS mad FROM dev GROUP BY {group_col})
    SELECT d.{id_col}, d.{group_col}, d.{value_col},
           round(d.dev, 6) AS dev,
           d.dev > 3 * m.mad AS is_outlier
    FROM dev d JOIN mad m USING ({group_col})
"""


# -- algebraic incremental aggregation ---------------------------------------


def incremental_rollup(df: DataFrame, keys: list[str], value_col: str,
                       order_col: str, cutover: int) -> DataFrame:
    """Per-``keys`` (n, total_<value>, avg_<value>) maintained as
    mergeable partials: the stored state (rows with ``order_col`` below
    ``cutover``, pre-aggregated) absorbs the new batch (the rest) WITHOUT
    rescanning history — merge = sum the partial (n, total) pairs and
    re-derive the average at read time. ``value_col`` must be integral
    (e.g. cents) so the partials merge EXACTLY; the average is one
    division of exact integers, engine-bit-identical. At 100 TB this is
    the difference between touching one day's data and touching the
    archive."""
    total = f"total_{value_col}"

    def partial(part):
        return part.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias(total))

    state = partial(df.filter(F.col(order_col) < cutover))
    batch = partial(df.filter(F.col(order_col) >= cutover))
    merged = (state.unionByName(batch)
              .groupBy(*keys)
              .agg(F.sum("n").cast("bigint").alias("n"),
                   F.sum(total).cast("bigint")
                   .alias(total)))
    return merged.select(
        *keys, "n", total,
        (F.col(total).cast("double") / F.col("n"))
        .alias(f"avg_{value_col}"))


# -- central moments ---------------------------------------------------------


def central_moments_sql(source_sql: str, group_col: str,
                        value_col: str) -> str:
    """ONE spelling of the central-moment arithmetic for both engines
    (Spark runs it through ``spark.sql``): per group n, mean, m2,
    population skewness g1 = m3/m2^1.5 and excess kurtosis
    g2 = m4/m2^2 - 3."""
    return f"""
    SELECT e.{group_col},
           CAST(max(g.n) AS BIGINT) AS n,
           round(max(g.mean), 6) AS mean,
           round(avg(power(e.{value_col} - g.mean, 2)), 6) AS m2,
           round(avg(power(e.{value_col} - g.mean, 3))
                 / power(avg(power(e.{value_col} - g.mean, 2)), 1.5), 6) AS skew,
           round(avg(power(e.{value_col} - g.mean, 4))
                 / power(avg(power(e.{value_col} - g.mean, 2)), 2) - 3, 6) AS kurt
    FROM {source_sql} e
    JOIN (SELECT {group_col}, count(*) AS n, avg({value_col}) AS mean
          FROM {source_sql} GROUP BY {group_col}) g
      ON e.{group_col} = g.{group_col}
    GROUP BY e.{group_col}
"""


def moments_builtin_check(moments: DataFrame, df: DataFrame,
                          group_col: str, value_col: str) -> DataFrame:
    """The :func:`central_moments_sql` rows plus ``builtin_ok``: Spark's
    skewness/kurtosis builtins over ``df`` match the explicit formula
    within 1e-6 — if either builtin's definition drifts from population
    g1/g2, the flag flips."""
    builtin = (df.groupBy(group_col)
               .agg(F.skewness(value_col).alias("b_skew"),
                    F.kurtosis(value_col).alias("b_kurt")))
    ok = ((F.abs(F.col("skew") - F.col("b_skew")) <= 1e-6)
          & (F.abs(F.col("kurt") - F.col("b_kurt")) <= 1e-6))
    return (moments.join(F.broadcast(builtin), group_col)
            .select(group_col, "n", "mean", "m2", "skew", "kurt",
                    ok.alias("builtin_ok")))


def mode_sql(source_sql: str, group_col: str, value_col: str,
             mode_as: str) -> str:
    """Deterministic per-group mode of ``value_col`` (named ``mode_as``)
    with its count, for both engines (Spark runs it through
    ``spark.sql``): count + row_number with an explicit value tie-break,
    because the ``mode()`` builtin is nondeterministic on ties."""
    return f"""
    SELECT {group_col}, {value_col} AS {mode_as},
           CAST(n AS BIGINT) AS n
    FROM (
        SELECT {group_col}, {value_col}, count(*) AS n,
               row_number() OVER (
                   PARTITION BY {group_col}
                   ORDER BY count(*) DESC, {value_col}
               ) AS rn
        FROM {source_sql} GROUP BY {group_col}, {value_col}
    ) WHERE rn = 1
"""
