"""Relational and TPC-H queries: the SQL surface the reference exposes
through its embedded DataFusion engine (SURVEY.md §2 Tier B), shown
Spark-first with DuckDB oracles.

Scans and file formats (CSV/JSON/ORC), every join flavour,
aggregation/rollup/cube, windows and frames, sort/limit/top-k, set
operations, scalar function families, subqueries/CTEs, UDF/UDTF/UDAF
tiers, the TPC-H query shapes adapted to the driver's star schema, and
the warehouse operations on top: profiling and data quality, sketches
(HLL, KMV, count-min, bloom, approx top-k, exact percentiles), SCD2
build/lookup/repair, table diff and compaction planning.

Conventions: computed columns aliased identically on both sides; double
aggregates rounded; DuckDB integer aggregates cast to BIGINT (see the
``harness`` package docstring).
"""

from __future__ import annotations

import os
import re
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import (
    DataFrame, Observation, SparkSession, Window, functions as F)
from pyspark.sql.functions import pandas_udf, udtf

from datafusion_delta_sharing_spark.functions.money import cents, cents_sql
from datafusion_delta_sharing_spark.functions.text import (
    WS_TOKEN_SPLIT, words_of)
from datafusion_delta_sharing_spark.harness import load_table, register_views
from datafusion_delta_sharing_spark.harness.connector import (
    _stage_key, _staged)
from datafusion_delta_sharing_spark.operators import (
    cdc as CDC, events as EV, layout as LY, profiling as PR, reconcile as RC,
    sampling as SA, sketches as SK, skyline as SKY, tfidf as TF)
from datafusion_delta_sharing_spark.operators.skew import salted_join


# (stage key, table) -> StructType: the source schema only changes when the
# stage key does, so repeated bench runs skip the per-call parquet footer
# read (driver-side plan construction dominates bench cost at small SF)
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _source_schema(spark: SparkSession, sf_dir: str, table: str):
    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    ck = (_stage_key(src), table)
    if ck not in _SCHEMA_CACHE:
        _SCHEMA_CACHE[ck] = spark.read.parquet(src).schema
    return _SCHEMA_CACHE[ck]


def _stage(spark: SparkSession, sf_dir: str, table: str, fmt: str) -> str:
    def write(src, out):
        writer = spark.read.parquet(src).repartition(4).write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", "true").csv(out)
        else:
            getattr(writer, fmt)(out)

    return _staged(sf_dir, table, f"{table}_{fmt}", write)


_ORDERS_AGG_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total,
           min(o_orderdate) AS first_date,
           max(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
"""


def _orders_agg(df):
    return (df.groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total"),
                 F.min("o_orderdate").alias("first_date"),
                 F.max("o_orderdate").alias("last_date")))


def q_csv_scan(spark, sf_dir):
    """Orders staged as headered CSV, read back with the parquet-derived
    schema (dates/longs/doubles parsed from text), aggregated."""
    schema = _source_schema(spark, sf_dir, "orders")
    path = _stage(spark, sf_dir, "orders", "csv")
    df = spark.read.schema(schema).option("header", "true").csv(path)
    return _orders_agg(df)


def q_json_scan(spark, sf_dir):
    """Orders staged as JSON lines, read back with explicit schema."""
    schema = _source_schema(spark, sf_dir, "orders")
    path = _stage(spark, sf_dir, "orders", "json")
    df = spark.read.schema(schema).json(path)
    return _orders_agg(df)


def q_orc_scan(spark, sf_dir):
    """Orders staged as ORC (columnar alternative; schema travels with the
    file), aggregated through Spark's vectorized ORC reader."""
    path = _stage(spark, sf_dir, "orders", "orc")
    return _orders_agg(spark.read.orc(path))


def _t(spark, sf_dir, name) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Scan / projection / filter / limit (the reference's own flagship shape,
# examples/query_from_catalog.rs:21)
# ---------------------------------------------------------------------------


def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + filter + limit: the flagship query shape (F6)."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate")
        .filter(F.col("o_totalprice") < 5000.0)
        .orderBy("o_orderkey")
        .limit(25)
    )


def q_scan_filter_project(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= "1995-01-01")
                & (F.col("l_shipdate") < "1996-01-01")
                & (F.col("l_discount") > 0.03))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    )


def q_filter_compound(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            ((F.col("o_orderstatus") == "O")
             & F.col("o_totalprice").between(1000.0, 20000.0))
            | (F.col("o_orderpriority").like("1-%")
               & ~F.col("o_custkey").isin(1, 2, 3))
        )
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Joins: inner / left / right / full / semi / anti / theta / range / broadcast
# ---------------------------------------------------------------------------


def q_join_inner(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_join_left(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"),
             F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2)
             .alias("total_spent"))
    )


def q_join_right(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # right join written from the orders side: every customer survives
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_nationkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_join_full(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    return (
        nation.join(supp, nation.n_nationkey == supp.s_nationkey, "full")
        .select(
            F.coalesce("n_nationkey", "s_nationkey").alias("nk"),
            "n_name", "s_suppkey",
        )
        .groupBy("nk", "n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
    )


def q_join_semi(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


def q_join_anti(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal")
    )


def q_join_theta(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    region = _t(spark, sf_dir, "region")
    # non-equi condition -> BroadcastNestedLoopJoin
    return (
        part.join(region, F.col("p_size") > F.col("r_regionkey") * 10)
        .groupBy("r_regionkey")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_join_range(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= F.expr("o_orderdate + INTERVAL 30 DAYS"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_shipped_30d"),
             F.round(F.sum("l_quantity"), 2).alias("qty_30d"))
    )


def q_join_broadcast(spark, sf_dir):
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")  # small dim: broadcast explicitly
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"),
             F.round(F.avg("s_acctbal"), 2).alias("avg_bal"))
    )


def q_join_asof(spark, sf_dir):
    """As-of join (Spark lacks a native one): for each 'error' event, the
    most recent 'click' timestamp by the same user — expressed as a
    union-window composition (SURVEY.md §2 custom-operator preference (a))."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    clicks_before = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_click_ts", clicks_before)
        .filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


def q_tpch_q1(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                          * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_agg_having(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"),
             F.count(F.lit(1)).alias("n"))
        .filter(F.col("total") > 300000.0)
    )


def q_distinct(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem")
            .select("l_returnflag", "l_linestatus").distinct())


def q_count_distinct(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_custs"),
             F.count(F.lit(1)).alias("n_orders"))
    )


def q_approx_count_distinct(spark, sf_dir):
    """HLL++ sketch, bound-checked (VERDICT r2 #6): the estimate itself is
    engine-specific, so the oracle-checked output is the EXACT distinct
    count plus a deterministic boolean asserting the sketch landed within
    5x the requested rsd (2% -> 10% bound; HLL++ error is ~1/sqrt(m), a few
    rsd at worst). Wrong sketch wiring -> within_tol false -> hash FAIL."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
             F.countDistinct("l_partkey").alias("exact_parts"))
        .select(
            "l_returnflag", "exact_parts",
            (F.abs(F.col("_approx") - F.col("exact_parts"))
             / F.col("exact_parts") <= 0.10).alias("within_tol"))
    )


def q_rollup(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.count(F.lit(1)).alias("n"))
    )


def q_cube(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"),
             F.count(F.lit(1)).alias("n"))
    )


_GROUPING_SETS_SQL = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """


def q_grouping_sets(spark, sf_dir):
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_GROUPING_SETS_SQL)


def q_agg_stats(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_quantity"), 2).alias("min_qty"),
            F.round(F.max("l_quantity"), 2).alias("max_qty"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.stddev("l_quantity"), 4).alias("std_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        )
    )


def q_pivot(spark, sf_dir):
    pivoted = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .sum("l_quantity")
    )
    return pivoted.select(
        "l_returnflag",
        F.round(F.coalesce(F.col("F"), F.lit(0.0)), 2).alias("qty_f"),
        F.round(F.coalesce(F.col("O"), F.lit(0.0)), 2).alias("qty_o"),
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


def q_window_rank(spark, sf_dir):
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn("rnk", F.rank().over(w).cast("bigint"))
        .withColumn("drnk", F.dense_rank().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
        .select("o_orderpriority", "o_orderkey", "o_totalprice",
                "rn", "rnk", "drnk")
    )


def q_window_running(spark, sf_dir):
    w = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("run_total", F.round(F.sum("o_totalprice").over(w), 2))
        .select("o_orderkey", "o_custkey", "run_total")
    )


def q_window_lag_lead(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("prev_value", F.lag("value").over(w))
        .withColumn("next_value", F.lead("value").over(w))
        .select("event_id", "user_id", "prev_value", "next_value")
    )


def q_window_range_frame(spark, sf_dir):
    w = (Window.partitionBy("l_returnflag").orderBy("l_quantity")
         .rangeBetween(-5, Window.currentRow))
    return (
        _t(spark, sf_dir, "lineitem")
        .withColumn("frame_sum",
                    F.round(F.sum("l_extendedprice").over(w), 2))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
                "frame_sum")
    )


def q_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rn")
    )


def q_topk_global(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


def q_union_all(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nk"))
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nk"))
    return cust.unionByName(supp)


def q_union_distinct(spark, sf_dir):
    return q_union_all(spark, sf_dir).distinct()


def q_intersect(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nk"))
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nk"))
    return cust.intersect(supp)


def q_except(spark, sf_dir):
    # the subtracted side is restricted to low supplier keys: full-table
    # suppliers cover all 25 nation keys at sf0.01+, which made the
    # difference structurally empty — an EXCEPT bug returning nothing
    # would have hashed PASS (empty == empty)
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("nk"))
    supp = (_t(spark, sf_dir, "supplier")
            .filter(F.col("s_suppkey") <= 10)
            .select(F.col("s_nationkey").cast("int").alias("nk")))
    return nation.subtract(supp)  # EXCEPT (distinct)


# ---------------------------------------------------------------------------
# Scalar function families
# ---------------------------------------------------------------------------


def q_string_funcs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.lower("p_brand").alias("brand_lower"),
            F.length("p_name").cast("bigint").alias("name_len"),
            F.substring("p_name", 1, 5).alias("name_pfx"),
            F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        )
    )


def q_date_funcs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mo"),
            F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.datediff(F.col("o_orderdate").cast("date"),
                       F.lit("1995-01-01").cast("date"))
            .cast("bigint").alias("days_since_95"),
        )
    )


def q_math_funcs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_linenumber",
            # product of two 2-decimal values has exactly 4 decimals: round at
            # native precision (rounding at 3 would hit true .5 ties, where
            # Spark HALF_UPs and DuckDB HALF_EVENs)
            F.round(F.col("l_extendedprice") * F.col("l_discount"), 4)
            .alias("disc_amt"),
            F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
            F.ceil("l_discount").alias("disc_ceil"),
            F.floor("l_extendedprice").alias("price_floor"),
            F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
            F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
            F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
            F.round(F.pow("l_quantity", 2), 2).alias("qty_sq"),
            (F.col("l_linenumber") % 3).cast("bigint").alias("ln_mod3"),
        )
    )


def q_conditional(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 200000, "high")
            .when(F.col("o_totalprice") > 50000, "mid")
            .otherwise("low").alias("tier"),
            F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN"))
            .alias("status_or_open"),
            F.greatest("o_totalprice", F.lit(1000.0)).alias("price_floor_1k"),
            F.least("o_totalprice", F.lit(400000.0)).alias("price_cap_400k"),
        )
    )


def q_array_funcs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.size("embedding").cast("bigint").alias("dim"),
            F.round(F.element_at("embedding", 1).cast("double"), 5)
            .alias("first_component"),
            F.round(
                F.sqrt(F.aggregate(
                    "embedding", F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"))),
                4).alias("l2_norm"),
        )
    )


def q_json_funcs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
        )
    )


# ---------------------------------------------------------------------------
# Subqueries / CTE / views
# ---------------------------------------------------------------------------


_CTE_SQL = """
        WITH cust_totals AS (
            SELECT o_custkey, round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY o_custkey
        )
        SELECT c.c_mktsegment,
               count(*) AS n_big_customers,
               round(sum(ct.total), 2) AS segment_total
        FROM cust_totals ct JOIN customer c ON ct.o_custkey = c.c_custkey
        WHERE ct.total > 150000
        GROUP BY c.c_mktsegment
    """


def q_cte(spark, sf_dir):
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_CTE_SQL)


_SCALAR_SUBQUERY_SQL = """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
    """


def q_scalar_subquery(spark, sf_dir):
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_SCALAR_SUBQUERY_SQL)


_IN_SUBQUERY_SQL = """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """


def q_in_subquery(spark, sf_dir):
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_IN_SUBQUERY_SQL)


_EXISTS_CORRELATED_SQL = """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """


def q_exists_correlated(spark, sf_dir):
    register_views(spark, sf_dir, ["orders", "customer"])
    return spark.sql(_EXISTS_CORRELATED_SQL)


# ---------------------------------------------------------------------------
# UDF tiers (Arrow-vectorized — the sanctioned slow path)
# ---------------------------------------------------------------------------


def q_pandas_udf_scalar(spark, sf_dir):
    @F.pandas_udf("double")
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey", "l_linenumber",
            # 2+2+2-decimal product: 6 native decimals, round there (no ties)
            F.round(charge("l_extendedprice", "l_discount", "l_tax"), 6)
            .alias("charge"),
        )
    )


def q_grouped_map_zscore(spark, sf_dir):
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["l_quantity"].std(ddof=1)
        pdf["z"] = ((pdf["l_quantity"] - pdf["l_quantity"].mean()) / std).round(4)
        return pdf[["l_orderkey", "l_linenumber", "l_returnflag", "z"]]

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .applyInPandas(
            zscore,
            "l_orderkey bigint, l_linenumber int, l_returnflag string, z double",
        )
    )


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag + running sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # INTEGER microseconds on both engines: a whole-second cast here vs
    # DuckDB's fractional epoch() made the >30min test diverge for any
    # gap inside (1800, 1801)s depending on the endpoints' sub-second
    # parts — exact integer comparison closes that window
    epoch_us = F.unix_micros(F.col("ts").cast("timestamp"))
    with_gap = ev.withColumn(
        "new_session",
        F.when(epoch_us - F.lag(epoch_us).over(w) > 1_800_000_000, 1)
        .otherwise(0),
    )
    with_session = with_gap.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint"),
    )
    return (
        with_session.groupBy("user_id")
        .agg((F.max("session_id") + 1).cast("bigint").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )


def q_window_analytics(spark, sf_dir):
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey", "o_orderpriority",
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.first("o_orderkey").over(wfull).alias("cheapest_key"),
            F.last("o_orderkey").over(wfull).alias("priciest_key"),
        )
    )


def q_agg_corr(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_s"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("cov_p"),
        )
    )


def q_explode_lateral(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    # words_of filters '' fragments exactly like the oracle's list_filter —
    # a raw split keeps phantom tokens for edge tabs/newlines that trim()
    # (space-only) does not strip
    words = words_of("text")
    return (
        docs.select("doc_id", F.posexplode(words).alias("pos", "word"))
        .withColumn("pos", (F.col("pos") + 1).cast("bigint"))  # 1-based like unnest
    )


def q_map_funcs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("chars"), F.col("n_chars").cast("long"),
        F.lit("id"), F.col("doc_id"),
    )
    return docs.select(
        "doc_id",
        F.element_at(m, "chars").alias("chars_val"),
        F.size(F.map_keys(m)).cast("bigint").alias("n_keys"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_sorted"),
    )


def q_unpivot(spark, sf_dir):
    wide = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.round(F.sum("l_quantity"), 2).alias("qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("price"))
    )
    return wide.unpivot(
        ids=["l_returnflag"], values=["qty", "price"],
        variableColumnName="measure", valueColumnName="val",
    )


def q_except_all(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") <= 10).select(
        F.col("l_orderkey").alias("k"))
    b = li.filter(F.col("l_quantity") <= 5).select(
        F.col("l_orderkey").alias("k"))
    return a.exceptAll(b)


def q_python_udtf(spark, sf_dir):
    """Spark 4 Python UDTF: explode each document into (doc_id, word) rows
    for short docs — table-function surface the reference exposes only
    through SQL; oracle is the unnest equivalent."""

    @udtf(returnType="word: string")
    class SplitWords:
        def eval(self, text: str):
            # NULL-safe (the oracle's unnest silently skips NULL rows);
            # WS_TOKEN_SPLIT is an explicit class, so no re.ASCII needed —
            # Python str.split()/Unicode \s would split on U+3000/NBSP,
            # which the oracle keeps inside tokens (and ASCII \s includes
            # \x0b, which RE2's does not); '' fragments are filtered
            # instead of stripped so edge whitespace matches too
            if text is None:
                return

            for w in re.split(WS_TOKEN_SPLIT, text):
                if w:
                    yield (w,)

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql("""
        SELECT s.word AS w, t.doc_id AS d
        FROM documents t, LATERAL split_words(t.text) s
        WHERE t.doc_id < 10
    """)


def q_regexp_funcs(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.regexp_extract("p_type", r"([A-Z]+)", 1).alias("first_word"),
            F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
            F.regexp_count("p_name", F.lit("[aeiou]")).cast("bigint")
            .alias("n_vowels"),
            (F.col("p_brand").rlike("Brand#[0-9]+")).alias("brand_matches"),
        )
    )


def q_string_distance(spark, sf_dir):
    """Edit distance between brand and type per part — classic dedup metric."""
    return (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.levenshtein("p_brand", "p_type").cast("bigint").alias("lev"),
            F.levenshtein(F.substring("p_name", 1, 10),
                          F.substring("p_type", 1, 10)).cast("bigint")
            .alias("lev_pfx"),
        )
    )


def q_pad_case_funcs(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "nation")
        .select(
            "n_nationkey",
            F.lpad("n_name", 20, ".").alias("lpadded"),
            F.rpad("n_name", 20, ".").alias("rpadded"),
            F.initcap(F.lower("n_name")).alias("title_case"),
            F.reverse("n_name").alias("reversed_name"),
            F.repeat(F.substring("n_name", 1, 2), 3).alias("repeated"),
        )
    )


def q_trig_funcs(spark, sf_dir):
    """Trig/exponential family; rounded to absorb libm last-ulp differences."""
    return (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.round(F.sin(F.col("p_retailprice") / 1000.0), 6).alias("sin_v"),
            F.round(F.cos(F.col("p_retailprice") / 1000.0), 6).alias("cos_v"),
            F.round(F.atan2(F.col("p_retailprice"), F.lit(100.0)), 6)
            .alias("atan2_v"),
            F.round(F.degrees(F.atan(F.col("p_size").cast("double"))), 6)
            .alias("deg_atan"),
            F.round(F.exp(F.col("p_size") / 25.0), 6).alias("exp_v"),
        )
    )


def q_bitwise_funcs(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_orderkey").bitwiseAND(F.lit(255)).alias("low_byte"),
            F.col("o_orderkey").bitwiseOR(F.lit(4096)).alias("with_flag"),
            F.col("o_orderkey").bitwiseXOR(F.col("o_custkey")).alias("xored"),
            F.shiftleft(F.col("o_custkey"), 4).alias("shifted_l"),
            F.shiftright(F.col("o_orderkey"), 2).alias("shifted_r"),
            F.bit_count(F.col("o_orderkey")).cast("bigint").alias("popcount"),
        )
    )


def q_cross_join(spark, sf_dir):
    region = load_table(spark, sf_dir, "region").select("r_name")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    return (
        region.crossJoin(nation)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             F.sum("n_nationkey").cast("bigint").alias("key_sum"))
    )


def q_null_safe_eq(spark, sf_dir):
    """Null-safe equality (<=>): compare lag-shifted event values where the
    first row per user yields NULL."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (load_table(spark, sf_dir, "events")
          .withColumn("prev_type", F.lag("event_type").over(w)))
    return (
        ev.select(
            "event_id",
            F.col("event_type").eqNullSafe(F.col("prev_type"))
            .alias("same_as_prev"),
            (F.col("prev_type").isNull()).alias("is_first"),
        )
    )


def q_collect_agg(spark, sf_dir):
    """Deterministic collect: sort_array(collect_list) then join to a string
    (collect order itself is nondeterministic — never hash raw collect)."""
    return (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), "|")
            .alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def q_min_max_by(spark, sf_dir):
    """Arg-extrema: the orderkey of the cheapest/priciest order per
    priority (unique totalprice per key not guaranteed — break ties by
    taking min/max of candidate keys via struct ordering)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.min(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"]
            .alias("cheapest_key"),
            F.max(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"]
            .alias("priciest_key"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def q_date_funcs2(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.quarter("o_orderdate").cast("bigint").alias("qtr"),
            F.weekofyear("o_orderdate").cast("bigint").alias("iso_week"),
            # cast DATE results to TIMESTAMP_NTZ: Spark DATE collects as
            # python date (pandas object) while DuckDB DATE becomes
            # datetime64 - dtype mismatch at the comparator
            F.last_day(F.col("o_orderdate").cast("date"))
            .cast("timestamp_ntz").alias("month_end"),
            F.add_months(F.col("o_orderdate").cast("date"), 1)
            .cast("timestamp_ntz").alias("next_month"),
            F.dayofweek("o_orderdate").cast("bigint").alias("dow"),
        )
    )


def q_string_funcs2(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.split_part("p_type", F.lit(" "), F.lit(1)).alias("type_first"),
            F.translate("p_brand", "#B", "-b").alias("brand_translated"),
            F.instr("p_name", "a").cast("bigint").alias("first_a"),
            F.left("p_name", F.lit(3)).alias("pfx3"),
            F.right("p_name", F.lit(3)).alias("sfx3"),
        )
    )


def q_bool_aggs(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_bulk"),
            F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
            F.max_by("l_orderkey", F.struct("l_extendedprice", "l_orderkey"))
            .alias("priciest_order"),
        )
    )


def q_session_window_batch(spark, sf_dir):
    """Batch session_window: gap-merged sessions per user (native Spark
    operator; oracle reconstructs sessions via lag/cumsum). The session
    value is summed as INTEGER CENTS (functions/money, quantized per
    row before aggregation): round(sum(double), 2) was the repo's one
    remaining accumulation-order-sensitive output — a session landing
    within one ulp of a half-cent could round differently per engine
    (the r5 stream_enrich fix, applied here by the r9 review)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(cents(F.col("value"))).cast("bigint")
             .alias("session_cents"))
        .select("user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events", "session_cents")
    )


def q_approx_percentile(spark, sf_dir):
    """Sketch-based percentiles, bound-checked (VERDICT r2 #6): the
    estimates are engine-specific, so the oracle-checked output is the
    group key + a deterministic boolean asserting every approx quartile
    sits within 1% (relative) of the exact percentile — accuracy=10000 on
    ~15k rows/group bounds rank error to ~2 ranks, far inside 1% of value.
    Wrong sketch wiring -> within_tol false -> hash FAIL."""
    exact = F.expr(
        "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75], 10000)
             .alias("_approx"),
             exact.alias("_exact"),
             F.count(F.lit(1)).alias("n_rows"))
        .select(
            "l_returnflag", "n_rows",
            F.forall(
                F.zip_with("_approx", "_exact",
                           lambda a, e: F.abs(a - e) / e <= 0.01),
                lambda x: x).alias("within_tol"))
    )

# the islands oracle of the batch and streaming session windows
_SESSION_WINDOW_SQL = EV.session_totals_sql("events", 1800)


def q_array_hof(spark, sf_dir):
    """filter / exists / forall / zip_with / sort+slice over embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    dbl = lambda x: x.cast("double")  # noqa: E731
    return emb.select(
        "vec_id",
        F.size(F.filter(v, lambda x: dbl(x) > 0)).cast("bigint")
        .alias("n_pos"),
        F.exists(v, lambda x: dbl(x) > 1.0).alias("any_gt1"),
        F.forall(v, lambda x: F.abs(dbl(x)) < 100.0).alias("all_bounded"),
        F.round(F.aggregate(
            F.zip_with(v, F.reverse(v), lambda a, b: dbl(a) * dbl(b)),
            F.lit(0.0), lambda acc, x: acc + x), 5).alias("dot_reversed"),
        F.round(F.aggregate(
            F.slice(F.sort_array(v, asc=False), 1, 3),
            F.lit(0.0), lambda acc, x: acc + dbl(x)), 5).alias("top3_sum"),
    )


def q_try_arith(spark, sf_dir):
    """try_divide / NULLIF semantics and try_cast: errors become NULLs
    instead of task failures — what you want 80 TB into a 100 TB job."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.round(F.try_divide("o_totalprice",
                             (F.col("o_orderkey") % 3).cast("double")), 4)
        .alias("price_over_mod"),
        F.col("o_orderstatus").try_cast("int").alias("status_as_int"),
        F.substring("o_orderpriority", 1, 1).try_cast("int")
        .cast("bigint").alias("priority_digit"),
    )


def q_mask_funcs(spark, sf_dir):
    """Deterministic data masking (upper->X, lower->x, digit->n)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.mask("c_name").alias("name_masked"),
        F.mask("c_mktsegment", F.lit("U"), F.lit("l"), F.lit("9"))
        .alias("segment_masked"),
    )


def q_url_funcs(spark, sf_dir):
    """parse_url over a synthesized URL column (host/path/query extraction
    + percent-encoding round-trip)."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/docs/"), F.col("doc_id").cast("string"),
                   F.lit("?lang="), F.col("lang"))
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.url_encode(F.concat(F.col("source"), F.lit("/"), F.col("lang")))
        .alias("encoded"),
    )


def q_join_salted(spark, sf_dir):
    """Salted join on a pathologically skewed key (5 event types over 60k
    rows): the skewed side fans each hot key over 16 reducers, the tiny
    side replicates 16x. Aggregated output proves result-equivalence with
    the plain join the oracle runs.

    Determinism (VERDICT r5 #1): the salt is a pure function of event_id
    (not monotonically_increasing_id), and the output columns avoid the
    residual-of-zero trap — `sum(value - type_avg)` is mathematically 0 so
    its rounded value is an accumulation-order-dependent +/-0.0; we emit
    `sum_value` (a well-conditioned positive sum) plus the boolean
    `dev_near_zero` instead.

    The near-zero gate SCALES WITH THE GROUP (VERDICT r6 #2): the float
    residual grows with row count while a static 1e-6 does not — measured
    2e-10 at sf0.01 → 7e-9 at sf0.1, a knife edge by sf10–100. The bound
    `1e-12 · n · avg(|value|)` is the standard backward-error model
    (per-element rounding ~1e-16 × a ~1e4 condition allowance), grows
    with the group exactly as the residual does, and keeps ≥100× margin
    at every probed SF (sf1-verified)."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    dim = events.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    joined = salted_join(events, dim, on="event_type", salts=16,
                         salt_on=["event_id"])
    tol = (F.lit(1e-12) * F.count(F.lit(1))
           * F.avg(F.abs(F.col("value"))))
    return (joined
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"),
                 (F.abs(F.sum(F.col("value") - F.col("type_avg")))
                  < tol).alias("dev_near_zero")))


def q_time_spine(spark, sf_dir):
    """Gap-filled hourly time spine: generate every hour in the events
    range with F.sequence + explode (no driver loop), left join hourly
    purchase aggregates, zero-fill gaps. The spine generation is a
    single-row seed exploded JVM-side."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR")))
        .alias("hour"))
    # integer cents before summation (r9 review): round(sum(double), 4)
    # was the accumulation-order-sensitive output class the repo retired
    # everywhere else (functions/money)

    hourly = (events.filter(F.col("event_type") == "purchase")
              .groupBy(F.date_trunc("hour", "ts").alias("hour"))
              .agg(F.count("*").alias("n_purchases"),
                   F.sum(cents(F.col("value"))).cast("bigint")
                   .alias("revenue_cents")))
    return (spine.join(hourly, "hour", "left")
            .select(F.col("hour").cast("timestamp_ntz").alias("hour"),
                    F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
                    F.coalesce("revenue_cents", F.lit(0))
                    .cast("bigint").alias("revenue_cents")))


def q_variant_funcs(spark, sf_dir):
    """props JSON -> Variant once, typed path gets + per-type aggregate.
    try_variant_get is exercised NON-vacuously on both sides of its
    contract: probing the key that exists ('$.k' — n_k_present must equal
    n, so an accessor that silently degrades to all-NULL fails the hash)
    and the key that doesn't ('$.missing' — identically absent, count 0).
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    per_row = ev.select(
        "event_type",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.k", "bigint").alias("k_try"),
        F.try_variant_get(v, "$.missing", "bigint").alias("k_missing"))
    return (per_row.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("k_sum"),
                 F.min("k").alias("k_min"),
                 F.max("k").alias("k_max"),
                 F.count("k_try").alias("n_k_present"),
                 F.count("k_missing").alias("n_missing_present")))


# TRY_CAST, not CAST: the Spark side's variant_get coerces-or-NULLs, so a
# regenerated fixture with a non-integral k must surface as a value
# mismatch, not a DuckDB conversion error that kills the whole oracle
_VARIANT_SQL = """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS BIGINT) AS k_sum,
           min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS k_min,
           max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS k_max,
           count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
               AS n_k_present,
           count(TRY_CAST(json_extract_string(props, '$.missing') AS BIGINT))
               AS n_missing_present
    FROM events
    GROUP BY event_type
"""


def q_udaf_grouped_agg(spark, sf_dir):
    """GROUPED_AGG pandas UDAF: quantity-weighted mean price per return
    flag, rounded to a hash-stable fixed point. (The udf is built inside
    the query: pandas_udf resolves its return type against the active
    session, so decorating at import time would fail before a session
    exists.)"""
    @pandas_udf("double")
    def weighted_avg_price(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(
                weighted_avg_price("l_extendedprice", "l_quantity"), 4)
                .alias("wavg_price")))


_UDAF_SQL = """
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
               AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
"""


def q_udaf_window(spark, sf_dir):
    """GROUPED_AGG pandas UDAF evaluated OVER A WINDOW FRAME — a distinct
    physical path from the groupBy UDAF (WindowInPandas: Arrow batches
    per bounded frame slice, not per group). Trailing-3-event mean value
    per user; frame ordering made total with the (ts, event_id) tiebreak
    so the result is partition-deterministic."""
    @pandas_udf("double")
    def pmean(v: pd.Series) -> float:
        return float(v.mean())

    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-2, 0))
    return (ev.select("user_id", "event_id",
                      F.round(pmean("value").over(w), 6)
                      .alias("trailing_mean"))
            .filter(F.col("event_id") % 20 == 0))


_UDAF_WINDOW_SQL = """
    SELECT user_id, event_id, round(trailing_mean, 6) AS trailing_mean
    FROM (
        SELECT user_id, event_id,
               avg(value) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                   AS trailing_mean
        FROM events
    ) WHERE event_id % 20 = 0
"""


def q_arrow_grouped_map(spark, sf_dir):
    """applyInArrow grouped map (Spark 4's arrow-native group transform,
    no pandas conversion): per-returnflag summary built with pyarrow
    compute inside the UDF. Types are constructed explicitly — the arrow
    path does NO implicit coercion (int64 -> int32 fails loudly)."""
    def summarize(table):
        qty = pc.cast(table["l_quantity"], pa.float64())
        return pa.table({
            "l_returnflag": pa.array([table["l_returnflag"][0].as_py()],
                                     pa.string()),
            "n_rows": pa.array([table.num_rows], pa.int64()),
            "sum_qty": pa.array([pc.sum(qty).as_py()], pa.float64()),
        })

    li = load_table(spark, sf_dir, "lineitem")
    return (li.select("l_returnflag", "l_quantity")
            .groupBy("l_returnflag")
            .applyInArrow(summarize,
                          "l_returnflag string, n_rows bigint, "
                          "sum_qty double"))


_ARROW_GM_SQL = """
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           sum(CAST(l_quantity AS DOUBLE)) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
"""


_QS = (0.25, 0.5, 0.75)
_QS_SQL = ", ".join(str(q) for q in _QS)  # ONE spelling for both engines


def q_exact_percentiles(spark, sf_dir):
    """Exact quartiles of l_quantity per return flag — the workload where
    a 100 TB engine needs percentile_approx, shown exact here so the
    oracle can pin the interpolation arithmetic itself."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr(f"percentile(CAST(l_quantity AS DOUBLE), array({_QS_SQL}))")
        .alias("_qs"))
    return agg.select(
        "l_returnflag",
        F.posexplode("_qs").alias("q_idx", "_qv"),
    ).select("l_returnflag", F.col("q_idx").cast("bigint").alias("q_idx"),
             F.round("_qv", 6).alias("q_value"))


def q_listagg_ordered(spark, sf_dir):
    """Per-region ordered nation roster: deterministic listagg via
    sort_array(collect_list(...)) + array_join."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), "|")
             .alias("nations"),
             F.count(F.lit(1)).alias("n_nations"))
    )


# ONE spelling of the spine bounds and the per-month aggregate for both
# engines; only date arithmetic differs (add_months vs + INTERVAL).
_SPINE_LO = "1995-01-01"
_SPINE_HI = "2001-12-01"
_MONTH_AGG = f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           count(*) AS n_orders,
           sum({cents_sql('o_totalprice')}) AS total_cents
    FROM orders GROUP BY 1
"""


def q_recursive_cte(spark, sf_dir):
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(f"""
        WITH RECURSIVE months AS (
            SELECT DATE '{_SPINE_LO}' AS month_start
            UNION ALL
            SELECT add_months(month_start, 1) FROM months
            WHERE month_start < DATE '{_SPINE_HI}'
        )
        SELECT CAST(m.month_start AS TIMESTAMP_NTZ) AS month_start,
               CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(coalesce(o.total_cents, 0) AS BIGINT) AS total_cents
        FROM months m LEFT JOIN ({_MONTH_AGG}) o USING (month_start)
    """)


_LATERAL = """
    SELECT r.r_name, top.n_name, top.total_bal_cents
    FROM region r,
    LATERAL (
        SELECT n.n_name, {total} AS total_bal_cents
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY total_bal_cents DESC, n_name
        LIMIT 2
    ) top
"""


def q_lateral_topn(spark, sf_dir):
    register_views(spark, sf_dir, ["region", "nation", "customer"])
    return spark.sql(
        _LATERAL.format(total=f"sum({cents_sql('c_acctbal')})"))


_REGR = """
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
           round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y
    FROM lineitem GROUP BY l_returnflag
"""


def q_regr_funcs(spark, sf_dir):
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_REGR)


def _disc_rev() -> F.Column:
    """The TPC-H discounted-revenue term, one definition for every query
    that sums it (the SQL oracles spell it inline — that's the point of a
    cross-engine check; only the Spark side deduplicates)."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q_tpch_q3(spark, sf_dir):
    """Shipping-priority: 3-way join, filtered both sides, top-10 revenue."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-03-15")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-03-15")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(_disc_rev()), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """Local-supplier volume: 6-table join with region filter."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(_disc_rev()), 2)
             .alias("revenue"))
    )


def q_tpch_q6(spark, sf_dir):
    """Forecast-revenue-change: single highly-selective scan aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= "1996-01-01")
                  & (F.col("l_shipdate") < "1997-01-01")
                  & F.col("l_discount").between(0.05, 0.07)
                  & (F.col("l_quantity") < 24))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
             .alias("revenue"))
    )


def q_tpch_q10(spark, sf_dir):
    """Returned-item reporting: top-20 customers by lost revenue."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(_disc_rev()), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_tpch_q12(spark, sf_dir):
    """Shipping-mode line counts by priority class (conditional agg)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(high, 1).otherwise(0)).cast("bigint")
             .alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).cast("bigint")
             .alias("low_line_count"))
    )


def q_tpch_q4(spark, sf_dir):
    """Order-priority checking (adapted: 'late' = shipped >60 days after the
    order date, standing in for commitdate<receiptdate which the slimmed
    schema lacks). EXISTS becomes a left-semi join — no row duplication, and
    the probe side carries only the join keys at scale."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
            "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q7(spark, sf_dir):
    """Volume shipping between two nations: the classic two-aliased-dimension
    join (nation joined twice under different roles), year extraction, and a
    disjunctive pair filter. Both nation dims are broadcast."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31"))
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    pair = (((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.round(F.sum(_disc_rev()), 2)
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8(spark, sf_dir):
    """National market share: 7-table join, share-of-total conditional
    aggregate. Region restricts the customer side; the numerator picks one
    supplier nation."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31"))
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = _disc_rev()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
            / F.sum(vol), 4).alias("mkt_share"))
        .orderBy("o_year")
    )


def q_tpch_q9(spark, sf_dir):
    """Product-type profit (adapted: profit = revenue - 10% of retail value,
    since the slimmed schema has no ps_supplycost), grouped by supplier
    nation and order year."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = (_disc_rev()
              - F.col("p_retailprice") * F.col("l_quantity") * 0.1)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q13(spark, sf_dir):
    """Customer order-count distribution: left join preserving 0-order
    customers, two-level aggregation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q14(spark, sf_dir):
    """Promotion-revenue share: join + conditional share-of-total in one
    aggregate over a one-month shipdate slice."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01"))
    part = load_table(spark, sf_dir, "part")
    rev = _disc_rev()
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev), 4).alias("promo_revenue"))
    )


def q_tpch_q15(spark, sf_dir):
    """Top supplier by quarterly revenue. The classic view + scalar-max is a
    tiny aggregate (one row per supplier), so the max is computed once and
    broadcast back — no global-sort, no single-partition window."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
    revenue = (li.groupBy(F.col("l_suppkey").alias("supplier_no"))
               .agg(F.round(F.sum(_disc_rev()), 2)
                    .alias("total_revenue")))
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(revenue, supp.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q17(spark, sf_dir):
    """Small-quantity-order revenue: correlated scalar subquery
    (0.2 * per-part average quantity) decorrelated into a pre-aggregation.
    Lineitem is first semi-restricted to the brand's parts so the per-part
    average is computed over a tiny slice, then joined back broadcast."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23").select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cuts = (li_b.groupBy("l_partkey")
            .agg((0.2 * F.avg("l_quantity")).alias("qty_cut")))
    return (
        li_b.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(cuts), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q_tpch_q18(spark, sf_dir):
    """Large-volume customers: IN-subquery over a grouped HAVING becomes a
    left-semi join against the qualifying order keys."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("sq"))
           .filter(F.col("sq") > 150).select("l_orderkey"))
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


def q_tpch_q19(spark, sf_dir):
    """Discounted revenue under three disjunctive brand/size/quantity
    branches — the OR-of-ANDs shape that exercises predicate normalization.
    The common `p_partkey = l_partkey` conjunct stays an equi-join key.

    Data fidelity note: the constants are TPC-H spec text, but the
    generated part data stops at Brand#25, so the Brand#34 branch matches
    zero rows here — 2 of the 3 branches are live against this testdata
    (a row-production regression confined to the third branch would not
    move the oracle check). Kept as-spec rather than re-tuned."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    branch = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30)))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(branch)
        .agg(F.round(F.sum(_disc_rev()), 2)
             .alias("revenue"))
    )


def q_tpch_q21(spark, sf_dir):
    """Suppliers who kept orders waiting (adapted: 'late' = shipped >90 days
    after the order date). The classic EXISTS / NOT-EXISTS double self-join is
    decorrelated into one per-order aggregate: an (order, supplier) qualifies
    iff the order has >1 distinct supplier and exactly one distinct LATE
    supplier (necessarily this one, since the outer row is late). One shuffle
    over lineitem instead of three."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lo = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .withColumn("late",
                      F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS")))
    # two-level aggregation instead of two countDistincts: a multi-distinct
    # plans an Expand that duplicates every lineitem row before the
    # shuffle; collapsing to (order, supplier) first shuffles only the
    # distinct pairs (strictly less data on the wire at any scale)
    per_supp = (lo.groupBy("l_orderkey", "l_suppkey")
                .agg(F.max("late").alias("supp_late")))
    per_order = (per_supp.groupBy("l_orderkey")
                 .agg(F.count("*").alias("n_supp"),
                      F.sum(F.col("supp_late").cast("int")).alias("n_late_supp")))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        lo.filter(F.col("late"))
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
              "l_orderkey", "left_semi")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


def q_tpch_q22(spark, sf_dir):
    """Global-sales-opportunity (adapted: country code = last digit of the
    customer name, 'no orders' = no orders on/after 1999-01-01 since every
    customer here has some order). Scalar-average subquery broadcast, NOT
    EXISTS as a left-anti join."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.expr("right(c_name, 1)"))
    # rounded to 6dp: an unrounded avg is summation-order dependent and
    # a customer within an ulp of it would pass on one engine only
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.round(F.avg("c_acctbal"), 6).alias("avg_bal")))
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01").select("o_custkey")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(F.count("*").alias("numcust"),
             F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("cntrycode")
    )


def q_tpch_q2(spark, sf_dir):
    """Minimum-cost supplier (adapted: supply cost = min unit price observed
    in lineitem, since the slimmed schema has no partsupp). The correlated
    min-cost subquery is decorrelated into a per-part aggregate over the
    region's suppliers, joined back on the part key — the same key the cost
    table is already grouped by, so no extra shuffle shape at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
          .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    # both selections are per-(part, supplier)-independent, so they commute
    # with the cost aggregate: broadcast-semi-join lineitem down to EU
    # suppliers x size-15 parts BEFORE the groupBy — the shuffle carries
    # ~1/250 of lineitem instead of all of it (the scale-defining move)
    li_f = (li.join(F.broadcast(part.select("p_partkey")),
                    li.l_partkey == F.col("p_partkey"), "left_semi")
            .join(F.broadcast(eu.select("s_suppkey")),
                  li.l_suppkey == F.col("s_suppkey"), "left_semi"))
    # no round(): per-row IEEE division and min() are bit-identical across
    # engines, while round(x, 4) DISAGREES between them at representation
    # boundaries (Spark rounds the shortest decimal repr, DuckDB the true
    # binary value — an sf0.001 probe caught 26.2412 vs 26.2413). Rounding
    # is only kept where it absorbs float-sum reordering noise; a min of a
    # division has none to absorb.
    costs = (li_f.groupBy("l_partkey", "l_suppkey")
             .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                  .alias("supply_cost")))
    ec = costs.join(F.broadcast(eu), costs.l_suppkey == eu.s_suppkey)
    min_cost = ec.groupBy("l_partkey").agg(F.min("supply_cost").alias("min_cost"))
    return (
        ec.join(min_cost, "l_partkey")
        .filter(F.col("supply_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select("s_acctbal", "s_name", "n_name",
                F.col("l_partkey").alias("p_partkey"), "p_brand", "supply_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q_tpch_q11(spark, sf_dir):
    """Important-stock identification (adapted: a part's 'value' = discounted
    revenue shipped by one nation's suppliers, since there is no partsupp).
    The scalar-total subquery becomes a one-row aggregate broadcast back as
    the HAVING threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3")
    n3 = (supp.join(F.broadcast(nation),
                    supp.s_nationkey == nation.n_nationkey)
          .select("s_suppkey"))
    val = (li.join(F.broadcast(n3), li.l_suppkey == F.col("s_suppkey"))
           .groupBy("l_partkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2).alias("value")))
    # round the cross-engine threshold like every other compared double
    # aggregate: sum order differs between engines, and an unrounded
    # 0.001*sum leaves an ulp window where `value > threshold` could flip
    # on one side only
    threshold = val.agg(F.round(0.001 * F.sum("value"), 2)
                        .alias("threshold"))
    return (
        val.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("p_partkey"), "value")
        .orderBy(F.desc("value"), "p_partkey")
    )


def q_tpch_q16(spark, sf_dir):
    """Parts/supplier relationship count (adapted: the part-supplier relation
    comes from lineitem; 'complaint' suppliers = negative account balance,
    standing in for the comment scan). NOT IN becomes a left-anti join; the
    count-distinct is a distinct-pairs shuffle followed by a plain count —
    no Expand duplication of the fact rows. (Brand#45 is spec text; the
    generated brands stop at Brand#25, so that exclusion is vacuous
    against this testdata — the p_type/p_size predicates do select.)"""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & (F.col("p_type") != "MEDIUM")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    bad = (load_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    pairs = (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count(F.lit(1)).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_tpch_q20(spark, sf_dir):
    """Potential-part-promotion (adapted: a supplier qualifies if it shipped
    more than half of some 'red' part's 1996 volume — the availqty > 0.5*qty
    correlated shape without partsupp). The nested IN subqueries become
    aggregate + semi-join chains; the part slice is broadcast into the
    year-filtered fact scan before any shuffle."""
    li96 = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01"))
    red = (load_table(spark, sf_dir, "part")
           .filter(F.col("p_name").like("red%")).select("p_partkey"))
    per_ps = (li96.join(F.broadcast(red), li96.l_partkey == red.p_partkey)
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.sum("l_quantity").alias("qty")))
    per_p = per_ps.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    dominant = (per_ps.join(per_p, "l_partkey")
                .filter(F.col("qty") > 0.5 * F.col("total_qty"))
                .select("l_suppkey"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_ZBITS = 12
_ZBUCKETS = 16
_ZMASK = (1 << _ZBITS) - 1


def q_zorder_stats(spark, sf_dir):
    """Per-Z-range file stats for orders laid out on (custkey, orderkey)."""
    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey").bitwiseAND(F.lit(_ZMASK))).alias("x"),
        (F.col("o_orderkey").bitwiseAND(F.lit(_ZMASK))).alias("y"),
        F.col("o_orderkey").alias("oid"))
    return LY.zorder_bucket_stats(orders, "x", "y", "oid",
                                   n_buckets=_ZBUCKETS, bits=_ZBITS)


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"]
_ACCEPTED = {"o_orderstatus": ["F", "O", "P"]}
_RANGES = {"o_totalprice": (0.0, 1_000_000.0)}
_HIST_LO, _HIST_HI, _HIST_BUCKETS = 0.0, 600_000.0, 12


def q_table_profile(spark, sf_dir):
    """Single-scan per-column profile of orders."""
    orders = load_table(spark, sf_dir, "orders")
    return PR.table_profile(orders, _PROFILE_COLS)


def q_table_profile_approx(spark, sf_dir):
    """The profile's 100 TB form: approx_count_distinct instead of the
    Expand-forcing exact countDistinct, verified within 5% of the exact
    count computed in the same scan (VERDICT r3 noted the swap was only
    documented; this row demonstrates it against the oracle)."""
    orders = load_table(spark, sf_dir, "orders")
    return PR.table_profile_approx(orders, _PROFILE_COLS)


def q_dq_checks(spark, sf_dir):
    """Declarative constraints over orders: keys not-null + unique, status
    in its domain, totalprice in range. (o_custkey is intentionally also
    checked unique — it must FAIL with real violation counts, proving the
    checker counts rather than rubber-stamps.)"""
    orders = load_table(spark, sf_dir, "orders")
    return PR.quality_checks(
        orders,
        not_null=["o_orderkey", "o_custkey"],
        unique=["o_orderkey", "o_custkey"],
        accepted_values=_ACCEPTED,
        ranges=_RANGES)


def q_histogram(spark, sf_dir):
    """Equi-width totalprice histogram with edge clamping."""
    orders = load_table(spark, sf_dir, "orders")
    return PR.equi_width_histogram(orders, "o_totalprice",
                                   _HIST_LO, _HIST_HI, _HIST_BUCKETS)


def q_winsorize(spark, sf_dir):
    """Clip order totals to the exact p01/p99 corpus quantiles."""
    orders = load_table(spark, sf_dir, "orders")
    return SA.winsorize(orders, F.col("o_totalprice"), "o_orderkey",
                        q_lo=0.01, q_hi=0.99, score_name="totalprice")


def q_quantile_bin(spark, sf_dir):
    """Quartile-bin every order's total price (feature discretization)."""
    orders = load_table(spark, sf_dir, "orders")
    return SA.quantile_bin(orders, F.col("o_totalprice"), "o_orderkey",
                           qs=(0.25, 0.5, 0.75), score_name="totalprice")


def q_skew_report(spark, sf_dir):
    """Join-key skew diagnostics over lineitem's three join keys."""
    li = load_table(spark, sf_dir, "lineitem")
    return PR.skew_report(li, ["l_orderkey", "l_partkey", "l_suppkey"])


def q_contingency(spark, sf_dir):
    """Order status x priority contingency counts with exact marginals."""
    orders = load_table(spark, sf_dir, "orders")
    return PR.contingency_table(orders, "o_orderstatus", "o_orderpriority")


def scd2_intervals(spark, sf_dir, user_bound: int = 100):
    """The events' SCD2 validity intervals (``cdc.scd2_intervals``), one
    definition for both halves of the workflow: q_scd2_build constructs,
    q_scd2_lookup probes. The user_bound filter sits BELOW the window —
    equivalent (the window partitions by user_id) and it prunes before
    the shuffle."""
    return CDC.scd2_intervals(
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < user_bound)
        .select("user_id", "event_type", "ts", "event_id"))


def q_scd2_build(spark, sf_dir):
    """Slowly-changing-dimension type 2 build: see
    :func:`scd2_intervals` (the shared recipe) for the semantics."""
    return scd2_intervals(spark, sf_dir).select(
        "user_id", "version", "state", "valid_from", "valid_to",
        F.col("valid_to").isNull().alias("is_current"))


_SCD2_SQL = CDC.scd2_build_sql("events", 100)


_HH_MIN_FRAC = 0.002   # tokens covering >= 0.2% of the corpus stream
_BLOOM_BRAND = "Brand#1"  # dim slice: part rows of one brand prefix


def _token_stream(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return (TF.token_rows(docs, "text", "doc_id").select("token"))


_TOKEN_STREAM_SQL = (
    "(SELECT token FROM ("
    + TF.token_rows_sql("documents", "text", "doc_id")
    + "))")


def q_heavy_hitters(spark, sf_dir):
    """Corpus stopword discovery: tokens with frequency >= 0.2% of the
    whole token stream, found with bounded per-partition state and an
    exact candidate recount (never a full-vocabulary shuffle)."""
    toks = _token_stream(spark, sf_dir)
    return SK.heavy_hitters(toks, "token", min_frac=_HH_MIN_FRAC)


def q_bloom_join(spark, sf_dir):
    """Bloom-prefilter lineitem against the Brand#1* slice of part:
    report how many fact rows the dim-derived filter admits vs how many
    truly join — the shuffle-avoidance ratio at 100 TB."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").startswith(_BLOOM_BRAND))
    return SK.bloom_prefilter_join_stats(
        lineitem, dim, "l_partkey", "p_partkey")


def q_freq_moments(spark, sf_dir):
    """Join-key census of lineitem.l_orderkey: F2 is the exact row count
    a self equi-join would emit; max_freq the heaviest reducer cell."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return SK.freq_moments(lineitem, "l_orderkey")


def q_window_distribution(spark, sf_dir):
    """Distribution window functions per language: percent_rank,
    cume_dist, and quartile (ntile) of document length — deterministic
    tie-break on doc_id. Per-entity partitions; no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id", "lang", "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"))


_WINDOW_DISTRIBUTION_SQL = """
    SELECT doc_id, lang, n_chars,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
"""


def q_mad_outliers(spark, sf_dir):
    """Robust outlier flags: per language, documents whose length
    deviates from the group median by more than 3 median-absolute-
    deviations (operators/profiling.mad_outliers)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars")
    return PR.mad_outliers(docs, "doc_id", "lang", "n_chars")


_MAD_OUTLIERS_SQL = PR.mad_outliers_sql("documents", "doc_id", "lang",
                                        "n_chars")


_INCR_CUTOVER = 3000  # event_id boundary: "already ingested" vs new batch


def q_incremental_agg(spark, sf_dir):
    """Algebraic incremental aggregation: per-(day, event_type) stats
    maintained as mergeable partials — the stored state (events below the
    cutover, pre-aggregated) absorbs a new batch WITHOUT rescanning
    history: merge = sum the partial (n, total) pairs and re-derive the
    average at read time. The oracle recomputes from scratch over all
    events; hash equality proves the merge is exact. At 100 TB this is
    the difference between touching one day's data and touching the
    archive — same pattern as the bucketed dedup index, applied to
    aggregates."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        # integer cents BEFORE the partials (r9 review): the merged
        # double sum's 6-dp rounding could land on an accumulation-
        # order-sensitive ulp boundary — partials must merge EXACTLY
        cents(F.col("value")).alias("cents"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"))

    return PR.incremental_rollup(ev, ["day", "event_type"], "cents",
                                 "event_id", _INCR_CUTOVER)


_INCREMENTAL_AGG_SQL = f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n,
           CAST(sum({cents_sql('value')}) AS BIGINT) AS total_cents,
           CAST(sum({cents_sql('value')}) AS DOUBLE) / count(*)
               AS avg_cents
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d'), event_type
"""


_PRICE_BUCKET = 10_000    # cents: ~11 buckets over the part price domain


def q_pareto_frontier(spark, sf_dir):
    """Price/size skyline of the part catalog: parts where no other part
    is both cheaper and larger."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice").cast("double") * 100)
        .cast("bigint").alias("cost_cents"),
        "p_size")
    return SKY.pareto_frontier(part, "p_partkey", "cost_cents", "p_size",
                               bucket_width=_PRICE_BUCKET)


_HLL_TOL = 0.05   # lgConfigK=12 -> ~1.6% standard error; 5% is 3 sigma


def q_hll_rollup(spark, sf_dir):
    """Re-aggregatable distinct-count sketches — the pre-aggregated
    rollup primitive of a 100 TB warehouse: per-event-type HLL sketches
    of event_id (Spark 3.5 Datasketches `hll_sketch_agg`), then the
    TOTAL distinct count from `hll_union_agg` over the per-type sketches
    alone — the corpus is never rescanned for the rollup, which is the
    whole point (daily sketches merge into monthly counts for free).

    The sketch estimate is engine-specific, so the emitted columns are
    the EXACT count plus a within-tolerance boolean computed in-plan
    against the estimate (the approx_count_distinct bounded-error oracle
    pattern): if the sketch machinery breaks, within_tol flips to false
    and the hash mismatches."""
    return SK.hll_rollup_check(load_table(spark, sf_dir, "events"),
                               "event_type", "event_id", _HLL_TOL)


# -- distribution shape ------------------------------------------------------

_MOMENTS_CORE = PR.central_moments_sql("events", "event_type", "value")


def q_higher_moments(spark, sf_dir):
    """Moment formulas shared verbatim with the oracle, PLUS an in-plan
    check that Spark's skewness/kurtosis builtins match the explicit
    formula within 1e-6 — if either builtin's definition drifts from
    population g1/g2, builtin_ok flips and the hash mismatches."""
    register_views(spark, sf_dir, ["events"])
    return PR.moments_builtin_check(spark.sql(_MOMENTS_CORE),
                                    load_table(spark, sf_dir, "events"),
                                    "event_type", "value")


# -- deterministic mode -------------------------------------------------------

_MODE_SQL = PR.mode_sql("orders", "o_orderstatus", "o_orderpriority",
                        "mode_priority")


def q_mode_rollup(spark, sf_dir):
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_MODE_SQL)


# -- ordered-set aggregates ---------------------------------------------------

_WG_PCT_SQL = """
    SELECT event_type,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 6)
               AS p50_cont,
           round(percentile_disc(0.25) WITHIN GROUP (ORDER BY value), 6)
               AS p25_disc,
           round(percentile_disc(0.75) WITHIN GROUP (ORDER BY value), 6)
               AS p75_disc
    FROM events GROUP BY event_type
"""


def q_within_group_percentiles(spark, sf_dir):
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_WG_PCT_SQL)


# -- scalar digest functions --------------------------------------------------
def q_hash_funcs(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.md5("c_name").alias("md5_hex"),
        F.sha2(F.col("c_name"), 256).alias("sha256_hex"),
        F.base64(F.encode("c_name", "UTF-8")).alias("b64"))


# -- parameterized SQL --------------------------------------------------------

_PARAM_MIN_BAL = 5000.0


def q_param_sql(spark, sf_dir):
    """Named parameter markers (Spark 3.4+ parameterized spark.sql): the
    binding must reach the plan — the oracle inlines the same literal."""
    register_views(spark, sf_dir, ["customer"])
    return spark.sql(
        f"""
        SELECT c_mktsegment,
               count(*) AS n_cust,
               CAST(sum({cents_sql('c_acctbal')}) AS BIGINT)
                   AS total_bal_cents
        FROM customer WHERE c_acctbal > :min_bal
        GROUP BY c_mktsegment
        """,
        args={"min_bal": _PARAM_MIN_BAL})


# -- GROUP BY ALL -------------------------------------------------------------

_GBA_SQL = """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY ALL
"""


def q_group_by_all(spark, sf_dir):
    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(_GBA_SQL)


# -- UDTF with analyze --------------------------------------------------------

_UDTF_NCOLS = 3


def q_python_udtf_analyze(spark, sf_dir):
    """Spark 4 polymorphic UDTF: ``analyze`` derives the output schema
    (w0..w{n-1}) from the constant n_cols argument at plan time — the
    table-function surface where the schema is data-dependent. Splitting
    uses the shared WS_TOKEN_SPLIT class so the oracle's
    regexp_split_to_array cannot drift."""
    spark.udtf.register("split_cols", udtf(TF.SplitCols))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents")
    return spark.sql(f"""
        SELECT t.doc_id, s.*
        FROM documents t, LATERAL split_cols(t.text, {_UDTF_NCOLS}) s
        WHERE t.doc_id < 500
    """)


# -- exact bitmap distinct ----------------------------------------------------
_BITMAP_SQL_SPARK = """
    SELECT event_type,
           CAST(sum(n_chunk) AS BIGINT) AS n_distinct
    FROM (
        SELECT event_type,
               bitmap_count(bitmap_construct_agg(
                   bitmap_bit_position(event_id))) AS n_chunk
        FROM events
        GROUP BY event_type, bitmap_bucket_number(event_id)
    ) GROUP BY event_type
"""


def q_bitmap_distinct(spark, sf_dir):
    """Exact distinct via bitmap chunks: group by (key, bucket) builds a
    fixed-width bitmap per 32768-id chunk; counts sum across chunks.
    Unlike count(DISTINCT) the per-chunk bitmaps are MERGEABLE state —
    the daily→monthly exact-distinct rollup without re-deduplicating."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_BITMAP_SQL_SPARK)


# -- DISTINCT aggregates + count_if ------------------------------------------

_DISTINCT_AGGS_SQL = """
    SELECT event_type,
           CAST(count_if(value > 100) AS BIGINT) AS n_big,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(DISTINCT user_id) AS BIGINT) AS sum_users,
           round(avg(DISTINCT user_id), 6) AS avg_users
    FROM events GROUP BY event_type
"""


def q_distinct_aggs(spark, sf_dir):
    register_views(spark, sf_dir, ["events"])
    return spark.sql(_DISTINCT_AGGS_SQL)


# -- approx_top_k with in-plan exactness check --------------------------------

_ATK_K = 3


def q_approx_topk(spark, sf_dir):
    """Spark 4 ``approx_top_k`` sketch vs the exact top-k: emitted rows
    are the EXACT top-3 event types (count desc, type tie-break); the
    sketch's (item, count) pairs are matched in-plan — ``sketch_ok``
    flips false (and the hash mismatches) if the sketch misses an item
    or miscounts it. With 5 distinct types the sketch tracks all items
    exactly; the check is the contract that stays testable when the
    domain outgrows maxItemsTracked."""
    return SK.approx_topk_check(load_table(spark, sf_dir, "events"),
                                "event_type", _ATK_K)


# -- printf / radix / length surface ------------------------------------------


def q_format_funcs(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.format_string("%07d|%s", F.col("c_custkey"),
                        F.col("c_mktsegment")).alias("tag"),
        F.format_string("%.3f", F.col("c_acctbal").cast("double"))
        .alias("bal_str"),
        F.hex(F.col("c_custkey")).alias("key_hex"),
        F.conv(F.col("c_custkey").cast("string"), 10, 2).alias("key_bin"),
        F.expr("repeat('*', CAST(c_custkey % 5 + 1 AS INT))")
        .alias("stars"),
        F.reverse(F.col("c_name")).alias("rev_name"),
        F.length("c_name").alias("n_chars"),
        F.octet_length("c_name").alias("n_bytes"))


_FORMAT_ORACLE = """
    SELECT c_custkey,
           printf('%07d|%s', c_custkey, c_mktsegment) AS tag,
           printf('%.3f', c_acctbal) AS bal_str,
           upper(to_hex(c_custkey)) AS key_hex,
           bin(c_custkey) AS key_bin,
           repeat('*', CAST(c_custkey % 5 + 1 AS INT)) AS stars,
           reverse(c_name) AS rev_name,
           CAST(length(c_name) AS INT) AS n_chars,
           CAST(strlen(c_name) AS INT) AS n_bytes
    FROM customer
"""


# -- observe / Observation ------------------------------------------------------
def q_observe_metrics(spark, sf_dir):
    """``DataFrame.observe``: accumulator-style metrics collected during
    an existing pass — the production data-quality pattern (row counts,
    null counts, sums ride the write job; NO extra scan). Here the
    observed pass is a noop-sink write; the returned one-row frame holds
    the metrics, and the oracle recomputes them from scratch."""
    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("l_extendedprice"))).alias("price_cents"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        # DISTINCT aggregates are not allowed in observed metrics
        # ([INVALID_OBSERVED_METRICS]); min/max are
        F.max(cents(F.col("l_extendedprice"))).alias("max_price_cents"))
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["price_cents"], m["n_discounted"],
          m["max_price_cents"])],
        "n_rows bigint, price_cents bigint, n_discounted bigint, "
        "max_price_cents bigint")


# -- calendar constructors ------------------------------------------------------

# DATE results are CAST to TIMESTAMP for the value compare: Spark
# collects DATE as python date objects while DuckDB hands pandas
# datetime64 — wall-equal values that would hash apart (session tz is
# UTC on both sides, so the cast cannot shift instants)
_CAL_SQL = """
    SELECT o_orderkey,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
               AS month_end,
           CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INT) AS doy,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
           CAST(make_date(CAST(year(o_orderdate) AS INT),
                          CAST(month(o_orderdate) AS INT), 1)
                AS TIMESTAMP) AS month_start,
           make_timestamp(CAST(year(o_orderdate) AS INT),
                          CAST(month(o_orderdate) AS INT),
                          CAST(day(o_orderdate) AS INT), 12, 0, 0.5)
               AS noonish
    FROM orders
"""


def q_calendar_funcs(spark, sf_dir):
    register_views(spark, sf_dir, ["orders"])
    return spark.sql(_CAL_SQL)


# -- UDTF with a TABLE argument ------------------------------------------------
_CHANGE_SQL_ORACLE = """
    SELECT user_id, event_id, event_type
    FROM (
        SELECT user_id, event_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ) WHERE prev IS NULL OR event_type <> prev
"""


def q_udtf_table_arg(spark, sf_dir):
    """Spark 4 UDTF over a TABLE argument with PARTITION BY/ORDER BY —
    the polymorphic table-IN-table-OUT surface (a fresh UDTF instance
    per partition, rows arriving in the declared order): change-point
    detection over each user's event stream. The oracle is the lag-window
    equivalent, so the partition/ordering contract is value-checked, not
    assumed. The multi-column ORDER BY needs the parenthesized form —
    Spark's parser rejects the bare list."""
    spark.udtf.register("change_points", udtf(
        EV.ChangePoints, returnType=EV.CHANGE_POINTS_SCHEMA))
    register_views(spark, sf_dir, ["events"])
    return spark.sql("""
        SELECT * FROM change_points(
            TABLE(SELECT user_id, event_id, event_type, ts FROM events)
            PARTITION BY user_id ORDER BY (ts, event_id))
    """)


# -- AES round-trip ---------------------------------------------------------

_AES_KEY = "0123456789abcdef"  # 16-byte AES-128 key (demo fixture)


def q_aes_roundtrip(spark, sf_dir):
    """GCM ciphertext embeds a random IV, so the VALUE is not oracle-able
    — the invariants are: decrypt∘encrypt is the identity, and the GCM
    frame costs exactly 28 bytes (12 IV + 16 tag) over the plaintext.
    Both are computed in-plan; a broken codec flips a boolean or shifts
    the length and the hash mismatches."""
    cust = load_table(spark, sf_dir, "customer")
    enc = F.expr(f"aes_encrypt(c_name, '{_AES_KEY}')")
    dec = F.expr(f"CAST(aes_decrypt(aes_encrypt(c_name, '{_AES_KEY}'), "
                 f"'{_AES_KEY}') AS STRING)")
    return cust.select(
        "c_custkey", "c_name",
        (dec == F.col("c_name")).alias("roundtrip_ok"),
        (F.octet_length(enc)
         - F.octet_length(F.encode("c_name", "UTF-8")))
        .cast("int").alias("gcm_overhead"))


# -- mergeable percentile rollup ----------------------------------------------
_PCT_PS = (0.50, 0.90, 0.99)
_PCT_ACCURACY = 100  # percentile_approx rank error <= n/accuracy

# ONE spelling for both engines: value-frequency partials per group, the
# '__all__' row MERGED from the partials (never from raw rows), discrete
# inverse-CDF percentiles (smallest value with cumulative count >=
# ceil(p*n) — integer-exact, no interpolation to drift cross-engine).
# The freq derivation and the percentile tail are separate fragments so
# the Spark side can materialize freq ONCE and reuse it for both the
# percentiles and the approx check (r8 review: the check used to rebuild
# the identical frequency table from a second derivation)
_PCT_FREQ_CTES = SK.value_freq_ctes_sql("events", "event_type", "value",
                                        cents_sql('value'))


_PCT_CORE = (f"WITH {_PCT_FREQ_CTES},\n    "
             f"{SK.percentile_tail_sql('freq', _PCT_PS, 'event_type')}")


def _pct_freq_df(spark, sf_dir):
    """The (g, v, cnt) frequency partials + '__all__' merge, from the
    SAME SQL fragment the oracle runs — one derivation, materialized so
    the percentile tail and the approx check share it without a second
    aggregation pass."""
    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        f"WITH {_PCT_FREQ_CTES} SELECT g, v, cnt FROM freq"
    ).localCheckpoint(eager=False)


def _pct_approx_ok(spark, sf_dir, corrupt_cents: int = 0, freq=None):
    """(event_type, approx_ok) of ``sketches.percentile_approx_ok`` over
    the events' cents values; ``freq`` is the :func:`_pct_freq_df` frame
    (built here if absent)."""
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("value").isNotNull())
          .select(F.col("event_type").alias("g"),
                  cents(F.col("value")).alias("v")))
    freq = _pct_freq_df(spark, sf_dir) if freq is None else freq
    return SK.percentile_approx_ok(ev, freq, _PCT_PS, _PCT_ACCURACY,
                                   "event_type", corrupt_cents)


def q_percentile_rollup(spark, sf_dir):
    """Mergeable percentile rollup: the '__all__' row's percentiles come
    from MERGING the per-group value-frequency partials (sum counts by
    value) — raw rows are scanned once for the partials and never again,
    the daily→monthly percentile pattern at 100 TB (domain-bounded: the
    frequency table is |groups| × |distinct cents|; bin first when the
    value domain is unbounded). ``approx_ok`` attests Spark's
    percentile_approx sketch against the same distribution within its
    rank-error guarantee — corrupting the sketch by one bin flips it
    (tests/test_extensions13.py)."""
    freq = _pct_freq_df(spark, sf_dir)
    freq.createOrReplaceTempView("_pct_freq")
    tail = SK.percentile_tail_sql("_pct_freq", _PCT_PS, "event_type")
    pct = spark.sql(f"WITH {tail}")
    return (pct.join(_pct_approx_ok(spark, sf_dir, freq=freq),
                     "event_type")
            .select("event_type", "n", "p50_cents", "p90_cents",
                    "p99_cents", "approx_ok"))


# -- SCD2 point-in-time lookup ------------------------------------------------

_SCD2_PROBE_SHIFT = "45 MINUTE"


def q_scd2_lookup(spark, sf_dir):
    """Point-in-time (as-of) dimension lookup against the SCD2 validity
    intervals scd2_build constructs: each probe (an event's ts shifted
    forward 45 minutes) resolves the state valid at that instant —
    probe_ts in [valid_from, valid_to), open interval = current. The
    join carries the user_id equi-key, so Spark plans a SortMergeJoin
    with the range as residual (never a BNLJ — plan-linted), and the
    interval non-overlap invariant makes the fan-out exactly one row per
    probe. Both halves of the workflow share ONE interval definition per
    engine: Spark-side :func:`scd2_intervals` (the build's own recipe)
    and oracle-side the build's _SCD2_SQL."""
    facts = (load_table(spark, sf_dir, "events")
             .filter(F.col("user_id") < 100)
             .select("event_id", "user_id",
                     (F.col("ts") + F.expr(f"INTERVAL {_SCD2_PROBE_SHIFT}"))
                     .alias("probe_ts")))
    return CDC.scd2_lookup(facts, scd2_intervals(spark, sf_dir))


_SCD2_LOOKUP_SQL = CDC.scd2_lookup_sql(_SCD2_SQL, f"""
        SELECT event_id, user_id,
               ts + INTERVAL {_SCD2_PROBE_SHIFT} AS probe_ts
        FROM events WHERE user_id < 100
    """)


# -- KMV distinct rollup --------------------------------------------------------
_KMV_K = 256
# 4-sigma for the Beyer estimator (sigma ~ 1/sqrt(k-2)): measured
# relative error at sf0.01 is 2-12%; the bound is the attestation knob,
# non-vacuous via the corrupt test in tests/test_extensions15.py
_KMV_REL_BOUND = 0.25


def q_kmv_rollup(spark, sf_dir):
    """Distinct USER-DAYS per event type AND overall, twice: exactly
    (raw count-distinct, the attestation side) and from the KMV sketch
    (the rollup side — '__all__' comes from MERGING the per-type
    partials, never rescanning events). User-days, not users: the
    user-day cardinality (~30x users) exceeds k at EVERY test SF, so
    the driver row exercises the estimator branch, not just the
    exact-below-k path. ``est_ok`` bounds the relative error; both
    engines compute the identical division, so the flag and the raw
    estimate hash-match. Measured relative error 2-12% across the
    groups at sf0.01 (worst 1.9 sigma) vs the 25% 4-sigma bound."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  F.concat(F.col("user_id").cast("string"), F.lit(":"),
                           F.col("ts").cast("date").cast("string"))
                  .alias("user_day")))
    return SK.kmv_rollup_check(ev, "event_type", "user_day", _KMV_K,
                               _KMV_REL_BOUND)


_KMV_SRC = ("(SELECT event_type, user_id || ':' || "
            "CAST(CAST(ts AS DATE) AS VARCHAR) AS user_day FROM events)")

_KMV_ORACLE = SK.kmv_rollup_check_sql(_KMV_SRC, "event_type", "user_day",
                                      _KMV_K, _KMV_REL_BOUND)
# -- table reconciliation ---------------------------------------------------------

# snapshot B perturbs A deterministically: deletes (% 1009), +1-cent
# updates (% 613), and inserts (key-shifted clones of % 1501 rows) — so
# the differing-bucket set is a real mixed diff, not one class of change
_TD_A_SQL = (f"(SELECT o_orderkey AS k, o_custkey AS c, "
             f"o_orderstatus AS s, {cents_sql('o_totalprice')} AS tc, "
             f"o_orderdate AS d FROM orders)")
_TD_B_SQL = f"""(
    SELECT k, c, s,
           CASE WHEN k % 613 = 0 THEN tc + 1 ELSE tc END AS tc, d
    FROM {_TD_A_SQL} WHERE k % 1009 != 0
    UNION ALL
    SELECT k + 10000000 AS k, c, s, tc, d
    FROM {_TD_A_SQL} WHERE k % 1501 = 0
)"""

_TD_REPR = "concat_ws('|', k, c, s, tc, d)"


def q_table_diff(spark, sf_dir):
    """Bucket-digest diff of the orders snapshot against its perturbed
    successor: output is exactly the buckets whose 60-bit xor digest or
    count changed. The snapshots and the canonical row rendering are
    shared SQL fragments, so the Spark and DuckDB sides hash identical
    bytes. Row values render as integers/dates/strings only (cents for
    the money column) — double-to-string is not cross-engine-stable."""
    register_views(spark, sf_dir, ["orders"])
    a = spark.sql(f"SELECT * FROM {_TD_A_SQL} x")
    b = spark.sql(f"SELECT * FROM {_TD_B_SQL} x")
    return RC.table_diff_digest(a, b, "k", F.expr(_TD_REPR))


# -- compaction planning -----------------------------------------------------------

# file inventory proxy: one "file" per (ship-month, orderkey%40) cell,
# sized by its total extendedprice cents — a deterministic stand-in for
# (partition, file, bytes) metadata
_CP_FILES_SQL = """
    SELECT part, fid, CAST(sum(sz) AS BIGINT) AS bytes
    FROM (
        SELECT date_trunc('month', l_shipdate) AS part,
               l_orderkey % 40 AS fid,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS sz
        FROM lineitem
    ) GROUP BY part, fid
"""
_CP_TARGET = 300_000_000


def q_compaction_plan(spark, sf_dir):
    """Greedy bin-packing of the synthetic file inventory into
    ~3e8-byte compaction groups, per ship-month partition: the
    single-window streaming formulation (bin = floor(bytes_before /
    target)), one shuffle on the partition key."""
    register_views(spark, sf_dir, ["lineitem"])
    files = spark.sql(_CP_FILES_SQL)
    return LY.compaction_bins(files, "part", "fid", "bytes", _CP_TARGET)


# -- weighted sampling ---------------------------------------------------------------

_WS_N = 25


def q_weighted_sample(spark, sf_dir):
    """25 documents per language, selected without replacement with
    probability increasing in n_chars — the deterministic division-keyed
    Efraimidis–Spirakis race (see operators/sampling.weighted_sample for
    why division, not ln). Output carries no floats."""
    docs = load_table(spark, sf_dir, "documents")
    return SA.weighted_sample(docs, "lang", "doc_id", "n_chars", _WS_N)


# -- count-min sketch --------------------------------------------------------------
_CM_DEPTH, _CM_WIDTH = 4, 512
_CM_PROBES = tuple(range(1, 21))  # partkeys present at every test SF


def q_count_min(spark, sf_dir):
    """Count-min point-frequency estimates for 20 probe part keys over
    lineitem, with exact counts and the two integer attestations
    alongside (ge_ok: CM never undercounts; bound_ok: overcount stays
    within 3·N/w). The sketch is depth×width bounded counters that
    MERGE by summing — per-day/per-partition partials roll up without
    rescanning raw rows, which is what makes it the 100 TB frequency
    primitive. N rides a one-row broadcast (documented scalar
    crossJoin)."""
    raw = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    sketch = SK.cm_sketch(raw, "l_partkey", _CM_DEPTH, _CM_WIDTH)
    return SK.cm_probe(spark, sketch, raw, "l_partkey", _CM_PROBES,
                       _CM_DEPTH, _CM_WIDTH)


_REPAIR_USER_BOUND = 100  # same entity subset as scd2_build / the stream


def q_scd2_repair(spark, sf_dir):
    """Late-data repair end-to-end. The (user_id < 100) change log is
    split deterministically: each entity with >= 3 events HOLDS OUT its
    2nd event in the per-entity (ts, event_id) order. The remaining log
    merges first (per-entity order intact, so the sink accepts); the
    held-out stripe then arrives — every one of its events predates its
    entity's open interval, so the order guard MUST refuse (the query
    raises if it does not: a vacuous repair never reaches the oracle).
    ``repair_entities`` rebuilds the affected entities from the full
    log; ``unapplied_events`` then shows the redelivered stripe fully
    applied (the query raises if any row remains). Scale shape: the
    holdout ranking is one window over the bounded entity subset, the
    repair rewrites only the touched buckets, and the affected-entity
    list is bounded by the stripe's distinct keys (the sinks'
    bucket-list collect contract)."""
    # imported here, not at module level: a test swaps the sink in
    # streaming.scd2 to prove the query refuses a vacuous repair
    from datafusion_delta_sharing_spark.streaming.scd2 import (
        repair_entities, scd2_state, scd2_upsert_sink, unapplied_events)

    log = (load_table(spark, sf_dir, "events")
           .filter(F.col("user_id") < _REPAIR_USER_BOUND)
           .select("user_id",
                   F.col("event_type"),
                   F.col("ts").cast("timestamp").alias("ts"),
                   "event_id"))
    wu = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), F.asc_nulls_last("event_id"))
    ranked = (log.withColumn("__rn", F.row_number().over(wu))
              .withColumn("__n", F.count(F.lit(1))
                          .over(Window.partitionBy("user_id")))
              ).localCheckpoint()  # bounded subset, reused four times
    held_out = (ranked.filter((F.col("__rn") == 2) & (F.col("__n") >= 3))
                .drop("__rn", "__n"))
    applied = (ranked.filter(~((F.col("__rn") == 2)
                               & (F.col("__n") >= 3)))
               .drop("__rn", "__n"))

    # precondition, checked FIRST (r10 review): an sf_dir where no
    # entity has >= 3 events makes the holdout empty and the sink would
    # return without refusing — the else-branch below would then blame
    # a removed order guard when the real cause is a vacuous data shape
    if not held_out.limit(1).count():
        raise RuntimeError(
            "scd2_repair: no entity with >= 3 events at this sf_dir — "
            "the holdout stripe is empty and the refuse->repair cycle "
            "cannot be exercised")

    state_dir = tempfile.mkdtemp(prefix="scd2_repair_state_")
    sink = scd2_upsert_sink(spark, state_dir, n_buckets=8,
                            run_id=f"{state_dir}-run")
    sink(applied, 0)
    try:
        sink(held_out, 1)
    except ValueError:
        pass
    else:  # the guard not firing means the repair below proves nothing
        raise RuntimeError(
            "scd2_repair: the held-out stripe merged without tripping "
            "the order guard — the refuse->repair cycle was not "
            "exercised")
    affected = sorted(r.user_id for r in
                      held_out.select("user_id").distinct().collect())
    repair_entities(spark, state_dir, log, affected)
    leftover = unapplied_events(spark, state_dir, held_out).count()
    if leftover:
        raise RuntimeError(
            f"scd2_repair: {leftover} held-out event(s) still unapplied "
            "after repair — the rebuild missed rows")
    return scd2_state(spark, state_dir)


ORACLES = {
    "csv_scan": _ORDERS_AGG_SQL,
    "json_scan": _ORDERS_AGG_SQL,
    "orc_scan": _ORDERS_AGG_SQL,
    "flagship": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders WHERE o_totalprice < 5000
        ORDER BY o_orderkey LIMIT 25
    """,
    "scan_filter_project": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
          AND l_discount > 0.03
    """,
    "filter_compound": """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE (o_orderstatus = 'O' AND o_totalprice BETWEEN 1000 AND 20000)
           OR (o_orderpriority LIKE '1-%' AND o_custkey NOT IN (1, 2, 3))
    """,
    "join_inner": """
        SELECT c_mktsegment,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "join_left": """
        SELECT c_custkey,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    "join_right": """
        SELECT c_nationkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
        FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
    "join_full": """
        SELECT coalesce(n_nationkey, s_nationkey) AS nk, n_name,
               CAST(count(s_suppkey) AS BIGINT) AS n_suppliers
        FROM nation FULL JOIN supplier ON n_nationkey = s_nationkey
        GROUP BY 1, 2
    """,
    "join_semi": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "join_anti": """
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "join_theta": """
        SELECT r_regionkey, count(*) AS n_pairs
        FROM part JOIN region ON p_size > r_regionkey * 10
        GROUP BY r_regionkey
    """,
    "join_range": """
        SELECT o_orderpriority, count(*) AS n_shipped_30d,
               round(sum(l_quantity), 2) AS qty_30d
        FROM lineitem JOIN orders
          ON l_orderkey = o_orderkey
         AND l_shipdate >= o_orderdate
         AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        GROUP BY o_orderpriority
    """,
    "join_broadcast": """
        SELECT n_name, count(*) AS n_suppliers,
               round(avg(s_acctbal), 2) AS avg_bal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "join_asof": """
        SELECT event_id, user_id, ts, last_click_ts FROM (
            SELECT event_id, user_id, ts, event_type,
                   last_value(CASE WHEN event_type = 'click' THEN ts END
                              IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_click_ts
            FROM events WHERE event_type IN ('click', 'error')
        ) WHERE event_type = 'error'
    """,
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                   AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "agg_having": """
        SELECT o_custkey, round(sum(o_totalprice), 2) AS total, count(*) AS n
        FROM orders GROUP BY o_custkey
        HAVING round(sum(o_totalprice), 2) > 300000
    """,
    "distinct": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "count_distinct": """
        SELECT o_orderpriority,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
    """,
    "approx_count_distinct": """
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               TRUE AS within_tol
        FROM lineitem GROUP BY l_returnflag
    """,
    "rollup": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube": """
        SELECT o_orderstatus, o_orderpriority,
               round(sum(o_totalprice), 2) AS total, count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "grouping_sets": _GROUPING_SETS_SQL,
    "agg_stats": """
        SELECT l_returnflag,
               round(min(l_quantity), 2) AS min_qty,
               round(max(l_quantity), 2) AS max_qty,
               round(avg(l_quantity), 4) AS avg_qty,
               round(stddev_samp(l_quantity), 4) AS std_qty,
               round(var_samp(l_quantity), 4) AS var_qty,
               round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    "pivot": """
        SELECT l_returnflag,
               round(coalesce(sum(CASE WHEN l_linestatus = 'F'
                                       THEN l_quantity END), 0), 2) AS qty_f,
               round(coalesce(sum(CASE WHEN l_linestatus = 'O'
                                       THEN l_quantity END), 0), 2) AS qty_o
        FROM lineitem GROUP BY l_returnflag
    """,
    "window_rank": """
        SELECT o_orderpriority, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER w AS rn,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey ASC)
        ) WHERE rn <= 5
    """,
    "window_running": """
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS run_total
        FROM orders
    """,
    "window_lag_lead": """
        SELECT event_id, user_id,
               lag(value) OVER w AS prev_value,
               lead(value) OVER w AS next_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "window_range_frame": """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
               round(sum(l_extendedprice) OVER (
                   PARTITION BY l_returnflag ORDER BY l_quantity
                   RANGE BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS frame_sum
        FROM lineitem
    """,
    "topk_per_group": """
        SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
            SELECT c_mktsegment, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY c_mktsegment
                                      ORDER BY o_totalprice DESC, o_orderkey ASC)
                   AS rn
            FROM orders JOIN customer ON o_custkey = c_custkey
        ) WHERE rn <= 3
    """,
    "topk_global": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    "union_all": """
        SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        UNION ALL
        SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
    """,
    "union_distinct": """
        SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        UNION
        SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
    """,
    "intersect": """
        SELECT CAST(c_nationkey AS INT) AS nk FROM customer
        INTERSECT
        SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
    """,
    "except": """
        SELECT CAST(n_nationkey AS INT) AS nk FROM nation
        EXCEPT
        SELECT CAST(s_nationkey AS INT) AS nk FROM supplier
        WHERE s_suppkey <= 10
    """,
    "string_funcs": """
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               lower(p_brand) AS brand_lower,
               CAST(length(p_name) AS BIGINT) AS name_len,
               substring(p_name, 1, 5) AS name_pfx,
               concat_ws('-', p_brand, p_type) AS brand_type,
               replace(p_type, ' ', '_') AS type_snake
        FROM part
    """,
    "date_funcs": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               CAST(day(o_orderdate) AS BIGINT) AS dom,
               date_trunc('month', o_orderdate) AS month_start,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT)
                   AS days_since_95
        FROM orders
    """,
    "math_funcs": """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * l_discount, 4) AS disc_amt,
               abs(l_quantity - 25) AS qty_dev,
               CAST(ceil(l_discount) AS BIGINT) AS disc_ceil,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               round(sqrt(l_extendedprice), 6) AS price_sqrt,
               round(ln(l_extendedprice), 6) AS price_ln,
               round(log10(l_extendedprice), 6) AS price_log10,
               round(pow(l_quantity, 2), 2) AS qty_sq,
               CAST(l_linenumber % 3 AS BIGINT) AS ln_mod3
        FROM lineitem
    """,
    "conditional": """
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 200000 THEN 'high'
                    WHEN o_totalprice > 50000 THEN 'mid'
                    ELSE 'low' END AS tier,
               coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
               greatest(o_totalprice, 1000) AS price_floor_1k,
               least(o_totalprice, 400000) AS price_cap_400k
        FROM orders
    """,
    "array_funcs": """
        SELECT vec_id,
               CAST(len(embedding) AS BIGINT) AS dim,
               round(CAST(embedding[1] AS DOUBLE), 5) AS first_component,
               round(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
                   AS l2_norm
        FROM embeddings
    """,
    "json_funcs": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        FROM events
    """,
    "cte": _CTE_SQL,
    "scalar_subquery": _SCALAR_SUBQUERY_SQL,
    "in_subquery": _IN_SUBQUERY_SQL,
    "exists_correlated": _EXISTS_CORRELATED_SQL,
    "pandas_udf_scalar": """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6)
                   AS charge
        FROM lineitem
    """,
    "grouped_map_zscore": """
        SELECT l_orderkey, l_linenumber, l_returnflag,
               round((l_quantity - avg(l_quantity) OVER w)
                     / stddev_samp(l_quantity) OVER w, 4) AS z
        FROM lineitem
        WINDOW w AS (PARTITION BY l_returnflag)
    """,
    "sessionization": """
        SELECT user_id,
               CAST(max(session_id) + 1 AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS session_id
            FROM (
                SELECT user_id, ts, event_id,
                       CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id))
                            > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            )
        )
        GROUP BY user_id
    """,
    "window_analytics": """
        SELECT o_orderkey, o_orderpriority,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               first_value(o_orderkey) OVER wfull AS cheapest_key,
               last_value(o_orderkey) OVER wfull AS priciest_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey),
               wfull AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)
    """,
    "agg_corr": """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
               round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_p
        FROM lineitem GROUP BY l_returnflag
    """,
    "explode_lateral": f"""
        SELECT doc_id,
               unnest(range(1, len(list_filter(regexp_split_to_array(trim(text), '{WS_TOKEN_SPLIT}'), x -> x != '')) + 1))
                   AS pos,
               unnest(list_filter(regexp_split_to_array(trim(text), '{WS_TOKEN_SPLIT}'), x -> x != '')) AS word
        FROM documents WHERE doc_id < 20
    """,
    "map_funcs": """
        SELECT doc_id,
               -- chars_val == n_chars by construction; spelled directly
               -- because map-extraction syntax is the one DuckDB idiom
               -- whose return shape changed across versions (LIST in 1.0,
               -- scalar later) — the Spark side still exercises element_at
               CAST(n_chars AS BIGINT) AS chars_val,
               CAST(cardinality(map(['chars','id'], [n_chars, doc_id]))
                    AS BIGINT) AS n_keys,
               array_to_string(list_sort(map_keys(
                    map(['chars','id'], [n_chars, doc_id]))), ',') AS keys_sorted
        FROM documents
    """,
    "unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   round(sum(l_quantity), 2) AS qty,
                   round(sum(l_extendedprice), 2) AS price
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'qty' AS measure, qty AS val FROM wide
        UNION ALL
        SELECT l_returnflag, 'price' AS measure, price AS val FROM wide
    """,
    "except_all": """
        SELECT l_orderkey AS k FROM lineitem WHERE l_quantity <= 10
        EXCEPT ALL
        SELECT l_orderkey AS k FROM lineitem WHERE l_quantity <= 5
    """,
    "python_udtf": f"""
        SELECT unnest(list_filter(regexp_split_to_array(trim(text), '{WS_TOKEN_SPLIT}'), x -> x != '')) AS w,
               doc_id AS d
        FROM documents WHERE doc_id < 10
    """,
    "regexp_funcs": """
        SELECT p_partkey,
               regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
               CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT)
                   AS n_vowels,
               regexp_matches(p_brand, 'Brand#[0-9]+') AS brand_matches
        FROM part
    """,
    "string_distance": """
        SELECT p_partkey,
               CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev,
               CAST(levenshtein(substring(p_name, 1, 10),
                                substring(p_type, 1, 10)) AS BIGINT) AS lev_pfx
        FROM part
    """,
    "pad_case_funcs": """
        SELECT n_nationkey,
               lpad(n_name, 20, '.') AS lpadded,
               rpad(n_name, 20, '.') AS rpadded,
               list_aggregate(list_transform(string_split(lower(n_name), ' '),
                   w -> upper(w[1]) || w[2:]), 'string_agg', ' ') AS title_case,
               reverse(n_name) AS reversed_name,
               repeat(substring(n_name, 1, 2), 3) AS repeated
        FROM nation
    """,
    "trig_funcs": """
        SELECT p_partkey,
               round(sin(p_retailprice / 1000.0), 6) AS sin_v,
               round(cos(p_retailprice / 1000.0), 6) AS cos_v,
               round(atan2(p_retailprice, 100.0), 6) AS atan2_v,
               round(degrees(atan(CAST(p_size AS DOUBLE))), 6) AS deg_atan,
               round(exp(p_size / 25.0), 6) AS exp_v
        FROM part
    """,
    "bitwise_funcs": """
        SELECT o_orderkey,
               o_orderkey & 255 AS low_byte,
               o_orderkey | 4096 AS with_flag,
               xor(o_orderkey, o_custkey) AS xored,
               o_custkey << 4 AS shifted_l,
               o_orderkey >> 2 AS shifted_r,
               CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
        FROM orders
    """,
    "cross_join": """
        SELECT r_name, count(*) AS n_pairs,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        FROM region CROSS JOIN nation
        GROUP BY r_name
    """,
    "null_safe_eq": """
        SELECT event_id,
               event_type IS NOT DISTINCT FROM prev_type AS same_as_prev,
               prev_type IS NULL AS is_first
        FROM (
            SELECT event_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        )
    """,
    "collect_agg": """
        SELECT n_regionkey,
               string_agg(n_name, '|' ORDER BY n_name) AS nations,
               count(*) AS n
        FROM nation GROUP BY n_regionkey
    """,
    "min_max_by": """
        SELECT o_orderpriority,
               min(CASE WHEN rn_asc = 1 THEN o_orderkey END) AS cheapest_key,
               min(CASE WHEN rn_desc = 1 THEN o_orderkey END) AS priciest_key,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey)
                       AS rn_asc,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC,
                                               o_orderkey DESC) AS rn_desc
            FROM orders
        )
        GROUP BY o_orderpriority
    """,
    "date_funcs2": """
        SELECT o_orderkey,
               CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
               CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
                   AS month_end,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS TIMESTAMP)
                   AS next_month,
               CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
        FROM orders
    """,
    "string_funcs2": """
        SELECT p_partkey,
               split_part(p_type, ' ', 1) AS type_first,
               translate(p_brand, '#B', '-b') AS brand_translated,
               CAST(strpos(p_name, 'a') AS BIGINT) AS first_a,
               left(p_name, 3) AS pfx3,
               right(p_name, 3) AS sfx3
        FROM part
    """,
    "bool_aggs": """
        SELECT l_returnflag,
               CAST(count_if(l_quantity > 25) AS BIGINT) AS n_bulk,
               bool_or(l_discount > 0.09) AS any_deep_discount,
               bool_and(l_quantity > 0) AS all_positive_qty,
               min(CASE WHEN rn = 1 THEN l_orderkey END) AS priciest_order
        FROM (
            SELECT l_returnflag, l_orderkey, l_quantity, l_discount,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice DESC,
                                               l_orderkey DESC) AS rn
            FROM lineitem
        )
        GROUP BY l_returnflag
    """,
    "session_window_batch": _SESSION_WINDOW_SQL,
    "approx_percentile": """
        SELECT l_returnflag, count(*) AS n_rows, TRUE AS within_tol
        FROM lineitem GROUP BY l_returnflag
    """,
    "array_hof": """
        SELECT vec_id,
               CAST(len(list_filter(embedding,
                    x -> CAST(x AS DOUBLE) > 0)) AS BIGINT) AS n_pos,
               len(list_filter(embedding,
                   x -> CAST(x AS DOUBLE) > 1.0)) > 0 AS any_gt1,
               len(list_filter(embedding,
                   x -> abs(CAST(x AS DOUBLE)) >= 100.0)) = 0 AS all_bounded,
               round(list_sum(list_transform(
                   list_zip(embedding, list_reverse(embedding)),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), 5)
                   AS dot_reversed,
               round(list_sum(list_transform(
                   list_reverse(list_sort(embedding))[1:3],
                   x -> CAST(x AS DOUBLE))), 5) AS top3_sum
        FROM embeddings
    """,
    "try_arith": """
        SELECT o_orderkey,
               round(o_totalprice
                     / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0.0), 4)
                   AS price_over_mod,
               TRY_CAST(o_orderstatus AS INTEGER) AS status_as_int,
               CAST(TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER)
                    AS BIGINT) AS priority_digit
        FROM orders
    """,
    "mask_funcs": """
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(c_name,
                   '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
                   AS name_masked,
               regexp_replace(regexp_replace(regexp_replace(c_mktsegment,
                   '[A-Z]', 'U', 'g'), '[a-z]', 'l', 'g'), '[0-9]', '9', 'g')
                   AS segment_masked
        FROM customer
    """,
    "url_funcs": """
        SELECT doc_id,
               source || '.example.com' AS host,
               '/docs/' || CAST(doc_id AS VARCHAR) AS path,
               lang AS lang_param,
               -- this DuckDB build has no url_encode; inputs are
               -- alphanumeric + '/', so percent-encoding is just %2F.
               -- The CASE guard ENFORCES that invariant: testdata that
               -- ever adds a space/'+'/':'/non-ASCII fails the oracle
               -- loudly here instead of hash-mismatching mysteriously
               CASE WHEN regexp_matches(source || lang, '[^A-Za-z0-9._/-]')
                    THEN error('url_funcs oracle: source/lang contains a '
                               'character its replace()-based encoder '
                               'cannot handle — use a real encoder')
                    ELSE replace(source || '/' || lang, '/', '%2F')
               END AS encoded
        FROM documents
    """,
    "join_salted": """
        SELECT e.event_type, count(*) AS n,
               round(sum(e.value), 4) AS sum_value,
               abs(sum(e.value - d.type_avg))
                   < 1e-12 * count(*) * avg(abs(e.value)) AS dev_near_zero
        FROM events e
        JOIN (SELECT event_type, avg(value) AS type_avg
              FROM events GROUP BY event_type) d
          ON e.event_type = d.event_type
        GROUP BY e.event_type
    """,
    "time_spine": f"""
        WITH bounds AS (
            SELECT date_trunc('hour', min(ts)) AS lo,
                   date_trunc('hour', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ),
        hourly AS (
            SELECT date_trunc('hour', ts) AS hour, count(*) AS n_purchases,
                   CAST(sum({cents_sql('value')}) AS BIGINT)
                       AS revenue_cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1
        )
        SELECT s.hour, coalesce(h.n_purchases, 0) AS n_purchases,
               CAST(coalesce(h.revenue_cents, 0) AS BIGINT)
                   AS revenue_cents
        FROM spine s LEFT JOIN hourly h ON s.hour = h.hour
    """,
    "variant_funcs": _VARIANT_SQL,
    "udaf_grouped_agg": _UDAF_SQL,
    "udaf_window": _UDAF_WINDOW_SQL,
    "arrow_grouped_map": _ARROW_GM_SQL,
    "exact_percentiles": f"""
        SELECT l_returnflag, CAST(ord - 1 AS BIGINT) AS q_idx,
               round(q, 6) AS q_value
        FROM (SELECT l_returnflag, unnest(qs) AS q,
                     generate_subscripts(qs, 1) AS ord
              FROM (SELECT l_returnflag,
                           quantile_cont(CAST(l_quantity AS DOUBLE),
                                         [{_QS_SQL}])
                               AS qs
                    FROM lineitem GROUP BY l_returnflag))
    """,
    "listagg_ordered": """
        SELECT r_name, string_agg(n_name, '|' ORDER BY n_name) AS nations,
               count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """,
    "recursive_cte": f"""
        WITH RECURSIVE months AS (
            SELECT DATE '{_SPINE_LO}' AS month_start
            UNION ALL
            SELECT month_start + INTERVAL 1 MONTH FROM months
            WHERE month_start < DATE '{_SPINE_HI}'
        )
        SELECT CAST(m.month_start AS TIMESTAMP) AS month_start,
               CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(coalesce(o.total_cents, 0) AS BIGINT) AS total_cents
        FROM months m LEFT JOIN ({_MONTH_AGG}) o USING (month_start)
    """,
    "lateral_topn": _LATERAL.format(
        total=f"CAST(sum({cents_sql('c_acctbal')}) AS BIGINT)"),
    "regr_funcs": _REGR,
    "tpch_q3": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-03-15'
          AND l_shipdate > TIMESTAMP '1997-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
        LIMIT 10
    """,
    "tpch_q5": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "tpch_q6": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "tpch_q10": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "tpch_q12": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
    """,
    "tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "tpch_q7": """
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 2) AS revenue
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     year(l_shipdate) AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
                AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                                   AND TIMESTAMP '1997-12-31') shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "tpch_q8": """
        SELECT o_year,
               round(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume
                              ELSE 0 END) / sum(volume), 4) AS mkt_share
        FROM (SELECT year(o_orderdate) AS o_year,
                     l_extendedprice * (1 - l_discount) AS volume,
                     n2.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region ON n1.n_regionkey = r_regionkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
              WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
                AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                                    AND TIMESTAMP '1997-12-31') all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    "tpch_q9": """
        SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
        FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                     l_extendedprice * (1 - l_discount)
                       - p_retailprice * l_quantity * 0.1 AS amount
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE p_name LIKE '%red%') profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    "tpch_q13": """
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "tpch_q14": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4)
               AS promo_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    "tpch_q15": """
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "tpch_q17": """
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                            WHERE l2.l_partkey = part.p_partkey)
    """,
    "tpch_q18": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(sum(l_quantity), 2) AS sum_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
        LIMIT 100
    """,
    "tpch_q19": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q21": """
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 100
    """,
    "tpch_q22": """
        SELECT cntrycode, count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM (SELECT right(c_name, 1) AS cntrycode, c_acctbal, c_custkey
              FROM customer
              WHERE c_acctbal > (SELECT round(avg(c_acctbal), 6)
                                 FROM customer WHERE c_acctbal > 0)) hi
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = hi.c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
    "tpch_q2": """
        WITH costs AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS supply_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey),
        eu AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'),
        ec AS (
            SELECT c.l_partkey, c.supply_cost, eu.s_name, eu.s_acctbal, eu.n_name
            FROM costs c JOIN eu ON c.l_suppkey = eu.s_suppkey),
        mc AS (SELECT l_partkey, min(supply_cost) AS min_cost
               FROM ec GROUP BY l_partkey)
        SELECT s_acctbal, s_name, n_name, ec.l_partkey AS p_partkey,
               p_brand, supply_cost
        FROM ec
        JOIN mc ON ec.l_partkey = mc.l_partkey
        JOIN part ON ec.l_partkey = p_partkey
        WHERE supply_cost = min_cost AND p_size = 15
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    "tpch_q11": """
        WITH val AS (
            SELECT l_partkey AS p_partkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS value
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY l_partkey)
        SELECT p_partkey, value FROM val
        WHERE value > (SELECT round(0.001 * sum(value), 2) FROM val)
        ORDER BY value DESC, p_partkey
    """,
    "tpch_q16": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45' AND p_type <> 'MEDIUM'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "tpch_q20": """
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_suppkey IN (
            WITH li96 AS (
                SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate < TIMESTAMP '1997-01-01'
                  AND l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')),
            per_ps AS (
                SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
                FROM li96 GROUP BY l_partkey, l_suppkey),
            per_p AS (
                SELECT l_partkey, sum(qty) AS total_qty
                FROM per_ps GROUP BY l_partkey)
            SELECT l_suppkey FROM per_ps
            JOIN per_p USING (l_partkey)
            WHERE qty > 0.5 * total_qty)
        ORDER BY s_suppkey
    """,
    "zorder_stats": LY.zorder_bucket_stats_sql(
        f"""(SELECT (o_custkey & {_ZMASK}) AS x,
                    (o_orderkey & {_ZMASK}) AS y,
                    o_orderkey AS oid
             FROM orders)""",
        "x", "y", "oid", n_buckets=_ZBUCKETS, bits=_ZBITS),
    "table_profile": PR.table_profile_sql("orders", _PROFILE_COLS),
    "table_profile_approx": PR.table_profile_approx_sql(
        "orders", _PROFILE_COLS),
    "dq_checks": PR.quality_checks_sql(
        "orders",
        not_null=["o_orderkey", "o_custkey"],
        unique=["o_orderkey", "o_custkey"],
        accepted_values=_ACCEPTED,
        ranges=_RANGES),
    "histogram": PR.equi_width_histogram_sql(
        "orders", "o_totalprice", _HIST_LO, _HIST_HI, _HIST_BUCKETS),
    "winsorize": SA.winsorize_sql(
        "orders", "o_totalprice", "o_orderkey",
        q_lo=0.01, q_hi=0.99, score_name="totalprice"),
    "quantile_bin": SA.quantile_bin_sql(
        "orders", "o_totalprice", "o_orderkey",
        qs=(0.25, 0.5, 0.75), score_name="totalprice"),
    "skew_report": PR.skew_report_sql(
        "lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]),
    "contingency": PR.contingency_table_sql(
        "orders", "o_orderstatus", "o_orderpriority"),
    "scd2_build": _SCD2_SQL,
    "heavy_hitters": SK.heavy_hitters_sql(
        _TOKEN_STREAM_SQL, "token", _HH_MIN_FRAC),
    "bloom_join": SK.bloom_prefilter_join_stats_sql(
        "lineitem",
        f"(SELECT * FROM part WHERE p_brand LIKE '{_BLOOM_BRAND}%')",
        "l_partkey", "p_partkey"),
    "freq_moments": SK.freq_moments_sql("lineitem", "l_orderkey"),
    "window_distribution": _WINDOW_DISTRIBUTION_SQL,
    "mad_outliers": _MAD_OUTLIERS_SQL,
    "incremental_agg": _INCREMENTAL_AGG_SQL,
    "pareto_frontier": SKY.pareto_frontier_sql(
        "(SELECT p_partkey,"
        " CAST(round(CAST(p_retailprice AS DOUBLE) * 100) AS BIGINT)"
        "     AS cost_cents,"
        " p_size FROM part)",
        "p_partkey", "cost_cents", "p_size"),
    "hll_rollup": """
        SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT)
                   AS n_exact,
               TRUE AS within_tol
        FROM events GROUP BY event_type
        UNION ALL
        SELECT '__all__' AS event_type,
               CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact,
               TRUE AS within_tol
        FROM events
    """,
    "higher_moments": f"""
        SELECT event_type, n, mean, m2, skew, kurt, TRUE AS builtin_ok
        FROM ({_MOMENTS_CORE})
    """,
    "mode_rollup": _MODE_SQL,
    "within_group_percentiles": _WG_PCT_SQL,
    "hash_funcs": """
        SELECT c_custkey, md5(c_name) AS md5_hex,
               sha256(c_name) AS sha256_hex,
               to_base64(encode(c_name)) AS b64
        FROM customer
    """,
    "param_sql": f"""
        SELECT c_mktsegment,
               count(*) AS n_cust,
               CAST(sum({cents_sql('c_acctbal')}) AS BIGINT)
                   AS total_bal_cents
        FROM customer WHERE c_acctbal > {_PARAM_MIN_BAL}
        GROUP BY c_mktsegment
    """,
    "group_by_all": _GBA_SQL,
    "python_udtf_analyze": f"""
        SELECT doc_id, words[1] AS w0, words[2] AS w1, words[3] AS w2
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(text,
                                 '{WS_TOKEN_SPLIT}'), x -> x != '')
                         AS words
              FROM documents WHERE doc_id < 500 AND text IS NOT NULL)
    """,
    "bitmap_distinct": """
        SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT)
                   AS n_distinct
        FROM events GROUP BY event_type
    """,
    "distinct_aggs": _DISTINCT_AGGS_SQL,
    "approx_topk": f"""
        SELECT event_type, CAST(n AS BIGINT) AS n, CAST(rk AS INT) AS rk,
               TRUE AS sketch_ok
        FROM (
            SELECT event_type, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, event_type)
                       AS rk
            FROM events GROUP BY event_type
        ) WHERE rk <= {_ATK_K}
    """,
    "format_funcs": _FORMAT_ORACLE,
    "observe_metrics": f"""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum({cents_sql('l_extendedprice')}) AS BIGINT)
                   AS price_cents,
               CAST(count_if(l_discount > 0.05) AS BIGINT)
                   AS n_discounted,
               CAST(max({cents_sql('l_extendedprice')}) AS BIGINT)
                   AS max_price_cents
        FROM lineitem
    """,
    "calendar_funcs": _CAL_SQL,
    "udtf_table_arg": _CHANGE_SQL_ORACLE,
    "aes_roundtrip": """
        SELECT c_custkey, c_name, TRUE AS roundtrip_ok,
               28 AS gcm_overhead
        FROM customer
    """,
    "percentile_rollup": f"""
        SELECT event_type, n, p50_cents, p90_cents, p99_cents,
               TRUE AS approx_ok
        FROM ({_PCT_CORE})
    """,
    "scd2_lookup": _SCD2_LOOKUP_SQL,
    "kmv_rollup": _KMV_ORACLE,
    "table_diff": RC.table_diff_digest_sql(
        _TD_A_SQL, _TD_B_SQL, "k", _TD_REPR),
    "compaction_plan": LY.compaction_bins_sql(
        _CP_FILES_SQL, "part", "fid", "bytes", _CP_TARGET),
    "weighted_sample": SA.weighted_sample_sql(
        "SELECT lang, doc_id, n_chars FROM documents", "lang",
        "doc_id", "n_chars", _WS_N),
    "count_min": SK.cm_probe_sql(
        "SELECT l_partkey FROM lineitem", "l_partkey", _CM_PROBES,
        _CM_DEPTH, _CM_WIDTH),
    "scd2_repair": _SCD2_SQL,
}
