"""Correctness harness: the driver-facing query registry.

Each query is ``(spark, sf_dir) -> DataFrame`` plus a DuckDB oracle
string over the same parquet tables. The registry backs
``__spark_entry__.py`` (SURVEY.md §5: end-to-end correctness vs a DuckDB
oracle — the coverage the reference lacks). It is organized by domain,
one module each:

* ``connector`` — reads through the connector from ``mockserver``;
* ``relational`` — the relational surface and TPC-H shapes;
* ``text`` — text curation, dedup and retrieval;
* ``ml`` — featurization, model fits and evaluation;
* ``graph`` — the part co-purchase graph;
* ``timeseries`` — time series and event streams;
* ``streaming`` — Structured Streaming pipelines.

In each module, the function ``q_<key>`` is query ``<key>`` (in definition
order) and ``ORACLES[<key>]`` its oracle; operator logic lives in
``operators/``, the harness keeps the fixtures and the query wiring.

Comparability rules (driver hashes row-count + schema + order-insensitive
values, columns sorted by name):
* alias every computed column identically in Spark and SQL;
* round double aggregates (sum/avg/stddev) to absorb engine-order float
  differences;
* cast integer aggregates to BIGINT on the DuckDB side (its SUM(BIGINT)
  widens to HUGEINT, COUNT is already BIGINT);
* keep LIMIT queries deterministic with a total ORDER BY before the limit;
* events.ts is nanosecond parquet: Spark reads it via the nanosAsLong
  legacy conf + DIV 1000 -> TIMESTAMP_NTZ; DuckDB truncates to µs natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table, normalizing the events timestamp."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def register_views(spark: SparkSession, sf_dir: str,
                   names: list[str] | None = None) -> None:
    """Register temp views for SQL-expressed queries. ``names=None``
    means all tables; an explicit empty list registers nothing (the
    falsy-`or` spelling silently registered all 10)."""
    for name in (TABLE_NAMES if names is None else names):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
