"""Structured Streaming operators (SURVEY.md §2 Tier B streaming row).

The reference's only streaming-adjacent surface is the unimplemented CDF
stub (src/client/mod.rs:384-386). We go further: real Structured Streaming
over the events table — file source, event-time windowed aggregation,
watermark, memory sink — driven to completion synchronously so batch
oracles can check the result.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from datafusion_delta_sharing_spark.functions import money as MONEY
from datafusion_delta_sharing_spark.streaming.progress import (
    run_to_completion,
)


def materialize_stream(stream_df: DataFrame, mode: str, name: str,
                       batch_transform=None,
                       out_schema: T.StructType | None = None) -> DataFrame:
    """Run a streaming query to completion and return its result as a
    batch DataFrame via a parquet sink + re-read (VERDICT r3 #8: the old
    memory-sink + collect()/createDataFrame round-trip materialized every
    result twice in driver memory). Append-mode streams write parquet
    directly; complete-mode aggregates land through a foreachBatch
    overwrite (parquet sinks are append-only) — either way the write is
    executor-side and the driver never holds the rows.

    ``batch_transform`` (optional): a batch-DataFrame function applied
    inside the foreachBatch sink on every refresh — the idiomatic home
    for post-aggregate logic Structured Streaming forbids in the
    streaming plan itself (e.g. a window-function ranking over a
    streaming aggregate, stream_hourly_topk). A transform that changes
    the schema must pass the matching ``out_schema`` for the zero-batch-
    safe re-read. (r9 review: stream_hourly_topk had duplicated this
    whole lifecycle inline for the sake of its ranking lambda.)

    Sink idempotency: the direct append path rides the parquet sink's
    own _spark_metadata commit log; the complete path overwrites, so a
    replay converges by construction. append+transform goes through
    foreachBatch, OUTSIDE that log — so each micro-batch overwrites its
    own ``b{batch_id}`` subdirectory instead of appending, making an
    at-least-once re-delivery rewrite its batch rather than duplicate
    it (ADVICE r9; same per-(unit, batch) idempotency contract as the
    upsert sinks' stamps)."""
    spark = stream_df.sparkSession
    root = tempfile.mkdtemp(prefix=f"{name}_")
    data_dir, ckpt = f"{root}/data", f"{root}/ckpt"
    per_batch_dirs = mode == "append" and batch_transform is not None
    if mode == "append" and batch_transform is None:
        writer = (stream_df.writeStream.outputMode("append")
                  .format("parquet").option("path", data_dir))
    else:

        def _sink(batch_df, batch_id):
            if batch_transform is not None:
                batch_df = batch_transform(batch_df)
            target = (f"{data_dir}/b{batch_id}" if per_batch_dirs
                      else data_dir)
            batch_df.write.mode("overwrite").parquet(target)

        writer = (stream_df.writeStream.outputMode(mode)
                  .foreachBatch(_sink))
    run_to_completion(name, writer, ckpt)
    # explicit schema + pre-created dir: a zero-batch run writes nothing
    import os

    os.makedirs(data_dir, exist_ok=True)
    reader = spark.read.schema(out_schema or stream_df.schema)
    if per_batch_dirs:
        # the b{batch_id} subdirs are layout, not partitions
        reader = reader.option("recursiveFileLookup", "true")
    return reader.parquet(data_dir)

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


# Legacy layout: events.ts written as parquet TIMESTAMP(NANOS), readable
# only as int64 via spark.sql.legacy.parquet.nanosAsLong
EVENTS_RAW_SCHEMA = _events_schema(T.LongType())


def set_stream_decode_confs(spark: SparkSession) -> None:
    """The session-level decode pins every streaming helper needs (shared
    so upsert.stage_event_slices and stream_events cannot drift): UTC
    session tz + nanosAsLong for TIMESTAMP(NANOS) testdata. See the
    stream_events docstring for why these are NOT scope-restored."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def resolve_table_glob(path: str, glob: str) -> tuple[str, str]:
    """Driver testdata ships each table as a single FILE
    (``sf_dir/events.parquet``); Spark-written scale replicas
    (tools/make_scale_data.py) ship a DIRECTORY of part files under the
    same name. A pathGlobFilter naming the file matches nothing in the
    directory shape (no leaf file is called events.parquet), which made
    every streaming query fail schema inference at /tmp/sfbig. Descend
    into the directory and match its part files instead."""
    import os

    target = os.path.join(path, glob)
    if os.path.isdir(target):
        return target, "*.parquet"
    return path, glob


def stream_events(spark: SparkSession, path: str,
                  glob: str = "events.parquet", **options: str) -> DataFrame:
    """Streaming read of the events table, ts normalized to TIMESTAMP (ltz).

    The driver testdata has shipped events.ts both as TIMESTAMP(NANOS)
    (readable only as int64 under the nanosAsLong legacy conf) and as
    TIMESTAMP(MICROS); FileStreamSource needs a user-supplied schema, so
    sniff the batch-inferred dtype first and build the matching stream
    schema — hardcoding either layout mis-decodes the other by 1000x.
    Session tz is pinned UTC so the NTZ->LTZ cast (watermarks require ltz)
    cannot shift instants.

    The two confs are DELIBERATELY session-level and not restored: the
    returned stream is lazy — its micro-batches read these confs when the
    query executes, long after this function returns, so a scoped
    save/restore (the tws.py pattern, safe there because it runs its
    query to completion) would silently undo the decode pins mid-stream.
    The cost is visible session state: later batch reads in the same
    session see nanosAsLong=true and UTC; callers needing different
    settings must use a separate SparkSession.
    """
    set_stream_decode_confs(spark)
    path, glob = resolve_table_glob(path, glob)
    probe = spark.read.option("pathGlobFilter", glob).parquet(path)
    ts_dtype = dict(probe.dtypes).get("ts")
    # explicit branch per probed encoding (ADVICE r3: assuming "anything
    # not bigint is NTZ" would hand a TIMESTAMP(MICROS, adjustedToUTC)
    # file an NTZ stream schema and fail or shift instants)
    if ts_dtype == "bigint":          # TIMESTAMP(NANOS) under nanosAsLong
        stream_type: T.DataType = T.LongType()
    elif ts_dtype == "timestamp_ntz":  # TIMESTAMP(MICROS, not adjusted)
        stream_type = T.TimestampNTZType()
    elif ts_dtype == "timestamp":      # TIMESTAMP(MICROS, adjustedToUTC)
        stream_type = T.TimestampType()
    else:
        raise ValueError(
            f"events.ts has unsupported parquet encoding {ts_dtype!r}; "
            "expected TIMESTAMP(NANOS) (bigint under nanosAsLong), "
            "TIMESTAMP_NTZ, or TIMESTAMP")
    reader = spark.readStream.schema(
        _events_schema(stream_type)).option("pathGlobFilter", glob)
    for key, val in options.items():
        reader = reader.option(key, val)
    raw = reader.parquet(path)
    if ts_dtype == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click events joined to purchase events
    of the same user within the following 30 minutes, both sides
    watermarked (bounds the join state — without the time bound and
    watermarks the state grows forever at 100 TB/day).

    Inner-join results are emitted as soon as both sides arrive; the
    watermark only evicts state, so with a bounded input the result equals
    the batch join and is oracle-checkable.
    """
    events = stream_events(spark, sf_dir)
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("c_user").alias("user_id"), "click_id", "purchase_id",
        # microsecond difference: exact in both engines (seconds would
        # truncate each side separately and drift by one)
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
        .alias("usecs_to_purchase"),
    )
    return materialize_stream(joined, "append", "stream_join")


STREAM_JOIN_ORACLE = """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS usecs_to_purchase
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the customer
    dimension (user_id -> market segment), then aggregated per segment and
    event type. The static side is explicitly broadcast — at scale the
    stream never shuffles for the join, each microbatch probes the
    replicated dim locally (the dim is re-resolvable per batch, so slowly
    changing dimensions pick up updates). Complete-mode aggregate equals
    the batch join+groupBy, which the oracle checks."""
    events = stream_events(spark, sf_dir)
    dim = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    # cent-quantize BEFORE summation (functions/money, the one shared
    # recipe) — round(sum(double)) is accumulation-order-sensitive, so
    # Spark's partial aggregation and the oracle's scan order could flip
    # a half-cent boundary (r5 review)
    agg = (events.join(F.broadcast(dim), "user_id")
           .groupBy("c_mktsegment", "event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                (F.sum(MONEY.cents(F.col("value"))).cast("double") / 100.0)
                .alias("total_value")))
    return materialize_stream(agg, "complete", "stream_enrich")


STREAM_ENRICH_ORACLE = f"""
    SELECT c.c_mktsegment, e.event_type,
           count(*) AS n_events,
           CAST(sum({MONEY.cents_sql('e.value')}) AS DOUBLE)
               / 100.0 AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment, e.event_type
"""


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first occurrence per (user_id, event_type)
    with ``dropDuplicatesWithinWatermark`` — the streaming analogue of the
    batch exact-dedup operator, with state evicted once the watermark
    passes (bounded memory on an unbounded stream).

    Only the key columns are returned: which row survives within a batch
    is execution-order dependent, but the key set is deterministic and
    equals batch DISTINCT, so the oracle can hash-check it.
    """
    events = stream_events(spark, sf_dir)
    deduped = (
        events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return materialize_stream(deduped, "append", "stream_dedup")


STREAM_DEDUP_ORACLE = """
    SELECT DISTINCT user_id, event_type FROM events
"""


def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts by type, computed by an actual streaming query:
    readStream(parquet) -> watermark -> window(1 hour) -> complete-mode
    memory sink, run to completion with processAllAvailable."""
    # FileStreamSource wants a directory: stream the testdata dir with a
    # glob filter selecting only the events file. The output window start
    # is cast back to NTZ so a non-UTC driver session cannot shift the
    # collected values.
    events = stream_events(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "n")
    )
    return materialize_stream(agg, "complete", "stream_hourly")


def stream_session_counts(spark: SparkSession, sf_dir: str,
                          gap: str = "30 minutes") -> DataFrame:
    """Streaming session windows: gap-merged per-user sessions computed by
    an actual streaming query (``session_window`` under incremental state
    merge — sessions that straddle micro-batch boundaries must merge in
    the state store, which a batch session_window never exercises).

    Complete mode on the bounded file source (the stream_sliding
    precedent): session aggregation in append mode only emits sessions
    the watermark has closed, and a bounded source's watermark never
    passes the tail events — complete mode emits every session.

    The output mirrors ``session_window_batch`` exactly (same oracle):
    (user_id, session_start NTZ, n_events, session_cents) — the value
    summed as integer cents, quantized per row BEFORE aggregation
    (functions/money; the r9 review retired the last
    round(sum(double), 2) output, whose rounding could sit on an
    accumulation-order-sensitive ulp boundary — the r5 stream_enrich
    class).
    """
    from datafusion_delta_sharing_spark.functions import money as MONEY

    events = stream_events(spark, sf_dir)
    agg = (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum(MONEY.cents(F.col("value"))).cast("bigint")
             .alias("session_cents"))
        .select("user_id",
                F.col("session_window.start").cast("timestamp_ntz")
                .alias("session_start"),
                "n_events", "session_cents")
    )
    return materialize_stream(agg, "complete", "stream_session")


def stream_hourly_topk(spark: SparkSession, sf_dir: str,
                       k: int = 3) -> DataFrame:
    """Streaming top-k dashboard: per hourly event-time window, the k
    most frequent event types, recomputed on every micro-batch.

    The aggregation (window × type counts) runs as a streaming
    complete-mode query; the RANKING runs inside the foreachBatch sink on
    each refresh — Structured Streaming forbids a window-function over a
    streaming aggregate in the same plan, and per-batch ranking over the
    (bounded, windows × types sized) aggregate is the idiomatic rewrite:
    the corpus-sized work stays incremental in the state store, only the
    dashboard-sized result is re-ranked per refresh. Ties break by
    event_type so the emitted top-k is deterministic."""
    from pyspark.sql import Window as W

    events = stream_events(spark, sf_dir)
    agg = (events.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("window.start").cast("timestamp_ntz")
                   .alias("window_start"), "event_type", "n"))
    rank_w = (W.partitionBy("window_start")
              .orderBy(F.desc("n"), "event_type"))

    def _rank(batch_df):
        return (batch_df.withColumn("rank",
                                    F.row_number().over(rank_w))
                .filter(F.col("rank") <= k))

    out_schema = T.StructType(agg.schema.fields
                              + [T.StructField("rank", T.IntegerType())])
    return materialize_stream(agg, "complete", "stream_topk",
                              batch_transform=_rank,
                              out_schema=out_schema)
