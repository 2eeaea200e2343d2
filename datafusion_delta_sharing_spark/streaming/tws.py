"""Custom stateful streaming via transformWithStateInPandas — the
current-generation arbitrary-state API (StatefulProcessor + typed state
variables), alongside the classic applyInPandasWithState operator in
streaming/stateful.py.

Per-user running totals survive across microbatches in a ValueState; the
input is deliberately split into several files streamed one per trigger
(stage_event_slices), so the cross-batch state merge is actually
exercised — each batch emits the key's CUMULATIVE row, and the final
per-key emission must equal the whole-history batch aggregate no matter
how the stream was sliced. Values are quantized to integer cents before
summation, so totals are exact and batch-boundary-independent.

State is one fixed-width tuple per key (bounded), lives in the state
store (RocksDB at scale), and is keyed by the shuffle — the same
scale posture as any streaming aggregation.
"""

from __future__ import annotations

import os
import tempfile
from typing import Any, Iterator

import pandas as pd

from datafusion_delta_sharing_spark.functions.money import cents_sum_np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from datafusion_delta_sharing_spark.streaming.upsert import stage_event_slices
from datafusion_delta_sharing_spark.streaming.windows import stream_events

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"


class RunningTotalsProcessor(StatefulProcessor):
    """Cumulative (n_events, total_cents) per user in a ValueState."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState(
            "totals", "n bigint, cents bigint")

    def handleInputRows(self, key: Any, rows: Iterator[pd.DataFrame],
                        timerValues: TimerValues) -> Iterator[pd.DataFrame]:
        prev = self._totals.get()
        n, cents = prev if prev is not None else (0, 0)
        for pdf in rows:

            n += len(pdf)
            # functions/money: the one half-away-from-zero recipe (numpy
            # .round() is half-EVEN and would diverge on exact .5 cents)
            cents += cents_sum_np(pdf["value"].to_numpy(dtype="float64"))
        self._totals.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_cents": [cents]})

    def close(self) -> None:
        pass


def require_tws_runtime() -> None:
    """transformWithState's state-server protocol is protobuf-based; fail
    with a clear remediation instead of the opaque driver-worker crash
    Spark raises mid-query (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE
    / ImportError: google.protobuf) when the package is absent."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package for "
            "its state-server protocol and it is not installed in this "
            "environment; install protobuf, or use the "
            "applyInPandasWithState operator (streaming/stateful.py) "
            "which has no such dependency") from exc


def tws_user_totals(spark: SparkSession, sf_dir: str,
                    n_slices: int = 3) -> DataFrame:
    """Run the processor over ``n_slices`` microbatches; return each key's
    FINAL cumulative emission (latest = the row with the key's max
    n_events — emissions are strictly increasing per key)."""
    require_tws_runtime()
    src = stage_event_slices(spark, sf_dir, n_slices)
    events = stream_events(spark, src, glob="*.parquet",
                           maxFilesPerTrigger="1")
    stated = (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotalsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    # append every batch's emissions to parquet (executor-side), then pick
    # the final cumulative row per key
    root = tempfile.mkdtemp(prefix="tws_")
    data_dir, ckpt = f"{root}/data", f"{root}/ckpt"

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(data_dir)

    # transformWithState runs only on the RocksDB state store; scope the
    # provider switch to this query (restore after stop) so later
    # streaming queries in the session keep their configured provider
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        query = (stated.writeStream.outputMode("update")
                 .foreachBatch(_append)
                 .option("checkpointLocation", ckpt).start())
        try:
            query.processAllAvailable()
        finally:
            query.stop()
    finally:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    os.makedirs(data_dir, exist_ok=True)
    emissions = spark.read.schema(OUTPUT_SCHEMA).parquet(data_dir)
    return (emissions.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"),
                 F.max_by("total_cents", "n_events").alias("total_cents")))

