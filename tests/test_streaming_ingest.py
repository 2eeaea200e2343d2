"""Streaming incremental ingest: foreachBatch + the digest index.

The streaming form of the daily dedup loop (examples/incremental_ingest):
each microbatch anti-joins the persisted digest index and appends its
survivors — foreachBatch is the sink tier that lets a streaming query run
arbitrary batch DataFrame logic transactionally per microbatch.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.operators import dedup as DD


def test_foreachbatch_incremental_dedup(spark, tmp_path):
    src = str(tmp_path / "incoming")
    idx = str(tmp_path / "index")

    batch1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string")
    batch2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "beta"), (13, "delta")],
        "doc_id long, text string")
    # two files with distinct mtimes -> two deterministic microbatches
    batch1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    batch2.coalesce(1).write.mode("append").parquet(src)

    # seed an empty index with the right schema
    (spark.createDataFrame([], "text_md5 string, keep_id long")
     .write.mode("overwrite").parquet(idx))

    def ingest(batch_df, batch_id):
        index = batch_df.sparkSession.read.parquet(idx)
        surv = DD.incremental_dedup(batch_df, index, "text", "doc_id")
        (surv.select("text_md5", F.col("keep_id"))
         .write.mode("append").parquet(idx))

    q = (spark.readStream.schema("doc_id long, text string")
         .option("maxFilesPerTrigger", "1").parquet(src)
         .writeStream.foreachBatch(ingest)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final = {r.keep_id for r in spark.read.parquet(idx).collect()}
    # batch1 survivors: 1 (alpha), 2 (beta); batch2 adds only the genuinely
    # new texts: 11 (gamma), 13 (delta) — alpha/beta copies dropped by the
    # index, and doc 3's in-batch alpha copy collapsed into doc 1
    assert final == {1, 2, 11, 13}
    digests = {r.text_md5 for r in spark.read.parquet(idx).collect()}
    assert len(digests) == 4  # one digest per distinct text, no dupes


def test_transform_with_state_gate_raises_clearly(spark):
    """transformWithStateInPandas needs protobuf (absent here): the gate
    must raise the documented NotImplementedError up front, not let Spark
    crash the driver worker mid-query. If protobuf IS present, the full
    pipeline must match the batch aggregate."""
    import pytest
    from pyspark.sql import functions as F

    from datafusion_delta_sharing_spark.streaming import tws

    try:
        from google.protobuf import descriptor  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False

    if not have_protobuf:
        with pytest.raises(NotImplementedError, match="protobuf"):
            tws.tws_user_totals(spark, "/root/testdata/sf0.001")
        return

    got = tws.tws_user_totals(spark, "/root/testdata/sf0.001")
    events = spark.read.option("pathGlobFilter", "events.parquet").parquet(
        "/root/testdata/sf0.001")
    want = (events.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("total_cents")))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_materialize_append_transform_is_per_batch_idempotent(spark,
                                                              tmp_path):
    """ADVICE r9: append+batch_transform goes through foreachBatch,
    outside the parquet sink's commit log — each micro-batch must land
    in its own b{batch_id} subdirectory (overwrite-on-replay) instead
    of bare appends that a re-delivered batch would duplicate."""
    import os

    from datafusion_delta_sharing_spark.streaming.windows import (
        materialize_stream,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \
        .coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    spark.createDataFrame([(3, "c")], "k long, v string") \
        .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("k long, v string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = materialize_stream(
        stream.filter(F.col("k") > 0), "append", "mat_idem",
        batch_transform=lambda df: df.withColumn(
            "k2", F.col("k") * 2).drop("v"),
        out_schema=spark.createDataFrame([], "k long, k2 long").schema)
    rows = {(r.k, r.k2) for r in out.collect()}
    assert rows == {(1, 2), (2, 4), (3, 6)}
    # layout contract: one subdirectory per micro-batch, so a replayed
    # batch overwrites ITS directory rather than appending duplicates
    data_dir = os.path.dirname(
        out.inputFiles()[0].replace("file:", ""))
    root = os.path.dirname(data_dir)
    subdirs = sorted(d for d in os.listdir(root) if d.startswith("b"))
    assert subdirs == ["b0", "b1"]
    # replay simulation: rewriting b0's content converges, not appends
    spark.createDataFrame([(1, 2), (2, 4)], "k long, k2 long") \
        .write.mode("overwrite").parquet(os.path.join(root, "b0"))
    rows2 = {(r.k, r.k2) for r in
             (spark.read.schema("k long, k2 long")
              .option("recursiveFileLookup", "true").parquet(root)
              .collect())}
    assert rows2 == rows


def test_compact_stamps_reports_cleared_empty_buckets(spark, tmp_path):
    """ADVICE r9: a bucket whose surviving row-set is empty gets no new
    files from dynamic partition overwrite, so its dead stamps would
    survive on disk while `removed` counted them gone. compact_stamps
    must clear such buckets explicitly and report only what actually
    left disk (a second call returns 0)."""
    from datafusion_delta_sharing_spark.streaming.upsert import (
        _STATE_SCHEMA, _state_df, compact_stamps, state_totals,
    )

    state = str(tmp_path / "state")
    # bucket 0: data + live stamp; bucket 1: ONLY a dead run's stamp
    (spark.createDataFrame(
        [(0, 7, 100, 2, 0, "live"),      # data row (stamp cols unused)
         (0, None, None, None, 0, "live"),   # live stamp
         (1, None, None, None, 0, "dead")],  # dead stamp, no data
        "bucket bigint, user_id bigint, total_cents bigint, "
        "n_events bigint, last_batch bigint, last_run string")
     .write.mode("overwrite").partitionBy("bucket").parquet(state))

    removed = compact_stamps(spark, state, live_runs=("live",))
    assert removed == 1
    left = _state_df(spark, state).collect()
    assert {r.last_run for r in left if r.user_id is None} == {"live"}
    assert {r.user_id: r.total_cents for r in left
            if r.user_id is not None} == {7: 100}
    # the emptied bucket is actually gone from disk, so re-running
    # finds nothing dead — the overcount ADVICE r9 flagged
    assert compact_stamps(spark, state, live_runs=("live",)) == 0


def test_write_slice_files_writes_no_file_for_an_empty_slice(spark,
                                                             tmp_path):
    """Slice 1 has no rows: it gets no file, so a one-file-per-trigger
    stream over the output runs two micro-batches, not three."""
    from datafusion_delta_sharing_spark.streaming.upsert import (
        write_slice_files,
    )

    out = str(tmp_path / "slices")
    sliced = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 2)], "v long, __slice int")
    write_slice_files(sliced, out, range(3))
    assert sorted(f for f in os.listdir(out) if f.endswith(".parquet")) \
        == ["slice-0-0.parquet", "slice-2-0.parquet"]
    batches = []
    query = (spark.readStream.schema("v long")
             .option("maxFilesPerTrigger", 1).parquet(out)
             .writeStream.trigger(availableNow=True)
             .foreachBatch(lambda df, bid: batches.append(
                 sorted(r.v for r in df.collect())))
             .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    query.awaitTermination()
    assert batches == [[1, 2], [3]]
