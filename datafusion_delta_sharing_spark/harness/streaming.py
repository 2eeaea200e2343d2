"""Streaming queries: Structured Streaming pipelines run to completion
on bounded sources, with the final state checked against a DuckDB
oracle — windowed and stateful aggregation, stream-stream and
stream-static joins, watermark dedup, foreachBatch upserts, incremental
MinHash dedup and SCD2 maintenance.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_delta_sharing_spark.functions.money import cents_sql
from datafusion_delta_sharing_spark.harness.relational import (
    _SCD2_SQL, _SESSION_WINDOW_SQL)
from datafusion_delta_sharing_spark.harness.text import (
    _DOCS_AUG, _JACCARD_DOCS, _MINHASH_BOUND, _docs_with_near_copies)
from datafusion_delta_sharing_spark.operators import dedup as DD
from datafusion_delta_sharing_spark.operators.recall import dup_set_parity
from datafusion_delta_sharing_spark.streaming import upsert as UP
from datafusion_delta_sharing_spark.streaming.minhash_dedup import (
    stream_minhash_dedup_flags)
from datafusion_delta_sharing_spark.streaming.stateful import (
    stateful_user_totals)
from datafusion_delta_sharing_spark.streaming.windows import (
    STREAM_DEDUP_ORACLE, STREAM_ENRICH_ORACLE, STREAM_JOIN_ORACLE,
    materialize_stream, stream_dedup_keys, stream_events, stream_hourly_counts,
    stream_hourly_topk, stream_session_counts, stream_static_enrich,
    stream_stream_join)


def q_stateful_stream(spark, sf_dir):
    return stateful_user_totals(spark, sf_dir)


def q_stream_sliding(spark, sf_dir):
    """Streaming sliding windows (2h window, 1h slide): each event lands in
    two windows; run to completion on the bounded source.

    No watermark on purpose: complete mode ignores watermarks (Spark keeps
    all state and logs a warning), so a withWatermark here would be a dead
    clause implying late-data coverage this query doesn't have. The LIVE
    watermark exercises are the append-mode dropDuplicatesWithinWatermark
    (streaming/windows.py stream_dedup) and the watermarked stream-stream
    join (streaming/windows.py:137-142)."""
    events = stream_events(spark, sf_dir)
    agg = (
        events
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "n")
    )
    return materialize_stream(agg, "complete", "stream_sliding")


# -- streaming ------------------------------------------------------------
def q_stream_hourly(spark, sf_dir):
    return stream_hourly_counts(spark, sf_dir)


def q_stream_join(spark, sf_dir):
    """Stream-stream interval join (clicks -> purchases within 30 min)."""
    return stream_stream_join(spark, sf_dir)


def q_stream_dedup(spark, sf_dir):
    """Streaming dedup via dropDuplicatesWithinWatermark (key set only)."""
    return stream_dedup_keys(spark, sf_dir)


def q_stream_enrich(spark, sf_dir):
    """Stream-static broadcast join: events enriched with the customer dim."""
    return stream_static_enrich(spark, sf_dir)


def q_stream_upsert(spark, sf_dir):
    """foreachBatch merge into bucket-partitioned parquet state across 3
    microbatches; the returned state must equal the batch aggregate."""
    return UP.stream_upsert_totals(spark, sf_dir)


def q_stream_session(spark, sf_dir):
    return stream_session_counts(spark, sf_dir)


# -- streaming top-k ----------------------------------------------------------
_TOPK_K = 3


def q_stream_topk(spark, sf_dir):
    return stream_hourly_topk(spark, sf_dir, k=_TOPK_K)


# -- streaming MinHash-band dedup ---------------------------------------------

# same LSH parameters as dedup_minhash so the parity claim is against the
# registry's own batch operator configuration
_SMD_HASHES, _SMD_BANDS, _SMD_K, _SMD_T = 16, 4, 5, 0.15
_SMD_SLICES = 3
# dup-set recall vs the exact jaccard baseline: measured .947 (sf0.01)
# / .973 (sf0.1) — set-level recall tracks the pair-level
# _MINHASH_BOUND family; reuse its 0.85 slack
_SMD_BOUND = _MINHASH_BOUND


def q_stream_minhash_dedup(spark, sf_dir):
    """Incremental near-dup dedup over a 3-micro-batch ingest of the
    planted-near-copy corpus, summarized against (a) the batch
    minhash_lsh_pairs dup set — exact parity expected, both sides share
    the banding and verify code — and (b) the exact n-gram Jaccard dup
    set, which the ORACLE recomputes in SQL (recall bounded, false
    positives structurally zero because the stream verifies true Jaccard
    at the same threshold the exact baseline uses)."""
    corpus = _docs_with_near_copies(spark, sf_dir)
    streamed = stream_minhash_dedup_flags(
        spark, corpus, "text", "doc_id", n_slices=_SMD_SLICES,
        num_hashes=_SMD_HASHES, bands=_SMD_BANDS, k=_SMD_K,
        threshold=_SMD_T)
    batch_dups = (DD.minhash_lsh_pairs(
        corpus, "text", "doc_id", num_hashes=_SMD_HASHES,
        bands=_SMD_BANDS, k=_SMD_K, threshold=_SMD_T)
        .select(F.col("id_b").alias("doc_id")).distinct())
    exact_dups = (DD.ngram_jaccard_pairs(
        corpus, "text", "doc_id", k=_SMD_K, threshold=_SMD_T)
        .select(F.col("id_b").alias("doc_id")).distinct())
    return dup_set_parity(corpus, streamed, batch_dups, exact_dups, "doc_id",
                          _SMD_BOUND)


# exact dup set: docs that are the larger member of at least one pair
# with shingle Jaccard >= threshold — the same quadratic posting-join
# oracle the ngram_jaccard family uses
_SMD_EXACT_SQL = f"""
    SELECT count(*) FROM (
        SELECT DISTINCT id_b FROM (
            WITH {_DOCS_AUG}, {DD.posts_cte_sql('docs_aug')},
            sizes AS (SELECT id, count(*) AS sz FROM posts GROUP BY id),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_inter
                FROM posts a JOIN posts b ON a.sh = b.sh AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(n_inter / (sa.sz + sb.sz - n_inter), 6) >= {_SMD_T}
        )
    )
"""


# -- streaming SCD2 maintenance ---------------------------------------------------
def q_stream_scd2_upsert(spark, sf_dir):
    """Incremental SCD2 maintenance (VERDICT r8 #5): the change log
    replays as 3 time-ordered micro-batches; each foreachBatch MERGE
    closes the touched entities' open intervals and inserts the new
    versions into bucket-partitioned parquet state (the streaming-
    upsert stamp recipe makes replays exactly-once per (bucket,
    batch)). The returned final dimension must equal the batch
    ``scd2_build`` bit-for-bit — the oracle IS the batch interval SQL,
    so the driver's hash compare is the CDC→dimension parity check."""
    from datafusion_delta_sharing_spark.streaming.scd2 import (
        stream_scd2_upsert)

    return stream_scd2_upsert(spark, sf_dir)


ORACLES = {
    "stateful_stream": f"""
        SELECT user_id, count(*) AS n_events,
               CAST(sum({cents_sql('value')}) AS DOUBLE)
                   / 100.0 AS total_value
        FROM events GROUP BY user_id
    """,
    "stream_sliding": """
        SELECT window_start, event_type, count(*) AS n FROM (
            SELECT date_trunc('hour', ts) AS window_start, event_type
            FROM events
            UNION ALL
            SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start,
                   event_type
            FROM events
        )
        GROUP BY window_start, event_type
    """,
    "stream_hourly": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2
    """,
    "stream_join": STREAM_JOIN_ORACLE,
    "stream_dedup": STREAM_DEDUP_ORACLE,
    "stream_enrich": STREAM_ENRICH_ORACLE,
    "stream_upsert": UP.stream_upsert_totals_sql("events"),
    # the streaming session aggregation must equal the batch operator's
    # islands oracle exactly — reuse that SQL so the two cannot drift
    "stream_session": _SESSION_WINDOW_SQL,
    "stream_topk": f"""
        SELECT window_start, event_type, CAST(n AS BIGINT) AS n,
               CAST(rank AS INT) AS rank
        FROM (
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n,
                   row_number() OVER (
                       PARTITION BY date_trunc('hour', ts)
                       ORDER BY count(*) DESC, event_type
                   ) AS rank
            FROM events GROUP BY 1, 2
        ) WHERE rank <= {_TOPK_K}
    """,
    "stream_minhash_dedup": f"""
        SELECT CAST((SELECT 2 * count(*) FROM documents
                     WHERE doc_id < {_JACCARD_DOCS}) AS BIGINT) AS n_docs,
               n_exact_dups,
               CAST(floor(CAST({1.0 - _SMD_BOUND!r} AS DOUBLE)
                          * n_exact_dups) AS BIGINT) AS n_missed_allowed,
               CAST(0 AS BIGINT) AS n_false,
               CAST(0 AS BIGINT) AS n_stream_only,
               CAST(0 AS BIGINT) AS n_batch_only,
               TRUE AS recall_ok
        FROM (SELECT CAST(({_SMD_EXACT_SQL}) AS BIGINT) AS n_exact_dups)
    """,
    # the batch build's SQL verbatim — final streamed state == batch build
    "stream_scd2_upsert": _SCD2_SQL,
}
