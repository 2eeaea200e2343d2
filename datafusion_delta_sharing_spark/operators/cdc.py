"""CDC application: reconstruct a current snapshot from a base snapshot
plus a Change Data Feed.

The consumer-side half of A34 (``DeltaSharingReader.table_changes``,
sources/reader.py — the reference's client stops at ``todo!()``,
src/client/mod.rs:384-386): given yesterday's materialized snapshot and
the change feed since, produce today's table without re-reading the full
share. Per key, the LAST action wins (by ``_commit_version``; within one
commit an update's postimage beats its preimage), so out-of-order change
rows and multi-step histories (delete then re-insert, repeated updates)
collapse correctly.

Scale shape: one window over the changes keyed by the primary key (the
feed is small relative to the table — that is the point of CDC), one
left-anti join of the base against the touched-key set, one union. The
base table is never shuffled beyond the anti-join's key exchange; with
the base bucketed by key (sources/sinks.py:write_bucketed) even that
exchange disappears on the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

_INSERT_LIKE = ("insert", "update_postimage")
# the full Delta CDF label set; anything else (NULL, Debezium-style
# 'update', a typo) must fail LOUDLY — an unrecognized label would land
# its key in the touched set without ever re-materializing a row,
# silently deleting it from the snapshot
_KNOWN_TYPES = ("insert", "update_preimage", "update_postimage", "delete")


def _hashable(dtype: T.DataType) -> bool:
    """xxhash64 refuses MAP inputs (unordered — no canonical hash), at any
    nesting depth; the tiebreaker must skip such columns."""
    if isinstance(dtype, T.MapType):
        return False
    if isinstance(dtype, T.ArrayType):
        return _hashable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_hashable(f.dataType) for f in dtype.fields)
    return True


def apply_changes(base: DataFrame, changes: DataFrame,
                  key_cols: list[str]) -> DataFrame:
    """Apply a CDF (``_change_type`` / ``_commit_version`` metadata
    columns, as produced by ``table_changes``) to ``base``; returns the
    reconstructed snapshot with ``base``'s columns.

    Rows whose key is touched by the feed are dropped from the base; the
    latest insert-like action per key re-materializes the row. A key
    whose last action is delete-like stays gone.

    Uniqueness contract (ADVICE r4): ``key_cols`` must be a primary key of
    the feed — at most one insert-like change row per (key,
    _commit_version). A Delta CDF from a keyed MERGE/UPDATE/DELETE
    satisfies this by construction. For feeds that violate it (duplicate
    keys within one commit), the same-version tie is broken by a
    deterministic row hash so the output is at least stable across runs
    and partitionings — but which duplicate survives is then a property
    of the row contents, not of any within-commit ordering the feed
    itself does not carry. MAP-typed columns are excluded from the hash
    (xxhash64 cannot canonicalize an unordered map); duplicates differing
    ONLY in map columns therefore still tie arbitrarily.
    """
    # execution-time guard: an unknown/NULL _change_type raises instead
    # of silently deleting its key (its row would be anti-joined away but
    # never re-inserted)
    changes = changes.withColumn(
        "_change_type",
        F.when(F.col("_change_type").isin(*_KNOWN_TYPES),
               F.col("_change_type"))
        .otherwise(F.raise_error(F.concat(
            F.lit("apply_changes: unrecognized _change_type "),
            F.coalesce(F.col("_change_type"), F.lit("NULL")),
            F.lit(f"; expected one of {_KNOWN_TYPES}")))))
    insert_like = F.col("_change_type").isin(*_INSERT_LIKE)
    hash_cols = [f.name for f in changes.schema.fields
                 if _hashable(f.dataType)]
    tiebreak = (F.xxhash64(F.struct(*hash_cols)) if hash_cols
                else F.lit(0))
    w = (Window.partitionBy(*key_cols)
         .orderBy(F.desc("_commit_version"),
                  F.desc(insert_like.cast("int")),
                  F.desc(tiebreak)))
    last = (changes
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    survivors = (last.filter(F.col("_change_type").isin(*_INSERT_LIKE))
                 .select(*base.columns))
    touched = changes.select(*key_cols).distinct()
    # eqNullSafe, not bare equality: partitionBy groups NULL keys as one
    # group and emits their survivor, but a plain anti-join would never
    # match the base's NULL-key row, leaving BOTH the stale and the new
    # row in the output (same fix as recall.py's shared-lineage join)
    cond = None
    for k in key_cols:
        c = base[k].eqNullSafe(touched[k])
        cond = c if cond is None else cond & c
    return (base.join(touched, cond, "left_anti")
            .unionByName(survivors))


_EVENT_COLUMNS = ("user_id", "event_type", "ts", "event_id")


def scd2_window(ev: DataFrame, *then: str) -> DataFrame:
    """The one definition of an SCD2 interval, shared by the batch build
    (:func:`scd2_intervals`) and by the streaming merge and the repair of
    streaming/scd2.py: each user's events (``user_id``, ``event_type``,
    ``ts``, ``event_id``), in one window ordered by (ts, event_id, *then),
    become versions 1.. with intervals [valid_from, valid_to) per observed
    event_type state, closed by the next event's ts (open interval =
    current). NULLS LAST is pinned on every key: Spark defaults nulls
    first, DuckDB last, so a null ts/event_id would otherwise land at
    opposite ends and shift every version for that user.

    Every other column of ``ev`` rides along in front of (user_id,
    version, state, valid_from, valid_to, event_id)."""
    w = Window.partitionBy("user_id").orderBy(
        *(F.asc_nulls_last(c) for c in ("ts", "event_id", *then)))
    return ev.select(
        *(c for c in ev.columns if c not in _EVENT_COLUMNS), "user_id",
        F.row_number().over(w).alias("version"),
        F.col("event_type").alias("state"), F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"), "event_id")


def scd2_intervals(ev: DataFrame) -> DataFrame:
    """SCD type-2 validity intervals from an event stream (``user_id``,
    ``event_type``, ``ts``, ``event_id``) by :func:`scd2_window`. The
    window's (ts, event_id) order is total for distinct events, so the
    intervals are deterministic."""
    return scd2_window(ev).select("user_id", "version", "state",
                                  "valid_from", "valid_to")


def scd2_build_sql(source_sql: str, user_bound: int) -> str:
    """DuckDB mirror of :func:`scd2_intervals` plus the ``is_current``
    flag, over the events of users below ``user_bound``."""
    return f"""
    SELECT user_id, version, state, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM (
        SELECT user_id, event_type AS state, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               row_number() OVER w AS version
        FROM {source_sql}
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts NULLS LAST, event_id NULLS LAST)
    )
    WHERE user_id < {user_bound}
"""


def scd2_lookup(facts: DataFrame, dim: DataFrame) -> DataFrame:
    """Point-in-time (as-of) lookup of (event_id, user_id, probe_ts)
    facts against :func:`scd2_intervals`: each probe resolves the state
    valid at that instant — probe_ts in [valid_from, valid_to), open
    interval = current. The join carries the user_id equi-key, so Spark
    plans a SortMergeJoin with the range as residual (never a BNLJ), and
    the interval non-overlap invariant makes the fan-out exactly one row
    per probe."""
    dim = dim.withColumnRenamed("user_id", "d_user")
    joined = facts.join(
        dim,
        (facts.user_id == dim.d_user)
        & (F.col("probe_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull()
           | (F.col("probe_ts") < F.col("valid_to"))))
    return joined.select("event_id", "user_id", "probe_ts", "state",
                         "version")


def change_events(changes: DataFrame, key_col: str, state_col: str,
                  version: F.Column) -> DataFrame:
    """A change feed as the (user_id, event_type, ts, event_id) event log
    :func:`scd2_intervals` and the streaming SCD2 sink consume: the key
    is the entity, ``state_col`` its state, and a delete closes the row
    into a terminal '<deleted>' state. Update preimages are the old row
    restated, not an event — only postimages advance history. Event
    time and tie-break derive from the commit ``version``, the CDC log
    order, so the sink's order contract holds by construction."""
    return (changes.filter(F.col("_change_type") != "update_preimage")
            .select(
                F.col(key_col).cast("bigint").alias("user_id"),
                F.when(F.col("_change_type") == "delete",
                       F.lit("<deleted>"))
                .otherwise(F.col(state_col))
                .alias("event_type"),
                F.timestamp_seconds(version).alias("ts"),
                version.cast("bigint").alias("event_id")))


def scd2_lookup_sql(dim_sql: str, facts_sql: str) -> str:
    """DuckDB mirror of :func:`scd2_lookup` over the dimension and facts
    queries."""
    return f"""
    WITH dim AS ({dim_sql}),
    facts AS ({facts_sql})
    SELECT f.event_id, f.user_id, f.probe_ts, d.state, d.version
    FROM facts f
    JOIN dim d
      ON d.user_id = f.user_id
     AND f.probe_ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.probe_ts < d.valid_to)
"""
