"""Spark Python DataSource for Delta Sharing (Spark 4 ``pyspark.sql.datasource``).

The closest Spark-native analogue of the reference's DataFusion
``TableProvider`` (``/root/reference/src/datasource/table.rs``): Spark calls
``schema()`` (metadata fetch), ``pushFilters`` (A5: filters -> JSON predicate
hints, ALL filters returned unhandled so Spark keeps the residual — the
reference's ``Inexact`` verdict, table.rs:198-213), ``partitions()`` (file
listing with server pruning, checked and stats-pruned by ``scan.plan_files``,
one partition per ``scan.pack_files`` file group, A1) and ``read()`` on
executors (``scan.read_files``: ranged-HTTP parquet -> Arrow batches + typed
partition columns, A2/A3/A20).
This module adapts the one scan path of ``sources/scan.py`` to Spark's
DataSource API: filters to hints, stream offsets and the commit log. Every
reader takes its files, partition columns, parquet column names and cache
identity from one ``scan.plan_files`` plan in logical names; a
caller-given schema limits the partition columns to those it holds.

Usage::

    spark.dataSource.register(DeltaSharingDataSource)
    df = (spark.read.format("deltasharing")
          .option("profile", "/path/profile.share")   # or profile_json
          .option("table", "share.schema.table")
          .load())

    stream = (spark.readStream.format("deltasharing")
              .option("profile", ...).option("table", ...)
              .load())   # snapshot-diff microbatches: new files per poll

The streaming reader is the engine's answer to the reference's CDF stub
(A34, ``todo!()`` at src/client/mod.rs:384-386): for append-only shared
tables, each microbatch emits rows from files not seen at the previous
offset. It is a partition-planning ``DataSourceStreamReader`` (VERDICT r2
#5): rows are read in *executor* tasks (one per ``scan.pack_files`` group
of the new files, Arrow batches), never on the driver, and the offset is
O(1) — ``{"version", "batch"}`` — regardless of how many files the table
has accumulated. The per-batch file
manifest lives in an append-only JSONL commit log on the driver
(``stream_log_dir`` option; a fresh temp dir by default) so a replayed
microbatch reproduces its original file set exactly. A query restarted from
its checkpoint needs the same ``stream_log_dir``: a new log cannot tell
which files the committed batches held, so the reader refuses to resume
instead of silently skipping the files that landed while it was down.
"""

from __future__ import annotations

import json
from typing import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringStartsWith,
)

from datafusion_delta_sharing_spark.client import (
    FileAction,
    TableChanges,
    TableData,
)
from datafusion_delta_sharing_spark.errors import DeltaSharingError, PredicateError
from datafusion_delta_sharing_spark.plans.predicates import Op, ValueType, conjunction
from datafusion_delta_sharing_spark.securable import Table
from datafusion_delta_sharing_spark.sources.scan import (
    FileTask,
    ScanPlan,
    _has_variant,
    cache_identity,
    change_tasks,
    file_tasks,
    pack_files,
    plan_files,
    read_files,
    relist,
    relist_pin,
)
from datafusion_delta_sharing_spark.sources.schema import CDF_META_FIELDS


def _make_client(options) -> tuple:
    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.profile import Profile

    if options.get("profile_json"):
        profile = Profile.from_json(options["profile_json"])
    elif options.get("profile"):
        profile = Profile.from_path(options["profile"])
    else:
        raise DeltaSharingError(
            "deltasharing source needs .option('profile', path) or "
            ".option('profile_json', json)")
    fqn = options.get("table")
    if not fqn:
        raise DeltaSharingError(
            "deltasharing source needs .option('table', 'share.schema.table')")
    return DeltaSharingClient(profile), Table.from_str(fqn)


class _OneClient:
    """A stream reader's client and table, made on first use and kept for
    the reader's life: each trigger plans through the same HTTP session,
    and an OAuth profile grants one token, not one per call. The client
    stays out of the reader's pickled state, which Spark ships to the
    executors that run ``read``."""

    options: dict

    def _client_and_table(self) -> tuple:
        if getattr(self, "_client", None) is None:
            self._client = _make_client(self.options)
        return self._client

    def __getstate__(self) -> dict:
        return {k: v for k, v in self.__dict__.items() if k != "_client"}


class _FilePartition(InputPartition):
    """The shared files of one Spark partition: a ``scan.pack_files`` group
    of file tasks in logical names, or no file for an empty batch listing
    (Spark requires at least one partition). ``spec`` pins the task's
    re-list (``scan.relist``); ``file_names`` is the plan's map from a
    logical column to its parquet column, empty without column mapping."""

    def __init__(self, tasks: list[FileTask], spec: dict | None = None,
                 file_names: dict[str, str] | None = None):
        self.tasks = tasks
        self.spec = spec or {}
        self.file_names = file_names or {}


def _filters_to_op(filters: Sequence[Filter], schema: T.StructType) -> Op | None:
    """Spark Filter objects -> json-predicate conjunction. Unconvertible
    filters are skipped (they are returned unhandled anyway — hints are
    best-effort)."""
    types: dict[str, ValueType] = {}
    for field in schema.fields:
        try:
            types[field.name] = ValueType.from_spark_type(field.dataType)
        except PredicateError:
            continue

    ops = []
    for f in filters:
        op = _one_filter(f, types)
        if op is not None:
            ops.append(op)
    return conjunction(ops)


def _one_filter(f: Filter, types: dict[str, ValueType]) -> Op | None:
    binary = {
        EqualTo: Op.equal,
        LessThan: Op.less_than,
        LessThanOrEqual: Op.less_than_or_equal,
        GreaterThan: Op.greater_than,
        GreaterThanOrEqual: Op.greater_than_or_equal,
    }
    if isinstance(f, Not):
        # the wire format has a first-class "not"; sound for hints (the
        # server prunes to a superset) and for local pruning (may_match
        # only analyzes not(isNull), everything else keeps the file)
        inner = _one_filter(f.child, types)
        return Op.not_(inner) if inner is not None else None
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1 or attr[0] not in types:
        return None
    name = attr[0]
    vt = types[name]
    for cls, builder in binary.items():
        if isinstance(f, cls):
            return builder(Op.column(name, vt), Op.literal(f.value, vt))
    if isinstance(f, In):
        # IN -> or(equal, ...): the wire format has no IN op. A NULL in
        # the list renders nothing useful — skip the whole filter (it is
        # re-applied exactly by Spark anyway; hints are best-effort)
        values = [v for v in f.value if v is not None]
        if not values or len(values) != len(f.value):
            return None
        col = Op.column(name, vt)
        eqs = [Op.equal(col, Op.literal(v, vt)) for v in values]
        return eqs[0] if len(eqs) == 1 else Op.or_(eqs)
    if isinstance(f, EqualNullSafe):
        # col <=> NULL is exactly isNull; with a non-null literal the
        # matching rows are a subset of equal's (equal never matches
        # NULL either), so equal is the precise hint
        col = Op.column(name, vt)
        if f.value is None:
            return Op.is_null(col)
        return Op.equal(col, Op.literal(f.value, vt))
    if isinstance(f, StringStartsWith) and vt == ValueType.STRING:
        # startswith(prefix) -> prefix <= col < bumped-prefix: every
        # matching string falls in the range, so the hint is a sound
        # superset. Only for printable-ASCII prefixes, where Python's
        # codepoint order, UTF-8 byte order, and any reasonable server
        # collation agree; anything else stays residual-only.
        prefix = f.value
        if prefix and all(" " <= ch < "\x7f" for ch in prefix):
            col = Op.column(name, vt)
            upper = prefix[:-1] + chr(ord(prefix[-1]) + 1)
            return Op.and_([
                Op.greater_than_or_equal(col, Op.literal(prefix, vt)),
                Op.less_than(col, Op.literal(upper, vt))])
        return None
    if isinstance(f, IsNull):
        return Op.is_null(Op.column(name, vt))
    if isinstance(f, IsNotNull):
        return Op.is_not_null(Op.column(name, vt))
    return None


class DeltaSharingBatchReader(DataSourceReader):
    def __init__(self, options, schema: T.StructType):
        self.options = options
        self.full_schema = schema
        self.hints_op: Op | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Convert what we can into jsonPredicateHints; yield back EVERY
        filter so Spark re-applies them all (inexact semantics, A5)."""
        self.hints_op = _filters_to_op(filters, self.full_schema)
        yield from filters

    def partitions(self) -> list[_FilePartition]:
        client, table = _make_client(self.options)
        hints = self.hints_op.to_json() if self.hints_op is not None else None
        version, timestamp = _snapshot_pins(self.options)
        data = client.get_table_data(table, json_predicate_hints=hints,
                                     version=version, timestamp=timestamp)
        plan = plan_files(data, self.full_schema, self.hints_op, client,
                          table)
        if _has_variant(self.full_schema):
            # this source always decodes through pyarrow, which cannot
            # parse a parquet footer containing the VARIANT logical type
            raise DeltaSharingError(
                "table has VARIANT columns, which format('deltasharing') "
                "cannot decode (pyarrow footer parse); use "
                "DeltaSharingReader over a local (file://) share")
        # executor-side URL refreshes re-list the snapshot THIS listing
        # came from
        spec = relist_pin(data, version, timestamp)
        return [_FilePartition(group, spec, plan.file_names)
                for group in pack_files(file_tasks(plan))]

    def read(self, partition: _FilePartition):
        if not partition.tasks:
            return iter(())
        return _read_file_partition(self.options, self.full_schema, partition)


def _read_file_partition(options, schema: T.StructType,
                         partition: _FilePartition):
    """Executor-side read of one partition's shared files for the batch
    source and both streams: ``scan.read_files`` over the partition's
    tasks, in the order of ``schema``'s fields, so a file group's deletion
    vectors in one DV file are planned together. If a presigned URL has
    expired (a long scan, or a streaming replay long after the manifest
    was logged), the partition's files are re-resolved by id through one
    re-list pinned to ``partition.spec``, with the profile read again from
    the options."""

    def relisted():
        client, table = _make_client(options)
        return relist(json.dumps(client.profile.to_doc()),
                      table.full_name(), partition.spec)

    yield from read_files(partition.tasks, schema, None,
                          partition.file_names, relisted)


def _stream_plan(reader, client, table, data: TableData | TableChanges,
                 schema: T.StructType) -> ScanPlan:
    """The ``scan.plan_files`` plan of a stream's listing, refusing,
    LOUDLY, a listing a stream cannot read: one ``scan.plan_files``
    refuses, and a schema that drifted under the running stream
    (decoding new bytes with the old schema mis-reads or drops columns).
    The first schema seen is pinned; the operator restarts the stream to
    pick up a new one."""
    plan = plan_files(data, schema, None, client, table)
    schema_string = data.metadata.schema_string
    seen = getattr(reader, "_schema_string_seen", None)
    if seen is None:
        reader._schema_string_seen = schema_string
    elif seen != schema_string:
        raise DeltaSharingError(
            f"schema of {table.full_name()} changed while the stream was "
            "running; restart the query to pick up the new schema "
            "(refusing to decode new files with the old one)")
    return plan


def _snapshot_pins(options) -> tuple[int | None, str | None]:
    """``versionAsOf`` / ``timestampAsOf`` reader options -> query-body
    snapshot pins (protocol time travel; reproducible training reads)."""
    raw = options.get("versionAsOf")
    try:
        version = int(raw) if raw is not None else None
    except (TypeError, ValueError) as exc:
        raise DeltaSharingError(
            f"versionAsOf must be an integer version, got {raw!r}"
        ) from exc
    return version, options.get("timestampAsOf")


class DeltaSharingStreamReader(_OneClient, DataSourceStreamReader):
    """Snapshot-diff microbatch source with executor-side reads.

    Offset = ``{"version": V, "batch": N}`` — constant size however long the
    stream runs (VERDICT r2 #5; the r1 design's offset grew with the file
    count). The driver polls the share at ``latestOffset``; files not seen
    before become microbatch N+1, recorded as one JSONL line in the commit
    log. ``partitions(start, end)`` packs the manifest files of batches
    ``start+1..end`` into ``scan.pack_files`` groups, one
    :class:`_FilePartition` each, and Spark distributes the actual parquet
    fetch to executors (same ``_read_file_partition`` path as the batch
    source); a range with no files plans no partition. Replay after a
    driver restart reloads the manifest from the log; a replay the log
    cannot satisfy, or a range that starts after a batch the log never
    cut, fails loudly rather than silently emitting fewer rows."""

    def __init__(self, options, schema: T.StructType):
        import os
        import tempfile

        # snapshot pins contradict a snapshot-DIFF stream (r9 review):
        # latestOffset polls the LIVE table, so a versionAsOf would be
        # silently ignored for data while the expired-URL refresh path
        # honored it — replays of post-pin files would then fail with
        # 'no longer listed'. Refuse up front; pin a snapshot with the
        # batch reader instead.
        version, timestamp = _snapshot_pins(options)
        if version is not None or timestamp is not None:
            raise DeltaSharingError(
                "versionAsOf/timestampAsOf are not supported on the "
                "streaming source (a snapshot-diff stream follows the "
                "live table); use spark.read for a pinned snapshot")
        self.options = options
        self.full_schema = schema
        log_dir = options.get("stream_log_dir") or tempfile.mkdtemp(
            prefix="deltasharing-stream-")
        os.makedirs(log_dir, exist_ok=True)
        self._log_path = os.path.join(log_dir, "batches.jsonl")
        self._batches: dict[int, dict] = {}  # batch -> its log record
        self._latest_batch = -1
        self._seen: set[str] = set()
        self._version = -1
        self._load_log()
        # Spark may poll latestOffset() BEFORE asking for initialOffset();
        # the initial offset must be the state at construction, not the
        # live high-water mark, or the first microbatch plans start == end
        self._initial = {"version": self._version, "batch": self._latest_batch}

    # -- commit log -------------------------------------------------------

    def _load_log(self) -> None:
        import os

        if not os.path.exists(self._log_path):
            return
        with open(self._log_path, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                rec = json.loads(line)
                self._batches[rec["batch"]] = rec
                self._latest_batch = max(self._latest_batch, rec["batch"])
                self._version = max(self._version, rec.get("version", -1))
                self._seen.update(f["id"] for f in rec["files"])
                if rec.get("schema"):
                    # restore the schema pin across driver restarts: the
                    # logged manifests' files were written under THIS
                    # schema — a memory-only pin would silently accept a
                    # post-restart schema change and mis-decode replays
                    self._schema_string_seen = rec["schema"]

    def _append_log(self, rec: dict) -> None:
        with open(self._log_path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")
            fh.flush()

    # -- DataSourceStreamReader contract ----------------------------------

    def initialOffset(self) -> dict:
        return dict(self._initial)

    def latestOffset(self) -> dict:
        client, table = self._client_and_table()
        data = client.get_table_data(table)
        plan = _stream_plan(self, client, table, data, self.full_schema)
        if data.version is not None:
            self._version = data.version
        new = [f for f in plan.files if f.id not in self._seen]
        if new:
            self._latest_batch += 1
            manifest = [{"id": f.id, "url": f.url, "size": f.size,
                         "partition_values": dict(f.partition_values),
                         "deletion_vector": f.deletion_vector}
                        for f in new]
            rec = {"batch": self._latest_batch, "version": self._version,
                   "files": manifest,
                   # persist the drift pin (see _load_log)
                   "schema": getattr(self, "_schema_string_seen", None),
                   # the listing's metaData.id, part of the files' cache
                   # keys; a record without one reads uncached
                   "table_id": data.metadata.id,
                   "partition_columns": plan.partition_columns,
                   "file_names": plan.file_names}
            self._batches[self._latest_batch] = rec
            self._seen.update(f.id for f in new)
            self._append_log(rec)
        return {"version": self._version, "batch": self._latest_batch}

    def _record(self, batch: int) -> dict | None:
        if batch not in self._batches:
            self._load_log()  # commit pruned memory; the log is durable
        return self._batches.get(batch)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        first, last = start.get("batch", -1), end.get("batch", -1)
        if last < first or end.get("version", -1) < start.get("version", -1):
            raise DeltaSharingError(
                f"stream offset {end} comes before {start}; refusing to "
                "plan a backwards range")
        done = self._record(first) if first >= 0 else None
        if first >= 0 and (done is None or done.get("version", -1)
                           > start.get("version", -1)):
            # a log that did not cut this batch by the start's version (a
            # restart without its stream_log_dir lists every live file as
            # a new batch 0) would silently plan an empty or short range
            raise DeltaSharingError(
                f"cannot resume after microbatch {first} at version "
                f"{start.get('version')}: the stream commit log at "
                f"{self._log_path} has no record of it; restart the query "
                "with the stream_log_dir it ran with")
        records = []
        for b in range(first + 1, last + 1):
            rec = self._record(b)
            if rec is None or "partition_columns" not in rec:
                raise DeltaSharingError(
                    f"cannot replay microbatch {b}: no manifest this reader "
                    f"can read in the stream commit log at {self._log_path} "
                    "(log lost, truncated or written by an older version) — "
                    "refusing to guess the original file set")
            records.append(rec)
        if not any(rec["files"] for rec in records):
            return []
        client, table = self._client_and_table()
        # a manifest entry is spelled with FileAction's field names; a
        # record without file_names was logged by a stream that refused
        # column mapping. The schema pin gives every record one mapping
        file_names = records[-1].get("file_names", {})
        tasks = [task for rec in records for task in file_tasks(ScanPlan(
            [FileAction(**f) for f in rec["files"]], self.full_schema,
            rec["partition_columns"], file_names,
            cache_identity(client, table, rec.get("table_id"))))]
        # an unpinned re-list: the stream follows the live table
        return [_FilePartition(group, file_names=file_names)
                for group in pack_files(tasks)]

    def read(self, partition: _FilePartition) -> Iterator:
        return _read_file_partition(self.options, self.full_schema, partition)

    def commit(self, end: dict) -> None:
        # batches before end are processed and will never be re-requested;
        # drop them from memory (the JSONL log keeps the durable history).
        # The end batch stays: the next range starts after it
        done = end.get("batch", -1)
        for b in [b for b in self._batches if b < done]:
            del self._batches[b]


def _wants_cdf(options) -> bool:
    return str(options.get("readChangeFeed", "")).lower() in ("true", "1")


class DeltaSharingCDFStreamReader(_OneClient, DataSourceStreamReader):
    """Change-Data-Feed microbatch source over the protocol's ``/changes``
    endpoint (``readChangeFeed`` option; Spark's delta CDF streaming
    analogue). Offsets are purely logical — ``{"version": V}`` — so there
    is no local commit log at all: ``partitions(start, end)`` re-lists the
    version range from the server, which is authoritative for replay. A
    replay whose versions the server has vacuumed fails loudly server-side
    rather than silently dropping changes. The files of the range are
    packed into groups by ``scan.change_tasks``, as
    ``DeltaSharingReader.table_changes`` packs them, one executor
    partition each; add/remove actions get literal insert/delete
    ``_change_type``, ``cdf`` files carry their own."""

    def __init__(self, options, schema: T.StructType):
        self.options = options
        # schema arrives WITH the three CDF meta columns (appended by
        # DeltaSharingDataSource.schema); the file payload schema is the
        # table schema without them
        meta_names = {f.name for f in CDF_META_FIELDS}
        self.out_schema = schema
        self.base_schema = T.StructType(
            [f for f in schema.fields if f.name not in meta_names])
        # without startingVersion the stream starts at the table's version
        # when Spark first asks: Spark builds this reader twice, and the
        # copy that only serves ``read`` never asks, so it makes no REST
        # call (and, under OAuth, no token grant)
        self._initial = None
        start_opt = options.get("startingVersion")
        if start_opt is not None:
            try:
                start_v = int(start_opt)
            except (TypeError, ValueError) as exc:
                raise DeltaSharingError(
                    "startingVersion must be an integer version, got "
                    f"{start_opt!r}") from exc
            # serve changes FROM startingVersion (inclusive)
            self._initial = {"version": start_v - 1}

    def initialOffset(self) -> dict:
        if self._initial is None:
            client, table = self._client_and_table()
            self._initial = {"version": client.get_table_version(table)}
        return dict(self._initial)

    def latestOffset(self) -> dict:
        client, table = self._client_and_table()
        return {"version": client.get_table_version(table)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start.get("version", -1), end.get("version", -1)
        if hi <= lo:
            return []
        client, table = self._client_and_table()
        changes = client.get_table_changes(
            table, starting_version=lo + 1, ending_version=hi)
        plan = _stream_plan(self, client, table, changes, self.base_schema)
        return [_FilePartition(group, spec, plan.file_names)
                for spec, group in change_tasks(plan, changes.kinds, hi)]

    def read(self, partition: _FilePartition):
        return _read_file_partition(self.options, self.out_schema, partition)

    def commit(self, end: dict) -> None:
        pass  # offsets are logical; the server's history is the log


class DeltaSharingDataSource(DataSource):
    """``spark.read.format("deltasharing")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "deltasharing"

    def schema(self) -> T.StructType:
        from datafusion_delta_sharing_spark.sources.schema import schema_from_string

        client, table = _make_client(self.options)
        version, timestamp = _snapshot_pins(self.options)
        if version is not None or timestamp is not None:
            # time travel: the CURRENT metadata may have columns the
            # pinned snapshot's files do not (schema evolution after the
            # pin) — fetch the metadata the snapshot was written with
            # from the same pinned query the readers use. limit_hint=0:
            # only the metadata line matters here
            metadata = client.get_table_data(
                table, version=version, timestamp=timestamp,
                limit_hint=0).metadata
        else:
            _, metadata = client.get_table_metadata(table)
        base = schema_from_string(metadata.schema_string)
        if _wants_cdf(self.options):
            return T.StructType(list(base.fields) + list(CDF_META_FIELDS))
        return base

    def reader(self, schema: T.StructType) -> DeltaSharingBatchReader:
        if _wants_cdf(self.options):
            raise DeltaSharingError(
                "readChangeFeed is a streaming option — use readStream, "
                "or DeltaSharingReader.table_changes for a batch CDF read")
        return DeltaSharingBatchReader(self.options, schema)

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:
        if _wants_cdf(self.options):
            return DeltaSharingCDFStreamReader(self.options, schema)
        return DeltaSharingStreamReader(self.options, schema)
