"""Delta Sharing table -> Spark DataFrame (the engine's source operator).

Parity targets (SURVEY.md §2 Tier A):

* A1  scan: file listing -> parquet scan (``src/datasource/table.rs:174-196``)
  — the listing is checked and pruned by ``scan.plan_files``, the one
  planner of every read entry point.
* A2  physical parquet exec (``src/datasource/scan.rs:50-157``) — Spark's
  vectorized parquet reader plays this role on the local-path strategy; a
  ``mapInArrow`` stage over ``scan.read_files``, the one executor read
  kernel, plays it for presigned HTTPS URLs.
* A3  presigned-URL ranged parquet reader (``src/datasource/reader.rs:14-109``)
  — ``scan.read_files`` fetches each byte at most once per application and
  executor, through its executor file cache; see ``sources/scan.py``.
* A4  projection pushdown — automatic via Catalyst on the local strategy;
  explicit ``columns=`` (mapped to ``pyarrow`` column selection) on the
  HTTP strategy.
* A5  filter pushdown to server — predicate -> ``jsonPredicateHints``; the
  residual filter is ALWAYS kept on the DataFrame (Inexact semantics,
  ``src/datasource/table.rs:198-213``).
* A19 limit pushdown — ``limitHint`` + exact ``df.limit`` above it.
* A20 partition-value reconstruction (``src/datasource/scan.rs:159-229``).

Scale design (100 TB): the driver only ever touches the *file list* (one
row per file — metadata, not data). Data bytes move exclusively inside
executor tasks: each task receives one file group of ready file tasks
(``scan.file_tasks`` packed by ``scan.pack_files``: ~128 MiB of parquet)
and streams Arrow record batches straight out of parquet row groups over
HTTP. No driver materialization and no collect; the only local copy is
the executor's bounded file cache (``scan.read_files``).
Stats-based file pruning (plans/pruning.py) happens before the file list is
parallelized, so a selective predicate turns a million-file table into the
handful of files Spark must actually open.
"""

from __future__ import annotations

import dataclasses
import json
import pickle
from functools import reduce
from typing import Iterable, Iterator, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from datafusion_delta_sharing_spark.client import (
    DeltaSharingClient,
    FileAction,
)
from datafusion_delta_sharing_spark.errors import (
    DeltaSharingError,
    PredicateError,
)
from datafusion_delta_sharing_spark.plans.predicates import (
    Op,
    predicate_from_sql,
)
from datafusion_delta_sharing_spark.plans.pruning import prune_for_limit
from datafusion_delta_sharing_spark.securable import Table
from datafusion_delta_sharing_spark.sources.dv import dv_positions
from datafusion_delta_sharing_spark.sources.scan import (
    FileTask,
    _has_variant,
    _local_path,
    change_tasks,
    file_tasks,
    logical_partition_keys,
    pack_files,
    plan_files,
    read_files,
    relist,
    relist_pin,
)
from datafusion_delta_sharing_spark.sources.schema import (
    CDF_META_FIELDS,
    column_mapping_of,
    decode_partition_values,
    schema_from_string,
)


def _op_column_names(op: Op) -> set[str]:
    """Every column name referenced anywhere in a predicate Op tree."""
    names: set[str] = set()
    stack = [op]
    while stack:
        node = stack.pop()
        if node.op == "column" and node.name is not None:
            names.add(node.name)
        stack.extend(node.children)
    return names


def _fetch_batches_task(
    group_batches: Iterable["pyarrow.RecordBatch"],  # noqa: F821
    schema: T.StructType,
    columns: Sequence[str] | None,
    profile_doc: str,
    table_fqn: str,
    file_names: dict[str, str] | None = None,
) -> Iterator["pyarrow.RecordBatch"]:  # noqa: F821
    """mapInArrow worker: the file groups of one Spark task in, table
    record batches out, through ``scan.read_files`` with the plan's
    ``file_names``. Each row is one pickled ``(spec, tasks)`` group whose
    tasks arrive ready, partition values and change-feed columns decoded
    on the driver (A20); an expired presigned URL re-lists the table once
    per group, pinned to its ``spec``."""
    for batch in group_batches:
        for group in batch.column("group").to_pylist():
            spec, tasks = pickle.loads(group)
            yield from read_files(
                tasks, schema, columns, file_names or {},
                lambda: relist(profile_doc, table_fqn, spec))


def _normalized_path_expr(col):
    """File-identity columns (``input_file_name()``, ``_metadata.file_path``)
    come back as percent-encoded ``file://`` URIs; normalize to the decoded
    filesystem path so they join against driver-side paths. Scheme off,
    then protect literal '+' before url_decode (form-decoding would turn it
    into a space). ``file:(//)?+`` with a possessive group strips file:/p
    and file:///p but leaves file://host/p (non-empty authority) alone."""
    return F.url_decode(
        F.regexp_replace(
            F.regexp_replace(col, r"^file:(//)?+(?=/)", ""),
            r"\+", "%2B"))


def _file_schema(schema: T.StructType, constants: Iterable[str],
                 file_names: dict[str, str]) -> T.StructType:
    """The parquet read schema of ``schema``'s data columns: the fields
    not in ``constants``, each named by its parquet column."""
    return T.StructType([
        T.StructField(file_names.get(f.name, f.name), f.dataType, f.nullable,
                      f.metadata)
        for f in schema.fields if f.name not in constants])


def _file_column(name: str, file_names: dict[str, str]):
    """The data column ``name``, read from its parquet column."""
    physical = file_names.get(name, name).replace("`", "``")
    return F.col(f"`{physical}`").alias(name)


# ---------------------------------------------------------------------------
# Reader (driver side)
# ---------------------------------------------------------------------------


class DeltaSharingReader:
    """Builds Spark DataFrames from Delta Sharing tables.

    Equivalent of the reference's ``DeltaSharingTable`` + ``TableProvider``
    (src/datasource/table.rs). Two physical strategies, chosen per file list:

    * all-local URLs (``file://`` or plain paths — tests, pre-staged data):
      native ``spark.read.parquet`` per group of files sharing their
      partition values and change-feed columns, so Catalyst gets full
      predicate/projection pushdown into the vectorized reader;
    * any http(s) URL: distributed ``mapInArrow`` fetch — the 100 TB path.
    """

    def __init__(self, spark: SparkSession, client: DeltaSharingClient):
        self.spark = spark
        self.client = client

    # -- bootstrap (A33) ---------------------------------------------------

    @classmethod
    def from_connection_string(cls, spark: SparkSession, conn: str,
                               on_expired: str = "reject",
                               ) -> tuple["DeltaSharingReader", Table]:
        """``"/path/to/profile.share#share.schema.table"`` -> (reader, table)
        (src/datasource/table.rs:93-103). ``on_expired='reject'``
        (default) keeps the reference's expired-bearer rejection;
        ``'reload'`` re-reads the profile file once at expiry so a
        rotated credential lets the session continue (VERDICT r8 #7 —
        see profile.RotatingFileProfile)."""
        if "#" not in conn:
            raise DeltaSharingError(
                "connection string must look like 'profile.share#share.schema.table'"
            )
        from datafusion_delta_sharing_spark.profile import load_profile

        profile_path, _, fqn = conn.partition("#")
        profile = load_profile(profile_path, on_expired=on_expired)
        client = DeltaSharingClient(profile)
        return cls(spark, client), Table.from_str(fqn)

    @classmethod
    def load(cls, spark: SparkSession, conn: str, **kwargs) -> DataFrame:
        """One-shot: connection string -> DataFrame."""
        reader, table = cls.from_connection_string(spark, conn, **kwargs)
        return reader.table(table)

    # -- the scan (A1) -----------------------------------------------------

    def table(self, table: Table | str,
              predicate: str | None = None,
              limit: int | None = None,
              columns: Sequence[str] | None = None,
              version: int | None = None,
              timestamp: str | None = None) -> DataFrame:
        """Scan a shared table into a DataFrame.

        ``predicate`` is a SQL comparison predicate; when expressible it is
        pushed to the server as ``jsonPredicateHints`` and used for
        stats-based file pruning, and it is ALWAYS re-applied to the rows
        (inexact pushdown, A5). ``limit`` maps to ``limitHint`` + an exact
        ``df.limit`` (A19). ``columns`` projects the scan (A4).
        ``version`` / ``timestamp`` pin the snapshot for reproducible
        reads (protocol time travel; the reference never sends either —
        this is the training-data lineage knob: record the version a run
        read, re-read the identical snapshot later)."""
        if isinstance(table, str):
            table = Table.from_str(table)

        schema_for_hint: T.StructType | None = None
        predicate_op: Op | None = None
        hints: str | None = None
        if predicate is not None:
            # One metadata fetch to learn the schema for predicate typing
            # (the reference types predicates off the provider schema too).
            _, metadata = self.client.get_table_metadata(table)
            schema_for_hint = schema_from_string(metadata.schema_string)
            try:
                predicate_op = predicate_from_sql(predicate, schema_for_hint)
                hints = predicate_op.to_json()
            except PredicateError:
                predicate_op = None  # Unsupported -> no hint, engine-side filter only

        data = self.client.get_table_data(
            table, json_predicate_hints=hints,
            # the limit hint is only sound with NO predicate: a server
            # that prunes files by cumulative row count assumes the
            # client reads rows unfiltered — with a predicate (pushed or
            # residual) the limit applies AFTER filtering, so pruned
            # files could hold the only matching rows (r5 review; the
            # official Spark connector also sends limitHint only for
            # filterless limits)
            limit_hint=limit if predicate is None else None,
            version=version, timestamp=timestamp,
        )
        # limit-based file pruning is only sound with NO predicate at all:
        # a non-pushable predicate (predicate_op None, residual filter only)
        # still removes rows, so pruned files could hold matches
        prune_limit = limit if predicate is None else None

        # The residual predicate resolves against the scan output, so the
        # scan must retain every column the predicate references even when
        # the caller projects them away (the reference types/applies filters
        # against the full provider schema). Scan the projection plus the
        # predicate's columns, filter, then re-project.
        out_columns = list(columns) if columns else None
        scan_columns: Sequence[str] | None = out_columns
        if predicate is not None and out_columns is not None:
            if predicate_op is not None:
                needed = _op_column_names(predicate_op)
                assert schema_for_hint is not None
                extra = [f.name for f in schema_for_hint.fields
                         if f.name in needed and f.name not in out_columns]
                scan_columns = out_columns + extra
            else:
                # unparseable predicate: referenced columns unknown, so keep
                # the full schema for the filter and project afterwards
                assert schema_for_hint is not None
                unknown = [c for c in out_columns
                           if c not in schema_for_hint.fieldNames()]
                if unknown:
                    raise DeltaSharingError(
                        f"unknown column(s) in projection: {unknown}")
                scan_columns = None

        logical = schema_from_string(data.metadata.schema_string)
        if scan_columns:
            unknown = [c for c in scan_columns
                       if c not in logical.fieldNames()]
            if unknown:
                raise DeltaSharingError(
                    f"unknown column(s) in projection: {unknown}")
        plan = plan_files(data, logical, predicate_op, self.client, table)
        if prune_limit is not None and predicate_op is None:
            # beyond the reference's limitHint: stop listing files once
            # stats-known record counts cover the limit
            plan = dataclasses.replace(
                plan, files=prune_for_limit(plan.files, prune_limit))
        # executor-side URL refreshes re-list the snapshot THIS listing
        # came from
        spec = relist_pin(data, version, timestamp)
        groups = [(spec, group)
                  for group in pack_files(file_tasks(plan))]
        df = self._dataframe_from_tasks(table, groups, plan.schema,
                                        plan.file_names, scan_columns)
        if predicate is not None:
            df = df.filter(predicate)  # residual: Inexact semantics (A5)
            if out_columns is not None and scan_columns != out_columns:
                df = df.select(*out_columns)
        if limit is not None:
            df = df.limit(limit)  # exact limit above the hint (A19)
        return df

    # -- metadata-only aggregates (beyond reference) -----------------------

    @staticmethod
    def _logical_file_rows(f: FileAction) -> int:
        """A file's LOGICAL row count from metadata alone: numRecords
        stats minus deletion-vector cardinality. Raises when either is
        missing/corrupt — a metadata count must be exact or refused."""
        stats = f.parsed_stats()
        n = stats.get("numRecords") if stats else None
        if not isinstance(n, int) or isinstance(n, bool) or n < 0:
            raise DeltaSharingError(
                f"file {f.id!r} carries no usable numRecords stats; a "
                "metadata-only count is impossible for this table — scan "
                "with .table(...).count() instead")
        dv = f.deletion_vector
        if dv is not None:
            card = dv.get("cardinality")
            if (not isinstance(card, int) or isinstance(card, bool)
                    or card < 0 or card > n):
                raise DeltaSharingError(
                    f"file {f.id!r} has a deletion vector without a sane "
                    f"cardinality ({card!r} of {n} rows); metadata-only "
                    "count refused")
            n -= card
        return n

    def count_rows(self, table: Table | str,
                   version: int | None = None,
                   timestamp: str | None = None) -> int:
        """COUNT(*) from the file listing alone — no parquet fetched.

        At 100 TB the difference is a metadata round-trip vs a full-table
        scan: every file action carries numRecords stats, and applied
        deletion vectors carry their cardinality, so the logical row
        count is exactly ``sum(numRecords) − sum(dv.cardinality)``. The
        reference parses stats and drops them (action.rs:180-183); it
        cannot answer a count without downloading the table. Any file
        without usable stats raises — the caller falls back to a real
        scan, never to a silently wrong number."""
        if isinstance(table, str):
            table = Table.from_str(table)
        data = self.client.get_table_data(
            table, version=version, timestamp=timestamp)
        return sum(self._logical_file_rows(f) for f in data.files)

    def partition_row_counts(self, table: Table | str,
                             version: int | None = None,
                             timestamp: str | None = None) -> DataFrame:
        """Per-partition logical row counts from metadata alone (typed
        partition columns + ``row_count``) — the GROUP BY partition-key
        COUNT(*) a warehouse answers from its manifest. Same exactness
        contract as :meth:`count_rows`; raises on unpartitioned tables
        (use count_rows) and on files without usable stats.

        Under column mapping the file actions may spell partition keys
        physically (raw delta-format adds) or logically (parquet-format
        servers translate): both are normalized to logical names, as
        the scan plan does."""
        if isinstance(table, str):
            table = Table.from_str(table)
        data = self.client.get_table_data(
            table, version=version, timestamp=timestamp)
        metadata = data.metadata
        schema = schema_from_string(metadata.schema_string)
        part_cols = list(metadata.partition_columns)
        if not part_cols:
            raise DeltaSharingError(
                f"table {table!r} is unpartitioned; use count_rows()")
        # the shared validated entry point (r9 review: this path used to
        # skip the mode check and crashed with a raw AttributeError when
        # the schema carried no physicalName metadata)
        files, _ = logical_partition_keys(
            data.files, column_mapping_of(metadata, schema) or {})
        counts: dict[tuple, int] = {}
        for f in files:
            key = tuple(decode_partition_values(
                f.partition_values, schema, part_cols).values())
            counts[key] = counts.get(key, 0) + self._logical_file_rows(f)
        by_name = {fld.name: fld for fld in schema.fields}
        out_schema = T.StructType(
            [by_name[c] for c in part_cols]
            + [T.StructField("row_count", T.LongType(), False)])
        rows = [(*key, n) for key, n in counts.items()]
        return self.spark.createDataFrame(rows, out_schema)

    # -- CDF (A34, beyond the reference's todo!()) -------------------------

    def table_changes(self, table: Table | str,
                      starting_version: int | None = None,
                      ending_version: int | None = None,
                      starting_timestamp: str | None = None,
                      ending_timestamp: str | None = None) -> DataFrame:
        """Change Data Feed between two versions as a DataFrame with the
        Delta CDF metadata columns ``_change_type`` (insert / delete /
        update_preimage / update_postimage), ``_commit_version``,
        ``_commit_timestamp``.

        The actions' file tasks are built by ``scan.change_tasks``, as the
        CDF stream builds them: ``add``/``remove`` files are whole-file
        inserts/deletes with a literal change type, ``cdf`` files carry
        their own ``_change_type`` column, and a file without a commit
        version belongs to the end of the range (``ending_version``, else
        the response's version). All commits are one scan through the
        same local/distributed strategies as a snapshot read, so the plan
        does not grow with the number of commits and the 100 TB posture
        (ranged HTTP fetch, no driver-side rows) is unchanged. The
        reference's client stops at ``todo!()`` here
        (src/client/mod.rs:384-386)."""
        if isinstance(table, str):
            table = Table.from_str(table)
        changes = self.client.get_table_changes(
            table, starting_version=starting_version,
            ending_version=ending_version,
            starting_timestamp=starting_timestamp,
            ending_timestamp=ending_timestamp)
        plan = plan_files(changes, schema_from_string(
            changes.metadata.schema_string), None, self.client, table)
        groups = change_tasks(
            plan, changes.kinds, ending_version if ending_version is not None
            else changes.version)
        return self._dataframe_from_tasks(
            table, groups,
            T.StructType(plan.schema.fields + list(CDF_META_FIELDS)),
            plan.file_names)

    # -- physical construction --------------------------------------------

    def _dataframe_from_tasks(self, table: Table,
                              groups: list[tuple[dict, list[FileTask]]],
                              schema: T.StructType,
                              file_names: dict[str, str],
                              columns: Sequence[str] | None = None,
                              ) -> DataFrame:
        """The rows of the file-task ``groups`` (each with its re-list
        spec) under ``schema``, whose constant columns the tasks carry,
        through one of the two strategies.

        Column mapping ('name'/'id' modes) is TRANSLATED, beyond the
        reference class (which ignores the metadata and reads all-NULL
        columns): ``schema``, ``columns`` and the tasks are in the plan's
        logical names, and both strategies read a data column from its
        parquet column ``file_names.get(name, name)``. Nested-field
        renames are refused by the planner — a flat select-alias cannot
        rename inside a struct."""
        tasks = [task for _, group in groups for task in group]
        if not tasks:
            # CALLER column order, not table-schema order: the non-empty
            # paths return columns as projected, and a positionally-bound
            # consumer (union, toPandas().iloc) must see the same layout
            # whether or not pruning emptied the listing
            return self.spark.createDataFrame([], T.StructType(
                [schema[c] for c in columns]) if columns else schema)
        if all(urlparse(t.url).scheme in ("", "file") for t in tasks):
            return self._read_local(tasks, schema, columns, file_names)
        if _has_variant(schema):
            # pyarrow (the fetch strategies' decoder) does not recognize
            # the parquet VARIANT logical type — a clear plan-time error
            # beats the task-side Thrift failure
            raise DeltaSharingError(
                "table has VARIANT columns, which this client reads "
                "only from local (file://) shares — the ranged-HTTP "
                "fetch decodes via pyarrow, which cannot parse a "
                "parquet footer containing the VARIANT logical type")
        return self._read_distributed(table, groups, schema, columns,
                                      file_names)

    # above this many distinct constant tuples (partition values and
    # change-feed columns), one scan per tuple would blow up the plan:
    # switch to one scan per set of constant names + a file-identity join
    MAX_PARTITION_SCANS = 16

    @staticmethod
    def _local_dv_rows(keyed: Iterable[tuple[object, FileTask]]):
        """(key, deleted row position) pandas frame of the ``(key, task)``
        pairs whose task carries a deletion vector, or None. Decoded
        driver-side: on this strategy the files are driver-local
        anyway (tests / pre-staged data) and the row count is bounded by
        the summed DV cardinalities; the distributed strategy decodes
        inside the fetch task instead. Built as a pandas frame so
        createDataFrame ships it over Arrow — a 10 % DV on a 600k-row file
        is 60k positions, and the row-at-a-time tuple path made the
        anti-join cost 4× the scan."""
        import numpy as np
        import pandas as pd

        keys: list = []
        arrays = []
        for key, task in keyed:
            if not task.deletion_vector:
                continue
            pos = dv_positions(task.deletion_vector)
            if len(pos) == 0:
                continue
            keys.append(key)
            arrays.append(pos.astype("int64"))
        if not keys:
            return None
        return pd.DataFrame({
            "__dv_key": np.repeat(np.array(keys, dtype=object),
                                  [len(a) for a in arrays]),
            "__dv_pos": np.concatenate(arrays),
        })

    def _anti_join_dv(self, df: DataFrame, dv_rows) -> DataFrame:
        """Drop the (``__dv_key``, ``__dv_pos``) pairs named by the deletion
        vectors. The positions side is cardinality-sized; Catalyst/AQE
        picks broadcast when it is small and a shuffled anti-join when it
        is not."""
        return (df.join(self.spark.createDataFrame(dv_rows),
                        ["__dv_key", "__dv_pos"], "left_anti")
                .drop("__dv_key", "__dv_pos"))

    def _read_local(self, tasks: list[FileTask], schema: T.StructType,
                    columns: Sequence[str] | None,
                    file_names: dict[str, str]) -> DataFrame:
        """Native parquet scans: Spark's vectorized reader + Catalyst
        pushdown do A2/A4 for free, each task's ``constants`` (partition
        values, change-feed columns) become typed literals, and each data
        column is read from its parquet column ``file_names.get(name,
        name)`` under its logical name.

        Tasks are grouped by the names of their constants (a change feed's
        add and remove files carry ``_change_type``, its cdf files read it
        from the parquet), then by their values: one scan per value tuple,
        or, past MAX_PARTITION_SCANS tuples in all, one scan per set of
        names that joins the values by file identity, so the plan size is
        bounded whatever the number of partitions or commits (SURVEY.md §7
        risk note)."""
        shapes: dict[tuple, dict[tuple, list[FileTask]]] = {}
        for task in tasks:
            shapes.setdefault(tuple(task.constants), {}).setdefault(
                tuple(task.constants.values()), []).append(task)
        if sum(map(len, shapes.values())) > self.MAX_PARTITION_SCANS:
            out = reduce(DataFrame.unionByName, [
                self._read_local_single_scan(
                    [t for group in by_values.values() for t in group],
                    schema, names, file_names)
                for names, by_values in shapes.items()])
            return out.select(*columns) if columns else out
        groups = [group for by_values in shapes.values()
                  for group in by_values.values()]
        # a file's deletion vector is keyed by (group, path): an add and a
        # remove of one file are in different groups and stay apart
        dv_rows = self._local_dv_rows(
            (f"{i}:{_local_path(t.url)}", t)
            for i, group in enumerate(groups) for t in group)
        parts: list[DataFrame] = []
        for i, group in enumerate(groups):
            constants = group[0].constants
            df = self.spark.read.schema(
                _file_schema(schema, constants, file_names)
            ).parquet(*[_local_path(t.url) for t in group])
            select = [F.lit(constants[f.name]).cast(f.dataType).alias(f.name)
                      if f.name in constants
                      else _file_column(f.name, file_names)
                      for f in schema.fields]
            if dv_rows is not None:
                # row positions come from the scan's hidden _metadata
                # struct; soft-deleted (file, position) pairs are
                # anti-joined away after the union
                select += [
                    F.concat(F.lit(f"{i}:"), _normalized_path_expr(
                        F.col("_metadata.file_path"))).alias("__dv_key"),
                    F.col("_metadata.row_index").alias("__dv_pos")]
            parts.append(df.select(*select))
        out = reduce(DataFrame.unionByName, parts)
        if dv_rows is not None:
            out = self._anti_join_dv(out, dv_rows)
        return out.select(*columns) if columns else out

    def _read_local_single_scan(self, tasks: list[FileTask],
                                schema: T.StructType,
                                names: tuple[str, ...],
                                file_names: dict[str, str]) -> DataFrame:
        """One scan over the tasks' files + a broadcast join from file
        identity (``input_file_name``) to each task's constants ``names``:
        plan size is O(1) in the number of distinct tuples. A file that
        several tasks list (an add and a later remove of one file) is
        scanned once and joins each task's constants, and its deletion
        vector rows are dropped per task.

        ``input_file_name()`` returns a percent-encoded ``file://`` URI, so
        both join sides are normalized to the *decoded* filesystem path
        (scheme stripped, ``%xx`` unescaped) — a path with spaces or other
        URI-special characters must not silently drop its rows."""
        paths = [_local_path(t.url) for t in tasks]
        dv_rows = self._local_dv_rows(enumerate(tasks))
        scan = (self.spark.read.schema(_file_schema(schema, names, file_names))
                .parquet(*dict.fromkeys(paths)))
        scan = scan.select(
            *[_file_column(f.name, file_names) for f in schema.fields
              if f.name not in names],
            _normalized_path_expr(F.input_file_name()).alias("__file"),
            *([F.col("_metadata.row_index").alias("__dv_pos")]
              if dv_rows is not None else []))
        map_schema = T.StructType(
            [T.StructField("__file", T.StringType(), False),
             T.StructField("__dv_key", T.LongType(), False)]
            + [schema[name] for name in names])
        # paths come decoded from _local_path, matching the normalized
        # (scheme-stripped, %xx-unescaped) Spark-side file identity
        rows = [(path, i, *task.constants.values())
                for i, (path, task) in enumerate(zip(paths, tasks))]
        joined = scan.join(
            F.broadcast(self.spark.createDataFrame(rows, map_schema)),
            "__file")
        if dv_rows is not None:
            joined = self._anti_join_dv(joined, dv_rows)
        return joined.select(*[f.name for f in schema.fields])

    def _read_distributed(self, table: Table,
                          groups: list[tuple[dict, list[FileTask]]],
                          schema: T.StructType,
                          columns: Sequence[str] | None,
                          file_names: dict[str, str]) -> DataFrame:
        """The scale path: parallelize the file-task groups, each pickled
        with its re-list spec, one Spark partition each and with no
        shuffle, and fetch + decode them on executors in one mapInArrow."""
        out_schema = (T.StructType([schema[c] for c in columns])
                      if columns else schema)

        # deletion vectors travel as descriptors and are decoded INSIDE
        # the fetch task — DV bytes never concentrate on the driver
        group_df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(
                [(pickle.dumps(g),) for g in groups], len(groups)),
            T.StructType([T.StructField("group", T.BinaryType(), False)]))

        # the profile serializes ITSELF (Profile.to_doc round-trips via
        # from_json): a hand-built v1 doc here crashed every non-bearer
        # profile type on the executor fetch path (OAuth had no
        # .bearer_token) — found when connector_oauth first drove the
        # credentials-v2 grant through mapInArrow
        profile_doc = json.dumps(self.client.profile.to_doc())
        fqn = table.full_name()
        cols = list(columns) if columns else None

        def fetch(batches):
            return _fetch_batches_task(batches, schema, cols, profile_doc,
                                       fqn, file_names)

        return group_df.mapInArrow(fetch, out_schema)
