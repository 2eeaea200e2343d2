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
  — ``scan._RangedHttpFile`` fetches each byte at most once; see
  ``sources/scan.py``.
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
executor tasks: each task receives a slice of file descriptors and streams
Arrow record batches straight out of parquet row groups over HTTP. No
driver materialization, no local staging, no collect. Stats-based file
pruning (plans/pruning.py) happens before the file list is parallelized, so
a selective predicate turns a million-file table into the handful of files
Spark must actually open.
"""

from __future__ import annotations

import json
from functools import reduce
from typing import Iterable, Iterator, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from datafusion_delta_sharing_spark.client import (
    DeltaSharingClient,
    FileAction,
    TableData,
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
    physical_partition_keys,
    plan_files,
    read_files,
    relist,
)
from datafusion_delta_sharing_spark.sources.schema import (
    column_mapping_of,
    decode_partition_values,
    schema_from_string,
    to_physical_schema,
)

_BYTES_PER_TASK = 128 * 1024 * 1024  # one Spark task per ~128 MiB of parquet


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
    descriptor_batches: Iterable["pyarrow.RecordBatch"],  # noqa: F821
    schema: T.StructType,
    partition_columns: Sequence[str],
    columns: Sequence[str] | None,
    profile_doc: str,
    table_fqn: str,
    spec: dict,
) -> Iterator["pyarrow.RecordBatch"]:  # noqa: F821
    """mapInArrow worker: the file descriptors of one Spark task in, table
    record batches out, through ``scan.read_files``. Partition values are
    decoded here, on the executor, into each file's typed constants (A20);
    an expired presigned URL re-lists the table once, pinned to ``spec``."""
    tasks = [FileTask(row["url"], row["size"], row["file_id"],
                      decode_partition_values(
                          json.loads(row["partition_values"]), schema,
                          partition_columns),
                      json.loads(row["deletion_vector"])
                      if row["deletion_vector"] else None)
             for batch in descriptor_batches for row in batch.to_pylist()]
    yield from read_files(tasks, schema, columns, {},
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


# ---------------------------------------------------------------------------
# Reader (driver side)
# ---------------------------------------------------------------------------


class DeltaSharingReader:
    """Builds Spark DataFrames from Delta Sharing tables.

    Equivalent of the reference's ``DeltaSharingTable`` + ``TableProvider``
    (src/datasource/table.rs). Two physical strategies, chosen per file list:

    * all-local URLs (``file://`` or plain paths — tests, pre-staged data):
      native ``spark.read.parquet`` per partition-value group, so Catalyst
      gets full predicate/projection pushdown into the vectorized reader;
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

        df = self._dataframe_from_listing(
            table, data, predicate_op=predicate_op, columns=scan_columns,
            limit=prune_limit,
        )
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
        servers translate): both are normalized to physical names, as
        the scan does, and the output columns carry the logical ones."""
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
        mapping = column_mapping_of(metadata, schema) or {}
        files, _ = physical_partition_keys(data.files, mapping)
        physical = to_physical_schema(schema, mapping)
        keys = [mapping.get(c, c) for c in part_cols]
        counts: dict[tuple, int] = {}
        for f in files:
            decoded = decode_partition_values(
                f.partition_values, physical, keys)
            key = tuple(decoded[c] for c in keys)
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

        ``add``/``remove`` actions are whole-file inserts/deletes tagged
        with a literal change type; ``cdf`` actions' files carry their own
        ``_change_type`` column. Each commit's file group reuses the same
        local/distributed scan strategies as a snapshot read, so the 100 TB
        posture (ranged HTTP fetch, no driver-side rows) is unchanged.
        The reference's client stops at ``todo!()`` here
        (src/client/mod.rs:384-386)."""
        import dataclasses

        if isinstance(table, str):
            table = Table.from_str(table)
        changes = self.client.get_table_changes(
            table, starting_version=starting_version,
            ending_version=ending_version,
            starting_timestamp=starting_timestamp,
            ending_timestamp=ending_timestamp)
        full_schema = schema_from_string(changes.metadata.schema_string)
        cdf_doc = json.loads(changes.metadata.schema_string)
        cdf_doc["fields"] = list(cdf_doc["fields"]) + [
            {"name": "_change_type", "type": "string",
             "nullable": True, "metadata": {}}]
        cdf_metadata = dataclasses.replace(
            changes.metadata, schema_string=json.dumps(cdf_doc))

        groups: dict[tuple, list[FileAction]] = {}
        for kind, f in changes.actions:
            groups.setdefault((kind, f.version, f.timestamp), []).append(f)

        parts: list[DataFrame] = []
        for (kind, ver, ts), files in sorted(
                groups.items(),
                key=lambda kv: (kv[0][1] or 0, kv[0][0])):
            metadata = cdf_metadata if kind == "cdf" else changes.metadata
            data = TableData(protocol=changes.protocol, metadata=metadata,
                             files=tuple(files), version=changes.version)
            # expired-URL refreshes must go through /changes for this
            # commit: remove/cdc files never appear in a snapshot listing
            df = self._dataframe_from_listing(
                table, data,
                refresh_spec={"changes_version": ver} if ver is not None
                else None)
            if kind != "cdf":
                df = df.withColumn(
                    "_change_type",
                    F.lit("insert" if kind == "add" else "delete"))
            parts.append(
                df.withColumn("_commit_version",
                              F.lit(ver).cast("long"))
                .withColumn("_commit_timestamp",
                            F.timestamp_millis(F.lit(ts).cast("long"))))

        if not parts:
            out = T.StructType(list(full_schema.fields) + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
                T.StructField("_commit_timestamp", T.TimestampType())])
            return self.spark.createDataFrame([], out)
        return reduce(lambda a, b: a.unionByName(b), parts)

    # -- physical construction --------------------------------------------

    def _dataframe_from_listing(self, table: Table, data: TableData,
                                predicate_op: Op | None = None,
                                columns: Sequence[str] | None = None,
                                limit: int | None = None,
                                refresh_spec: dict | None = None) -> DataFrame:
        logical = schema_from_string(data.metadata.schema_string)
        if columns:
            unknown = [c for c in columns if c not in logical.fieldNames()]
            if unknown:
                raise DeltaSharingError(
                    f"unknown column(s) in projection: {unknown}")
        plan = plan_files(data, logical, predicate_op)
        full_schema, partition_columns = plan.schema, plan.partition_columns
        # Column mapping ('name'/'id' modes) TRANSLATED, beyond the
        # reference class (which ignores the metadata and reads all-NULL
        # columns): the scan below runs entirely in the plan's PHYSICAL
        # names (schema, partition columns, partition-value keys,
        # projection); the result renames back to logical in one final
        # projection. Nested-field renames are refused by the planner — a
        # flat select-alias cannot rename inside a struct.
        rename_back: list[tuple[str, str]] | None = None
        if plan.mapping:
            rename_back = [(plan.mapping.get(c, c), c)
                           for c in columns or logical.fieldNames()]
            columns = [phys for phys, _ in rename_back] if columns else None
        files = plan.files
        if limit is not None and predicate_op is None:
            # beyond the reference's limitHint: stop listing files once
            # stats-known record counts cover the limit (caller guarantees
            # no predicate applies — see table())
            files = prune_for_limit(files, limit)

        if not files:
            # CALLER column order, not table-schema order: the non-empty
            # paths return columns as projected, and a positionally-bound
            # consumer (union, toPandas().iloc) must see the same layout
            # whether or not pruning emptied the listing
            out_schema = (T.StructType([full_schema[c] for c in columns])
                          if columns else full_schema)
            df = self.spark.createDataFrame([], out_schema)
        else:
            local = all(urlparse(f.url).scheme in ("", "file")
                        for f in files)
            if not local and _has_variant(full_schema):
                # pyarrow (the fetch strategies' decoder) does not
                # recognize the parquet VARIANT logical type — a clear
                # plan-time error beats the task-side Thrift failure
                raise DeltaSharingError(
                    "table has VARIANT columns, which this client reads "
                    "only from local (file://) shares — the ranged-HTTP "
                    "fetch decodes via pyarrow, which cannot parse a "
                    "parquet footer containing the VARIANT logical type")
            if local:
                df = self._read_local(files, full_schema,
                                      partition_columns, columns)
            else:
                if refresh_spec is None:
                    # pin executor-side URL refreshes to the snapshot THIS
                    # listing came from (Delta-Table-Version header): an
                    # unpinned re-list would splice a newer snapshot into
                    # a running scan
                    refresh_spec = {"version": data.version}
                df = self._read_distributed(table, files, full_schema,
                                            partition_columns, columns,
                                            refresh_spec)
        if rename_back:
            # leave column-mapped physical space: one final projection
            df = df.select([F.col(f"`{phys}`").alias(logical)
                            for phys, logical in rename_back])
        return df

    # above this many distinct partition tuples, per-group scans would blow
    # up the plan: switch to one scan + input_file_name partition join
    MAX_PARTITION_SCANS = 16

    @staticmethod
    def _local_dv_rows(files: list[FileAction]):
        """(file path, deleted row position) pandas frame for files
        carrying deletion vectors, or None. Decoded driver-side: on this
        strategy the files are driver-local anyway (tests / pre-staged
        data) and the row count is bounded by the summed DV cardinalities;
        the distributed strategy decodes inside the fetch task instead.
        Built as a pandas frame so createDataFrame ships it over Arrow —
        a 10 % DV on a 600k-row file is 60k positions, and the
        row-at-a-time tuple path made the anti-join cost 4× the scan."""
        import numpy as np
        import pandas as pd

        paths: list[str] = []
        arrays = []
        for f in files:
            if not f.deletion_vector:
                continue
            pos = dv_positions(f.deletion_vector)
            if len(pos) == 0:
                continue
            paths.append(_local_path(f.url))
            arrays.append(pos.astype("int64"))
        if not paths:
            return None
        return pd.DataFrame({
            "__dv_file": np.repeat(np.array(paths, dtype=object),
                                   [len(a) for a in arrays]),
            "__dv_pos": np.concatenate(arrays),
        })

    def _anti_join_dv(self, df: DataFrame, dv_rows,
                      file_col: str = "__dv_file") -> DataFrame:
        """Drop (file, position) pairs named by the deletion vectors. The
        positions side is cardinality-sized; Catalyst/AQE picks broadcast
        when it is small and a shuffled anti-join when it is not."""
        pos_df = self.spark.createDataFrame(
            dv_rows.rename(columns={"__dv_file": file_col}))
        return (df.join(pos_df, [file_col, "__dv_pos"], "left_anti")
                .drop("__dv_pos"))

    def _read_local(self, files: list[FileAction], full_schema: T.StructType,
                    partition_columns: list[str],
                    columns: Sequence[str] | None) -> DataFrame:
        """Native parquet scan per partition-value group: Spark's vectorized
        reader + Catalyst pushdown do A2/A4 for free. File groups are
        coalesced per distinct partition tuple to bound plan size; past
        MAX_PARTITION_SCANS distinct tuples, a single scan joins partition
        values by file identity instead (SURVEY.md §7 risk note)."""
        data_schema = T.StructType(
            [f for f in full_schema.fields if f.name not in partition_columns]
        )
        groups: dict[tuple, list[FileAction]] = {}
        for f in files:
            key = tuple(sorted(f.partition_values.items()))
            groups.setdefault(key, []).append(f)

        if len(groups) > self.MAX_PARTITION_SCANS and partition_columns:
            return self._read_local_single_scan(
                files, full_schema, data_schema, partition_columns, columns)

        dv_rows = self._local_dv_rows(files)
        parts: list[DataFrame] = []
        for _, group in sorted(groups.items()):
            paths = [_local_path(f.url) for f in group]
            df = self.spark.read.schema(data_schema).parquet(*paths)
            select_cols = [f.name for f in full_schema.fields]
            if dv_rows is not None:
                # row positions come from the scan's hidden _metadata
                # struct; soft-deleted (file, position) pairs are
                # anti-joined away after the union
                df = (df.withColumn("__dv_file", _normalized_path_expr(
                          F.col("_metadata.file_path")))
                      .withColumn("__dv_pos", F.col("_metadata.row_index")))
                select_cols = select_cols + ["__dv_file", "__dv_pos"]
            decoded = decode_partition_values(
                group[0].partition_values, full_schema, partition_columns
            )
            for name in partition_columns:
                dtype = full_schema[name].dataType
                df = df.withColumn(name, F.lit(decoded[name]).cast(dtype))
            parts.append(df.select(*select_cols))
        out = reduce(DataFrame.unionByName, parts)
        if dv_rows is not None:
            out = self._anti_join_dv(out, dv_rows).drop("__dv_file")
        if columns:
            out = out.select(*columns)
        return out

    def _read_local_single_scan(self, files: list[FileAction],
                                full_schema: T.StructType,
                                data_schema: T.StructType,
                                partition_columns: list[str],
                                columns: Sequence[str] | None) -> DataFrame:
        """One scan over every file + a broadcast join from file identity
        (``input_file_name``) to decoded partition values: plan size is O(1)
        in the number of distinct partition tuples.

        ``input_file_name()`` returns a percent-encoded ``file://`` URI, so
        both join sides are normalized to the *decoded* filesystem path
        (scheme stripped, ``%xx`` unescaped) — a path with spaces or other
        URI-special characters must not silently drop its rows."""
        paths = [_local_path(f.url) for f in files]
        scan = (self.spark.read.schema(data_schema).parquet(*paths)
                .withColumn("__file",
                            _normalized_path_expr(F.input_file_name())))
        dv_rows = self._local_dv_rows(files)
        if dv_rows is not None:
            scan = scan.withColumn("__dv_pos", F.col("_metadata.row_index"))

        part_fields = [full_schema[c] for c in partition_columns]
        map_schema = T.StructType(
            [T.StructField("__file", T.StringType(), False)] + part_fields)
        rows = []
        for f, path in zip(files, paths):
            decoded = decode_partition_values(
                f.partition_values, full_schema, partition_columns)
            # paths come decoded from _local_path, matching the normalized
            # (scheme-stripped, %xx-unescaped) Spark-side file identity
            rows.append(tuple([path] + [decoded[c] for c in partition_columns]))
        mapping = self.spark.createDataFrame(rows, map_schema)
        joined = scan.join(F.broadcast(mapping), "__file")
        if dv_rows is not None:
            joined = self._anti_join_dv(joined, dv_rows, file_col="__file")
        out = (joined.drop("__file")
               .select(*[f.name for f in full_schema.fields]))
        if columns:
            out = out.select(*columns)
        return out

    def _read_distributed(self, table: Table, files: list[FileAction],
                          full_schema: T.StructType, partition_columns: list[str],
                          columns: Sequence[str] | None,
                          refresh_spec: dict) -> DataFrame:
        """The scale path: parallelize the descriptor list, fetch + decode on
        executors via mapInArrow, one task per ~_BYTES_PER_TASK of parquet;
        expired URLs re-list pinned to ``refresh_spec``."""
        out_schema = (T.StructType([full_schema[c] for c in columns])
                      if columns else full_schema)

        descriptors = [
            {
                "url": f.url,
                "file_id": f.id,
                "size": f.size,
                "partition_values": json.dumps(f.partition_values),
                # decoded INSIDE the fetch task — DV bytes never
                # concentrate on the driver (100 TB posture)
                "deletion_vector": (json.dumps(f.deletion_vector)
                                    if f.deletion_vector else None),
            }
            # size-descending (LPT order): round-robin repartition then
            # spreads the n largest files across n distinct tasks instead
            # of letting skewed sizes cluster into straggler tasks —
            # byte-count task sizing is otherwise defeated by row-count
            # distribution. (A single file larger than _BYTES_PER_TASK
            # still bounds wall-clock: file granularity is the floor.)
            for f in sorted(files, key=lambda fa: -fa.size)
        ]
        desc_schema = T.StructType([
            T.StructField("url", T.StringType(), False),
            T.StructField("file_id", T.StringType(), False),
            T.StructField("size", T.LongType(), False),
            T.StructField("partition_values", T.StringType(), False),
            T.StructField("deletion_vector", T.StringType(), True),
        ])
        total_bytes = sum(f.size for f in files) or 1
        n_tasks = max(1, min(len(files),
                             (total_bytes + _BYTES_PER_TASK - 1)
                             // _BYTES_PER_TASK))
        desc_df = (self.spark.createDataFrame(descriptors, desc_schema)
                   .repartition(int(n_tasks)))

        # the profile serializes ITSELF (Profile.to_doc round-trips via
        # from_json): a hand-built v1 doc here crashed every non-bearer
        # profile type on the executor fetch path (OAuth had no
        # .bearer_token) — found when connector_oauth first drove the
        # credentials-v2 grant through mapInArrow
        profile_doc = json.dumps(self.client.profile.to_doc())
        fqn = table.full_name()
        cols = list(columns) if columns else None
        pcols = list(partition_columns)

        def fetch(batches):
            return _fetch_batches_task(batches, full_schema, pcols, cols,
                                       profile_doc, fqn, refresh_spec)

        return desc_df.mapInArrow(fetch, out_schema)
