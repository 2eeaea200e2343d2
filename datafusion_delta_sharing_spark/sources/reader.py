"""Delta Sharing table -> Spark DataFrame (the engine's source operator).

Parity targets (SURVEY.md §2 Tier A):

* A1  scan: file listing -> parquet scan (``src/datasource/table.rs:174-196``)
* A2  physical parquet exec (``src/datasource/scan.rs:50-157``) — Spark's
  vectorized parquet reader plays this role on the local-path strategy; a
  ``mapInArrow`` fetch stage plays it for presigned HTTPS URLs.
* A3  presigned-URL ranged parquet reader (``src/datasource/reader.rs:14-109``)
  — ``_RangedHttpFile`` issues ``Range: bytes=a-b`` GETs through
  ``_ranged_get`` and fetches each byte at most once. Two ranges of one
  object within ``_COALESCE_BYTES`` (pyarrow's 64 KiB footer probe) of
  each other are one GET: a read of every data column, or a projected
  read of a file of at most 128 KiB, is one GET of the whole file; a
  projected read of a larger file holds the footer-tail GET and fetches
  only the projected column chunks outside it; and a task's deletion
  vectors in one shared DV file coalesce (``dv.DvReads``).
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

import dataclasses as _dataclasses
import io
import json
from functools import reduce
from typing import Any, Iterable, Iterator, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from datafusion_delta_sharing_spark.client import (
    DeltaSharingClient,
    FileAction,
    MetadataAction,
    TableData,
)
from datafusion_delta_sharing_spark.errors import (
    DeltaSharingError,
    PredicateError,
    SchemaError,
)
from datafusion_delta_sharing_spark.plans.predicates import (
    Op,
    predicate_from_sql,
)
from datafusion_delta_sharing_spark.plans.pruning import (
    may_match,
    partition_value_stats,
    prune_for_limit,
)
from datafusion_delta_sharing_spark.securable import Table
from datafusion_delta_sharing_spark.sources.dv import (
    dv_positions,
    positions_mask,
    validate_descriptor as validate_dv_descriptor,
)
from datafusion_delta_sharing_spark.sources.schema import (
    decode_partition_values,
    schema_from_string,
    to_physical_schema,
)

_DEFAULT_BYTES_PER_TASK = 128 * 1024 * 1024  # one Spark task per ~128 MiB of parquet


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


# ---------------------------------------------------------------------------
# Executor-side ranged HTTP reading (A3)
# ---------------------------------------------------------------------------


# pyarrow's speculative footer read. The scan already spends this many bytes
# to save a round trip, so two ranges of one object within this distance of
# each other are fetched in one GET: a small projected file is read whole,
# and one task's deletion vectors in a shared DV file coalesce.
_COALESCE_BYTES = 64 * 1024

_RETRIES = 3
_BACKOFF_S = 0.5


def _ranged_get(session, url: str, lo: int, hi: int,
                size: int | None = None) -> tuple[int, bytes]:
    """Bytes ``[lo, hi)`` of ``url`` in one ``Range`` GET, as ``(start,
    body)`` with ``body[0]`` at object offset ``start``.

    The one GET of both scan kernels, for parquet and deletion-vector
    bytes alike. Transient faults (5xx, dropped connections) retry with
    backoff; any other 4xx propagates, so the caller can re-list on an
    expired presigned URL (401/403). A server that ignores ``Range``
    answers 200 with the whole object, which comes back whole (``start``
    0) for the caller to hold. A 416, or a 206 body that is not the
    requested length, raises :class:`DeltaSharingError`: the object is
    shorter than its listing, and decoding short bytes yields wrong rows.
    ``size`` (the listed object size, when known) is checked against a
    200 body too.
    """
    import time

    import requests

    listed = ("" if size is None
              else f", which does not match its listed size {size}")
    last_exc: Exception | None = None
    for attempt in range(_RETRIES + 1):
        try:
            resp = session.get(url, headers={"Range": f"bytes={lo}-{hi - 1}"},
                               timeout=120)
            if resp.status_code >= 500:
                raise requests.HTTPError(
                    f"server error {resp.status_code}", response=resp)
            if resp.status_code == 416:
                raise DeltaSharingError(
                    f"{url} cannot serve bytes {lo}-{hi - 1}: the range "
                    f"starts past the end of the object{listed}")
            resp.raise_for_status()
            body = resp.content
            if resp.status_code == 200:
                if size is not None and len(body) != size:
                    raise _length_error(url, 0, size, body, resp, listed)
                return 0, body
            if len(body) != hi - lo:
                raise _length_error(url, lo, hi, body, resp, listed)
            return lo, body
        except requests.HTTPError as exc:
            status = (exc.response.status_code
                      if exc.response is not None else None)
            if status is None or status < 500:
                raise
            last_exc = exc
        except requests.RequestException as exc:
            # resets mid-body surface as ChunkedEncodingError /
            # ContentDecodingError, NOT ConnectionError — catching the
            # base class keeps the bounded retry for all of them
            last_exc = exc
        if attempt < _RETRIES:
            time.sleep(_BACKOFF_S * (2 ** attempt))
    raise last_exc  # type: ignore[misc]


def _length_error(url: str, lo: int, hi: int, body: bytes, resp,
                  listed: str) -> DeltaSharingError:
    """A complete response of the wrong length: retrying returns the same
    body, so it fails the read instead."""
    return DeltaSharingError(
        f"GET bytes={lo}-{hi - 1} of {url} returned {len(body)} bytes, "
        f"expected {hi - lo} (HTTP {resp.status_code}, Content-Range "
        f"{resp.headers.get('Content-Range')!r}); the requested range runs "
        f"past the end of the object{listed}")


class _RangedHttpFile(io.RawIOBase):
    """Seekable read-only file over HTTP Range requests that fetches each
    byte of the file at most once.

    The pyarrow parquet reader calls ``seek``/``read`` to load the footer,
    then the projected column chunks. Bytes move through
    :func:`_ranged_get`, as in the reference's
    ``SignedParquetFileReader::get_range`` (src/datasource/reader.rs:25-49),
    and one held suffix of the file answers every read it covers:

    * ``whole=True`` (the read decodes every data column, or a file of at
      most twice ``_COALESCE_BYTES`` decodes any): the first ``read`` GETs
      ``[0, size)`` and every later read is served from it;
    * otherwise the GET that ends at EOF (pyarrow's speculative footer
      tail) is held, and a later read overlapping it fetches only the
      bytes before it.

    A 200 from a server that ignores ``Range`` is the whole object and is
    held the same way.
    """

    def __init__(self, url: str, size: int, session=None,
                 whole: bool = False):
        import requests

        self._url = url
        self._size = size
        self._whole = whole
        self._pos = 0
        self._session = session or requests.Session()
        self._tail = b""  # the held suffix [size - len(tail), size)

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def seek(self, offset: int, whence: int = io.SEEK_SET) -> int:
        if whence == io.SEEK_SET:
            self._pos = offset
        elif whence == io.SEEK_CUR:
            self._pos += offset
        elif whence == io.SEEK_END:
            self._pos = self._size + offset
        return self._pos

    def tell(self) -> int:
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        start, end = self._pos, min(self._pos + n, self._size)
        if start >= end:
            return b""
        held = self._size - len(self._tail)
        if start < held:
            lo, hi = ((0, self._size) if self._whole
                      else (start, min(end, held)))
            at, body = _ranged_get(self._session, self._url, lo, hi,
                                   self._size)
            fetched = body[lo - at:hi - at]
            if at + len(body) == self._size and not self._tail:
                self._tail = body  # the whole file, or the footer probe
            held = self._size - len(self._tail)
        if start >= held:
            data = self._tail[start - held:end - held]
        else:
            data = fetched + self._tail[:max(0, end - held)]
        self._pos = start + len(data)
        return data

    def size(self) -> int:
        return self._size


# delta reader features this scan layer actually honors: deletion vectors
# are APPLIED (sources/dv.py), column mapping is TRANSLATED (the scan
# runs in physicalName space and renames back to logical — flat schemas;
# nested renames refuse loudly), type widening READS WIDE (files written
# before a column was widened decode under the current logical type:
# the local strategy via Spark 4's vectorized-reader widening, the
# fetch strategies via the per-column Arrow cast both paths already
# apply — every Delta-spec widening byte/short/int→int/long/double/
# decimal, long→decimal, float→double, decimal→wider, date→timestampNTZ
# is covered by tests), timestampNtz maps through the schema layer, and
# v2Checkpoint/vacuumProtocolCheck do not affect a file-listing-based
# read (the SERVER resolves the log).
# variantType is honored on the LOCAL strategy only (Spark 4 reads the
# parquet VARIANT logical type natively); the ranged-HTTP/mapInArrow
# strategies decode through pyarrow, which does not yet recognize that
# logical type — those scans refuse at plan time with a clear error
# instead of an obscure task-side Thrift failure. variantShredding is
# NOT accepted: shredded files change the physical layout.
_SUPPORTED_READER_FEATURES = frozenset(
    {"deletionvectors", "columnmapping", "typewidening", "typewidening-preview",
     "timestampntz", "v2checkpoint", "vacuumprotocolcheck",
     "varianttype", "varianttype-preview"})


def _has_variant(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.VariantType):
        return True
    if isinstance(dtype, T.StructType):
        return any(_has_variant(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _has_variant(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return _has_variant(dtype.keyType) or _has_variant(dtype.valueType)
    return False


def _local_path(url: str) -> str:
    """``file:`` URL -> decoded filesystem path; bare paths pass through.

    file: URLs carry %xx escapes per RFC 8089 (a path with spaces arrives
    as ``file:///a%20b``); the filesystem wants the decoded form. Bare
    paths are already literal and must NOT be unquoted (a literal '%40'
    directory is rare but legal) — but they ARE absolutized: the result
    is used as a file-identity JOIN key against Spark's
    ``_metadata.file_path`` / ``input_file_name`` (always absolute), so
    a relative listing path would match nothing and silently drop every
    row (or resurrect DV-deleted ones) instead of erroring."""
    import os
    from urllib.parse import unquote

    if not url.startswith("file:"):
        return os.path.abspath(url)
    return unquote(urlparse(url).path)


def _open_parquet(url: str, size: int, session, whole: bool, refresh):
    """Open one shared parquet file for both scan kernels.

    Local paths open directly; http(s) URLs go through a
    :class:`_RangedHttpFile` (``whole``: the file arrives in one GET —
    see ``_fetch_batches_task`` for when). On 401/403 — an expired
    presigned URL — ``refresh()`` supplies a fresh file action (or None to
    give up) and the file reopens from its URL."""
    import pyarrow.parquet as pq
    import requests

    def open_(u: str, s: int):
        scheme = urlparse(u).scheme
        if scheme in ("", "file"):
            return pq.ParquetFile(_local_path(u))
        if scheme not in ("http", "https"):
            raise DeltaSharingError(
                f"unsupported file URL scheme {scheme!r} in {u}")
        # pre_buffer coalesces a projected read's column-chunk ranges
        # into few GETs (on a real object store the round trips, not
        # the bytes, dominate small-file cost); that matters only for a
        # file too large to read whole. A whole-file read (every data
        # column, or a file of at most twice _COALESCE_BYTES) is in
        # memory after its one GET, so buffering it again would only
        # copy it
        return pq.ParquetFile(
            _RangedHttpFile(u, s, session=session, whole=whole),
            pre_buffer=not whole)

    try:
        return open_(url, size)
    except requests.HTTPError as exc:
        # ONLY auth failures mean an expired presigned URL; anything
        # else (corrupt footer, 404, scheme errors) must surface as
        # itself, not be masked by a pointless re-listing
        status = exc.response.status_code if exc.response is not None else None
        fresh = refresh() if status in (401, 403) else None
        if fresh is None:
            raise
        return open_(fresh.url, fresh.size)


def _fetch_batches_task(
    descriptor_batches: Iterable["pyarrow.RecordBatch"],  # noqa: F821
    full_schema_json: str,
    partition_columns: Sequence[str],
    columns: Sequence[str] | None,
    profile_doc: str | None,
    table_fqn: str | None,
    refresh_spec_json: str | None = None,
) -> Iterator["pyarrow.RecordBatch"]:  # noqa: F821
    """mapInArrow worker: file descriptors in, table record batches out.

    Runs on executors. Streams parquet row groups and appends typed
    partition columns per file (A20). A projection covering every data
    column fetches each file in one GET, as does any projection decoding a
    data column of a file of at most twice ``_COALESCE_BYTES``; otherwise
    the footer and the projected column chunks are fetched (see
    ``_RangedHttpFile``). Before its first file the task plans the GETs of
    all its on-file deletion vectors (see ``DvReads``). One ``requests``
    session serves the whole task. On an expired presigned
    URL (HTTP 403), re-lists the table once via a fresh client to obtain a
    fresh URL for the same file id (File.expirationTimestamp handling —
    the reference does not survive expiry; we do).
    """
    import pyarrow as pa
    import requests

    from pyspark.sql import types as ST

    from datafusion_delta_sharing_spark.sources.schema import (
        decode_partition_values as _decode,
    )
    from datafusion_delta_sharing_spark.sources.dv import (
        DvReads as _DvReads,
        dv_identity_changed as _dv_identity_changed,
        dv_positions as _dv_positions,
        positions_mask as _positions_mask,
    )
    from datafusion_delta_sharing_spark.sources.reader import (
        _COALESCE_BYTES,
        _open_parquet,
        _spark_struct_to_arrow_schema,
    )

    full_schema = ST.StructType.fromJson(json.loads(full_schema_json))
    out_names = list(columns) if columns else [f.name for f in full_schema.fields]
    out_fields = {f.name: f for f in full_schema.fields}
    arrow_out = _spark_struct_to_arrow_schema(
        ST.StructType([out_fields[n] for n in out_names])
    )
    data_cols = [n for n in out_names if n not in partition_columns]
    part_cols = [n for n in out_names if n in partition_columns]
    # a projection covering every data column decodes the whole file
    all_data = bool(data_cols) and set(data_cols) == {
        f.name for f in full_schema.fields
        if f.name not in partition_columns}
    session = requests.Session()
    rows = [row for batch in descriptor_batches for row in batch.to_pylist()]
    dv_docs = [json.loads(row["deletion_vector"])
               if row.get("deletion_vector") else None for row in rows]
    dv_reads = _DvReads(filter(None, dv_docs), session)

    fresh_actions: dict | None = None

    def refreshed_action(file_id: str):
        """Fresh FileAction for ``file_id`` via ONE re-list per task
        (cached — pre-r5 each expired file triggered its own full,
        un-hinted listing, and a file whose DV and data URLs both
        expired triggered two). The re-list honors the read's snapshot
        pin (version/timestamp) — an unpinned re-list would splice a
        NEWER snapshot's URLs and deletion vectors into a time-traveled
        scan. CDF file groups re-resolve through /changes for their own
        commit version: remove/cdc files never appear in a snapshot
        listing, so the snapshot path could not recover them at all."""
        nonlocal fresh_actions
        if not profile_doc or not table_fqn:
            return None
        if fresh_actions is None:
            from datafusion_delta_sharing_spark.client import DeltaSharingClient as C
            from datafusion_delta_sharing_spark.profile import Profile as P
            from datafusion_delta_sharing_spark.securable import Table as Tb

            client = C(P.from_json(profile_doc))
            tb = Tb.from_str(table_fqn)
            spec = (json.loads(refresh_spec_json)
                    if refresh_spec_json else {})
            changes_version = spec.get("changes_version")
            if changes_version is not None:
                ch = client.get_table_changes(
                    tb, starting_version=changes_version,
                    ending_version=changes_version)
                fresh_actions = {f.id: f for _, f in ch.actions}
            else:
                data = client.get_table_data(
                    tb, version=spec.get("version"),
                    timestamp=spec.get("timestamp"))
                fresh_actions = {f.id: f for f in data.files}
        return fresh_actions.get(file_id)

    def dv_deleted(descriptor: dict, file_id: str):
        try:
            return _dv_positions(descriptor, session=session,
                                 reads=dv_reads)
        except requests.HTTPError as exc:
            status = (exc.response.status_code
                      if exc.response is not None else None)
            if status not in (401, 403):
                raise
            fresh = refreshed_action(file_id)
            if fresh is None:
                raise
            fresh_dv = fresh.deletion_vector
            if _dv_identity_changed(fresh_dv, descriptor):
                # only possible on an UNPINNED refresh: the table's DV
                # changed between listing and scan — silently using the
                # new one would tear the snapshot (other files already
                # scanned under the old state). Refuse; re-running the
                # read gets a consistent snapshot
                raise DeltaSharingError(
                    f"deletion vector of file {file_id!r} changed "
                    "between listing and scan; re-run the read for a "
                    "consistent snapshot") from exc
            return _dv_positions(fresh_dv, session=session)

    for row, dv_doc in zip(rows, dv_docs):
        url, size, file_id = row["url"], row["size"], row["file_id"]
        partition_values = json.loads(row["partition_values"])
        deleted = dv_deleted(dv_doc, file_id) if dv_doc else None
        # a small file decoding any data column is read whole: every
        # byte outside the footer probe lies within one gap of it
        whole = all_data or (bool(data_cols)
                             and size <= 2 * _COALESCE_BYTES)
        reader = _open_parquet(url, size, session, whole,
                               lambda: refreshed_action(file_id))
        decoded = _decode(partition_values, full_schema, part_cols)
        file_row = 0  # physical row position within THIS file
        if not data_cols:
            # projection is partition columns only (r9 review):
            # row counts come from the row-group METADATA — the old
            # `columns=data_cols or None` fallback read EVERY data
            # column of every file just to learn batch lengths,
            # turning a metadata-sized scan into a full download on
            # a wide table. DV masks still apply per row group.
            md = reader.metadata
            for gi in range(md.num_row_groups):
                nrows = md.row_group(gi).num_rows
                if deleted is not None:
                    mask = _positions_mask(deleted, file_row, nrows)
                    file_row += nrows
                    n = sum(mask) if mask is not None else nrows
                else:
                    n = nrows
                if n == 0:
                    continue
                arrays = [pa.repeat(pa.scalar(
                    decoded[name], type=arrow_out.field(name).type), n)
                    for name in out_names]
                yield pa.RecordBatch.from_arrays(arrays,
                                                 schema=arrow_out)
            continue
        for data in reader.iter_batches(columns=data_cols or None):
            if deleted is not None:
                mask = _positions_mask(deleted, file_row, data.num_rows)
                file_row += data.num_rows
                if mask is not None:
                    data = data.filter(pa.array(mask))
                    if data.num_rows == 0:
                        continue
            n = data.num_rows
            arrays = []
            for name in out_names:
                if name in partition_columns:
                    arrays.append(pa.repeat(pa.scalar(
                        decoded[name], type=arrow_out.field(name).type),
                        n))
                else:
                    idx = data.schema.get_field_index(name)
                    if idx < 0:
                        # schema evolution: pre-add files lack the
                        # column — NULL per Delta semantics; raw -1
                        # would silently alias the LAST column
                        arrays.append(
                            pa.nulls(n, arrow_out.field(name).type))
                    else:
                        arrays.append(data.column(idx).cast(
                            arrow_out.field(name).type))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_out)


def _spark_struct_to_arrow_schema(struct: T.StructType):
    """Spark StructType -> pyarrow schema (for mapInArrow output batches)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct)


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

    def __init__(self, spark: SparkSession, client: DeltaSharingClient,
                 bytes_per_task: int = _DEFAULT_BYTES_PER_TASK,
                 use_stats_pruning: bool = True):
        self.spark = spark
        self.client = client
        self.bytes_per_task = bytes_per_task
        self.use_stats_pruning = use_stats_pruning

    # -- bootstrap (A33) ---------------------------------------------------

    @classmethod
    def from_connection_string(cls, spark: SparkSession, conn: str,
                               on_expired: str = "reject",
                               **kwargs) -> tuple["DeltaSharingReader", Table]:
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
        return cls(spark, client, **kwargs), Table.from_str(fqn)

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
        servers translate): both are normalized to LOGICAL names here,
        mirroring the scan path's physical normalization."""
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
        files = list(data.files)
        from datafusion_delta_sharing_spark.sources.schema import (
            ambiguous_mapping_names,
            column_mapping_of,
        )

        # the shared validated entry point (r9 review: this path used to
        # skip the mode check and crashed with a raw AttributeError when
        # the schema carried no physicalName metadata)
        mapping = column_mapping_of(metadata, schema)
        if mapping:
            ambiguous = ambiguous_mapping_names(mapping)
            clash = sorted({k for f in files if f.partition_values
                            for k in f.partition_values if k in ambiguous})
            if clash:
                raise DeltaSharingError(
                    "column-mapping renames make partition-value key(s) "
                    f"{clash} ambiguous (one column's logical name is "
                    "another's physical name); ask the provider for a "
                    "parquet-format share")
            to_logical = {p: l for l, p in mapping.items()}
            files = [
                _dataclasses.replace(f, partition_values={
                    to_logical.get(k, k): v
                    for k, v in f.partition_values.items()})
                if f.partition_values else f
                for f in files]
        counts: dict[tuple, int] = {}
        for f in files:
            decoded = decode_partition_values(
                f.partition_values, schema, part_cols)
            key = tuple(decoded[c] for c in part_cols)
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
        metadata = data.metadata
        if metadata.format_provider.lower() != "parquet":
            raise DeltaSharingError(
                f"unsupported file format {metadata.format_provider!r}; "
                "the protocol serves parquet"
            )
        unsupported = [f for f in data.protocol.reader_features
                       if f.lower() not in _SUPPORTED_READER_FEATURES]
        if unsupported:
            # a required reader feature this client cannot honor means
            # plain-parquet decoding may return wrong rows (the same
            # failure class as unapplied deletion vectors) — refuse
            # loudly rather than scan anyway
            raise DeltaSharingError(
                f"table requires reader features {sorted(unsupported)} "
                "this client does not implement; supported: "
                f"{sorted(_SUPPORTED_READER_FEATURES)}")
        full_schema = schema_from_string(metadata.schema_string)
        partition_columns = list(metadata.partition_columns)
        files = list(data.files)

        # Column mapping ('name'/'id' modes) TRANSLATED, beyond the
        # reference class (which ignores the metadata and reads all-NULL
        # columns): the physical parquet columns are named by each
        # field's delta.columnMapping.physicalName — Delta writes
        # physicalName for both modes and the parquet column names equal
        # it, so one rename rule serves both. The scan below runs
        # entirely in PHYSICAL names (schema, partition columns,
        # partition-value keys, projection, stats matching); the result
        # renames back to logical in one final projection. Nested-field
        # renames are refused by column_mapping() — a flat select-alias
        # cannot rename inside a struct.
        cm_mode = metadata.configuration.get("delta.columnMapping.mode")
        pruning_op = predicate_op
        rename_back: list[tuple[str, str]] | None = None
        if cm_mode and cm_mode != "none":
            from datafusion_delta_sharing_spark.sources.schema import (
                ambiguous_mapping_names,
                column_mapping_of,
            )

            mapping = column_mapping_of(metadata, full_schema)
            ambiguous = ambiguous_mapping_names(mapping)
            logical_fields = [f.name for f in full_schema.fields]
            if columns:
                unknown = [c for c in columns if c not in logical_fields]
                if unknown:
                    raise DeltaSharingError(
                        f"unknown column(s) in projection: {unknown}")
            full_schema = to_physical_schema(full_schema, mapping)
            partition_columns = [mapping.get(c, c)
                                 for c in partition_columns]
            # partition-value keys arrive LOGICAL from parquet-format
            # responses (the server translates) and PHYSICAL from raw
            # delta-format add actions — normalize both spellings to
            # physical so the decode below needs one key space. A key in
            # the AMBIGUOUS set (one column's logical name = another's
            # physical, the rename-swap shape) cannot be attributed to
            # either spelling — refuse instead of silently misrouting a
            # partition value (r9 review)
            import dataclasses as _dc
            if ambiguous:
                clash = sorted({k for f in files if f.partition_values
                                for k in f.partition_values
                                if k in ambiguous})
                if clash:
                    raise DeltaSharingError(
                        "column-mapping renames make partition-value "
                        f"key(s) {clash} ambiguous (the name is one "
                        "column's logical name and another's physical "
                        "name); ask the provider for a parquet-format "
                        "share (keys pre-translated server-side)")
            files = [
                _dc.replace(f, partition_values={
                    mapping.get(k, k): v
                    for k, v in f.partition_values.items()})
                if f.partition_values else f
                for f in files]
            out_logical = list(columns) if columns else logical_fields
            columns = ([mapping.get(c, c) for c in columns]
                       if columns else None)
            rename_back = [(mapping.get(c, c), c) for c in out_logical]
            # stats keys are physical in delta-format responses and
            # logical in parquet-format ones; matching under BOTH
            # spellings is sound because the wrong spelling finds no
            # stats and may_match degrades to "cannot exclude" — UNLESS
            # the namespaces alias (rename-swap): then the "wrong"
            # spelling can find a DIFFERENT column's stats and wrongly
            # exclude a file. Disable stats pruning there; the residual
            # filter (always applied) keeps results correct (r9 review)
            if predicate_op is not None and ambiguous:
                pruning_op = None  # disables the stats-pruning block
            elif predicate_op is not None:
                pruning_op = predicate_op.rename_columns(mapping)

        # deletion vectors are APPLIED (soft-deleted rows anti-filtered by
        # position, sources/dv.py — beyond the reference, which drops the
        # deletionVector field and would resurrect deleted rows). Validate
        # resolvability up front: unsupported storage types ('u', unknown)
        # still fail loudly at plan time, never as a mid-scan task error.
        for f in files:
            if f.deletion_vector:
                validate_dv_descriptor(f.deletion_vector, data_url=f.url)

        if self.use_stats_pruning and pruning_op is not None:
            # two exact per-file stat sources: the server's stats JSON and
            # synthetic stats from the partition values (min = max =
            # value; a server that ignores jsonPredicateHints returns
            # every partition, and without this the client fetches files
            # the predicate can never match). Under column mapping, match
            # under BOTH the logical and the physical spelling
            # (pruning_op): the wrong spelling finds no stats and cannot
            # exclude, so the conjunction is sound in either key space —
            # except rename-swap tables, where the spellings ALIAS other
            # columns' stats; pruning_op is None there (pruning skipped
            # entirely, the residual filter keeps results exact)
            ops = [predicate_op]
            if pruning_op is not predicate_op:
                ops.append(pruning_op)
            files = [f for f in files
                     if all(may_match(op, st) for op in ops
                            for st in (f.parsed_stats(),
                                       partition_value_stats(
                                           f.partition_values)))]

        if limit is not None and predicate_op is None and self.use_stats_pruning:
            # beyond the reference's limitHint: stop listing files once
            # stats-known record counts cover the limit (caller guarantees
            # no predicate applies — see table())
            files = prune_for_limit(files, limit)

        if columns:
            unknown = [c for c in columns if c not in full_schema.fieldNames()]
            if unknown:
                raise DeltaSharingError(f"unknown column(s) in projection: {unknown}")

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
                          refresh_spec: dict | None = None) -> DataFrame:
        """The scale path: parallelize the descriptor list, fetch + decode on
        executors via mapInArrow, one task per ~bytes_per_task of parquet."""
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
            # distribution. (A single file larger than bytes_per_task
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
                             (total_bytes + self.bytes_per_task - 1)
                             // self.bytes_per_task))
        desc_df = (self.spark.createDataFrame(descriptors, desc_schema)
                   .repartition(int(n_tasks)))

        # the profile serializes ITSELF (Profile.to_doc round-trips via
        # from_json): a hand-built v1 doc here crashed every non-bearer
        # profile type on the executor fetch path (OAuth had no
        # .bearer_token) — found when connector_oauth first drove the
        # credentials-v2 grant through mapInArrow
        profile_doc = json.dumps(self.client.profile.to_doc())
        fqn = table.full_name()
        full_json = full_schema.json()
        cols = list(columns) if columns else None
        pcols = list(partition_columns)
        spec_json = (json.dumps({k: v for k, v in refresh_spec.items()
                                 if v is not None})
                     if refresh_spec else None)

        def fetch(batches):
            return _fetch_batches_task(
                batches, full_json, pcols, cols, profile_doc, fqn,
                spec_json,
            )

        return desc_df.mapInArrow(fetch, out_schema)
