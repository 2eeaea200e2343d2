"""The one scan path behind every read entry point.

Counterpart of the reference's ``DeltaSharingTable::scan``
(``src/datasource/table.rs:174-196``) and its ``ParquetExec`` wrapper
(``src/datasource/scan.rs:50-157``) over the presigned-URL reader
(``src/datasource/reader.rs``). ``DeltaSharingReader.table`` /
``table_changes`` (mapInArrow), ``format("deltasharing")`` batch reads, the
snapshot stream and the CDF stream all go through the same three functions:

* :func:`plan_files` (driver): the checks a listing must pass before any
  task is scheduled, and stats pruning;
* :func:`read_files` (executor): file tasks in, Arrow record batches out;
* :func:`relist` (executor): one re-list per task when a presigned URL
  expired mid-scan.

Below them sits the HTTP layer (A3): :func:`_ranged_get` is the one GET of
parquet and deletion-vector bytes alike, and :class:`_RangedHttpFile` fetches
each byte of a file at most once. Two ranges of one object within
``_COALESCE_BYTES`` (pyarrow's 64 KiB footer probe) of each other are one
GET: a read of every data column, or a projected read of a file of at most
128 KiB, is one GET of the whole file; a projected read of a larger file
holds the footer-tail GET and fetches only the projected column chunks
outside it; and a task's deletion vectors in one shared DV file coalesce
(``dv.DvReads``).
"""

from __future__ import annotations

import dataclasses
import io
from typing import Any, Callable, Iterable, Iterator, Sequence
from urllib.parse import urlparse

from pyspark.sql import types as T

from datafusion_delta_sharing_spark.client import FileAction, TableData
from datafusion_delta_sharing_spark.errors import DeltaSharingError
from datafusion_delta_sharing_spark.plans.predicates import Op
from datafusion_delta_sharing_spark.plans.pruning import (
    may_match,
    partition_value_stats,
)
# the module, not its functions: a traced run wraps dv.dv_positions after
# this module is imported, and the kernel must call the wrapped one
from datafusion_delta_sharing_spark.sources import dv
from datafusion_delta_sharing_spark.sources.schema import (
    ambiguous_mapping_names,
    column_mapping_of,
    to_physical_schema,
)

# ---------------------------------------------------------------------------
# Planning (driver side)
# ---------------------------------------------------------------------------

# delta reader features this scan layer actually honors: deletion vectors
# are APPLIED (sources/dv.py), column mapping is TRANSLATED (the scan
# runs in physicalName space and renames back to logical — flat schemas;
# nested renames refuse loudly), type widening READS WIDE (files written
# before a column was widened decode under the current logical type:
# the local strategy via Spark 4's vectorized-reader widening, the
# fetch strategies via the per-column Arrow cast of read_files — every
# Delta-spec widening byte/short/int→int/long/double/decimal,
# long→decimal, float→double, decimal→wider, date→timestampNTZ is
# covered by tests), timestampNtz maps through the schema layer, and
# v2Checkpoint/vacuumProtocolCheck do not affect a file-listing-based
# read (the SERVER resolves the log).
# variantType is honored on the LOCAL strategy only (Spark 4 reads the
# parquet VARIANT logical type natively); read_files decodes through
# pyarrow, which does not yet recognize that logical type — those scans
# refuse at plan time with a clear error (_has_variant, at the call
# sites) instead of an obscure task-side Thrift failure.
# variantShredding is NOT accepted: shredded files change the physical
# layout.
_SUPPORTED_READER_FEATURES = frozenset(
    {"deletionvectors", "columnmapping", "typewidening", "typewidening-preview",
     "timestampntz", "v2checkpoint", "vacuumprotocolcheck",
     "varianttype", "varianttype-preview"})


@dataclasses.dataclass(frozen=True)
class ScanPlan:
    """The files a read must fetch, in PHYSICAL names: under column mapping
    the schema, the partition columns and every file's partition-value
    keys are spelled as the parquet files spell them, and ``mapping``
    (logical -> physical) renames them back; without it, ``mapping`` is
    None and physical is logical."""

    files: list[FileAction]
    schema: T.StructType
    partition_columns: list[str]
    mapping: dict[str, str] | None


def plan_files(data: TableData, schema: T.StructType,
               predicate_op: Op | None) -> ScanPlan:
    """Check a listing and prune it with ``predicate_op`` (logical names).

    Refuses, with :class:`DeltaSharingError`: a non-parquet format; a
    required reader feature this client cannot honor (plain-parquet
    decoding may return wrong rows, the same failure class as unapplied
    deletion vectors); an invalid column mapping or an ambiguous
    partition key (:func:`physical_partition_keys`); and any listed
    file's deletion vector that executors could never resolve — all
    before pruning, so every entry point refuses the same listings."""
    metadata = data.metadata
    if metadata.format_provider.lower() != "parquet":
        raise DeltaSharingError(
            f"unsupported file format {metadata.format_provider!r}; "
            "the protocol serves parquet")
    unsupported = [f for f in data.protocol.reader_features
                   if f.lower() not in _SUPPORTED_READER_FEATURES]
    if unsupported:
        raise DeltaSharingError(
            f"table requires reader features {sorted(unsupported)} "
            "this client does not implement; supported: "
            f"{sorted(_SUPPORTED_READER_FEATURES)}")
    mapping = column_mapping_of(metadata, schema)
    files, ambiguous = physical_partition_keys(data.files, mapping)
    for f in files:
        if f.deletion_vector:
            dv.validate_descriptor(f.deletion_vector, data_url=f.url)
    if predicate_op is not None and not ambiguous:
        # two exact per-file stat sources: the server's stats JSON and
        # synthetic stats from the partition values (min = max = value; a
        # server that ignores jsonPredicateHints returns every partition).
        # Stats keys are physical in delta-format responses and logical in
        # parquet-format ones, so under column mapping a file must match
        # under BOTH spellings: the wrong one finds no stats and cannot
        # exclude. Rename-swap tables skip pruning, because there the
        # wrong spelling can find ANOTHER column's stats; the residual
        # filter every entry point keeps makes the rows exact either way
        ops = [predicate_op] + (
            [predicate_op.rename_columns(mapping)] if mapping else [])
        files = [f for f in files
                 if all(may_match(op, st) for op in ops
                        for st in (f.parsed_stats(),
                                   partition_value_stats(f.partition_values)))]
    mapping_or_id = mapping or {}
    return ScanPlan(files, to_physical_schema(schema, mapping_or_id),
                    [mapping_or_id.get(c, c)
                     for c in metadata.partition_columns],
                    mapping)


def physical_partition_keys(files: Iterable[FileAction],
                            mapping: dict[str, str] | None,
                            ) -> tuple[list[FileAction], bool]:
    """``files`` with their partition-value keys spelled physically, and
    whether ``mapping`` has names that are one column's logical name and
    another's physical name (rename-swap tables).

    Keys arrive LOGICAL from parquet-format responses (the server
    translates) and PHYSICAL from raw delta-format add actions. A key in
    the ambiguous set cannot be attributed to either spelling, so it is
    refused instead of silently misrouting a partition value."""
    files = list(files)
    if not mapping:
        return files, False
    ambiguous = ambiguous_mapping_names(mapping)
    clash = sorted({k for f in files for k in f.partition_values
                    if k in ambiguous})
    if clash:
        raise DeltaSharingError(
            f"column-mapping renames make partition-value key(s) {clash} "
            "ambiguous (the name is one column's logical name and another's "
            "physical name); ask the provider for a parquet-format share "
            "(keys pre-translated server-side)")
    return [dataclasses.replace(f, partition_values={
                mapping.get(k, k): v for k, v in f.partition_values.items()})
            if f.partition_values else f for f in files], bool(ambiguous)


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

    The one GET of the scan, for parquet and deletion-vector bytes alike.
    Transient faults (5xx, dropped connections) retry with backoff; any
    other 4xx propagates, so the caller can re-list on an expired
    presigned URL (401/403). A server that ignores ``Range`` answers 200
    with the whole object, which comes back whole (``start`` 0) for the
    caller to hold. A 416, or a 206 body that is not the requested length,
    raises :class:`DeltaSharingError`: the object is shorter than its
    listing, and decoding short bytes yields wrong rows. ``size`` (the
    listed object size, when known) is checked against a 200 body too.
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
            if (_status(exc) or 0) < 500:
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


def _status(exc) -> int | None:
    return exc.response.status_code if exc.response is not None else None


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


def _open_parquet(url: str, size: int, session, whole: bool,
                  refresh: Callable[[], FileAction]):
    """Open one shared parquet file.

    Local paths open directly; http(s) URLs go through a
    :class:`_RangedHttpFile` (``whole``: the file arrives in one GET —
    see :func:`read_files` for when). On 401/403 — an expired presigned
    URL — ``refresh()`` supplies a fresh file action and the file reopens
    from its URL."""
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
        if _status(exc) not in (401, 403):
            raise
        fresh = refresh()
        return open_(fresh.url, fresh.size)


# ---------------------------------------------------------------------------
# The read kernel (executor side)
# ---------------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class FileTask:
    """One shared file to read. ``constants`` are the typed per-file output
    columns: the decoded partition values and, for change-feed files,
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``."""

    url: str
    size: int
    file_id: str
    constants: dict[str, Any]
    deletion_vector: dict | None = None


def read_files(tasks: Iterable[FileTask], schema: T.StructType,
               columns: Sequence[str] | None, file_names: dict[str, str],
               relist: Callable[[], dict[str, FileAction]],
               ) -> Iterator["pyarrow.RecordBatch"]:  # noqa: F821
    """The files of one Spark task as record batches of ``columns`` of
    ``schema`` (all of its fields when None), in that order.

    A column in a task's ``constants`` is emitted with ``pa.repeat``; any
    other is decoded from the parquet column ``file_names.get(name,
    name)`` and cast to the schema's type, or NULL for a file written
    before the column was added (Delta semantics). A projection of
    constants only reads row counts from the footer and never fetches a
    column chunk. A read of every data column, or of any data column of a
    file of at most twice ``_COALESCE_BYTES``, is one whole-file GET;
    otherwise the footer and the projected column chunks are fetched (see
    :class:`_RangedHttpFile`). One ``requests`` session serves the task,
    and before its first file the task plans the GETs of all its on-file
    deletion vectors (``dv.DvReads``), whose rows it drops by position.

    On an expired presigned URL (401/403) of a data or DV file, ``relist``
    is called once for the task (File.expirationTimestamp handling — the
    reference does not survive expiry; we do). A file it no longer lists,
    or whose deletion vector changed, raises :class:`DeltaSharingError`.
    """
    import pyarrow as pa
    import requests
    from pyspark.sql.pandas.types import to_arrow_schema

    tasks = list(tasks)
    fields = [schema[c] for c in columns] if columns else schema.fields
    arrow_out = to_arrow_schema(T.StructType(fields))
    session = requests.Session()
    dv_reads = dv.DvReads([t.deletion_vector for t in tasks
                           if t.deletion_vector], session)
    relisted: list[dict[str, FileAction]] = []  # at most one per task

    def fresh_action(file_id: str) -> FileAction:
        if not relisted:
            relisted.append(relist())
        action = relisted[0].get(file_id)
        if action is None:
            raise DeltaSharingError(
                f"file {file_id!r} is no longer listed by the share "
                "(expired or vacuumed) after its presigned URL expired; "
                "re-run the read")
        return action

    def deleted_positions(task: FileTask):
        try:
            return dv.dv_positions(task.deletion_vector, session=session,
                                   reads=dv_reads)
        except requests.HTTPError as exc:
            if _status(exc) not in (401, 403):
                raise
            fresh_dv = fresh_action(task.file_id).deletion_vector
            if dv.dv_identity_changed(fresh_dv, task.deletion_vector):
                # an unpinned re-list (or a stream replay) sees a table
                # that gained or lost deletes since the listing: using the
                # new DV would tear the snapshot or change a replayed
                # micro-batch's rows
                raise DeltaSharingError(
                    f"deletion vector of file {task.file_id!r} changed "
                    f"between listing and scan (listed "
                    f"{task.deletion_vector!r}, now {fresh_dv!r}); re-run "
                    "the read for a consistent snapshot") from exc
            return dv.dv_positions(fresh_dv, session=session)

    for task in tasks:
        data_cols = [f.name for f in fields if f.name not in task.constants]
        all_data = set(data_cols) == {
            f.name for f in schema.fields if f.name not in task.constants}
        whole = bool(data_cols) and (
            all_data or task.size <= 2 * _COALESCE_BYTES)
        deleted = deleted_positions(task) if task.deletion_vector else None
        reader = _open_parquet(task.url, task.size, session, whole,
                               lambda: fresh_action(task.file_id))
        if data_cols:
            parts = ((b.num_rows, b) for b in reader.iter_batches(
                columns=[file_names.get(c, c) for c in data_cols]))
        else:
            md = reader.metadata
            parts = ((md.row_group(i).num_rows, None)
                     for i in range(md.num_row_groups))
        file_row = 0  # physical row position within THIS file
        for n, batch in parts:
            if deleted is not None:
                mask = dv.positions_mask(deleted, file_row, n)
                file_row += n
                if mask is not None:
                    n = int(mask.sum())
                    if batch is not None:
                        batch = batch.filter(pa.array(mask))
            if n == 0:
                continue
            arrays = []
            for field in arrow_out:
                if field.name in task.constants:
                    arrays.append(pa.repeat(pa.scalar(
                        task.constants[field.name], type=field.type), n))
                    continue
                idx = batch.schema.get_field_index(
                    file_names.get(field.name, field.name))
                # -1 would silently alias the LAST column
                arrays.append(pa.nulls(n, field.type) if idx < 0
                              else batch.column(idx).cast(field.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_out)


def relist(profile_doc: str, table_fqn: str,
           spec: dict) -> dict[str, FileAction]:
    """Fresh file actions by id, for a task whose presigned URLs expired.

    ``spec`` pins the re-list to what the read listed: ``{"version",
    "timestamp"}`` re-queries that snapshot (an unpinned re-list would
    splice a NEWER snapshot's URLs and deletion vectors into a
    time-traveled scan), and ``{"changes_version"}`` re-resolves a
    change-feed file through ``/changes`` for its own commit (remove and
    cdc files never appear in a snapshot listing)."""
    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.profile import Profile
    from datafusion_delta_sharing_spark.securable import Table

    client = DeltaSharingClient(Profile.from_json(profile_doc))
    table = Table.from_str(table_fqn)
    version = spec.get("changes_version")
    if version is not None:
        changes = client.get_table_changes(
            table, starting_version=version, ending_version=version)
        return {f.id: f for _, f in changes.actions}
    data = client.get_table_data(table, version=spec.get("version"),
                                 timestamp=spec.get("timestamp"))
    return {f.id: f for f in data.files}
