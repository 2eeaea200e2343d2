"""The one scan path behind every read entry point.

Counterpart of the reference's ``DeltaSharingTable::scan``
(``src/datasource/table.rs:174-196``) and its ``ParquetExec`` wrapper
(``src/datasource/scan.rs:50-157``) over the presigned-URL reader
(``src/datasource/reader.rs``). ``DeltaSharingReader.table`` and
``table_changes``, ``format("deltasharing")`` batch reads, the snapshot
stream and the CDF stream all go through the same functions:

* :func:`plan_files` (driver): the checks a listing must pass before any
  task is scheduled, stats pruning, and the one :class:`ScanPlan` every
  entry point reads from, in logical names: the files, the schema, the
  partition columns, the parquet column of each data column under column
  mapping, and the files' cache identity;
* :func:`file_tasks` (driver): the one builder of :class:`FileTask` from a
  plan, each file's partition values decoded once while the scan is
  planned, as the reference does (``src/datasource/scan.rs:61-82,159-229``);
* :func:`change_tasks` (driver): the file tasks of a change-feed plan,
  batch or stream, with their change-feed columns, packed across commits;
* :func:`pack_files` (driver): the file groups of every read, batch and
  stream alike, one Spark task each, as the reference runs one partition
  per file group (``src/datasource/scan.rs:77,123-125``);
* :func:`read_files` (executor): file tasks in, Arrow record batches out;
* :func:`relist` (executor): one re-list per task when a presigned URL
  expired mid-scan, pinned by :func:`relist_pin` to the snapshot a batch
  read listed.

Below them sits the HTTP layer (A3): :func:`_ranged_get` is the one GET of
parquet and deletion-vector bytes alike. It sends through the client's one
retry loop and error mapping (``client.send_with_retry`` and
``client.check_response``), as every REST call and the OAuth token grant
do: 429, 5xx and dropped connections retry, and a failure that escapes is
a typed :class:`HttpError` (401/403 is what triggers a re-list) or, when
transport errors use up the retries, a :class:`DeltaSharingError`.

Each byte of a shared data file crosses the wire at most once per
application and executor. Delta data files never change once written, and
the protocol keeps a file's ``id`` across requests and lets a client cache
its content under it, so :func:`read_files` keeps the files it reads whole
in one executor-local file cache (:func:`_cache_open`,
:func:`_cache_fill`), keyed by the profile endpoint, the table, its
``metaData.id``, the file id and the listed size (:func:`file_tasks`): a
second read of a share, through any entry point, opens its files from
local disk. Within one read, two ranges of one object within
``_COALESCE_BYTES`` (pyarrow's 64 KiB footer probe) of each other are one
GET: a read of every data column, or a projected read of a file of at most
128 KiB, is one GET of the whole file; a projected read of a larger file
that is not cached holds the footer-tail GET and fetches only the
projected column chunks outside it (:class:`_RangedHttpFile`); and a
task's deletion vectors in one shared DV file coalesce (``dv.DvReads``).
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime
import functools
import hashlib
import io
import os
import tempfile
from typing import Any, Callable, Iterable, Iterator, Sequence
from urllib.parse import urlparse

from pyspark.sql import types as T

from datafusion_delta_sharing_spark.client import (
    FileAction,
    TableChanges,
    TableData,
    check_response,
    send_with_retry,
)
from datafusion_delta_sharing_spark.errors import DeltaSharingError, HttpError
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
    decode_partition_values,
)

# ---------------------------------------------------------------------------
# Planning (driver side)
# ---------------------------------------------------------------------------

# delta reader features this scan layer actually honors: deletion vectors
# are APPLIED (sources/dv.py), column mapping is TRANSLATED (the plan is
# in logical names and each read maps a data column to its parquet
# column through the plan's file_names — flat schemas; nested renames
# refuse loudly), type widening READS WIDE (files written
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
    """The files a read must fetch, in LOGICAL names: the schema, the
    partition columns (the listing's ``metaData.partitionColumns`` that
    the schema holds) and every file's partition-value keys are spelled as
    the table's readers spell them. ``file_names`` maps a logical column to
    its parquet column under column mapping and is empty without it.
    ``source`` is the files' cache identity (:func:`cache_identity`), or
    None when the plan was made without a client."""

    files: list[FileAction]
    schema: T.StructType
    partition_columns: list[str]
    file_names: dict[str, str]
    source: tuple[str, str, str | None] | None = None


def cache_identity(client, table, table_id: str | None,
                   ) -> tuple[str, str, str | None]:
    """The cache identity of a table's files: ``(profile endpoint,
    "share.schema.table", the listing's metaData.id)``."""
    return (client.profile.endpoint, table.full_name(), table_id)


def plan_files(data: TableData | TableChanges, schema: T.StructType,
               predicate_op: Op | None, client=None, table=None) -> ScanPlan:
    """Check a listing, a snapshot's or a change feed's, and prune it with
    ``predicate_op`` (logical names); with the reading ``client`` and its
    ``table`` the plan carries the files' cache identity.

    Refuses, with :class:`DeltaSharingError`: a non-parquet format; a
    required reader feature this client cannot honor (plain-parquet
    decoding may return wrong rows, the same failure class as unapplied
    deletion vectors); an invalid column mapping or an ambiguous
    partition key (:func:`logical_partition_keys`); and any listed
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
    mapping = column_mapping_of(metadata, schema) or {}
    files, ambiguous = logical_partition_keys(data.files, mapping)
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
    partition_columns = set(metadata.partition_columns)
    return ScanPlan(
        files, schema,
        [f.name for f in schema.fields if f.name in partition_columns],
        mapping,
        None if client is None else cache_identity(client, table,
                                                   metadata.id))


def logical_partition_keys(files: Iterable[FileAction],
                           mapping: dict[str, str],
                           ) -> tuple[list[FileAction], bool]:
    """``files`` with their partition-value keys spelled logically, and
    whether ``mapping`` (logical -> physical) has names that are one
    column's logical name and another's physical name (rename-swap
    tables).

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
    logical = {phys: name for name, phys in mapping.items()}
    return [dataclasses.replace(f, partition_values={
                logical.get(k, k): v for k, v in f.partition_values.items()})
            if f.partition_values else f for f in files], bool(ambiguous)


# the cap of one file group: one Spark task per ~128 MiB of parquet
_BYTES_PER_TASK = 128 * 1024 * 1024


def pack_files(files: Sequence[Any]) -> list[list[Any]]:
    """The file groups of a read, each read by one Spark task; ``files``
    are file actions or file tasks, packed by their ``size``.

    ``max(1, min(#files, ceil(total bytes / _BYTES_PER_TASK)))`` groups,
    dealt largest file first round-robin so the n largest files land in n
    distinct groups; each group keeps listing order. An empty listing is
    one empty group. The same listing always gives the same groups."""
    files = list(files)
    total = sum(f.size for f in files)
    n = max(1, min(len(files), -(-total // _BYTES_PER_TASK)))
    groups: list[list[int]] = [[] for _ in range(n)]
    by_size = sorted(range(len(files)), key=lambda i: (-files[i].size, i))
    for k, i in enumerate(by_size):
        groups[k % n].append(i)
    return [[files[i] for i in sorted(g)] for g in groups]


def relist_pin(data: TableData, version: int | None = None,
               timestamp: str | None = None) -> dict:
    """The :func:`relist` spec of a snapshot read of ``data``: the version
    the listing came from (its Delta-Table-Version header), else the
    ``version`` / ``timestamp`` the read asked for. An unpinned re-list
    would splice a newer snapshot's URLs and deletion vectors into a
    running scan."""
    if data.version is not None:
        return {"version": data.version, "timestamp": None}
    return {"version": version, "timestamp": timestamp}


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

def _ranged_get(session, url: str, lo: int, hi: int,
                size: int | None = None) -> tuple[int, bytes]:
    """Bytes ``[lo, hi)`` of ``url`` in one ``Range`` GET, as ``(start,
    body)`` with ``body[0]`` at object offset ``start``.

    The one GET of the scan, for parquet and deletion-vector bytes alike.
    It goes through the client's request path: 429, 5xx and dropped
    connections retry with backoff (:func:`client.send_with_retry`), and a
    final status >= 400 raises the client's :class:`HttpError` with its
    ``.status`` (:func:`client.check_response`), so the caller can re-list
    on an expired presigned URL (401/403). A server that ignores ``Range``
    answers 200 with the whole object, which comes back whole (``start``
    0) for the caller to hold. A 416, or a 206 body that is not the
    requested length, raises :class:`DeltaSharingError`: the object is
    shorter than its listing, and decoding short bytes yields wrong rows.
    ``size`` (the listed object size, when known) is checked against a 200
    body too.
    """
    listed = ("" if size is None
              else f", which does not match its listed size {size}")
    resp = send_with_retry(lambda: session.get(
        url, headers={"Range": f"bytes={lo}-{hi - 1}"}, timeout=120))
    if resp.status_code == 416:
        raise DeltaSharingError(
            f"{url} cannot serve bytes {lo}-{hi - 1}: the range "
            f"starts past the end of the object{listed}")
    body = check_response(resp).content
    if resp.status_code == 200:
        if size is not None and len(body) != size:
            raise _length_error(url, 0, size, body, resp, listed)
        return 0, body
    if len(body) != hi - lo:
        raise _length_error(url, lo, hi, body, resp, listed)
    return lo, body


def _length_error(url: str, lo: int, hi: int, body: bytes, resp,
                  listed: str) -> DeltaSharingError:
    """A complete response of the wrong length: retrying returns the same
    body, so it fails the read instead."""
    return DeltaSharingError(
        f"GET bytes={lo}-{hi - 1} of {url} returned {len(body)} bytes, "
        f"expected {hi - lo} (HTTP {resp.status_code}, Content-Range "
        f"{resp.headers.get('Content-Range')!r}); the requested range runs "
        f"past the end of the object{listed}")


def _refreshing_get(session, url: str, lo: int, hi: int, size: int,
                    refresh: Callable[[], FileAction] | None,
                    ) -> tuple[str, int, bytes]:
    """:func:`_ranged_get` of bytes ``[lo, hi)`` of a file of listed
    ``size``, as ``(url, start, body)``.

    An :class:`HttpError` 401/403 (the presigned URL expired) calls
    ``refresh()`` for a fresh file action and repeats the GET once from its
    URL, which comes back as ``url`` for the caller's next GET; a fresh
    action whose size differs from the listed one raises
    :class:`DeltaSharingError`, as the file changed under the scan."""
    try:
        return (url, *_ranged_get(session, url, lo, hi, size))
    except HttpError as exc:
        # ONLY auth failures mean an expired presigned URL; anything
        # else (404, a 5xx outlasting the retries) surfaces as itself
        if refresh is None or exc.status not in (401, 403):
            raise
        fresh = refresh()
        if fresh.size != size:
            raise DeltaSharingError(
                f"file {url} changed between listing and scan (listed "
                f"{size} bytes, now {fresh.size}); re-run the read") from exc
    return (fresh.url, *_ranged_get(session, fresh.url, lo, hi, size))


class _RangedHttpFile(io.RawIOBase):
    """Seekable read-only file over HTTP Range requests that fetches each
    byte of the file at most once per open; the executor file cache of
    :func:`read_files` makes that once per application and executor for a
    file read whole.

    The pyarrow parquet reader calls ``seek``/``read`` to load the footer,
    then the projected column chunks. Bytes move through
    :func:`_refreshing_get`, as in the reference's
    ``SignedParquetFileReader::get_range`` (src/datasource/reader.rs:25-49),
    and the GET that ends at EOF (pyarrow's speculative footer tail) is
    held: a later read overlapping it fetches only the bytes before it. A
    200 from a server that ignores ``Range`` is the whole object and is
    held the same way.

    An :class:`HttpError` 401/403 on any GET (the presigned URL expired,
    before the footer or between column chunks) calls ``refresh()`` and
    repeats the GET from the fresh URL (:func:`_refreshing_get`).
    """

    def __init__(self, url: str, size: int, session=None,
                 refresh: Callable[[], FileAction] | None = None):
        import requests

        self._url = url
        self._size = size
        self._refresh = refresh
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
            lo, hi = start, min(end, held)
            self._url, at, body = _refreshing_get(
                self._session, self._url, lo, hi, self._size, self._refresh)
            fetched = body[lo - at:hi - at]
            if at + len(body) == self._size and not self._tail:
                self._tail = body  # the footer probe, or a 200's whole file
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
    from urllib.parse import unquote

    if not url.startswith("file:"):
        return os.path.abspath(url)
    return unquote(urlparse(url).path)


# ---------------------------------------------------------------------------
# The executor file cache
# ---------------------------------------------------------------------------

# the bound of one executor's file cache; the entries used longest ago
# (by mtime) are evicted first
_CACHE_BYTES = 2 * 1024 ** 3


def _cache_root() -> str | None:
    """The executor's file cache directory, under its Spark local
    directory: the ``blockmgr-*`` path a Python worker finds in
    ``SPARK_LOCAL_DIRS`` while it runs a task, which every Python worker
    of the executor shares and Spark deletes when the application stops.
    None outside a Spark task, so a read on the driver caches nothing."""
    from pyspark import TaskContext

    local = os.environ.get("SPARK_LOCAL_DIRS")
    if TaskContext.get() is None or not local:
        return None
    return os.path.join(local.split(",")[0], "deltasharing-files")


def _cache_open(root: str, key: str, size: int):
    """The cached copy of the file ``key``, memory-mapped, or None when it
    is absent (never read, or evicted by another worker) or its length is
    not the listed ``size``. A hit touches the entry's mtime."""
    import pyarrow as pa

    path = os.path.join(root, key)
    try:
        mapped = pa.memory_map(path)
    except OSError:
        return None
    if mapped.size() != size:
        mapped.close()
        return None
    with contextlib.suppress(OSError):
        os.utime(path)
    return mapped


def _cache_fill(root: str, key: str, body: bytes,
                cap: int = _CACHE_BYTES) -> None:
    """Store ``body`` as the entry ``key``: written to a temp file and
    moved into place with ``os.replace``, so a reader never sees a partial
    entry. Then the oldest entries by mtime are evicted until the entries
    hold at most ``cap`` bytes. A body above ``cap`` is not admitted, and
    a failed write (a full disk) only leaves the file uncached."""
    if len(body) > cap:
        return
    tmp = None
    try:
        os.makedirs(root, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=root, prefix=".fill-")
        with os.fdopen(fd, "wb") as fh:
            fh.write(body)
        os.replace(tmp, os.path.join(root, key))
        tmp = None
        entries = []
        with os.scandir(root) as it:
            for entry in it:
                if entry.name.startswith("."):
                    continue  # another worker's fill in flight
                with contextlib.suppress(FileNotFoundError):
                    st = entry.stat()
                    entries.append((st.st_mtime_ns, st.st_size, entry.path))
        total = sum(n for _, n, _ in entries)
        for _, n, path in sorted(entries):
            if total <= cap:
                break
            with contextlib.suppress(FileNotFoundError):
                os.unlink(path)
            total -= n
    except OSError:
        if tmp is not None:
            with contextlib.suppress(OSError):
                os.unlink(tmp)


# ---------------------------------------------------------------------------
# The read kernel (executor side)
# ---------------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class FileTask:
    """One shared file to read. ``constants`` are the typed per-file output
    columns: the decoded partition values and, for change-feed files,
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``.
    ``cache_key`` names the file in the executor file cache of
    :func:`read_files`; a task without one is never cached."""

    url: str
    size: int
    file_id: str
    constants: dict[str, Any]
    deletion_vector: dict | None = None
    cache_key: str | None = None


def file_tasks(plan: ScanPlan,
               constants: Sequence[dict[str, Any]] | None = None,
               ) -> list[FileTask]:
    """The read tasks of the plan's files, built on the driver: the one
    place a :class:`FileTask` is made. Each file's
    partition values are decoded against the plan's schema and partition
    columns (a missing value is NULL), then merged with its entry of
    ``constants``, the per-file output columns of a change feed.

    With the plan's ``source``, its cache identity, each http(s) file gets
    its cache key: a digest of ``source``, the file id and the listed
    size. The protocol keeps a file's id across requests, and the endpoint
    and the table id keep two servers' or two tables' files apart even
    when their names and file ids agree."""
    source = plan.source

    def cache_key(f: FileAction) -> str | None:
        if (source is None or not all(source) or not f.id
                or urlparse(f.url).scheme not in ("http", "https")):
            return None
        return hashlib.sha256("\0".join(
            (*source, f.id, str(f.size))).encode()).hexdigest()

    return [FileTask(f.url, f.size, f.id, {
                **decode_partition_values(f.partition_values, plan.schema,
                                          plan.partition_columns), **extra},
                f.deletion_vector, cache_key(f))
            for f, extra in zip(plan.files,
                                constants or [{}] * len(plan.files),
                                strict=True)]


_EPOCH_UTC = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _change_constants(kind: str, f: FileAction,
                      end_version: int | None) -> dict[str, Any]:
    """The change-feed columns of one action file of a range ending at
    ``end_version``, the commit version of a file that names none. The
    commit timestamp is a UTC-aware datetime, the form of a decoded
    timestamp partition value, so a Spark literal and ``pa.scalar`` give
    the same instant."""
    constants = {
        "_commit_version": f.version if f.version is not None
        else end_version,
        # keep None: a missing commit timestamp must surface as NULL, not
        # a silent 1970 epoch
        "_commit_timestamp": (
            _EPOCH_UTC + datetime.timedelta(milliseconds=f.timestamp)
            if f.timestamp is not None else None)}
    if kind != "cdf":  # a "cdf" file carries its own _change_type
        constants["_change_type"] = "insert" if kind == "add" else "delete"
    return constants


def change_tasks(plan: ScanPlan, kinds: Sequence[str],
                 end_version: int | None,
                 ) -> list[tuple[dict, list[FileTask]]]:
    """The file-task groups of a change-feed read of the plan's files, the
    actions of a range ending at ``end_version`` whose ``kinds`` are
    ``add`` / ``remove`` / ``cdf`` in the same order, each group with its
    :func:`relist` spec.

    Every task carries ``_commit_version`` and ``_commit_timestamp``, and
    an add or remove file the literal ``_change_type`` insert or delete.
    The whole range is packed by :func:`pack_files`, so small commits
    share a group, and a group re-lists through ``/changes`` over the
    versions of its files (remove and cdc files are in no snapshot
    listing). An empty range has no group."""
    tasks = file_tasks(plan, constants=[
        _change_constants(kind, f, end_version)
        for kind, f in zip(kinds, plan.files, strict=True)])
    out = []
    for group in pack_files(tasks) if tasks else []:
        versions = [t.constants["_commit_version"] for t in group
                    if t.constants["_commit_version"] is not None]
        out.append(({"starting_version": min(versions, default=None),
                     "ending_version": max(versions, default=None)}, group))
    return out


def read_files(tasks: Iterable[FileTask], schema: T.StructType,
               columns: Sequence[str] | None, file_names: dict[str, str],
               relist: Callable[[], dict[tuple, FileAction]],
               ) -> Iterator["pyarrow.RecordBatch"]:  # noqa: F821
    """The files of one Spark task as record batches of ``columns`` of
    ``schema`` (all of its fields when None), in that order.

    A column in a task's ``constants`` is emitted with ``pa.repeat``; any
    other is decoded from the parquet column ``file_names.get(name,
    name)`` and cast to the schema's type, or NULL for a file written
    before the column was added (Delta semantics). A projection of
    constants only reads row counts from the footer and never fetches a
    column chunk. One ``requests`` session serves the task, and before its
    first file the task plans the GETs of all its on-file deletion vectors
    (``dv.DvReads``), whose rows it drops by position.

    Inside a Spark task, an http(s) file with a ``cache_key`` is opened
    from the executor file cache (:func:`_cache_root`) when its copy there
    has the listed size. Otherwise a read of every data column, or of any
    data column of a file of at most twice ``_COALESCE_BYTES``, is one
    whole-file GET whose body then fills the cache; any other read fetches
    the footer and the projected column chunks (:class:`_RangedHttpFile`)
    and fills nothing.

    On an expired presigned URL (an :class:`HttpError` 401/403) of a DV
    file or on any GET of a data file, ``relist`` is called once for the
    task (File.expirationTimestamp handling — the reference does not
    survive expiry; we do); it returns fresh actions keyed by ``(file id,
    commit version)``, the version None for a snapshot. A file it no
    longer lists, or whose size or deletion vector changed, raises
    :class:`DeltaSharingError`. Throttled and failed GETs retry in
    :func:`_ranged_get`; any other HTTP failure raises the client's typed
    :class:`HttpError`.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import requests
    from pyspark.sql.pandas.types import to_arrow_schema

    tasks = list(tasks)
    fields = [schema[c] for c in columns] if columns else schema.fields
    arrow_out = to_arrow_schema(T.StructType(fields))
    session = requests.Session()
    cache = _cache_root()
    dv_reads = dv.DvReads([t.deletion_vector for t in tasks
                           if t.deletion_vector], session)
    relisted: list[dict[tuple, FileAction]] = []  # at most one per task

    def fresh_action(task: FileTask) -> FileAction:
        if not relisted:
            relisted.append(relist())
        action = relisted[0].get(
            (task.file_id, task.constants.get("_commit_version")))
        if action is None:
            raise DeltaSharingError(
                f"file {task.file_id!r} is no longer listed by the share "
                "(expired or vacuumed) after its presigned URL expired; "
                "re-run the read")
        return action

    def deleted_positions(task: FileTask):
        try:
            return dv.dv_positions(task.deletion_vector, session=session,
                                   reads=dv_reads)
        except HttpError as exc:
            if exc.status not in (401, 403):
                raise
            fresh_dv = fresh_action(task).deletion_vector
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

    def open_file(task: FileTask, whole: bool):
        scheme = urlparse(task.url).scheme
        if scheme in ("", "file"):
            return pq.ParquetFile(_local_path(task.url))
        if scheme not in ("http", "https"):
            raise DeltaSharingError(
                f"unsupported file URL scheme {scheme!r} in {task.url}")
        key = task.cache_key if cache else None
        cached = _cache_open(cache, key, task.size) if key else None
        if cached is not None:
            return pq.ParquetFile(cached)
        refresh = functools.partial(fresh_action, task)
        if not whole:
            # pre_buffer coalesces a projected read's column-chunk ranges
            # into few GETs (on a real object store the round trips, not
            # the bytes, dominate small-file cost)
            return pq.ParquetFile(
                _RangedHttpFile(task.url, task.size, session, refresh),
                pre_buffer=True)
        _, _, body = _refreshing_get(session, task.url, 0, task.size,
                                     task.size, refresh)
        if key:
            _cache_fill(cache, key, body)
        return pq.ParquetFile(pa.BufferReader(body))

    for task in tasks:
        data_cols = [f.name for f in fields if f.name not in task.constants]
        all_data = set(data_cols) == {
            f.name for f in schema.fields if f.name not in task.constants}
        whole = bool(data_cols) and (
            all_data or task.size <= 2 * _COALESCE_BYTES)
        deleted = deleted_positions(task) if task.deletion_vector else None
        reader = open_file(task, whole)
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
           spec: dict) -> dict[tuple, FileAction]:
    """Fresh file actions by ``(file id, commit version)``, for a task
    whose presigned URLs expired.

    ``spec`` pins the re-list to what the read listed: ``{"version",
    "timestamp"}`` re-queries that snapshot (an unpinned re-list would
    splice a NEWER snapshot's URLs and deletion vectors into a
    time-traveled scan), its files keyed with version None; and
    ``{"starting_version", "ending_version"}`` re-resolves a change-feed
    group through ``/changes`` over its version range (remove and cdc
    files never appear in a snapshot listing), each file keyed with its
    commit version, or ``ending_version`` for one that names none, as
    :func:`change_tasks` dates it: an add and a remove of one file share
    an id."""
    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.profile import Profile
    from datafusion_delta_sharing_spark.securable import Table

    client = DeltaSharingClient(Profile.from_json(profile_doc))
    table = Table.from_str(table_fqn)
    if "starting_version" in spec:
        end = spec["ending_version"]
        changes = client.get_table_changes(
            table, starting_version=spec["starting_version"],
            ending_version=end)
        return {(f.id, end if f.version is None else f.version): f
                for _, f in changes.actions}
    data = client.get_table_data(table, version=spec.get("version"),
                                 timestamp=spec.get("timestamp"))
    return {(f.id, None): f for f in data.files}
