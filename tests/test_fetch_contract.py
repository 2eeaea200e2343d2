"""The executor fetch contract of both batch entry points
(``DeltaSharingReader`` and ``format("deltasharing")``), read off the mock
server's request log: every byte of a shared parquet file crosses the wire
at most once per application and executor (a second read of a share, through
any entry point, opens its files from the executor file cache), a read of
every data column (or of any data column of a file of at most 128 KiB) is
one whole-file GET, the files of one shared DV file are one task whose
deletion vectors are one GET, a task re-lists at most once, throttled data,
DV and token requests retry through the client's one request path, and a
body that does not match the listed size, or a GET whose retries run out,
ends in a typed error, never in short rows. A change-feed read is one scan
whatever its number of commits, packs small commits into one task that
re-lists an expired file through ``/changes`` over the task's version
range, and reads the same rows as the CDF stream."""

import contextlib
import io
import json
import os
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import requests

from datafusion_delta_sharing_spark import (
    DeltaSharingClient,
    DeltaSharingReader,
    Profile,
)
from datafusion_delta_sharing_spark import client as client_mod
from datafusion_delta_sharing_spark.client import FileAction
from datafusion_delta_sharing_spark.errors import ClientHttpError, DeltaSharingError
from datafusion_delta_sharing_spark.plans import audit
from datafusion_delta_sharing_spark.sources import dv, scan
from datafusion_delta_sharing_spark.sources.datasource import (
    DeltaSharingDataSource,
)
from datafusion_delta_sharing_spark.sources.scan import _RangedHttpFile
from tests.mock_server import MockSharingServer, MockTable

SCHEMA_STRING = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": False, "metadata": {}},
    {"name": "a", "type": "double", "nullable": True, "metadata": {}},
    {"name": "b", "type": "double", "nullable": True, "metadata": {}},
    {"name": "day", "type": "date", "nullable": True, "metadata": {}},
]})


def _blob(lo: int, n: int, row_group_size: int) -> bytes:
    """Random doubles do not compress, so ``n`` rows take ~16n bytes of
    column data and a large ``n`` puts column chunks before the 64 KiB
    footer tail pyarrow reads first."""
    rng = np.random.default_rng(lo)
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(range(lo, lo + n), pa.int64()),
                             "a": rng.random(n), "b": rng.random(n)}),
                   sink, row_group_size=row_group_size)
    return sink.getvalue()


BLOBS = {"/small.parquet": _blob(0, 50, 20),
         "/large.parquet": _blob(1000, 12_000, 2_000)}
IDS = sorted(list(range(50)) + list(range(1000, 13_000)))
PROBE = 64 * 1024  # pyarrow's speculative footer read


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(DeltaSharingDataSource)
    return spark


@contextlib.contextmanager
def _serve(blobs, extra_size: int = 0):
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=["day"], files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.extend(
            {"id": path, "url": f"{srv.base_url}{path}",
             "size": len(blob) + extra_size,
             "partition_values": {"day": "2021-04-28"}}
            for path, blob in blobs.items())
        yield srv


def _read(spark, srv, entry: str, columns=None):
    if entry == "reader":
        client = DeltaSharingClient(Profile.from_json(srv.profile_doc()))
        return DeltaSharingReader(spark, client).table("s.d.t",
                                                       columns=columns)
    df = (spark.read.format("deltasharing")
          .option("profile_json", json.dumps(srv.profile_doc()))
          .option("table", "s.d.t").load())
    return df.select(*columns) if columns else df


def _ranges(srv, path: str) -> list[tuple[int, int]]:
    """The inclusive byte ranges of every GET of ``path``, in order."""
    out = []
    for r in srv.requests:
        if r["path"] == path:
            m = re.fullmatch(r"bytes=(\d+)-(\d+)", r["range"] or "")
            assert m, f"data GET without a closed Range: {r['range']!r}"
            out.append((int(m.group(1)), int(m.group(2))))
    return out


def _data_gets(requests_) -> list[dict]:
    return [r for r in requests_ if r["path"].endswith(".parquet")]


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_full_read_is_one_whole_file_get_per_file(registered, entry):
    with _serve(BLOBS) as srv:
        rows = _read(registered, srv, entry).collect()
        assert sorted(r.id for r in rows) == IDS
        assert {str(r.day) for r in rows} == {"2021-04-28"}
        for path, blob in BLOBS.items():
            assert _ranges(srv, path) == [(0, len(blob) - 1)]


@pytest.mark.parametrize("columns", [["id"], ["id", "day"], ["day"]])
def test_projected_read_never_fetches_a_byte_twice(spark, columns):
    with _serve(BLOBS) as srv:
        rows = _read(spark, srv, "reader", columns=columns).collect()
        assert len(rows) == len(IDS)
        if "id" in columns:
            assert sorted(r.id for r in rows) == IDS
        for path, blob in BLOBS.items():
            ranges = _ranges(srv, path)
            # the first GET is the whole file or pyarrow's footer probe,
            # ending at EOF
            assert ranges[0][1] == len(blob) - 1
            spans = sorted(ranges)
            for (_, end), (start, _) in zip(spans, spans[1:]):
                assert end < start, f"{path} fetched bytes twice: {spans}"
        if columns == ["day"]:
            # a partition-only projection reads only the footer probe
            for path, blob in BLOBS.items():
                n = len(blob)
                assert _ranges(srv, path) == [(max(0, n - PROBE), n - 1)]
        # the projection skipped the large file's other columns
        fetched = sum(e - s + 1 for s, e in _ranges(srv, "/large.parquet"))
        assert fetched < len(BLOBS["/large.parquet"]) // 2


@pytest.mark.parametrize("entry", ["reader", "format"])
@pytest.mark.parametrize("columns", [["id"], ["id", "day"]])
def test_small_projected_file_is_one_whole_file_get(registered, entry,
                                                    columns):
    """A file of at most twice pyarrow's 64 KiB footer probe lies within
    one probe-sized gap of it, so a projection decoding any data column
    reads it in one GET of ``[0, size)``, also when the probe alone does
    not cover it."""
    blobs = {"/tiny.parquet": BLOBS["/small.parquet"],
             "/medium.parquet": _blob(20_000, 4_000, 1_000)}
    assert PROBE < len(blobs["/medium.parquet"]) <= 2 * PROBE
    ids = sorted(list(range(50)) + list(range(20_000, 24_000)))
    with _serve(blobs) as srv:
        rows = _read(registered, srv, entry, columns=columns).collect()
        assert sorted(r.id for r in rows) == ids
        for path, blob in blobs.items():
            assert _ranges(srv, path) == [(0, len(blob) - 1)]


def test_range_ignoring_server_answers_every_read_from_one_body(spark):
    """A server that answers 200 with the whole object has sent every byte
    already: the projected read makes no second GET of the file."""
    with _serve(BLOBS) as srv:
        srv.ignore_range = True
        rows = _read(spark, srv, "reader", columns=["id"]).collect()
        assert sorted(r.id for r in rows) == IDS
        for path in BLOBS:
            assert len([r for r in srv.requests if r["path"] == path]) == 1


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_object_shorter_than_listed_size_raises_typed_error(registered,
                                                            entry):
    """A listing ``size`` past the served object's end makes the server
    clamp the whole-file range: the short 206 body must fail the read with
    a ``DeltaSharingError``, not decode as a short file."""
    with _serve({"/small.parquet": BLOBS["/small.parquet"]},
                extra_size=100) as srv:
        with pytest.raises(Exception, match="DeltaSharingError") as info:
            _read(registered, srv, entry).collect()
        assert "does not match its listed size" in str(info.value)


@pytest.mark.parametrize("ignore_range", [False, True])
def test_ranged_file_checks_every_body_length(ignore_range):
    blob = BLOBS["/large.parquet"]
    with _serve({"/large.parquet": blob}) as srv:
        srv.ignore_range = ignore_range
        url = f"{srv.base_url}/large.parquet"
        short = _RangedHttpFile(url, len(blob) + 10)
        short.seek(-20, io.SEEK_END)
        with pytest.raises(DeltaSharingError, match="listed size"):
            short.read(20)
        past = _RangedHttpFile(url, 2 * len(blob))
        past.seek(-20, io.SEEK_END)
        with pytest.raises(DeltaSharingError, match="listed size"):
            past.read(20)
        before = len(_ranges(srv, "/large.parquet"))
        exact = _RangedHttpFile(url, len(blob))
        exact.seek(-20, io.SEEK_END)
        assert exact.read(20) == blob[-20:]
        exact.seek(-30, io.SEEK_END)
        assert exact.read(15) == blob[-30:-15]
        # the second read fetches only the 10 bytes before the held tail,
        # or nothing once a 200 has delivered the whole object
        n = len(blob)
        assert _ranges(srv, "/large.parquet")[before:] == (
            [(n - 20, n - 1)] + ([] if ignore_range else [(n - 30, n - 21)]))


# -- deletion vectors: one planned GET per task and shared DV file --------

DV_DELETED = {"/d0.parquet": [1, 5], "/d1.parquet": [0],
              "/d2.parquet": [3, 29]}
DV_BLOBS = {path: _blob(100 * i, 30, 10) for i, path in enumerate(DV_DELETED)}
DV_IDS = sorted(100 * i + r for i, rows in enumerate(DV_DELETED.values())
                for r in range(30) if r not in rows)


@contextlib.contextmanager
def _serve_with_dvs():
    """Three files whose deletion vectors sit in one shared DV file, which
    is served under two URLs: the listed ``/shared.dv`` and ``/fresh.dv``
    for a re-signed listing."""
    datas = [dv.encode_dv_data(rows) for rows in DV_DELETED.values()]
    dv_blob, offsets = dv.encode_dv_file(datas)
    blobs = {**DV_BLOBS, "/shared.dv": dv_blob, "/fresh.dv": dv_blob}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=["day"], files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        for (path, rows), off, data in zip(DV_DELETED.items(), offsets,
                                           datas):
            table.files.append({
                "id": path, "url": f"{srv.base_url}{path}",
                "size": len(DV_BLOBS[path]),
                "partition_values": {"day": "2021-04-28"},
                "deletion_vector": {
                    "storageType": "p",
                    "pathOrInlineDv": f"{srv.base_url}/shared.dv",
                    "offset": off, "sizeInBytes": len(data),
                    "cardinality": len(rows)}})
        yield srv, table


def _ids_after(spark, srv, entry: str, between=lambda: None) -> list[int]:
    """Plan a full read, run ``between`` (e.g. the server re-signing its
    URLs), then execute: through Spark for the reader, and by calling the
    batch reader's ``partitions``/``read`` for the data source, whose
    listing Spark would otherwise make at execution time."""
    if entry == "reader":
        df = _read(spark, srv, "reader")
        between()
        return sorted(r.id for r in df.collect())
    source = DeltaSharingDataSource(
        {"profile_json": json.dumps(srv.profile_doc()), "table": "s.d.t"})
    reader = source.reader(source.schema())
    parts = reader.partitions()
    between()
    return sorted(i for part in parts for batch in reader.read(part)
                  for i in batch.column("id").to_pylist())


def _dv_ranges(srv, path: str) -> list[str]:
    return [r["range"] for r in srv.requests if r["path"] == path]


def _stream_ids(spark, srv) -> list[int]:
    """The ids the snapshot stream emits into a memory sink over one
    ``availableNow`` run: the three files are one micro-batch."""
    spark.dataSource.register(DeltaSharingDataSource)
    sink = f"dv_stream_{uuid.uuid4().hex[:8]}"
    query = (spark.readStream.format("deltasharing")
             .option("profile_json", json.dumps(srv.profile_doc()))
             .option("table", "s.d.t").load()
             .writeStream.format("memory").queryName(sink)
             .trigger(availableNow=True).start())
    try:
        query.awaitTermination(60)
        return sorted(r.id for r in spark.table(sink).collect())
    finally:
        query.stop()


@pytest.mark.parametrize("entry", ["reader", "format", "stream"])
def test_task_dvs_sharing_a_dv_file_are_one_get(spark, entry):
    """The small share's three files (far below the 128 MiB cap) are one
    file group, so on every entry point, the snapshot stream's micro-batch
    included, one scan task plans the three DVs of the shared DV file and
    fetches the version byte and every frame in one GET."""
    with _serve_with_dvs() as (srv, _):
        ids = (_stream_ids(spark, srv) if entry == "stream"
               else _ids_after(spark, srv, entry))
        assert ids == DV_IDS
        n = len(srv.parquet_bytes["/shared.dv"])
        assert _dv_ranges(srv, "/shared.dv") == [f"bytes=0-{n - 1}"]


def test_a_file_group_is_one_task_without_a_shuffle(registered):
    """The reader places each file group in one Spark partition with no
    Exchange below its MapInArrow, and the data source plans the small DV
    share as one partition holding all three files."""
    with _serve_with_dvs() as (srv, _):
        df = _read(registered, srv, "reader")
        assert audit.shuffles(df) == 0
        assert df.rdd.getNumPartitions() == 1
        source = DeltaSharingDataSource(
            {"profile_json": json.dumps(srv.profile_doc()),
             "table": "s.d.t"})
        parts = source.reader(source.schema()).partitions()
        assert [sorted(t.file_id for t in p.tasks) for p in parts] == [
            sorted(DV_DELETED)]


def _queries(srv) -> int:
    return sum(r["method"] == "POST" and r["path"].endswith("/query")
               for r in srv.requests)


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_two_expired_urls_in_one_task_relist_once(spark, entry):
    """Two files of one task whose presigned URLs both expired re-list the
    table once: one ``/query`` to plan and one to re-list."""
    with _serve_with_dvs() as (srv, table):
        def resign():
            for f in table.files:
                if f["id"] in ("/d0.parquet", "/d2.parquet"):
                    srv.forbidden_paths.add(f["id"])
                    fresh = f["id"] + ".resigned"
                    srv.parquet_bytes[fresh] = DV_BLOBS[f["id"]]
                    f["url"] = f"{srv.base_url}{fresh}"

        assert _ids_after(spark, srv, entry, resign) == DV_IDS
        assert _queries(srv) == 2
        assert _ranges(srv, "/d0.parquet.resigned")
        assert _ranges(srv, "/d2.parquet.resigned")


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_relist_is_pinned_to_the_listed_version(spark, entry):
    """Listed at version 7; the table then moves to version 8 without
    ``/d1.parquet``, whose old URL expires. The re-list must ask for
    version 7, where the file is still listed under a re-signed URL."""
    with _serve_with_dvs() as (srv, table):
        def advance():
            listed = [dict(f) for f in table.files]
            srv.parquet_bytes["/d1.resigned"] = DV_BLOBS["/d1.parquet"]
            table.history[7] = [
                {**f, "url": f"{srv.base_url}/d1.resigned"}
                if f["id"] == "/d1.parquet" else f for f in listed]
            table.version = 8
            table.files[:] = [f for f in listed if f["id"] != "/d1.parquet"]
            srv.forbidden_paths.add("/d1.parquet")

        assert _ids_after(spark, srv, entry, advance) == DV_IDS
        assert _ranges(srv, "/d1.resigned")


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_expired_dv_url_on_the_coalesced_get_relists(spark, entry):
    with _serve_with_dvs() as (srv, table):
        def resign():
            srv.forbidden_paths.add("/shared.dv")
            for f in table.files:
                f["deletion_vector"] = {
                    **f["deletion_vector"],
                    "pathOrInlineDv": f"{srv.base_url}/fresh.dv"}

        assert _ids_after(spark, srv, entry, resign) == DV_IDS
        assert _dv_ranges(srv, "/shared.dv")  # the planned GET was refused
        assert _dv_ranges(srv, "/fresh.dv")


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_changed_dv_identity_on_refresh_raises(spark, entry):
    with _serve_with_dvs() as (srv, table):
        def resign_with_new_deletes():
            srv.forbidden_paths.add("/shared.dv")
            for f in table.files:
                old = f["deletion_vector"]
                f["deletion_vector"] = {
                    **old, "pathOrInlineDv": f"{srv.base_url}/fresh.dv",
                    "cardinality": old["cardinality"] + 1}

        with pytest.raises(Exception, match="changed between") as info:
            _ids_after(spark, srv, entry, resign_with_new_deletes)
        assert (isinstance(info.value, DeltaSharingError)
                or "DeltaSharingError" in str(info.value))


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_expired_url_of_a_file_the_relist_drops_raises(spark, entry):
    """A data URL that expires mid-scan re-lists the table; a file the
    re-list no longer lists (vacuumed) ends in a typed error naming it."""
    with _serve_with_dvs() as (srv, table):
        def vacuum():
            srv.forbidden_paths.add("/d1.parquet")
            table.files[:] = [f for f in table.files
                              if f["id"] != "/d1.parquet"]

        with pytest.raises(Exception, match="no longer listed") as info:
            _ids_after(spark, srv, entry, vacuum)
        assert "'/d1.parquet'" in str(info.value)
        assert (isinstance(info.value, DeltaSharingError)
                or "DeltaSharingError" in str(info.value))


def test_ranged_get_raises_a_typed_error_when_retries_run_out(monkeypatch):
    """A connection that drops on every attempt ends in
    :class:`DeltaSharingError` caused by the ``requests`` error, after
    ``_RETRIES + 1`` attempts; an expired URL (403) raises
    :class:`ClientHttpError` with ``.status`` 403 at once, so the caller
    can re-list."""
    monkeypatch.setattr(client_mod, "_BACKOFF_S", 0)

    class Dropping(dict):
        def __getitem__(self, key):
            raise BrokenPipeError("synthetic dropped connection")

    with _serve(BLOBS) as srv:
        srv.parquet_bytes = Dropping(BLOBS)
        session = requests.Session()
        with pytest.raises(DeltaSharingError, match="attempts") as info:
            scan._ranged_get(session, f"{srv.base_url}/small.parquet", 0, 10)
        assert isinstance(info.value.__cause__, requests.RequestException)
        assert len(_ranges(srv, "/small.parquet")) == client_mod._RETRIES + 1

        srv.forbidden_paths.add("/large.parquet")
        with pytest.raises(ClientHttpError) as info:
            scan._ranged_get(session, f"{srv.base_url}/large.parquet", 0, 10)
        assert info.value.status == 403
        assert len(_ranges(srv, "/large.parquet")) == 1


@pytest.mark.parametrize("fresh_size", ["listed", "changed"])
def test_expiry_after_the_footer_relists_the_column_chunk_get(monkeypatch,
                                                              fresh_size):
    """A presigned URL that expires between a projected read's footer GET
    and its first column-chunk GET re-lists once, and the read continues
    from the fresh URL to exact rows; a fresh action whose size differs
    from the listed one fails the read with a typed error instead."""
    from pyspark.sql import types as T

    blob = BLOBS["/large.parquet"]
    assert len(blob) > 2 * PROBE  # a projected read holds the footer tail
    with _serve({"/large.parquet": blob, "/fresh.parquet": blob}) as srv:
        old = f"{srv.base_url}/large.parquet"
        size = len(blob) + (fresh_size == "changed")
        relists, gets = [], []
        ranged_get = scan._ranged_get

        def expiring_get(session, url, lo, hi, size=None):
            gets.append(url)
            if url == old and gets.count(old) == 2:
                raise ClientHttpError("HTTP 403 (synthetic expiry)",
                                      status=403)
            return ranged_get(session, url, lo, hi, size)

        def relist():
            relists.append(1)
            return {("large", None): FileAction(
                url=f"{srv.base_url}/fresh.parquet", id="large", size=size)}

        monkeypatch.setattr(scan, "_ranged_get", expiring_get)
        schema = T.StructType([T.StructField("id", T.LongType(), False),
                               T.StructField("a", T.DoubleType()),
                               T.StructField("b", T.DoubleType())])
        tasks = [scan.FileTask(old, len(blob), "large", {})]

        def ids():
            return [i for b in scan.read_files(tasks, schema, ["id"], {},
                                               relist)
                    for i in b.column("id").to_pylist()]

        if fresh_size == "listed":
            assert ids() == list(range(1000, 13_000))
            assert _ranges(srv, "/fresh.parquet")
        else:
            with pytest.raises(DeltaSharingError,
                               match="changed between listing and scan"):
                ids()
        assert len(relists) == 1


# -- faults on the one request path ----------------------------------------
# The mock server answers a throttled path with 429 and Retry-After: 0, so
# these retries do not wait, also in Spark's Python workers.


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_throttled_data_get_retries_to_exact_rows(registered, entry):
    with _serve(BLOBS) as srv:
        srv.throttle_paths["/small.parquet"] = 2
        rows = _read(registered, srv, entry).collect()
        assert sorted(r.id for r in rows) == IDS
        n = len(BLOBS["/small.parquet"])
        assert _ranges(srv, "/small.parquet") == [(0, n - 1)] * 3


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_throttled_dv_get_retries_to_exact_rows(spark, entry):
    with _serve_with_dvs() as (srv, _):
        srv.throttle_paths["/shared.dv"] = 1
        assert _ids_after(spark, srv, entry) == DV_IDS
        n = len(srv.parquet_bytes["/shared.dv"])
        assert _dv_ranges(srv, "/shared.dv") == [f"bytes=0-{n - 1}"] * 2


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_url_still_expired_after_relist_raises_client_http_error(registered,
                                                                 entry):
    """The re-list hands back the same URL, which still answers 403: the
    read fails with the client's typed error, not a raw ``requests``
    one."""
    with _serve_with_dvs() as (srv, _):
        srv.forbidden_paths.add("/d1.parquet")
        with pytest.raises(Exception, match="ClientHttpError") as info:
            _read(registered, srv, entry).collect()
        assert "HTTP 403" in str(info.value)
        assert _queries(srv) == 2  # the planning listing and one re-list


def test_throttled_token_grant_retries():
    from datafusion_delta_sharing_spark.profile import (
        OAuthClientCredentialsProfile,
    )

    with _serve({}) as srv:
        srv.oauth = {"client_id": "cid", "client_secret": "sekrit",
                     "expires_in": 3600}
        srv.throttle_paths["/oauth/token"] = 2
        profile = OAuthClientCredentialsProfile(
            srv.endpoint, f"{srv.base_url}/oauth/token", "cid", "sekrit")
        assert [s.name for s in DeltaSharingClient(profile).list_shares()
                ] == ["s"]
        assert sum(r["path"] == "/oauth/token" for r in srv.requests) == 3


# -- change-feed reads ------------------------------------------------------

CHANGE_SCHEMA = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": False, "metadata": {}}]})
CHANGE_TYPES = {"add": "insert", "remove": "delete", "cdf": "update_postimage"}


@contextlib.contextmanager
def _serve_changes(where: str, commits, tmp_path=None):
    """A change feed of one file per commit: ``commits[v - 1]`` is the
    ``(kind, ids)`` of version v, served as mock-server bytes
    (``where="http"``) or as files under ``tmp_path`` (``"file"``); a
    ``cdf`` file carries its own ``_change_type`` column. Yields the
    server, its table and the rows :func:`_change_rows` must read."""
    table = MockTable(share="s", schema="d", name="c",
                      schema_string=CHANGE_SCHEMA, version=len(commits))
    with MockSharingServer([table]) as srv:
        expected = []
        for v, (kind, ids) in enumerate(commits, start=1):
            columns = {"id": pa.array(ids, pa.int64())}
            if kind == "cdf":
                columns["_change_type"] = pa.array([CHANGE_TYPES[kind]]
                                                   * len(ids))
            sink = io.BytesIO()
            pq.write_table(pa.table(columns), sink)
            path = f"/v{v}.parquet"
            if where == "http":
                srv.parquet_bytes[path] = sink.getvalue()
                url = f"{srv.base_url}{path}"
            else:
                (tmp_path / path[1:]).write_bytes(sink.getvalue())
                url = f"file://{tmp_path}{path}"
            # a millisecond fraction, so the instant must survive exactly
            ts = 1_600_000_000_000 + 60_000 * v + 123
            table.changes.append({"kind": kind, "version": v,
                                  "timestamp": ts, "url": url, "id": path,
                                  "size": len(sink.getvalue())})
            expected += [(i, CHANGE_TYPES[kind], v, ts * 1000) for i in ids]
        yield srv, table, sorted(expected)


def _change_rows(df) -> list[tuple]:
    """``(id, _change_type, _commit_version, _commit_timestamp in µs)``
    rows, sorted."""
    from pyspark.sql import functions as F

    return sorted(tuple(r) for r in df.select(
        "id", "_change_type", "_commit_version",
        F.unix_micros("_commit_timestamp")).collect())


def _table_changes(spark, srv):
    client = DeltaSharingClient(Profile.from_json(srv.profile_doc()))
    return DeltaSharingReader(spark, client).table_changes(
        "s.d.c", starting_version=1)


def test_table_changes_over_http_relists_the_packed_range(spark):
    """Add, remove and cdf files read through the presigned-URL path, the
    three commits packed into one task; the remove file's URL expires
    after planning, and the task re-lists ``/changes`` over its version
    range, once."""
    commits = [("add", [1, 2]), ("remove", [9]), ("cdf", [2])]
    with _serve_changes("http", commits) as (srv, table, expected):
        df = _table_changes(spark, srv)
        srv.forbidden_paths.add("/v2.parquet")
        srv.parquet_bytes["/v2.resigned"] = srv.parquet_bytes["/v2.parquet"]
        table.changes[1]["url"] = f"{srv.base_url}/v2.resigned"
        seen = len(srv.requests)
        assert _change_rows(df) == expected
        after = srv.requests[seen:]
        assert [r["query"] for r in after if r["path"].endswith("/changes")
                ] == [{"startingVersion": "1", "endingVersion": "3"}]
        assert sum(r["path"] == "/v2.parquet" for r in after) == 1
        assert _ranges(srv, "/v2.resigned")


@pytest.mark.parametrize("where", ["http", "file"])
def test_a_change_range_is_one_scan(spark, tmp_path, where):
    """Forty one-file commits, add and cdf alternating, plan one
    MapInArrow over HTTP and at most two file scans (one per set of
    constant columns) over ``file://``, not a branch per commit."""
    commits = [("add" if v % 2 else "cdf", [v]) for v in range(1, 41)]
    with _serve_changes(where, commits, tmp_path) as (srv, _, expected):
        df = _table_changes(spark, srv)
        plan = audit._executed_plan(df)
        if where == "http":
            assert len(re.findall(r"\bMapInArrow\b", plan)) == 1
            assert "FileScan" not in plan
            # the forty small commits are one file group, one task
            assert df.rdd.getNumPartitions() == 1
        else:
            assert "MapInArrow" not in plan
            assert 1 <= plan.count("FileScan parquet") <= 2
        assert _change_rows(df) == expected


@pytest.mark.parametrize("where", ["http", "file"])
def test_both_cdf_entry_points_agree(registered, tmp_path, where):
    """``table_changes`` and the CDF stream (``availableNow`` into a
    memory sink) read one add/remove/cdf share to the same rows, the
    commit timestamp to the microsecond. The second read, of files the
    stream has read, makes no data GET."""
    commits = [("add", [1, 2]), ("remove", [9]), ("cdf", [2])]
    with _serve_changes(where, commits, tmp_path) as (srv, _, expected):
        sink = f"cdf_agree_{uuid.uuid4().hex[:8]}"
        query = (registered.readStream.format("deltasharing")
                 .option("profile_json", json.dumps(srv.profile_doc()))
                 .option("table", "s.d.c")
                 .option("readChangeFeed", "true")
                 .option("startingVersion", "1").load()
                 .writeStream.format("memory").queryName(sink)
                 .trigger(availableNow=True).start())
        try:
            query.awaitTermination(60)
            streamed = _change_rows(registered.table(sink))
        finally:
            query.stop()
        seen = len(srv.requests)
        assert _change_rows(_table_changes(registered, srv)) == streamed
        assert streamed == expected
        assert not _data_gets(srv.requests[seen:])


def test_change_relist_keys_an_add_and_a_remove_of_one_file_apart():
    """An add and a later remove of one file share its id: the re-list of
    a packed range keys fresh actions by ``(file id, commit version)``, so
    each task finds its own action."""
    table = MockTable(share="s", schema="d", name="c",
                      schema_string=CHANGE_SCHEMA, version=3)
    with MockSharingServer([table]) as srv:
        for kind, v in (("add", 1), ("remove", 3)):
            table.changes.append({
                "kind": kind, "version": v, "timestamp": 1_600_000_000_000,
                "url": f"{srv.base_url}/f.v{v}", "id": "/f.parquet",
                "size": 10})
        fresh = scan.relist(json.dumps(srv.profile_doc()), "s.d.c",
                            {"starting_version": 1, "ending_version": 3})
        assert {k: f.url for k, f in fresh.items()} == {
            ("/f.parquet", 1): f"{srv.base_url}/f.v1",
            ("/f.parquet", 3): f"{srv.base_url}/f.v3"}


def _oauth_cdf_stream(spark, srv, **options) -> list[tuple]:
    """Run a CDF stream of table ``s.d.c`` with a caller-given schema over
    an OAuth profile (``availableNow`` into a memory sink) and return its
    rows."""
    from pyspark.sql import types as T

    from datafusion_delta_sharing_spark.sources.schema import CDF_META_FIELDS

    srv.oauth = {"client_id": "cid", "client_secret": "sekrit",
                 "expires_in": 3600}
    profile = {"shareCredentialsVersion": 2,
               "type": "oauth_client_credentials",
               "endpoint": srv.endpoint,
               "tokenEndpoint": f"{srv.base_url}/oauth/token",
               "clientId": "cid", "clientSecret": "sekrit"}
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           *CDF_META_FIELDS])
    sink = f"cdf_oauth_{uuid.uuid4().hex[:8]}"
    query = (spark.readStream.format("deltasharing").schema(schema)
             .option("profile_json", json.dumps(profile))
             .option("table", "s.d.c")
             .option("readChangeFeed", "true").options(**options).load()
             .writeStream.format("memory").queryName(sink)
             .trigger(availableNow=True).start())
    try:
        query.awaitTermination(60)
        return _change_rows(spark.table(sink))
    finally:
        query.stop()


def test_oauth_cdf_stream_grants_one_token(registered):
    """The CDF stream plans every trigger through one client, so an OAuth
    profile grants one token for the whole stream (the executors' reads
    make no REST call)."""
    commits = [("add", [1, 2]), ("remove", [9]), ("cdf", [2])]
    with _serve_changes("http", commits) as (srv, _, expected):
        assert _oauth_cdf_stream(registered, srv,
                                 startingVersion="1") == expected
        assert len(srv.issued_tokens) == 1


def test_cdf_stream_resolves_its_initial_offset_lazily(registered):
    """Without ``startingVersion`` the stream starts at the table's
    version when Spark first asks for the initial offset. Spark builds the
    stream reader twice, and the copy that only serves ``read`` never
    asks: one token grant, and one ``/version`` request each for the
    initial and the latest offset."""
    commits = [("add", [1, 2]), ("remove", [9]), ("cdf", [2])]
    with _serve_changes("http", commits) as (srv, _, _expected):
        assert _oauth_cdf_stream(registered, srv) == []
        assert len(srv.issued_tokens) == 1
        assert sum(r["path"].endswith("/version")
                   for r in srv.requests) == 2


# -- the executor file cache -------------------------------------------------


@pytest.mark.parametrize("first,second", [("reader", "format"),
                                          ("format", "reader")])
def test_second_read_through_the_other_entry_point_fetches_nothing(
        registered, first, second):
    """A share read whole once is in the executor file cache: reading it
    again, through the other batch entry point, makes no data GET and
    returns the same rows."""
    with _serve(BLOBS) as srv:
        rows = sorted(tuple(r) for r in _read(registered, srv, first).collect())
        assert len(_data_gets(srv.requests)) == len(BLOBS)
        seen = len(srv.requests)
        again = sorted(tuple(r) for r in _read(registered, srv,
                                               second).collect())
        assert again == rows
        assert not _data_gets(srv.requests[seen:])


def test_projected_read_of_a_cached_file_fetches_nothing(registered):
    """A projected read of a large file opens its cached whole copy
    instead of taking the ranged path."""
    with _serve(BLOBS) as srv:
        _read(registered, srv, "reader").collect()
        seen = len(srv.requests)
        rows = _read(registered, srv, "reader", columns=["id"]).collect()
        assert sorted(r.id for r in rows) == IDS
        assert not _data_gets(srv.requests[seen:])


def test_a_changed_listed_size_is_a_cache_miss(registered):
    """A file whose listing now names another size is not the cached
    copy: its GET is made again and the new bytes decode."""
    with _serve({"/small.parquet": BLOBS["/small.parquet"]}) as srv:
        _read(registered, srv, "reader").collect()
        new = _blob(500, 60, 20)
        assert len(new) != len(BLOBS["/small.parquet"])
        srv.parquet_bytes["/small.parquet"] = new
        srv.tables[0].files[0]["size"] = len(new)
        seen = len(srv.requests)
        rows = _read(registered, srv, "reader").collect()
        assert sorted(r.id for r in rows) == list(range(500, 560))
        assert _ranges(srv, "/small.parquet")[-1] == (0, len(new) - 1)
        assert len(_data_gets(srv.requests[seen:])) == 1


def test_a_cold_read_of_an_expired_url_relists_once(spark):
    """A file not yet cached whose presigned URL expired after planning
    re-lists once and reads exact rows; the bytes it fetched then serve a
    second run of the same plan, which makes no GET and no re-list. (The
    data source lists when Spark runs the query, so only the reader plans
    before a URL can expire.)"""
    with _serve(dict(BLOBS)) as srv:
        df = _read(spark, srv, "reader")
        table = srv.tables[0]
        srv.forbidden_paths.add("/small.parquet")
        srv.parquet_bytes["/small.resigned"] = BLOBS["/small.parquet"]
        table.files[0]["url"] = f"{srv.base_url}/small.resigned"
        assert sorted(r.id for r in df.collect()) == IDS
        assert _queries(srv) == 2
        assert _ranges(srv, "/small.resigned")
        seen = len(srv.requests)
        assert sorted(r.id for r in df.collect()) == IDS
        assert not [r for r in srv.requests[seen:]
                    if r["path"].startswith(("/small", "/large"))]
        assert _queries(srv) == 2


def test_two_servers_with_equal_names_and_ids_never_share_bytes(registered):
    """Two servers whose tables share a name, file ids and file sizes but
    not bytes: each read returns its own server's rows."""
    other = {"/small.parquet": _blob(5000, 50, 20)}
    mine = {"/small.parquet": BLOBS["/small.parquet"]}
    assert len(other["/small.parquet"]) == len(mine["/small.parquet"])
    with _serve(mine) as a, _serve(other) as b:
        for srv, lo in ((a, 0), (b, 5000), (a, 0)):
            rows = _read(registered, srv, "reader").collect()
            assert sorted(r.id for r in rows) == list(range(lo, lo + 50))


def test_a_recreated_table_is_a_cache_miss(registered):
    """One server, one table name and file id, the same size: a table
    recreated under a new metaData.id reads its own bytes."""
    other = _blob(5000, 50, 20)
    assert len(other) == len(BLOBS["/small.parquet"])
    with _serve({"/small.parquet": BLOBS["/small.parquet"]}) as srv:
        assert sorted(r.id for r in _read(registered, srv, "reader")
                      .collect()) == list(range(50))
        srv.tables[0].table_id = "tbl-new1"
        srv.parquet_bytes["/small.parquet"] = other
        assert sorted(r.id for r in _read(registered, srv, "reader")
                      .collect()) == list(range(5000, 5050))


def test_eviction_keeps_the_cache_under_its_cap(tmp_path):
    """Filling past the cap evicts the entries used longest ago until the
    entries fit; a hit counts as a use; a body above the cap is not
    admitted; a copy of another length is a miss."""
    root = str(tmp_path / "cache")
    cap = 250

    def fill(key, n, at=None):
        scan._cache_fill(root, key, bytes([len(key)]) * n, cap)
        if at is not None and os.path.exists(os.path.join(root, key)):
            os.utime(os.path.join(root, key), (at, at))

    def entries():
        return sorted(os.listdir(root))

    fill("a", 100, at=1)
    fill("b", 100, at=2)
    assert entries() == ["a", "b"]
    hit = scan._cache_open(root, "a", 100)  # a is now the newest use
    assert hit is not None and hit.read() == bytes([1]) * 100
    assert scan._cache_open(root, "b", 99) is None
    fill("cc", 100, at=time.time() + 10)
    assert entries() == ["a", "cc"]
    fill("ddd", 100)
    assert entries() == ["cc", "ddd"]
    assert sum(os.path.getsize(os.path.join(root, k))
               for k in entries()) <= cap
    fill("big", cap + 1)
    assert entries() == ["cc", "ddd"]
    assert scan._cache_open(root, "gone", 1) is None


def _cache_worker(root: str, seed: int, rounds: int, cap: int) -> None:
    """Fill and open eight keys in a random order; any hit must hold its
    key's whole body."""
    rng = np.random.default_rng(seed)
    for _ in range(rounds):
        k = int(rng.integers(8))
        body = bytes([k]) * (1000 + 100 * k)
        hit = scan._cache_open(root, f"k{k}", len(body))
        if hit is None:
            scan._cache_fill(root, f"k{k}", body, cap)
        elif hit.read() != body:
            raise AssertionError(f"k{k}: a cached entry is not its body")


def test_concurrent_fills_never_expose_a_partial_entry(tmp_path):
    """Six processes (more than this host's cores) fill and evict one
    cache directory at once: every hit reads its whole entry, and the
    entries end under the cap."""
    import multiprocessing

    root, cap = str(tmp_path / "cache"), 5_000
    ctx = multiprocessing.get_context("spawn")
    procs = [ctx.Process(target=_cache_worker, args=(root, seed, 300, cap))
             for seed in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
    assert [p.is_alive() for p in procs] == [False] * 6
    assert [p.exitcode for p in procs] == [0] * 6
    assert sum(os.path.getsize(os.path.join(root, k))
               for k in os.listdir(root) if not k.startswith(".")) <= cap
