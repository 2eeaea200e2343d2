"""The executor fetch contract of both scan kernels (``DeltaSharingReader``
and ``format("deltasharing")``), read off the mock server's request log:
every byte of a shared parquet file crosses the wire at most once, a read of
every data column (or of any data column of a file of at most 128 KiB) is
one whole-file GET, a task's deletion vectors in one shared DV file are one
GET, and a body that does not match the listed size ends in a typed error,
never in short rows."""

import contextlib
import io
import json
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_delta_sharing_spark import (
    DeltaSharingClient,
    DeltaSharingReader,
    Profile,
)
from datafusion_delta_sharing_spark.errors import DeltaSharingError
from datafusion_delta_sharing_spark.sources import dv
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


@pytest.mark.parametrize("entry", ["reader", "format"])
def test_task_dvs_sharing_a_dv_file_are_one_get(spark, entry):
    """The reader's one scan task plans all three DVs and fetches the
    version byte and every frame in one GET; ``format("deltasharing")``
    reads one file per task, so each task's DV is one GET."""
    with _serve_with_dvs() as (srv, _):
        assert _ids_after(spark, srv, entry) == DV_IDS
        n = len(srv.parquet_bytes["/shared.dv"])
        gets = _dv_ranges(srv, "/shared.dv")
        if entry == "reader":
            assert gets == [f"bytes=0-{n - 1}"]
        else:
            assert len(gets) == len(DV_DELETED)
            assert all(g.startswith("bytes=0-") for g in gets)


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
