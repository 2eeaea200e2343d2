"""The executor fetch contract of both scan kernels (``DeltaSharingReader``
and ``format("deltasharing")``), read off the mock server's request log:
every byte of a shared parquet file crosses the wire at most once, a read of
every data column is one whole-file GET, and a body that does not match the
listed size ends in a typed error, never in short rows."""

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
from datafusion_delta_sharing_spark.sources.datasource import (
    DeltaSharingDataSource,
)
from datafusion_delta_sharing_spark.sources.reader import _RangedHttpFile
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
            # the first GET is pyarrow's footer probe, ending at EOF
            assert ranges[0][1] == len(blob) - 1
            spans = sorted(ranges)
            for (_, end), (start, _) in zip(spans, spans[1:]):
                assert end < start, f"{path} fetched bytes twice: {spans}"
        # the projection skipped the large file's other columns
        fetched = sum(e - s + 1 for s, e in _ranges(srv, "/large.parquet"))
        assert fetched < len(BLOBS["/large.parquet"]) // 2


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
