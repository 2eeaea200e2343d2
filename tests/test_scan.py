"""The one scan path (``sources/scan.py``): the planner's refusals and
pruning on hand-built listings, without Spark; one share read identically
through every read entry point; and the benchmark's trace hook still
wrapping the scan kernels' entry points."""

import contextlib
import io
import json
import os
import subprocess
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_delta_sharing_spark import (
    DeltaSharingClient,
    DeltaSharingReader,
    Profile,
)
from datafusion_delta_sharing_spark.client import (
    FileAction,
    MetadataAction,
    ProtocolAction,
    TableData,
)
from datafusion_delta_sharing_spark.errors import DeltaSharingError
from datafusion_delta_sharing_spark.plans.predicates import Op, ValueType
from datafusion_delta_sharing_spark.sources import dv
from datafusion_delta_sharing_spark.sources.datasource import (
    DeltaSharingDataSource,
)
from datafusion_delta_sharing_spark.sources.scan import plan_files
from datafusion_delta_sharing_spark.sources.schema import schema_from_string
from tests.mock_server import MockSharingServer, MockTable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _field(name: str, kind: str, physical: str | None = None) -> dict:
    meta = {"delta.columnMapping.physicalName": physical} if physical else {}
    return {"name": name, "type": kind, "nullable": True, "metadata": meta}


PLAIN = [_field("x", "long"), _field("p", "string")]
MAPPED = [_field("x", "long", "col-x"), _field("p", "string", "col-p")]
# RENAME a TO b; RENAME b TO a: each logical name is the other's physical
SWAPPED = [_field("a", "long", "b"), _field("b", "long", "a")]


def _stats(column: str, lo: int, hi: int) -> str:
    return json.dumps({"numRecords": 1, "minValues": {column: lo},
                       "maxValues": {column: hi}, "nullCount": {column: 0}})


def _listing(fields, files, provider="parquet", features=(),
             partition_columns=(), mapped=False):
    schema_string = json.dumps({"type": "struct", "fields": fields})
    metadata = MetadataAction(
        id="t", schema_string=schema_string,
        partition_columns=tuple(partition_columns), format_provider=provider,
        configuration={"delta.columnMapping.mode": "name"} if mapped else {})
    data = TableData(ProtocolAction(reader_features=tuple(features)),
                     metadata, tuple(files), version=1)
    return data, schema_from_string(schema_string)


def _file(file_id: str, stats: str | None = None, partition_values=None,
          deletion_vector=None) -> FileAction:
    return FileAction(url=f"https://host/{file_id}.parquet", id=file_id,
                      partition_values=partition_values or {}, size=10,
                      stats=stats, deletion_vector=deletion_vector)


def _x_above(n: int, column: str = "x") -> Op:
    return Op.greater_than(Op.column(column, ValueType.LONG),
                           Op.literal(n, ValueType.LONG))


@pytest.mark.parametrize("listing, message", [
    (dict(fields=PLAIN, files=[_file("f")], provider="delta"),
     "unsupported file format"),
    (dict(fields=PLAIN, files=[_file("f")], features=["rowTracking"]),
     "reader features"),
    (dict(fields=SWAPPED, files=[_file("f", partition_values={"a": "1"})],
          partition_columns=["a"], mapped=True),
     "ambiguous"),
    (dict(fields=PLAIN, files=[_file("f", deletion_vector={
        "storageType": "u", "pathOrInlineDv": "ab", "sizeInBytes": 40,
        "cardinality": 1})]),
     "storageType='u'"),
], ids=["format", "reader_feature", "ambiguous_key", "dv_storage_u"])
def test_plan_files_refuses(listing, message):
    data, schema = _listing(**listing)
    with pytest.raises(DeltaSharingError, match=message):
        plan_files(data, schema, None)


def test_plan_files_validates_dvs_of_pruned_files_too():
    """A listing is refused the same way whatever the predicate prunes."""
    bad = {"storageType": "u", "pathOrInlineDv": "ab", "sizeInBytes": 40,
           "cardinality": 1}
    data, schema = _listing(PLAIN, [_file("f", _stats("x", 0, 1),
                                          deletion_vector=bad)])
    with pytest.raises(DeltaSharingError, match="storageType='u'"):
        plan_files(data, schema, _x_above(5))


@pytest.mark.parametrize("fields, mapped, files, predicate, kept", [
    # stats and partition values both prune
    (PLAIN, False,
     [_file("low", _stats("x", 0, 3)), _file("high", _stats("x", 0, 10)),
      _file("none"), _file("p_no", partition_values={"p": "n"}),
      _file("p_yes", partition_values={"p": "y"})],
     Op.and_([_x_above(5), Op.equal(Op.column("p", ValueType.STRING),
                                    Op.literal("y", ValueType.STRING))]),
     ["high", "none", "p_yes"]),
    # under column mapping, stats keys in either spelling prune
    (MAPPED, True,
     [_file("logical_low", _stats("x", 0, 3)),
      _file("physical_low", _stats("col-x", 0, 3)),
      _file("physical_high", _stats("col-x", 0, 10))],
     _x_above(5), ["physical_high"]),
    # a rename-swap aliases the spellings: no pruning at all
    (SWAPPED, True,
     [_file("a_low", _stats("a", 0, 3)), _file("b_low", _stats("b", 0, 3))],
     _x_above(5, "a"), ["a_low", "b_low"]),
], ids=["plain", "mapped", "swapped"])
def test_plan_files_prunes(fields, mapped, files, predicate, kept):
    data, schema = _listing(fields, files, mapped=mapped,
                            partition_columns=["p"] if fields is PLAIN
                            else ())
    plan = plan_files(data, schema, predicate)
    assert [f.id for f in plan.files] == kept
    assert plan.mapping == ({f["name"]: f["metadata"][
        "delta.columnMapping.physicalName"] for f in fields}
        if mapped else None)


def test_plan_files_spells_the_plan_physically():
    data, schema = _listing(
        MAPPED, [_file("f", partition_values={"p": "v"}),
                 _file("g", partition_values={"col-p": "w"})],
        partition_columns=["p"], mapped=True)
    plan = plan_files(data, schema, None)
    assert plan.schema.fieldNames() == ["col-x", "col-p"]
    assert plan.partition_columns == ["col-p"]
    assert [f.partition_values for f in plan.files] == [
        {"col-p": "v"}, {"col-p": "w"}]


# -- one share, every read entry point ------------------------------------

PARITY_SCHEMA = json.dumps({"type": "struct", "fields": [
    _field("id", "long"), _field("amount", "double"),
    _field("note", "string"), _field("day", "date")]})
# ids deleted by the on-file deletion vector of /new.parquet
DELETED = {11, 14}


def _parquet(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    pq.write_table(table, sink, row_group_size=3)
    return sink.getvalue()


@contextlib.contextmanager
def _parity_share():
    """Two partitions: /old.parquet was written before ``note`` was added;
    /new.parquet has it, and a deletion vector in a DV file over HTTP. The
    share's one commit added both files."""
    old = _parquet(pa.table({"id": pa.array(range(5), pa.int64()),
                             "amount": pa.array([0.5 * i for i in range(5)])}))
    new = _parquet(pa.table({
        "id": pa.array(range(10, 17), pa.int64()),
        "amount": pa.array([1.5 * i for i in range(7)]),
        "note": pa.array([f"n{i}" for i in range(7)])}))
    dv_data = dv.encode_dv_data(sorted(i - 10 for i in DELETED))
    dv_file, [offset] = dv.encode_dv_file([dv_data])
    blobs = {"/old.parquet": old, "/new.parquet": new, "/del.dv": dv_file}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=PARITY_SCHEMA, partition_columns=["day"],
                      version=1)
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        files = [
            {"id": "old", "url": f"{srv.base_url}/old.parquet",
             "size": len(old), "partition_values": {"day": "2021-04-28"}},
            {"id": "new", "url": f"{srv.base_url}/new.parquet",
             "size": len(new), "partition_values": {"day": "2021-04-29"},
             "deletion_vector": {
                 "storageType": "p",
                 "pathOrInlineDv": f"{srv.base_url}/del.dv",
                 "offset": offset, "sizeInBytes": len(dv_data),
                 "cardinality": len(DELETED)}}]
        table.files.extend(files)
        table.changes.extend({"kind": "add", "version": 1,
                              "timestamp": 1_600_000_000_000, **f}
                             for f in files)
        yield srv


def _drain(spark, stream) -> list:
    sink = f"parity_{uuid.uuid4().hex[:8]}"
    query = (stream.writeStream.format("memory").queryName(sink)
             .trigger(availableNow=True).start())
    try:
        query.awaitTermination(60)
        return spark.table(sink).collect()
    finally:
        query.stop()


def test_every_entry_point_reads_the_same_rows(spark):
    import datetime

    spark.dataSource.register(DeltaSharingDataSource)
    base = ["id", "amount", "note", "day"]
    want = sorted(
        [(i, 0.5 * i, None, datetime.date(2021, 4, 28)) for i in range(5)]
        + [(i, 1.5 * (i - 10), f"n{i - 10}", datetime.date(2021, 4, 29))
           for i in range(10, 17) if i not in DELETED])
    with _parity_share() as srv:
        profile = json.dumps(srv.profile_doc())

        def source(**options):
            reader = spark.readStream if options.pop("stream") else spark.read
            for k, v in {"profile_json": profile, "table": "s.d.t",
                         **options}.items():
                reader = reader.option(k, v)
            return reader.format("deltasharing").load()

        client = DeltaSharingClient(Profile.from_json(profile))
        reads = {
            "reader": DeltaSharingReader(spark, client).table("s.d.t")
            .collect(),
            "format": source(stream=False).collect(),
            "snapshot_stream": _drain(spark, source(stream=True)),
            "cdf_stream": _drain(spark, source(
                stream=True, readChangeFeed="true", startingVersion="1")),
        }
        assert {r._change_type for r in reads["cdf_stream"]} == {"insert"}
        for name, rows in reads.items():
            assert sorted(tuple(r[c] for c in base) for r in rows) == want, (
                name)
        # the http(s) DV was fetched, never skipped
        assert any(r["path"] == "/del.dv" for r in srv.requests)


# -- the benchmark's trace hook -------------------------------------------

HOOK_PROBE = r"""
import importlib.util, json, os, socket, sys

import pyarrow as pa
import pyarrow.parquet as pq

sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
sock.bind(("127.0.0.1", 0))
sock.settimeout(10)
os.environ["PERFBENCH_SPAN_PORT"] = str(sock.getsockname()[1])
hook_path, path = sys.argv[1], sys.argv[2]
# loaded by hand, not as an automatic sitecustomize: site would print an
# _install failure to stderr and start the worker unwrapped
spec = importlib.util.spec_from_file_location("perfbench_hook", hook_path)
spec.loader.exec_module(importlib.util.module_from_spec(spec))

from pyspark.sql import types as T

from datafusion_delta_sharing_spark.sources import datasource, dv, reader
from datafusion_delta_sharing_spark.sources.scan import FileTask

pq.write_table(pa.table({"id": pa.array([0, 1, 2], pa.int64())}), path)
size = os.path.getsize(path)
schema = T.StructType([T.StructField("id", T.LongType())])
descriptor = dv.inline_descriptor([1])
batch = pa.RecordBatch.from_pylist([{
    "url": path, "file_id": "f", "size": size, "partition_values": "{}",
    "deletion_vector": json.dumps(descriptor)}])
ids = [i for b in reader._fetch_batches_task([batch], schema, [], None, "{}",
                                             "s.d.t", {})
       for i in b.column("id").to_pylist()]
part = datasource._FilePartition(FileTask(path, size, "f", {}, descriptor))
ids += [i for b in datasource._read_file_partition({}, schema, part)
        for i in b.column("id").to_pylist()]
names = [json.loads(sock.recv(65536))["n"] for _ in range(4)]
print(json.dumps({"ids": ids, "spans": sorted(names)}))
"""


def test_trace_hook_wraps_the_scan_entry_points(tmp_path):
    """The benchmark's span hook wraps the scan kernels' entry points and
    ``dv.dv_positions`` by name; a renamed one would make its ``_install``
    raise and every traced worker run unwrapped."""
    hook = os.path.join(ROOT, "perfbench", "hook", "sitecustomize.py")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PERFBENCH_SPAN_PORT", "PYTHONPATH")}
    env["PYTHONPATH"] = ROOT
    out = subprocess.run(
        [sys.executable, "-c", HOOK_PROBE, hook,
         str(tmp_path / "f.parquet")],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["ids"] == [0, 2, 0, 2]
    assert report["spans"] == ["dv.decode", "dv.decode",
                               "fetch.datasource_file", "fetch.reader_task"]
