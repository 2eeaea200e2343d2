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
from datafusion_delta_sharing_spark.sources.scan import (
    _BYTES_PER_TASK,
    pack_files,
    plan_files,
    relist_pin,
)
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
    assert plan.file_names == ({f["name"]: f["metadata"][
        "delta.columnMapping.physicalName"] for f in fields}
        if mapped else {})


def test_plan_files_spells_the_plan_logically():
    """Both partition-key spellings normalize to the logical one, and the
    parquet column of each data column is in ``file_names``."""
    data, schema = _listing(
        MAPPED, [_file("f", partition_values={"p": "v"}),
                 _file("g", partition_values={"col-p": "w"})],
        partition_columns=["p"], mapped=True)
    plan = plan_files(data, schema, None)
    assert plan.schema.fieldNames() == ["x", "p"]
    assert plan.partition_columns == ["p"]
    assert [f.partition_values for f in plan.files] == [
        {"p": "v"}, {"p": "w"}]
    assert plan.file_names == {"x": "col-x", "p": "col-p"}


# -- the file packer of both batch reads ----------------------------------

MIB = 1024 * 1024


def _sized(file_id: str, mib: float) -> FileAction:
    """A listed file of ``mib`` MiB."""
    return FileAction(url=f"https://host/{file_id}.parquet", id=file_id,
                      size=int(mib * MIB))


def _ids(groups) -> list[list[str]]:
    return [[f.id for f in g] for g in groups]


@pytest.mark.parametrize("mibs, n", [
    ([10] * 40, 4),           # ceil(400 / 128)
    ([1e-6] * 3, 1),          # at least one group
    ([1024, 1024], 2),        # at most one group per file
    ([100, 70, 60, 40, 30], 3),
])
def test_pack_files_group_count_follows_the_cap(mibs, n):
    files = [_sized(f"f{i}", m) for i, m in enumerate(mibs)]
    groups = pack_files(files)
    assert len(groups) == n == max(1, min(len(files), -(-sum(
        f.size for f in files) // _BYTES_PER_TASK)))
    assert sorted(f.id for g in groups for f in g) == sorted(
        f.id for f in files)


def test_pack_files_deals_the_largest_files_to_distinct_groups():
    # 300 MiB: three groups; size order f1 f0 f4 f2 f3 dealt round-robin
    files = [_sized(f"f{i}", m) for i, m in enumerate([70, 100, 40, 30, 60])]
    assert _ids(pack_files(files)) == [["f1", "f2"], ["f0", "f3"], ["f4"]]


def test_pack_files_is_deterministic():
    files = [_sized(f"f{i}", (37 * i) % 90 + 1) for i in range(30)]
    first = _ids(pack_files(files))
    assert _ids(pack_files(list(files))) == first
    assert _ids(pack_files(tuple(files))) == first
    # each group keeps listing order
    order = [f.id for f in files]
    assert all(g == sorted(g, key=order.index) for g in first)


def test_relist_pin_prefers_the_listed_version():
    def listed(version):
        return TableData(protocol=None, metadata=None, files=(),
                         version=version)
    assert relist_pin(listed(7), 3, "2024-01-01T00:00:00Z") == {
        "version": 7, "timestamp": None}
    # a server that reports no version: the snapshot the read asked for
    assert relist_pin(listed(None), None, "2024-01-01T00:00:00Z") == {
        "version": None, "timestamp": "2024-01-01T00:00:00Z"}


def test_one_retry_loop_and_no_raw_http_errors_in_sources():
    """Every request goes through the client's one retry loop: the only
    function that sleeps between attempts is ``client.send_with_retry``,
    and no scan source catches or raises a raw ``requests.HTTPError``."""
    import ast
    import glob

    import datafusion_delta_sharing_spark as pkg

    root = os.path.dirname(pkg.__file__)
    sources = sorted(glob.glob(os.path.join(root, "sources", "*.py")))
    sleepers = set()
    for path in [os.path.join(root, "client.py"),
                 os.path.join(root, "profile.py"), *sources]:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "sleep"
                        and isinstance(node.func.value, ast.Name)
                        and node.func.value.id == "time"):
                    sleepers.add((os.path.basename(path), fn.name))
    assert sleepers == {("client.py", "send_with_retry")}
    for path in sources:
        with open(path) as fh:
            assert "requests.HTTPError" not in fh.read(), path


def _source_nodes() -> list[tuple[str, str, "ast.AST"]]:
    """Every AST node in ``sources/*.py`` as ``(file, qualified enclosing
    def, node)``; a def is listed in the scope that encloses it."""
    import ast
    import glob

    import datafusion_delta_sharing_spark as pkg

    root = os.path.dirname(pkg.__file__)
    nodes: list[tuple[str, str, ast.AST]] = []

    def visit(node, name: str, where: str) -> None:
        for child in ast.iter_child_nodes(node):
            nodes.append((name, where, child))
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef)):
                visit(child, name, f"{where}.{child.name}".lstrip("."))
            else:
                visit(child, name, where)

    for path in sorted(glob.glob(os.path.join(root, "sources", "*.py"))):
        with open(path) as fh:
            visit(ast.parse(fh.read()), os.path.basename(path), "")
    return nodes


def _source_calls() -> tuple[set[tuple[str, str, str]],
                             list[tuple[str, str]]]:
    """Every call in ``sources/*.py`` as ``(file, qualified enclosing def,
    callee)``, and every def as ``(file, qualified name)``."""
    import ast

    calls: set[tuple[str, str, str]] = set()  # (file, enclosing def, callee)
    defs: list[tuple[str, str]] = []  # (file, qualified def name)
    for name, where, node in _source_nodes():
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            defs.append((name, f"{where}.{node.name}".lstrip(".")))
        elif isinstance(node, ast.Call):
            calls.add((name, where, ast.unparse(node.func)))
    return calls, defs


def test_one_file_task_builder_on_the_driver():
    """Every read entry point builds its file tasks in ``scan.file_tasks``
    on the driver: ``FileTask(`` is called in that one function across
    ``sources/*.py``, and partition values are decoded there and in the
    metadata-only ``partition_row_counts`` only. Both change-feed entry
    points reach the one ``scan._change_constants`` through
    ``scan.change_tasks``, and ``table_changes`` is one scan, not a union
    of tagged per-commit reads. A stream partition is a file group with no
    one-file ``file_id``, and the reader's executor entry point decodes
    nothing."""
    from datafusion_delta_sharing_spark.sources import datasource

    calls, defs = _source_calls()

    def callers(callee: str) -> list[tuple[str, str]]:
        return sorted({(f, w) for f, w, c in calls if c == callee})

    def called_in(name: str, scope: str) -> set[str]:
        # the def's own calls and those of every def nested in it
        assert defs.count((name, scope)) == 1
        return {c for f, w, c in calls if f == name
                and (w == scope or w.startswith(scope + "."))}

    assert callers("FileTask") == [("scan.py", "file_tasks")]
    assert callers("decode_partition_values") == [
        ("reader.py", "DeltaSharingReader.partition_row_counts"),
        ("scan.py", "file_tasks")]
    assert [d for d in defs
            if d[1].rsplit(".", 1)[-1] == "_change_constants"] == [
        ("scan.py", "_change_constants")]
    assert callers("_change_constants") == [("scan.py", "change_tasks")]
    assert callers("change_tasks") == [
        ("datasource.py", "DeltaSharingCDFStreamReader.partitions"),
        ("reader.py", "DeltaSharingReader.table_changes")]
    assert not {c.rsplit(".", 1)[-1] for c in called_in(
        "reader.py", "DeltaSharingReader.table_changes")} & {
        "unionByName", "withColumn"}
    assert not called_in("reader.py", "_fetch_batches_task") & {
        "json.loads", "decode_partition_values"}
    assert not hasattr(datasource._FilePartition, "file_id")


def test_the_file_cache_is_used_only_in_read_files():
    """The executor file cache is found, looked up and filled only in
    ``scan.read_files`` (its file opener included), so a driver-side
    caller never touches it, and the cache key is built only in
    ``scan.file_tasks``, the one builder of ``FileTask``, so no entry point
    keys a file its own way."""
    calls, _ = _source_calls()

    def callers(callee: str) -> list[tuple[str, str]]:
        return sorted({(f, w) for f, w, c in calls if c == callee})

    assert callers("_cache_root") == [("scan.py", "read_files")]
    assert callers("_cache_open") == [("scan.py", "read_files.open_file")]
    assert callers("_cache_fill") == [("scan.py", "read_files.open_file")]
    assert callers("hashlib.sha256") == [("scan.py", "file_tasks.cache_key")]
    assert callers("cache_key") == [("scan.py", "file_tasks")]


def test_one_read_plan_in_logical_names():
    """Every read entry point takes its partition columns, parquet column
    names and cache identity from ``scan.plan_files``. No ``options``
    access in ``sources/`` reads or writes ``"partition_columns"``; the
    reader renames nothing back after its scan; the cache identity is
    spelled in one function; no source builds a ``TableData`` (a change
    feed's ``TableChanges`` is planned as it is); and both
    ``change_tasks`` callers pass the plan ``plan_files`` made."""
    import ast

    nodes = _source_nodes()
    calls, defs = _source_calls()

    def callers(callee: str) -> list[tuple[str, str]]:
        return sorted({(f, w) for f, w, c in calls if c == callee})

    assert [(f, w) for f, w, n in nodes
            if isinstance(n, (ast.Subscript, ast.Call))
            and "options" in ast.unparse(
                n.value if isinstance(n, ast.Subscript) else n.func)
            and "'partition_columns'" in ast.unparse(n)] == []
    scope = "DeltaSharingReader._dataframe_from_tasks"
    assert defs.count(("reader.py", scope)) == 1
    assert not {c.rsplit(".", 1)[-1] for f, w, c in calls
                if f == "reader.py" and w == scope} & {
        "select", "alias", "toDF", "withColumnRenamed"}
    assert sorted({(f, w) for f, w, n in nodes
                   if isinstance(n, ast.Attribute)
                   and n.attr == "endpoint"}) == [
        ("scan.py", "cache_identity")]
    assert callers("TableData") == []
    assert callers("_stream_plan") == [
        ("datasource.py", "DeltaSharingCDFStreamReader.partitions"),
        ("datasource.py", "DeltaSharingStreamReader.latestOffset")]
    assert ("datasource.py", "_stream_plan") in callers("plan_files")
    plans = {(f, w) for f, w, n in nodes
             if isinstance(n, ast.Assign)
             and [ast.unparse(t) for t in n.targets] == ["plan"]
             and isinstance(n.value, ast.Call)
             and ast.unparse(n.value.func) in ("plan_files", "_stream_plan")}
    change_calls = sorted((f, w, ast.unparse(n.args[0])) for f, w, n in nodes
                          if isinstance(n, ast.Call)
                          and ast.unparse(n.func) == "change_tasks")
    assert change_calls == [
        ("datasource.py", "DeltaSharingCDFStreamReader.partitions", "plan"),
        ("reader.py", "DeltaSharingReader.table_changes", "plan")]
    assert {(f, w) for f, w, _ in change_calls} <= plans


def test_an_empty_listing_is_one_empty_group():
    assert pack_files([]) == [[]]
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=json.dumps({"type": "struct",
                                                "fields": PLAIN}),
                      partition_columns=["p"])
    with MockSharingServer([table]) as srv:
        source = DeltaSharingDataSource(
            {"profile_json": json.dumps(srv.profile_doc()), "table": "s.d.t"})
        reader = source.reader(source.schema())
        parts = reader.partitions()
        assert [p.tasks for p in parts] == [[]]
        assert list(reader.read(parts[0])) == []


# -- one share, every read entry point ------------------------------------

# ids deleted by the on-file deletion vector of /new.parquet
DELETED = {11, 14}


def _parity_rows() -> list[tuple]:
    import datetime

    return sorted(
        [(i, 0.5 * i, None, datetime.date(2021, 4, 28)) for i in range(5)]
        + [(i, 1.5 * (i - 10), f"n{i - 10}", datetime.date(2021, 4, 29))
           for i in range(10, 17) if i not in DELETED])


def _parquet(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    pq.write_table(table, sink, row_group_size=3)
    return sink.getvalue()


@contextlib.contextmanager
def _parity_share(mapped: bool = False, local_dir: str | None = None):
    """Two partitions: /old.parquet was written before ``note`` was added;
    /new.parquet has it, and a deletion vector in a DV file over HTTP. The
    share's one commit added both files.

    ``mapped`` makes it a column-mapped share: every column, the partition
    column too, has the physical name ``col-<name>`` its parquet column
    carries, and /new.parquet spells its partition key physically. With
    ``local_dir`` the data files are listed by ``file://`` URLs there."""
    def name(column: str) -> str:
        return f"col-{column}" if mapped else column

    old = _parquet(pa.table({
        name("id"): pa.array(range(5), pa.int64()),
        name("amount"): pa.array([0.5 * i for i in range(5)])}))
    new = _parquet(pa.table({
        name("id"): pa.array(range(10, 17), pa.int64()),
        name("amount"): pa.array([1.5 * i for i in range(7)]),
        name("note"): pa.array([f"n{i}" for i in range(7)])}))
    dv_data = dv.encode_dv_data(sorted(i - 10 for i in DELETED))
    dv_file, [offset] = dv.encode_dv_file([dv_data])
    blobs = {"/old.parquet": old, "/new.parquet": new, "/del.dv": dv_file}
    schema_string = json.dumps({"type": "struct", "fields": [
        _field(column, kind, name(column) if mapped else None)
        for column, kind in (("id", "long"), ("amount", "double"),
                             ("note", "string"), ("day", "date"))]})
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=schema_string, partition_columns=["day"],
                      version=1, configuration={
                          "delta.columnMapping.mode": "name"} if mapped
                      else {},
                      reader_features=["columnMapping"] if mapped else [])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        def url(path: str) -> str:
            if local_dir is None:
                return f"{srv.base_url}{path}"
            local = os.path.join(local_dir, path.lstrip("/"))
            with open(local, "wb") as fh:
                fh.write(blobs[path])
            return f"file://{local}"

        files = [
            {"id": "old", "url": url("/old.parquet"),
             "size": len(old), "partition_values": {"day": "2021-04-28"}},
            {"id": "new", "url": url("/new.parquet"),
             "size": len(new), "partition_values": {name("day"): "2021-04-29"},
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


def _source(spark, profile: str, stream: bool, **options):
    reader = spark.readStream if stream else spark.read
    for k, v in {"profile_json": profile, "table": "s.d.t",
                 **options}.items():
        reader = reader.option(k, v)
    return reader.format("deltasharing").load()


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
    spark.dataSource.register(DeltaSharingDataSource)
    base = ["id", "amount", "note", "day"]
    want = _parity_rows()
    with _parity_share() as srv:
        profile = json.dumps(srv.profile_doc())

        def source(**options):
            return _source(spark, profile, **options)

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


def test_every_entry_point_reads_a_column_mapped_share_the_same(
        spark, tmp_path):
    """One column mapping policy: a column-mapped share (``col-*`` parquet
    columns, a mapped partition column spelled both ways, one deletion
    vector) reads the same logical rows through ``DeltaSharingReader.table``
    over http and over ``file://``, ``table_changes``,
    ``format("deltasharing")`` and both streams."""
    spark.dataSource.register(DeltaSharingDataSource)
    reads = {}
    for local_dir in (None, str(tmp_path)):
        with _parity_share(mapped=True, local_dir=local_dir) as srv:
            profile = json.dumps(srv.profile_doc())
            reader = DeltaSharingReader(
                spark, DeltaSharingClient(Profile.from_json(profile)))
            if local_dir is not None:
                reads["reader_file"] = reader.table("s.d.t").collect()
                continue
            reads["reader_http"] = reader.table("s.d.t").collect()
            reads["table_changes"] = reader.table_changes(
                "s.d.t", starting_version=1).collect()
            reads["format"] = _source(spark, profile, stream=False).collect()
            reads["snapshot_stream"] = _drain(
                spark, _source(spark, profile, stream=True))
            reads["cdf_stream"] = _drain(spark, _source(
                spark, profile, stream=True, readChangeFeed="true",
                startingVersion="1"))
    assert sorted(reads) == ["cdf_stream", "format", "reader_file",
                             "reader_http", "snapshot_stream",
                             "table_changes"]
    for name, rows in reads.items():
        assert sorted((r.id, r.amount, r.note, r.day)
                      for r in rows) == _parity_rows(), name


# -- the benchmark's trace hook -------------------------------------------

HOOK_PROBE = r"""
import importlib.util, json, os, pickle, socket, sys

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
task = FileTask(path, size, "f", {}, descriptor)
batch = pa.RecordBatch.from_pylist([{"group": pickle.dumps(({}, [task]))}])
ids = [i for b in reader._fetch_batches_task([batch], schema, None, "{}",
                                             "s.d.t")
       for i in b.column("id").to_pylist()]
part = datasource._FilePartition([task])
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
