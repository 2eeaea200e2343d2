"""Reader + catalog integration tests with a live SparkSession and the
in-process mock sharing server (local-file and HTTP strategies)."""

import io
import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_delta_sharing_spark import (
    DeltaSharingCatalog,
    DeltaSharingClient,
    DeltaSharingReader,
    Profile,
)
from tests.mock_server import MockSharingServer, MockTable

SCHEMA_STRING = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": False, "metadata": {}},
    {"name": "amount", "type": "double", "nullable": True, "metadata": {}},
    {"name": "day", "type": "date", "nullable": True, "metadata": {}},
    {"name": "tag", "type": "string", "nullable": True, "metadata": {}},
]})
PARTITION_COLUMNS = ["day", "tag"]


def _blob(ids, amounts) -> bytes:
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "amount": pa.array(amounts, pa.float64())}), sink)
    return sink.getvalue()


def _write_local(tmp_path, name, ids, amounts) -> str:
    path = tmp_path / name
    path.write_bytes(_blob(ids, amounts))
    return str(path)


def _mock_files_local(tmp_path):
    p1 = _write_local(tmp_path, "f1.parquet", [1, 2], [1.0, 2.0])
    p2 = _write_local(tmp_path, "f2.parquet", [3, 4], [3.0, 4.0])
    p3 = _write_local(tmp_path, "f3.parquet", [5, 6], [5.0, 6.0])
    return [
        {"id": "f1", "url": f"file://{p1}", "size": 0,
         "partition_values": {"day": "2021-04-28", "tag": "a"}},
        {"id": "f2", "url": f"file://{p2}", "size": 0,
         "partition_values": {"day": "2021-04-28", "tag": "a"}},
        {"id": "f3", "url": f"file://{p3}", "size": 0,
         "partition_values": {"day": "2021-04-29", "tag": ""}},
    ]


@pytest.fixture()
def local_server(tmp_path):
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS,
                      files=_mock_files_local(tmp_path))
    with MockSharingServer([table]) as srv:
        yield srv


def _reader(spark, server, **kw):
    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    return DeltaSharingReader(spark, client, **kw)


def test_local_strategy_partition_reconstruction(spark, local_server):
    df = _reader(spark, local_server).table("s.d.t")
    assert df.columns == ["id", "amount", "day", "tag"]
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 6
    assert str(rows[1].day) == "2021-04-28" and rows[1].tag == "a"
    assert str(rows[5].day) == "2021-04-29"
    assert rows[5].tag is None  # empty string partition value -> typed NULL


def test_local_strategy_projection_and_predicate(spark, local_server):
    df = _reader(spark, local_server).table(
        "s.d.t", predicate="id > 2 AND id <= 5", columns=["id", "day"])
    assert df.columns == ["id", "day"]
    assert sorted(r.id for r in df.collect()) == [3, 4, 5]


def test_local_strategy_limit(spark, local_server):
    assert _reader(spark, local_server).table("s.d.t", limit=4).count() == 4


def test_distinct_partition_groups_coalesced(spark, local_server):
    # 3 files but only 2 distinct partition tuples -> 2 scan groups
    df = _reader(spark, local_server).table("s.d.t")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 2


def test_http_strategy_end_to_end(spark):
    blobs = {"/a.parquet": _blob([1, 2, 3], [1.0, 2.0, 3.0]),
             "/b.parquet": _blob([4, 5, 6], [4.0, 5.0, 6.0])}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.extend([
            {"id": "a", "url": f"{srv.base_url}/a.parquet",
             "size": len(blobs["/a.parquet"]),
             "partition_values": {"day": "2021-04-28", "tag": "x"}},
            {"id": "b", "url": f"{srv.base_url}/b.parquet",
             "size": len(blobs["/b.parquet"]),
             "partition_values": {"day": "", "tag": "y"}},
        ])
        df = _reader(spark, srv).table("s.d.t")
        rows = {r.id: r for r in df.collect()}
        assert len(rows) == 6
        assert str(rows[1].day) == "2021-04-28" and rows[1].tag == "x"
        assert rows[4].day is None and rows[4].tag == "y"
        # every data column is read: one ranged GET per file, covering it
        gets = sorted((r["path"], r["range"]) for r in srv.requests
                      if r["path"].endswith(".parquet"))
        assert gets == [
            (p, f"bytes=0-{len(blobs[p]) - 1}")
            for p in ("/a.parquet", "/b.parquet")]


def test_http_strategy_projection(spark):
    blobs = {"/a.parquet": _blob([1, 2], [1.0, 2.0])}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.append({"id": "a", "url": f"{srv.base_url}/a.parquet",
                            "size": len(blobs["/a.parquet"]),
                            "partition_values": {"day": "2021-04-28", "tag": "x"}})
        df = _reader(spark, srv).table("s.d.t", columns=["amount", "tag"])
        assert df.columns == ["amount", "tag"]
        assert sorted(r.amount for r in df.collect()) == [1.0, 2.0]


def test_stats_pruning_skips_fetch(spark):
    blobs = {"/a.parquet": _blob([1, 2], [1.0, 2.0]),
             "/b.parquet": _blob([10, 20], [1.0, 2.0])}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        for fid, lo, hi in (("a", 1, 2), ("b", 10, 20)):
            table.files.append({
                "id": fid, "url": f"{srv.base_url}/{fid}.parquet",
                "size": len(blobs[f"/{fid}.parquet"]),
                "partition_values": {"day": "2021-04-28", "tag": "x"},
                "stats": json.dumps({"numRecords": 2, "minValues": {"id": lo},
                                     "maxValues": {"id": hi},
                                     "nullCount": {"id": 0}})})
        df = _reader(spark, srv).table("s.d.t", predicate="id >= 10")
        assert sorted(r.id for r in df.collect()) == [10, 20]
        fetched = {r["path"] for r in srv.requests if r["path"].endswith(".parquet")}
        assert fetched == {"/b.parquet"}


def test_partition_value_pruning_skips_fetch(spark):
    """A predicate on a partition column must prune non-matching files
    CLIENT-side (min = max = partition value), even when the server
    ignores jsonPredicateHints and returns every file — without this the
    scan fetches partitions that can never match. Empty partition value
    (typed NULL) prunes under IS NOT NULL via the all-null rule."""
    blobs = {"/pa.parquet": _blob([1, 2], [1.0, 2.0]),
             "/pb.parquet": _blob([3, 4], [3.0, 4.0]),
             "/pc.parquet": _blob([5, 6], [5.0, 6.0])}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.extend([
            {"id": "pa", "url": f"{srv.base_url}/pa.parquet",
             "size": len(blobs["/pa.parquet"]),
             "partition_values": {"day": "2021-04-28", "tag": "x"}},
            {"id": "pb", "url": f"{srv.base_url}/pb.parquet",
             "size": len(blobs["/pb.parquet"]),
             "partition_values": {"day": "2021-04-29", "tag": "x"}},
            {"id": "pc", "url": f"{srv.base_url}/pc.parquet",
             "size": len(blobs["/pc.parquet"]),
             "partition_values": {"day": "2021-04-29", "tag": ""}},
        ])
        df = _reader(spark, srv).table(
            "s.d.t", predicate="day = '2021-04-29' AND tag IS NOT NULL")
        assert sorted(r.id for r in df.collect()) == [3, 4]
        fetched = {r["path"] for r in srv.requests
                   if r["path"].endswith(".parquet")}
        # pa pruned by day mismatch; pc pruned by all-NULL tag
        assert fetched == {"/pb.parquet"}


def test_empty_file_list_gives_empty_typed_df(spark):
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        assert df.count() == 0
        assert df.columns == ["id", "amount", "day", "tag"]


def test_catalog_discovery_and_sql(spark, local_server):
    catalog = DeltaSharingCatalog(
        spark, Profile.from_json(local_server.profile_doc()))
    assert catalog.share_names() == ["s"]
    assert catalog.table_names() == ["s.d.t"]
    listing = catalog.list_tables().collect()
    assert listing[0].view_name == "s__d__t"
    out = catalog.sql(
        "SELECT day, count(*) AS n FROM s.d.t GROUP BY day ORDER BY day")
    assert [(str(r.day), r.n) for r in out.collect()] == [
        ("2021-04-28", 4), ("2021-04-29", 2)]
    # memoized resolution: second reference reuses the registered view
    assert catalog.table("s.d.t") is catalog.table("s.d.t")


def test_catalog_unknown_table(spark, local_server):
    catalog = DeltaSharingCatalog(
        spark, Profile.from_json(local_server.profile_doc()))
    with pytest.raises(KeyError):
        catalog.table("s.d.nope")


def test_connection_string_bootstrap(spark, local_server, tmp_path):
    profile_path = tmp_path / "p.share"
    profile_path.write_text(json.dumps(local_server.profile_doc()))
    df = DeltaSharingReader.load(spark, f"{profile_path}#s.d.t")
    assert df.count() == 6


def test_ranged_reader_retries_transient_5xx(spark):
    """First two range GETs per request path return 503; the reader must
    retry and the scan must still return every row."""
    import threading

    blobs = {"/r.parquet": _blob([1, 2, 3], [1.0, 2.0, 3.0])}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    failures = {"remaining": 2}
    lock = threading.Lock()

    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.append({"id": "r", "url": f"{srv.base_url}/r.parquet",
                            "size": len(blobs["/r.parquet"]),
                            "partition_values": {"day": "2021-04-28",
                                                 "tag": "x"}})
        orig = srv.parquet_bytes

        class Flaky(dict):
            def __contains__(self, key):
                return key in orig

            def __getitem__(self, key):
                with lock:
                    if failures["remaining"] > 0:
                        failures["remaining"] -= 1
                        raise BrokenPipeError("synthetic transient failure")
                return orig[key]

        srv.parquet_bytes = Flaky()
        df = _reader(spark, srv).table("s.d.t")
        assert sorted(r.id for r in df.collect()) == [1, 2, 3]
        assert failures["remaining"] == 0


def test_expired_url_triggers_relist_refresh(spark):
    """The presigned URL from the first listing 403s; the executor must
    re-list the table with a fresh client and read from the new URL
    (File.expirationTimestamp handling the reference lacks)."""
    blobs = {"/fresh.parquet": _blob([7, 8], [7.0, 8.0])}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        srv.forbidden_paths.add("/stale.parquet")
        stale = {"id": "f", "url": f"{srv.base_url}/stale.parquet",
                 "size": len(blobs["/fresh.parquet"]),
                 "partition_values": {"day": "2021-04-28", "tag": "x"}}
        table.files.append(stale)
        df = _reader(spark, srv).table("s.d.t")  # listing captures stale URL
        # server rotates the URL before execution (as if re-signed)
        table.files[0] = {**stale, "url": f"{srv.base_url}/fresh.parquet"}
        assert sorted(r.id for r in df.collect()) == [7, 8]
        relists = [r for r in srv.requests if r["path"].endswith("/query")]
        assert len(relists) >= 2  # original listing + executor refresh


def test_limit_prunes_files_with_stats(spark):
    blobs = {f"/l{i}.parquet": _blob([i * 10, i * 10 + 1], [1.0, 2.0])
             for i in range(4)}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        for i in range(4):
            table.files.append({
                "id": f"l{i}", "url": f"{srv.base_url}/l{i}.parquet",
                "size": len(blobs[f"/l{i}.parquet"]),
                "partition_values": {"day": "2021-04-28", "tag": "x"},
                "stats": json.dumps({"numRecords": 2})})
        df = _reader(spark, srv).table("s.d.t", limit=3)
        assert df.count() == 3
        fetched = {r["path"] for r in srv.requests if r["path"].endswith(".parquet")}
        assert len(fetched) == 2  # 2 files cover limit=3; other 2 never opened


def test_information_schema_tables_sql(spark, local_server):
    catalog = DeltaSharingCatalog(
        spark, Profile.from_json(local_server.profile_doc()))
    rows = catalog.sql(
        "SELECT table_name, view_name FROM information_schema.tables "
        "ORDER BY table_name").collect()
    assert [(r.table_name, r.view_name) for r in rows] == [("t", "s__d__t")]


def test_limit_prune_disabled_with_unpushable_predicate(spark):
    """Regression (found in review): a predicate that fails to push
    (predicate_op None) must DISABLE limit-based file pruning — pruned
    files could hold the only matching rows."""
    blobs = {"/p0.parquet": _blob([1, 2], [1.0, 2.0]),
             "/p1.parquet": _blob([100, 101], [3.0, 4.0])}
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        for i in range(2):
            table.files.append({
                "id": f"p{i}", "url": f"{srv.base_url}/p{i}.parquet",
                "size": len(blobs[f"/p{i}.parquet"]),
                "partition_values": {"day": "2021-04-28", "tag": "x"},
                "stats": json.dumps({"numRecords": 2})})
        # 'id % 2 = 0 OR id >= 100' is not pushable -> engine-side only
        df = _reader(spark, srv).table(
            "s.d.t", predicate="id % 2 = 0 OR id >= 100", limit=3)
        assert sorted(r.id for r in df.collect()) == [2, 100, 101]


def test_many_partition_groups_single_scan(spark, tmp_path):
    """40 distinct partition tuples -> the reader must switch to one scan +
    broadcast partition-value join instead of 40 unioned scans."""
    files = []
    for i in range(40):
        path = _write_local(tmp_path, f"g{i}.parquet", [i], [float(i)])
        files.append({"id": f"g{i}", "url": f"file://{path}", "size": 0,
                      "partition_values": {"day": f"2021-04-{(i % 28) + 1:02d}",
                                           "tag": f"t{i}"}})
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files)
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        rows = {r.id: r for r in df.collect()}
        assert len(rows) == 40
        assert rows[7].tag == "t7" and str(rows[7].day) == "2021-04-08"
        assert rows[39].tag == "t39"
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # exactly ONE parquet relation (not 40 unioned scans) + the
        # broadcast mapping join
        assert plan.count("Relation [") == 1
        assert "Join Inner" in plan and "broadcast" in plan


def test_residual_predicate_on_projected_away_column(spark, local_server):
    """ADVICE r1: predicate references a column the caller projects away —
    the residual filter must run against the full-width scan, then
    re-project (the reference filters against the provider schema)."""
    df = _reader(spark, local_server).table(
        "s.d.t", predicate="amount > 2.5", columns=["id"])
    assert df.columns == ["id"]
    assert sorted(r.id for r in df.collect()) == [3, 4, 5, 6]


def test_unpushable_predicate_with_projection(spark, local_server):
    """Same bug, non-pushable predicate flavor (referenced columns unknown
    -> scan full schema, filter, then project)."""
    df = _reader(spark, local_server).table(
        "s.d.t", predicate="amount * 2 > 5", columns=["id"])
    assert df.columns == ["id"]
    assert sorted(r.id for r in df.collect()) == [3, 4, 5, 6]


def test_single_scan_path_with_uri_special_chars(spark, tmp_path):
    """ADVICE r1: input_file_name() returns percent-encoded URIs; files in
    directories with spaces must still get their partition values (rows
    were silently dropped by the encoded-vs-raw key mismatch)."""
    base = tmp_path / "with space+plus"
    base.mkdir()
    files = []
    for i in range(20):  # > MAX_PARTITION_SCANS distinct tuples
        path = base / f"u{i}.parquet"
        path.write_bytes(_blob([i], [float(i)]))
        files.append({"id": f"u{i}", "url": f"file://{path}", "size": 0,
                      "partition_values": {"day": f"2021-04-{(i % 28) + 1:02d}",
                                           "tag": f"t{i}"}})
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files)
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        rows = {r.id: r for r in df.collect()}
        assert len(rows) == 20  # no silent row loss
        assert rows[3].tag == "t3"


def test_sql_string_literal_not_rewritten(spark, local_server):
    """ADVICE r1: a data string spelling a known FQN must survive the
    three-part-name rewrite verbatim."""
    catalog = DeltaSharingCatalog(
        spark, Profile.from_json(local_server.profile_doc()))
    out = catalog.sql(
        "SELECT 's.d.t' AS lit, count(*) AS n FROM s.d.t -- touches s.d.t\n"
        "WHERE tag <> 's.d.t'")
    row = out.collect()[0]
    assert row.lit == "s.d.t"
    assert row.n == 4  # 4 rows with tag='a'; NULL-tag rows fail the <>



def test_deletion_vector_files_are_refused(spark, tmp_path):
    """A file action carrying a deletionVector must fail the scan loudly:
    reading the raw parquet would resurrect every soft-deleted row."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    p = _write_local(tmp_path, "dv.parquet", [1, 2], [1.0, 2.0])
    files = [{"id": "dv1", "url": f"file://{p}", "size": 0,
              "partition_values": {"day": "2021-04-28", "tag": "a"},
              "deletion_vector": {"storageType": "u", "pathOrInlineDv": "x",
                                  "sizeInBytes": 40, "cardinality": 1}}]
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files)
    with MockSharingServer([table]) as srv:
        with pytest.raises(DeltaSharingError, match="deletion vector"):
            _reader(spark, srv).table("s.d.t").collect()


def test_delta_response_format_round_trips(spark, tmp_path):
    """responseformat=delta: protocol/metaData/file fields arrive wrapped
    in deltaProtocol/deltaMetadata/deltaSingleAction; the client unwraps
    them and the scan returns the same rows as the parquet format. The
    capabilities header advertising both formats must be on the request."""
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS,
                      files=_mock_files_local(tmp_path),
                      response_format="delta")
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        rows = {r.id: (r.amount, str(r.day), r.tag) for r in df.collect()}
        assert len(rows) == 6
        assert rows[1] == (1.0, "2021-04-28", "a")
        # empty partition value decodes to NULL (empty→NULL protocol rule)
        assert rows[5] == (5.0, "2021-04-29", None)
        caps = [req["capabilities"]
                for req in srv.requests if "/query" in req["path"]]
        assert caps and all(
            c == "responseformat=parquet,delta;"
                 "readerfeatures=deletionvectors,columnmapping,typewidening"
            for c in caps)


def test_delta_format_deletion_vector_refused(spark, tmp_path):
    p = _write_local(tmp_path, "dv2.parquet", [1], [1.0])
    files = [{"id": "dv", "url": f"file://{p}", "size": 0,
              "partition_values": {"day": "2021-04-28", "tag": "a"},
              "deletion_vector": {"storageType": "u",
                                  "pathOrInlineDv": "x",
                                  "sizeInBytes": 40, "cardinality": 1}}]
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files,
                      response_format="delta")
    with MockSharingServer([table]) as srv:
        from datafusion_delta_sharing_spark.errors import DeltaSharingError

        with pytest.raises(DeltaSharingError, match="deletion vector"):
            _reader(spark, srv).table("s.d.t").collect()


def test_column_mapping_without_physical_names_refused(spark, tmp_path):
    """delta.columnMapping.mode set but the schema carries no
    physicalName metadata: the physical parquet columns cannot be
    resolved — refuse loudly at plan time rather than read all-NULL
    columns (r6: well-formed column-mapped tables are now TRANSLATED,
    see test_column_mapped_table_is_translated)."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS,
                      files=_mock_files_local(tmp_path),
                      response_format="delta",
                      configuration={"delta.columnMapping.mode": "name"})
    with MockSharingServer([table]) as srv:
        with pytest.raises(DeltaSharingError, match="physicalName"):
            _reader(spark, srv).table("s.d.t").collect()


CM_SCHEMA_STRING = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": False,
     "metadata": {"delta.columnMapping.id": 1,
                  "delta.columnMapping.physicalName": "col-1111"}},
    {"name": "amount", "type": "double", "nullable": True,
     "metadata": {"delta.columnMapping.id": 2,
                  "delta.columnMapping.physicalName": "col-2222"}},
    {"name": "day", "type": "date", "nullable": True,
     "metadata": {"delta.columnMapping.id": 3,
                  "delta.columnMapping.physicalName": "col-3333"}},
]})


def _cm_blob(ids, amounts) -> bytes:
    """Parquet bytes as a column-mapped writer produces them: PHYSICAL
    column names (col-<id>) on disk."""
    sink = io.BytesIO()
    pq.write_table(pa.table({"col-1111": pa.array(ids, pa.int64()),
                             "col-2222": pa.array(amounts, pa.float64())}),
                   sink)
    return sink.getvalue()


def test_column_mapped_table_is_translated(spark, tmp_path):
    """delta.columnMapping.mode='name' tables are TRANSLATED (r6): the
    scan reads each logical column from its physicalName parquet column,
    so logical columns come back with real data — the reference-class
    behavior (ignore the metadata) reads all-NULL columns. One file
    carries LOGICAL partition-value keys (parquet-format responses,
    server-translated), the other PHYSICAL keys (raw delta-format add
    actions): both decode."""
    p1 = tmp_path / "cm1.parquet"
    p1.write_bytes(_cm_blob([1, 2], [1.0, 2.0]))
    p2 = tmp_path / "cm2.parquet"
    p2.write_bytes(_cm_blob([3, 4], [3.0, 4.0]))
    files = [
        {"id": "c1", "url": f"file://{p1}", "size": 0,
         "partition_values": {"day": "2021-04-28"}},       # logical key
        {"id": "c2", "url": f"file://{p2}", "size": 0,
         "partition_values": {"col-3333": "2021-04-29"}},  # physical key
    ]
    table = MockTable(share="s", schema="d", name="cm",
                      schema_string=CM_SCHEMA_STRING,
                      partition_columns=["day"], files=files,
                      configuration={"delta.columnMapping.mode": "name"},
                      reader_features=["columnMapping"])
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.cm")
        assert df.columns == ["id", "amount", "day"]
        rows = {r.id: r for r in df.collect()}
        assert set(rows) == {1, 2, 3, 4}
        assert rows[2].amount == 2.0  # real data, not the all-NULL bug
        assert str(rows[1].day) == "2021-04-28"
        assert str(rows[3].day) == "2021-04-29"
        # projection + predicate spelled in LOGICAL names
        df2 = _reader(spark, srv).table(
            "s.d.cm", predicate="id >= 3", columns=["id", "amount"])
        assert df2.columns == ["id", "amount"]
        assert sorted((r.id, r.amount) for r in df2.collect()) == [
            (3, 3.0), (4, 4.0)]


def test_column_mapped_http_strategy_prunes_physical_stats(spark):
    """Distributed (HTTP/mapInArrow) strategy over a column-mapped table:
    raw delta-format stats are keyed by PHYSICAL names — the logical
    predicate must still prune the non-matching file (op re-expressed in
    physical names), and the pruned file must never be fetched."""
    blobs = {"/cmh1.parquet": _cm_blob([1, 2], [1.0, 2.0]),
             "/cmh2.parquet": _cm_blob([30, 40], [3.0, 4.0])}
    table = MockTable(share="s", schema="d", name="cmh",
                      schema_string=CM_SCHEMA_STRING,
                      partition_columns=["day"], files=[],
                      configuration={"delta.columnMapping.mode": "name"})
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.extend([
            {"id": "h1", "url": f"{srv.base_url}/cmh1.parquet",
             "size": len(blobs["/cmh1.parquet"]),
             "partition_values": {"col-3333": "2021-04-28"},
             "stats": json.dumps({"numRecords": 2,
                                  "minValues": {"col-1111": 1},
                                  "maxValues": {"col-1111": 2}})},
            {"id": "h2", "url": f"{srv.base_url}/cmh2.parquet",
             "size": len(blobs["/cmh2.parquet"]),
             "partition_values": {"col-3333": "2021-04-29"},
             "stats": json.dumps({"numRecords": 2,
                                  "minValues": {"col-1111": 30},
                                  "maxValues": {"col-1111": 40}})},
        ])
        df = _reader(spark, srv).table("s.d.cmh", predicate="id < 10")
        rows = {r.id: r for r in df.collect()}
        assert set(rows) == {1, 2}
        assert str(rows[1].day) == "2021-04-28"
        fetched = {r["path"] for r in srv.requests
                   if r["path"].endswith(".parquet")}
        assert "/cmh2.parquet" not in fetched, "physical stats not pruned"


def test_column_mapping_composes_with_type_widening(spark, tmp_path):
    """One file exercising BOTH translations: physical column names
    (columnMapping) holding pre-widening narrow types (typeWidening) —
    the scan must widen while it reads each logical column from its
    physical parquet column."""
    cm_wide_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False,
         "metadata": {"delta.columnMapping.physicalName": "col-1111"}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-2222"}},
    ]})
    sink = io.BytesIO()
    pq.write_table(pa.table({
        "col-1111": pa.array([1, 2], pa.int32()),       # narrow + physical
        "col-2222": pa.array([1.5, 2.5], pa.float32())}), sink)
    p = tmp_path / "cmw.parquet"
    p.write_bytes(sink.getvalue())
    table = MockTable(share="s", schema="d", name="cmw",
                      schema_string=cm_wide_schema, partition_columns=[],
                      files=[{"id": "cmw", "url": f"file://{p}", "size": 0,
                              "partition_values": {}}],
                      configuration={"delta.columnMapping.mode": "name"},
                      reader_features=["columnMapping", "typeWidening"])
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.cmw")
        assert df.columns == ["id", "amount"]
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "bigint", "double"]
        assert sorted((r.id, r.amount) for r in df.collect()) == [
            (1, 1.5), (2, 2.5)]


def test_column_mapping_nested_rename_refused(spark, tmp_path):
    """A nested field with its own physicalName cannot be translated by
    a flat select-alias — must refuse at plan time, not mis-read."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    nested_schema = json.dumps({"type": "struct", "fields": [
        {"name": "s", "nullable": True, "metadata":
            {"delta.columnMapping.physicalName": "col-s"},
         "type": {"type": "struct", "fields": [
             {"name": "x", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.physicalName": "col-x"}}]}},
    ]})
    p = tmp_path / "n.parquet"
    p.write_bytes(_cm_blob([1], [1.0]))
    table = MockTable(share="s", schema="d", name="n",
                      schema_string=nested_schema,
                      partition_columns=[], files=[
                          {"id": "n", "url": f"file://{p}", "size": 0,
                           "partition_values": {}}],
                      configuration={"delta.columnMapping.mode": "name"})
    with MockSharingServer([table]) as srv:
        with pytest.raises(DeltaSharingError, match="NESTED"):
            _reader(spark, srv).table("s.d.n")


VARIANT_SCHEMA_STRING = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "v", "type": "variant", "nullable": True, "metadata": {}},
]})


def _variant_parquet(spark, tmp_path) -> str:
    """A real variant parquet file written by Spark (parse_json)."""
    out = tmp_path / "variant_tbl"
    (spark.sql("SELECT id, parse_json(concat('{\"a\":', id, '}')) AS v "
               "FROM range(3)")
     .coalesce(1).write.mode("overwrite").parquet(str(out)))
    import glob as _glob

    return _glob.glob(str(out / "*.parquet"))[0]


def test_variant_table_reads_on_local_strategy(spark, tmp_path):
    """variantType: Spark 4 reads the parquet VARIANT logical type
    natively on the local strategy; variant_get works on the result."""
    p = _variant_parquet(spark, tmp_path)
    table = MockTable(share="s", schema="d", name="vt",
                      schema_string=VARIANT_SCHEMA_STRING,
                      partition_columns=[], files=[
                          {"id": "v", "url": f"file://{p}", "size": 0,
                           "partition_values": {}}],
                      reader_features=["variantType"])
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.vt")
        got = sorted((r.id, r.a) for r in df.selectExpr(
            "id", "variant_get(v, '$.a', 'int') AS a").collect())
        assert got == [(0, 0), (1, 1), (2, 2)]


def test_variant_over_http_refuses_at_plan_time(spark, tmp_path):
    """pyarrow cannot parse a footer with the VARIANT logical type: the
    HTTP strategy must refuse with a clear plan-time error instead of an
    obscure task-side Thrift failure."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    p = _variant_parquet(spark, tmp_path)
    with open(p, "rb") as fh:
        blob = fh.read()
    table = MockTable(share="s", schema="d", name="vh",
                      schema_string=VARIANT_SCHEMA_STRING,
                      partition_columns=[], files=[],
                      reader_features=["variantType"])
    with MockSharingServer([table], parquet_bytes={"/v.parquet": blob}) as srv:
        table.files.append({"id": "v", "url": f"{srv.base_url}/v.parquet",
                            "size": len(blob), "partition_values": {}})
        with pytest.raises(DeltaSharingError, match="VARIANT"):
            _reader(spark, srv).table("s.d.vh")


def test_capabilities_header_is_configurable(spark, tmp_path):
    """ADVICE r4: a provider that answers the delta capability with
    features this reader refuses (column mapping, exotic DVs) can be
    re-queried parquet-only; the opt-out must reach the wire."""
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS,
                      files=_mock_files_local(tmp_path))
    with MockSharingServer([table]) as srv:
        client = DeltaSharingClient(Profile.from_json(srv.profile_doc()),
                                    capabilities="responseformat=parquet")
        df = DeltaSharingReader(spark, client).table("s.d.t")
        assert df.count() == 6
        caps = [req["capabilities"]
                for req in srv.requests if "/query" in req["path"]]
        assert caps and all(c == "responseformat=parquet" for c in caps)


# ---------------------------------------------------------------------------
# Deletion vectors applied on the reader strategies (VERDICT r4 #2)
# ---------------------------------------------------------------------------


def _dv_write_grouped(tmp_path, name, ids, row_group_size=2) -> str:
    path = tmp_path / name
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "amount": pa.array([float(i) for i in ids],
                                                pa.float64())}),
                   sink, row_group_size=row_group_size)
    path.write_bytes(sink.getvalue())
    return str(path)


def test_dv_applied_on_local_strategy(spark, tmp_path):
    """Inline DVs on the local per-partition-group scan: soft-deleted
    (file, row position) pairs are anti-joined away; rows from a DV-free
    file in the same partition group are untouched."""
    from datafusion_delta_sharing_spark.sources import dv

    p1 = _dv_write_grouped(tmp_path, "dv1.parquet", [1, 2, 3, 4, 5])
    p2 = _dv_write_grouped(tmp_path, "dv2.parquet", [6, 7, 8])
    files = [
        {"id": "f1", "url": f"file://{p1}", "size": 0,
         "partition_values": {"day": "2021-04-28", "tag": "a"},
         # positions 1 and 4 -> ids 2 and 5
         "deletion_vector": dv.inline_descriptor([1, 4])},
        {"id": "f2", "url": f"file://{p2}", "size": 0,
         "partition_values": {"day": "2021-04-28", "tag": "a"}},
    ]
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files)
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        assert sorted(r.id for r in df.collect()) == [1, 3, 4, 6, 7, 8]
        # projection after the DV anti-join still works
        thin = _reader(spark, srv).table("s.d.t", columns=["id"])
        assert sorted(r.id for r in thin.collect()) == [1, 3, 4, 6, 7, 8]


def test_dv_applied_on_local_single_scan_strategy(spark, tmp_path):
    """>MAX_PARTITION_SCANS distinct partition tuples switches to the one-
    scan + file-identity join; the DV anti-join must ride that path too."""
    from datafusion_delta_sharing_spark.sources import dv

    files = []
    for i in range(20):
        ids = [i * 10 + j for j in range(3)]
        p = _dv_write_grouped(tmp_path, f"ss{i}.parquet", ids)
        f = {"id": f"ss{i}", "url": f"file://{p}", "size": 0,
             "partition_values": {"day": f"2021-04-{(i % 28) + 1:02d}",
                                  "tag": f"t{i}"}}
        if i % 3 == 0:  # delete the middle row (position 1) of every 3rd file
            f["deletion_vector"] = dv.inline_descriptor([1])
        files.append(f)
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files)
    expected = sorted(i * 10 + j for i in range(20) for j in range(3)
                      if not (i % 3 == 0 and j == 1))
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        assert sorted(r.id for r in df.collect()) == expected


def test_dv_applied_on_distributed_strategy(spark, tmp_path):
    """http URLs take the mapInArrow fetch path: the DV decodes INSIDE the
    executor task and masks batches by file-row position."""
    from datafusion_delta_sharing_spark.sources import dv

    ids = list(range(12))
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "amount": pa.array([float(i) for i in ids],
                                                pa.float64())}),
                   sink, row_group_size=4)
    blob = sink.getvalue()
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes={"/dv.parquet": blob}) as srv:
        table.files.append(
            {"id": "dv", "url": f"{srv.base_url}/dv.parquet",
             "size": len(blob),
             "partition_values": {"day": "2021-04-28", "tag": "a"},
             "deletion_vector": dv.inline_descriptor([0, 5, 11])})
        df = _reader(spark, srv).table("s.d.t")
        assert sorted(r.id for r in df.collect()) == sorted(
            set(ids) - {0, 5, 11})


def test_delta_format_deletion_vector_applied(spark, tmp_path):
    """A delta-format response whose add action carries an inline DV reads
    correctly (the r4 refusal is now only for unresolvable storage types)."""
    from datafusion_delta_sharing_spark.sources import dv

    p = _dv_write_grouped(tmp_path, "dvd.parquet", [1, 2, 3, 4])
    files = [{"id": "dvd", "url": f"file://{p}", "size": 0,
              "partition_values": {"day": "2021-04-28", "tag": "a"},
              "deletion_vector": dv.inline_descriptor([2])}]
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files,
                      response_format="delta")
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        assert sorted(r.id for r in df.collect()) == [1, 2, 4]


def test_percent_encoded_file_url_with_dv(spark, tmp_path):
    """RFC 8089 file: URLs are percent-encoded; the scan must decode the
    path (r5 fix: the encoded form previously failed PATH_NOT_FOUND) and
    the DV anti-join key must match the scan's file identity — a space in
    the path must neither lose rows nor resurrect soft-deleted ones."""
    from datafusion_delta_sharing_spark.sources import dv

    d = tmp_path / "dir with space"
    d.mkdir()
    p = d / "file with space.parquet"
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                             "amount": pa.array([1.0, 2.0, 3.0],
                                                pa.float64())}), sink)
    p.write_bytes(sink.getvalue())
    from urllib.parse import quote
    files = [{"id": "sp", "url": "file://" + quote(str(p)), "size": 0,
              "partition_values": {"day": "2021-04-28", "tag": "a"},
              "deletion_vector": dv.inline_descriptor([1])}]
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files)
    with MockSharingServer([table]) as srv:
        df = _reader(spark, srv).table("s.d.t")
        assert sorted(r.id for r in df.collect()) == [1, 3]


def test_catalog_sql_case_insensitive_three_part_names(spark, local_server):
    """Spark SQL identifiers are case-insensitive; the three-part-name
    rewriter must resolve `S.D.T` to the same share as `s.d.t` (r5 review
    fix — the miss used to surface as TABLE_OR_VIEW_NOT_FOUND)."""
    catalog = DeltaSharingCatalog(
        spark, Profile.from_json(local_server.profile_doc()))
    out = catalog.sql("SELECT count(*) AS n FROM S.D.T WHERE id <= 4")
    assert out.collect()[0].n == 4
    # the Python API resolves case-insensitively too
    assert catalog.table("S.d.T").count() == 6


def test_catalog_case_ambiguous_names_refuse(spark):
    """Sharing names are case-sensitive server-side, so 's.d.t' and
    'S.d.t' can coexist. A wrong-case reference must refuse loudly, not
    silently resolve to whichever table the ci-map saw last; and because
    Spark temp-view names are case-INsensitive, registering both views
    would clobber — the second exact-spelled access must refuse too."""
    ta = MockTable(share="s", schema="d", name="t",
                   schema_string=SCHEMA_STRING,
                   partition_columns=[], files=[])
    tb = MockTable(share="S", schema="d", name="t",
                   schema_string=SCHEMA_STRING,
                   partition_columns=[], files=[])
    with MockSharingServer([ta, tb]) as srv:
        catalog = DeltaSharingCatalog(
            spark, Profile.from_json(srv.profile_doc()))
        with pytest.raises(KeyError, match="ambiguous"):
            catalog.table("s.D.T")
        with pytest.raises(KeyError, match="ambiguous"):
            catalog.sql("SELECT * FROM s.D.T")
        # exact spelling resolves; the second one hits the view-name
        # clobber guard instead of silently replacing the first view
        assert catalog.table("s.d.t").count() == 0
        with pytest.raises(KeyError, match="collision"):
            catalog.table("S.d.t")


def test_catalog_info_schema_literal_does_not_register_view(spark,
                                                            local_server):
    """A string literal spelling information_schema.tables must not
    trigger the listing side effect (registering the temp view would
    clobber a user view of that name)."""
    spark.catalog.dropTempView("information_schema__tables")
    catalog = DeltaSharingCatalog(
        spark, Profile.from_json(local_server.profile_doc()))
    row = catalog.sql(
        "SELECT 'see information_schema.tables' AS note").collect()[0]
    assert row.note == "see information_schema.tables"
    assert not spark.catalog.tableExists("information_schema__tables")
    # and the real reference still resolves
    assert catalog.sql(
        "SELECT count(*) AS n FROM information_schema.tables"
    ).collect()[0].n == 1


def test_mock_server_suffix_and_open_ranges(local_server, tmp_path):
    """The mock's Range support must cover the RFC-7233 single-range forms
    real HTTP file layers send (suffix 'bytes=-n' is the footer-first
    read), plus 416 on unsatisfiable ranges."""
    import requests

    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=[], files=[])
    blob = bytes(range(200)) * 2
    with MockSharingServer([table], parquet_bytes={"/b.bin": blob}) as srv:
        url = f"{srv.base_url}/b.bin"
        r = requests.get(url, headers={"Range": "bytes=-100"})
        assert r.status_code == 206 and r.content == blob[-100:]
        r = requests.get(url, headers={"Range": "bytes=350-"})
        assert r.status_code == 206 and r.content == blob[350:]
        r = requests.get(url, headers={"Range": f"bytes={len(blob)}-"})
        assert r.status_code == 416
        r = requests.get(url, headers={"Range": "bytes=0-99"})
        assert r.status_code == 206 and r.content == blob[:100]


def test_range_ignoring_server_still_reads_correctly(spark):
    """RFC 7233 makes Range advisory: a server/proxy that answers 200
    with the whole body must not corrupt ranged reads — pre-fix the full
    body was treated as the requested slice (parquet starts AND ends with
    PAR1, so the footer probe mis-bound silently)."""
    ids = list(range(25))
    buf = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "amount": pa.array([float(i) for i in ids],
                                                pa.float64())}),
                   buf, row_group_size=7)
    blob = buf.getvalue()
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=[])
    with MockSharingServer([table], parquet_bytes={"/nr.parquet": blob}) as srv:
        srv.ignore_range = True
        table.files.append(
            {"id": "nr", "url": f"{srv.base_url}/nr.parquet",
             "size": len(blob),
             "partition_values": {"day": "2021-04-28", "tag": "a"}})
        df = _reader(spark, srv).table("s.d.t")
        assert sorted(r.id for r in df.collect()) == ids


def test_limit_hint_not_sent_with_predicate(spark, local_server):
    """limitHint together with a predicate is unsound: a server pruning
    files by cumulative row count assumes unfiltered reads, so the only
    files holding matches could be pruned. The hint must go out only for
    filterless limits; the exact limit still applies client-side."""
    reader = _reader(spark, local_server)
    reader.table("s.d.t", predicate="id >= 2", limit=2)
    body = json.loads([r for r in local_server.requests
                       if r["path"].endswith("/query")][-1]["body"])
    assert "limitHint" not in body
    assert "jsonPredicateHints" in body
    reader.table("s.d.t", limit=2)
    body = json.loads([r for r in local_server.requests
                       if r["path"].endswith("/query")][-1]["body"])
    assert body.get("limitHint") == 2


def test_empty_listing_preserves_projection_order(spark, local_server):
    """When pruning (or the server) eliminates every file, the empty
    DataFrame must carry the CALLER's column order — table-schema order
    silently mis-binds positional consumers the moment data shrinks."""
    reader = _reader(spark, local_server)
    df = reader.table("s.d.t", predicate="id > 999999", limit=None,
                      columns=["amount", "id"])
    assert df.columns[:2] == ["amount", "id"]


def test_local_path_absolutizes_bare_paths():
    """Bare relative listing paths are join keys against Spark's always-
    absolute _metadata.file_path; a relative key matches nothing and
    silently drops every row (or resurrects DV-deleted ones)."""
    import os

    from datafusion_delta_sharing_spark.sources.scan import _local_path

    assert os.path.isabs(_local_path("rel/part-0.parquet"))
    assert _local_path("/abs/p.parquet") == "/abs/p.parquet"
    assert _local_path("file:///a%20b/x.parquet") == "/a b/x.parquet"


def test_unsupported_reader_features_refused_at_listing(spark, tmp_path):
    """A table whose protocol requires a reader feature this scan layer
    cannot honor (e.g. variantShredding, whose shredded files change the
    physical layout) must refuse at listing time — scanning it as plain
    parquet yields wrong rows. Supported features (deletionVectors,
    columnMapping + typeWidening [since r6], timestampNtz) pass."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    p = _write_local(tmp_path, "rf.parquet", [1], [1.0])
    files = [{"id": "rf", "url": f"file://{p}", "size": 0,
              "partition_values": {"day": "2021-04-28", "tag": "a"}}]
    bad = MockTable(share="s", schema="d", name="t",
                    schema_string=SCHEMA_STRING,
                    partition_columns=PARTITION_COLUMNS, files=files,
                    reader_features=["deletionVectors",
                                     "variantShredding-preview"])
    with MockSharingServer([bad]) as srv:
        with pytest.raises(DeltaSharingError, match="variantShredding"):
            _reader(spark, srv).table("s.d.t")
    ok = MockTable(share="s", schema="d", name="t",
                   schema_string=SCHEMA_STRING,
                   partition_columns=PARTITION_COLUMNS, files=files,
                   reader_features=["deletionVectors", "columnMapping",
                                    "typeWidening", "timestampNtz"])
    with MockSharingServer([ok]) as srv:
        assert _reader(spark, srv).table("s.d.t").count() == 1


def test_type_widened_table_reads_wide(spark, tmp_path):
    """typeWidening: a file written BEFORE the column was widened
    (int32/float32 on disk) must decode under the current logical schema
    (long/double) on both strategies — Spark 4's vectorized reader
    widens on the local path; the Arrow per-column cast widens on the
    HTTP fetch path."""
    wide_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {}},
        {"name": "day", "type": "date", "nullable": True, "metadata": {}},
    ]})

    def narrow_blob(ids, amounts):
        sink = io.BytesIO()
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int32()),        # pre-widening int
            "amount": pa.array(amounts, pa.float32())}), sink)
        return sink.getvalue()

    # local strategy
    p = tmp_path / "w.parquet"
    p.write_bytes(narrow_blob([1, 2], [1.5, 2.5]))
    local = MockTable(share="s", schema="d", name="w",
                      schema_string=wide_schema, partition_columns=["day"],
                      files=[{"id": "w", "url": f"file://{p}", "size": 0,
                              "partition_values": {"day": "2021-04-28"}}],
                      reader_features=["typeWidening"])
    with MockSharingServer([local]) as srv:
        df = _reader(spark, srv).table("s.d.w")
        assert [f.dataType.simpleString() for f in df.schema.fields[:2]] \
            == ["bigint", "double"]
        rows = {r.id: r.amount for r in df.collect()}
        assert rows == {1: 1.5, 2: 2.5}
    # distributed (HTTP mapInArrow) strategy
    blobs = {"/w.parquet": narrow_blob([3, 4], [3.5, 4.5])}
    http = MockTable(share="s", schema="d", name="wh",
                     schema_string=wide_schema, partition_columns=["day"],
                     files=[], reader_features=["typeWidening"])
    with MockSharingServer([http], parquet_bytes=blobs) as srv:
        http.files.append({"id": "wh", "url": f"{srv.base_url}/w.parquet",
                           "size": len(blobs["/w.parquet"]),
                           "partition_values": {"day": "2021-04-29"}})
        rows = {r.id: r.amount
                for r in _reader(spark, srv).table("s.d.wh").collect()}
        assert rows == {3: 3.5, 4: 4.5}


def test_catalog_sql_nested_bracketed_comments_opaque(spark, local_server):
    """Spark nests /* /* */ */: the rewriter must treat the WHOLE nested
    span as a comment — the old non-greedy regex stopped at the first */
    and resolved three-part names inside commented-out text (a network
    fetch + temp-view registration as a side effect of a comment)."""
    catalog = DeltaSharingCatalog(
        spark, Profile.from_json(local_server.profile_doc()))
    n_before = len(local_server.requests)
    out = catalog.sql(
        "/* note /* inner */ s.d.t stays commented */ SELECT 1 AS one")
    assert out.collect()[0].one == 1
    # no table resolution happened for the commented name
    assert not any(r["path"].endswith("/query")
                   for r in local_server.requests[n_before:])
    # and a nested comment does not hide REAL code after it
    assert catalog.sql(
        "/* a /* b */ c */ SELECT count(*) AS n FROM s.d.t"
    ).collect()[0].n == 6


# -- metadata-only aggregates (count_rows / partition_row_counts) -----------

def _stats(n, **extra):
    return json.dumps({"numRecords": n, **extra})


def _count_table(srv_files):
    return MockTable(share="s", schema="d", name="t",
                     schema_string=SCHEMA_STRING,
                     partition_columns=PARTITION_COLUMNS, files=srv_files)


def test_count_rows_metadata_only(spark):
    """COUNT(*) answered from numRecords stats: exact, and NO parquet
    byte is ever requested."""
    blobs = {"/a.parquet": _blob([1, 2], [1.0, 2.0]),
             "/b.parquet": _blob([3, 4, 5], [1.0, 2.0, 3.0])}
    table = _count_table([])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.extend([
            {"id": "a", "url": f"{srv.base_url}/a.parquet", "size": 1,
             "partition_values": {"day": "2021-04-28", "tag": "x"},
             "stats": _stats(2)},
            {"id": "b", "url": f"{srv.base_url}/b.parquet", "size": 1,
             "partition_values": {"day": "2021-04-29", "tag": "y"},
             "stats": _stats(3)},
        ])
        assert _reader(spark, srv).count_rows("s.d.t") == 5
        assert not any(r["path"].endswith(".parquet")
                       for r in srv.requests), "count fetched data"


def test_count_rows_subtracts_dv_cardinality(spark, tmp_path):
    from datafusion_delta_sharing_spark.sources import dv

    p = _write_local(tmp_path, "c1.parquet", [1, 2, 3, 4], [0.0] * 4)
    files = [{"id": "c1", "url": f"file://{p}", "size": 0,
              "partition_values": {"day": "2021-04-28", "tag": "a"},
              "stats": _stats(4),
              "deletion_vector": dv.inline_descriptor([0, 3])}]
    table = _count_table(files)
    with MockSharingServer([table]) as srv:
        reader = _reader(spark, srv)
        assert reader.count_rows("s.d.t") == 2
        # the metadata count must agree with the actual DV-applied scan
        assert reader.table("s.d.t").count() == 2


def test_count_rows_refuses_unusable_metadata(spark, tmp_path):
    from datafusion_delta_sharing_spark.errors import DeltaSharingError
    from datafusion_delta_sharing_spark.sources import dv

    p = _write_local(tmp_path, "n1.parquet", [1], [0.0])
    base = {"id": "n1", "url": f"file://{p}", "size": 0,
            "partition_values": {"day": "2021-04-28", "tag": "a"}}
    # no stats at all
    with MockSharingServer([_count_table([dict(base)])]) as srv:
        with pytest.raises(DeltaSharingError, match="numRecords"):
            _reader(spark, srv).count_rows("s.d.t")
    # DV whose claimed cardinality exceeds the file's rows
    bad_dv = dv.inline_descriptor([0])
    bad_dv["cardinality"] = 9
    f = dict(base, stats=_stats(1), deletion_vector=bad_dv)
    with MockSharingServer([_count_table([f])]) as srv:
        with pytest.raises(DeltaSharingError, match="cardinality"):
            _reader(spark, srv).count_rows("s.d.t")


def test_partition_row_counts_typed_and_fetch_free(spark):
    import datetime

    blobs = {"/a.parquet": _blob([1, 2], [1.0, 2.0]),
             "/b.parquet": _blob([3], [3.0]),
             "/c.parquet": _blob([4, 5, 6], [1.0, 2.0, 3.0])}
    table = _count_table([])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        table.files.extend([
            {"id": "a", "url": f"{srv.base_url}/a.parquet", "size": 1,
             "partition_values": {"day": "2021-04-28", "tag": "x"},
             "stats": _stats(2)},
            {"id": "b", "url": f"{srv.base_url}/b.parquet", "size": 1,
             "partition_values": {"day": "2021-04-28", "tag": "x"},
             "stats": _stats(1)},
            {"id": "c", "url": f"{srv.base_url}/c.parquet", "size": 1,
             "partition_values": {"day": "2021-04-29", "tag": ""},
             "stats": _stats(3)},
        ])
        out = _reader(spark, srv).partition_row_counts("s.d.t")
        assert dict(out.dtypes) == {"day": "date", "tag": "string",
                                    "row_count": "bigint"}
        rows = {(r.day, r.tag): r.row_count for r in out.collect()}
        # files of the same partition merge; empty string decodes to NULL
        assert rows == {(datetime.date(2021, 4, 28), "x"): 3,
                        (datetime.date(2021, 4, 29), None): 3}
        assert not any(r["path"].endswith(".parquet")
                       for r in srv.requests), "partition counts fetched data"


def test_partition_row_counts_refuses_unpartitioned(spark, tmp_path):
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    p = _write_local(tmp_path, "u1.parquet", [1], [0.0])
    table = MockTable(share="s", schema="d", name="u",
                      schema_string=SCHEMA_STRING, partition_columns=[],
                      files=[{"id": "u1", "url": f"file://{p}", "size": 0,
                              "partition_values": {}, "stats": _stats(1)}])
    with MockSharingServer([table]) as srv:
        with pytest.raises(DeltaSharingError, match="unpartitioned"):
            _reader(spark, srv).partition_row_counts("s.d.u")


def test_partition_row_counts_column_mapped(spark, tmp_path):
    """Column-mapped tables: partition keys arrive LOGICAL from
    parquet-format servers and PHYSICAL from raw delta-format adds —
    partition_row_counts normalizes both to the LOGICAL column."""
    import datetime

    p1 = tmp_path / "pc1.parquet"
    p1.write_bytes(_cm_blob([1, 2], [1.0, 2.0]))
    p2 = tmp_path / "pc2.parquet"
    p2.write_bytes(_cm_blob([3, 4], [3.0, 4.0]))
    files = [
        {"id": "c1", "url": f"file://{p1}", "size": 0,
         "partition_values": {"day": "2021-04-28"},        # logical key
         "stats": _stats(2)},
        {"id": "c2", "url": f"file://{p2}", "size": 0,
         "partition_values": {"col-3333": "2021-04-28"},   # physical key
         "stats": _stats(2)},
    ]
    table = MockTable(share="s", schema="d", name="cm",
                      schema_string=CM_SCHEMA_STRING,
                      partition_columns=["day"], files=files,
                      configuration={"delta.columnMapping.mode": "name"},
                      reader_features=["columnMapping"])
    with MockSharingServer([table]) as srv:
        out = _reader(spark, srv).partition_row_counts("s.d.cm")
        assert out.columns == ["day", "row_count"]
        assert {(r.day, r.row_count) for r in out.collect()} == {
            (datetime.date(2021, 4, 28), 4)}


def test_count_rows_delta_format_response(spark, tmp_path):
    """responseformat=delta: stats arrive inside deltaSingleAction.add —
    FileAction.from_json lifts them, so the metadata count works on
    delta-format shares too (incl. a DV-carrying file)."""
    from datafusion_delta_sharing_spark.sources import dv

    files = _mock_files_local(tmp_path)
    for f in files:
        f["stats"] = _stats(2)
    files[0]["deletion_vector"] = dv.inline_descriptor([0])
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=PARTITION_COLUMNS, files=files,
                      response_format="delta")
    with MockSharingServer([table]) as srv:
        reader = _reader(spark, srv)
        assert reader.count_rows("s.d.t") == 5  # 3 files x 2 rows - 1 DV
        assert reader.table("s.d.t").count() == 5


def test_count_rows_respects_version_pin(spark, tmp_path):
    """Metadata counts compose with time travel: the version pin flows
    through get_table_data, so count_rows(version=N) counts snapshot N's
    files — still with zero parquet fetched."""
    blobs = {"/tv_old.parquet": _blob([1], [1.0]),
             "/tv_new1.parquet": _blob([1, 2], [1.0, 2.0]),
             "/tv_new2.parquet": _blob([3, 4, 5], [1.0, 2.0, 3.0])}
    table = _count_table([])
    with MockSharingServer([table], parquet_bytes=blobs) as srv:
        mk = lambda fid, n: {
            "id": fid, "url": f"{srv.base_url}/{fid}.parquet", "size": 1,
            "partition_values": {"day": "2021-04-28", "tag": "a"},
            "stats": _stats(n)}
        table.files.extend([mk("tv_new1", 2), mk("tv_new2", 3)])
        table.history[5] = [mk("tv_old", 1)]
        reader = _reader(spark, srv)
        assert reader.count_rows("s.d.t") == 5
        assert reader.count_rows("s.d.t", version=5) == 1
        pr = reader.partition_row_counts("s.d.t", version=5).collect()
        assert [(str(r.day), r.tag, r.row_count) for r in pr] == [
            ("2021-04-28", "a", 1)]
        assert not any(r["path"].endswith(".parquet")
                       for r in srv.requests)


def test_oauth_profile_through_distributed_fetch(spark):
    """Regression pin (r7): the mapInArrow fetch path must ship the
    profile via to_doc() round-trip — a hand-built v1 bearer doc crashed
    every OAuth read on the executors (no .bearer_token). Executors
    reconstruct the OAuth profile and fetch their own tokens."""
    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {}}]})
    blob = _blob([1, 2, 3], [1.0, 2.0, 3.0])
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=schema)
    with MockSharingServer([table], parquet_bytes={"/o1.parquet": blob}) as srv:
        srv.oauth = {"client_id": "cid", "client_secret": "sek",
                     "expires_in": 3600}
        table.files.append({"id": "o1",
                            "url": f"{srv.base_url}/o1.parquet",
                            "size": len(blob), "partition_values": {}})
        doc = {"shareCredentialsVersion": 2,
               "type": "oauth_client_credentials",
               "endpoint": srv.endpoint,
               "tokenEndpoint": f"{srv.base_url}/oauth/token",
               "clientId": "cid", "clientSecret": "sek"}
        client = DeltaSharingClient(Profile.from_json(json.dumps(doc)))
        reader = DeltaSharingReader(spark, client)
        got = sorted(r.id for r in reader.table("s.d.t").collect())
        assert got == [1, 2, 3]
        # happy path: ONE grant (the driver's listing) — data files are
        # presigned URLs, unauthenticated by protocol design; executors
        # only re-grant on the 401/403 URL-refresh path
        assert len(srv.issued_tokens) == 1
        # round-trip contract both profile kinds rely on
        for d in (doc, srv.profile_doc()):
            p = Profile.from_json(json.dumps(d))
            assert Profile.from_json(json.dumps(p.to_doc())).endpoint \
                == p.endpoint
