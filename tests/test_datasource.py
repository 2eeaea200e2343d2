"""Python DataSource tests: spark.read.format("deltasharing") batch path
(schema fetch, filter pushdown hints, stats pruning, partition columns) and
the snapshot-diff streaming source."""

import io
import json
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_delta_sharing_spark.sources.datasource import DeltaSharingDataSource
from tests.mock_server import MockSharingServer, MockTable

SCHEMA_STRING = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": False, "metadata": {}},
    {"name": "amount", "type": "double", "nullable": True, "metadata": {}},
    {"name": "day", "type": "date", "nullable": True, "metadata": {}},
]})


def _blob(ids, amounts) -> bytes:
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "amount": pa.array(amounts, pa.float64())}), sink)
    return sink.getvalue()


@pytest.fixture(scope="module")
def registered(spark):
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DeltaSharingDataSource)
    return spark


def _server(blobs):
    table = MockTable(share="s", schema="d", name="t",
                      schema_string=SCHEMA_STRING,
                      partition_columns=["day"], files=[])
    return MockSharingServer([table], parquet_bytes=blobs), table


def test_batch_format_read(registered):
    spark = registered
    blobs = {"/a.parquet": _blob([1, 2, 3], [1.0, 2.0, 3.0]),
             "/b.parquet": _blob([4, 5], [4.0, 5.0])}
    srv, table = _server(blobs)
    with srv:
        table.files.extend([
            {"id": "a", "url": f"{srv.base_url}/a.parquet",
             "size": len(blobs["/a.parquet"]),
             "partition_values": {"day": "2021-04-28"}},
            {"id": "b", "url": f"{srv.base_url}/b.parquet",
             "size": len(blobs["/b.parquet"]),
             "partition_values": {"day": ""}},
        ])
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load())
        assert df.columns == ["id", "amount", "day"]
        rows = {r.id: r for r in df.collect()}
        assert len(rows) == 5
        assert str(rows[1].day) == "2021-04-28"
        assert rows[4].day is None


def test_batch_filter_pushdown_hints_and_pruning(registered):
    spark = registered
    blobs = {"/lo.parquet": _blob([1, 2], [1.0, 2.0]),
             "/hi.parquet": _blob([100, 200], [3.0, 4.0])}
    srv, table = _server(blobs)
    with srv:
        for fid, lo, hi in (("lo", 1, 2), ("hi", 100, 200)):
            table.files.append({
                "id": fid, "url": f"{srv.base_url}/{fid}.parquet",
                "size": len(blobs[f"/{fid}.parquet"]),
                "partition_values": {"day": "2021-04-28"},
                "stats": json.dumps({"numRecords": 2, "minValues": {"id": lo},
                                     "maxValues": {"id": hi},
                                     "nullCount": {"id": 0}})})
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load()
              .filter("id >= 100"))
        assert sorted(r.id for r in df.collect()) == [100, 200]
        # hints reached the server...
        bodies = [json.loads(r["body"]) for r in srv.requests
                  if r["path"].endswith("/query") and r["body"]]
        assert any("jsonPredicateHints" in b for b in bodies)
        # ...and the pruned file's bytes were never fetched
        fetched = {r["path"] for r in srv.requests if r["path"].endswith(".parquet")}
        assert fetched == {"/hi.parquet"}


def test_batch_empty_result(registered):
    spark = registered
    srv, table = _server({})
    with srv:
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load())
        assert df.count() == 0


def test_stream_snapshot_diff(registered):
    spark = registered
    blobs = {"/s1.parquet": _blob([1, 2], [1.0, 2.0]),
             "/s2.parquet": _blob([3, 4], [3.0, 4.0])}
    srv, table = _server(blobs)
    with srv:
        table.files.append({"id": "s1", "url": f"{srv.base_url}/s1.parquet",
                            "size": len(blobs["/s1.parquet"]),
                            "partition_values": {"day": "2021-04-28"}})
        sink = f"ds_stream_{uuid.uuid4().hex[:8]}"
        stream = (spark.readStream.format("deltasharing")
                  .option("profile_json", json.dumps(srv.profile_doc()))
                  .option("table", "s.d.t").load())
        query = (stream.writeStream.outputMode("append")
                 .format("memory").queryName(sink).start())
        try:
            query.processAllAvailable()
            first = {r.id for r in spark.table(sink).collect()}
            assert first == {1, 2}
            # a new file lands in the share -> next microbatch emits only it
            table.files.append({"id": "s2", "url": f"{srv.base_url}/s2.parquet",
                                "size": len(blobs["/s2.parquet"]),
                                "partition_values": {"day": "2021-04-29"}})
            table.version += 1
            query.processAllAvailable()
            after = {r.id for r in spark.table(sink).collect()}
            assert after == {1, 2, 3, 4}
            days = {r.id: str(r.day) for r in spark.table(sink).collect()}
            assert days[3] == "2021-04-29"
        finally:
            query.stop()


def _stream_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("day", T.DateType())])


def test_stream_offsets_o1_and_commit_log(tmp_path):
    """VERDICT r2 #5: the offset must stay O(1) however many files land,
    partitions() must plan one executor task per file group of new files,
    and a restart with the same commit log must replay an uncommitted
    batch exactly."""
    from datafusion_delta_sharing_spark.sources.datasource import (
        DeltaSharingStreamReader,
    )

    blobs = {"/s1.parquet": _blob([1, 2], [1.0, 2.0]),
             "/s2.parquet": _blob([3, 4], [3.0, 4.0]),
             "/s3.parquet": _blob([5], [5.0])}
    srv, table = _server(blobs)
    with srv:
        opts = {"profile_json": json.dumps(srv.profile_doc()),
                "table": "s.d.t", "stream_log_dir": str(tmp_path)}
        reader = DeltaSharingStreamReader(opts, _stream_schema())
        start = reader.initialOffset()
        assert start == {"version": -1, "batch": -1}

        table.files.append({"id": "s1", "url": f"{srv.base_url}/s1.parquet",
                            "size": len(blobs["/s1.parquet"]),
                            "partition_values": {"day": "2021-04-28"}})
        off1 = reader.latestOffset()
        table.files.append({"id": "s2", "url": f"{srv.base_url}/s2.parquet",
                            "size": len(blobs["/s2.parquet"]),
                            "partition_values": {"day": "2021-04-29"}})
        table.files.append({"id": "s3", "url": f"{srv.base_url}/s3.parquet",
                            "size": len(blobs["/s3.parquet"]),
                            "partition_values": {"day": "2021-04-30"}})
        table.version += 1
        off2 = reader.latestOffset()
        # O(1) offsets: same two scalar keys regardless of file count
        assert set(off1) == set(off2) == {"version", "batch"}
        assert off2 == {"version": 8, "batch": 1}

        # batch 1 = the two files that landed between the polls, one
        # file group
        parts = reader.partitions(off1, off2)
        assert [[t.file_id for t in p.tasks] for p in parts] == [["s2", "s3"]]
        # empty range plans nothing
        assert reader.partitions(off2, off2) == []

        # executor read path yields Arrow batches with partition col attached
        batches = list(reader.read(parts[0]))
        assert sum(b.num_rows for b in batches) == 3
        assert str(batches[0].column(2)[0]) == "2021-04-29"

        # restart: a fresh reader over the same log replays batch 1 exactly
        reader2 = DeltaSharingStreamReader(opts, _stream_schema())
        assert reader2.initialOffset() == off2
        parts2 = reader2.partitions(off1, off2)
        assert [[t.file_id for t in p.tasks] for p in parts2] == [
            ["s2", "s3"]]

        # commit prunes memory but the log still serves replays
        reader2.commit(off2)
        assert reader2.partitions(off1, off2)


def test_stream_replay_lost_log_raises(tmp_path):
    """A replay the commit log cannot satisfy must fail loudly, never
    silently emit fewer rows (ADVICE r1 carried into the r3 redesign)."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError
    from datafusion_delta_sharing_spark.sources.datasource import (
        DeltaSharingStreamReader,
    )

    srv, table = _server({})
    with srv:
        opts = {"profile_json": json.dumps(srv.profile_doc()),
                "table": "s.d.t", "stream_log_dir": str(tmp_path)}
        reader = DeltaSharingStreamReader(opts, _stream_schema())
        with pytest.raises(DeltaSharingError, match="commit log"):
            reader.partitions({"version": 0, "batch": 0},
                              {"version": 1, "batch": 2})


def test_stream_restart_needs_its_commit_log(registered, tmp_path):
    """A snapshot stream restarted from its checkpoint resumes after the
    batches its commit log cut. With the same ``stream_log_dir`` the file
    that landed while the query was down is read; without one, the new log
    lists every live file as its first batch, so the restart refuses
    instead of planning an empty range and silently dropping that file."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    spark = registered
    blobs = {"/a.parquet": _blob([1, 2], [1.0, 2.0]),
             "/b.parquet": _blob([3, 4], [3.0, 4.0])}
    for log_dir in (None, str(tmp_path / "log")):
        out = tmp_path / f"out-{log_dir is None}"
        srv, table = _server(blobs)

        def add(fid: str) -> None:
            table.files.append({
                "id": fid, "url": f"{srv.base_url}/{fid}.parquet",
                "size": len(blobs[f"/{fid}.parquet"]),
                "partition_values": {"day": "2021-04-28"}})

        def run() -> list[int]:
            reader = (spark.readStream.format("deltasharing")
                      .option("profile_json", json.dumps(srv.profile_doc()))
                      .option("table", "s.d.t"))
            if log_dir is not None:
                reader = reader.option("stream_log_dir", log_dir)
            query = (reader.load().writeStream.format("parquet")
                     .option("path", str(out / "data"))
                     .option("checkpointLocation", str(out / "ckpt"))
                     .trigger(availableNow=True).start())
            try:
                query.awaitTermination(60)
            finally:
                query.stop()
            return sorted(r.id for r in
                          spark.read.parquet(str(out / "data")).collect())

        with srv:
            add("a")
            assert run() == [1, 2]
            add("b")
            table.version += 1
            if log_dir is None:
                with pytest.raises(StreamingQueryException,
                                   match="stream_log_dir"):
                    run()
            else:
                assert run() == [1, 2, 3, 4]


def test_stream_resumes_after_a_version_only_commit(tmp_path):
    """An offset whose version moved without a new batch (a commit that
    added no file) still resumes: the log cut its batch at an earlier
    version. A range that runs backwards is refused."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError
    from datafusion_delta_sharing_spark.sources.datasource import (
        DeltaSharingStreamReader,
    )

    blobs = {"/s1.parquet": _blob([1, 2], [1.0, 2.0]),
             "/s2.parquet": _blob([3], [3.0])}
    srv, table = _server(blobs)
    with srv:
        for fid in ("s1", "s2"):
            table.files.append({
                "id": fid, "url": f"{srv.base_url}/{fid}.parquet",
                "size": len(blobs[f"/{fid}.parquet"]),
                "partition_values": {"day": "2021-04-28"}})
        s2 = table.files.pop()
        opts = {"profile_json": json.dumps(srv.profile_doc()),
                "table": "s.d.t", "stream_log_dir": str(tmp_path)}
        reader = DeltaSharingStreamReader(opts, _stream_schema())
        cut = reader.latestOffset()
        table.version += 1
        bumped = reader.latestOffset()
        assert bumped == {"version": cut["version"] + 1, "batch": 0}
        assert reader.partitions(cut, bumped) == []
        table.files.append(s2)
        latest = reader.latestOffset()
        parts = reader.partitions(bumped, latest)
        assert [[t.file_id for t in p.tasks] for p in parts] == [["s2"]]
        with pytest.raises(DeltaSharingError, match="before"):
            reader.partitions(latest, bumped)


def test_stream_expired_url_refreshes_by_file_id(tmp_path):
    """A logged presigned URL that expired between logging and replay is
    re-resolved by file id through a fresh listing on the executor."""
    from datafusion_delta_sharing_spark.sources.datasource import (
        DeltaSharingStreamReader,
    )

    blobs = {"/old.parquet": _blob([1, 2], [1.0, 2.0]),
             "/new.parquet": _blob([1, 2], [1.0, 2.0])}
    srv, table = _server(blobs)
    with srv:
        table.files.append({"id": "f1", "url": f"{srv.base_url}/old.parquet",
                            "size": len(blobs["/old.parquet"]),
                            "partition_values": {"day": "2021-04-28"}})
        opts = {"profile_json": json.dumps(srv.profile_doc()),
                "table": "s.d.t", "stream_log_dir": str(tmp_path)}
        reader = DeltaSharingStreamReader(opts, _stream_schema())
        off = reader.latestOffset()
        [part] = reader.partitions({"version": -1, "batch": -1}, off)
        # the logged URL expires; the server now lists a fresh one
        srv.forbidden_paths.add("/old.parquet")
        table.files[0]["url"] = f"{srv.base_url}/new.parquet"
        batches = list(reader.read(part))
        assert sum(b.num_rows for b in batches) == 2


def test_time_travel_version_pin(registered):
    """versionAsOf pins the snapshot: the server serves the historical
    file list, the query body carries the version, and an absent version
    errors instead of silently serving latest."""
    spark = registered
    blobs = {"/v5.parquet": _blob([1, 2], [1.0, 2.0]),
             "/v7a.parquet": _blob([1, 2], [1.0, 2.0]),
             "/v7b.parquet": _blob([3, 4], [3.0, 4.0])}
    srv, table = _server(blobs)
    with srv:
        mk = lambda fid: {"id": fid, "url": f"{srv.base_url}/{fid}.parquet",
                          "size": len(blobs[f"/{fid}.parquet"]),
                          "partition_values": {"day": "2021-04-28"}}
        table.files.extend([mk("v7a"), mk("v7b")])   # latest (version 7)
        table.history[5] = [mk("v5")]
        base = (spark.read.format("deltasharing")
                .option("profile_json", json.dumps(srv.profile_doc()))
                .option("table", "s.d.t"))
        assert base.load().count() == 4   # latest
        assert base.option("versionAsOf", "5").load().count() == 2
        body = json.loads([r for r in srv.requests
                           if r["path"].endswith("/query")][-1]["body"])
        assert body == {"version": 5}
        with pytest.raises(Exception, match="RESOURCE_DOES_NOT_EXIST|404"):
            base.option("versionAsOf", "3").load().count()


def test_time_travel_reader_api_and_exclusivity(spark, tmp_path):
    """DeltaSharingReader.table(version=...) sends the pin; version and
    timestamp together are rejected client-side."""
    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.errors import DeltaSharingError
    from datafusion_delta_sharing_spark.profile import Profile
    from datafusion_delta_sharing_spark.sources.reader import (
        DeltaSharingReader,
    )

    blobs = {"/old.parquet": _blob([10], [1.0]),
             "/new.parquet": _blob([20, 30], [2.0, 3.0])}
    srv, table = _server(blobs)
    with srv:
        mk = lambda fid: {"id": fid, "url": f"{srv.base_url}/{fid}.parquet",
                          "size": len(blobs[f"/{fid}.parquet"]),
                          "partition_values": {"day": "2021-04-28"}}
        table.files.append(mk("new"))
        table.history[2] = [mk("old")]
        profile = Profile.from_json(srv.profile_doc())
        reader = DeltaSharingReader(spark, DeltaSharingClient(profile))
        assert reader.table("s.d.t").count() == 2
        old = reader.table("s.d.t", version=2)
        assert [r.id for r in old.collect()] == [10]
        with pytest.raises(DeltaSharingError, match="mutually exclusive"):
            reader.table("s.d.t", version=2, timestamp="2021-01-01T00:00:00Z")


def test_table_changes_end_to_end(spark, tmp_path):
    """CDF read: add/remove actions become whole-file insert/delete rows,
    cdf files keep their own _change_type, all tagged with commit
    version/timestamp. The reference's client is todo!() here."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.profile import Profile
    from datafusion_delta_sharing_spark.sources.reader import (
        DeltaSharingReader,
    )

    plain_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {}},
    ]})
    add_path = tmp_path / "add.parquet"
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "amount": pa.array([1.0, 2.0], pa.float64())}),
                   add_path)
    rm_path = tmp_path / "rm.parquet"
    pq.write_table(pa.table({"id": pa.array([9], pa.int64()),
                             "amount": pa.array([9.0], pa.float64())}),
                   rm_path)
    cdf_path = tmp_path / "cdf.parquet"
    pq.write_table(pa.table({
        "id": pa.array([2, 2], pa.int64()),
        "amount": pa.array([2.0, 5.0], pa.float64()),
        "_change_type": pa.array(["update_preimage", "update_postimage"]),
    }), cdf_path)

    table = MockTable(share="s", schema="d", name="cdf_t",
                      schema_string=plain_schema)
    table.changes.extend([
        {"kind": "add", "version": 1, "timestamp": 1_600_000_000_000,
         "url": f"file://{add_path}", "id": "a", "size": 1},
        {"kind": "remove", "version": 2, "timestamp": 1_600_000_060_000,
         "url": f"file://{rm_path}", "id": "r", "size": 1},
        {"kind": "cdf", "version": 3, "timestamp": 1_600_000_120_000,
         "url": f"file://{cdf_path}", "id": "c", "size": 1},
    ])
    with MockSharingServer([table]) as srv:
        reader = DeltaSharingReader(
            spark, DeltaSharingClient(Profile.from_json(srv.profile_doc())))
        df = reader.table_changes("s.d.cdf_t", starting_version=1)
        rows = sorted(
            ((r._commit_version, r._change_type, r.id, r.amount)
             for r in df.collect()))
        assert rows == [
            (1, "insert", 1, 1.0),
            (1, "insert", 2, 2.0),
            (2, "delete", 9, 9.0),
            (3, "update_postimage", 2, 5.0),
            (3, "update_preimage", 2, 2.0),
        ]
        ts = {r._commit_version: r._commit_timestamp for r in df.collect()}
        assert ts[1].year == 2020  # ms epoch decoded to timestamp
        # bounded range excludes version 3
        assert df.schema["_commit_version"].dataType.typeName() == "long"
        bounded = reader.table_changes("s.d.cdf_t", starting_version=1,
                                       ending_version=2)
        assert bounded.count() == 3


def test_cdf_stream_read(registered, tmp_path):
    """readChangeFeed streaming: logical version offsets, backlog served
    from startingVersion, new commits emitted per microbatch with CDF
    metadata columns."""
    import pyarrow.parquet as pq

    plain_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {}},
    ]})
    p1 = tmp_path / "c1.parquet"
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "amount": pa.array([1.0, 2.0], pa.float64())}),
                   p1)
    p2 = tmp_path / "c2.parquet"
    pq.write_table(pa.table({
        "id": pa.array([2], pa.int64()),
        "amount": pa.array([9.0], pa.float64()),
        "_change_type": pa.array(["update_postimage"]),
    }), p2)

    table = MockTable(share="s", schema="d", name="cdf_s",
                      schema_string=plain_schema, version=1)
    table.changes.append(
        {"kind": "add", "version": 1, "timestamp": 1_600_000_000_000,
         "url": f"file://{p1}", "id": "c1", "size": 1})
    spark = registered
    with MockSharingServer([table]) as srv:
        sink = f"cdf_stream_{uuid.uuid4().hex[:8]}"
        stream = (spark.readStream.format("deltasharing")
                  .option("profile_json", json.dumps(srv.profile_doc()))
                  .option("table", "s.d.cdf_s")
                  .option("readChangeFeed", "true")
                  .option("startingVersion", "1").load())
        assert stream.columns == ["id", "amount", "_change_type",
                                  "_commit_version", "_commit_timestamp"]
        query = (stream.writeStream.outputMode("append")
                 .format("memory").queryName(sink).start())
        try:
            query.processAllAvailable()
            first = sorted((r.id, r._change_type, r._commit_version)
                           for r in spark.table(sink).collect())
            assert first == [(1, "insert", 1), (2, "insert", 1)]
            # a new commit lands -> next microbatch serves only its range
            table.changes.append(
                {"kind": "cdf", "version": 2,
                 "timestamp": 1_600_000_060_000,
                 "url": f"file://{p2}", "id": "c2", "size": 1})
            table.version = 2
            query.processAllAvailable()
            rows = sorted((r.id, r._change_type, r._commit_version)
                          for r in spark.table(sink).collect())
            assert rows == [(1, "insert", 1), (2, "insert", 1),
                            (2, "update_postimage", 2)]
        finally:
            query.stop()


def test_cdf_batch_read_rejected(registered):
    spark = registered
    srv, table = _server({})
    with srv:
        with pytest.raises(Exception, match="readChangeFeed"):
            (spark.read.format("deltasharing")
             .option("profile_json", json.dumps(srv.profile_doc()))
             .option("table", "s.d.t")
             .option("readChangeFeed", "true").load().collect())


def test_stream_schema_drift_fails_loudly(tmp_path):
    """A schema evolution under a running stream must error, not silently
    decode new files with the stale schema."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError
    from datafusion_delta_sharing_spark.sources.datasource import (
        DeltaSharingStreamReader,
    )

    srv, table = _server({})
    with srv:
        opts = {"profile_json": json.dumps(srv.profile_doc()),
                "table": "s.d.t", "stream_log_dir": str(tmp_path)}
        reader = DeltaSharingStreamReader(opts, _stream_schema())
        reader.latestOffset()          # pins the first schema seen
        table.schema_string = json.dumps({"type": "struct", "fields": [
            {"name": "id", "type": "long", "nullable": False,
             "metadata": {}},
            {"name": "renamed", "type": "double", "nullable": True,
             "metadata": {}},
        ]})
        with pytest.raises(DeltaSharingError, match="schema .* changed"):
            reader.latestOffset()


def test_table_changes_delta_format(spark, tmp_path):
    """Delta-format CDF: every change arrives as a "file" line wrapping a
    deltaSingleAction (add / remove / cdc, path = presigned URL); the
    client maps the inner kinds back to the parquet-format vocabulary so
    the CDF DataFrame is response-format-blind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.profile import Profile
    from datafusion_delta_sharing_spark.sources.reader import (
        DeltaSharingReader,
    )

    plain_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {}},
    ]})
    add_path = tmp_path / "d_add.parquet"
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64()),
                             "amount": pa.array([1.0, 2.0], pa.float64())}),
                   add_path)
    cdf_path = tmp_path / "d_cdf.parquet"
    pq.write_table(pa.table({
        "id": pa.array([2, 2], pa.int64()),
        "amount": pa.array([2.0, 5.0], pa.float64()),
        "_change_type": pa.array(["update_preimage", "update_postimage"]),
    }), cdf_path)

    table = MockTable(share="s", schema="d", name="cdf_delta",
                      schema_string=plain_schema, response_format="delta")
    table.changes.extend([
        {"kind": "add", "version": 1, "timestamp": 1_600_000_000_000,
         "url": f"file://{add_path}", "id": "a", "size": 1},
        {"kind": "cdf", "version": 2, "timestamp": 1_600_000_060_000,
         "url": f"file://{cdf_path}", "id": "c", "size": 1},
    ])
    with MockSharingServer([table]) as srv:
        reader = DeltaSharingReader(
            spark, DeltaSharingClient(Profile.from_json(srv.profile_doc())))
        df = reader.table_changes("s.d.cdf_delta", starting_version=1)
        rows = sorted((r._commit_version, r._change_type, r.id, r.amount)
                      for r in df.collect())
        assert rows == [
            (1, "insert", 1, 1.0),
            (1, "insert", 2, 2.0),
            (2, "update_postimage", 2, 5.0),
            (2, "update_preimage", 2, 2.0),
        ]


# ---------------------------------------------------------------------------
# Deletion vectors (VERDICT r4 #2): soft-deleted rows anti-filtered by
# position inside the executor fetch, not refused
# ---------------------------------------------------------------------------


def _blob_grouped(ids, amounts, row_group_size) -> bytes:
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64()),
                             "amount": pa.array(amounts, pa.float64())}),
                   sink, row_group_size=row_group_size)
    return sink.getvalue()


def test_dv_inline_rows_dropped(registered):
    """A file action with an inline ('i') deletion vector returns exactly
    the surviving rows. row_group_size=2 forces multiple Arrow batches so
    the per-file position counter is exercised across batch boundaries."""
    from datafusion_delta_sharing_spark.sources import dv

    spark = registered
    ids = [10, 11, 12, 13, 14, 15]
    blobs = {"/dv.parquet": _blob_grouped(ids, [float(i) for i in ids],
                                          row_group_size=2)}
    srv, table = _server(blobs)
    with srv:
        table.files.append({
            "id": "dv", "url": f"{srv.base_url}/dv.parquet",
            "size": len(blobs["/dv.parquet"]),
            "partition_values": {"day": "2021-04-28"},
            "deletion_vector": dv.inline_descriptor([0, 3, 5]),
        })
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load())
        got = sorted(r.id for r in df.collect())
        # positions 0, 3, 5 -> ids 10, 13, 15 soft-deleted
        assert got == [11, 12, 14]


def test_dv_file_storage_served_over_http(registered):
    """storageType='p': the DV lives in its own framed file behind a
    presigned URL; the executor fetches it, checks version + CRC, and
    applies the bitmap."""
    from datafusion_delta_sharing_spark.sources import dv

    spark = registered
    ids = list(range(20))
    data = dv.encode_dv_data([2, 7, 19], use_runs=True)
    dv_file, offsets = dv.encode_dv_file([data])
    blobs = {"/d.parquet": _blob_grouped(ids, [float(i) for i in ids], 8),
             "/d.dv": dv_file}
    srv, table = _server(blobs)
    with srv:
        table.files.append({
            "id": "d", "url": f"{srv.base_url}/d.parquet",
            "size": len(blobs["/d.parquet"]),
            "partition_values": {"day": "2021-04-28"},
            "deletion_vector": {
                "storageType": "p",
                "pathOrInlineDv": f"{srv.base_url}/d.dv",
                "offset": offsets[0], "sizeInBytes": len(data),
                "cardinality": 3},
        })
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load())
        got = sorted(r.id for r in df.collect())
        assert got == sorted(set(ids) - {2, 7, 19})


def test_datasource_partition_value_pruning(registered):
    """pushFilters on a partition column must prune non-matching files at
    planning time (synthetic min = max = partition-value stats), so the
    pruned file is never fetched even though the mock server ignores
    hints."""
    spark = registered
    blobs = {"/pva.parquet": _blob([1, 2], [1.0, 2.0]),
             "/pvb.parquet": _blob([3, 4], [3.0, 4.0])}
    srv, table = _server(blobs)
    with srv:
        table.files.extend([
            {"id": "a", "url": f"{srv.base_url}/pva.parquet",
             "size": len(blobs["/pva.parquet"]),
             "partition_values": {"day": "2021-04-28"}},
            {"id": "b", "url": f"{srv.base_url}/pvb.parquet",
             "size": len(blobs["/pvb.parquet"]),
             "partition_values": {"day": "2021-04-29"}},
        ])
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load()
              .filter("day = DATE'2021-04-29'"))
        assert sorted(r.id for r in df.collect()) == [3, 4]
        fetched = {r["path"] for r in srv.requests
                   if r["path"].endswith(".parquet")}
        assert fetched == {"/pvb.parquet"}


def test_datasource_in_filter_prunes_partitions(registered):
    """Spark pushes an `In` filter for day IN (...); it must become an
    or(equal, ...) hint AND prune non-matching partitions client-side."""
    spark = registered
    blobs = {"/ina.parquet": _blob([1, 2], [1.0, 2.0]),
             "/inb.parquet": _blob([3, 4], [3.0, 4.0]),
             "/inc.parquet": _blob([5, 6], [5.0, 6.0])}
    srv, table = _server(blobs)
    with srv:
        for fid, day in (("a", "2021-04-27"), ("b", "2021-04-28"),
                         ("c", "2021-04-29")):
            table.files.append({
                "id": fid, "url": f"{srv.base_url}/in{fid}.parquet",
                "size": len(blobs[f"/in{fid}.parquet"]),
                "partition_values": {"day": day}})
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load()
              .filter("day IN (DATE'2021-04-28', DATE'2021-04-29')"))
        assert sorted(r.id for r in df.collect()) == [3, 4, 5, 6]
        fetched = {r["path"] for r in srv.requests
                   if r["path"].endswith(".parquet")}
        assert fetched == {"/inb.parquet", "/inc.parquet"}
        bodies = [json.loads(r["body"]) for r in srv.requests
                  if r["path"].endswith("/query") and r["body"]]
        hints = [b["jsonPredicateHints"] for b in bodies
                 if "jsonPredicateHints" in b]
        assert hints and '"op":"or"' in hints[-1]


def test_datasource_startswith_prunes_by_range(registered):
    """StringStartsWith converts to a prefix range (prefix <= col <
    bumped-prefix): with string partition values, the non-matching
    partition is pruned client-side and never fetched."""
    spark = registered
    schema_with_tag = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {}},
        {"name": "tag", "type": "string", "nullable": True, "metadata": {}},
    ]})
    blobs = {"/swa.parquet": _blob([1, 2], [1.0, 2.0]),
             "/swb.parquet": _blob([3, 4], [3.0, 4.0])}
    table = MockTable(share="s", schema="d", name="sw",
                      schema_string=schema_with_tag,
                      partition_columns=["tag"], files=[])
    srv = MockSharingServer([table], parquet_bytes=blobs)
    with srv:
        table.files.extend([
            {"id": "a", "url": f"{srv.base_url}/swa.parquet",
             "size": len(blobs["/swa.parquet"]),
             "partition_values": {"tag": "train_books"}},
            {"id": "b", "url": f"{srv.base_url}/swb.parquet",
             "size": len(blobs["/swb.parquet"]),
             "partition_values": {"tag": "eval_books"}},
        ])
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.sw").load()
              .filter("tag LIKE 'train%'"))
        assert sorted(r.id for r in df.collect()) == [1, 2]
        fetched = {r["path"] for r in srv.requests
                   if r["path"].endswith(".parquet")}
        assert fetched == {"/swa.parquet"}


def test_datasource_column_mapping_translated(registered):
    """format('deltasharing') over a column-mapped table: physical
    parquet columns (col-<id>) come back under their logical names with
    real data, physical partition-value keys decode, and a DV on a
    column-mapped file still drops the right positions (the position
    mask is name-independent)."""
    from datafusion_delta_sharing_spark.sources import dv

    spark = registered
    cm_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False,
         "metadata": {"delta.columnMapping.physicalName": "col-a"}},
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-b"}},
        {"name": "day", "type": "date", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-c"}},
    ]})

    def cm_blob(ids, amounts):
        sink = io.BytesIO()
        pq.write_table(pa.table({
            "col-a": pa.array(ids, pa.int64()),
            "col-b": pa.array(amounts, pa.float64())}), sink)
        return sink.getvalue()

    blobs = {"/cma.parquet": cm_blob([1, 2, 3], [1.0, 2.0, 3.0]),
             "/cmb.parquet": cm_blob([4, 5], [4.0, 5.0])}
    table = MockTable(share="s", schema="d", name="cmt",
                      schema_string=cm_schema,
                      partition_columns=["day"], files=[],
                      configuration={"delta.columnMapping.mode": "name"},
                      reader_features=["columnMapping"])
    srv = MockSharingServer([table], parquet_bytes=blobs)
    with srv:
        table.files.extend([
            {"id": "a", "url": f"{srv.base_url}/cma.parquet",
             "size": len(blobs["/cma.parquet"]),
             # physical pv key + inline DV deleting position 1 (id=2)
             "partition_values": {"col-c": "2021-04-28"},
             "deletion_vector": dv.inline_descriptor([1])},
            {"id": "b", "url": f"{srv.base_url}/cmb.parquet",
             "size": len(blobs["/cmb.parquet"]),
             "partition_values": {"col-c": "2021-04-29"}},
        ])
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.cmt").load())
        assert df.columns == ["id", "amount", "day"]
        rows = {r.id: r for r in df.collect()}
        assert set(rows) == {1, 3, 4, 5}  # id=2 soft-deleted by the DV
        assert rows[3].amount == 3.0
        assert str(rows[1].day) == "2021-04-28"
        assert str(rows[4].day) == "2021-04-29"


def test_stream_reads_column_mapped_table(registered, tmp_path):
    """The snapshot stream translates column mapping: the commit log
    carries the plan's logical -> parquet column map, and each partition
    reads the physical ``col-a`` column as the logical ``id``."""
    spark = registered
    cm_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False,
         "metadata": {"delta.columnMapping.physicalName": "col-a"}},
    ]})
    blob = io.BytesIO()
    pq.write_table(pa.table({"col-a": pa.array([1], pa.int64())}), blob)
    blobs = {"/s.parquet": blob.getvalue()}
    table = MockTable(share="s", schema="d", name="st",
                      schema_string=cm_schema, partition_columns=[],
                      files=[],
                      configuration={"delta.columnMapping.mode": "name"})
    srv = MockSharingServer([table], parquet_bytes=blobs)
    with srv:
        table.files.append({"id": "s", "url": f"{srv.base_url}/s.parquet",
                            "size": len(blobs["/s.parquet"]),
                            "partition_values": {}})
        stream = (spark.readStream.format("deltasharing")
                  .option("profile_json", json.dumps(srv.profile_doc()))
                  .option("table", "s.d.st")
                  .option("stream_log_dir", str(tmp_path / "log"))
                  .load())
        sink = f"cmread_{uuid.uuid4().hex[:8]}"
        q = (stream.writeStream.format("memory").queryName(sink)
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        assert q.exception() is None
        assert [r.id for r in spark.table(sink).collect()] == [1]
        with open(tmp_path / "log" / "batches.jsonl") as fh:
            assert [json.loads(line)["file_names"] for line in fh] == [
                {"id": "col-a"}]


def test_dv_file_fetch_retries_transient_failures(registered):
    """Two synthetic transport faults on the DV-file path must be
    retried (same bounded-retry posture as the parquet ranged reader) —
    a flaky 5xx/reset on a shared DV file must not fail the fetch task,
    and the deleted positions must still be applied afterwards."""
    import threading

    from datafusion_delta_sharing_spark.sources import dv

    spark = registered
    ids = list(range(12))
    data = dv.encode_dv_data([1, 4])
    dv_file, offsets = dv.encode_dv_file([data])
    blobs = {"/rt.parquet": _blob_grouped(ids, [float(i) for i in ids], 5),
             "/rt.dv": dv_file}
    srv, table = _server(blobs)
    failures = {"remaining": 2}
    lock = threading.Lock()
    with srv:
        orig = srv.parquet_bytes

        class FlakyDv(dict):
            def __contains__(self, key):
                return key in orig

            def __getitem__(self, key):
                if key == "/rt.dv":
                    with lock:
                        if failures["remaining"] > 0:
                            failures["remaining"] -= 1
                            raise BrokenPipeError("synthetic DV fault")
                return orig[key]

        srv.parquet_bytes = FlakyDv()
        table.files.append({
            "id": "rt", "url": f"{srv.base_url}/rt.parquet",
            "size": len(blobs["/rt.parquet"]),
            "partition_values": {"day": "2021-04-28"},
            "deletion_vector": {
                "storageType": "p",
                "pathOrInlineDv": f"{srv.base_url}/rt.dv",
                "offset": offsets[0], "sizeInBytes": len(data),
                "cardinality": 2},
        })
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load())
        got = sorted(r.id for r in df.collect())
        assert got == sorted(set(ids) - {1, 4})
        assert failures["remaining"] == 0


def test_dv_unsupported_storage_fails_at_plan_time(registered):
    """storageType='u' (relative to a table root the sharing client never
    sees) must refuse during partition planning, not as a task error."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.exceptions.captured import PythonException

    spark = registered
    blobs = {"/u.parquet": _blob([1, 2], [1.0, 2.0])}
    srv, table = _server(blobs)
    with srv:
        table.files.append({
            "id": "u", "url": f"{srv.base_url}/u.parquet",
            "size": len(blobs["/u.parquet"]),
            "partition_values": {"day": "2021-04-28"},
            "deletion_vector": {"storageType": "u", "pathOrInlineDv": "ab",
                                "sizeInBytes": 40, "cardinality": 1},
        })
        df = (spark.read.format("deltasharing")
              .option("profile_json", json.dumps(srv.profile_doc()))
              .option("table", "s.d.t").load())
        with pytest.raises((AnalysisException, PythonException),
                           match="storageType='u'"):
            df.collect()


def test_table_changes_with_deletion_vector(spark, tmp_path):
    """A change feed whose add action carries a DV emits only the
    surviving rows — a MERGE that soft-deletes rows of the new file in
    the same commit must not resurrect them through the CDF path."""
    from datafusion_delta_sharing_spark.client import DeltaSharingClient
    from datafusion_delta_sharing_spark.profile import Profile
    from datafusion_delta_sharing_spark.sources import dv
    from datafusion_delta_sharing_spark.sources.reader import (
        DeltaSharingReader,
    )

    plain_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}},
    ]})
    add_path = tmp_path / "dvadd.parquet"
    pq.write_table(pa.table({"id": pa.array([10, 11, 12, 13], pa.int64())}),
                   add_path)
    table = MockTable(share="s", schema="d", name="cdv",
                      schema_string=plain_schema)
    table.changes.append(
        {"kind": "add", "version": 1, "timestamp": 1_600_000_000_000,
         "url": f"file://{add_path}", "id": "a", "size": 1,
         "deletion_vector": dv.inline_descriptor([1, 3])})
    with MockSharingServer([table]) as srv:
        reader = DeltaSharingReader(
            spark, DeltaSharingClient(Profile.from_json(srv.profile_doc())))
        df = reader.table_changes("s.d.cdv", starting_version=1)
        rows = sorted((r.id, r._change_type) for r in df.collect())
        assert rows == [(10, "insert"), (12, "insert")]


def test_missing_column_reads_as_nulls(registered):
    """Schema evolution: a file written before a column was added lacks
    it. Delta semantics is NULL — pre-fix, pyarrow's get_field_index
    returned -1 and batch.column(-1) silently served the LAST column's
    data under the missing name (data corruption, not an error)."""
    spark = registered
    sink = io.BytesIO()
    pq.write_table(pa.table({"id": pa.array([1, 2], pa.int64())}), sink)
    blobs = {"/old_schema.parquet": sink.getvalue()}
    srv, table = _server(blobs)
    with srv:
        table.files.append({
            "id": "old", "url": f"{srv.base_url}/old_schema.parquet",
            "size": len(blobs["/old_schema.parquet"]),
            "partition_values": {"day": "2021-04-28"}})
        rows = (spark.read.format("deltasharing")
                .option("profile_json", json.dumps(srv.profile_doc()))
                .option("table", "s.d.t").load().collect())
        assert sorted(r.id for r in rows) == [1, 2]
        assert all(r.amount is None for r in rows)  # NOT id's values


def test_cdf_missing_commit_timestamp_is_null(registered, tmp_path):
    """'timestamp' is optional on change actions; a missing one must
    surface as a NULL _commit_timestamp, not a silent 1970 epoch."""
    plain_schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": False, "metadata": {}}]})
    p = tmp_path / "nots.parquet"
    pq.write_table(pa.table({"id": pa.array([5], pa.int64())}), p)
    table = MockTable(share="s", schema="d", name="nots",
                      schema_string=plain_schema, version=1)
    table.changes.append(  # no "timestamp" key at all
        {"kind": "add", "version": 1, "url": f"file://{p}",
         "id": "n1", "size": 1})
    spark = registered
    with MockSharingServer([table]) as srv:
        sink = f"cdf_nots_{uuid.uuid4().hex[:8]}"
        stream = (spark.readStream.format("deltasharing")
                  .option("profile_json", json.dumps(srv.profile_doc()))
                  .option("table", "s.d.nots")
                  .option("readChangeFeed", "true")
                  .option("startingVersion", "1").load())
        query = (stream.writeStream.outputMode("append")
                 .format("memory").queryName(sink).start())
        try:
            query.processAllAvailable()
            [row] = spark.table(sink).collect()
        finally:
            query.stop()
        assert (row.id, row._change_type, row._commit_version) == \
            (5, "insert", 1)
        assert row._commit_timestamp is None
