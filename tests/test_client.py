"""REST client tests against the in-process mock server — the analogue of the
reference's httpmock suite (src/client/mod.rs:452-831): every endpoint,
pagination, auth header, hint body, version header, 404 error mapping."""

import json

import pytest

from datafusion_delta_sharing_spark import client as client_mod
from datafusion_delta_sharing_spark.client import DeltaSharingClient
from datafusion_delta_sharing_spark.errors import ClientHttpError
from datafusion_delta_sharing_spark.profile import Profile
from datafusion_delta_sharing_spark.securable import Schema, Table
from tests.mock_server import MockSharingServer, MockTable

SCHEMA_STRING = json.dumps({"type": "struct", "fields": [
    {"name": "id", "type": "long", "nullable": True, "metadata": {}},
    {"name": "day", "type": "date", "nullable": True, "metadata": {}},
]})


def make_tables():
    return [
        MockTable(share="sales", schema="emea", name="orders",
                  schema_string=SCHEMA_STRING, partition_columns=["day"],
                  files=[
                      {"id": "f1", "url": "https://data.example/f1", "size": 100,
                       "partition_values": {"day": "2021-04-28"},
                       "stats": json.dumps({"numRecords": 10,
                                            "minValues": {"id": 1},
                                            "maxValues": {"id": 50},
                                            "nullCount": {"id": 0}})},
                      {"id": "f2", "url": "https://data.example/f2", "size": 200,
                       "partition_values": {"day": "2021-04-29"}},
                  ]),
        MockTable(share="sales", schema="emea", name="returns",
                  schema_string=SCHEMA_STRING),
        MockTable(share="sales", schema="apac", name="orders",
                  schema_string=SCHEMA_STRING),
        MockTable(share="hr", schema="people", name="employees",
                  schema_string=SCHEMA_STRING),
    ]


@pytest.fixture()
def server():
    with MockSharingServer(make_tables()) as srv:
        yield srv


@pytest.fixture()
def client(server):
    return DeltaSharingClient(Profile.from_json(server.profile_doc()))


def test_list_shares(client):
    names = [s.name for s in client.list_shares()]
    assert names == ["hr", "sales"]


def test_list_shares_pagination():
    with MockSharingServer(make_tables(), page_size=1) as srv:
        client = DeltaSharingClient(Profile.from_json(srv.profile_doc()),
                                    max_results=1)
        names = [s.name for s in client.list_shares()]
        assert names == ["hr", "sales"]
        pages = [r for r in srv.requests if r["path"].endswith("/shares")]
        assert len(pages) == 2
        assert pages[0]["query"] == {"maxResults": "1"}
        assert pages[1]["query"] == {"maxResults": "1", "pageToken": "1"}


def test_get_share(client):
    share = client.get_share("sales")
    assert share.name == "sales" and share.id == "id-sales"


def test_list_schemas(client):
    schemas = client.list_schemas("sales")
    assert sorted(s.name for s in schemas) == ["apac", "emea"]
    assert all(s.share == "sales" for s in schemas)


def test_list_tables_in_schema(client):
    tables = client.list_tables(Schema(share="sales", name="emea"))
    assert sorted(t.name for t in tables) == ["orders", "returns"]


def test_list_all_tables(client):
    tables = client.list_all_tables("sales")
    assert sorted(t.full_name() for t in tables) == [
        "sales.apac.orders", "sales.emea.orders", "sales.emea.returns",
    ]


def test_table_version_header(client, server):
    version = client.get_table_version(Table.from_str("sales.emea.orders"))
    assert version == 7
    version_ts = client.get_table_version(
        Table.from_str("sales.emea.orders"), "2022-01-01T00:00:00Z")
    assert version_ts == 7
    req = server.requests[-1]
    assert req["query"] == {"startingTimestamp": "2022-01-01T00:00:00Z"}


def test_table_metadata(client):
    protocol, metadata = client.get_table_metadata(Table.from_str("sales.emea.orders"))
    assert protocol.min_reader_version == 1
    assert metadata.partition_columns == ("day",)
    assert json.loads(metadata.schema_string)["type"] == "struct"


def test_table_data_with_hints(client, server):
    hints = '{"op":"isNull","children":[{"op":"column","name":"id","valueType":"long"}]}'
    data = client.get_table_data(Table.from_str("sales.emea.orders"),
                                 json_predicate_hints=hints, limit_hint=100)
    assert data.version == 7
    assert [f.id for f in data.files] == ["f1", "f2"]
    assert data.files[0].partition_values == {"day": "2021-04-28"}
    assert data.files[0].parsed_stats()["numRecords"] == 10
    assert data.files[1].parsed_stats() is None
    body = json.loads(server.requests[-1]["body"])
    assert body == {"jsonPredicateHints": hints, "limitHint": 100}


def test_table_data_no_hints_empty_body(client, server):
    client.get_table_data(Table.from_str("sales.emea.orders"))
    assert json.loads(server.requests[-1]["body"]) == {}


def test_auth_header_sent(client, server):
    client.list_shares()
    assert server.requests[-1]["auth"] == "Bearer test-token-0000"


def test_404_maps_to_client_error(client):
    with pytest.raises(ClientHttpError) as err:
        client.get_table_metadata(Table.from_str("sales.emea.nope"))
    assert err.value.status == 404
    assert err.value.error_code == "RESOURCE_DOES_NOT_EXIST"


def test_bad_token_maps_to_client_error(server):
    bad = Profile.from_json({**server.profile_doc(), "bearerToken": "wrong"})
    with pytest.raises(ClientHttpError) as err:
        DeltaSharingClient(bad).list_shares()
    assert err.value.status == 401
    assert err.value.error_code == "UNAUTHENTICATED"


def test_table_changes_requires_start_and_exclusivity(client):
    # the reference stops at todo!() here (mod.rs:384-386); our protocol
    # implementation validates inputs client-side
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    with pytest.raises(DeltaSharingError, match="starting_version"):
        client.get_table_changes(Table.from_str("sales.emea.orders"))
    with pytest.raises(DeltaSharingError, match="mutually exclusive"):
        client.get_table_changes(Table.from_str("sales.emea.orders"),
                                 starting_version=1,
                                 starting_timestamp="2021-01-01T00:00:00Z")


def test_table_changes_filters_versions(server):
    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    table = next(t for t in server.tables
                 if (t.share, t.schema, t.name) == ("sales", "emea", "orders"))
    table.changes.extend([
        {"kind": "add", "version": 1, "timestamp": 1000,
         "url": "https://data.example/c1", "id": "c1", "size": 10},
        {"kind": "remove", "version": 2, "timestamp": 2000,
         "url": "https://data.example/c2", "id": "c2", "size": 20},
        {"kind": "cdf", "version": 3, "timestamp": 3000,
         "url": "https://data.example/c3", "id": "c3", "size": 30},
    ])
    ch = client.get_table_changes(Table.from_str("sales.emea.orders"),
                                  starting_version=2, ending_version=3)
    assert [(k, f.id, f.version) for k, f in ch.actions] == [
        ("remove", "c2", 2), ("cdf", "c3", 3)]
    assert ch.metadata.schema_string  # metadata line parsed
    q = [r for r in server.requests if r["path"].endswith("/changes")][-1]
    assert q["query"] == {"startingVersion": "2", "endingVersion": "3"}


def test_table_changes_malformed_starting_timestamp_400s(server):
    """The mock must answer a malformed startingTimestamp with the
    protocol's INVALID_PARAMETER_VALUE 400 — an uncaught ValueError in
    the handler thread would drop the connection with no response."""
    from datafusion_delta_sharing_spark.errors import ClientHttpError

    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    with pytest.raises(ClientHttpError, match="RFC-3339"):
        client.get_table_changes(Table.from_str("sales.emea.orders"),
                                 starting_timestamp="not-a-date")


def test_partition_values_none_normalized():
    from datafusion_delta_sharing_spark.client import FileAction
    f = FileAction.from_json({"url": "u", "id": "i",
                              "partitionValues": {"day": None}, "size": 1})
    assert f.partition_values == {"day": ""}


def test_retry_on_429_then_success(server, monkeypatch):
    monkeypatch.setattr(client_mod, "_BACKOFF_S", 0.0)
    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    path = "/delta-sharing/shares"
    server.throttle_paths[path] = 2
    names = [s.name for s in client.list_shares()]
    assert names == ["hr", "sales"]
    throttled = [r for r in server.requests if r["path"] == path]
    assert len(throttled) == 3  # 2 x 429 + 1 success


def test_retry_exhaustion_surfaces_429(server, monkeypatch):
    monkeypatch.setattr(client_mod, "_RETRIES", 1)
    monkeypatch.setattr(client_mod, "_BACKOFF_S", 0.0)
    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    server.throttle_paths["/delta-sharing/shares"] = 99
    with pytest.raises(ClientHttpError) as exc:
        client.list_shares()
    assert exc.value.status == 429
    assert server.throttle_paths["/delta-sharing/shares"] == 97  # 2 attempts


def test_no_retry_on_plain_4xx(server, monkeypatch):
    monkeypatch.setattr(client_mod, "_BACKOFF_S", 0.0)
    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    with pytest.raises(ClientHttpError):
        client.get_share("nope")
    hits = [r for r in server.requests
            if r["path"].endswith("/shares/nope")]
    assert len(hits) == 1  # 404 is terminal, not retried


# -- r5 protocol-robustness fixes ------------------------------------------


def test_version_timestamp_converted_to_utc(server, client):
    """A tz-aware non-UTC starting_timestamp must be CONVERTED to UTC
    before the 'Z' suffix labels it — stamping +05:30 wall time as Zulu
    would ask for the wrong snapshot."""
    from datetime import datetime, timedelta, timezone

    ist = timezone(timedelta(hours=5, minutes=30))
    client.get_table_version(
        Table(share="sales", schema="emea", name="orders"),
        starting_timestamp=datetime(2024, 1, 1, 12, 0, tzinfo=ist))
    q = [r["query"] for r in server.requests if "/version" in r["path"]][-1]
    assert q["startingTimestamp"] == "2024-01-01T06:30:00Z"


def test_ndjson_truncated_line_raises_client_error():
    from datafusion_delta_sharing_spark.client import _parse_ndjson_actions
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    with pytest.raises(DeltaSharingError, match="malformed NDJSON"):
        list(_parse_ndjson_actions('{"file": {"url"'))


def test_file_action_without_url_raises_client_error():
    from datafusion_delta_sharing_spark.client import FileAction
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    with pytest.raises(DeltaSharingError, match="no url/path"):
        FileAction.from_json({"id": "x"})
    with pytest.raises(DeltaSharingError, match="no url/path"):
        FileAction.from_json({"id": "x", "deltaSingleAction": {"add": {}}})


def test_error_body_non_object_json_still_maps():
    """HTTP 4xx/5xx with a valid-JSON non-object body ('\"oops\"') must
    map to the client error types, not AttributeError."""
    class FakeResp:
        status_code = 500
        text = '"internal"'

        headers: dict = {}

        def json(self):
            return "internal"

    from datafusion_delta_sharing_spark.errors import ServerHttpError

    with pytest.raises(ServerHttpError):
        client_mod.check_response(FakeResp())


@pytest.mark.parametrize("text", ["<html><body>502 Bad Gateway</body></html>",
                                  '[{"name": "sales"}]'])
def test_non_object_json_body_raises_typed_error(text):
    """A 200 whose body is not a JSON object (a proxy's HTML page, a JSON
    array) raises DeltaSharingError naming the URL, not a decode error
    or AttributeError."""
    import requests

    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    class Session:
        def get(self, url, **kwargs):
            resp = requests.Response()
            resp.status_code = 200
            resp.encoding = "utf-8"
            resp._content = text.encode()
            return resp

    client = DeltaSharingClient(Profile.from_json(json.dumps({
        "shareCredentialsVersion": 1, "endpoint": "http://x",
        "bearerToken": "t"})), session=Session())
    with pytest.raises(DeltaSharingError, match="http://x/shares"):
        client.list_shares()
    with pytest.raises(DeltaSharingError, match="http://x/shares/sales"):
        client.get_share("sales")


def test_profile_bad_version_raises_profile_error():
    from datafusion_delta_sharing_spark.errors import ProfileError

    for bad in (None, "2.0", []):
        with pytest.raises(ProfileError, match="shareCredentialsVersion"):
            Profile.from_json({"shareCredentialsVersion": bad,
                               "endpoint": "http://x", "bearerToken": "t"})


def test_empty_or_disjunction_never_prunes():
    from datafusion_delta_sharing_spark.plans.predicates import Op, ValueType
    from datafusion_delta_sharing_spark.plans.pruning import may_match

    stats = {"minValues": {"id": 1}, "maxValues": {"id": 5},
             "nullCount": {"id": 0}}
    empty_or = Op(op="or", children=())
    assert may_match(empty_or, stats) is True
    inner = Op.equal(Op.column("id", ValueType.LONG),
                     Op.literal(99, ValueType.LONG))
    assert may_match(Op(op="and", children=(empty_or, inner)), stats) is False


def test_timestamp_partition_value_with_offset_keeps_instant():
    """An offset-carrying timestamp partition value decodes to an AWARE
    datetime for TimestampType (a naive one would be re-read in the
    session tz, shifting the instant); NTZ normalizes to the UTC wall."""
    import datetime as dt

    from pyspark.sql import types as T

    from datafusion_delta_sharing_spark.sources.schema import (
        decode_partition_value,
    )

    aware = decode_partition_value("2021-04-29T10:00:00+02:00",
                                   T.TimestampType())
    assert aware.tzinfo is not None
    assert aware.astimezone(dt.timezone.utc).hour == 8
    naive = decode_partition_value("2021-04-29 10:00:00", T.TimestampType())
    assert naive.tzinfo is None and naive.hour == 10
    ntz = decode_partition_value("2021-04-29T10:00:00Z",
                                 T.TimestampNTZType())
    assert ntz.tzinfo is None and ntz.hour == 10


def test_unsupported_reader_features_refused(spark_noop=None):
    """A protocol line requiring reader features this client cannot honor
    (columnMapping, typeWidening) must refuse at listing time — scanning
    those tables as plain parquet yields wrong rows. Supported features
    (deletionVectors, timestampNtz) pass."""
    from datafusion_delta_sharing_spark.client import ProtocolAction

    p = ProtocolAction.from_json(
        {"minReaderVersion": 3,
         "readerFeatures": ["deletionVectors", "columnMapping"]})
    assert p.reader_features == ("deletionVectors", "columnMapping")
    # delta-format wrapping preserved too
    p2 = ProtocolAction.from_json(
        {"deltaProtocol": {"minReaderVersion": 3,
                           "readerFeatures": ["typeWidening"]}})
    assert p2.reader_features == ("typeWidening",)


def test_query_rejects_non_add_delta_actions(server):
    """A snapshot /query response carrying a remove/cdc deltaSingleAction
    must refuse: treating a change action as a live data file reads
    soft-deleted rows back."""
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    table = next(t for t in server.tables
                 if (t.share, t.schema, t.name) == ("sales", "emea", "orders"))
    table.response_format = "delta"
    table.files.append({
        "id": "zombie", "url": "https://data.example/z.parquet", "size": 9,
        "partition_values": {}, "delta_kind": "remove"})
    try:
        with pytest.raises(DeltaSharingError, match="non-add"):
            client.get_table_data(Table.from_str("sales.emea.orders"))
    finally:
        table.files.pop()
        table.response_format = "parquet"


def test_malformed_ndjson_bodies_raise_client_error():
    from datafusion_delta_sharing_spark.client import _parse_ndjson_actions

    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    with pytest.raises(DeltaSharingError, match="malformed"):
        list(_parse_ndjson_actions('{"metaData": null}'))
    with pytest.raises(DeltaSharingError, match="malformed"):
        list(_parse_ndjson_actions('{"protocol": "oops"}'))


def test_file_action_null_size_tolerated():
    from datafusion_delta_sharing_spark.client import FileAction

    f = FileAction.from_json({"url": "u", "id": "i", "size": None})
    assert f.size == 0


def test_version_header_garbage_raises_client_error(server):
    client = DeltaSharingClient(Profile.from_json(server.profile_doc()))
    from datafusion_delta_sharing_spark.client import _parse_version_header
    from datafusion_delta_sharing_spark.errors import DeltaSharingError

    with pytest.raises(DeltaSharingError, match="non-integer"):
        _parse_version_header("unknown")
    assert _parse_version_header("12") == 12
