"""In-process mock Delta Sharing server for connector tests.

Plays the role of the reference's ``httpmock`` test server
(``/root/reference/src/client/mod.rs:452-831``): serves the discovery
endpoints, table metadata/query NDJSON, pagination, auth checking, and —
beyond the reference's mock — actual parquet bytes with ``Range`` support so
the distributed ``mapInArrow`` read path can be tested end-to-end.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

TOKEN = "test-token-0000"

_TABLE_IDS = itertools.count(1)


def _next_table_id() -> str:
    """``tbl-NNNN`` from a process-wide counter: eight characters, the
    length of every id this server has served."""
    return f"tbl-{next(_TABLE_IDS) % 10_000:04d}"


@dataclass
class MockTable:
    share: str
    schema: str
    name: str
    schema_string: str
    partition_columns: list[str] = field(default_factory=list)
    # (file_id, url_or_None, partition_values, stats_json_or_None)
    files: list[dict] = field(default_factory=list)
    version: int = 7
    # metaData.id: distinct per table, as two real Delta tables never
    # share one, so a client cache keyed by it keeps two tables apart
    table_id: str = field(default_factory=_next_table_id)
    # optional time travel: version -> file list for that snapshot;
    # ``files`` stays the latest. A query body pinning an absent version
    # gets the protocol's RESOURCE_DOES_NOT_EXIST error.
    history: dict = field(default_factory=dict)
    # optional CDF: list of {"kind": add|remove|cdf, "version": int,
    # "timestamp": int, **file fields} served by /changes filtered on
    # startingVersion/endingVersion
    changes: list = field(default_factory=list)
    # "parquet" (default) or "delta": delta wraps protocol/metaData fields
    # and file actions in deltaProtocol/deltaMetadata/deltaSingleAction
    # per PROTOCOL.md responseformat=delta
    response_format: str = "parquet"
    # table properties surfaced in metaData.configuration (e.g.
    # delta.columnMapping.mode for the reader's refusal path)
    configuration: dict = field(default_factory=dict)
    # protocol readerFeatures advertised in the protocol line (for the
    # scan layer's unsupported-feature refusal path)
    reader_features: list = field(default_factory=list)


class MockSharingServer:
    """Start with ``with MockSharingServer(tables) as srv: srv.endpoint``."""

    def __init__(self, tables: list[MockTable], page_size: int | None = None,
                 parquet_bytes: dict[str, bytes] | None = None):
        self.tables = tables
        self.page_size = page_size
        self.parquet_bytes = parquet_bytes or {}  # path -> bytes, served w/ Range
        self.forbidden_paths: set[str] = set()  # served as 403 (expired URL)
        self.ignore_range = False  # True: serve 200 full body, no Range
        # optional OAuth client-credentials endpoint (/oauth/token):
        # configure with {"client_id": .., "client_secret": .., "expires_in": N}
        self.oauth: dict | None = None
        self.issued_tokens: list[str] = []
        # path -> remaining count of 429 responses before success (retry
        # tests); decremented per hit, Retry-After: 0 sent to skip waits
        self.throttle_paths: dict[str, int] = {}
        self.requests: list[dict] = []  # method, path, query, body, headers
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def endpoint(self) -> str:
        assert self._server is not None
        return f"http://127.0.0.1:{self._server.server_address[1]}/delta-sharing"

    @property
    def base_url(self) -> str:
        assert self._server is not None
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def profile_doc(self) -> dict:
        return {
            "shareCredentialsVersion": 1,
            "endpoint": self.endpoint,
            "bearerToken": TOKEN,
        }

    def __enter__(self) -> "MockSharingServer":
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet
                pass

            def _record(self, body: str | None):
                parsed = urlparse(self.path)
                outer.requests.append({
                    "method": self.command,
                    "path": parsed.path,
                    "query": {k: v[0] for k, v in parse_qs(parsed.query).items()},
                    "body": body,
                    "auth": self.headers.get("Authorization"),
                    "capabilities": self.headers.get(
                        "delta-sharing-capabilities"),
                    # byte-accounting for the fetch-path probe: which
                    # slice of a served blob this GET actually moved
                    "range": self.headers.get("Range"),
                })

            def _send(self, status: int, payload: bytes,
                      content_type: str = "application/json",
                      headers: dict | None = None):
                self.send_response(status)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(payload)))
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(payload)

            def _check_auth(self) -> bool:
                sent = self.headers.get("Authorization")
                ok = {f"Bearer {TOKEN}"} | {
                    f"Bearer {t}" for t in outer.issued_tokens}
                if sent not in ok:
                    self._send(401, json.dumps({
                        "errorCode": "UNAUTHENTICATED",
                        "message": "invalid bearer token",
                    }).encode())
                    return False
                return True

            def _maybe_throttle(self, path: str) -> bool:
                if outer.throttle_paths.get(path, 0) > 0:
                    outer.throttle_paths[path] -= 1
                    self._send(429, json.dumps({
                        "errorCode": "THROTTLED",
                        "message": "too many requests",
                    }).encode(), headers={"Retry-After": "0"})
                    return True
                return False

            def do_GET(self):
                self._record(None)
                parsed = urlparse(self.path)
                path, query = parsed.path, {k: v[0] for k, v in
                                            parse_qs(parsed.query).items()}
                if self._maybe_throttle(path):
                    return
                if path in outer.forbidden_paths:
                    return self._send(403, json.dumps({
                        "errorCode": "EXPIRED", "message": "url expired",
                    }).encode())
                if path in outer.parquet_bytes:
                    return self._serve_parquet(path)
                if not self._check_auth():
                    return
                route = path[len("/delta-sharing"):] if path.startswith("/delta-sharing") else path
                outer._route_get(self, route, query)

            def do_POST(self):
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode() if length else ""
                self._record(body)
                if self._maybe_throttle(urlparse(self.path).path):
                    return
                if urlparse(self.path).path == "/oauth/token":
                    return outer._route_token(self, body)
                if not self._check_auth():
                    return
                parsed = urlparse(self.path)
                route = (parsed.path[len("/delta-sharing"):]
                         if parsed.path.startswith("/delta-sharing")
                         else parsed.path)  # same guard as do_GET
                outer._route_post(self, route, body)

            def _serve_parquet(self, path: str):
                """Range support for the full RFC-7233 single-range forms:
                bytes=a-b, open-ended bytes=a-, and the suffix bytes=-n
                (the footer-first read HTTP file layers send). Unsatisfiable
                ranges get a proper 416, not a bogus 206."""
                blob = outer.parquet_bytes[path]
                range_header = self.headers.get("Range")
                if outer.ignore_range:
                    # simulate a server/proxy that drops Range support:
                    # 200 with the whole body (clients must cope — RFC
                    # 7233 makes Range advisory)
                    range_header = None
                if range_header:
                    m = re.fullmatch(r"bytes=(\d*)-(\d*)",
                                     range_header.strip())
                    if m is None or m.group(0) == "bytes=-":
                        return self._send(400, b"bad Range header")
                    a, b = m.group(1), m.group(2)
                    if a == "":            # suffix: last b bytes
                        start = max(0, len(blob) - int(b))
                        end = len(blob) - 1
                    else:
                        start = int(a)
                        end = int(b) if b else len(blob) - 1
                    end = min(end, len(blob) - 1)
                    if start > end or start >= len(blob):
                        self.send_response(416)
                        self.send_header("Content-Range",
                                         f"bytes */{len(blob)}")
                        self.send_header("Content-Length", "0")
                        self.end_headers()
                        return
                    chunk = blob[start:end + 1]
                    self.send_response(206)
                    self.send_header("Content-Type", "application/octet-stream")
                    self.send_header("Content-Range",
                                     f"bytes {start}-{end}/{len(blob)}")
                    self.send_header("Content-Length", str(len(chunk)))
                    self.end_headers()
                    self.wfile.write(chunk)
                else:
                    self._send(200, blob, "application/octet-stream")

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        assert self._server is not None
        self._server.shutdown()
        self._server.server_close()

    # -- routing ----------------------------------------------------------

    def _paginate(self, handler, items: list[dict], query: dict):
        page = self.page_size
        token = query.get("pageToken")
        start = int(token) if token else 0
        if page:
            chunk = items[start:start + page]
            body: dict = {"items": chunk}
            if start + page < len(items):
                body["nextPageToken"] = str(start + page)
        else:
            body = {"items": items}
        handler._send(200, json.dumps(body).encode())

    def _route_get(self, handler, route: str, query: dict):
        shares = sorted({t.share for t in self.tables})
        m_tables = re.fullmatch(r"/shares/([^/]+)/schemas/([^/]+)/tables", route)
        m_table_leaf = re.fullmatch(
            r"/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/(version|metadata)", route
        )
        m_changes = re.fullmatch(
            r"/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/changes", route)
        if m_changes:
            return self._route_changes(handler, m_changes.groups(), query)
        if route == "/shares":
            items = [{"name": s, "id": f"id-{s}"} for s in shares]
            return self._paginate(handler, items, query)
        m_share = re.fullmatch(r"/shares/([^/]+)", route)
        if m_share and m_share.group(1) in shares:
            name = m_share.group(1)
            return handler._send(200, json.dumps(
                {"share": {"name": name, "id": f"id-{name}"}}).encode())
        m_schemas = re.fullmatch(r"/shares/([^/]+)/schemas", route)
        if m_schemas:
            share = m_schemas.group(1)
            schemas = sorted({t.schema for t in self.tables if t.share == share})
            items = [{"name": s, "share": share} for s in schemas]
            return self._paginate(handler, items, query)
        if m_tables:
            share, schema = m_tables.groups()
            items = [{"name": t.name, "schema": t.schema, "share": t.share,
                      "id": t.table_id}
                     for t in self.tables
                     if t.share == share and t.schema == schema]
            return self._paginate(handler, items, query)
        m_all = re.fullmatch(r"/shares/([^/]+)/all-tables", route)
        if m_all:
            share = m_all.group(1)
            items = [{"name": t.name, "schema": t.schema, "share": t.share,
                      "id": t.table_id}
                     for t in self.tables if t.share == share]
            return self._paginate(handler, items, query)
        if m_table_leaf:
            share, schema, name, leaf = m_table_leaf.groups()
            table = self._find(share, schema, name)
            if table is None:
                return self._not_found(handler, f"{share}/{schema}/{name}")
            if leaf == "version":
                return handler._send(200, b"{}",
                                     headers={"Delta-Table-Version": str(table.version)})
            return handler._send(200, self._metadata_ndjson(table).encode(),
                                 "application/x-ndjson",
                                 headers={"Delta-Table-Version": str(table.version)})
        self._not_found(handler, route)

    def _route_token(self, handler, body: str):
        """OAuth2 client-credentials token endpoint (form-encoded body)."""
        if self.oauth is None:
            return self._not_found(handler, "/oauth/token")
        form = {k: v[0] for k, v in parse_qs(body).items()}
        if (form.get("grant_type") != "client_credentials"
                or form.get("client_id") != self.oauth["client_id"]
                or form.get("client_secret") != self.oauth["client_secret"]):
            return handler._send(401, json.dumps(
                {"error": "invalid_client"}).encode())
        token = f"oauth-token-{len(self.issued_tokens)}"
        self.issued_tokens.append(token)
        handler._send(200, json.dumps({
            "access_token": token, "token_type": "bearer",
            "expires_in": self.oauth.get("expires_in", 3600),
        }).encode())

    def _route_changes(self, handler, ids: tuple, query: dict):
        table = self._find(*ids)
        if table is None:
            return self._not_found(handler, "/".join(ids))
        if "startingVersion" not in query and \
                "startingTimestamp" not in query:
            return handler._send(400, json.dumps({
                "errorCode": "INVALID_PARAMETER_VALUE",
                "message": "startingVersion or startingTimestamp required",
            }).encode())
        start = int(query.get("startingVersion", -1))
        if "startingVersion" not in query:
            # resolve startingTimestamp -> first version at/after it, like
            # a real server; ignoring it would serve the full history and
            # mask broken client timestamp handling
            from datetime import datetime, timezone

            ts = query["startingTimestamp"].replace("Z", "+00:00")
            try:
                parsed = datetime.fromisoformat(ts)
            except ValueError:
                # a malformed timestamp must 400 like every other bad
                # parameter — an uncaught ValueError in the handler
                # thread drops the connection with no response
                return handler._send(400, json.dumps({
                    "errorCode": "INVALID_PARAMETER_VALUE",
                    "message": "startingTimestamp is not a valid "
                               "RFC-3339 timestamp",
                }).encode())
            if parsed.tzinfo is None:
                # protocol timestamps are UTC; astimezone() on a naive
                # datetime would interpret it in HOST-local time and
                # shift the cutoff by the host tz offset
                parsed = parsed.replace(tzinfo=timezone.utc)
            cutoff_ms = int(parsed.astimezone(timezone.utc)
                            .timestamp() * 1000)
            versions = [ch["version"] for ch in table.changes
                        if ch.get("timestamp", 0) >= cutoff_ms]
            if not versions:
                return handler._send(400, json.dumps({
                    "errorCode": "INVALID_PARAMETER_VALUE",
                    "message": "startingTimestamp after the latest commit",
                }).encode())
            start = min(versions)
        end = int(query["endingVersion"]) if "endingVersion" in query \
            else None
        lines = [self._metadata_ndjson(table)]
        served_max = table.version
        for ch in table.changes:
            v = ch["version"]
            if v < start or (end is not None and v > end):
                continue
            if table.response_format == "delta":
                inner_kind = "cdc" if ch["kind"] == "cdf" else ch["kind"]
                inner = {
                    "path": ch["url"],
                    "partitionValues": ch.get("partition_values", {}),
                    "size": ch.get("size", 0),
                }
                if ch.get("deletion_vector") is not None:
                    inner["deletionVector"] = ch["deletion_vector"]
                doc = {
                    "id": ch["id"],
                    "version": v,
                    "deltaSingleAction": {inner_kind: inner},
                }
                if "timestamp" in ch:  # optional in the protocol
                    doc["timestamp"] = ch["timestamp"]
                lines.append(json.dumps({"file": doc}))
                continue
            doc = {
                "url": ch["url"],
                "id": ch["id"],
                "partitionValues": ch.get("partition_values", {}),
                "size": ch.get("size", 0),
                "version": v,
            }
            if "timestamp" in ch:  # optional in the protocol
                doc["timestamp"] = ch["timestamp"]
            if ch.get("deletion_vector") is not None:
                doc["deletionVector"] = ch["deletion_vector"]
            lines.append(json.dumps({ch["kind"]: doc}))
        handler._send(200, "\n".join(lines).encode(),
                      "application/x-ndjson",
                      headers={"Delta-Table-Version": str(served_max)})

    def _route_post(self, handler, route: str, body: str):
        m = re.fullmatch(r"/shares/([^/]+)/schemas/([^/]+)/tables/([^/]+)/query", route)
        if not m:
            return self._not_found(handler, route)
        table = self._find(*m.groups())
        if table is None:
            return self._not_found(handler, "/".join(m.groups()))
        served_files, served_version = table.files, table.version
        try:
            doc = json.loads(body) if body else {}
            # valid JSON that is not an object ('42', 'null') must 400,
            # not kill the handler thread with AttributeError
            if not isinstance(doc, dict):
                return handler._send(400, json.dumps({
                    "errorCode": "INVALID_PARAMETER_VALUE",
                    "message": "query body must be a JSON object",
                }).encode())
            pinned = doc.get("version")
        except json.JSONDecodeError:
            pinned = None
        if pinned is not None and pinned != table.version:
            if pinned not in table.history:
                return self._not_found(handler, f"version {pinned}")
            served_files, served_version = table.history[pinned], pinned
        lines = [self._metadata_ndjson(table)]
        for f in served_files:
            if table.response_format == "delta":
                add = {
                    "path": f["url"],
                    "partitionValues": f.get("partition_values", {}),
                    "size": f.get("size", 0),
                }
                if f.get("stats") is not None:
                    add["stats"] = f["stats"]
                if f.get("deletion_vector") is not None:
                    add["deletionVector"] = f["deletion_vector"]
                doc = {"id": f["id"],
                       "deltaSingleAction": {
                           f.get("delta_kind", "add"): add}}
            else:
                doc = {
                    "url": f["url"],
                    "id": f["id"],
                    "partitionValues": f.get("partition_values", {}),
                    "size": f.get("size", 0),
                }
                if f.get("stats") is not None:
                    doc["stats"] = f["stats"]
                if f.get("deletion_vector") is not None:
                    doc["deletionVector"] = f["deletion_vector"]
            lines.append(json.dumps({"file": doc}))
        handler._send(200, "\n".join(lines).encode(), "application/x-ndjson",
                      headers={"Delta-Table-Version": str(served_version)})

    def _metadata_ndjson(self, table: MockTable) -> str:
        meta = {
            "id": table.table_id,
            "format": {"provider": "parquet"},
            "schemaString": table.schema_string,
            "partitionColumns": table.partition_columns,
        }
        if table.configuration:
            meta["configuration"] = table.configuration
        proto = {"minReaderVersion": 3 if table.reader_features else 1}
        if table.reader_features:
            proto["readerFeatures"] = list(table.reader_features)
        if table.response_format == "delta":
            return "\n".join([
                json.dumps({"protocol": {"deltaProtocol": {
                    **proto, "minWriterVersion": 2}}}),
                json.dumps({"metaData": {"deltaMetadata": meta}}),
            ])
        return "\n".join([
            json.dumps({"protocol": proto}),
            json.dumps({"metaData": meta}),
        ])

    def _find(self, share: str, schema: str, name: str) -> MockTable | None:
        for t in self.tables:
            if (t.share, t.schema, t.name) == (share, schema, name):
                return t
        return None

    def _not_found(self, handler, what: str):
        handler._send(404, json.dumps({
            "errorCode": "RESOURCE_DOES_NOT_EXIST",
            "message": f"{what} does not exist",
        }).encode())
