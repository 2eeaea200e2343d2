"""Delta Sharing REST client.

Parity target: ``/root/reference/src/client/mod.rs`` (endpoints A22-A28 in
SURVEY.md §2), ``src/client/pagination.rs`` (maxResults/pageToken loop),
``src/client/action.rs`` (Protocol / Metadata / File actions) and
``src/client/response.rs`` (NDJSON line parsing, ``{errorCode, message}``
error bodies).

Endpoints (Delta Sharing protocol, all relative to the profile endpoint):

    GET  /shares                                           list_shares
    GET  /shares/{share}                                   get_share
    GET  /shares/{share}/schemas                           list_schemas
    GET  /shares/{share}/schemas/{schema}/tables           list_tables
    GET  /shares/{share}/all-tables                        list_all_tables
    GET  /shares/{s}/schemas/{sc}/tables/{t}/version       get_table_version
    GET  /shares/{s}/schemas/{sc}/tables/{t}/metadata      get_table_metadata
    POST /shares/{s}/schemas/{sc}/tables/{t}/query         get_table_data
"""

from __future__ import annotations

import io
import json
import time
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timezone
from typing import Any, Callable, Iterator
from urllib.parse import quote

import requests

from datafusion_delta_sharing_spark.errors import (
    ClientHttpError,
    DeltaSharingError,
    ServerHttpError,
)
from datafusion_delta_sharing_spark.profile import Profile
from datafusion_delta_sharing_spark.securable import Schema, Share, Table

VERSION_HEADER = "delta-table-version"


# -- action types (src/client/action.rs) ---------------------------------


@dataclass(frozen=True)
class ProtocolAction:
    """``{"protocol": {"minReaderVersion": N}}`` (action.rs:10-30)."""

    min_reader_version: int = 1
    reader_features: tuple[str, ...] = ()

    @classmethod
    def from_json(cls, doc: dict) -> "ProtocolAction":
        # delta-format responses wrap the fields (PROTOCOL.md
        # "responseformat=delta"): {"protocol": {"deltaProtocol": {...}}}
        if "deltaProtocol" in doc:
            doc = doc["deltaProtocol"]
        return cls(
            min_reader_version=int(doc.get("minReaderVersion", 1)),
            # kept so the scan layer can refuse features it cannot honor
            # (silently ignoring a required reader feature risks wrong
            # rows, the same class of failure as unapplied DVs)
            reader_features=tuple(doc.get("readerFeatures") or ()),
        )


@dataclass(frozen=True)
class MetadataAction:
    """Table metadata (action.rs:67-79): id, format, schemaString,
    partitionColumns plus optional name/description/configuration/version/
    size/numFiles."""

    id: str
    schema_string: str
    partition_columns: tuple[str, ...] = ()
    format_provider: str = "parquet"
    name: str | None = None
    description: str | None = None
    configuration: dict[str, str] = dc_field(default_factory=dict)
    version: int | None = None
    size: int | None = None
    num_files: int | None = None

    @classmethod
    def from_json(cls, doc: dict) -> "MetadataAction":
        # delta-format responses nest the table fields in "deltaMetadata"
        # while version/size/numFiles stay at the outer level — merge with
        # the inner fields winning
        inner = doc.get("deltaMetadata")
        if inner is not None:
            doc = {**doc, **inner}
        return cls(
            id=doc.get("id", ""),
            schema_string=doc.get("schemaString", ""),
            partition_columns=tuple(doc.get("partitionColumns") or ()),
            format_provider=(doc.get("format") or {}).get("provider", "parquet"),
            name=doc.get("name"),
            description=doc.get("description"),
            configuration=dict(doc.get("configuration") or {}),
            version=doc.get("version"),
            size=doc.get("size"),
            num_files=doc.get("numFiles"),
        )


@dataclass(frozen=True)
class FileAction:
    """One data file (action.rs:136-149): presigned ``url``, ``id``,
    ``partitionValues`` (string map; ``None`` normalized to ``""`` per
    action.rs:168-173), ``size``, optional ``stats`` / ``version`` /
    ``timestamp`` / ``expirationTimestamp``."""

    url: str
    id: str
    partition_values: dict[str, str] = dc_field(default_factory=dict)
    size: int = 0
    stats: str | None = None
    version: int | None = None
    timestamp: int | None = None
    expiration_timestamp: int | None = None
    # Delta deletion vector descriptor (delta-format responses). Parsed so
    # the scan layer can REFUSE the file loudly: silently reading the
    # parquet would resurrect every soft-deleted row.
    deletion_vector: dict | None = None

    @classmethod
    def from_json(cls, doc: dict) -> "FileAction":
        # delta-format responses wrap the data-file fields in a
        # deltaSingleAction (add / remove / cdc) whose "path" IS the
        # presigned URL; outer id/version/timestamp/expirationTimestamp
        # stay authoritative
        dsa = doc.get("deltaSingleAction")
        if dsa is not None:
            inner = (dsa.get("add") or dsa.get("remove")
                     or dsa.get("cdc") or {})
            doc = {**doc,
                   "url": inner.get("path", doc.get("url")),
                   "partitionValues": inner.get(
                       "partitionValues", doc.get("partitionValues")),
                   "size": inner.get("size", doc.get("size", 0)),
                   "stats": inner.get("stats", doc.get("stats")),
                   "deletionVector": inner.get(
                       "deletionVector", doc.get("deletionVector"))}
        raw_pv = doc.get("partitionValues") or {}
        partition_values = {k: ("" if v is None else str(v)) for k, v in raw_pv.items()}
        if not doc.get("url"):
            # missing parquet-format 'url' or delta-format inner 'path':
            # fail HERE with a protocol error, not with urlparse(None)
            # deep inside an executor scan
            raise DeltaSharingError(
                f"file action has no url/path: {str(doc)[:200]}")
        return cls(
            url=doc["url"],
            id=doc.get("id", ""),
            partition_values=partition_values,
            # "size": null (some serializers emit it for optional
            # remove.size) must not TypeError deep in parsing
            size=int(doc.get("size") or 0),
            stats=doc.get("stats"),
            version=doc.get("version"),
            timestamp=doc.get("timestamp"),
            expiration_timestamp=doc.get("expirationTimestamp"),
            deletion_vector=doc.get("deletionVector"),
        )

    def parsed_stats(self) -> dict | None:
        """Parse the JSON ``stats`` string (numRecords / minValues / maxValues /
        nullCount). The reference parses but never uses stats
        (action.rs:180-183); we use them for client-side file pruning."""
        if not self.stats:
            return None
        try:
            return json.loads(self.stats)
        except json.JSONDecodeError:
            return None


@dataclass(frozen=True)
class TableData:
    """Result of the ``query`` endpoint: protocol + metadata + file list."""

    protocol: ProtocolAction
    metadata: MetadataAction
    files: tuple[FileAction, ...]
    version: int | None = None


@dataclass(frozen=True)
class TableChanges:
    """Result of the ``changes`` endpoint (CDF): protocol + metadata +
    ``(kind, file)`` actions where kind is ``add`` / ``remove`` / ``cdf``.
    ``add``/``remove`` are whole-file inserts/deletes; ``cdf`` files carry
    row-level changes with their own ``_change_type`` column."""

    protocol: ProtocolAction
    metadata: MetadataAction
    actions: tuple[tuple[str, FileAction], ...]
    version: int | None = None

    @property
    def kinds(self) -> list[str]:
        return [kind for kind, _ in self.actions]

    @property
    def files(self) -> tuple[FileAction, ...]:
        """The actions' files in action order: the listing a change-feed
        read plans (``scan.plan_files``), as a snapshot read plans
        :attr:`TableData.files`."""
        return tuple(f for _, f in self.actions)


# -- client ---------------------------------------------------------------


def _parse_ndjson_actions(text: str) -> Iterator[tuple[str, dict]]:
    """Yield ``(kind, body)`` per NDJSON line; kind is the single wrapper key
    (``protocol`` / ``metaData`` / ``file``), per response.rs:140-177."""
    # iterate lazily: splitlines() materializes a second full copy of a
    # listing body that can be hundreds of MB for a million-file table
    for line in io.StringIO(text):
        line = line.strip()
        if not line:
            continue
        try:
            doc = json.loads(line)
        except json.JSONDecodeError as exc:
            # truncated bodies (connection cut mid-response) must surface
            # as the client's error type, same as wrong-shape lines below
            raise DeltaSharingError(
                f"malformed NDJSON action line: {line[:200]} ({exc})"
            ) from exc
        if not isinstance(doc, dict) or len(doc) != 1:
            raise DeltaSharingError(f"malformed NDJSON action line: {line[:200]}")
        kind, body = next(iter(doc.items()))
        if not isinstance(body, dict):
            # {"metaData": null} / {"protocol": "oops"} would otherwise
            # AttributeError deep inside the action classes
            raise DeltaSharingError(
                f"malformed NDJSON action line: {line[:200]}")
        yield kind, body


def _parse_version_header(raw: str) -> int:
    """``delta-table-version`` header value -> int, with the client's error
    type on garbage (a proxy error page's header must not surface as a
    bare ValueError)."""
    try:
        return int(raw)
    except ValueError as exc:
        raise DeltaSharingError(
            f"sharing server sent a non-integer {VERSION_HEADER} "
            f"header: {raw!r}") from exc


def _header_version(resp: requests.Response) -> int | None:
    """The ``delta-table-version`` header of ``resp``; None when absent."""
    raw = resp.headers.get(VERSION_HEADER)
    return None if raw is None else _parse_version_header(raw)


def _table_actions(resp: requests.Response, endpoint: str,
                   file_line: Callable[[str, dict], Any] | None = None,
                   ) -> tuple[ProtocolAction, MetadataAction, list]:
    """The protocol and metaData lines of a table endpoint's NDJSON body,
    both required, and ``file_line(kind, body)`` of every other line
    (None drops the line)."""
    protocol: ProtocolAction | None = None
    metadata: MetadataAction | None = None
    items: list = []
    for kind, body in _parse_ndjson_actions(resp.text):
        if kind == "protocol":
            protocol = ProtocolAction.from_json(body)
        elif kind == "metaData":
            metadata = MetadataAction.from_json(body)
        elif file_line is not None:
            item = file_line(kind, body)
            if item is not None:
                items.append(item)
    if protocol is None or metadata is None:
        raise DeltaSharingError(
            f"{endpoint} response missing protocol or metaData line")
    return protocol, metadata, items


def _query_file(kind: str, action: dict) -> FileAction | None:
    """A ``/query`` line's data file: only ``file`` lines, and of a
    delta-format response only ``add`` actions."""
    if kind != "file":
        return None
    dsa = action.get("deltaSingleAction")
    if dsa is not None and "add" not in dsa:
        # a snapshot query must list LIVE data only: treating a
        # remove/cdc change action as a data file would read
        # soft-deleted rows back (the CDF endpoint is where
        # those belong)
        raise DeltaSharingError(
            "query response contains a non-add delta action "
            f"{sorted(dsa)}: snapshot listings must carry "
            "only add files")
    return FileAction.from_json(action)


def _change_action(kind: str, action: dict
                   ) -> tuple[str, FileAction] | None:
    """A ``/changes`` line as ``(kind, file)``, kind ``add`` / ``remove`` /
    ``cdf``."""
    dsa = action.get("deltaSingleAction") if kind == "file" else None
    if dsa is not None:
        # delta-format CDF: every change arrives as a "file" line whose
        # deltaSingleAction holds add / remove / cdc — map the inner kind
        # back to the parquet-format vocabulary ("cdc" → "cdf") so
        # downstream grouping is format-blind
        kind = next(("cdf" if k == "cdc" else k
                     for k in ("add", "remove", "cdc") if k in dsa), kind)
    if kind in ("add", "remove", "cdf"):
        return kind, FileAction.from_json(action)
    return None


# the one retry policy of every request the connector sends
_RETRIES = 4
_BACKOFF_S = 0.5


def send_with_retry(send: Callable[[], requests.Response]
                    ) -> requests.Response:
    """The final response of ``send()``, retried on 429 / 5xx / transport
    errors with bounded exponential backoff.

    With a 1000-executor cluster listing files through one sharing server,
    throttling is routine, not exceptional. Waits ``_BACKOFF_S *
    2**attempt``, or the server's ``Retry-After``; every request the
    connector sends is a read (the protocol's POST /query is a listing,
    the token grant is idempotent), so retrying is always safe. Other
    statuses return at once — they will not heal — for the caller to
    check (:func:`check_response`). ``send`` builds its headers on every
    attempt, so an OAuth token can refresh during a backoff. When
    transport errors use up the retries, raises :class:`DeltaSharingError`
    from the last one."""
    last_exc: Exception | None = None
    for attempt in range(_RETRIES + 1):
        try:
            resp = send()
        except requests.RequestException as exc:
            # resets mid-body surface as ChunkedEncodingError /
            # ContentDecodingError, NOT ConnectionError — catching the
            # base class keeps the bounded retry for all of them
            last_exc = exc
        else:
            if resp.status_code < 500 and resp.status_code != 429:
                return resp
            last_exc = None
        if attempt < _RETRIES:
            time.sleep(_BACKOFF_S * (2 ** attempt) if last_exc is not None
                       else _retry_after(resp, attempt))
    if last_exc is not None:
        raise DeltaSharingError(
            f"request failed after {_RETRIES + 1} attempts: {last_exc}"
        ) from last_exc
    return resp


def _retry_after(resp: requests.Response, attempt: int) -> float:
    try:
        # clamp BOTH ends: a negative Retry-After (skewed server clock)
        # would make time.sleep raise ValueError and abort a retryable
        # request
        return min(max(float(resp.headers["Retry-After"]), 0.0), 30.0)
    except (KeyError, ValueError):
        return _BACKOFF_S * (2 ** attempt)


def check_response(resp: requests.Response) -> requests.Response:
    """``resp``, or for a status >= 400 the :class:`ClientHttpError` (4xx)
    / :class:`ServerHttpError` (5xx) carrying ``.status`` and the
    ``{errorCode, message}`` body (src/error.rs:73-89)."""
    if resp.status_code < 400:
        return resp
    error_code = None
    message = resp.text[:500]
    try:
        body = resp.json()
        # non-object JSON error bodies ('"oops"', '[..]') must still
        # map to the client's error types, not AttributeError
        if isinstance(body, dict):
            error_code = body.get("errorCode")
            message = body.get("message", message)
    except ValueError:
        pass
    cls = ClientHttpError if resp.status_code < 500 else ServerHttpError
    raise cls(
        f"HTTP {resp.status_code} from sharing server: {message}",
        status=resp.status_code,
        error_code=error_code,
    )


class DeltaSharingClient:
    """Synchronous Delta Sharing REST client over ``requests``.

    All list endpoints transparently follow ``nextPageToken`` pagination
    (pagination.rs:10-52); ``max_results`` caps the page size like the
    reference's paginated variants. Requests go through
    :func:`send_with_retry` and :func:`check_response`, the one retry
    policy and error mapping of the package, which also cover the scan's
    parquet and deletion-vector GETs and the OAuth token grant.
    """

    def __init__(self, profile: Profile, session: requests.Session | None = None,
                 max_results: int | None = None, timeout: float = 60.0,
                 capabilities: str | None = None):
        self.profile = profile
        self.session = session or requests.Session()
        self.max_results = max_results
        self.timeout = timeout
        # ADVICE r4: the delta-format opt-in is configurable — a provider
        # that answers the delta capability with features this reader
        # refuses at scan time (column mapping, exotic DV encodings) can be
        # re-queried with capabilities="responseformat=parquet" to get a
        # parquet response or a clean server-side error instead
        self.capabilities = (capabilities if capabilities is not None
                             else self.DEFAULT_CAPABILITIES)

    # -- low-level --------------------------------------------------------

    def _url(self, *parts: str) -> str:
        encoded = "/".join(quote(p, safe="") for p in parts)
        return f"{self.profile.endpoint}/{encoded}"

    # advertised on every request (PROTOCOL.md capabilities header): both
    # response formats parse — delta-format actions are unwrapped by the
    # action classes, deletion vectors are applied at scan time, column
    # mapping is translated (parquet columns read by physicalName, flat
    # schemas), and type widening reads pre-widening files under the
    # current wider types, so readerfeatures declares all three (a
    # compliant provider withholds delta responses needing features a
    # client does not declare)
    DEFAULT_CAPABILITIES = (
        "responseformat=parquet,delta;"
        "readerfeatures=deletionvectors,columnmapping,typewidening")

    @property
    def CAPABILITIES_HEADER(self) -> dict:
        return {"delta-sharing-capabilities": self.capabilities}

    def _headers(self) -> dict:
        # built PER ATTEMPT (inside the retry lambda): an OAuth token can
        # expire during backoff sleeps, and authorization_header() is
        # where the profile refreshes it
        return {**self.profile.authorization_header(),
                **self.CAPABILITIES_HEADER}

    def _get(self, url: str, params: dict | None = None) -> requests.Response:
        return check_response(send_with_retry(lambda: self.session.get(
            url, headers=self._headers(), params=params or {},
            timeout=self.timeout)))

    def _post(self, url: str, body: dict) -> requests.Response:
        return check_response(send_with_retry(lambda: self.session.post(
            url, headers={**self._headers(),
                          "Content-Type": "application/json"},
            json=body, timeout=self.timeout)))

    def _get_object(self, url: str, params: dict | None = None) -> dict:
        """The JSON object body of a GET; a 200 carrying anything else (a
        proxy's HTML page, a JSON array) raises :class:`DeltaSharingError`
        naming ``url``."""
        resp = self._get(url, params)
        try:
            body = resp.json()
        except ValueError:
            body = None
        if not isinstance(body, dict):
            raise DeltaSharingError(
                f"sharing server answered {url} with a body that is not a "
                f"JSON object: {resp.text[:200]!r}")
        return body

    def _paginate(self, url: str) -> Iterator[dict]:
        """Follow nextPageToken until exhausted, yielding raw items."""
        token: str | None = None
        while True:
            params: dict[str, Any] = {}
            if self.max_results is not None:
                params["maxResults"] = str(self.max_results)
            if token:
                params["pageToken"] = token
            body = self._get_object(url, params)
            yield from body.get("items", [])
            prev, token = token, body.get("nextPageToken")
            if not token:
                return
            if token == prev:
                # a server echoing the token it was sent would loop
                # forever, yielding unbounded duplicates
                raise DeltaSharingError(
                    f"sharing server repeated nextPageToken {token!r}; "
                    "refusing to loop")

    # -- discovery endpoints (A22-A25) ------------------------------------

    def list_shares(self) -> list[Share]:
        """GET /shares (mod.rs:53-95)."""
        return [
            Share(name=item["name"], id=item.get("id"))
            for item in self._paginate(self._url("shares"))
        ]

    def get_share(self, share: Share | str) -> Share:
        """GET /shares/{share} (mod.rs:98-118)."""
        name = share.name if isinstance(share, Share) else share
        body = self._get_object(self._url("shares", name))
        item = body.get("share", body)
        return Share(name=item["name"], id=item.get("id"))

    def list_schemas(self, share: Share | str) -> list[Schema]:
        """GET /shares/{share}/schemas (mod.rs:121-160)."""
        share_name = share.name if isinstance(share, Share) else share
        return [
            Schema(share=item.get("share", share_name), name=item["name"])
            for item in self._paginate(self._url("shares", share_name, "schemas"))
        ]

    def list_tables(self, schema: Schema) -> list[Table]:
        """GET /shares/{share}/schemas/{schema}/tables (mod.rs:163-205)."""
        url = self._url("shares", schema.share, "schemas", schema.name, "tables")
        return [self._table_from_item(item, schema.share, schema.name)
                for item in self._paginate(url)]

    def list_all_tables(self, share: Share | str) -> list[Table]:
        """GET /shares/{share}/all-tables (mod.rs:208-248)."""
        share_name = share.name if isinstance(share, Share) else share
        url = self._url("shares", share_name, "all-tables")
        return [self._table_from_item(item, share_name, None)
                for item in self._paginate(url)]

    @staticmethod
    def _table_from_item(item: dict, share: str, schema: str | None) -> Table:
        return Table(
            share=item.get("share", share),
            schema=item.get("schema", schema or ""),
            name=item["name"],
            id=item.get("id"),
            share_id=item.get("shareId"),
        )

    # -- table endpoints (A26-A28) ----------------------------------------

    def _table_url(self, table: Table, leaf: str) -> str:
        return self._url("shares", table.share, "schemas", table.schema,
                         "tables", table.name, leaf)

    def get_table_version(self, table: Table,
                          starting_timestamp: datetime | str | None = None) -> int:
        """GET …/version — version arrives in the ``delta-table-version``
        response header (mod.rs:251-280, 443-450)."""
        params = {}
        if starting_timestamp is not None:
            if isinstance(starting_timestamp, datetime):
                # a tz-aware non-UTC datetime must be CONVERTED before the
                # 'Z' suffix labels it UTC — stamping local wall time as
                # Zulu would ask the server for the wrong point in time.
                # A NAIVE datetime is taken to already mean UTC (protocol
                # timestamps are UTC); callers meaning local time must
                # attach their tzinfo
                if starting_timestamp.tzinfo is not None:
                    starting_timestamp = starting_timestamp.astimezone(
                        timezone.utc)
                starting_timestamp = (
                    starting_timestamp.strftime("%Y-%m-%dT%H:%M:%SZ")
                )
            params["startingTimestamp"] = starting_timestamp
        version = _header_version(
            self._get(self._table_url(table, "version"), params=params))
        if version is None:
            raise DeltaSharingError(
                f"sharing server response missing {VERSION_HEADER} header"
            )
        return version

    def get_table_metadata(self, table: Table) -> tuple[ProtocolAction, MetadataAction]:
        """GET …/metadata — two NDJSON lines: protocol then metaData
        (mod.rs:283-319)."""
        protocol, metadata, _ = _table_actions(
            self._get(self._table_url(table, "metadata")), "metadata")
        return protocol, metadata

    def get_table_data(self, table: Table,
                       json_predicate_hints: str | None = None,
                       limit_hint: int | None = None,
                       version: int | None = None,
                       timestamp: str | None = None) -> TableData:
        """POST …/query with optional ``jsonPredicateHints`` / ``limitHint``
        (mod.rs:322-382). Hints are best-effort: the server MAY prune files
        but the caller must still re-apply the predicate/limit exactly.

        ``version`` / ``timestamp`` pin the snapshot (delta-sharing
        PROTOCOL.md "Read Data from a Table" — version time travel; beyond
        the reference, which never sends either). Unlike hints these are
        EXACT: the server errors on an unavailable version rather than
        serving another one. Mutually exclusive per the protocol."""
        if version is not None and timestamp is not None:
            raise DeltaSharingError(
                "version and timestamp are mutually exclusive snapshot pins")
        body: dict[str, Any] = {}
        if json_predicate_hints is not None:
            body["jsonPredicateHints"] = json_predicate_hints
        if limit_hint is not None:
            # JSON number per the delta-sharing PROTOCOL spec. Deliberate
            # deviation from the reference, which stringifies it
            # (mod.rs:336 lim.to_string()) — a strictly-typed server
            # rejects the string form, and lenient ones accept both
            body["limitHint"] = int(limit_hint)
        if version is not None:
            body["version"] = int(version)
        if timestamp is not None:
            body["timestamp"] = timestamp
        resp = self._post(self._table_url(table, "query"), body)
        protocol, metadata, files = _table_actions(resp, "query", _query_file)
        return TableData(protocol=protocol, metadata=metadata,
                         files=tuple(files), version=_header_version(resp))

    def get_table_changes(self, table: Table,
                          starting_version: int | None = None,
                          ending_version: int | None = None,
                          starting_timestamp: str | None = None,
                          ending_timestamp: str | None = None
                          ) -> TableChanges:
        """GET …/changes — the CDF endpoint (delta-sharing PROTOCOL.md
        "Read Change Data Feed from a Table"). The reference left this a
        ``todo!()`` (mod.rs:384-386); implemented here per the public
        protocol: one of ``starting_version`` / ``starting_timestamp`` is
        required, NDJSON response yields protocol + metaData followed by
        ``add`` / ``remove`` / ``cdf`` actions each tagged with its commit
        ``version`` and ``timestamp``."""
        if starting_version is None and starting_timestamp is None:
            raise DeltaSharingError(
                "table changes require starting_version or "
                "starting_timestamp")
        if starting_version is not None and starting_timestamp is not None:
            raise DeltaSharingError(
                "starting_version and starting_timestamp are mutually "
                "exclusive")
        params: dict[str, Any] = {}
        if starting_version is not None:
            params["startingVersion"] = int(starting_version)
        if ending_version is not None:
            params["endingVersion"] = int(ending_version)
        if starting_timestamp is not None:
            params["startingTimestamp"] = starting_timestamp
        if ending_timestamp is not None:
            params["endingTimestamp"] = ending_timestamp
        resp = self._get(self._table_url(table, "changes"), params=params)
        protocol, metadata, actions = _table_actions(resp, "changes",
                                                     _change_action)
        return TableChanges(protocol=protocol, metadata=metadata,
                            actions=tuple(actions),
                            version=_header_version(resp))
