"""Measurement from outside the program: the mock server's request log,
Spark's ``AppStatusStore``, spans around public entry points, process
memory and host noise."""

from __future__ import annotations

import functools
import json
import os
import socket
import threading
import time
from dataclasses import dataclass
from urllib.parse import urlparse

from stats import served_bytes

# -- the served shares ---------------------------------------------------------


@dataclass
class Request:
    t0: float
    t1: float
    kind: str        # list | metadata | version | query | changes | data | dv
    path: str
    status: int
    body_bytes: int
    files_listed: int


def _kind(path: str, blob: bool) -> str:
    if blob:
        return "dv" if path.endswith(".bin") else "data"
    for leaf in ("query", "metadata", "version", "changes"):
        if path.endswith("/" + leaf):
            return leaf
    return "list"


class ServedShares:
    """A ``MockSharingServer`` over generated shares whose handler also
    logs, per request, its interval, endpoint kind, status and the body
    bytes it served. ``connections`` counts accepted TCP connections."""

    SHARE, SCHEMA = "bench", "tpch"

    def __init__(self, shares, tables=()):
        from datafusion_delta_sharing_spark.harness.mockserver import (
            MockSharingServer, MockTable)

        self.mock_tables = {s.name: MockTable(
            share=self.SHARE, schema=self.SCHEMA, name=s.name,
            schema_string=s.schema_string,
            partition_columns=list(s.partition_columns),
            files=[dict(f) for f in s.files]) for s in shares}
        self.mock_tables.update({t.name: t for t in tables})
        blobs = {}
        for s in shares:
            blobs.update(s.blobs)
        self.server = MockSharingServer(list(self.mock_tables.values()),
                                        parquet_bytes=blobs)
        self.log: list[Request] = []
        self.connections: list[float] = []

    def fqn(self, name: str) -> str:
        return f"{self.SHARE}.{self.SCHEMA}.{name}"

    @property
    def profile_json(self) -> str:
        return json.dumps(self.server.profile_doc())

    def resolve(self, f: dict) -> dict:
        """A generated file action with its served URLs filled in."""
        f = dict(f)
        f["url"] = self.server.base_url + f.pop("path")
        dv = f.get("deletion_vector")
        if dv and "dv_path" in dv:
            dv = dict(dv)
            dv["pathOrInlineDv"] = self.server.base_url + dv.pop("dv_path")
            f["deletion_vector"] = dv
        return f

    def start(self) -> "ServedShares":
        srv = self.server
        srv.__enter__()
        for t in self.mock_tables.values():
            t.files = [self.resolve(f) if "path" in f else f for f in t.files]
        blobs, log, conns = srv.parquet_bytes, self.log, self.connections
        base = srv._server.RequestHandlerClass

        class Logged(base):
            def setup(self):
                conns.append(time.perf_counter())
                super().setup()

            def send_response(self, code, message=None):
                self._status = code
                super().send_response(code, message)

            def _send(self, status, payload, *args, **kwargs):
                self._body = len(payload)
                self._listed = (payload.count(b"\n") - 1
                                if self.path.split("?")[0].endswith("/query")
                                and status == 200 else 0)
                super()._send(status, payload, *args, **kwargs)

            def handle_one_request(self):
                self._status, self._body, self._listed = None, 0, 0
                t0 = time.perf_counter()
                super().handle_one_request()
                if self._status is None:  # peer closed without a request
                    return
                path = urlparse(self.path).path
                blob = blobs.get(path)
                body = (served_bytes(self.headers.get("Range"), len(blob),
                                     self._status)
                        if blob is not None else self._body)
                log.append(Request(t0, time.perf_counter(),
                                   _kind(path, blob is not None), path,
                                   self._status, body, self._listed))

        srv._server.RequestHandlerClass = Logged
        return self

    def stop(self) -> None:
        self.server.__exit__(None, None, None)

    def between(self, t0: float, t1: float) -> list[Request]:
        return [r for r in self.log if t0 <= r.t0 <= t1]


# -- spans ---------------------------------------------------------------------


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    parent: int | None
    op: int | None
    pid: int
    count: int = 0


class Tracer:
    """Spans around calls into the program's public functions. Driver-side
    wrappers record directly; Spark's Python workers (DataSource planning,
    stream sources, scan tasks) send theirs as UDP datagrams from the
    ``hook`` directory's ``sitecustomize``. Spans stay in memory until
    the run ends; only spans recorded while ``active`` are kept."""

    def __init__(self):
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 1 << 22)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.settimeout(0.2)
        self.port = self._sock.getsockname()[1]
        self._closing = False
        self._thread = threading.Thread(target=self._receive, daemon=True)
        self._thread.start()

    def _receive(self) -> None:
        while not self._closing:
            try:
                msg = json.loads(self._sock.recv(65536))
            except (socket.timeout, OSError, ValueError):
                continue
            if self.active:
                self.spans.append(Span(msg["n"], msg["s"], msg["e"], None,
                                       None, msg["p"], msg.get("c", 0)))

    def close(self) -> None:
        self._closing = True
        self._thread.join(timeout=5)
        self._sock.close()
        self.restore()

    def record(self, name: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        stack = self._stack.__dict__.setdefault("s", [])
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               stack[-1] if stack else None, self.op,
                               os.getpid()))
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans[idx].t1 = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.record(name, orig, *args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


CLIENT_METHODS = ("list_shares", "get_share", "list_schemas", "list_tables",
                  "list_all_tables", "get_table_version",
                  "get_table_metadata", "get_table_data", "get_table_changes")


def instrument_driver(tracer: Tracer) -> None:
    """Wrap the driver-side public entry points of each layer."""
    from datafusion_delta_sharing_spark import catalog, client
    from datafusion_delta_sharing_spark.sources import reader

    for m in CLIENT_METHODS:
        tracer.wrap(client.DeltaSharingClient, m, f"client.{m}")
    for m in ("table", "count_rows", "partition_row_counts"):
        tracer.wrap(reader.DeltaSharingReader, m, f"reader.{m}")
    tracer.wrap(catalog.DeltaSharingCatalog, "sql", "catalog.sql")


# -- Spark counters ------------------------------------------------------------


class SparkCounters:
    """Job, stage and task counts plus executor time and shuffle bytes of
    the jobs submitted since the last call, read from ``AppStatusStore``
    after the listener bus has drained (the same store the repository's
    query profiler reads)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._no_filter = spark._jvm.java.util.ArrayList()
        self._seen = self._n_jobs()
        # job submission times are epoch ms; spans use perf_counter
        self._offset = time.time() - time.perf_counter()

    def _n_jobs(self) -> int:
        return self._store.jobsList(self._no_filter).size()

    def take(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(self._no_filter)
        n = jobs.size()
        out = {"jobs": n - self._seen, "stages": 0, "tasks": 0, "run_s": 0.0,
               "cpu_s": 0.0, "shuffle_read": 0, "shuffle_write": 0,
               "job_times": []}
        for i in range(n - self._seen):  # newest first
            jd = jobs.apply(i)
            out["tasks"] += jd.numTasks()
            sub = jd.submissionTime()
            if sub.isDefined():
                out["job_times"].append(sub.get().getTime() / 1000.0
                                        - self._offset)
            ids = jd.stageIds()
            out["stages"] += ids.size()
            for k in range(ids.size()):
                try:
                    sd = self._store.lastStageAttempt(ids.apply(k))
                except Exception:  # a stage the store never saw
                    continue
                out["run_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
        self._seen = n
        return out


def exchanges(df) -> int:
    """Exchange operators in a DataFrame's executed plan (0 without one)."""
    from datafusion_delta_sharing_spark.plans.audit import shuffles

    return shuffles(df) if df is not None else 0


# -- memory and host noise -----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (``VmHWM``) summed over this process, the JVM
    it launched and the JVM's Python workers."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class HostNoise:
    """CPU steal and load average over a run, and the settings a reader
    needs to compare two runs."""

    def __init__(self, master: str):
        self.master = master
        self._ticks = cpu_ticks()
        self._load = os.getloadavg()

    def report(self) -> dict:
        steal, total = cpu_ticks()
        d_steal, d_total = steal - self._ticks[0], total - self._ticks[1]
        hz = os.sysconf("SC_CLK_TCK")
        return {
            "nproc": os.cpu_count(), "spark_master": self.master,
            "steal_s": d_steal / hz,
            "steal_frac": d_steal / d_total if d_total else 0.0,
            "loadavg_start": list(self._load),
            "loadavg_end": list(os.getloadavg()),
            "blas_threads": {k: os.environ.get(k) for k in (
                "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")},
        }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(base, n))
            except OSError:
                pass
    return total
