"""Per-layer metrics of a traced run, from op records, the server's
request log and the recorded spans.

Each layer metric is a mean over the ops that exercise the layer (an op
exercises ``reader`` when it enters through ``DeltaSharingReader``, and
so on); a layer no op exercised reads 0.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

from stats import self_time


@dataclass
class OpRecord:
    variant: str
    entry: str
    t0: float
    t1: float
    ok: bool
    rows: int = 0
    spark: dict = field(default_factory=dict)
    exchanges: int = 0
    progress: list = field(default_factory=list)
    state_bytes: int = 0
    commit_bytes: int = 0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


REST = ("list", "metadata", "version", "query", "changes")


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _outermost(subset, spans, prefix: str):
    """Spans of ``subset`` named ``prefix*`` that are not nested in another
    such span. Driver spans know their parent (an index into ``spans``);
    worker spans are never nested, by construction of the hook."""
    out = []
    for s in subset:
        if not s.name.startswith(prefix):
            continue
        parent = s.parent
        while parent is not None and not spans[parent].name.startswith(prefix):
            parent = spans[parent].parent
        if parent is None:
            out.append(s)
    return out


def layer_metrics(ops: list[OpRecord], requests, connections, spans,
                  suite: tuple[str, ...], dv_cardinality: dict,
                  overhead_s: float) -> dict:
    per_op = []
    for op in ops:
        reqs = [r for r in requests if op.t0 <= r.t0 <= op.t1]
        inside = [s for s in spans if op.t0 <= s.t0 <= op.t1]
        per_op.append((op, reqs, inside,
                       sum(op.t0 <= c <= op.t1 for c in connections)))

    m: dict[str, float] = {}

    # client: outermost public-method spans, driver and workers
    rows = []
    for op, reqs, inside, _ in per_op:
        calls = _outermost(inside, spans, "client.")
        rest = [r for r in reqs if r.kind in REST]
        if not calls and not rest:
            continue
        rows.append({
            "client.calls": len(calls),
            "client.busy_s": sum(s.t1 - s.t0 for s in calls),
            **{f"client.{k}_requests": sum(r.kind == k for r in rest)
               for k in REST},
            "client.response_bytes": sum(r.body_bytes for r in rest),
            "client.retries": sum(r.status == 429 or r.status >= 500
                                  for r in rest),
        })
    _fold(m, rows, ["client.calls", "client.busy_s", "client.query_requests",
                    "client.metadata_requests", "client.changes_requests",
                    "client.version_requests", "client.list_requests",
                    "client.response_bytes", "client.retries"])

    # reader: driver-side planning self time, files listed and read
    rows, listed, read = [], 0, 0
    for op, reqs, inside, _ in per_op:
        if op.entry != "reader":
            continue
        plans = _outermost(inside, spans, "reader.")
        clients = [(s.t0, s.t1) for s in inside if s.name.startswith("client.")]
        n_listed = sum(r.files_listed for r in reqs if r.kind == "query")
        n_read = len({r.path for r in reqs if r.kind == "data"})
        listed += n_listed
        read += n_read
        rows.append({"reader.plan_s": sum(self_time((s.t0, s.t1), [
            c for c in clients if s.t0 <= c[0] <= s.t1]) for s in plans),
            "reader.files_listed": n_listed, "reader.files_read": n_read})
    _fold(m, rows, ["reader.plan_s", "reader.files_listed",
                    "reader.files_read"])
    m["reader.files_pruned_frac"] = 1.0 - read / listed if listed else 0.0

    # datasource: planned input partitions and files read
    rows = [{"datasource.input_partitions": sum(
                s.count for s in inside if s.name == "datasource.partitions"),
             "datasource.files_read": len(
                {r.path for r in reqs if r.kind == "data"})}
            for op, reqs, inside, _ in per_op if op.entry == "datasource"]
    _fold(m, rows, ["datasource.input_partitions", "datasource.files_read"])

    # fetch: the executor scan kernels' traffic
    rows = []
    for op, reqs, inside, conns in per_op:
        data = [r for r in reqs if r.kind == "data"]
        if not data:
            continue
        files = {r.path for r in data}
        n_bytes = sum(r.body_bytes for r in data)
        rows.append({"fetch.data_gets": len(data), "fetch.data_bytes": n_bytes,
                     "fetch.gets_per_file": len(data) / len(files),
                     "fetch.bytes_per_row": n_bytes / op.rows if op.rows
                     else 0.0,
                     "fetch.rows": op.rows, "fetch.connections": conns})
    _fold(m, rows, ["fetch.data_gets", "fetch.data_bytes",
                    "fetch.gets_per_file", "fetch.bytes_per_row",
                    "fetch.rows", "fetch.connections"])

    # dv: deletion-vector fetches and the rows they removed
    rows = []
    for op, reqs, inside, _ in per_op:
        files = {r.path for r in reqs if r.kind == "data"}
        deleted = sum(dv_cardinality.get(p, 0) for p in files)
        dv = [r for r in reqs if r.kind == "dv"]
        decodes = [s for s in inside if s.name == "dv.decode"]
        if not dv and not deleted and not decodes:
            continue
        rows.append({"dv.gets": len(dv),
                     "dv.bytes": sum(r.body_bytes for r in dv),
                     "dv.rows_deleted": deleted})
    _fold(m, rows, ["dv.gets", "dv.bytes", "dv.rows_deleted"])

    # spark: AppStatusStore diff around each op, Exchanges of its plan
    rows = [{"spark.jobs": op.spark["jobs"], "spark.stages": op.spark["stages"],
             "spark.tasks": op.spark["tasks"],
             "spark.executor_run_s": op.spark["run_s"],
             "spark.executor_cpu_s": op.spark["cpu_s"],
             "spark.shuffle_read_bytes": op.spark["shuffle_read"],
             "spark.shuffle_write_bytes": op.spark["shuffle_write"],
             "spark.exchanges": op.exchanges,
             "spark.task_wait_s": op.spark["run_s"] - op.spark["cpu_s"]}
            for op, *_ in per_op]
    _fold(m, rows, ["spark.jobs", "spark.stages", "spark.tasks",
                    "spark.executor_run_s", "spark.executor_cpu_s",
                    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                    "spark.exchanges", "spark.task_wait_s"])

    # stream: StreamingQueryProgress of the micro-batches an op caused
    rows = []
    for op, *_ in per_op:
        if op.entry != "stream":
            continue
        d = [p["durationMs"] for p in op.progress]
        trig = sum(x.get("triggerExecution", 0) for x in d) / 1e3
        rows.append({
            "stream.batches": len(d), "stream.trigger_s": trig,
            "stream.latest_offset_s": sum(x.get("latestOffset", 0)
                                          for x in d) / 1e3,
            "stream.planning_s": sum(x.get("queryPlanning", 0)
                                     for x in d) / 1e3,
            "stream.add_batch_s": sum(x.get("addBatch", 0) for x in d) / 1e3,
            "stream.wait_s": op.seconds - trig})
    _fold(m, rows, ["stream.batches", "stream.trigger_s",
                    "stream.latest_offset_s", "stream.planning_s",
                    "stream.add_batch_s", "stream.wait_s"])

    # streaming: the SCD2 sink's jobs, rows and state growth
    rows = []
    for op, reqs, inside, _ in per_op:
        if op.entry != "stream":
            continue
        sinks = [(s.t0, s.t1) for s in inside
                 if s.name == "streaming.sink"]
        jobs = sum(any(a <= t <= b for a, b in sinks)
                   for t in op.spark.get("job_times", []))
        rows.append({"streaming.sink_jobs": jobs,
                     "streaming.rows_merged": op.rows,
                     "streaming.bytes_written": op.state_bytes,
                     "streaming.write_amp": op.state_bytes / op.commit_bytes
                     if op.commit_bytes else 0.0})
    _fold(m, rows, ["streaming.sink_jobs", "streaming.rows_merged",
                    "streaming.bytes_written", "streaming.write_amp"])

    # operators: per registry query
    for q in suite:
        mine = [op for op, *_ in per_op if op.variant == q]
        m[f"operators.{q}.s"] = (statistics.median(o.seconds for o in mine)
                                 if mine else 0.0)
        m[f"operators.{q}.jobs"] = _mean(o.spark["jobs"] for o in mine)
        m[f"operators.{q}.tasks"] = _mean(o.spark["tasks"] for o in mine)
        m[f"operators.{q}.exchanges"] = _mean(o.exchanges for o in mine)
        m[f"operators.{q}.shuffle_bytes"] = _mean(
            o.spark["shuffle_write"] for o in mine)

    # mockserver: the test double's own work, never the connector's
    rows = [{"mockserver.requests": len(reqs),
             "mockserver.handle_s": sum(r.t1 - r.t0 for r in reqs)}
            for op, reqs, *_ in per_op if reqs]
    _fold(m, rows, ["mockserver.requests", "mockserver.handle_s"])

    m["trace.overhead_s"] = overhead_s
    return m


def _fold(m: dict, rows: list[dict], names: list[str]) -> None:
    for n in names:
        m[n] = _mean(r[n] for r in rows)


PER_LAYER_UNITS = {
    "client.calls": "count", "client.busy_s": "s",
    "client.query_requests": "count", "client.metadata_requests": "count",
    "client.changes_requests": "count", "client.version_requests": "count",
    "client.list_requests": "count", "client.response_bytes": "bytes",
    "client.retries": "count",
    "reader.plan_s": "s", "reader.files_listed": "count",
    "reader.files_read": "count", "reader.files_pruned_frac": "fraction",
    "datasource.input_partitions": "count", "datasource.files_read": "count",
    "fetch.data_gets": "count", "fetch.data_bytes": "bytes",
    "fetch.gets_per_file": "count", "fetch.bytes_per_row": "bytes",
    "fetch.rows": "rows", "fetch.connections": "count",
    "dv.gets": "count", "dv.bytes": "bytes", "dv.rows_deleted": "rows",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.exchanges": "count", "spark.task_wait_s": "s",
    "stream.batches": "count", "stream.trigger_s": "s",
    "stream.latest_offset_s": "s", "stream.planning_s": "s",
    "stream.add_batch_s": "s", "stream.wait_s": "s",
    "streaming.sink_jobs": "count", "streaming.rows_merged": "rows",
    "streaming.bytes_written": "bytes", "streaming.write_amp": "ratio",
    "mockserver.requests": "count", "mockserver.handle_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units(suite: tuple[str, ...]) -> dict[str, str]:
    units = dict(PER_LAYER_UNITS)
    for q in suite:
        units.update({f"operators.{q}.s": "s", f"operators.{q}.jobs": "count",
                      f"operators.{q}.tasks": "count",
                      f"operators.{q}.exchanges": "count",
                      f"operators.{q}.shuffle_bytes": "bytes"})
    return units
