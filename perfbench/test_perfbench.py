"""Self-tests of the benchmark's helpers (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from layers import OpRecord, layer_metrics, per_layer_units  # noqa: E402
from probes import Request, Span  # noqa: E402
from run import (END_TO_END_UNITS, build_report,  # noqa: E402
                 result_line)
from stats import (per_variant_median, self_time, served_bytes,  # noqa: E402
                   tail_percentile)
from workloads import SUITE, WORKLOADS  # noqa: E402

SIZE = 1000


@pytest.mark.parametrize("header,status,expected", [
    ("bytes=0-99", 206, 100),
    ("bytes=900-", 206, 100),
    ("bytes=-8", 206, 8),
    ("bytes=-5000", 206, SIZE),     # suffix longer than the blob
    ("bytes=2000-", 206, 0),        # open range past the end
    (None, 200, SIZE),              # no Range: the whole blob
    ("bytes=0-99", 200, SIZE),      # a server that ignored Range
    ("bytes=5000-6000", 416, 0),    # unsatisfiable: nothing moved
])
def test_served_bytes(header, status, expected):
    assert served_bytes(header, SIZE, status) == expected


def test_served_bytes_matches_the_fetch_probe_arithmetic():
    from tools.fetch_probe import _served_bytes

    for header in ("bytes=0-99", "bytes=900-", "bytes=-8", None):
        log = [{"path": "/a.parquet", "method": "GET", "range": header}]
        probe = _served_bytes(log, {"/a.parquet": SIZE})["bytes_served"]
        assert served_bytes(header, SIZE, 206 if header else 200) == probe


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 10) is None
    pct, value, n = tail_percentile([float(i) for i in range(11)])
    assert (value, n) == (0.0, 11) and pct == pytest.approx(100 / 11)
    pct, value, n = tail_percentile([float(i) for i in range(20, 0, -1)])
    assert (pct, value, n) == (50.0, 10.0, 20)
    pct, value, _ = tail_percentile([float(i) for i in range(100)])
    assert (pct, value) == (90.0, 89.0)


def test_per_variant_median_weights_variants_equally():
    lat = {"a": [1.0, 1.0, 1.0, 9.0], "b": [3.0]}
    assert per_variant_median(lat) == 2.0


def test_self_time_counts_overlapping_children_once():
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) \
        == pytest.approx(5.0)
    assert self_time((0.0, 1.0), []) == 1.0


# -- every named metric reaches the output ----------------------------------

NAMED_END_TO_END = ("setup_s", "op_p50_s", "op_tail_s", "ops_per_s",
                    "rows_per_s", "http_requests_per_op", "http_bytes_per_op",
                    "error_rate", "peak_rss_mb")
NAMED_PER_LAYER = (
    "client.calls", "client.busy_s", "client.query_requests",
    "client.metadata_requests", "client.changes_requests",
    "client.version_requests", "client.list_requests",
    "client.response_bytes", "client.retries",
    "reader.plan_s", "reader.files_listed", "reader.files_read",
    "reader.files_pruned_frac",
    "datasource.input_partitions", "datasource.files_read",
    "fetch.data_gets", "fetch.data_bytes", "fetch.gets_per_file",
    "fetch.bytes_per_row", "fetch.rows", "fetch.connections",
    "dv.gets", "dv.bytes", "dv.rows_deleted",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.exchanges", "spark.task_wait_s",
    "stream.batches", "stream.trigger_s", "stream.latest_offset_s",
    "stream.planning_s", "stream.add_batch_s", "stream.wait_s",
    "streaming.sink_jobs", "streaming.rows_merged",
    "streaming.bytes_written", "streaming.write_amp",
    "mockserver.requests", "mockserver.handle_s", "trace.overhead_s",
) + tuple(f"operators.{q}.{m}" for q in SUITE
          for m in ("s", "jobs", "tasks", "exchanges", "shuffle_bytes"))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_what_the_runs_print():
    doc = _benchmark()
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == \
        END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == \
        per_layer_units(SUITE)
    assert {w["name"] for w in doc["workloads"]} == set(WORKLOADS)


# the layers each workload exercises, and one metric per layer that must
# be non-zero there
EXERCISED = {
    "batch": ("client.query_requests", "reader.files_listed",
              "datasource.input_partitions", "fetch.data_gets", "dv.gets",
              "spark.jobs", "mockserver.requests") + tuple(
        f"operators.{q}.s" for q in SUITE),
    "cdf_freshness": ("client.changes_requests", "fetch.data_gets",
                      "spark.jobs", "stream.batches", "streaming.sink_jobs",
                      "mockserver.requests"),
}


def _trace(name: str):
    """A stub trace of one cycle of ``name``'s variants, one second each,
    with the requests, spans and progress its entry layers produce."""
    wl = WORKLOADS[name]
    ops, reqs, spans = [], [], []
    for i, v in enumerate(wl.variants):
        t, entry = 10.0 * i, wl.entry[v]
        ops.append(OpRecord(
            v, entry, t, t + 1.0, True, rows=100, spark=_spark(), exchanges=1,
            progress=[{"durationMs": {"triggerExecution": 500, "addBatch": 400,
                                      "latestOffset": 10, "queryPlanning": 5}}]
            if entry == "stream" else [], state_bytes=50, commit_bytes=100))
        if entry == "operators":
            continue
        rest = "changes" if entry == "stream" else "query"
        reqs += [Request(t + 0.1, t + 0.2, rest, "/q", 200, 500, 4),
                 Request(t + 0.3, t + 0.4, "data", "/a.parquet", 206, 100, 0)]
        if entry != "stream":
            reqs.append(Request(t + 0.4, t + 0.5, "dv", "/d.bin", 206, 40, 0))
        spans.append(Span("client.get_table_data", t + 0.1, t + 0.25, None,
                          i, 1))
        if entry == "datasource":
            spans.append(Span("datasource.partitions", t + 0.05, t + 0.3,
                              None, None, 2, 4))
        if entry == "stream":
            spans.append(Span("streaming.sink", t + 0.4, t + 0.9, None, i, 1))
    return ops, reqs, spans


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_every_named_metric_is_reported(name):
    """The report and both JSON lines of a run carry every metric the
    benchmark names, built by the code paths ``run_one`` uses."""
    ops, reqs, spans = _trace(name)
    many = [OpRecord(o.variant, o.entry, o.t0 + 100 * k, o.t1 + 100 * k,
                     True, rows=o.rows) for k in range(4) for o in ops]
    report = build_report(name, 1, {"setup_s": 30.0, "stage_s": 1.0,
                                    "start_s": 8.0, "warmup_s": 20.0},
                          many, 50.0, len(many), 0, reqs, 2000.0, {})
    for k in NAMED_END_TO_END:
        assert math.isfinite(report[k]), k
    line = result_line(report, True, len(many), 0)
    assert set(line["metrics"]) == set(END_TO_END_UNITS)

    m = layer_metrics(ops, reqs, [o.t0 for o in ops], spans,
                      getattr(WORKLOADS[name], "suite", ()), {},
                      overhead_s=0.01)
    for k in EXERCISED[name]:
        assert m[k] > 0, k
    line = result_line(report, True, 1, 0, m, SUITE)
    assert set(line["metrics"]) == set(NAMED_PER_LAYER)
    assert all(math.isfinite(v["value"]) for v in line["metrics"].values())


def _spark(jobs=2):
    return {"jobs": jobs, "stages": 3, "tasks": 8, "run_s": 2.0,
            "cpu_s": 1.5, "shuffle_read": 10, "shuffle_write": 12,
            "job_times": [0.5]}


def test_layer_metrics_from_a_small_trace():
    ops = [OpRecord("reader_full", "reader", 0.0, 1.0, True, rows=100,
                    spark=_spark(), exchanges=1),
           OpRecord("format_full", "datasource", 2.0, 3.0, True, rows=100,
                    spark=_spark())]
    reqs = [Request(0.1, 0.2, "query", "/q", 200, 500, 4),
            Request(0.3, 0.4, "data", "/a.parquet", 206, 100, 0),
            Request(0.4, 0.5, "data", "/a.parquet", 206, 300, 0),
            Request(0.5, 0.6, "dv", "/d.bin", 206, 40, 0),
            Request(2.1, 2.2, "query", "/q", 200, 500, 4),
            Request(2.3, 2.4, "data", "/a.parquet", 206, 400, 0),
            Request(2.4, 2.5, "data", "/b.parquet", 206, 400, 0)]
    spans = [Span("reader.table", 0.05, 0.35, None, 0, 1),
             Span("client.get_table_data", 0.1, 0.25, 0, 0, 1),
             Span("datasource.partitions", 2.05, 2.25, None, None, 2, 2),
             Span("client.get_table_data", 2.06, 2.24, None, None, 2)]
    m = layer_metrics(ops, reqs, [0.1, 2.1], spans, SUITE,
                      {"/a.parquet": 7}, overhead_s=0.01)
    assert set(m) == set(per_layer_units(SUITE))
    assert m["client.calls"] == 1 and m["client.query_requests"] == 1
    assert m["reader.plan_s"] == pytest.approx(0.15)
    assert m["reader.files_listed"] == 4 and m["reader.files_read"] == 1
    assert m["reader.files_pruned_frac"] == pytest.approx(0.75)
    assert m["datasource.input_partitions"] == 2
    assert m["datasource.files_read"] == 2
    assert m["fetch.data_gets"] == 2 and m["fetch.data_bytes"] == 600
    assert m["fetch.gets_per_file"] == 1.5
    assert m["dv.gets"] == 0.5 and m["dv.rows_deleted"] == 7
    assert m["spark.task_wait_s"] == pytest.approx(0.5)
    assert m["trace.overhead_s"] == 0.01
    assert m["stream.batches"] == 0 and m["operators.bootstrap_ci.s"] == 0
