"""Connector-first benchmark of the package at local[<cores>].

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 \
        --trace 0

Runs one workload (or ``--workload all``, each in its own process) from the
root of a checkout: builds the seeded inputs, serves them through the
repository's mock Delta Sharing server, drives the package's public entry
points in a closed loop with one client, checks every result, and prints a
report followed by one JSON line: the end-to-end metrics with ``--trace
0``, the per-layer metrics of a traced run with ``--trace 1``. Everything
it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# every end-to-end metric the report prints, with its unit
REPORT_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "http_requests_per_op": "count",
    "http_bytes_per_op": "bytes", "error_rate": "fraction",
    "peak_rss_mb": "MB",
}
# what the JSON line carries with --trace 0: the metrics that are never 0
# and steady enough across runs of the same code for a regression bound.
# On a shared 4-core host the op timings are not: between runs of one
# commit, cdf_freshness's op_p50_s and ops_per_s spread by a third (the
# quartile distance over the median) as the neighbours' load comes and
# goes, and peak RSS follows the JVM's lazily grown heap. error_rate is 0
# at a correct HEAD, and the tail needs more ops than a run makes. The
# report prints them all.
END_TO_END_UNITS = {k: REPORT_UNITS[k] for k in
                    ("setup_s", "http_requests_per_op", "http_bytes_per_op")}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, trace_port: int | None) -> None:
    """Keep every file Spark and its workers write inside ``work``, put the
    checkout on the workers' path and, in a traced run, the span hook."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    paths = [ROOT] + ([os.path.join(HERE, "hook")] if trace_port else [])
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + ([old] if old else []))
    if trace_port:
        os.environ["PERFBENCH_SPAN_PORT"] = str(trace_port)
    import tempfile
    tempfile.tempdir = tmp


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(work: str):
    from datafusion_delta_sharing_spark.session import get_spark

    cores = _cores()
    spark = get_spark("perfbench", cpus=cores, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from probes import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


class Runner:
    def __init__(self, wl, tracer):
        self.wl, self.tracer, self.counters = wl, tracer, None
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def op(self, variant: str, traced: bool):
        from layers import OpRecord
        from probes import exchanges

        wl = self.wl
        wl.prepare(variant)
        before = wl.state_bytes() if traced else 0
        if traced:
            self.tracer.op = self.attempted
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            rows = (self.tracer.record(f"op.{variant}", wl.op, variant)
                    if traced else wl.op(variant))
            ok = True
        except Exception:  # the op boundary: count it, keep the loop going
            rows, ok = 0, False
            self.failed += 1
            self.errors.append(f"{variant}: {traceback.format_exc()}")
        rec = OpRecord(variant, wl.entry[variant], t0, time.perf_counter(),
                       ok, rows)
        if traced:
            rec.spark = self.counters.take()
            rec.exchanges = exchanges(wl.last_df())
            rec.progress = list(getattr(wl, "progress", []))
            rec.state_bytes = wl.state_bytes() - before
            rec.commit_bytes = wl.last_commit_bytes()
        return rec

    def timed(self, seconds: float, traced: bool):
        """Whole cycles of the workload's variants until ``seconds`` have
        passed, so that every variant weighs the same in every run."""
        variants = self.wl.variants
        ops = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            ops += [self.op(v, traced) for v in variants]
        return ops, time.perf_counter() - t0


def _latencies(ops) -> dict[str, list[float]]:
    lat: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            lat.setdefault(o.variant, []).append(o.seconds)
    return lat


def _op_p50(ops) -> float:
    from stats import per_variant_median

    lat = _latencies(ops)
    return per_variant_median(lat) if lat else float("nan")


def build_report(workload: str, seed: int, phases: dict, ops, elapsed: float,
                 attempted: int, failed: int, requests, rss_mb: float,
                 host: dict) -> dict:
    """Every end-to-end metric of a run. ``phases`` holds ``setup_s``
    (process start to the first timed op) and its parts; ``requests`` are
    the server's log entries of the timed region."""
    from stats import tail_percentile

    lat = _latencies(ops)
    tail = tail_percentile([o.seconds for o in ops if o.ok])
    n_ops = len(ops)
    return {
        "workload": workload, "seed": seed, **phases,
        "op_p50_s": _op_p50(ops),
        "op_tail_s": tail[1] if tail else None,
        "op_tail_pct": tail[0] if tail else None,
        "ops_per_s": sum(o.ok for o in ops) / elapsed,
        "rows_per_s": sum(o.rows for o in ops if o.ok) / elapsed,
        "http_requests_per_op": len(requests) / n_ops,
        "http_bytes_per_op": sum(r.body_bytes for r in requests) / n_ops,
        "error_rate": failed / attempted,
        "peak_rss_mb": rss_mb,
        "variant_p50_s": {v: statistics.median(x) for v, x in lat.items()},
        "timed_ops": n_ops, "host": host,
    }


def result_line(report: dict, correct: bool, attempted: int, failed: int,
                layer: dict | None = None,
                suite: tuple[str, ...] = ()) -> dict:
    """The last line of the output: end-to-end metrics, or with ``layer``
    the per-layer metrics (of every suite query, whichever workload ran)."""
    if layer is not None:
        from layers import per_layer_units

        metrics = {k: {"value": layer.get(k, 0.0), "unit": u}
                   for k, u in per_layer_units(suite).items()}
    else:
        metrics = {k: {"value": report[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def run_one(args) -> int:
    import numpy as np  # noqa: F401  (fail here, not mid-run, if missing)

    import probes
    from workloads import SUITE, WORKLOADS, remove_tree

    wl_cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    tracer = probes.Tracer() if args.trace else None
    _environment(work, tracer.port if tracer else None)
    noise = probes.HostNoise(f"local[{_cores()}]")
    wl = wl_cls(None, args.seed, work, tracer)
    spark = None
    phases = {}
    try:
        t = time.perf_counter()
        wl.stage()
        phases["stage_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark = wl.spark = _start_spark(work)
        wl.start()
        phases["start_s"] = time.perf_counter() - t
        runner = Runner(wl, tracer)
        t = time.perf_counter()
        wl.warm_up(runner)
        phases["warmup_s"] = time.perf_counter() - t
        phases["setup_s"] = time.perf_counter() - T_START
        ops, elapsed = runner.timed(args.seconds, False)
        served = wl.served
        report = build_report(
            args.workload, args.seed, phases, ops, elapsed, runner.attempted,
            runner.failed,
            served.between(ops[0].t0, ops[-1].t1) if served else [],
            probes.peak_rss_mb(), noise.report())
        layer = None
        if args.trace:
            from layers import layer_metrics

            probes.instrument_driver(tracer)
            runner.counters = probes.SparkCounters(spark)
            tracer.active = True
            traced_ops, _ = runner.timed(args.seconds, True)
            time.sleep(0.3)  # let the workers' last datagrams land
            tracer.active = False
            layer = layer_metrics(
                traced_ops, served.log if served else [],
                served.connections if served else [], tracer.spans,
                getattr(wl, "suite", ()),
                getattr(wl, "dv_cardinality", {}),
                _op_p50(traced_ops) - report["op_p50_s"])
            _write_spans(tracer, args)
        problems = wl.final_check()
        wl.stop()
    finally:
        if tracer is not None:
            tracer.close()
        if spark is not None:
            _stop_spark(spark)
        remove_tree(work)
    _print_report(report, problems, runner.errors)
    correct = not problems and runner.failed == 0
    print(json.dumps(result_line(report, correct, runner.attempted,
                                 runner.failed, layer, SUITE)), flush=True)
    return 0


def _write_spans(tracer, args) -> None:
    out = os.path.join(ROOT, ".perfbench", "spans")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s.__dict__) + "\n")


def _print_report(report: dict, problems: list[str], errors: list[str]) -> None:
    print(f"# workload {report['workload']} seed {report['seed']}")
    for k, u in REPORT_UNITS.items():
        if k == "op_tail_s":
            print("#   op_tail_s              " + (
                f"{report[k]:.6g} s (p{report['op_tail_pct']:.1f} of "
                f"{report['timed_ops']} ops)" if report[k] is not None else
                f"n/a (only {report['timed_ops']} ops; needs 11)"))
        else:
            print(f"#   {k:22s} {report[k]:.6g} {u}")
    print("#   set-up parts (s)       " + ", ".join(
        f"{k} {report[k]:.3f}" for k in ("stage_s", "start_s", "warmup_s")))
    print(f"#   per-variant p50 (s)    {report['variant_p50_s']}")
    print(f"#   host                   {json.dumps(report['host'])}")
    for p in problems:
        print(f"# CHECK FAILED {p}")
    for e in errors:
        print("# OP FAILED " + e.replace("\n", "\n#   "))


def run_all(args) -> int:
    """Every workload, each in its own process, one after the other."""
    from workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        status |= subprocess.run(cmd, check=False).returncode
    return status


def main(argv=None) -> int:
    args = _args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import datafusion_delta_sharing_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
