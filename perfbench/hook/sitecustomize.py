"""Span hook for Spark's Python workers in a traced benchmark run.

The traced run puts this directory on ``PYTHONPATH`` and the collector's
UDP port in ``PERFBENCH_SPAN_PORT`` before Spark starts, so every Python
worker Spark launches (scan tasks, DataSource planning, stream sources)
imports this module at start-up. It wraps the package's executor-side
entry points and sends one datagram per call: name, start, end, pid and,
for planners, the number of partitions planned. Untraced runs never set
the variable, so their workers run unwrapped.
"""

import functools
import json
import os
import socket
import time

_PORT = os.environ.get("PERFBENCH_SPAN_PORT")


def _install(port: int) -> None:
    from datafusion_delta_sharing_spark import client
    from datafusion_delta_sharing_spark.sources import datasource, dv, reader

    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    pid = os.getpid()

    def send(name, t0, count=0):
        msg = {"n": name, "s": t0, "e": time.perf_counter(), "p": pid,
               "c": count}
        try:
            sock.sendto(json.dumps(msg).encode(), ("127.0.0.1", port))
        except OSError:
            pass

    def call(owner, attr, name, counted=False):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            out = orig(*args, **kwargs)
            send(name, t0, len(out) if counted else 0)
            return out

        setattr(owner, attr, wrapper)

    def generator(owner, attr, name):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                yield from orig(*args, **kwargs)
            finally:
                send(name, t0)

        setattr(owner, attr, wrapper)

    for m in ("list_shares", "get_share", "list_schemas", "list_tables",
              "list_all_tables", "get_table_version", "get_table_metadata",
              "get_table_data", "get_table_changes"):
        call(client.DeltaSharingClient, m, f"client.{m}")
    generator(reader, "_fetch_batches_task", "fetch.reader_task")
    generator(datasource, "_read_file_partition", "fetch.datasource_file")
    call(dv, "dv_positions", "dv.decode")
    call(datasource.DeltaSharingBatchReader, "partitions",
         "datasource.partitions", counted=True)
    call(datasource.DeltaSharingCDFStreamReader, "latestOffset",
         "stream.latest_offset")
    call(datasource.DeltaSharingCDFStreamReader, "partitions",
         "stream.partitions", counted=True)


if _PORT:
    try:
        _install(int(_PORT))
    except ImportError:  # a worker without the package on its path
        pass
