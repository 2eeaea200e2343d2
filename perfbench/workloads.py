"""The workloads: seeded inputs, one op per call, a check per op.

Each workload has ``stage()`` (build inputs from the seed),
``start()``/``stop()`` (bring the program up over the inputs),
``warm_up(runner)`` (untimed ops before the timed region),
``prepare(variant)`` (untimed work before an op, such as generating a
commit), ``op(variant)`` (the timed call into the package, ending in an
action whose result is checked; returns the rows the connector delivered)
and ``final_check()``.
"""

from __future__ import annotations

import os
import shutil
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import gen


class CheckFailed(AssertionError):
    """An op returned a result other than the expected one."""


def _expect(got, want, what: str) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


class Workload:
    name = ""
    variants: tuple[str, ...] = ()
    # which layer an op's entry point exercises, per variant
    entry: dict[str, str] = {}
    # variants run once before timing, so that no timed op is a cold one
    warmup: tuple[str, ...] | None = None  # None: every variant

    def __init__(self, spark, seed: int, work_dir: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.work_dir = work_dir
        self.tracer = tracer
        self.served = None

    def stage(self) -> None:
        pass

    def start(self) -> None:
        pass

    def stop(self) -> None:
        if self.served is not None:
            self.served.stop()
            self.served = None

    def warm_up(self, runner) -> None:
        for v in self.warmup or self.variants:
            runner.op(v, False)

    def prepare(self, variant: str) -> None:
        pass

    def op(self, variant: str) -> int:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def last_df(self):
        """The DataFrame of the last op, for its Exchange count."""
        return getattr(self, "_df", None)

    def state_bytes(self) -> int:
        """Bytes the program has written so far (sinks only)."""
        return 0

    def last_commit_bytes(self) -> int:
        return 0


# -- checksums -----------------------------------------------------------------


def _lineitem_checksum(df):
    """Row count and exact integer sums: order-insensitive, and any lost,
    duplicated or resurrected row changes them."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)),
        F.sum("l_orderkey"),
        F.sum("l_linenumber").cast("long"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")),
    )


def _expected_checksum(t: pa.Table) -> tuple:
    cents = np.round(t.column("l_extendedprice").to_numpy() * 100)
    return (t.num_rows, int(pc.sum(t.column("l_orderkey")).as_py() or 0),
            int(pc.sum(t.column("l_linenumber")).as_py() or 0),
            int(cents.astype(np.int64).sum()))


# -- snapshot_scan ---------------------------------------------------------------


class _ScanTarget:
    """A lineitem share plus the expected result of every variant on it."""

    def __init__(self, rng, name: str, n_rows: int, n_files: int):
        self.share, live = gen.lineitem_share(rng, n_rows, n_files, name)
        keys = live.column("l_orderkey").to_numpy()
        k0, span = int(keys.min()), int(keys.max()) - int(keys.min()) + 1
        lo = k0 + int(rng.integers(0, span * 3 // 4))
        self.pruned_pred = (f"l_orderkey >= {lo} AND "
                            f"l_orderkey < {lo + span // 4}")
        # the aggregate keeps the lower half of the key range, give or take
        # a sixteenth, so every seed asks about the same amount of work
        self.agg_hi = k0 + span // 2 + int(rng.integers(-(span // 16),
                                                         span // 16 + 1))
        sel = live.filter(pc.and_(pc.greater_equal(live["l_orderkey"], lo),
                                  pc.less(live["l_orderkey"], lo + span // 4)))
        agg = live.filter(pc.less(live["l_orderkey"], self.agg_hi))
        cents = np.round(agg.column("l_extendedprice").to_numpy() * 100
                         ).astype(np.int64)
        flags = agg.column("l_returnflag").to_numpy(zero_copy_only=False)
        self.expect = {
            "reader_full": _expected_checksum(live),
            "format_full": _expected_checksum(live),
            "reader_pruned": _expected_checksum(sel),
            "format_filter_agg": {f: (int((flags == f).sum()),
                                      int(cents[flags == f].sum()))
                                  for f in np.unique(flags)},
        }
        self.rows = {"reader_full": live.num_rows,
                     "format_full": live.num_rows,
                     "reader_pruned": sel.num_rows,
                     "format_filter_agg": agg.num_rows}


class SnapshotScan(Workload):
    """One read of a 32-file, 120k-row share of sf0.1 lineitem over HTTP
    ``Range``, through both entry points, with and without pruning."""

    name = "snapshot_scan"
    variants = ("reader_full", "reader_pruned", "format_full",
                "format_filter_agg")
    entry = {"reader_full": "reader", "reader_pruned": "reader",
             "format_full": "datasource", "format_filter_agg": "datasource"}
    # 120k rows rather than sf0.1's 600k: a run (set-up, a warm-up cycle
    # and a timed cycle) has to stay under a minute, and a cycle of the
    # four variants over 600k rows takes about 20 s at local[4]
    N_ROWS, N_FILES = 120_000, 32
    # the warm-up cycle reads a small share of the same shape instead: the
    # cold costs (Python workers, their imports, plan code generation) are
    # paid all the same, in about half the time a cycle of the big one takes
    WARM_ROWS, WARM_FILES = 8_000, 8

    def stage(self) -> None:
        self.target = _ScanTarget(self.rng, "lineitem", self.N_ROWS,
                                  self.N_FILES)
        self.warm_target = _ScanTarget(self.rng, "lineitem_warm",
                                       self.WARM_ROWS, self.WARM_FILES)
        self.dv_cardinality = {
            f["path"]: f["deletion_vector"]["cardinality"]
            for f in self.target.share.files if f.get("deletion_vector")}

    def warm_up(self, runner) -> None:
        timed, self.target = self.target, self.warm_target
        try:
            super().warm_up(runner)
        finally:
            self.target = timed

    def start(self) -> None:
        from datafusion_delta_sharing_spark.client import DeltaSharingClient
        from datafusion_delta_sharing_spark.profile import Profile
        from datafusion_delta_sharing_spark.sources.datasource import (
            DeltaSharingDataSource)
        from datafusion_delta_sharing_spark.sources.reader import (
            DeltaSharingReader)
        from probes import ServedShares

        self.served = ServedShares([self.target.share,
                                    self.warm_target.share]).start()
        self.reader = DeltaSharingReader(self.spark, DeltaSharingClient(
            Profile.from_json(self.served.profile_json)))
        self.spark.dataSource.register(DeltaSharingDataSource)

    def _format(self, fqn: str):
        return (self.spark.read.format("deltasharing")
                .option("profile_json", self.served.profile_json)
                .option("table", fqn).load())

    def op(self, variant: str) -> int:
        from pyspark.sql import functions as F

        t = self.target
        fqn = self.served.fqn(t.share.name)
        if variant == "reader_full":
            df = self.reader.table(fqn)
        elif variant == "reader_pruned":
            df = self.reader.table(
                fqn, predicate=t.pruned_pred,
                columns=["l_orderkey", "l_linenumber", "l_extendedprice"])
        elif variant == "format_full":
            df = self._format(fqn)
        else:
            df = (self._format(fqn).filter(F.col("l_orderkey") < t.agg_hi)
                  .groupBy("l_returnflag")
                  .agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.round(F.col("l_extendedprice") * 100)
                             .cast("long")).alias("c")))
            self._df = df
            got = {r[0]: (int(r[1]), int(r[2])) for r in df.collect()}
            _expect(got, t.expect[variant], variant)
            return t.rows[variant]
        self._df = _lineitem_checksum(df)
        got = tuple(int(v or 0) for v in self._df.collect()[0])
        _expect(got, t.expect[variant], variant)
        return t.rows[variant]


# -- cdf_freshness ---------------------------------------------------------------


_SCD2_ORACLE = """
    SELECT user_id, version, state, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM (
        SELECT user_id, state, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               CAST(row_number() OVER w AS BIGINT) AS version
        FROM (SELECT user_id, event_type AS state,
                     make_timestamp(event_id * 1000000) AS ts, event_id
              FROM commit_log)
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts NULLS LAST, event_id NULLS LAST)
    )
"""


class CdfFreshness(Workload):
    """Publish one seeded commit to a live table, then wait until the CDF
    stream has merged it into an SCD2 dimension."""

    name = "cdf_freshness"
    variants = ("add", "update", "remove")
    entry = {v: "stream" for v in variants}
    warmup = ("add",)  # every commit kind shares the stream and the sink
    ADD_ROWS, UPDATE_ROWS = 2000, 500

    def stage(self) -> None:
        self.pool = gen.CustomerPool(self.rng)
        base = self.pool.take(np.arange(self.ADD_ROWS))
        self.schema_string = gen.delta_schema(base)
        self.base_blob = gen.parquet_bytes(base)
        self.next_key = self.ADD_ROWS
        self.live: list[tuple[str, pa.Table]] = []
        self.log: list[tuple[int, int, str]] = []  # user_id, version, state
        self.commit_rows = self.commit_bytes = 0

    def start(self) -> None:
        from datafusion_delta_sharing_spark.harness.mockserver import MockTable
        from datafusion_delta_sharing_spark.sources.datasource import (
            DeltaSharingDataSource)
        from datafusion_delta_sharing_spark.streaming.scd2 import (
            scd2_upsert_sink)
        from pyspark.sql import functions as F
        from probes import ServedShares

        base = {"id": "base", "path": "/cdf/base.parquet",
                "size": len(self.base_blob), "partition_values": {}}
        self.table = MockTable(share=ServedShares.SHARE,
                               schema=ServedShares.SCHEMA, name="customers",
                               schema_string=self.schema_string,
                               files=[base], version=1)
        share = gen.Share("customers", self.schema_string, [],
                          {"/cdf/base.parquet": self.base_blob})
        self.served = ServedShares([share], tables=[self.table]).start()
        self.state_dir = os.path.join(self.work_dir, "cdf", "state")
        ckpt = os.path.join(self.work_dir, "cdf", "checkpoint")
        self.spark.dataSource.register(DeltaSharingDataSource)
        stream = (self.spark.readStream.format("deltasharing")
                  .option("profile_json", self.served.profile_json)
                  .option("table", self.served.fqn("customers"))
                  .option("readChangeFeed", "true")
                  .option("startingVersion", "2").load())
        events = (stream.filter(F.col("_change_type") != "update_preimage")
                  .select(F.col("c_custkey").cast("bigint").alias("user_id"),
                          F.when(F.col("_change_type") == "delete",
                                 F.lit("<deleted>"))
                          .otherwise(F.col("c_mktsegment"))
                          .alias("event_type"),
                          F.timestamp_seconds(F.col("_commit_version"))
                          .alias("ts"),
                          F.col("_commit_version").cast("bigint")
                          .alias("event_id")))
        # two buckets: the sink's jobs grow with the buckets a commit
        # touches (17 jobs a commit at four), and a run has to stay under
        # a minute
        sink = scd2_upsert_sink(self.spark, self.state_dir, n_buckets=2,
                                run_id=ckpt)
        if self.tracer is not None:
            tracer = self.tracer

            def traced(df, batch_id):
                return tracer.record("streaming.sink", sink, df, batch_id)
        self.query = (events.writeStream.outputMode("update")
                      .foreachBatch(traced if self.tracer is not None
                                    else sink)
                      .option("checkpointLocation", ckpt).start())
        self._seen_batch = -1

    def state_bytes(self) -> int:
        from probes import dir_bytes

        return dir_bytes(self.state_dir)

    def last_commit_bytes(self) -> int:
        return self._pending[3]

    def stop(self) -> None:
        if getattr(self, "query", None) is not None:
            self.query.stop()
            self.query = None
        super().stop()

    def prepare(self, variant: str) -> None:
        """Generate the next commit's file (untimed)."""
        version = self.table.version + 1
        path = f"/cdf/v{version}.parquet"
        if variant == "add" or not self.live:
            keys = np.arange(self.next_key, self.next_key + self.ADD_ROWS)
            self.next_key += self.ADD_ROWS
            data = self.pool.take(keys)
            self.live.append((path, data))
            kind = "add"
            events = [(int(k), version, s) for k, s in zip(
                keys, data.column("c_mktsegment").to_pylist())]
        elif variant == "update":
            _, src = self.live[int(self.rng.integers(0, len(self.live)))]
            pick = np.sort(self.rng.choice(src.num_rows, self.UPDATE_ROWS,
                                           replace=False))
            pre = src.take(pick)
            segments = self.pool.segments
            post = pre.set_column(
                pre.schema.get_field_index("c_mktsegment"), "c_mktsegment",
                pa.array(segments[self.rng.integers(0, len(segments),
                                                    len(pick))]))
            data = pa.concat_tables([pre, post]).append_column(
                "_change_type", pa.array(["update_preimage"] * len(pick)
                                         + ["update_postimage"] * len(pick)))
            kind = "cdf"
            events = [(int(k), version, s) for k, s in zip(
                post.column("c_custkey").to_pylist(),
                post.column("c_mktsegment").to_pylist())]
        else:
            # a remove action points at the live file it removes
            path, data = self.live.pop(
                int(self.rng.integers(0, len(self.live))))
            kind = "remove"
            events = [(int(k), version, "<deleted>")
                      for k in data.column("c_custkey").to_pylist()]
        blobs = self.served.server.parquet_bytes
        if kind != "remove":
            blobs[path] = gen.parquet_bytes(data)
        self._pending = (version, kind, path, len(blobs[path]),
                         data.num_rows, events)

    def op(self, variant: str) -> int:
        version, kind, path, size, rows, events = self._pending
        self.table.changes.append({
            "kind": kind, "version": version,
            "timestamp": 1_700_000_000_000 + version * 1000,
            "id": f"c{version}", "url": self.served.server.base_url + path,
            "size": size, "partition_values": {}})
        self.table.version = version
        self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise CheckFailed(str(self.query.exception()))
        self.progress = [p for p in self.query.recentProgress
                         if p["batchId"] > self._seen_batch]
        if self.progress:
            self._seen_batch = self.progress[-1]["batchId"]
        _expect(sum(p["numInputRows"] for p in self.progress), rows,
                f"{variant} rows streamed")
        self.log.extend(events)
        self.commit_rows += rows
        self.commit_bytes += size
        return rows

    def final_check(self) -> list[str]:
        import duckdb
        import pandas as pd

        from datafusion_delta_sharing_spark.streaming.scd2 import scd2_state
        from tools.compare_oracle import compare

        self.query.stop()
        self.query = None
        got = scd2_state(self.spark, self.state_dir).toPandas()
        con = duckdb.connect()
        con.register("commit_log", pd.DataFrame(
            self.log, columns=["user_id", "event_id", "event_type"]))
        want = con.execute(_SCD2_ORACLE).fetchdf()
        con.close()
        return [f"cdf_freshness: {p}" for p in compare("cdf", got, want)]


# -- operator_suite --------------------------------------------------------------


# The batch query ROADMAP names as the biggest loser from fewer cores:
# bootstrap_ci's resampling fan-out. All ten queries its perf list draws
# on take 28 s a cycle on sf0.01 at local[4] (45 s on sf0.1), more than a
# run can spend; this one takes about 2 s on the sample below.
SUITE = ("bootstrap_ci",)


class OperatorSuite(Workload):
    """Registry queries built and run to completion through the noop sink;
    the connector does no work here."""

    name = "operator_suite"
    variants = SUITE
    entry = {q: "operators" for q in SUITE}
    FRACTION = 0.1

    def stage(self) -> None:
        self.data_dir = os.path.join(self.work_dir, "tables")
        gen.write_tables(gen.sample_tables(self.rng, self.FRACTION),
                         self.data_dir)

    def start(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def op(self, variant: str) -> int:
        self._df = self.queries[variant](self.spark, self.data_dir)
        self._df.write.format("noop").mode("overwrite").save()
        self.spark.catalog.clearCache()
        return 0

    def warm_up(self, runner) -> None:
        """Run each query once and keep its rows for ``final_check``."""
        self.got, self.problems = {}, []
        for q in self.variants:
            try:
                self.got[q] = self.queries[q](self.spark,
                                              self.data_dir).toPandas()
            except Exception as exc:  # a failing query is a check failure
                self.problems.append(f"{q}: {type(exc).__name__}: {exc}")
            finally:
                self.spark.catalog.clearCache()

    def final_check(self) -> list[str]:
        """Each query's warm-up rows against its DuckDB oracle, after the
        timed region."""
        import duckdb

        from tools.compare_oracle import compare

        con = duckdb.connect()
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{self.data_dir}/{t}.parquet')")
        problems = list(self.problems)
        for q, got in self.got.items():
            want = con.execute(self.oracles[q]).fetchdf()
            problems += [f"{q}: {p}" for p in compare(q, got, want)]
        con.close()
        return problems


# -- batch -----------------------------------------------------------------------


class Batch(Workload):
    """``snapshot_scan`` and ``operator_suite`` in one Spark application:
    each cycle reads the lineitem share through both entry points, then
    runs the suite's registry query. The two halves share the JVM and the
    Python workers, so a run pays for one Spark start, and their cold costs
    overlap in the warm-up."""

    name = "batch"
    variants = SnapshotScan.variants + OperatorSuite.variants
    entry = {**SnapshotScan.entry, **OperatorSuite.entry}
    suite = SUITE  # the queries with per-query operator metrics

    def __init__(self, spark, seed: int, work_dir: str, tracer=None):
        super().__init__(spark, seed, work_dir, tracer)
        self.parts = (SnapshotScan(spark, seed, work_dir, tracer),
                      OperatorSuite(spark, seed, work_dir, tracer))
        self._last = self.parts[0]

    def _part(self, variant: str) -> Workload:
        return next(p for p in self.parts if variant in p.variants)

    def stage(self) -> None:
        for p in self.parts:
            p.stage()
        self.dv_cardinality = self.parts[0].dv_cardinality

    def start(self) -> None:
        for p in self.parts:
            p.spark = self.spark
            p.start()
        self.served = self.parts[0].served

    def stop(self) -> None:
        for p in self.parts:
            p.stop()
        self.served = None

    def warm_up(self, runner) -> None:
        """The suite's warm-up (which also computes its checked rows) runs
        in a second thread beside the scan's, so that their cold starts
        overlap; no timed op runs until both have ended."""
        scan, suite = self.parts
        side = threading.Thread(target=suite.warm_up, args=(runner,))
        side.start()
        try:
            scan.warm_up(runner)
        finally:
            side.join()

    def op(self, variant: str) -> int:
        self._last = self._part(variant)
        return self._last.op(variant)

    def last_df(self):
        return self._last.last_df()

    def final_check(self) -> list[str]:
        return [problem for p in self.parts for problem in p.final_check()]


WORKLOADS = {w.name: w for w in (Batch, CdfFreshness)}


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
