"""Profile one or more headline queries: wall time, Spark job count,
stage count, task count, and shuffle volume per run.

Usage: SPARK_GRAFT_SF_DIR=... python tools/profile_query.py q1[,q2,...] [n_runs]

Per-query numbers come from the status tracker diff around the timed
region (build + noop write), so they include every action the query
function itself triggers (collects, localCheckpoints, staging writes) —
the same region bench.py times.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def new_job_counts(jobs, after: int) -> tuple[int, int, int, int]:
    """``(jobs, stages, tasks, last)``: the counts of the jobs in ``jobs``
    (an ``AppStatusStore.jobsList``) whose id is above ``after``, and the
    highest job id seen. Counting by id, not by the list's size, stays
    right once the store holds ``spark.ui.retainedJobs`` entries and
    evicts an old job for each new one."""
    n_jobs = n_stages = n_tasks = 0
    last = after
    for i in range(jobs.size()):
        jd = jobs.apply(i)
        last = max(last, jd.jobId())
        if jd.jobId() > after:
            n_jobs += 1
            n_stages += jd.stageIds().size()
            n_tasks += jd.numTasks()
    return n_jobs, n_stages, n_tasks, last


def main() -> None:
    names = [q.strip() for q in sys.argv[1].split(",") if q.strip()]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    import __spark_entry__ as entrymod
    from datafusion_delta_sharing_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # warmup identical to bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    sc = spark.sparkContext
    # AppStatusStore sees EVERY job regardless of job group — streaming
    # queries run their micro-batch jobs under the stream's own group,
    # which getJobIdsForGroup(None) misses (r11 fix: the old per-group
    # diff undercounted foreachBatch sinks by the whole stream)
    store = sc._jsc.sc().statusStore()  # core AppStatusStore, not the SQL one
    _no_filter = spark._jvm.java.util.ArrayList()  # empty = all statuses
    *_, last = new_job_counts(store.jobsList(_no_filter), -1)

    for name in names:
        fn = queries[name]
        for run in range(n_runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            df.write.format("noop").mode("overwrite").save()
            t_total = time.perf_counter() - t0
            jobs, stages, tasks, last = new_job_counts(
                store.jobsList(_no_filter), last)
            print(f"{name} run{run}: total={t_total:.3f}s "
                  f"build={t_build:.3f}s jobs={jobs} "
                  f"stages={stages} tasks={tasks}")
    spark.stop()


if __name__ == "__main__":
    main()
