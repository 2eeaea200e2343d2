"""``tools/profile_query.py`` counts the jobs a query submits by job id, so
the count stays right once Spark's status store is full and evicts an old
job for each new one. Checked against a fake store, without Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.profile_query import new_job_counts  # noqa: E402


class _Seq(list):
    """The two methods of a Scala ``Seq`` the counter calls through py4j."""

    def size(self) -> int:
        return len(self)

    def apply(self, i: int):
        return self[i]


class _Job:
    def __init__(self, job_id: int, stages: int, tasks: int):
        self._id, self._stages, self._tasks = job_id, stages, tasks

    def jobId(self) -> int:  # noqa: N802 - the JVM accessor's name
        return self._id

    def stageIds(self) -> _Seq:  # noqa: N802
        return _Seq(range(self._stages))

    def numTasks(self) -> int:  # noqa: N802
        return self._tasks


def _store(ids) -> _Seq:
    """A status store's retained jobs: job ``i`` has 2 stages and i tasks."""
    return _Seq(_Job(i, 2, i) for i in ids)


def test_counts_new_jobs_by_id_in_a_full_store():
    # spark.ui.retainedJobs = 10: the store is full before the run, and
    # the run's three jobs (10, 11, 12) evict jobs 0, 1 and 2
    before, after = _store(range(10)), _store(range(3, 13))
    assert before.size() == after.size()  # a size diff reads 0 new jobs
    *_, last = new_job_counts(before, -1)
    assert last == 9
    assert new_job_counts(after, last) == (3, 6, 10 + 11 + 12, 12)


def test_a_run_without_jobs_counts_nothing():
    store = _store(range(3, 13))
    assert new_job_counts(store, 12) == (0, 0, 0, 12)
    assert new_job_counts(_Seq(), -1) == (0, 0, 0, -1)
