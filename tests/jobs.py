"""Which Spark jobs a block of code launched, read from Spark's status
store.

Job ids are handed out in submission order, so the jobs a block launched
— from any thread — are exactly the ids between a marker job run just
before it and one run just after it. That holds while nothing else in
the session submits jobs, which is true of a test running on its own.
"""

from __future__ import annotations

import contextlib
import itertools

_marker_ids = itertools.count()


def clear_job_group(sc) -> None:
    """Undo ``sc.setJobGroup`` on the calling thread."""
    for key in (
        "spark.jobGroup.id",
        "spark.job.description",
        "spark.job.interruptOnCancel",
    ):
        sc.setLocalProperty(key, None)


def group_jobs(spark, group: str) -> set[int]:
    """Ids of every finished job tagged with ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _marker_job(spark) -> int:
    sc = spark.sparkContext
    group = f"tests-jobs-marker-{next(_marker_ids)}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        clear_job_group(sc)
    (job_id,) = group_jobs(spark, group)
    return job_id


@contextlib.contextmanager
def launched_jobs(spark):
    """Yield a set that, once the block exits, holds the id of every
    job launched inside it."""
    jobs: set[int] = set()
    first = _marker_job(spark) + 1
    yield jobs
    jobs.update(range(first, _marker_job(spark)))
