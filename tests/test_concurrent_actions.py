"""``session.run_concurrently``: every job keeps the caller's job group,
a group one task sets stays its own, and a failure surfaces only after
every action has ended."""

from __future__ import annotations

import threading
import time

import pytest

from etl_example_spark.fixtures import make_reference_tables
from etl_example_spark.plans.pipeline import run_pipeline
from etl_example_spark.schemas import REFERENCE_SCHEMAS
from etl_example_spark.session import run_concurrently
from etl_example_spark.sources.writers import backup_catalog
from tests.jobs import clear_job_group, group_jobs, launched_jobs


def test_jobs_carry_the_callers_group(spark, tmp_path):
    sc = spark.sparkContext
    tables = {
        name: spark.createDataFrame(pdf, schema=REFERENCE_SCHEMAS[name])
        for name, pdf in make_reference_tables(n_fact=2_000).items()
    }

    # run_pipeline and backup_catalog: every job they launch, from any
    # pool thread, lands in the caller's group
    with launched_jobs(spark) as jobs:
        sc.setJobGroup("tests-lifecycle", "lifecycle")
        try:
            result = run_pipeline(spark, tables)
            snapshot = {**tables, "sellout": result.curated}
            backup_catalog(spark, str(tmp_path), tables=snapshot, label="g")
        finally:
            clear_job_group(sc)
    assert jobs
    assert jobs == group_jobs(spark, "tests-lifecycle")

    # a task that sets its own group keeps it to itself: the siblings'
    # jobs, launched after it did so, still carry the caller's group
    group_set = threading.Event()

    def own_group():
        sc.setJobGroup("tests-own", "own")
        group_set.set()
        return sc.parallelize(range(4), 1).count()

    def sibling():
        assert group_set.wait(60)
        return sc.parallelize(range(4), 1).count()

    with launched_jobs(spark) as jobs:
        sc.setJobGroup("tests-caller", "caller")
        try:
            counts = run_concurrently(
                spark, {"own": own_group, "a": sibling, "b": sibling}
            )
        finally:
            clear_job_group(sc)
    assert counts == {"own": 4, "a": 4, "b": 4}
    own = group_jobs(spark, "tests-own")
    assert len(own) == 1
    assert len(jobs - own) == 2
    assert jobs - own == group_jobs(spark, "tests-caller")


def test_results_keep_action_order_and_run_at_once(spark):
    # one action runs inline, on the caller's thread
    assert run_concurrently(spark, {"x": threading.current_thread}) == {
        "x": threading.current_thread()
    }
    # several run at once: a barrier only they can pass together
    barrier = threading.Barrier(3, timeout=60)
    got = run_concurrently(
        spark, {k: (lambda k=k: (barrier.wait(), k)[1]) for k in "cab"}
    )
    assert list(got.items()) == [("c", "c"), ("a", "a"), ("b", "b")]


def test_first_failure_raises_after_every_action_ends(spark):
    finished = []

    def fail_late():
        time.sleep(0.3)
        raise ValueError("late")

    def fail_early():
        raise ValueError("early")

    def slow():
        time.sleep(0.6)
        finished.append("slow")

    # "late" fails after "early", but comes first in the mapping
    with pytest.raises(ValueError, match="late"):
        run_concurrently(
            spark, {"late": fail_late, "early": fail_early, "slow": slow}
        )
    assert finished == ["slow"]
