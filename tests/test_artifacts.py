"""Spark-free tests of the artifact store's locking and bound."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from etl_example_spark import artifacts


class _Session:
    """Stands in for a SparkSession: session_key falls back to id()."""


@pytest.fixture
def session():
    yield _Session()
    artifacts.clear()


def test_distinct_keys_build_in_parallel(session):
    """Each build waits for the other to start, so this passes only
    when a build for one key does not hold up a build for another."""
    barrier = threading.Barrier(2, timeout=10)

    def build():
        barrier.wait()
        return threading.get_ident()

    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [
            pool.submit(artifacts.get_or_build, "test", session, key, build)
            for key in ("a", "b")
        ]
        built_by = {f.result(timeout=30) for f in futures}
    assert len(built_by) == 2


def test_each_kind_keeps_its_most_recent_entries(session):
    builds: list[int] = []

    def get(key):
        return artifacts.get_or_build(
            "test", session, key, lambda: builds.append(key) or key
        )

    for key in range(artifacts.BOUND + 1):
        get(key)
    get(artifacts.BOUND)  # most recent: served
    get(1)  # within the bound: served
    get(0)  # least recent when the bound was passed: rebuilt
    assert builds == [*range(artifacts.BOUND + 1), 0]
    assert artifacts.get("test", session, 0) == 0
    artifacts.get_or_build("other", session, 0, lambda: "other kind")
    assert artifacts.get("test", session, 0) == 0
