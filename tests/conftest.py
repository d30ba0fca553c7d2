"""Shared fixtures: one SparkSession per test session, sf paths."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_example_spark.session import get_spark  # noqa: E402

#: tests that replay the reference's own dataset; they skip as a module
#: when it is absent, which a bare skip count would not say
REFERENCE_TEST_FILES = (
    "tests/test_reference_golden.py",
    "tests/test_sql_script_reference.py",
)

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_SF_CORRECTNESS", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="etl_example_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def batch_plans(spark, sf_dir) -> dict[str, str | Exception]:
    """name -> executed-plan text of every registered batch query over
    ``sf_dir``, or the exception its build raised. Built once per
    session, thread-pooled (tests/sweep.py): the plan lints and the
    cartesian sweep in test_sources read the same ~250 plans."""
    from concurrent.futures import ThreadPoolExecutor

    from etl_example_spark.plans.registry import load_all
    from tests.sweep import WORKERS

    registry = load_all()

    def build(name):
        try:
            df = registry[name].spark_builder(spark, sf_dir)
            return name, df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        except Exception as exc:  # noqa: BLE001 — each reader reports it
            return name, exc

    batch = [n for n, q in registry.items() if q.category != "streaming"]
    with ThreadPoolExecutor(max_workers=WORKERS) as pool:
        return dict(pool.map(build, batch))


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness_dir() -> str:
    return SF_CORRECTNESS


def pytest_terminal_summary(terminalreporter):
    """Name the reference-dataset skips in one line."""
    skipped = [
        rep
        for rep in terminalreporter.stats.get("skipped", [])
        if rep.nodeid.startswith(REFERENCE_TEST_FILES)
    ]
    if skipped:
        reasons = sorted(
            {rep.longrepr[2].removeprefix("Skipped: ") for rep in skipped}
        )
        terminalreporter.write_line(
            f"reference-golden tests skipped: {'; '.join(reasons)} "
            f"({len(skipped)} tests)"
        )
