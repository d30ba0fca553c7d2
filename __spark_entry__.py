"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``etl_example_spark.plans.registry`` — the single source
of truth for the engine's query surface. Each registered Query carries its
Spark builder and (where SQL-expressible) its DuckDB oracle SQL.

The driver checks only the first 50 entries of ``queries()`` each round and
records them in a ``CORRECTNESS_r<round>.json`` file beside this module.
``queries()`` and ``oracle_sql()`` share one order, derived from those files
so that the window rotates by itself:

1. the ``SENTINELS``, always;
2. names no round has checked yet, in registration order;
3. every other name by the last round whose file lists it, oldest first,
   registration order within a round.
"""

from __future__ import annotations

import json
import sys
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from etl_example_spark.plans.registry import Query, load_all  # noqa: E402
from etl_example_spark.session import configure_session  # noqa: E402

#: The reference parity queries (SURVEY §2's core surface): regression
#: sentinels at the head of every driver window.
SENTINELS: tuple[str, ...] = (
    "q1_weekly_units", "q2_top_products", "q3_top_stores",
    "q4_seasonality", "q5_curation_filter", "q6_date_repair",
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry = load_all()
    configure_session(spark)
    return registry["q0_pricing_summary"].spark_builder(
        spark, "/root/testdata/sf0.001"
    )


def checked_rounds() -> dict[int, list[str]]:
    """round -> the query names its ``CORRECTNESS_r<round>.json`` lists."""
    here = Path(__file__).resolve().parent
    return {
        int(path.stem.removeprefix("CORRECTNESS_r")):
            list(json.loads(path.read_text()))
        for path in here.glob("CORRECTNESS_r*.json")
    }


def window_order(
    names: Iterable[str], checked: Mapping[int, Iterable[str]]
) -> list[str]:
    """``names`` (in registration order) in driver-window order, given the
    names each past round checked (module docstring)."""
    last = {}
    for rnd in sorted(checked):
        last.update(dict.fromkeys(checked[rnd], rnd))
    names = list(names)
    position = {n: i for i, n in enumerate(names)}

    def rank(name: str) -> tuple:
        if name in SENTINELS:
            return (0, SENTINELS.index(name))
        return (1, last.get(name, 0), position[name])  # 0: never checked

    return sorted(names, key=rank)


def _ordered() -> list[Query]:
    registry = load_all()
    return [registry[n] for n in window_order(registry, checked_rounds())]


def _configured(builder: Callable[[SparkSession, str], DataFrame]):
    """Apply engine session settings at the contract boundary (the driver
    hands a vanilla session), then build — loaders stay side-effect-free."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        configure_session(spark)
        return builder(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions),
    in driver-window order."""
    return {q.name: _configured(q.spark_builder) for q in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins for every SQL-expressible query, in
    the same order as ``queries()``."""
    return {q.name: q.oracle for q in _ordered() if q.oracle}
