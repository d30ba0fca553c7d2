"""The reference's end-to-end ETL lifecycle, Spark-first.

Mirrors ``main()`` (``src/job.py:286-331``, SURVEY §3 entry point 1):

    load → pre-counts → curation (date repair + quality delete w/ backup)
         → post-counts → 4 validation queries → presentation

Differences by design (SURVEY §1.4, §2.7): tables are immutable
DataFrames — curation derives a new curated frame instead of mutating in
place; the destructive DELETE becomes snapshot + filtered write; errors
propagate as ``ETLError`` with no partial state (idempotent overwrite
replaces transactions, ``src/job.py:318-327``).

The counting steps are independent Spark actions, so they run as one
concurrent batch (``session.run_concurrently``): every table's pre-count
and the fact's problematic count at once. Post-counts are derived, not
recounted — curation leaves the dimensions as they were and removes
exactly the problematic fact rows.
"""

from __future__ import annotations

import functools
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from etl_example_spark.operators.curation import (
    count_problematic,
    detect_quantity_column,
    quality_filter,
    repair_date_column,
)
from etl_example_spark.plans.reference_queries import (
    REFERENCE_DATAFRAME_QUERIES,
)
from etl_example_spark.session import run_concurrently

log = logging.getLogger(__name__)


class ETLError(RuntimeError):
    """Engine-level failure (the reference's ETLException, src/job.py:25-27)."""


@dataclass
class PipelineResult:
    pre_counts: dict[str, int] = field(default_factory=dict)
    problematic: int = 0
    post_counts: dict[str, int] = field(default_factory=dict)
    backup: DataFrame | None = None
    curated: DataFrame | None = None
    query_results: dict[str, DataFrame] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    fact_name: str = "sellout",
    date_col: str = "daily",
    date_fmt: str = "yyyy/MM/dd",
) -> PipelineResult:
    """Run the full reference lifecycle over in-memory tables.

    ``tables`` maps table name → DataFrame (the reference's post-load
    state). Returns counts matching the reference's logged dict shape
    (``src/job.py:302,310``), keyed in the order of ``tables``, plus
    lazy query-result frames.

    Every table's ``count()`` and the fact's ``count_problematic`` run
    as one concurrent batch. ``post_counts`` are derived from them: a
    dimension's post-count is its pre-count, and the fact's is its
    pre-count minus ``problematic``. That is exact because
    ``quality_predicate`` is never NULL (``IS NULL OR ...`` is TRUE on a
    NULL quantity, and the comparisons are non-NULL otherwise), so
    ``quality_filter`` and the problematic filter split the rows, and
    the date repair changes no row count.
    """
    if fact_name not in tables:
        raise ETLError(f"fact table {fact_name!r} not loaded")
    res = PipelineResult()

    fact = tables[fact_name]
    fact = repair_date_column(fact, date_col, fmt=date_fmt)

    qty_col = detect_quantity_column(fact)
    if qty_col is None:
        raise ETLError(f"no numeric measure column found on {fact_name!r}")

    # a tuple key cannot collide with a table name
    problematic_key = (fact_name, "problematic")
    counts = run_concurrently(
        spark,
        {
            **{name: df.count for name, df in tables.items()},
            problematic_key: lambda: count_problematic(fact, qty_col),
        },
    )
    res.pre_counts = {name: counts[name] for name in tables}
    res.problematic = counts[problematic_key]
    if res.problematic > 0:
        # Snapshot before removal (CTAS backup, src/job.py:237-240). In
        # memory this is the pre-filter frame; the parquet-backed variant
        # is operators.curation.backup_then_remove.
        res.backup = fact
        fact = quality_filter(fact, qty_col)
    res.curated = fact

    res.post_counts = {
        name: n - res.problematic if name == fact_name else n
        for name, n in res.pre_counts.items()
    }

    dims = {k: v for k, v in tables.items() if k != fact_name}
    for name, builder in REFERENCE_DATAFRAME_QUERIES.items():
        res.query_results[name] = builder(fact, dims)
    return res


def show_results(results: dict[str, DataFrame], n: int = 10) -> dict[str, str]:
    """Presentation parity: first-n rows per query as text tables — the
    reference's ``tabulate(rows[:10])`` (``src/job.py:272-279``, S7/O5).

    Several queries render concurrently (``session.run_concurrently``);
    a single query renders inline."""
    if not results:
        return {}
    spark = next(iter(results.values())).sparkSession
    return run_concurrently(
        spark,
        {
            name: functools.partial(df._jdf.showString, n, 0, False)  # noqa: SLF001 — Spark's own .show text
            for name, df in results.items()
        },
    )
