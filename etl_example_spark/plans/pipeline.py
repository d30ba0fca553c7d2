"""The reference's end-to-end ETL lifecycle, Spark-first.

Mirrors ``main()`` (``src/job.py:286-331``, SURVEY §3 entry point 1):

    load → pre-counts → curation (date repair + quality delete w/ backup)
         → post-counts → 4 validation queries → presentation

Differences by design (SURVEY §1.4, §2.7): tables are immutable
DataFrames — curation derives a new curated frame instead of mutating in
place; the destructive DELETE becomes snapshot + filtered write; errors
propagate as ``ETLError`` with no partial state (idempotent overwrite
replaces transactions, ``src/job.py:318-327``).

The lifecycle's Spark actions are independent, so they run as one
concurrent batch (``session.run_concurrently``): every table's
pre-count, the fact's problematic count and the 4 validation queries
at once. The queries run over the quality-filtered fact and their
results come back executed and held on the driver (bounded: 5 rows for
q2 and q3, one row per week for q1, chains × 7 for q4), so presenting
them launches no job. Post-counts are derived, not recounted — curation
leaves the dimensions as they were and removes exactly the problematic
fact rows.
"""

from __future__ import annotations

import functools
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from etl_example_spark.functions.localrel import collected
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
    the 4 query results, executed and held on the driver.

    Every table's ``count()``, the fact's ``count_problematic`` and one
    collect of each query run as one concurrent batch. The queries read
    ``quality_filter(fact)`` whether or not any row is problematic, and
    ``post_counts`` are derived from the counts: a dimension's
    post-count is its pre-count, and the fact's is its pre-count minus
    ``problematic``. Both are exact because ``quality_predicate`` is
    never NULL (``IS NULL OR ...`` is TRUE on a NULL quantity, and the
    comparisons are non-NULL otherwise), so ``quality_filter`` and the
    problematic filter split the rows — with no problematic row the
    filter keeps every row — and the date repair changes no row count.
    """
    if fact_name not in tables:
        raise ETLError(f"fact table {fact_name!r} not loaded")
    res = PipelineResult()

    fact = tables[fact_name]
    fact = repair_date_column(fact, date_col, fmt=date_fmt)

    qty_col = detect_quantity_column(fact)
    if qty_col is None:
        raise ETLError(f"no numeric measure column found on {fact_name!r}")

    curated = quality_filter(fact, qty_col)
    dims = {k: v for k, v in tables.items() if k != fact_name}
    queries = {
        name: builder(curated, dims)
        for name, builder in REFERENCE_DATAFRAME_QUERIES.items()
    }
    # tuple keys cannot collide with a table name
    problematic_key = (fact_name, "problematic")
    done = run_concurrently(
        spark,
        {
            **{name: df.count for name, df in tables.items()},
            problematic_key: lambda: count_problematic(fact, qty_col),
            **{
                ("query", name): functools.partial(collected, q)
                for name, q in queries.items()
            },
        },
    )
    res.pre_counts = {name: done[name] for name in tables}
    res.problematic = done[problematic_key]
    res.query_results = {name: done[("query", name)] for name in queries}
    if res.problematic > 0:
        # Snapshot before removal (CTAS backup, src/job.py:237-240). In
        # memory this is the pre-filter frame; the parquet-backed variant
        # is operators.curation.backup_then_remove.
        res.backup = fact
        res.curated = curated
    else:
        res.curated = fact

    res.post_counts = {
        name: n - res.problematic if name == fact_name else n
        for name, n in res.pre_counts.items()
    }
    return res


def show_results(results: dict[str, DataFrame], n: int = 10) -> dict[str, str]:
    """Presentation parity: first-n rows per query as text tables — the
    reference's ``tabulate(rows[:10])`` (``src/job.py:272-279``, S7/O5).

    Renders only: ``run_pipeline``'s results are already executed and
    held on the driver, so this launches no job."""
    return {
        name: df._jdf.showString(n, 0, False)  # noqa: SLF001 — Spark's own .show text
        for name, df in results.items()
    }
