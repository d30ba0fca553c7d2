"""Query registry — single source of truth for the engine's query surface.

Every operator the engine claims (SURVEY §2 inventory + the LLM-pipeline
extensions) is registered here as a named `Query`:

- ``spark_builder(spark, sf_dir) -> DataFrame`` — the Spark-first
  implementation (DataFrame API or spark.sql), lazily built.
- ``oracle`` — the equivalent ANSI SQL that DuckDB runs over the same
  parquet tables, or ``None`` for ops whose semantics aren't
  SQL-expressible (the driver then records a weaker rows-only check).

``__spark_entry__.queries()`` / ``oracle_sql()``, the pytest differential
harness, and ``bench.py`` all read from this registry, so a query is never
"done" in one surface and missing from another. The registry keeps
registration order; ``__spark_entry__`` alone orders the driver window.

Determinism rules for oracle-checked queries (the driver hash-compares
values): float sums go through DECIMAL casts (exact, order-independent)
and back to DOUBLE; every computed column is aliased identically in both
implementations; top-k queries carry deterministic tie-break keys.
Full-output queries return UNORDERED results: the comparison sorts rows
before hashing, and a cosmetic final ``orderBy`` is not free — Spark's
global sort runs the ENTIRE upstream pipeline an extra time to sample
range-partition boundaries (measured +60% on d62), work no production
sink would pay.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    doc: str
    spark_builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    #: registry section, for reporting (parity / relational / dedup / ...)
    category: str = "relational"
    #: include in bench.py headline timing set
    bench: bool = False
    tags: list[str] = field(default_factory=list)


QUERIES: dict[str, Query] = {}


def register(
    name: str,
    doc: str,
    oracle: str | None = None,
    category: str = "relational",
    bench: bool = False,
    tags: list[str] | None = None,
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    """Decorator: register a (spark_builder, oracle) pair under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(
            name=name,
            doc=doc,
            spark_builder=fn,
            oracle=oracle,
            category=category,
            bench=bench,
            tags=tags or [],
        )
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every module that registers queries; return the registry in
    registration order."""
    # Imports are side-effecting (decorators populate QUERIES).
    from etl_example_spark.plans import (  # noqa: F401
        llm_ops,
        parity,
        relational,
        streaming_ops,
    )

    return dict(QUERIES)
