"""Deterministic numeric aggregation helpers.

Summing IEEE doubles is order-dependent, and Spark's shuffle order is
non-deterministic — so a naive ``SUM(double)`` can't be hash-compared
across engines (or even across runs). Per-row double→decimal casts are
also not portable at the ulp level (Spark rounds the *shortest string
representation* via Java ``BigDecimal.valueOf``; DuckDB/Postgres round the
exact binary value — they disagree when a value sits within an ulp of a
rounding boundary).

The portable construction used across the engine for fixed-point measures
(money-like columns, which are k-decimal by data contract): scale to exact
integers per row, aggregate integers (exact, associative, commutative →
order-independent), descale once at the end:

    SUM(x)  ≡  CAST(SUM(CAST(ROUND(x * 10^k) AS BIGINT)) AS DOUBLE) / 10^k

``ROUND`` of a near-integer double is unambiguous in every engine (the
value is ~1e-9 from the integer, nowhere near a .5 tie). This is also the
right 100 TB design: integer partial aggregates are cheaper to shuffle
than decimals and immune to re-aggregation order under AQE.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_scaled_long(col: Column | str, scale: int = 2) -> Column:
    """Exact integer representation of a k-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**scale), 0).cast("long")


def exact_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM of a k-decimal double column, as double."""
    return (F.sum(as_scaled_long(col, scale)).cast("double") / (10**scale)).alias(
        "exact_sum"
    )
