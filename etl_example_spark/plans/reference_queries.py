"""The reference's 4 analytical queries on its own star schema
(chains/stores/products/sellout), in both surfaces the engine offers:
``spark.sql`` strings over registered views and DataFrame chains — Catalyst
produces the same plan either way (verified in tests/test_reference_pipeline).

Source queries: ``/root/reference/sql/queries.sql:1-33``. The engine runs
them post-curation, like ``ejecutar_consultas`` (``src/job.py:260-283``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# SQL surface — same text modulo engine-portable functions:
# DATE_TRUNC('week') is identical (Monday-start); Postgres TO_CHAR(d,'Day')
# blank-pads to 9 chars, which is presentation-only → date_format 'EEEE'.
REFERENCE_SQL: dict[str, str] = {
    "q1_weekly": """
        SELECT DATE_TRUNC('week', daily) AS semana, SUM(quantity) AS unidades
        FROM sellout
        GROUP BY semana
        ORDER BY semana
    """,
    "q2_top_products": """
        SELECT p.product_name, SUM(s.quantity) AS unidades
        FROM sellout s
        JOIN products p ON s.product_id = p.product_id
        GROUP BY p.product_name
        ORDER BY unidades DESC
        LIMIT 5
    """,
    "q3_top_stores": """
        SELECT c.chain_name, st.store_name, SUM(s.quantity) AS unidades
        FROM sellout s
        JOIN stores st ON s.store_id = st.store_id
        JOIN chains c ON st.chain_id = c.chain_id
        GROUP BY c.chain_name, st.store_name
        ORDER BY unidades DESC
        LIMIT 5
    """,
    "q4_seasonality": """
        SELECT c.chain_name,
               date_format(daily, 'EEEE') AS dia_semana,
               SUM(s.quantity) AS unidades
        FROM sellout s
        JOIN stores st ON s.store_id = st.store_id
        JOIN chains c ON st.chain_id = c.chain_id
        GROUP BY c.chain_name, dia_semana
        ORDER BY c.chain_name, unidades DESC
    """,
}


def _q1(sellout: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    return (
        sellout.groupBy(F.date_trunc("week", "daily").alias("semana"))
        .agg(F.sum("quantity").alias("unidades"))
        # a few dozen rows: sorted in one partition, with no range exchange
        .coalesce(1)
        .orderBy("semana")
    )


def _q2(sellout: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    products = dims["products"]
    return (
        sellout.join(F.broadcast(products), "product_id")
        .groupBy("product_name")
        .agg(F.sum("quantity").alias("unidades"))
        .orderBy(F.desc("unidades"))
        .limit(5)
    )


def _q3(sellout: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    stores, chains = dims["stores"], dims["chains"]
    return (
        sellout.join(F.broadcast(stores), "store_id")
        .join(F.broadcast(chains), "chain_id")
        .groupBy("chain_name", "store_name")
        .agg(F.sum("quantity").alias("unidades"))
        .orderBy(F.desc("unidades"))
        .limit(5)
    )


def _q4(sellout: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    stores, chains = dims["stores"], dims["chains"]
    return (
        sellout.join(F.broadcast(stores), "store_id")
        .join(F.broadcast(chains), "chain_id")
        .groupBy(
            "chain_name", F.date_format("daily", "EEEE").alias("dia_semana")
        )
        .agg(F.sum("quantity").alias("unidades"))
        .coalesce(1)
        .orderBy("chain_name", F.desc("unidades"))
    )


REFERENCE_DATAFRAME_QUERIES: dict[
    str, Callable[[DataFrame, dict[str, DataFrame]], DataFrame]
] = {
    "q1_weekly": _q1,
    "q2_top_products": _q2,
    "q3_top_stores": _q3,
    "q4_seasonality": _q4,
}


def run_reference_sql(spark: SparkSession) -> dict[str, DataFrame]:
    """Run the 4 queries over registered temp views (entry point 3 parity,
    ``src/job.py:260-283``)."""
    return {name: spark.sql(sql) for name, sql in REFERENCE_SQL.items()}
