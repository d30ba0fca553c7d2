"""Schema registry.

Two schema families:

1. The reference's retail star schema (chains/stores/products/sellout) —
   fixed DDL in the reference (``ddl/chains.sql:3-6``, ``ddl/stores.sql:2-6``,
   ``ddl/products.sql:2-6``, ``ddl/combined_sellout.sql:2-7``; see SURVEY §1.1).
   ``sellout.daily`` is deliberately a *string* (``yyyy/MM/dd``) — the
   curation stage repairs it to DATE, mirroring ``src/job.py:186-187``.

2. The driver's TPC-H-ish testdata tables (TESTDATA.md) — read from parquet,
   schemas embedded in the files; listed here for reference/validation only.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference star schema (SURVEY §1.1) ---------------------------------

CHAINS_SCHEMA = T.StructType(
    [
        T.StructField("chain_id", T.IntegerType()),
        T.StructField("chain_name", T.StringType()),
    ]
)

STORES_SCHEMA = T.StructType(
    [
        T.StructField("chain_id", T.IntegerType()),
        T.StructField("store_id", T.IntegerType()),
        T.StructField("store_name", T.StringType()),
    ]
)

PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.IntegerType()),
        T.StructField("product_name", T.StringType()),
        T.StructField("active", T.BooleanType()),
    ]
)

# daily is a STRING on ingest — repaired to DateType by curation (D1/F3).
SELLOUT_RAW_SCHEMA = T.StructType(
    [
        T.StructField("store_id", T.IntegerType()),
        T.StructField("product_id", T.IntegerType()),
        T.StructField("daily", T.StringType()),
        T.StructField("quantity", T.IntegerType()),
    ]
)

REFERENCE_SCHEMAS: dict[str, T.StructType] = {
    "chains": CHAINS_SCHEMA,
    "stores": STORES_SCHEMA,
    "products": PRODUCTS_SCHEMA,
    "sellout": SELLOUT_RAW_SCHEMA,
}

# Candidate names the reference probes for the measure column
# (``src/job.py:23``); kept for the dynamic introspection operators in
# operators/curation.py.
QUANTITY_COLUMN_CANDIDATES = ["quantity", "qty", "cantidad", "amount"]

# --- driver testdata tables (TESTDATA.md) --------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
