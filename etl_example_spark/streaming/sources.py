"""Streaming sources.

``read_events_stream`` turns the testdata events table into a file-stream
source: ``spark.readStream.schema(...).parquet(path)``. File streams
require an explicit schema; rather than hardcoding one (the testdata's
physical ``ts`` encoding has changed across regenerations — NANOS then
MICROS-NTZ), the source derives the schema from a cheap batch footer read
of the same directory and applies the *type-driven* ``ts`` repair shared
with the batch loader (sources/loaders.repair_event_ts).

At scale this is the landing-zone pattern: new parquet files appear in a
directory (one per upstream micro-batch / Kafka offset range), the file
source tracks progress in the checkpoint, and ``maxFilesPerTrigger``
bounds per-batch work. The testdata directory is a single file, so
AvailableNow processes it as one batch — fine for semantics tests; real
deployments get incremental batches for free from the same code.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_example_spark.sources.loaders import repair_event_ts

#: Canonical logical events schema — the fallback when the landing dir has
#: no readable parquet footers yet (an empty landing zone is the *normal*
#: cold-start state of a file-stream source; the reference tolerates
#: missing objects the same way, src/job.py:100-112 to_regclass -> None).
#: ``ts`` is TimestampType so ``repair_event_ts`` passes it through.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _staging_dir(sf_dir: str) -> str:
    """File-stream sources watch a *directory*; the testdata table is a
    single file in a directory shared with other tables. Stage a per-sf
    landing dir (under the system temp root) holding a symlink to
    events.parquet — the same shape a real landing zone has, one file per
    arriving batch."""
    slug = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    staging = os.path.join(
        tempfile.gettempdir(), "etl_stream_src", slug
    )
    os.makedirs(staging, exist_ok=True)
    link = os.path.join(staging, "events.parquet")
    _symlink_once(
        os.path.join(os.path.abspath(sf_dir), "events.parquet"), link
    )
    return staging


def _symlink_once(target: str, link: str) -> None:
    """Race-safe idempotent symlink: the staging dir is keyed by the
    SOURCE path, so concurrent creators (round-14: the thread-pooled
    test sweeps run streaming queries in parallel) always want the same
    link — losing the exists/create race is success, not an error.

    A link already there that points elsewhere (a dangling one left by
    an older layout, say) is replaced atomically: a fresh link under a
    temp name, renamed over it, so a concurrent reader sees the old link
    or the new one, never none."""
    try:
        os.symlink(target, link)
    except FileExistsError:
        try:
            if os.readlink(link) == target:
                return
        except OSError:  # not a symlink
            pass
        tmp = f"{link}.{uuid.uuid4().hex}.tmp"
        os.symlink(target, tmp)
        os.replace(tmp, link)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over ``{sf_dir}/events.parquet`` with the ts
    column repaired to a proper timestamp (event-time ready).

    The stream schema is derived from a batch footer read of the staging
    dir (one file, metadata-only) so the source tracks whatever physical
    encoding the current testdata uses; the repair itself is the shared
    type-driven one from the batch loader."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staging = _staging_dir(sf_dir)
    try:
        # recursiveFileLookup: the landing entry may be a single file OR a
        # directory-shaped parquet table (e.g. a Spark-written batch).
        raw_schema = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(staging)
            .schema
        )
    except Exception:  # UNABLE_TO_INFER_SCHEMA: no footers yet (cold start)
        raw_schema = EVENTS_RAW_SCHEMA
    reader = spark.readStream.schema(raw_schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return repair_event_ts(reader.load(staging))


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _table_staging_dir(sf_dir: str, name: str) -> str:
    """Per-(sf, table) landing directory (same symlink pattern as the
    events staging dir)."""
    slug = hashlib.md5(
        f"{os.path.abspath(sf_dir)}::{name}".encode()
    ).hexdigest()[:12]
    staging = os.path.join(tempfile.gettempdir(), "etl_stream_src", slug)
    os.makedirs(staging, exist_ok=True)
    link = os.path.join(staging, f"{name}.parquet")
    _symlink_once(
        os.path.join(os.path.abspath(sf_dir), f"{name}.parquet"), link
    )
    return staging


def read_documents_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over ``{sf_dir}/documents.parquet`` — the
    continuously-ingested-corpus shape (each arriving file is a batch of
    new documents)."""
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(_table_staging_dir(sf_dir, "documents"))


EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def read_embeddings_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over ``{sf_dir}/embeddings.parquet`` — the
    continuously-embedded-corpus shape (each arriving file is a batch
    of freshly embedded vectors to fold into the ANN index)."""
    reader = spark.readStream.schema(EMBEDDINGS_SCHEMA).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(_table_staging_dir(sf_dir, "embeddings"))
