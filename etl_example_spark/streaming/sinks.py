"""Streaming sinks and the run-to-completion harness.

``run_to_memory`` drives a streaming DataFrame with
``Trigger.AvailableNow`` into a memory sink and returns the result as a
plain DataFrame — the bridge that lets streaming queries live in the same
oracle-checked registry as batch queries. AvailableNow processes all
currently-available input, runs the trailing no-data micro-batch (which
advances the watermark past the final event and flushes every closeable
window), then terminates.

``stream_to_parquet`` is the production sink shape: ``foreachBatch``
writing each micro-batch to parquet. foreachBatch gets a *batch*
DataFrame, so the full batch writer surface (partitionBy, compression,
dynamic overwrite) applies; exactly-once comes from the checkpoint's
batch-id tracking plus idempotent per-batch writes.
"""

from __future__ import annotations

import itertools
import tempfile

from pyspark.sql import DataFrame

_SEQ = itertools.count()


def run_to_memory(
    sdf: DataFrame,
    output_mode: str = "append",
    name: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return the sink contents as a batch DataFrame.

    Pass an explicit ``checkpoint`` to resume a prior run's state (the
    restart path: watermark, window state, and GroupState all come back
    from the checkpoint, and already-processed files are skipped).

    ``available_now=False`` drains with the default micro-batch trigger
    + ``processAllAvailable`` instead — the path for sources that don't
    implement the AvailableNow contract (e.g. Python SimpleDataSource
    stream readers, which signal caught-up via an unchanged offset)."""
    table = name or f"stream_result_{next(_SEQ)}"
    writer = (
        sdf.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix=f"ckpt_{table}_"),
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
        query = writer.start()
        query.awaitTermination()
    else:
        query = writer.start()
        query.processAllAvailable()
        query.stop()
        query.awaitTermination()
    return sdf.sparkSession.table(table)


def stream_to_parquet(
    sdf: DataFrame,
    path: str,
    checkpoint: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """foreachBatch parquet sink, run to completion with AvailableNow.

    Each micro-batch lands as zstd parquet under ``path`` (optionally
    partitioned); the checkpoint makes restarts resume-not-reprocess.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("append").option("compression", "zstd")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    query = (
        sdf.writeStream.foreachBatch(write_batch)
        .option(
            "checkpointLocation",
            checkpoint or tempfile.mkdtemp(prefix="ckpt_parquet_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def read_cdc_state(
    spark, target_path: str, sequence_col: str | None = None
) -> DataFrame:
    """Clean view of a ``stream_cdc_to_parquet`` target: the live rows,
    with the merge's bookkeeping stripped — ``_deleted`` tombstone rows
    are filtered and the flag column dropped; pass ``sequence_col`` (the
    same name given to the sink) to also drop the persisted
    applied-sequence column. With ``sequence_col=None`` the sequence
    column, if any, is returned as-is (callers sometimes want it for
    freshness checks)."""
    import os

    from pyspark.sql import functions as F

    from etl_example_spark.sources.writers import resolve_dataset_path

    df = spark.read.parquet(
        resolve_dataset_path(os.path.join(target_path, "current"))
    )
    if "_deleted" in df.columns:
        df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        df = df.drop("_deleted")
    if sequence_col is not None and sequence_col in df.columns:
        df = df.drop(sequence_col)
    return df


def stream_cdc_to_parquet(
    changes: DataFrame,
    target_path: str,
    key_cols: list[str],
    target_cols: list[str],
    op_col: str = "op",
    sequence_col: str | None = None,
) -> None:
    """Incremental CDC-merge sink: apply each micro-batch of change rows
    to a parquet target table via ``foreachBatch`` + ``apply_cdc``.

    Per batch: read the current target (empty on first batch), merge the
    batch's compacted changes, and publish the merged state as a new
    generation of ``<target_path>/current`` through
    :func:`~etl_example_spark.sources.writers.publish_generation` — the
    same publish and retention rule as compaction. Readers never observe
    a partially-written state, a failed batch leaves the previous state
    live, and at most the live state and the one it replaced stay on
    disk. A replayed batch merges again into the current state
    (idempotent merge — the exactly-once recipe for non-transactional
    sinks).

    When ``sequence_col`` is given, the state *persists* the applied
    sequence per key plus a ``_deleted`` tombstone flag, so merges are
    correct across batches even when change batches replay or arrive out
    of sequence order (a later batch carrying an older sequence is
    dropped; a stale update cannot resurrect a deleted key). Read the
    clean view back with :func:`read_cdc_state` — it filters tombstones
    and drops the bookkeeping columns.

    At scale the same shape targets a transactional table format; the
    merge itself is apply_cdc's broadcast-keys anti-join, so the target
    never shuffles.
    """
    import os

    from pyspark.sql import functions as F

    from etl_example_spark.operators.merge import apply_cdc
    from etl_example_spark.sources.writers import (
        publish_generation,
        resolve_dataset_path,
    )

    os.makedirs(target_path, exist_ok=True)
    current = os.path.join(target_path, "current")
    tombstone = "_deleted" if sequence_col is not None else None

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        state = resolve_dataset_path(current)
        if os.path.isdir(state):
            target = spark.read.parquet(state)
        else:
            target = batch.select(*target_cols).limit(0)
            if sequence_col is not None:
                target = batch.select(
                    *target_cols, sequence_col
                ).withColumn(tombstone, F.lit(False)).limit(0)
        merged = apply_cdc(
            target,
            batch,
            key_cols,
            op_col=op_col,
            sequence_col=sequence_col,
            tombstone_col=tombstone,
        )
        # a fresh generation per write: the merge plan READS the current
        # state lazily, so writing into the directory being read would
        # destroy the input mid-job
        publish_generation(current, merged.write.parquet)

    query = (
        changes.writeStream.foreachBatch(merge_batch)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="ckpt_cdc_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    if not os.path.isdir(resolve_dataset_path(current)):
        # empty source -> zero micro-batches ran; the target must still
        # exist (readers contract on `current`), as the empty table
        bootstrap = changes.select(*target_cols)
        if sequence_col is not None:
            bootstrap = changes.select(*target_cols, sequence_col)
            bootstrap = bootstrap.withColumn("_deleted", F.lit(False))
        empty = changes.sparkSession.createDataFrame(
            [], bootstrap.schema
        )
        publish_generation(current, empty.write.parquet)


def make_neardup_probe(
    bands_dir: str,
    sets_dir: str,
    out_dir: str,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
):
    """foreachBatch callable for the streaming near-dup probe, with
    EPOCH-KEYED writes so a replayed micro-batch rewrites instead of
    re-appending (the idempotent-write half of the exactly-once recipe;
    the checkpoint's batch-id tracking is the other half).

    Layout: the stored LSH index and the pair sink are hive-partitioned
    by epoch (``.../epoch=<id>/``; seed the index at ``epoch=-1`` via
    :func:`seed_neardup_index`). Each batch:

    - probes the index restricted to STRICTLY older epochs — so a retry
      that died after a partial index append never sees its own
      half-written epoch;
    - overwrites its own ``epoch=<id>`` subdirectories in the pair sink
      and both index tables — a retry replaces the partial output
      byte-for-byte instead of duplicating rows.

    Readers of the index/pairs just read the parent directory (partition
    discovery adds the ``epoch`` column; drop it)."""
    import os

    from pyspark.sql import functions as F

    from etl_example_spark.operators import dedup

    def probe(batch: DataFrame, epoch_id: int) -> None:
        bspark = batch.sparkSession
        idx_bands = (
            bspark.read.parquet(bands_dir)
            .filter(F.col("epoch") < epoch_id)
            .drop("epoch")
        )
        idx_sets = (
            bspark.read.parquet(sets_dir)
            .filter(F.col("epoch") < epoch_id)
            .drop("epoch")
        )
        pairs = dedup.probe_minhash_index(
            idx_bands,
            idx_sets,
            batch,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            n=n,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        new_bands, new_sets = dedup.minhash_index(
            batch, num_hashes=num_hashes, bands=bands, n=n
        )
        new_bands.write.mode("overwrite").parquet(
            os.path.join(bands_dir, f"epoch={epoch_id}")
        )
        new_sets.write.mode("overwrite").parquet(
            os.path.join(sets_dir, f"epoch={epoch_id}")
        )

    return probe


def seed_neardup_index(
    static_docs: DataFrame,
    bands_dir: str,
    sets_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> None:
    """Build the stored LSH index of the static corpus at ``epoch=-1`` —
    strictly older than every stream epoch, so the first micro-batch
    (epoch 0) probes exactly the seed."""
    import os

    from etl_example_spark.operators import dedup

    seed_bands, seed_sets = dedup.minhash_index(
        static_docs, num_hashes=num_hashes, bands=bands, n=n
    )
    seed_bands.write.parquet(os.path.join(bands_dir, "epoch=-1"))
    seed_sets.write.parquet(os.path.join(sets_dir, "epoch=-1"))
