"""Streaming sinks, the one drain every streaming query runs through, and
the epoch-sliced maintenance kernel.

Every streaming query in the engine starts in :func:`_drain`: it names
``writeStream`` once, sets the checkpoint, and runs the query with
``Trigger.AvailableNow`` to completion (or, for sources without the
AvailableNow contract, ``processAllAvailable`` then stop).
AvailableNow processes all currently-available input, runs the
trailing no-data micro-batch (which advances the watermark past the
final event and flushes every closeable window), then terminates.

- ``run_to_memory`` drains into a memory sink and returns the result
  as a plain DataFrame, the bridge that lets streaming queries live in
  the same oracle-checked registry as batch queries.
- ``stream_to_parquet`` and ``stream_cdc_to_parquet`` drain into a path
  the caller owns. Their checkpoint is keyed by that target: it lives
  at the sibling ``<target>._checkpoint``, so a second call into the
  same target resumes from the last committed micro-batch instead of
  replaying the whole source.
- :func:`maintain` is the incremental-index loop: seed an ``epoch=-1``
  slice, let each micro-batch's ``step`` read only strictly older
  slices and overwrite its own ``epoch=<id>`` slice (idempotent under
  micro-batch retry), then read the slices back.

Directories the engine makes for itself (memory-sink checkpoints, the
kernel's slices and checkpoints, a builder's staged artifacts) come
from :func:`scratch_dir`, under one scratch root per process. The root
is created on first use and removed when the interpreter exits. It is
not removed by ``clear_staged_caches()``: frames the kernel returns
read their slices lazily, so they must outlive every cache clear.
"""

from __future__ import annotations

import atexit
import glob
import itertools
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame

_SEQ = itertools.count()
_SCRATCH_LOCK = threading.Lock()
_scratch_root: str | None = None

#: ``step(batch, older)`` of :func:`maintain`: ``older(name)`` reads the
#: named output's slices from strictly older epochs; the step returns
#: the frames of this epoch's slices, by output name.
Step = Callable[
    [DataFrame, Callable[[str], DataFrame]], Mapping[str, DataFrame]
]


def scratch_dir(prefix: str) -> str:
    """A new empty directory under the process's scratch root.

    The root is the engine's one ``mkdtemp``: created once, under a
    lock, on first use, and removed by ``atexit`` when the interpreter
    exits."""
    global _scratch_root
    with _SCRATCH_LOCK:
        if _scratch_root is None:
            _scratch_root = tempfile.mkdtemp(prefix="etl_scratch_")
            atexit.register(shutil.rmtree, _scratch_root, True)
        path = os.path.join(_scratch_root, f"{prefix}{next(_SEQ)}")
    os.makedirs(path)
    return path


def _drain(
    sdf: DataFrame,
    checkpoint: str,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    *,
    table: str | None = None,
    output_mode: str = "append",
    available_now: bool = True,
) -> None:
    """Run ``sdf`` until its source is drained, into ``batch_fn``
    (``foreachBatch``) or, when ``table`` is given, the memory table of
    that name. ``available_now=False`` drains with the default
    micro-batch trigger + ``processAllAvailable`` instead."""
    writer = (
        sdf.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if table is None:
        writer = writer.foreachBatch(batch_fn)
    else:
        writer = writer.format("memory").queryName(table)
    if available_now:
        writer.trigger(availableNow=True).start().awaitTermination()
        return
    query = writer.start()
    query.processAllAvailable()
    query.stop()
    query.awaitTermination()


def _checkpoint_of(target: str) -> str:
    """The checkpoint keyed by a caller-owned sink target."""
    return f"{target.rstrip(os.sep)}._checkpoint"


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
    _drain(
        sdf,
        checkpoint or scratch_dir(f"ckpt_{table}_"),
        table=table,
        output_mode=output_mode,
        available_now=available_now,
    )
    return sdf.sparkSession.table(table)


def stream_to_parquet(
    sdf: DataFrame,
    path: str,
    checkpoint: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """foreachBatch parquet sink, run to completion with AvailableNow.

    Each micro-batch lands as zstd parquet under ``path`` (optionally
    partitioned). The checkpoint defaults to ``<path>._checkpoint``, so
    a second call into the same path resumes instead of reprocessing.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("append").option("compression", "zstd")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    _drain(sdf, checkpoint or _checkpoint_of(path), write_batch)


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
    disk. The checkpoint is keyed by the target
    (``<target_path>._checkpoint``): a second call into the same target
    runs only the micro-batches that were not committed, and a replayed
    batch merges again into the current state (idempotent merge — the
    exactly-once recipe for non-transactional sinks).

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

    _drain(changes, _checkpoint_of(target_path), merge_batch)

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


class Slices(Mapping):
    """:func:`maintain`'s result: each output's slices, read back by name
    on access (``epoch`` dropped, or the empty frame of the output's
    schema when it holds no slice); ``paths`` names each output's
    directory."""

    def __init__(self, spark, paths: dict, schemas: dict) -> None:
        self._spark, self.paths, self._schemas = spark, paths, schemas

    def __getitem__(self, name: str) -> DataFrame:
        return _read_slices(self._spark, self.paths[name], self._schemas[name])

    def __iter__(self):
        return iter(self.paths)

    def __len__(self) -> int:
        return len(self.paths)


def _read_slices(
    spark, path: str, schema=None, before: int | None = None
) -> DataFrame:
    """The ``epoch=<id>`` slices under ``path`` as one frame, ``epoch``
    dropped; only epochs below ``before`` when it is given. A path
    that holds no slice reads as the empty frame of ``schema``."""
    from pyspark.sql import functions as F

    if not glob.glob(os.path.join(glob.escape(path), "epoch=*", "*.parquet")):
        return spark.createDataFrame([], schema)
    slices = spark.read.parquet(path)
    if before is not None:
        slices = slices.filter(F.col("epoch") < before)
    return slices.drop("epoch")


def _epoch_slices(
    step: Step, paths: Mapping[str, str], schemas: Mapping | None = None
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch callable of an epoch-sliced loop: per
    micro-batch, ``step`` sees only strictly older slices, and each
    frame it returns overwrites its output's ``epoch=<id>`` slice."""
    schemas = schemas or {}

    def run(batch: DataFrame, epoch: int) -> None:
        def older(name: str) -> DataFrame:
            return _read_slices(
                batch.sparkSession, paths[name], schemas.get(name), epoch
            )

        for name, frame in step(batch, older).items():
            frame.write.mode("overwrite").parquet(
                os.path.join(paths[name], f"epoch={epoch}")
            )

    return run


def maintain(
    stream: DataFrame,
    step: Step,
    outputs: Mapping[str, str],
    seed: Mapping[str, DataFrame] | None = None,
) -> Slices:
    """Drain ``stream`` through ``step``, keeping one epoch-keyed slice
    per output and micro-batch: the incremental-index loop of every
    streaming maintenance builder.

    ``outputs`` declares the outputs the step writes, each by name with
    the DDL schema it reads back as while it holds no slice. Each
    ``seed`` frame is written first as its output's ``epoch=-1`` slice,
    older than every micro-batch; a seeded output needs no declared
    schema. Per micro-batch ``epoch``, ``step(batch, older)`` runs:
    ``older(name)`` reads that output's slices from strictly older
    epochs, so a retried batch never sees its own half-written slice,
    and every frame the step returns overwrites its output's
    ``epoch=<epoch>`` slice, so the retry replaces it instead of
    appending.

    Returns every output's slices by name (:class:`Slices`). Each call
    takes fresh scratch directories and a fresh checkpoint, so it never
    resumes an earlier call."""
    seed = dict(seed or {})
    schemas = {name: frame.schema for name, frame in seed.items()}
    schemas.update(outputs)
    paths = {name: scratch_dir(f"{name}_") for name in schemas}
    for name, frame in seed.items():
        frame.write.parquet(os.path.join(paths[name], "epoch=-1"))
    _drain(
        stream, scratch_dir("ckpt_"), _epoch_slices(step, paths, schemas)
    )
    return Slices(stream.sparkSession, paths, schemas)


def neardup_step(
    threshold: float = 0.6, num_hashes: int = 16, bands: int = 4, n: int = 3
) -> Step:
    """The streaming near-dup probe as a :func:`maintain` step over the
    outputs ``bands`` and ``sets`` (the stored LSH index; seed it at
    ``epoch=-1`` with ``operators.dedup.minhash_index`` of the static
    corpus) and ``pairs``. Each batch probes the index of strictly
    older epochs, so batches are checked against the seed and every
    earlier batch, then adds its own digests to the index."""
    from etl_example_spark.operators import dedup

    def step(batch: DataFrame, older) -> dict[str, DataFrame]:
        pairs = dedup.probe_minhash_index(
            older("bands"),
            older("sets"),
            batch,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            n=n,
        )
        new_bands, new_sets = dedup.minhash_index(
            batch, num_hashes=num_hashes, bands=bands, n=n
        )
        return {"pairs": pairs, "bands": new_bands, "sets": new_sets}

    return step


def make_neardup_probe(
    bands_dir: str,
    sets_dir: str,
    out_dir: str,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
):
    """foreachBatch callable for the streaming near-dup probe
    (:func:`neardup_step`) over caller-owned directories, with
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
    return _epoch_slices(
        neardup_step(threshold, num_hashes, bands, n),
        {"pairs": out_dir, "bands": bands_dir, "sets": sets_dir},
    )


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
    from etl_example_spark.operators import dedup

    seed_bands, seed_sets = dedup.minhash_index(
        static_docs, num_hashes=num_hashes, bands=bands, n=n
    )
    seed_bands.write.parquet(os.path.join(bands_dir, "epoch=-1"))
    seed_sets.write.parquet(os.path.join(sets_dir, "epoch=-1"))
