"""Declarative sinks — the table layouts that make 100 TB queryable.

The reference's only sinks are a CTAS backup table (``src/job.py:237-240``)
and a pg_dump-to-S3 script (``sql/backup.sh:18-21``). The Spark-native
sink surface is richer because the *layout* of written data is the main
scale lever:

- ``write_partitioned``: hive-style directory partitioning. Partition
  columns become directory keys; any filter on them prunes whole
  directories at plan time (no file even gets listed). The standard fact
  layout is date-partitioned (one partition per ingest day).
- ``write_bucketed_table``: pre-shuffled, hash-bucketed catalog tables.
  Two tables bucketed the same way on the join key sort-merge-join with
  ZERO exchanges — the shuffle is paid once at write time and amortized
  over every subsequent join. This is the co-located-join strategy for
  the repeatedly-joined 100 TB fact/dim pair.

Both write zstd parquet (the session default): ~2x smaller than snappy at
similar scan cost, an IO-bandwidth win at scale.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_example_spark.session import run_concurrently


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — the
    filesystem abstraction that makes small control files (manifests)
    work uniformly on file://, hdfs://, and s3a:// — the same
    resolution the parquet writer itself uses."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small UTF-8 control file through the Hadoop FileSystem
    API (works on any supported scheme, not just the local disk).

    Checksum sidecars are disabled: on the local ChecksumFileSystem they
    materialize as ``.<name>.crc`` files that pollute snapshot listings
    (object-store filesystems ignore the setting). The setting is
    applied to a PRIVATE uncached FileSystem instance —
    ``Path.getFileSystem`` returns the JVM-wide cached one, and
    mutating that would silently disable checksums for every later
    write in the process."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(
        jpath.toUri(), spark._jsc.hadoopConfiguration()
    )
    try:
        fs.setWriteChecksum(False)
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
    finally:
        fs.close()


def hadoop_read_text(spark: SparkSession, path: str) -> str:
    """Read a small UTF-8 control file through the Hadoop FileSystem
    API."""
    fs, jpath = _hadoop_fs(spark, path)
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet: filters on ``partition_by`` columns
    become partition pruning (check ``PartitionFilters`` in the scan)."""
    (
        df.write.mode(mode)
        .partitionBy(*partition_by)
        .option("compression", "zstd")
        .parquet(path)
    )


def drop_table_and_location(spark, name: str) -> None:
    """Drop a managed table AND its warehouse directory: the default
    in-memory catalog forgets tables between sessions but their
    warehouse directories persist — clear both, or saveAsTable fails
    with LOCATION_ALREADY_EXISTS."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    location = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        name.lower(),
    )
    if os.path.isdir(location):
        shutil.rmtree(location)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_by: Sequence[str],
    num_buckets: int = 32,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (optionally sorted) catalog table. Joins between
    tables bucketed identically on the join key need no exchange; with
    ``sort_by`` the sort-merge join skips its sorts too."""
    spark = df.sparkSession
    if mode == "overwrite":
        drop_table_and_location(spark, name)
    writer = (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_by)
        .option("compression", "zstd")
        .format("parquet")
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(name)


def compact_bucketed_table(
    spark: SparkSession,
    name: str,
    bucket_by: Sequence[str],
    num_buckets: int = 32,
    sort_by: Sequence[str] | None = None,
) -> None:
    """Compact a bucketed catalog table grown by appends: every append
    lands one file-set per bucket, so a long-lived incremental index
    accumulates per-bucket small files and every serve pays their
    open/footer costs. The rewrite repartitions on the bucket columns
    (so the write lands ~one file per bucket instead of tasks ×
    buckets), writes a fresh table under the SAME bucket spec, then
    swaps names: drop ``name``, then rename the temp table to it.

    The swap is two catalog calls, not a transaction. Between the drop
    and the rename no table called ``name`` exists: a reader that
    resolves the name in that window fails, and a crash there leaves the
    compacted rows only under ``<name>__compact_tmp``. Readers planned
    against the old generation's files before the drop finish
    undisturbed, because the rewrite never touches those files until
    the drop. Bucket pruning survives: the new files carry the same
    bucket ids, only fewer of them — asserted in tests/test_llm_ops.py."""
    tmp = f"{name}__compact_tmp"
    # materialize BEFORE dropping anything: the rewrite's source plan
    # must not lazily re-read a table the swap is about to drop
    df = spark.table(name).localCheckpoint(eager=True)
    drop_table_and_location(spark, tmp)
    writer = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_by])
        .write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_by)
        .option("compression", "zstd")
        .format("parquet")
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(tmp)
    drop_table_and_location(spark, name)
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")


def resolve_dataset_path(path: str) -> str:
    """The live data directory of the dataset at ``path``: the
    generation its ``<path>._CURRENT`` pointer names, or ``path`` itself
    when no generation was ever published (see
    :func:`publish_generation`). Readers of a dataset that may have been
    republished open ``resolve_dataset_path(p)`` instead of ``p``.
    """
    pointer = f"{path.rstrip('/')}._CURRENT"
    if os.path.isfile(pointer):
        with open(pointer, encoding="utf-8") as fh:
            return fh.read().strip()
    return path


def publish_generation(path: str, write: Callable[[str], None]) -> str:
    """Write a new generation of the dataset at ``path`` and make it the
    one readers see — the engine's one write-temp-then-swap publish.

    - **Naming.** ``write`` is called with a fresh sibling directory,
      ``<path>.gen.<id>``; it is published only after ``write`` returns.
      A directory whose write raised is swept by the next publish.
    - **Publish.** The generation's absolute path is written to a temp
      pointer file, which one ``os.replace`` renames onto
      ``<path>._CURRENT``. If either step fails, the temp pointer is
      removed and the error propagates: readers stay on the old
      generation, and the unpublished directory is swept by the next
      publish.
    - **Retention.** After the swap, the new generation, the one it
      replaced (readers still draining its file listing finish
      undisturbed) and ``path`` itself are kept; every older
      ``<path>.gen.*`` directory is deleted.

    The swap is an atomic rename on a local POSIX filesystem: the
    pointer is written with ``open`` and ``os.replace``, not through
    the Hadoop FileSystem API. An object store has no atomic rename, so
    there the same shape needs a table-format commit (Delta, Iceberg).

    Returns the new generation's absolute path.
    """
    base = path.rstrip("/")
    new_data = os.path.abspath(f"{base}.gen.{uuid.uuid4().hex[:8]}")
    write(new_data)
    prior_data = resolve_dataset_path(path)
    pointer = f"{base}._CURRENT"
    tmp_pointer = f"{pointer}.{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp_pointer, "w", encoding="utf-8") as fh:
            fh.write(new_data)
        os.replace(tmp_pointer, pointer)
    finally:
        # gone after a successful replace; left over only on failure
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp_pointer)
    # `path` itself never carries the `.gen.` prefix, so it is kept too
    keep = {new_data, os.path.abspath(prior_data)}
    parent = os.path.dirname(new_data)
    prefix = os.path.basename(base) + ".gen."
    for entry in os.listdir(parent):
        full = os.path.join(parent, entry)
        if (
            entry.startswith(prefix)
            and full not in keep
            and os.path.isdir(full)
        ):
            shutil.rmtree(full)
    return new_data


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = None,
) -> dict:
    """Small-files compaction: rewrite a parquet dataset so each output
    file approaches ``target_file_bytes`` — the table-maintenance job
    every landing zone needs (streaming sinks and per-executor writers
    leave one file per task per trigger; scans then pay per-file open/
    footer costs and lose row-group-level pruning).

    Sizing is measured, not guessed: the current on-disk bytes, summed
    with ``os.walk``, set the output file count
    (``ceil(bytes / target)``). Partitioned layouts compact per
    partition via ``repartition(n, partition_col)`` + ``partitionBy``,
    so the shuffle routes rows by their final home and the hive-style
    partition directories survive.

    The compacted copy is a new generation published through
    :func:`publish_generation`: ``<path>._CURRENT`` is repointed onto
    it with one atomic rename, the replaced generation is retained for
    draining readers, and older ones are swept. ``path`` itself is never
    renamed or rewritten. Readers resolve through
    :func:`resolve_dataset_path`.

    Returns {files_before, files_after, bytes, data_dir}.
    """
    import math

    def _parquet_files(root: str) -> list[str]:
        out = []
        for dirpath, _dirs, files in os.walk(root, followlinks=True):
            out += [
                os.path.join(dirpath, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith(".")
            ]
        return out

    # read through the live generation explicitly: the plan must keep
    # reading the old files while (and after) `path` is repointed
    current_data = resolve_dataset_path(path)
    files = _parquet_files(current_data)
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))

    df = spark.read.parquet(current_data)
    if partition_col:
        writer = df.repartition(n_out, partition_col).write.partitionBy(
            partition_col
        )
    else:
        writer = df.repartition(n_out).write
    new_data = publish_generation(
        path, writer.option("compression", "zstd").parquet
    )
    return {
        "files_before": len(files),
        "files_after": len(_parquet_files(new_data)),
        "bytes": total_bytes,
        "data_dir": new_data,
    }


def backup_catalog(
    spark: SparkSession,
    dest: str,
    tables: dict[str, DataFrame] | None = None,
    label: str | None = None,
) -> str:
    """Whole-catalog snapshot — the reference's full-DB backup
    (``sql/backup.sh:18-21``: ``pg_dump | gzip | aws s3 cp``), Spark-first:
    every table lands as zstd parquet under
    ``<dest>/backup_<label>/<table>/`` plus a ``_MANIFEST.json`` recording
    name, row count, and schema.

    ``tables`` defaults to everything visible in the session catalog
    (``spark.catalog.listTables``) — temp views and persisted tables
    alike. ``dest`` takes any Hadoop-supported filesystem path; pointing
    it at ``s3a://bucket/backups`` reproduces the reference's S3 story
    with compression and parallel upload built into the parquet writer
    (no pg_dump single-stream bottleneck — at 100 TB each table's
    partitions upload from their own executors).

    Each table is one task — write, read-back count, schema — and the
    tasks run concurrently (``session.run_concurrently``). The read-back
    count, not the source frame's, is what the manifest records. The
    read-back uses the schema the table was written with, so no job
    infers it from the parquet footers.
    ``_MANIFEST.json`` is written last, only after every task succeeded:
    if any table fails, the error is re-raised once the other tasks end
    and no manifest exists, so :func:`restore_catalog` refuses the
    partial snapshot.

    Returns the backup directory path. Restore with
    :func:`restore_catalog`.
    """
    import json
    import time

    if tables is None:
        tables = {
            t.name: spark.table(t.name)
            for t in spark.catalog.listTables()
        }
    label = label or time.strftime("%Y%m%dT%H%M%S")
    backup_dir = os.path.join(dest, f"backup_{label}")

    def backup_table(name: str, df: DataFrame) -> dict:
        path = os.path.join(backup_dir, name)
        df.write.mode("overwrite").option("compression", "zstd").parquet(path)
        return {
            "rows": spark.read.schema(df.schema).parquet(path).count(),
            "schema": df.schema.jsonValue(),
        }

    manifest = run_concurrently(
        spark,
        {
            name: functools.partial(backup_table, name, df)
            for name, df in tables.items()
        },
    )
    # through the Hadoop FS API, not open(): on a remote dest (s3a://,
    # hdfs://) the tables upload via the parquet writer and the manifest
    # must land on the SAME filesystem, or the snapshot is unrestorable
    hadoop_write_text(
        spark,
        os.path.join(backup_dir, "_MANIFEST.json"),
        json.dumps(manifest, indent=2, sort_keys=True),
    )
    return backup_dir


def restore_catalog(
    spark: SparkSession,
    backup_dir: str,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load a :func:`backup_catalog` snapshot back into the session:
    returns name -> DataFrame for every table in the manifest (validated
    against the manifest's recorded row counts) and optionally
    re-registers each as a temp view — the catalog state the backup
    captured."""
    import json

    manifest = json.loads(
        hadoop_read_text(spark, os.path.join(backup_dir, "_MANIFEST.json"))
    )
    tables: dict[str, DataFrame] = {}
    for name, meta in manifest.items():
        df = spark.read.parquet(os.path.join(backup_dir, name))
        n = df.count()
        if n != meta["rows"]:
            raise ValueError(
                f"backup table {name!r}: manifest records {meta['rows']} "
                f"rows, found {n} — snapshot is damaged or incomplete"
            )
        if register_views:
            df.createOrReplaceTempView(name)
        tables[name] = df
    return tables


def write_training_shards(
    df: DataFrame,
    dest: str,
    shard_col: str = "shard",
    order_col: str = "doc_id",
) -> dict[str, int]:
    """Materialize a curated corpus as training shards: one parquet
    directory per shard value (``dest/shard=<v>/``), rows sorted by
    ``order_col`` within each shard so a training run streams documents
    in a stable, auditable order.

    ``repartition(defaultParallelism, shard_col)`` hashes each shard's
    rows into one task, so every shard lands in exactly one file, and
    the shards spread over every core. The count is fixed on purpose:
    AQE coalesces a bare ``repartition(shard_col)`` of a small corpus
    into ONE task that writes every shard serially, but never coalesces
    an explicit partition count. ``sortWithinPartitions`` orders each
    task's rows by shard, then ``order_col`` — hash-partitioned write,
    no global sort. At 100 TB, raise the number of distinct shard values
    (``sampling.shard_assign(hex_digits=...)`` scales 16x per digit) so
    shards stay executor-sized; shard assignment is uniform by
    construction, so no shard is a straggler.

    Returns {shard_value: row_count} as the write-side manifest,
    counted from the WRITTEN dataset — one execution of the input plan
    (the write), and a manifest that by construction agrees with what
    landed on disk rather than with a second computation of the input.
    The read-back takes ``df``'s schema instead of inferring one from
    the files, which would cost a job of its own.
    """
    spark = df.sparkSession
    (
        df.repartition(spark.sparkContext.defaultParallelism, F.col(shard_col))
        .sortWithinPartitions(shard_col, order_col)
        .write.mode("overwrite")
        .partitionBy(shard_col)
        .parquet(dest)
    )
    written = spark.read.schema(df.schema).parquet(dest)
    return {
        str(r[0]): r[1] for r in written.groupBy(shard_col).count().collect()
    }
