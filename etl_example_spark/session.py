"""SparkSession factory.

One place to encode the engine's execution-model decisions so every entry
point (tests, bench, driver contract) runs with the same, scale-aware
configuration:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  join-strategy switching) — the single most important knob for the
  100 TB target, and harmless locally.
- ``spark.sql.shuffle.partitions`` sized to local cores; at cluster scale
  AQE coalescing makes the static number a ceiling, not a fixed cost.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas interchange (vectorized UDF boundary).

:func:`run_concurrently` is the one way engine code issues independent
Spark actions at once.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable, Hashable
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def get_spark(
    app_name: str = "etl_example_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # ContextCleaner frees checkpoint/broadcast/shuffle state via
        # WEAK references — nothing is released until a JVM GC runs, and
        # on a large, mostly-idle driver heap that can be never (the
        # default periodic-GC interval is 30min). Round-14: measured on
        # the bench session, accumulated localCheckpoint blocks decayed
        # checkpoint-heavy queries 2-4x across a sweep (d97: 1.7s fresh,
        # ~6s after 30 queries' garbage); a short periodic GC bounds the
        # buildup for every consumer (bench, tests, driver contract,
        # streaming). Production note: same reasoning holds on real
        # clusters — iterative/serving drivers with big heaps should pin
        # this well below the 30min default.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "45s"),
        )
        .config("spark.ui.enabled", "false")
        # Parquet writes: zstd compresses ~2x better than snappy at similar
        # scan cost — at 100 TB this is a storage/IO-bandwidth win.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # saveAsTable target (bucketed tables) — never inside the repo.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "etl_example_spark_warehouse"),
            ),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime settings to an externally-created session.

    Entry points that receive a session they didn't build (the driver
    contract in ``__spark_entry__.py``) call this ONCE at the boundary, so
    the adjustment is an explicit, documented part of entering the engine —
    not a hidden read side effect (loaders never touch session config for
    these; see ADVICE on sources/loaders.py).

    - UTC session timezone: timestamp semantics must match the UTC-naive
      DuckDB oracle.
    - ``nanosAsLong``: the testdata ``events.parquet`` is physical
      TIMESTAMP(NANOS), which Spark's vectorized reader rejects without the
      legacy flag; loaders convert the surfaced long to a micros timestamp.
    - shuffle partitions: only rewrite the untouched 200 default (200 tasks
      and 200 streaming state stores per shuffle at test scale); a caller
      who set any other value keeps it.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    return spark


def run_concurrently(
    spark: SparkSession, actions: dict[Hashable, Callable[[], Any]]
) -> dict[Hashable, Any]:
    """Run independent zero-argument Spark actions at once; return
    name -> result in the order of ``actions``.

    Each action gets its own thread (one action runs inline), so tiny
    jobs that would otherwise queue behind each other share the cores.
    Each task is wrapped in its own ``inheritable_thread_target(spark)``:
    that clones the caller's local properties (job group, description)
    at wrap time, so every job carries the caller's group, and a group
    one task sets for itself does not leak into its siblings, as it
    would through one shared clone.

    Every action runs to completion before this returns or raises; if
    any failed, the first failure in the order of ``actions`` is
    re-raised.
    """
    if len(actions) <= 1:
        return {name: action() for name, action in actions.items()}
    # leaving the pool's block waits for every future, failed or not
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(action))
            for name, action in actions.items()
        }
    return {name: future.result() for name, future in futures.items()}
