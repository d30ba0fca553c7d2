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
- The driver JVM starts from a dynamic class-data-sharing (CDS) archive
  of the classes an earlier driver loaded, when one exists, which about
  halves the JVM's start. :func:`write_class_archive` writes it once per
  install; ordinary launches never do. Without an archive, or where one
  cannot be mapped exactly (a conf dir with real config, a longer class
  path, a caller's own launch options), the JVM starts as it always did.
- :func:`get_spark` launches the JVM itself, with the builder's conf,
  and then builds the session while two py4j threads run three steps of
  that build that need no SparkContext (:data:`_WARM_UP`). Cold, with no
  archive, on 4 vCPUs, one step after the other: JVM launch to gateway
  1.7-2.4 s, SparkContext 1.5-1.8 s, SparkSession() 1.9-2.2 s,
  :func:`configure_session` 0.3-0.4 s. Of SparkSession(), the Scala
  runtime-reflection universe takes 1.0-1.2 s, the builtin function
  registry 0.6-0.7 s and Jackson's Scala module 0.2 s; these now run
  beside SparkContext and SparkSession(), and the JVM loads the same
  classes as before.

:func:`run_concurrently` is the one way engine code issues independent
Spark actions at once.
"""

from __future__ import annotations

import hashlib
import os
import re
import shlex
import shutil
import stat
import struct
import tempfile
import uuid
from collections.abc import Callable, Hashable, Iterator, Mapping
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

from py4j.protocol import Py4JJavaError
from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
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
    archive = _mapped_archive(extra_conf or {})
    if archive is not None:
        builder = builder.config(
            "spark.driver.defaultJavaOptions", _java_options("SharedArchiveFile", archive.path)
        )
    if SparkContext._gateway is None:
        spark = _start(builder, archive.env if archive else {})
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure_session(spark)
    return spark


#: Scala objects that building a SparkSession initializes but that need
#: no SparkContext, each with the member whose first call builds its
#: state (None: initializing the object is the work); one py4j thread
#: per group. Only steps a session build runs anyway belong here: a SQL
#: parse, codegen or a first query would move first-pass work into the
#: start.
_WARM_UP = (
    (("scala.reflect.runtime.package$", "universe"),),
    (
        ("org.apache.spark.sql.catalyst.analysis.FunctionRegistry$", "builtin"),
        ("com.fasterxml.jackson.module.scala.DefaultScalaModule$", None),
    ),
)
_WARM_UP_THREAD = "etl_example_spark-warm-up"


def _start(builder: SparkSession.Builder, env: Mapping[str, str]) -> SparkSession:
    """Launch this process's JVM with ``builder``'s conf, then build the
    session while py4j threads initialize :data:`_WARM_UP` beside it.

    The launch is the one ``builder.getOrCreate()`` would make: the same
    ``SparkConf``, so the same ``spark-submit`` arguments. Every thread
    has ended when this returns or raises.
    """
    conf = SparkConf()
    for key, value in builder._options.items():
        conf.set(key, value)
    with _launch_env(env):
        SparkContext._ensure_initialized(conf=conf)
    jvm = SparkContext._jvm
    with ThreadPoolExecutor(len(_WARM_UP), thread_name_prefix=_WARM_UP_THREAD) as pool:
        warming = [pool.submit(_warm_up, jvm, steps) for steps in _WARM_UP]
        spark = builder.getOrCreate()
    for done in warming:
        done.result()
    return spark


def _warm_up(jvm: Any, steps: tuple[tuple[str, str | None], ...]) -> None:
    """Initialize each Scala object in ``steps`` and call its member. A
    class this JVM does not have is skipped: that step is then left to
    the session, as before."""
    for name, member in steps:
        try:
            cls = jvm.java.lang.Class.forName(name)
        except Py4JJavaError as exc:
            if exc.java_exception.getClass().getName() == "java.lang.ClassNotFoundException":
                continue
            raise
        if member is not None:
            getattr(cls.getField("MODULE$").get(None), member)()


def write_class_archive() -> str | None:
    """Write the driver JVM's class-data-sharing archive for this JDK and
    these Spark jars; :func:`get_spark` maps it from then on.

    Run it once per install (the Docker image does, README "Cold
    start"), in a process that has not started its JVM: it starts one,
    runs a few small jobs, and waits while the JVM writes the archive as
    it exits (about 50 s in all on 4 vCPUs). Ordinary launches never
    write one, as a JVM that does starts slower and runs its jobs
    slower. Returns the archive's path, or None when launches here start
    without one.
    """
    if SparkContext._gateway is not None:
        raise RuntimeError("write_class_archive() must start this process's first JVM")
    archive = _class_archive(os.environ, _find_spark_home(), create=True)
    if archive is None:
        return None
    if _usable(archive.path):
        return archive.path
    part = f"{archive.path[: -len('.jsa')]}.{uuid.uuid4().hex}.part"
    with _launch_env(archive.env):
        spark = get_spark(
            app_name="etl_example_spark-class-archive",
            extra_conf={
                "spark.driver.defaultJavaOptions": _java_options("ArchiveClassesAtExit", part)
            },
        )
    proc = SparkContext._gateway.proc
    try:
        _load_common_classes(spark)
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the JVM exits on EOF, and dumps while it exits
        proc.wait(timeout=600)
        SparkContext._gateway = SparkContext._jvm = None
    return _publish(archive, part)


def _load_common_classes(spark: SparkSession) -> None:
    """Small jobs through the paths every run takes: SQL planning,
    codegen, a shuffle, a join, and a parquet write and read."""
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "t")
        spark.range(1000).selectExpr("id % 7 AS k", "CAST(id AS STRING) AS s").write.parquet(path)
        df = spark.read.parquet(path)
        df.groupBy("k").count().join(df, "k").orderBy("s").limit(5).collect()
        df.createOrReplaceTempView("class_archive_t")
        spark.sql("SELECT k, max(s) FROM class_archive_t GROUP BY k").collect()


#: JDK 17's dynamic CDS archive header (``cds.h``): magic 0xf00baba8 and
#: archive version 11, then 7 region records of 72 bytes from offset 16,
#: each with its file offset and used bytes at +24 and +40. The JVM
#: writes the header after all of its regions, so a killed dump has no
#: magic; a file cut short after that makes the JVM die of SIGBUS while
#: it maps it, not fall back, so the regions must lie inside the file.
_CDS_HEADER = struct.Struct("<Iii")
_CDS_MAGIC, _CDS_VERSION = 0xF00BABA8, 11
_CDS_REGIONS, _CDS_REGION_AT, _CDS_REGION_SIZE = 7, 16, 72
_CDS_REGION_SPAN = struct.Struct("<QxxxxxxxxQ")
#: with these, neither the JVM that writes an archive nor one that maps
#: (or refuses) it prints a CDS line; -Xshare stays at its default
#: ``auto``, so an archive the JVM cannot map gives a normal start
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
#: environment that puts more than Spark's conf dir and jars on the
#: driver's class path, or launches it some other way; an archive only
#: maps under the class path it was written with, so any of these means
#: a normal start
_CDS_SKIP_ENV = (
    "SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES", "SPARK_TESTING", "PYSPARK_SUBMIT_ARGS",
    "PYSPARK_GATEWAY_PORT",
)
#: a caller's conf that sets these keeps the launch it asked for
_CDS_SKIP_CONF = ("spark.driver.defaultJavaOptions", "spark.driver.extraClassPath")


@dataclass(frozen=True)
class _ClassArchive:
    """Where the driver JVM's class-data-sharing archive for this JDK and
    these Spark jars lives (``driver-<key>.jsa``), and the environment a
    launch that writes or maps it runs with."""

    path: str
    env: dict[str, str]


def _mapped_archive(extra_conf: Mapping[str, str]) -> _ClassArchive | None:
    """The archive :func:`get_spark`'s launch maps, or None for a normal
    start: this process already has its JVM, the caller set its own
    launch options, or there is no whole archive to map."""
    if SparkContext._gateway is not None or any(k in extra_conf for k in _CDS_SKIP_CONF):
        return None
    try:
        archive = _class_archive(os.environ, _find_spark_home())
    except OSError:
        return None
    return archive if archive is not None and _usable(archive.path) else None


def _java_options(flag: str, path: str) -> str:
    return shlex.quote(f"-XX:{flag}={path}") + " " + _CDS_QUIET


@contextmanager
def _launch_env(env: Mapping[str, str]) -> Iterator[None]:
    """Set ``env`` for a JVM launch only."""
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _class_archive(
    environ: Mapping[str, str], spark_home: str, create: bool = False
) -> _ClassArchive | None:
    """This launch's class-data-sharing archive, or None when the
    launch's class path could differ from the archive's.

    The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/etl_example_spark``
    (mode 0700; ``create`` makes it), keyed by the JDK and the listing of
    Spark's jars.

    A JVM refuses to dump while a non-empty directory is on its class
    path, and Spark's launcher always puts its conf dir there. So the
    launch points ``SPARK_CONF_DIR`` at an empty directory of its own,
    but only when the configured one is missing or holds nothing but
    ``*.template`` files: Spark then reads nothing from either, and the
    two launches are the same.
    """
    if any(environ.get(v) for v in _CDS_SKIP_ENV):
        return None
    conf_dir = environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.exists(conf_dir) and not all(
        name.endswith(".template") for name in os.listdir(conf_dir)
    ):
        return None
    key = _cds_key(_java_home(environ), spark_home)
    cache = os.path.join(_cache_root(environ), "etl_example_spark")
    empty_conf = os.path.join(cache, "conf")
    if key is None or not (_private_dir(cache, create) and _private_dir(empty_conf, create)):
        return None
    if os.listdir(empty_conf):
        return None
    return _ClassArchive(os.path.join(cache, f"driver-{key}.jsa"), {"SPARK_CONF_DIR": empty_conf})


def _java_home(environ: Mapping[str, str]) -> str | None:
    """The JDK Spark's launcher runs the driver with: ``JAVA_HOME``, else
    the ``java`` on ``PATH``."""
    if environ.get("JAVA_HOME"):
        return environ["JAVA_HOME"]
    java = shutil.which("java", path=environ.get("PATH"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _cache_root(environ: Mapping[str, str]) -> str:
    root = environ.get("XDG_CACHE_HOME", "")
    if os.path.isabs(root):
        return root
    return os.path.join(environ.get("HOME") or os.path.expanduser("~"), ".cache")


def _cds_key(java_home: str | None, spark_home: str) -> str | None:
    """A name for this JDK and these Spark jars: the path, size and mtime
    of the JDK's ``lib/modules`` and of every jar. None when either is
    missing, or the JDK is not 17, the archive layout :func:`_usable`
    reads."""
    if java_home is None:
        return None
    digest = hashlib.sha256()
    modules = os.path.realpath(os.path.join(java_home, "lib", "modules"))
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    try:
        with open(os.path.join(java_home, "release")) as fh:
            if not re.search(r'^JAVA_VERSION="17[."]', fh.read(), re.M):
                return None
        st = os.stat(modules)
        digest.update(f"{modules} {st.st_size} {st.st_mtime_ns}\n{jars}\n".encode())
        for entry in sorted(os.scandir(jars), key=lambda e: e.name):
            st = entry.stat()
            digest.update(f"{entry.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return digest.hexdigest()[:16]


def _private_dir(path: str, create: bool) -> bool:
    """True when ``path`` is a directory of this user that no one else
    can write to; ``create`` makes it (mode 0700) if missing."""
    if create:
        os.makedirs(path, mode=0o700, exist_ok=True)
    try:
        st = os.lstat(path)
    except FileNotFoundError:
        return False
    return stat.S_ISDIR(st.st_mode) and _ours(st)


def _ours(st: os.stat_result) -> bool:
    return st.st_uid == os.getuid() and not st.st_mode & 0o022


def _usable(path: str) -> bool:
    """A regular file this user owns and no one else can write, whose
    header and regions the JVM finished writing. The JVM loads class
    data from it."""
    try:
        st = os.lstat(path)
        if not (stat.S_ISREG(st.st_mode) and _ours(st)):
            return False
        with open(path, "rb") as fh:
            head = fh.read(_CDS_REGION_AT + _CDS_REGIONS * _CDS_REGION_SIZE)
    except OSError:
        return False
    if len(head) < _CDS_REGION_AT + _CDS_REGIONS * _CDS_REGION_SIZE:
        return False
    magic, _crc, version = _CDS_HEADER.unpack_from(head)
    if (magic, version) != (_CDS_MAGIC, _CDS_VERSION):
        return False
    for i in range(_CDS_REGIONS):
        at = _CDS_REGION_AT + i * _CDS_REGION_SIZE + 24
        offset, used = _CDS_REGION_SPAN.unpack_from(head, at)
        if used and offset + used > st.st_size:
            return False
    return True


def _publish(archive: _ClassArchive, part: str) -> str | None:
    """Rename a whole dump to its archive and delete every other
    archive or dump in the cache (other keys', a killed writer's); each
    is 135-205 MB. A dump that is not whole is deleted instead."""
    if not _usable(part):
        _remove(part)
        return None
    os.replace(part, archive.path)
    cache = os.path.dirname(archive.path)
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        if name.startswith("driver-") and path != archive.path:
            _remove(path)
    return archive.path


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


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
