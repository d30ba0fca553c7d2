"""The staged-artifact store: the engine's warm buffer pool.

Queries in one session reuse work staged by earlier queries — warm
tables pinned in memory, shingle/span/postings checkpoints, bucketed
catalog tables. Every such artifact lives here, under one policy:

- **Key.** ``(kind, session_key(spark), params)``. ``params`` names the
  input (a semantic plan hash, an sf_dir) and the build parameters;
  ``params=None`` means the input cannot be keyed, so the artifact is
  built and never cached (an ``id``-based key could alias a collected
  object whose address was reused).
- **Staleness.** An entry is valid while ``input_file_snapshot(*sources)``
  equals the value recorded at build time; on a mismatch it is rebuilt
  and replaced. One snapshot per key, so reverting a source to bytes
  seen before also rebuilds (artifacts named by sf_dir alone hold only
  the latest build).
- **Locking.** Each key builds at most once at a time under its own
  lock; distinct keys build in parallel. A build must not call
  ``get_or_build`` itself: an eviction waits for the evicted entry's
  lock, so a nested build could wait on its own caller.
- **Bound.** Each kind keeps its ``BOUND`` most recently used entries.
- **Release.** An evicted, replaced or cleared entry's persisted
  DataFrames are unpersisted. A ``localCheckpoint`` artifact is only
  dereferenced: it truncates lineage, so unpersisting it would break any
  still-held DataFrame built over it ('checkpoint block not found');
  the ContextCleaner frees its blocks once the last reference is gone.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import Any
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

#: most-recently-used entries kept per kind
BOUND = 8

#: memoized per live session (weak keys — the memo must never keep a
#: session alive): session_key sits on hot paths (every load_table
#: call) and the JVM handles cost py4j round trips
_SESSION_KEYS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


class _Entry:
    def __init__(self) -> None:
        # snapshot is None until a build completes
        self.lock, self.snapshot, self.value = threading.Lock(), None, None


#: kind -> LRU of (session key, params) -> entry
_STORE: dict[str, OrderedDict[tuple, _Entry]] = {}
#: guards _STORE's structure only; builds run under the entry's lock
_LOCK = threading.Lock()


def session_key(spark) -> str:
    """Stable identity for a SparkSession in artifact keys.

    ``id(sparkSession)`` can ALIAS: after the old session is
    garbage-collected, CPython may hand its address to a new session,
    silently serving staged artifacts across session boundaries. The
    applicationId + sessionUUID pair is unique for the lifetime of the
    process (sessionUUID is per-Dataset-session even when sessions
    share one SparkContext). Spark Connect has neither handle; its
    client carries its own server-issued session id — use that, and
    only as a dead-last resort fall back to ``id`` (a constant string
    here would deterministically COLLIDE every Connect session, worse
    than the rare GC-aliasing the helper exists to fix)."""
    try:
        return _SESSION_KEYS[spark]
    except (KeyError, TypeError):
        pass

    def compute() -> str:
        try:
            app = spark.sparkContext.applicationId
        except Exception:  # noqa: BLE001 — no context handle (Connect)
            try:
                return f"connect:{spark._client._session_id}"
            except Exception:  # noqa: BLE001 — unknown runtime
                return f"unknown:{id(spark)}"
        try:
            return f"{app}:{spark._jsparkSession.sessionUUID()}"
        except Exception:  # noqa: BLE001 — no JVM handle: app key
            return app

    key = compute()
    try:
        _SESSION_KEYS[spark] = key
    except TypeError:  # not weakref-able: recompute per call
        pass
    return key


def input_file_snapshot(*dfs: DataFrame) -> tuple:
    """Fingerprint of the plans' leaf input files — (uri, size,
    mtime_ns) per file, sorted. A semantic plan hash names the *plan*,
    not the bytes under it: overwriting a parquet source in-session
    (testdata regeneration, a rewritten staging table) changes this
    value, so the artifact is rebuilt instead of serving data scanned
    from the old bytes. In-memory inputs (createDataFrame) have no
    files and contribute nothing."""
    files: set[str] = set()
    for df in dfs:
        try:
            files.update(df.inputFiles())
        except Exception:  # noqa: BLE001 — unanalyzable plan: no file key
            pass
    sig = []
    for uri in sorted(files):
        path = unquote(urlparse(uri).path) if uri.startswith("file:") else uri
        try:
            st = os.stat(path)
            sig.append((uri, st.st_size, st.st_mtime_ns))
        except OSError:
            sig.append((uri, -1, -1))
    return tuple(sig)


def plan_params(df: DataFrame, *params) -> tuple | None:
    """``params`` for an artifact over ``df``: its semantic plan hash
    plus ``params``, or None when the plan cannot be hashed."""
    try:
        return (df.semanticHash(), *params)
    except Exception:  # noqa: BLE001 — no stable key: treat as a miss
        return None


#: Optimized-logical-plan node classes whose re-execution is
#: non-trivial (shuffles, row expansion, multi-input scans).
_EXPENSIVE_NODES = frozenset(
    {"Join", "Aggregate", "Window", "Generate", "Expand", "Union"}
)


def _has_expensive_node(jplan) -> bool:
    """Walk the optimized logical plan's node CLASSES (a rendered-string
    substring match could false-positive on attribute names containing
    'Join'/'Window'/...). Subquery expressions are not traversed — a
    scalar-subquery-only derived input counts as a plain scan."""
    if jplan.getClass().getSimpleName() in _EXPENSIVE_NODES:
        return True
    children = jplan.children()
    for i in range(children.size()):
        if _has_expensive_node(children.apply(i)):
            return True
    return False


def materialize_if_derived(df: DataFrame) -> DataFrame:
    """``df`` checkpointed when its plan is DERIVED, else ``df`` itself.

    A caller that executes its input more than once — the
    count-then-filter samplers (stratum counts, then the filter), a
    staged build that checks the input's partition count before pinning
    an artifact over it — repeats the input's whole plan per execution.
    Over a plain (projected/filtered) table scan that is the optimal
    shape: a re-scan is the cheapest op there is, and materializing the
    corpus to re-read it would cost more. Over a derived input (the
    d53/d97 curation chains: dedup joins, LSH, aggregates) every
    re-execution repeats all of that work, so materialize once and let
    every later pass read the checkpoint (interleaved A/B: d97 1.85 s vs
    2.36 s and d53 1.46 s vs 2.03 s, tools/opt_r14_ab.py). The test is
    the plan itself: any Join/Aggregate/Window/Generate/Expand/Union
    node upstream means re-execution is non-trivial.

    ``localCheckpoint`` trades fault-tolerance for speed — the blocks
    are executor-local and unreplicated, so on a real cluster an
    executor loss mid-query fails the job instead of recomputing
    lineage; it also pins the input, blocking further filter pushdown
    into the source. Both are the right trade for an input that would
    otherwise execute more than once."""
    if _has_expensive_node(df._jdf.queryExecution().optimizedPlan()):
        return df.localCheckpoint(eager=True)
    return df


def _release(value: Any) -> None:
    """Unpersist the persisted DataFrames an artifact (or a dict of
    them) holds; checkpoints are left to the ContextCleaner."""
    for df in value.values() if isinstance(value, dict) else (value,):
        if isinstance(df, DataFrame) and df.is_cached:
            df.unpersist()


def get_or_build(
    kind: str,
    spark,
    params: Hashable | None,
    build: Callable[[], Any],
    sources: tuple[DataFrame, ...] = (),
) -> Any:
    """The ``kind`` artifact for ``params`` in ``spark``'s session,
    built by ``build()`` on a miss or when ``sources``' files changed
    since it was built."""
    if params is None:
        return build()
    key = (session_key(spark), params)
    snapshot = input_file_snapshot(*sources)
    evicted = []
    with _LOCK:
        lru = _STORE.setdefault(kind, OrderedDict())
        entry = lru.get(key)
        if entry is None:
            entry = lru[key] = _Entry()
        lru.move_to_end(key)
        while len(lru) > BOUND:
            evicted.append(lru.popitem(last=False)[1])
    for old in evicted:
        _drop(old)
    with entry.lock:
        if entry.snapshot != snapshot:
            stale, entry.value = entry.value, build()
            entry.snapshot = snapshot
            _release(stale)
        return entry.value


def get(kind: str, spark, params: Hashable) -> Any:
    """The built ``kind`` artifact for ``params``, or None — a lookup
    that never builds and never checks the sources."""
    key = (session_key(spark), params)
    with _LOCK:
        lru = _STORE.get(kind)
        entry = lru.get(key) if lru else None
        if entry is None or entry.snapshot is None:
            return None
        lru.move_to_end(key)
        return entry.value


def _drop(entry: _Entry) -> None:
    with entry.lock:
        _release(entry.value)
        entry.snapshot = entry.value = None


def clear() -> None:
    """Drop every artifact of every kind — the invalidation hook for
    tests and tools that rewrite sources in place faster than the file
    snapshot can tell (coarse mtime granularity)."""
    with _LOCK:
        entries = [e for lru in _STORE.values() for e in lru.values()]
        _STORE.clear()
    for entry in entries:
        _drop(entry)
