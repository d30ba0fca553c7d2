"""Custom connectors via the Python Data Source API (PySpark 4).

Two halves of the connector surface the built-in formats don't cover:

- ``SyntheticDocsDataSource`` (reader): a deterministic generator source.
  Partition planning happens in ``partitions()`` — the driver splits the
  id range into ``partitions`` slices and each executor materializes only
  its slice, so the source scales out like any file scan (this is the
  pattern for wrapping paginated REST APIs, key-range scans over KV
  stores, or synthetic load generators). Rows are pure functions of the
  id (md5 digest, modular bucket), so output is bit-identical across
  layouts and engines — the DuckDB oracle regenerates the same rows from
  ``range()`` (plans/relational q70).

- ``ManifestJsonlDataSource`` (writer): a JSONL sink with a commit
  protocol. Each task writes ``part-<uuid>.jsonl`` and returns the file
  name + row count as its commit message; ``commit()`` on the driver
  writes ``_MANIFEST.json`` listing exactly the committed files. Readers
  that honor the manifest never see output of aborted/speculative tasks —
  the same two-phase discipline as Hadoop commit protocols, expressed in
  ~40 lines of Python.

Filter pushdown (``pushFilters``) is deliberately not implemented on the
synthetic source: Spark then applies residual filters itself, which is
semantically complete; a real KV/REST wrapper would translate supported
predicates and return the rest.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


@dataclass
class _RangePartition(InputPartition):
    start: int
    end: int


def synthetic_row(i: int) -> tuple[int, int, str, int]:
    """The one definition of the synthetic record for id ``i`` — shared by
    the executor-side reader and tests; mirrored by the SQL oracle."""
    digest = hashlib.md5(str(i).encode()).hexdigest()
    score = (i * 2654435761) % 1_000_000
    return (i, i % 10, digest, score)


class _SyntheticReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = max(1, int(options.get("partitions", 8)))

    def partitions(self):
        if self.rows <= 0:
            return [_RangePartition(0, 0)]
        step = -(-self.rows // self.n_parts)  # ceil
        return [
            _RangePartition(lo, min(lo + step, self.rows))
            for lo in range(0, self.rows, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield synthetic_row(i)


class _CounterStreamReader(SimpleDataSourceStreamReader):
    """Offset-managed streaming half of the synthetic source.

    The offset is the next unread id; each micro-batch advances it by at
    most ``batchRows``. ``readBetweenOffsets`` regenerates any committed
    range deterministically — replay after failure yields identical
    batches, which is what makes downstream idempotent sinks exactly-once.
    A bounded ``rows`` option makes the stream finite: once the offset
    reaches it, ``read`` returns an empty batch and an unchanged offset
    (the caught-up signal)."""

    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.batch = int(options.get("batchRows", 500))

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start):
        lo = int(start["offset"])
        hi = min(lo + self.batch, self.rows)
        return (
            iter([synthetic_row(i) for i in range(lo, hi)]),
            {"offset": hi},
        )

    def readBetweenOffsets(self, start, end):
        return iter(
            [
                synthetic_row(i)
                for i in range(int(start["offset"]), int(end["offset"]))
            ]
        )


class SyntheticDocsDataSource(DataSource):
    """``spark.read.format("synthetic_docs").option("rows", N)`` (batch)
    or ``spark.readStream.format("synthetic_docs")`` (micro-batched by
    ``batchRows`` with offset tracking)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return "id bigint, bucket int, digest string, score bigint"

    def reader(self, schema):
        return _SyntheticReader(self.options)

    def simpleStreamReader(self, schema):
        return _CounterStreamReader(self.options)


@dataclass
class _JsonlCommit(WriterCommitMessage):
    file: str
    rows: int


class _ManifestJsonlWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_jsonl requires a path")

    def write(self, rows) -> _JsonlCommit:
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, name), "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _JsonlCommit(file=name, rows=n)

    def commit(self, messages) -> None:
        manifest = {
            "files": [
                {"file": m.file, "rows": m.rows}
                for m in sorted(messages, key=lambda m: m.file)
            ],
            "total_rows": sum(m.rows for m in messages),
        }
        with open(
            os.path.join(self.path, "_MANIFEST.json"), "w", encoding="utf-8"
        ) as fh:
            json.dump(manifest, fh, indent=2)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.file))
                except OSError:
                    pass


class ManifestJsonlDataSource(DataSource):
    """``df.write.format("manifest_jsonl").mode("append")
    .option("path", dir).save()`` (python sources accept only
    Append/Overwrite save modes)."""

    @classmethod
    def name(cls) -> str:
        return "manifest_jsonl"

    def writer(self, schema, overwrite: bool):
        return _ManifestJsonlWriter(self.options)


#: serializes every registration: Spark's check-then-put is not atomic,
#: so two threads registering one name at once can fail with
#: DATA_SOURCE_ALREADY_EXISTS
_REGISTER_LOCK = threading.Lock()


def register_once(spark, *sources: type[DataSource]) -> None:
    """Register each Python data source on ``spark`` unless the session
    already has one by that name. Safe to call from many threads."""
    with _REGISTER_LOCK:
        manager = spark._jsparkSession.sessionState().dataSourceManager()  # noqa: SLF001
        for source in sources:
            if not manager.dataSourceExists(source.name()):
                spark.dataSource.register(source)


def register_python_datasources(spark) -> None:
    """Idempotently register both custom formats on a session."""
    register_once(spark, SyntheticDocsDataSource, ManifestJsonlDataSource)


def read_manifest(path: str):
    """The manifest-honoring read path: only files listed in
    ``_MANIFEST.json`` are visible (uncommitted part files are ignored)."""
    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    return manifest, [
        os.path.join(path, f["file"]) for f in manifest["files"]
    ]
