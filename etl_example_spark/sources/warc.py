"""WARC (Web ARChive) record source — the actual head of a web-curation
pipeline: crawl corpora (Common Crawl, internal crawlers) arrive as
concatenated WARC records, not as pre-extracted HTML columns. This module
gives the engine that entry point via the Python Data Source API (the
q70/st44 ``SyntheticDocsDataSource`` pattern: partition planning on the
driver, record materialization + parse on executors).

Two layers, deliberately separate:

- :func:`parse_warc_records` — a REAL incremental WARC/1.0 parser over a
  byte buffer: walks ``WARC/1.0`` record heads, reads CRLF-delimited
  WARC headers, honors ``Content-Length`` (BYTES, not characters — the
  classic WARC parsing bug with multibyte payloads), strips the embedded
  HTTP/1.1 response envelope of ``response`` records, skips
  ``warcinfo``/``request``/``metadata`` records, and resynchronizes on
  the next record head after a malformed block instead of aborting the
  split (a crawl file with one damaged record loses one record, not the
  shard).
- ``WarcDataSource`` — partition-planned Spark source with TWO front
  doors sharing one parser. Synth mode (default): each partition
  synthesizes its id-slice of the crawl deterministically (every byte
  of the WARC stream is a pure function of the record id — the q70
  discipline, which is what lets a SQL oracle regenerate the expected
  rows) and runs the real parser over the concatenated bytes. FILE
  mode (``option("path", ...)``): partitions are ranged reads of real
  ``.warc``/``.wet`` files on disk — one partition per file, or per
  ``maxPartitionBytes`` slice (:func:`parse_warc_file_slice`, chunked
  incremental reads with head-offset record ownership), the layout a
  production crawl bucket actually has. The law
  ``file-mode == synth-mode on the same records`` is pinned in tests
  via :func:`write_synthetic_crawl_files`.

Reference scope note: the reference system (`src/job.py`) has no web
ingestion surface; this extends the engine toward the LLM-pipeline
north star (the brief's WARC/WET head), composed with
operators/extraction.strip_html downstream (the d102 registration).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from etl_example_spark.sources.python_datasource import register_once

CRLF = b"\r\n"
_HEAD = b"WARC/1.0\r\n"


#: outcomes of :func:`_parse_record_at` — buffer-end callers treat
#: INCOMPLETE as truncation (resync/stop); file-slice callers refill
#: bytes and retry the same head.
_OK, _MALFORMED, _NO_HDR_END, _TRUNCATED_BODY = range(4)


def _parse_record_at(buf: bytes, head: int):
    """Parse the record whose ``WARC/1.0`` magic starts at ``head``.
    Returns ``(record_or_None, next_pos, outcome)`` — the shared kernel
    of the whole-buffer parser and the incremental file-slice reader,
    so the two paths cannot drift."""
    hdr_end = buf.find(CRLF + CRLF, head)
    if hdr_end < 0:
        return None, head + len(_HEAD), _NO_HDR_END
    headers: dict[str, str] = {}
    for line in buf[head + len(_HEAD) : hdr_end].split(CRLF):
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().decode("ascii", "replace").lower()] = (
                v.strip().decode("utf-8", "replace")
            )
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return None, head + len(_HEAD), _MALFORMED
    body_start = hdr_end + len(CRLF + CRLF)
    body_end = body_start + length
    if length < 0:
        return None, head + len(_HEAD), _MALFORMED
    if body_end > len(buf):
        return None, head + len(_HEAD), _TRUNCATED_BODY
    rec_type = headers.get("warc-type", "")
    url = headers.get("warc-target-uri", "")
    body = buf[body_start:body_end]
    status = 0
    if rec_type == "response":
        # strip the embedded HTTP response envelope (bytes domain)
        http_end = body.find(CRLF + CRLF)
        if http_end >= 0:
            status_line = body.split(CRLF, 1)[0]
            parts = status_line.split()
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            body = body[http_end + len(CRLF + CRLF) :]
    return (url, rec_type, status, body), body_end, _OK


def parse_warc_records(buf: bytes):
    """Yield ``(url, rec_type, http_status, body_bytes)`` for every
    well-formed record in a WARC/1.0 byte buffer.

    Content-Length is byte-exact: bodies slice by length, never by
    delimiter scan, so a body containing ``\\r\\n\\r\\n`` or another
    record's magic survives intact. ``response`` records carry an
    embedded HTTP/1.1 envelope; the returned body starts after its
    blank line. Records with missing/invalid Content-Length or a
    truncated body resynchronize at the next ``WARC/1.0`` head.
    """
    pos = 0
    while True:
        head = buf.find(_HEAD, pos)
        if head < 0:
            return
        rec, pos, outcome = _parse_record_at(buf, head)
        if outcome == _NO_HDR_END:
            return  # headers run off the buffer: nothing more to parse
        if rec is not None:
            yield rec


def parse_warc_file_slice(
    path: str, start: int, end: int, chunk: int = 1 << 20
):
    """Yield records from a REAL ``.warc``/``.wet`` file whose record
    head (the ``WARC/1.0`` magic) starts in byte range ``[start, end)``
    — the ranged-read kernel of file-backed partitions.

    Reads incrementally (``chunk`` bytes at a time from ``start``),
    so a partition's I/O is ~ its slice size plus the overhang of the
    one record in flight at ``end`` — NOT the file tail; consumed
    prefix bytes are dropped as the scan advances, so memory is
    O(largest record + chunk) regardless of slice size. Record
    ownership by head-start offset makes slices a partition of the
    file: a record straddling ``end`` belongs to this slice (the scan
    reads past ``end`` to finish it); the next slice's first ``find``
    skips it entirely.

    Split caveat (document over cleverness): a slice boundary landing
    inside a record BODY that itself embeds a well-formed record
    prefix (payload smuggling a fake ``WARC/1.0`` head with a valid
    Content-Length) can double-emit the embedded bytes — the same
    ambiguity every offset-split WARC reader has. Default planning is
    therefore one partition per file; ``maxPartitionBytes`` splitting
    is the opt-in for huge files.
    """
    with open(path, "rb") as f:
        f.seek(start)
        base = start  # absolute offset of buf[0]
        buf = b""
        pos = 0  # scan offset within buf
        eof = False

        def refill() -> bool:
            nonlocal buf, eof
            if eof:
                return False
            data = f.read(chunk)
            if not data:
                eof = True
                return False
            buf += data
            return True

        while True:
            head = buf.find(_HEAD, pos)
            while head < 0:
                # any unseen head must start past len(buf) - magic + 1;
                # stop once that lower bound reaches `end`
                scanned_to = base + max(0, len(buf) - len(_HEAD) + 1)
                if scanned_to >= end:
                    return
                before = len(buf)
                if not refill():
                    return
                # re-scan only the split-magic overlap, not the buffer
                pos = max(pos, before - len(_HEAD) + 1, 0)
                head = buf.find(_HEAD, pos)
            if base + head >= end:
                return  # next record belongs to the next slice
            while True:
                rec, nxt, outcome = _parse_record_at(buf, head)
                if outcome in (_NO_HDR_END, _TRUNCATED_BODY) and refill():
                    continue  # mid-record at buffer end: more bytes
                break
            if outcome in (_NO_HDR_END, _TRUNCATED_BODY):
                # true EOF mid-record: buffer semantics (truncation)
                if outcome == _NO_HDR_END:
                    return
                pos = nxt
            else:
                if rec is not None:
                    yield rec
                pos = nxt
            # drop the consumed prefix so memory stays bounded
            if pos > chunk:
                base += pos
                buf = buf[pos:]
                pos = 0


def synthetic_html(i: int, dup_every: int = 0) -> str:
    """The deterministic page body for crawl record ``i`` — markup that
    exercises every strip_html stage (comment, script with a literal
    '<', entities, block boundaries) plus a multibyte char ('é') so
    Content-Length byte arithmetic is load-bearing. Mirrored by the SQL
    oracle from md5(i).

    ``dup_every=k`` makes every k-th page (i % k == k-1) a BYTE-EXACT
    mirror of the previous page under a different URL — the duplicate
    structure real crawls have (mirrors, trackers re-serving content)
    and the d103 dedup chain needs to demonstrate anything."""
    if dup_every and i % dup_every == dup_every - 1 and i > 0:
        return synthetic_html(i - 1)
    d = hashlib.md5(str(i).encode()).hexdigest()
    return (
        f"<html><head><title>Doc {i}</title>"
        "<script>if (1<2) { spam(); }</script></head>"
        f"<body><!-- crawl {i} --><p>alpha {d[:8]} &amp; café</p>"
        f"<p>beta {d[8:16]}</p></body></html>"
    )


def synthetic_warc_record(i: int, dup_every: int = 0) -> bytes:
    """One WARC/1.0 response record for id ``i`` (plus a request record
    every 5th id, which the reader must skip — real crawls interleave
    them)."""
    html = synthetic_html(i, dup_every).encode("utf-8")
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    )
    rec = (
        _HEAD
        + b"WARC-Type: response\r\n"
        + f"WARC-Record-ID: <urn:uuid:{i:032d}>\r\n".encode()
        + f"WARC-Target-URI: https://example.org/doc/{i}\r\n".encode()
        + f"Content-Length: {len(http)}\r\n".encode()
        + CRLF
        + http
        + CRLF
        + CRLF
    )
    if i % 5 == 0:
        req = b"GET /doc HTTP/1.1\r\nHost: example.org\r\n\r\n"
        rec = (
            _HEAD
            + b"WARC-Type: request\r\n"
            + f"WARC-Target-URI: https://example.org/doc/{i}\r\n".encode()
            + f"Content-Length: {len(req)}\r\n".encode()
            + CRLF
            + req
            + CRLF
            + CRLF
        ) + rec
    return rec


def synthetic_wet_text(i: int, dup_every: int = 0) -> str:
    """The extracted-text body of WET conversion record ``i`` — what a
    Common Crawl ``.wet`` file carries for the page
    :func:`synthetic_html` renders: title line + paragraph lines,
    newline-joined, with the multibyte 'é' so Content-Length byte
    arithmetic stays load-bearing. ``dup_every`` mirrors every k-th
    text like the WARC side (crawl mirrors survive extraction)."""
    if dup_every and i % dup_every == dup_every - 1 and i > 0:
        return synthetic_wet_text(i - 1)
    d = hashlib.md5(str(i).encode()).hexdigest()
    return f"Doc {i}\nalpha {d[:8]} & café\nbeta {d[8:16]}"


def synthetic_wet_record(i: int, dup_every: int = 0) -> bytes:
    """One WARC/1.0 ``conversion`` record for id ``i`` — the WET shape:
    plain-text body, ``Content-Type: text/plain``, NO embedded HTTP
    envelope (the structural difference from ``response`` records; the
    parser must not peel bytes it would peel from a response)."""
    body = synthetic_wet_text(i, dup_every).encode("utf-8")
    return (
        _HEAD
        + b"WARC-Type: conversion\r\n"
        + f"WARC-Target-URI: https://example.org/doc/{i}\r\n".encode()
        + f"WARC-Refers-To: <urn:uuid:{i:032d}>\r\n".encode()
        + b"Content-Type: text/plain\r\n"
        + f"Content-Length: {len(body)}\r\n".encode()
        + CRLF
        + body
        + CRLF
        + CRLF
    )


@dataclass
class _WarcSlice(InputPartition):
    start: int
    end: int


@dataclass
class _WarcFileSlice(InputPartition):
    path: str
    start: int
    end: int


def _emit_responses(parsed):
    """(url, http_status, html) rows from parsed records — the WARC
    projection, shared by the synth and file paths so they cannot
    drift."""
    for url, rec_type, status, body in parsed:
        if rec_type != "response":
            continue
        yield url, status, body.decode("utf-8", "replace")


def _emit_conversions(parsed):
    """(url, text) rows from parsed records — the WET projection (a
    real .wet file is warcinfo + conversion records only)."""
    for url, rec_type, _status, body in parsed:
        if rec_type != "conversion":
            continue
        yield url, body.decode("utf-8", "replace")


def _plan_file_slices(
    path: str, max_partition_bytes: int | None
) -> list[_WarcFileSlice]:
    """Driver-side partition planning over real crawl files: ``path``
    is a file, a directory (every ``*.warc``/``*.wet`` inside, sorted),
    or a glob. Default is ONE partition per file (the safe boundary —
    see :func:`parse_warc_file_slice`'s split caveat);
    ``max_partition_bytes`` opts into offset slicing of big files, the
    ``spark.sql.files.maxPartitionBytes`` discipline. Local-FS listing
    here because that is what this container has; a cluster deployment
    swaps in its filesystem's list call — the slice objects and the
    executor-side ranged reads are unchanged."""
    import glob as _glob
    import os as _os

    if _os.path.isdir(path):
        files = sorted(
            p
            for pat in ("*.warc", "*.wet")
            for p in _glob.glob(_os.path.join(path, pat))
        )
    elif _os.path.isfile(path):
        files = [path]
    else:
        files = sorted(_glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no .warc/.wet files match {path!r}")
    out: list[_WarcFileSlice] = []
    for f in files:
        size = _os.path.getsize(f)
        if not max_partition_bytes or size <= max_partition_bytes:
            out.append(_WarcFileSlice(f, 0, size))
            continue
        lo = 0
        while lo < size:
            hi = min(lo + max_partition_bytes, size)
            out.append(_WarcFileSlice(f, lo, hi))
            lo = hi
    return out


def _warcinfo() -> bytes:
    info = b"software: synthetic-crawler/1.0\r\n"
    return (
        _HEAD
        + b"WARC-Type: warcinfo\r\n"
        + f"Content-Length: {len(info)}\r\n".encode()
        + CRLF
        + info
        + CRLF
        + CRLF
    )


def _parse_slice(start: int, end: int, dup_every: int):
    """Synthesize + REAL-parse crawl records [start, end): the shared
    kernel of the batch partitions and the streaming micro-batches, so
    stream-read == batch-read is true by construction."""
    buf = _warcinfo() + b"".join(
        synthetic_warc_record(i, dup_every) for i in range(start, end)
    )
    yield from _emit_responses(parse_warc_records(buf))


class _WarcReader(DataSourceReader):
    #: the per-slice synthesize+parse kernel — the ONLY thing the WET
    #: variant overrides for synth mode, so slice planning lives in
    #: one place
    _kernel = staticmethod(_parse_slice)
    #: parsed-record → output-row projection for FILE mode
    _emit = staticmethod(_emit_responses)

    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = max(1, int(options.get("partitions", 8)))
        self.dup_every = int(options.get("dupEvery", 0))
        self.path = options.get("path")
        mpb = options.get("maxPartitionBytes")
        self.max_partition_bytes = int(mpb) if mpb else None

    def partitions(self):
        if self.path:
            # FILE mode: real .warc/.wet bytes on disk, one partition
            # per file (or per maxPartitionBytes slice); rows/
            # partitions/dupEvery are synth-mode options and ignored
            return _plan_file_slices(self.path, self.max_partition_bytes)
        if self.rows <= 0:
            return [_WarcSlice(0, 0)]
        step = -(-self.rows // self.n_parts)
        return [
            _WarcSlice(lo, min(lo + step, self.rows))
            for lo in range(0, self.rows, step)
        ]

    def read(self, partition):
        if isinstance(partition, _WarcFileSlice):
            yield from self._emit(
                parse_warc_file_slice(
                    partition.path, partition.start, partition.end
                )
            )
            return
        # one concatenated WARC stream per partition, with a warcinfo
        # head record (real files start with one; the parser skips it)
        yield from self._kernel(
            partition.start, partition.end, self.dup_every
        )


def _parse_wet_slice(start: int, end: int, dup_every: int):
    """Synthesize + REAL-parse WET records [start, end): same kernel
    discipline as :func:`_parse_slice`, filtered to ``conversion``
    records (a real .wet file is warcinfo + conversions only)."""
    buf = _warcinfo() + b"".join(
        synthetic_wet_record(i, dup_every) for i in range(start, end)
    )
    yield from _emit_conversions(parse_warc_records(buf))


def write_synthetic_crawl_files(
    out_dir: str,
    rows: int,
    n_files: int = 4,
    dup_every: int = 0,
    wet: bool = False,
) -> list[str]:
    """Write the synthesizer's byte stream to REAL ``.warc``/``.wet``
    files — the fixture producer for file-backed reading: each file
    carries a warcinfo head plus a contiguous id range, byte-identical
    to what the synth partitions parse, so
    ``file-mode read == synth-mode read`` is checkable record for
    record. Returns the written paths (sorted)."""
    import os as _os

    _os.makedirs(out_dir, exist_ok=True)
    make = synthetic_wet_record if wet else synthetic_warc_record
    ext = "wet" if wet else "warc"
    step = -(-rows // n_files) if rows > 0 else 1
    paths = []
    for fi, lo in enumerate(range(0, max(rows, 1), step)):
        hi = min(lo + step, rows)
        p = _os.path.join(out_dir, f"crawl-{fi:05d}.{ext}")
        # write-temp-then-rename: a concurrent reader (two sessions
        # staging the same deterministic fixture dir) never sees a
        # half-written file — rename is atomic on POSIX, and both
        # writers produce identical bytes, so last-rename-wins is fine
        tmp = p + f".tmp.{_os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(_warcinfo())
            for i in range(lo, hi):
                f.write(make(i, dup_every))
        _os.replace(tmp, p)
        paths.append(p)
    return sorted(paths)


class _WetReader(_WarcReader):
    """``_WarcReader`` with the conversion-record kernel — slice
    planning is inherited, only the parse kernel and the file-mode
    projection differ (a future partition-planning fix lands in ONE
    place)."""

    _kernel = staticmethod(_parse_wet_slice)
    _emit = staticmethod(_emit_conversions)


class WetDataSource(DataSource):
    """``spark.read.format("synthetic_wet").option("rows", N)`` →
    (url string, text string) — WET conversion records (extracted
    plain text, no HTTP envelope), the entry point text-first crawl
    consumers actually read. Same partition-planned synthesize+parse
    shape as :class:`WarcDataSource`, and the same FILE mode:
    ``option("path", dir_or_glob)`` reads real ``.wet`` files via
    ranged-read partitions. ``spark.readStream`` gives the
    offset-managed streaming form."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_wet"

    def schema(self) -> str:
        return "url string, text string"

    def reader(self, schema):
        return _WetReader(self.options)

    def simpleStreamReader(self, schema):
        if self.options.get("path"):
            return _WetFileStreamReader(self.options)
        return _WetStreamReader(self.options)


class _WarcStreamReader(SimpleDataSourceStreamReader):
    """Offset-managed STREAMING half of the crawl source — ingest-time
    web curation starts here: the offset is the next unread record id,
    each micro-batch synthesizes and REAL-parses its slice (the same
    kernel as the batch partitions), and ``readBetweenOffsets`` replays
    any committed range deterministically, so restart/recovery yields
    identical batches (exactly-once downstream with idempotent
    sinks)."""

    #: per-slice kernel hook — the WET stream variant overrides ONLY
    #: this, so offset bookkeeping lives in one place
    _kernel = staticmethod(_parse_slice)

    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.batch = int(options.get("batchRows", 100))
        self.dup_every = int(options.get("dupEvery", 0))

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start):
        lo = int(start["offset"])
        hi = min(lo + self.batch, self.rows)
        return (
            iter(list(self._kernel(lo, hi, self.dup_every))),
            {"offset": hi},
        )

    def readBetweenOffsets(self, start, end):
        return iter(
            list(
                self._kernel(
                    int(start["offset"]),
                    int(end["offset"]),
                    self.dup_every,
                )
            )
        )


class _WetStreamReader(_WarcStreamReader):
    """``_WarcStreamReader`` over the conversion-record kernel — same
    offset contract, so stream-read == batch-read by construction and
    a future offset-semantics fix lands in one place."""

    _kernel = staticmethod(_parse_wet_slice)


class _WarcFileStreamReader(SimpleDataSourceStreamReader):
    """Offset-managed STREAMING over REAL crawl files — the production
    front door live: the offset is ``(file index, byte position)``
    over the sorted file listing, each micro-batch parses the next
    ``batchBytes`` byte range of the current file through
    :func:`parse_warc_file_slice`, and head-offset record ownership
    makes micro-batch boundaries exact — a record straddling the
    range edge belongs to the batch where its head starts, the next
    batch's scan skips it, so no record is dropped or doubled however
    the ranges land. ``readBetweenOffsets`` re-parses any committed
    range byte-for-byte (the bytes on disk ARE the replay log), so
    restart/recovery yields identical batches — exactly-once
    downstream with idempotent sinks, no side state."""

    _emit = staticmethod(_emit_responses)

    def __init__(self, options):
        slices = _plan_file_slices(options["path"], None)
        self.files = [(s.path, s.end) for s in slices]
        self.batch_bytes = int(options.get("batchBytes", 1 << 20))

    def initialOffset(self):
        return {"file": 0, "pos": 0}

    def read(self, start):
        fi, pos = int(start["file"]), int(start["pos"])
        if fi >= len(self.files):
            return iter([]), start  # caught up: empty batch, same offset
        path, size = self.files[fi]
        hi = min(pos + self.batch_bytes, size)
        rows = list(self._emit(parse_warc_file_slice(path, pos, hi)))
        nxt = (
            {"file": fi + 1, "pos": 0}
            if hi >= size
            else {"file": fi, "pos": hi}
        )
        return iter(rows), nxt

    def readBetweenOffsets(self, start, end):
        f0, p0 = int(start["file"]), int(start["pos"])
        f1, p1 = int(end["file"]), int(end["pos"])
        rows = []
        for fi in range(f0, min(f1, len(self.files) - 1) + 1):
            path, size = self.files[fi]
            lo = p0 if fi == f0 else 0
            hi = p1 if fi == f1 else size
            if hi > lo:
                rows.extend(
                    self._emit(parse_warc_file_slice(path, lo, hi))
                )
        return iter(rows)


class _WetFileStreamReader(_WarcFileStreamReader):
    """File-backed WET stream: same offset contract, conversion-record
    projection."""

    _emit = staticmethod(_emit_conversions)


class WarcDataSource(DataSource):
    """``spark.read.format("synthetic_warc").option("rows", N)`` →
    (url string, http_status int, html string) — response records only,
    parsed from a synthesized concatenated WARC stream by a real
    incremental parser. ``option("path", dir_or_glob)`` switches to
    FILE mode: ranged reads of real ``.warc`` files (one partition per
    file; ``maxPartitionBytes`` opts into offset slicing).
    ``spark.readStream`` gives the offset-managed streaming form
    (micro-batched by ``batchRows``); ``dupEvery=k`` mirrors every
    k-th page under a new URL (duplicate structure for the dedup
    chain)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_warc"

    def schema(self) -> str:
        return "url string, http_status int, html string"

    def reader(self, schema):
        return _WarcReader(self.options)

    def simpleStreamReader(self, schema):
        if self.options.get("path"):
            return _WarcFileStreamReader(self.options)
        return _WarcStreamReader(self.options)


def register_warc_datasource(spark) -> None:
    register_once(spark, WarcDataSource)


def register_wet_datasource(spark) -> None:
    register_once(spark, WetDataSource)
