"""Source-format round-trips (CSV / JSON with explicit schemas) and a
global plan hygiene audit: no registered query may fall back to a
CartesianProduct (an unpartitionable all-pairs loop at scale)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_example_spark.sources.loaders import load_csv, load_json, load_table

SUBSET_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _events_subset(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .limit(200)
    )


def test_csv_roundtrip(spark, sf_dir, tmp_path):
    src = _events_subset(spark, sf_dir)
    path = str(tmp_path / "ev_csv")
    src.write.option("header", "true").csv(path)
    back = load_csv(spark, path, SUBSET_SCHEMA)
    assert back.schema == SUBSET_SCHEMA
    key = lambda r: (r.event_id, r.user_id, r.event_type, r.value)  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(map(key, src.collect()))


def test_json_roundtrip(spark, sf_dir, tmp_path):
    src = _events_subset(spark, sf_dir)
    path = str(tmp_path / "ev_json")
    src.write.json(path)
    back = load_json(spark, path, SUBSET_SCHEMA)
    assert back.schema == SUBSET_SCHEMA
    key = lambda r: (r.event_id, r.user_id, r.event_type, r.value)  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(map(key, src.collect()))


def test_json_schema_projection_prunes_unknown_fields(spark, tmp_path):
    path = str(tmp_path / "extra")
    spark.createDataFrame(
        [(1, "a", "junk")], "event_id long, event_type string, noise string"
    ).write.json(path)
    narrow = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    rows = load_json(spark, path, narrow).collect()
    assert rows == [(1, "a")] or [tuple(r) for r in rows] == [(1, "a")]


def test_no_registered_query_plans_a_cartesian_product(batch_plans):
    """Every batch query must avoid CartesianProduct — non-equi pair
    generation is allowed only via broadcast nested-loop (small side
    bounded), bucket joins, or candidate pre-filters. Reads the plans
    the session built once (conftest ``batch_plans``), which the plan
    lints read too."""
    failures = []
    for name, plan in batch_plans.items():
        if isinstance(plan, Exception):
            failures.append(f"{name}: {type(plan).__name__}: {plan}")
        elif "CartesianProduct" in plan:
            failures.append(f"{name} plans a cartesian:\n{plan}")
    assert not failures, "\n".join(failures)


class TestPythonDataSources:
    def test_synthetic_reader_partition_parallel(self, spark):
        from etl_example_spark.sources.python_datasource import (
            register_python_datasources,
            synthetic_row,
        )

        register_python_datasources(spark)
        df = (
            spark.read.format("synthetic_docs")
            .option("rows", 100)
            .option("partitions", 7)
            .load()
        )
        assert df.rdd.getNumPartitions() == 7
        rows = sorted(df.collect())
        assert len(rows) == 100
        assert tuple(rows[5]) == synthetic_row(5)

    def test_manifest_jsonl_writer_round_trip(self, spark, tmp_path):
        import json
        import os

        from etl_example_spark.sources.python_datasource import (
            read_manifest,
            register_python_datasources,
        )

        register_python_datasources(spark)
        out = str(tmp_path / "sink")
        df = spark.range(50).selectExpr("id", "id * 2 AS twice")
        df.repartition(4).write.format("manifest_jsonl").mode(
            "append"
        ).option("path", out).save()

        # stray uncommitted file must be invisible to the manifest path
        with open(os.path.join(out, "part-stray.jsonl"), "w") as fh:
            fh.write('{"id": 999, "twice": 1998}\n')

        manifest, files = read_manifest(out)
        assert manifest["total_rows"] == 50
        assert len(files) == 4
        got = []
        for f in files:
            with open(f) as fh:
                got += [json.loads(line) for line in fh]
        assert sorted(r["id"] for r in got) == list(range(50))
        assert all(r["twice"] == r["id"] * 2 for r in got)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on append: files written before a column existed
    read back as NULL for it under mergeSchema — the contract that lets
    a 100 TB table gain columns without rewriting history."""
    from pyspark.sql import functions as F

    dest = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x")], ["id", "a"]).write.parquet(dest)
    spark.createDataFrame(
        [(2, "y", 10)], ["id", "a", "b"]
    ).write.mode("append").parquet(dest)
    merged = spark.read.option("mergeSchema", "true").parquet(dest)
    assert set(merged.columns) == {"id", "a", "b"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].b is None and rows[2].b == 10
    # pruning still reaches the scan: selecting only `a` must not read b
    scan = merged.select("a")._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in scan and "b" not in scan.split("ReadSchema")[1][:60]


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC read/write parity with parquet, including filter pushdown
    reaching the ORC scan (same PushedFilters contract)."""
    from pyspark.sql import functions as F

    from etl_example_spark.sources.loaders import load_orc, load_table

    dest = str(tmp_path / "orders_orc")
    orders = load_table(spark, sf_dir, "orders")
    orders.write.orc(dest)
    back = load_orc(spark, dest)
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    filtered = back.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderstatus" in plan


class TestWarcSource:
    """The WARC record parser (sources/warc.py) — byte-exact record
    walking, envelope stripping, and damage resynchronization."""

    def _crawl(self, n=12):
        from etl_example_spark.sources.warc import synthetic_warc_record

        return b"".join(synthetic_warc_record(i) for i in range(n))

    def test_response_and_request_records_parse(self):
        from etl_example_spark.sources.warc import (
            parse_warc_records,
            synthetic_html,
        )

        recs = list(parse_warc_records(self._crawl()))
        resp = [r for r in recs if r[1] == "response"]
        req = [r for r in recs if r[1] == "request"]
        assert len(resp) == 12 and len(req) == 3  # ids 0, 5, 10
        assert resp[0][0] == "https://example.org/doc/0"
        assert resp[0][2] == 200
        assert resp[3][3].decode("utf-8") == synthetic_html(3)

    def test_content_length_is_bytes_not_chars(self):
        # the body embeds 'é' (2 UTF-8 bytes, 1 char): a char-domain
        # Content-Length would misalign every subsequent record
        from etl_example_spark.sources.warc import synthetic_html

        h = synthetic_html(1)
        assert len(h.encode("utf-8")) != len(h)
        self.test_response_and_request_records_parse()

    def test_body_containing_warc_magic_does_not_split(self):
        from etl_example_spark.sources.warc import (
            CRLF,
            _HEAD,
            parse_warc_records,
            synthetic_warc_record,
        )

        payload = b"inner WARC/1.0\r\nstuff"
        http = b"HTTP/1.1 200 OK\r\n\r\n" + payload
        rec = (
            _HEAD
            + b"WARC-Type: response\r\nWARC-Target-URI: u\r\n"
            + f"Content-Length: {len(http)}\r\n".encode()
            + CRLF
            + http
            + CRLF
            + CRLF
        )
        got = list(parse_warc_records(rec + synthetic_warc_record(99)))
        bodies = {r[0]: r[3] for r in got if r[1] == "response"}
        # length-sliced, not delimiter-split: the embedded magic stays
        # inside THIS record's payload and the next record still parses
        assert bodies["u"] == payload
        assert "https://example.org/doc/99" in bodies

    def test_damaged_record_resyncs_not_aborts(self):
        from etl_example_spark.sources.warc import parse_warc_records

        buf = self._crawl()
        bad = buf.replace(b"Content-Length: ", b"Content-Length: x", 1)
        recs = list(parse_warc_records(bad))
        # one record lost (or its follower clipped), the rest survive
        assert len(recs) >= 13

    def test_truncated_tail_yields_complete_records_only(self):
        from etl_example_spark.sources.warc import parse_warc_records

        full = list(parse_warc_records(self._crawl()))
        cut = list(parse_warc_records(self._crawl()[:-40]))
        assert len(full) - 2 <= len(cut) < len(full) + 1

    def test_spark_source_roundtrip(self, spark):
        from etl_example_spark.sources.warc import register_warc_datasource

        register_warc_datasource(spark)
        df = (
            spark.read.format("synthetic_warc")
            .option("rows", 40)
            .option("partitions", 4)
            .load()
        )
        rows = df.collect()
        assert len(rows) == 40  # responses only; requests skipped
        assert {r.http_status for r in rows} == {200}
        urls = {r.url for r in rows}
        assert urls == {
            f"https://example.org/doc/{i}" for i in range(40)
        }

    def test_dup_every_mirrors_previous_page(self):
        from etl_example_spark.sources.warc import synthetic_html

        assert synthetic_html(6, dup_every=7) == synthetic_html(5)
        assert synthetic_html(6, dup_every=0) != synthetic_html(5)
        # page 0 never mirrors (no predecessor)
        assert synthetic_html(0, dup_every=1) != synthetic_html(-1)


class TestWetSource:
    """The WET (extracted-text) variant: conversion records carry plain
    text with NO HTTP envelope — the parser must return their bodies
    verbatim, including bodies that LOOK like an HTTP response."""

    def test_conversion_records_parse_without_envelope_peel(self):
        from etl_example_spark.sources.warc import (
            parse_warc_records,
            synthetic_wet_record,
            synthetic_wet_text,
        )

        buf = b"".join(synthetic_wet_record(i) for i in range(8))
        recs = list(parse_warc_records(buf))
        assert [r[1] for r in recs] == ["conversion"] * 8
        assert recs[3][0] == "https://example.org/doc/3"
        assert recs[3][2] == 0  # no HTTP status on conversion records
        assert recs[3][3].decode("utf-8") == synthetic_wet_text(3)

    def test_text_resembling_http_is_not_peeled(self):
        # a conversion body starting with an HTTP-looking status line
        # must come back verbatim — only `response` records peel
        from etl_example_spark.sources.warc import (
            CRLF,
            _HEAD,
            parse_warc_records,
        )

        body = b"HTTP/1.1 200 OK\r\n\r\nthe page QUOTED a response"
        rec = (
            _HEAD
            + b"WARC-Type: conversion\r\nWARC-Target-URI: u\r\n"
            + f"Content-Length: {len(body)}\r\n".encode()
            + CRLF
            + body
            + CRLF
            + CRLF
        )
        (got,) = list(parse_warc_records(rec))
        assert got[3] == body

    def test_wet_content_length_is_bytes_not_chars(self):
        from etl_example_spark.sources.warc import synthetic_wet_text

        t = synthetic_wet_text(1)
        assert len(t.encode("utf-8")) != len(t)  # 'é' makes it binary

    def test_spark_source_roundtrip(self, spark):
        from etl_example_spark.sources.warc import (
            register_wet_datasource,
            synthetic_wet_text,
        )

        register_wet_datasource(spark)
        df = (
            spark.read.format("synthetic_wet")
            .option("rows", 30)
            .option("partitions", 4)
            .option("dupEvery", 7)
            .load()
        )
        rows = {r.url: r.text for r in df.collect()}
        assert len(rows) == 30
        assert rows["https://example.org/doc/4"] == synthetic_wet_text(4)
        # the mirror rule: doc 6 carries doc 5's text under its own URL
        assert rows["https://example.org/doc/6"] == synthetic_wet_text(5)

    def test_stream_reader_replay_is_deterministic(self):
        """readBetweenOffsets must regenerate EXACTLY what read()
        produced for the same range — the recovery/exactly-once
        contract of the offset-managed source."""
        from etl_example_spark.sources.warc import _WarcStreamReader

        r = _WarcStreamReader({"rows": "50", "batchRows": "20"})
        assert r.initialOffset() == {"offset": 0}
        batch, off = r.read({"offset": 0})
        rows = list(batch)
        assert off == {"offset": 20} and len(rows) == 20
        replay = list(r.readBetweenOffsets({"offset": 0}, {"offset": 20}))
        assert replay == rows
        # final partial batch + caught-up behavior
        batch, off = r.read({"offset": 40})
        assert off == {"offset": 50} and len(list(batch)) == 10

    def test_streaming_source_totals_match_batch(self, spark):
        from pyspark.sql import functions as F

        from etl_example_spark.sources.warc import register_warc_datasource
        from etl_example_spark.streaming.sinks import run_to_memory

        register_warc_datasource(spark)
        stream = (
            spark.readStream.format("synthetic_warc")
            .option("rows", 60)
            .option("batchRows", 25)
            .load()
        )
        agg = stream.groupBy("http_status").agg(
            F.count("*").alias("n"),
            F.sum(F.length("html")).alias("html_chars"),
        )
        got = run_to_memory(
            agg, output_mode="complete", available_now=False
        ).collect()
        batch = (
            spark.read.format("synthetic_warc")
            .option("rows", 60)
            .load()
            .groupBy("http_status")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.length("html")).alias("html_chars"),
            )
            .collect()
        )
        assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


class TestFileBackedCrawl:
    """FILE mode of the crawl sources: real .warc/.wet bytes on disk,
    ranged-read partitions (sources/warc.parse_warc_file_slice). The
    governing law: file-mode == synth-mode on the same records — the
    fixture files are the synthesizer's own bytes
    (write_synthetic_crawl_files), so any divergence is a reader bug,
    never a data difference."""

    def test_slices_partition_records_exactly(self, tmp_path):
        """Every way of cutting a file into offset slices must yield
        each record EXACTLY once (head-start ownership), including cuts
        landing mid-header, mid-body, and mid-magic — with a tiny read
        chunk so the refill/overlap paths all execute."""
        from etl_example_spark.sources.warc import (
            parse_warc_file_slice,
            parse_warc_records,
            write_synthetic_crawl_files,
        )

        (path,) = write_synthetic_crawl_files(
            str(tmp_path / "one"), rows=12, n_files=1
        )
        data = open(path, "rb").read()
        expect = list(parse_warc_records(data))
        size = len(data)
        for cuts in ([], [1], [37], [size // 3], [100, 101],
                     [size // 4, size // 2, 3 * size // 4]):
            bounds = [0, *sorted(cuts), size]
            got = []
            for lo, hi in zip(bounds, bounds[1:]):
                got.extend(
                    parse_warc_file_slice(path, lo, hi, chunk=64)
                )
            assert got == expect, f"cuts {cuts} lost/duplicated records"

    def test_warc_file_mode_equals_synth_mode(self, spark, tmp_path):
        from etl_example_spark.sources.warc import (
            register_warc_datasource,
            write_synthetic_crawl_files,
        )

        register_warc_datasource(spark)
        write_synthetic_crawl_files(
            str(tmp_path / "warc"), rows=40, n_files=4, dup_every=7
        )
        synth = (
            spark.read.format("synthetic_warc")
            .option("rows", 40)
            .option("dupEvery", 7)
            .load()
        )
        filed = (
            spark.read.format("synthetic_warc")
            .option("path", str(tmp_path / "warc"))
            .load()
        )
        assert sorted(map(tuple, filed.collect())) == sorted(
            map(tuple, synth.collect())
        )
        # one partition per file by default
        assert filed.rdd.getNumPartitions() == 4

    def test_wet_file_mode_equals_synth_mode_with_split(
        self, spark, tmp_path
    ):
        """WET files read back identically, and maxPartitionBytes
        splitting (many offset slices per file) changes the partition
        count but not one output row."""
        from etl_example_spark.sources.warc import (
            register_wet_datasource,
            write_synthetic_crawl_files,
        )

        register_wet_datasource(spark)
        write_synthetic_crawl_files(
            str(tmp_path / "wet"), rows=40, n_files=2, dup_every=7,
            wet=True,
        )
        synth = (
            spark.read.format("synthetic_wet")
            .option("rows", 40)
            .option("dupEvery", 7)
            .load()
        )
        whole = (
            spark.read.format("synthetic_wet")
            .option("path", str(tmp_path / "wet"))
            .load()
        )
        split = (
            spark.read.format("synthetic_wet")
            .option("path", str(tmp_path / "wet"))
            .option("maxPartitionBytes", 500)
            .load()
        )
        want = sorted(map(tuple, synth.collect()))
        assert sorted(map(tuple, whole.collect())) == want
        assert sorted(map(tuple, split.collect())) == want
        assert split.rdd.getNumPartitions() > whole.rdd.getNumPartitions()

    def test_missing_path_raises(self, tmp_path):
        from etl_example_spark.sources.warc import _plan_file_slices

        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            _plan_file_slices(str(tmp_path / "nowhere"), None)

    def test_file_stream_reader_replay_and_batch_parity(
        self, spark, tmp_path
    ):
        """The file-backed stream: draining all (file, byte-range)
        micro-batches yields exactly the batch file-mode rows (record
        ownership by head offset makes batch boundaries exact), and
        readBetweenOffsets replays any committed span — including one
        CROSSING a file boundary — byte-for-byte from disk."""
        from etl_example_spark.sources.warc import (
            _WetFileStreamReader,
            parse_warc_records,
            write_synthetic_crawl_files,
        )

        d = str(tmp_path / "wets")
        paths = write_synthetic_crawl_files(
            d, rows=60, n_files=3, dup_every=7, wet=True
        )
        expect = []
        for p in paths:
            for url, rt, _s, body in parse_warc_records(
                open(p, "rb").read()
            ):
                if rt == "conversion":
                    expect.append((url, body.decode("utf-8")))

        r = _WetFileStreamReader({"path": d, "batchBytes": "700"})
        off = r.initialOffset()
        drained, offsets = [], [off]
        for _ in range(1000):
            batch, nxt = r.read(off)
            rows = list(batch)
            if not rows and nxt == off:
                break  # caught up
            drained.extend(rows)
            off = nxt
            offsets.append(off)
        assert drained == expect
        # replay across a file boundary: from mid-file-0 to mid-file-2
        lo, hi = offsets[1], offsets[-2]
        replay = list(r.readBetweenOffsets(lo, hi))
        assert replay == drained[len(list(r.readBetweenOffsets(offsets[0], lo))):
                                 len(drained) - len(list(r.readBetweenOffsets(hi, offsets[-1])))]


def test_register_warc_datasource_from_many_threads_at_once(spark):
    """Eight threads register the WARC source on one fresh session at
    once, each with that session active, as a sweep's worker threads
    are: none gets DATA_SOURCE_ALREADY_EXISTS, and the source is
    registered. Spark checks for the name, then looks it up and stores
    it, with no lock around the three steps."""
    import threading

    from etl_example_spark.sources.warc import WarcDataSource, register_warc_datasource

    errors = []
    for _ in range(5):
        session = spark.newSession()
        barrier = threading.Barrier(8, timeout=60)

        def register(session=session, barrier=barrier):
            session._jvm.SparkSession.setActiveSession(session._jsparkSession)  # noqa: SLF001
            barrier.wait()
            try:
                register_warc_datasource(session)
            except Exception as exc:  # noqa: BLE001 — reported below
                errors.append(exc)

        threads = [threading.Thread(target=register) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        manager = session._jsparkSession.sessionState().dataSourceManager()  # noqa: SLF001
        assert manager.dataSourceExists(WarcDataSource.name())
    assert not errors, errors[0]
