"""Streaming semantics the single-batch oracle can't see: state surviving
query restarts (checkpoint recovery), watermark late-data drops, and the
foreachBatch parquet sink. Each test writes its own landing directory and
drives the stream twice with a shared checkpoint — the minimal local
stand-in for a long-running incremental pipeline."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from etl_example_spark.streaming.sinks import (
    make_neardup_probe,
    seed_neardup_index,
    stream_to_parquet,
)
from etl_example_spark.streaming.stateful import first_seen_dedup
from etl_example_spark.streaming.windows import tumbling_counts

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _t(hour: int, minute: int = 0) -> dt.datetime:
    return dt.datetime(2024, 3, 1, hour, minute)


def _land(spark, path: str, rows: list[tuple]) -> None:
    """Append one file to the landing dir (one arriving micro-batch)."""
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _read_stream(spark, path: str):
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


def _run_to_parquet(spark, sdf, out: str, ckpt: str, mode: str) -> list:
    """Drive one AvailableNow run into a parquet foreachBatch sink (the
    memory sink can't recover from checkpoints; foreachBatch can) and
    return the rows this run emitted."""

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        sdf.writeStream.foreachBatch(write_batch)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out):
        return []
    return spark.read.schema(sdf.schema).parquet(out).collect()


def test_stateful_dedup_state_survives_restart(spark, tmp_path):
    """GroupState persists in the checkpoint: a key emitted in run 1 is
    NOT re-emitted when it reappears after a restart."""
    land = str(tmp_path / "land")
    ckpt = str(tmp_path / "ckpt")

    _land(spark, land, [(1, _t(9), 1, "click", 1.0), (2, _t(9), 2, "view", 1.0)])
    out1 = _run_to_parquet(
        spark,
        first_seen_dedup(_read_stream(spark, land)),
        str(tmp_path / "out1"),
        ckpt,
        "update",
    )
    assert {(r.user_id, r.event_type, r.first_event_id) for r in out1} == {
        (1, "click", 1),
        (2, "view", 2),
    }

    # key (1, click) reappears + one genuinely new key
    _land(spark, land, [(3, _t(10), 1, "click", 1.0), (4, _t(10), 3, "click", 1.0)])
    out2 = _run_to_parquet(
        spark,
        first_seen_dedup(_read_stream(spark, land)),
        str(tmp_path / "out2"),
        ckpt,
        "update",
    )
    assert {(r.user_id, r.event_type, r.first_event_id) for r in out2} == {
        (3, "click", 4)
    }


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """Append-mode window agg with a 10min watermark: a row arriving after
    the watermark passed its window is dropped, not re-opened."""
    land = str(tmp_path / "land")
    ckpt = str(tmp_path / "ckpt")

    # 3 rows in the 09:00 window; a 13:00 row pushes the watermark to 12:50
    _land(
        spark,
        land,
        [
            (1, _t(9, 5), 1, "click", 1.0),
            (2, _t(9, 25), 1, "click", 1.0),
            (3, _t(9, 45), 2, "view", 1.0),
            (4, _t(13, 0), 2, "view", 1.0),
        ],
    )
    agg1 = tumbling_counts(
        _read_stream(spark, land).withWatermark("ts", "10 minutes")
    )
    out1 = {
        r.window_start.hour: r.n_events
        for r in _run_to_parquet(
            spark, agg1, str(tmp_path / "out1"), ckpt, "append"
        )
    }
    assert out1[9] == 3  # 09:00 window closed and emitted

    # late row for the already-closed 09:00 window + a 16:00 row that
    # closes the 13:00 window
    _land(
        spark,
        land,
        [(5, _t(9, 30), 1, "click", 1.0), (6, _t(16, 0), 1, "click", 1.0)],
    )
    agg2 = tumbling_counts(
        _read_stream(spark, land).withWatermark("ts", "10 minutes")
    )
    out2 = {
        r.window_start.hour: r.n_events
        for r in _run_to_parquet(
            spark, agg2, str(tmp_path / "out2"), ckpt, "append"
        )
    }
    assert 9 not in out2, "late row must not re-open the 09:00 window"
    assert out2[13] == 1  # on-time row emitted once its window closed


def test_foreachbatch_parquet_sink(spark, tmp_path):
    """stream_to_parquet lands each micro-batch as (partitioned) parquet."""
    land = str(tmp_path / "land")
    out = str(tmp_path / "out")
    _land(
        spark,
        land,
        [
            (1, _t(9), 1, "click", 1.0),
            (2, _t(9), 2, "view", 2.0),
            (3, _t(10), 3, "click", 3.0),
        ],
    )
    stream_to_parquet(
        _read_stream(spark, land),
        out,
        checkpoint=str(tmp_path / "ckpt"),
        partition_by=["event_type"],
    )
    back = spark.read.parquet(out)
    assert back.count() == 3
    assert set(back.select("event_type").distinct().toPandas()["event_type"]) == {
        "click",
        "view",
    }
    # partitionBy produced hive-style directories
    assert any(p.startswith("event_type=") for p in os.listdir(out))


def test_streaming_source_is_incremental(spark, tmp_path):
    """A second AvailableNow run over the same checkpoint processes only
    files that arrived since the first run (exactly-once over files)."""
    land = str(tmp_path / "land")
    ckpt = str(tmp_path / "ckpt")
    _land(spark, land, [(1, _t(9), 1, "click", 1.0)])
    out1 = _run_to_parquet(
        spark, _read_stream(spark, land), str(tmp_path / "out1"), ckpt, "append"
    )
    assert [r.event_id for r in out1] == [1]

    _land(spark, land, [(2, _t(10), 1, "click", 1.0)])
    out2 = _run_to_parquet(
        spark, _read_stream(spark, land), str(tmp_path / "out2"), ckpt, "append"
    )
    # only the newly-arrived file was read on resume
    assert [r.event_id for r in out2] == [2]


@pytest.mark.parametrize(
    "name",
    [
        "st35_stream_tumbling",
        "st36_stream_sliding_watermark",
        "st37_stream_session_windows",
        "st38_stream_first_seen_dedup",
    ],
)
def test_streaming_registry_queries_run(spark, sf_dir, name):
    """Registry streaming queries run end-to-end at smoke scale (their
    value-level oracle checks live in test_queries_oracle)."""
    from etl_example_spark.plans.registry import load_all

    df = load_all()[name].spark_builder(spark, sf_dir)
    assert df.columns
    assert df.count() >= 0


# four landing files of (k, v, op, seq) change rows, one micro-batch each:
# an upsert chain, a delete, a stale (lower-seq) upsert that must not win,
# an upsert after a delete, and a delete of a key that stays deleted
_CDC_FILES = [
    [(1, 10, "U", 1), (2, 20, "U", 2), (3, 30, "U", 3)],
    [(1, 11, "U", 4), (2, 0, "D", 5), (4, 40, "U", 6)],
    [(3, 31, "U", 7), (2, 22, "U", 8), (1, 99, "U", 0)],
    [(4, 0, "D", 9), (5, 50, "U", 10), (3, 32, "U", 11)],
]


def _cdc_landing(tmp_path) -> str:
    """Write _CDC_FILES as 4 parquet files with increasing mtimes, so a
    maxFilesPerTrigger=1 stream reads them in list order."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    land = tmp_path / "cdc_landing"
    land.mkdir()
    now = time.time()
    for i, rows in enumerate(_CDC_FILES):
        k, v, op, seq = zip(*rows)
        name = str(land / f"c{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(k, pa.int64()),
                    "v": pa.array(v, pa.int64()),
                    "op": list(op),
                    "seq": pa.array(seq, pa.int64()),
                }
            ),
            name,
        )
        os.utime(name, (now - 100 + i, now - 100 + i))
    return str(land)


def _drain_cdc(spark, landing: str, target: str) -> None:
    from etl_example_spark.streaming.sinks import stream_cdc_to_parquet

    stream_cdc_to_parquet(
        spark.readStream.schema("k long, v long, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing),
        target,
        key_cols=["k"],
        target_cols=["k", "v"],
        sequence_col="seq",
    )


def _cdc_state(spark, target: str) -> dict:
    from etl_example_spark.streaming.sinks import read_cdc_state

    clean = read_cdc_state(spark, target, sequence_col="seq")
    return {r.k: r.v for r in clean.collect()}


def _last_writer_wins(rows) -> dict:
    """Batch rebuild of the CDC state: per key, the highest-seq change
    row; a delete removes the key."""
    latest = {}
    for k, v, op, seq in rows:
        if k not in latest or seq > latest[k][2]:
            latest[k] = (v, op, seq)
    return {k: v for k, (v, op, _) in latest.items() if op != "D"}


def _record_publishes(monkeypatch) -> list[str]:
    """Record every generation the CDC sink publishes from now on (each
    publish is an ``os.replace`` onto a ``._CURRENT`` pointer)."""
    real_replace = os.replace
    publishes = []

    def recording_replace(src, dst, *a, **k):
        if str(dst).endswith("._CURRENT"):
            publishes.append(dst)
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", recording_replace)
    return publishes


def _generation_dirs(target: str) -> list[str]:
    return [
        d for d in os.listdir(target)
        if os.path.isdir(os.path.join(target, d))
    ]


class TestStreamCdcSink:
    def test_merge_state_swap_and_replay(self, spark, tmp_path, sf_dir):
        """Final target equals last-writer-wins over the change stream;
        re-running the same stream against the same target resumes from
        the target's checkpoint and leaves the state unchanged."""
        import os

        from pyspark.sql import functions as F

        from etl_example_spark.streaming.sinks import stream_cdc_to_parquet
        from etl_example_spark.streaming.sources import read_events_stream

        def run(target):
            stream = read_events_stream(spark, sf_dir)
            changes = stream.select(
                "user_id",
                "value",
                F.when(F.col("event_type") == "error", "D")
                .otherwise("U")
                .alias("op"),
                F.unix_micros(F.col("ts").cast("timestamp")).alias("seq"),
            )
            stream_cdc_to_parquet(
                changes,
                target,
                key_cols=["user_id"],
                target_cols=["user_id", "value"],
                sequence_col="seq",
            )
            from etl_example_spark.streaming.sinks import read_cdc_state

            clean = read_cdc_state(spark, target, sequence_col="seq")
            # both bookkeeping columns stripped from the clean view
            assert "seq" not in clean.columns
            assert "_deleted" not in clean.columns
            return {r.user_id: r.value for r in clean.collect()}

        target = str(tmp_path / "cdc")
        first = run(target)
        # batch truth: latest event per user; error deletes
        events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("ts"))
        latest = (
            events.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1 AND event_type <> 'error'")
        )
        truth = {r.user_id: r.value for r in latest.collect()}
        assert first == truth
        assert run(target) == first  # replay is a no-op state

    def test_drained_target_keeps_two_generations(self, spark, tmp_path):
        """Four micro-batches publish four states; the shared retention
        rule keeps only the live one and the one it replaced, and the
        drained state is last-writer-wins over every change row."""
        landing = _cdc_landing(tmp_path)
        target = str(tmp_path / "cdc")
        _drain_cdc(spark, landing, target)

        assert len(_generation_dirs(target)) <= 2
        batch = [tuple(r) for r in spark.read.parquet(landing).collect()]
        assert _cdc_state(spark, target) == _last_writer_wins(batch)

    def test_failed_publish_keeps_prior_state_and_rerun_recovers(
        self, spark, tmp_path, monkeypatch
    ):
        """Fault injection: the 3rd micro-batch's pointer rename raises.
        The query fails and readers see exactly the state after the first
        two files. Re-running the sink into the same target drains to the
        batch rebuild and sweeps the unpublished generation."""
        from pyspark.errors import StreamingQueryException

        landing = _cdc_landing(tmp_path)
        target = str(tmp_path / "cdc")
        real_replace = os.replace
        publishes = []

        def fail_third_publish(src, dst, *a, **k):
            if str(dst).endswith("._CURRENT"):
                publishes.append(dst)
                if len(publishes) == 3:
                    raise OSError("injected: publish of micro-batch 3")
            return real_replace(src, dst, *a, **k)

        monkeypatch.setattr(os, "replace", fail_third_publish)
        with pytest.raises(StreamingQueryException, match="injected"):
            _drain_cdc(spark, landing, target)
        monkeypatch.undo()
        assert len(publishes) == 3
        assert _cdc_state(spark, target) == _last_writer_wins(
            _CDC_FILES[0] + _CDC_FILES[1]
        )

        _drain_cdc(spark, landing, target)
        batch = [tuple(r) for r in spark.read.parquet(landing).collect()]
        assert _cdc_state(spark, target) == _last_writer_wins(batch)
        assert len(_generation_dirs(target)) <= 2

    def test_rerun_into_a_drained_target_publishes_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """The checkpoint is keyed by the target: a second drain of the
        same source into the same target resumes after the last
        committed micro-batch, so it replays none and publishes no
        generation."""
        landing = _cdc_landing(tmp_path)
        target = str(tmp_path / "cdc")
        _drain_cdc(spark, landing, target)
        drained = _cdc_state(spark, target)

        publishes = _record_publishes(monkeypatch)
        _drain_cdc(spark, landing, target)
        assert publishes == []
        assert _cdc_state(spark, target) == drained

    def test_uncommitted_batch_replays_on_rerun(
        self, spark, tmp_path, monkeypatch
    ):
        """Deleting the newest commit under ``<target>._checkpoint/commits``
        un-commits the last micro-batch: a re-run replays exactly that
        batch, the replayed merge leaves last-writer-wins, and retention
        still keeps at most two generations."""
        landing = _cdc_landing(tmp_path)
        target = str(tmp_path / "cdc")
        _drain_cdc(spark, landing, target)
        commits = os.path.join(f"{target}._checkpoint", "commits")
        newest = max(
            (f for f in os.listdir(commits) if f.isdigit()), key=int
        )
        for name in (newest, f".{newest}.crc"):
            if os.path.exists(os.path.join(commits, name)):
                os.remove(os.path.join(commits, name))

        publishes = _record_publishes(monkeypatch)
        _drain_cdc(spark, landing, target)
        assert len(publishes) == 1
        batch = [tuple(r) for r in spark.read.parquet(landing).collect()]
        assert _cdc_state(spark, target) == _last_writer_wins(batch)
        assert len(_generation_dirs(target)) <= 2

    def test_empty_source_publishes_the_empty_state(self, spark, tmp_path):
        """Zero micro-batches run over an empty landing dir; the sink
        still publishes one generation, the empty table with the state's
        columns."""
        from etl_example_spark.streaming.sinks import read_cdc_state

        landing = tmp_path / "empty_landing"
        landing.mkdir()
        target = str(tmp_path / "cdc")
        _drain_cdc(spark, str(landing), target)
        assert len(_generation_dirs(target)) == 1
        state = read_cdc_state(spark, target)
        assert state.columns == ["k", "v", "seq"]
        assert state.count() == 0


class TestStreamNearDupCrossBatch:
    def test_two_micro_batches_pair_up(self, spark, tmp_path):
        """End-to-end stream version of the cross-batch law: two near-dup
        documents land in SEPARATE files, maxFilesPerTrigger=1 forces one
        micro-batch each, and the probe-then-append index loop still
        finds the pair."""
        import os

        base = (
            "the quick brown fox jumps over the lazy dog near the river "
            "bank every sunny morning in spring"
        )
        landing = str(tmp_path / "landing")
        schema = "doc_id long, text string"
        spark.createDataFrame([(10, base)], schema).coalesce(1).write.parquet(
            os.path.join(landing, "f1.parquet")
        )
        spark.createDataFrame(
            [(20, base + " indeed")], schema
        ).coalesce(1).write.parquet(os.path.join(landing, "f2.parquet"))

        static = spark.createDataFrame(
            [(1, "unrelated text about catalyst optimizer rules and "
                 "adaptive query execution behavior")],
            schema,
        )
        bands_dir = str(tmp_path / "bands")
        sets_dir = str(tmp_path / "sets")
        seed_neardup_index(static, bands_dir, sets_dir)
        out_dir = str(tmp_path / "pairs")
        os.makedirs(out_dir)

        inner = make_neardup_probe(bands_dir, sets_dir, out_dir)
        batches = []

        def probe(batch, epoch_id):
            batches.append(batch.count())
            inner(batch, epoch_id)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        )
        q = (
            stream.writeStream.foreachBatch(probe)
            .option(
                "checkpointLocation", str(tmp_path / "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        assert len(batches) == 2 and all(n == 1 for n in batches)
        found = {
            (r.doc_a, r.doc_b)
            for r in spark.read.parquet(out_dir).collect()
        }
        assert (10, 20) in found

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        """A retried micro-batch must REWRITE its epoch, not re-append:
        invoking the probe twice with the same epoch_id (the retry
        shape — possibly after a partial index append) leaves the pair
        sink and both index tables byte-identical to a single clean
        run, and the retry's probe never sees its own failed epoch."""
        import os

        base = (
            "the quick brown fox jumps over the lazy dog near the "
            "river bank every sunny morning in spring"
        )
        schema = "doc_id long, text string"
        static = spark.createDataFrame([(10, base)], schema)
        bands_dir = str(tmp_path / "bands")
        sets_dir = str(tmp_path / "sets")
        seed_neardup_index(static, bands_dir, sets_dir)
        out_dir = str(tmp_path / "pairs")
        os.makedirs(out_dir)

        probe = make_neardup_probe(bands_dir, sets_dir, out_dir)
        batch = spark.createDataFrame([(20, base + " indeed")], schema)

        def snapshot():
            pairs = sorted(
                (r.doc_a, r.doc_b)
                for r in spark.read.parquet(out_dir).collect()
            )
            n_bands = spark.read.parquet(bands_dir).count()
            n_sets = spark.read.parquet(sets_dir).count()
            return pairs, n_bands, n_sets

        probe(batch, 0)
        first = snapshot()
        assert first[0] == [(10, 20)]
        # retry of epoch 0 (e.g. task death after the index append)
        probe(batch, 0)
        assert snapshot() == first
        # a LATER epoch still sees epoch 0's index entries exactly once
        batch2 = spark.createDataFrame([(30, base + " also")], schema)
        probe(batch2, 1)
        pairs, _, _ = snapshot()
        assert pairs == [(10, 20), (10, 30), (20, 30)]


class TestStreamingObservability:
    def test_listener_sees_progress(self, spark, sf_dir):
        """StreamingQueryListener (the ops/metrics surface): progress
        events carry per-batch row counts that sum to the source size."""
        import time

        from pyspark.sql import functions as F
        from pyspark.sql.streaming import StreamingQueryListener

        from etl_example_spark.streaming.sinks import run_to_memory
        from etl_example_spark.streaming.sources import read_events_stream

        seen = {"rows": 0, "progress_events": 0}

        class Capture(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                seen["rows"] += event.progress.numInputRows
                seen["progress_events"] += 1

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Capture()
        spark.streams.addListener(listener)
        try:
            stream = read_events_stream(spark, sf_dir)
            run_to_memory(
                stream.groupBy("event_type").agg(
                    F.count("*").alias("n")
                ),
                output_mode="complete",
            )
            # listener delivery is async; give the bus a moment
            deadline = time.time() + 10
            import os

            expected = (
                spark.read.parquet(
                    os.path.join(sf_dir, "events.parquet")
                ).count()
            )
            while time.time() < deadline and seen["rows"] < expected:
                time.sleep(0.2)
            assert seen["progress_events"] >= 1
            assert seen["rows"] == expected
        finally:
            spark.streams.removeListener(listener)


class TestPythonStreamSourceRestart:
    def test_offsets_resume_from_checkpoint(self, spark, tmp_path):
        """The custom Python stream source's offsets live in the
        checkpoint: a restarted query resumes where the last run
        committed — no reprocessing, no gaps — even when the source has
        grown (rows raised 1000 -> 2000)."""
        import tempfile

        from pyspark.sql import functions as F

        from etl_example_spark.sources.python_datasource import (
            register_python_datasources,
        )

        register_python_datasources(spark)
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        def run(rows):
            stream = (
                spark.readStream.format("synthetic_docs")
                .option("rows", rows)
                .option("batchRows", 300)
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
            return spark.read.parquet(out)

        first = run(1000)
        assert sorted(r.id for r in first.collect()) == list(range(1000))

        second = run(2000)
        # restart with the same checkpoint against the grown source:
        # exactly the new rows were read — no reprocessing, no gaps
        ids = sorted(r.id for r in second.collect())
        assert ids == list(range(2000))


def test_countmin_epoch_replay_is_idempotent(spark, tmp_path):
    """st48's grid writes must survive a micro-batch retry: writing the
    same epoch twice (the retry shape) leaves the merged sketch equal to
    a single whole-input build — overwrite-per-epoch, never re-append."""
    import os

    from pyspark.sql import functions as F

    from etl_example_spark.operators.sketches import countmin_build

    grid_dir = str(tmp_path / "grid")
    items_a = spark.createDataFrame([("x",)] * 30 + [("y",)] * 5, ["item"])
    items_b = spark.createDataFrame([("y",)] * 10 + [("z",)] * 2, ["item"])

    def write_epoch(df, epoch_id):
        countmin_build(df).write.mode("overwrite").parquet(
            os.path.join(grid_dir, f"epoch={epoch_id}")
        )

    write_epoch(items_a, 0)
    write_epoch(items_a, 0)  # retry replays the same epoch
    write_epoch(items_b, 1)
    merged = (
        spark.read.parquet(grid_dir)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = countmin_build(items_a.unionByName(items_b))
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_benchmark_hash_index_probe_matches_direct_overlap(spark, tmp_path):
    """st53's decomposition law: benchmark_hash_index written to parquet
    + probe_benchmark_hashes over arbitrary corpus slices must together
    equal benchmark_span_overlap run directly on the whole corpus — and
    the stored index carries hash pairs only (no benchmark text)."""
    from pyspark.sql import functions as F

    from etl_example_spark.operators.dedup import (
        benchmark_hash_index,
        benchmark_span_overlap,
        probe_benchmark_hashes,
    )

    toks = [f"t{i}" for i in range(40)]
    bench_text = " ".join(toks[:20])
    docs = spark.createDataFrame(
        [
            # doc 1 quotes benchmark tokens 5..17 (one 13-gram hit)
            (1, " ".join(["a", "b"] + toks[5:18] + ["c", "d"])),
            (2, "completely clean document with plenty of words here"),
            # doc 3 contains the whole benchmark
            (3, "x " + bench_text + " y"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])

    direct = benchmark_span_overlap(docs, bench, span_tokens=13).collect()

    idx_dir = str(tmp_path / "bench_idx")
    idx = benchmark_hash_index(bench, span_tokens=13)
    assert set(idx.columns) == {"_h1", "_h2"}  # hash pairs only
    idx.write.mode("overwrite").parquet(idx_dir)
    stored = spark.read.parquet(idx_dir)

    # probe in two independent slices (micro-batch shape), union results
    sliced = []
    for pred in (F.col("doc_id") <= 1, F.col("doc_id") > 1):
        sliced.extend(
            probe_benchmark_hashes(
                stored, docs.filter(pred), span_tokens=13
            ).collect()
        )
    key = lambda r: (r["doc_id"], r["span_start"], r["span_end"])
    assert sorted(map(key, sliced)) == sorted(map(key, direct))
    hit_docs = {r["doc_id"] for r in direct}
    assert hit_docs == {1, 3}


def test_quota_admission_state_across_micro_batches(spark, tmp_path):
    """Two landing-zone files processed as TWO micro-batches
    (maxFilesPerTrigger=1): the per-key admitted count must persist —
    batch 1 fills 8 of 10 slots, batch 2 admits exactly the remaining
    2 (lowest doc_id first) and the sequence numbers continue."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_example_spark.streaming.sinks import run_to_memory
    from etl_example_spark.streaming.stateful import quota_admission

    land = tmp_path / "land"
    land.mkdir()

    def write(name, ids):
        tbl = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": ["t"] * len(ids),
                "lang": ["en"] * len(ids),
                "source": ["s1"] * len(ids),
                "n_chars": pa.array([1] * len(ids), pa.int64()),
            }
        )
        pq.write_table(tbl, str(land / name))

    write("b1.parquet", list(range(8)))
    write("b2.parquet", list(range(100, 108)))
    now = time.time()
    os.utime(land / "b1.parquet", (now - 100, now - 100))
    os.utime(land / "b2.parquet", (now, now))

    from etl_example_spark.streaming.sources import DOCUMENTS_SCHEMA

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(land))
    )
    out = run_to_memory(
        quota_admission(stream, quota=10), output_mode="append"
    ).orderBy("admit_seq")
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == list(range(8)) + [100, 101]
    assert [r["admit_seq"] for r in rows] == list(range(1, 11))
    assert {r["source"] for r in rows} == {"s1"}


def test_quota_admission_out_of_order_landing_zone(spark, tmp_path):
    """An out-of-order landing zone (later files carry LOWER doc_ids)
    admits a DIFFERENT — still valid — set than the id-ordered
    ROW_NUMBER oracle st57 states (its docstring documents the
    id-ordered assumption). This pins the weaker invariant that must
    hold regardless of arrival order, so a future source change
    surfaces here as a clear contract break, not a confusing oracle
    hash mismatch: (a) at most `quota` admissions per key, (b)
    admit_seq per key is contiguous 1..n, (c) every admitted doc_id
    came from that key's input, (d) a key with >= quota candidates
    fills its quota exactly."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_example_spark.streaming.sinks import run_to_memory
    from etl_example_spark.streaming.sources import DOCUMENTS_SCHEMA
    from etl_example_spark.streaming.stateful import quota_admission

    land = tmp_path / "land"
    land.mkdir()

    def write(name, ids, source):
        tbl = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": ["t"] * len(ids),
                "lang": ["en"] * len(ids),
                "source": [source] * len(ids),
                "n_chars": pa.array([1] * len(ids), pa.int64()),
            }
        )
        pq.write_table(tbl, str(land / name))

    # arrival order inverts id order: the 100s land BEFORE the 0s
    write("b1.parquet", list(range(100, 104)), "s1")
    write("b2.parquet", list(range(0, 4)), "s1")
    write("b3.parquet", list(range(200, 202)), "s2")
    now = time.time()
    os.utime(land / "b1.parquet", (now - 200, now - 200))
    os.utime(land / "b2.parquet", (now - 100, now - 100))
    os.utime(land / "b3.parquet", (now, now))

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(land))
    )
    rows = run_to_memory(
        quota_admission(stream, quota=6), output_mode="append"
    ).collect()
    by_key: dict[str, list] = {}
    for r in rows:
        by_key.setdefault(r["source"], []).append(r)
    inputs = {"s1": set(range(100, 104)) | set(range(0, 4)),
              "s2": set(range(200, 202))}
    for key, admitted in by_key.items():
        assert len(admitted) <= 6, key
        seqs = sorted(r["admit_seq"] for r in admitted)
        assert seqs == list(range(1, len(admitted) + 1)), key
        assert {r["doc_id"] for r in admitted} <= inputs[key], key
    # s1 saw 8 candidates for 6 slots -> quota filled exactly; the
    # admitted set is arrival-dependent (first batch's 100s occupy
    # slots the oracle would give to the 0s) — the documented delta
    assert len(by_key["s1"]) == 6
    assert set(range(100, 104)) <= {r["doc_id"] for r in by_key["s1"]}
    assert len(by_key["s2"]) == 2


def test_stream_index_compaction_collapses_files(spark, sf_dir):
    """The st62 law's OTHER half (content preservation is the external
    oracle's job): compacting the epoch-sliced streaming SQ8 artifact
    must actually collapse the per-micro-batch file sprawl to the
    measured ceil(bytes/target) count — here 1 — while the repointed
    path serves the identical rows."""
    import os

    from etl_example_spark.plans.streaming_ops import _run_sq8_maintenance
    from etl_example_spark.sources.writers import (
        compact_small_files,
        resolve_dataset_path,
    )

    codes_dir = _run_sq8_maintenance(spark, sf_dir)

    def n_parquet_files(root: str) -> int:
        return sum(
            1
            for dirpath, _dirs, files in os.walk(root, followlinks=True)
            for f in files
            if f.endswith(".parquet") and not f.startswith(".")
        )

    before_files = n_parquet_files(codes_dir)
    assert before_files > 1, "maintenance should leave epoch slices"
    before_rows = sorted(
        map(tuple, spark.read.parquet(codes_dir)
            .select("vec_id", "j", "code").collect())
    )
    stats = compact_small_files(
        spark, codes_dir, target_file_bytes=128 * 1024 * 1024
    )
    assert stats["files_before"] == before_files
    assert stats["files_after"] == 1
    current = resolve_dataset_path(codes_dir)
    assert n_parquet_files(current) == 1
    after_rows = sorted(
        map(tuple, spark.read.parquet(current)
            .select("vec_id", "j", "code").collect())
    )
    assert after_rows == before_rows


def test_staging_relinks_a_stale_events_link(tmp_path, monkeypatch):
    """A staging link left pointing at a missing file (an older layout,
    a moved testdata dir) is replaced, not kept because it exists."""
    import tempfile

    from etl_example_spark.streaming import sources

    sf = tmp_path / "sf"
    sf.mkdir()
    events = sf / "events.parquet"
    events.write_bytes(b"PAR1")
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    staging = sources._staging_dir(str(sf))
    link = os.path.join(staging, "events.parquet")
    os.remove(link)
    os.symlink(str(tmp_path / "gone" / "events.parquet"), link)
    assert not os.path.exists(link)

    assert sources._staging_dir(str(sf)) == staging
    assert os.path.realpath(link) == str(events.resolve())
    assert os.listdir(staging) == ["events.parquet"]


def _land_ids(landing, files: list[list[int]]) -> None:
    """One parquet file of ``id`` rows per list, with increasing mtimes,
    so a maxFilesPerTrigger=1 stream reads one file per micro-batch in
    list order."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    now = time.time()
    for i, ids in enumerate(files):
        name = str(landing / f"ids{i}.parquet")
        pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), name)
        os.utime(name, (now - 100 + i, now - 100 + i))


def _ids_stream(spark, landing):
    return (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing))
    )


class TestMaintainKernel:
    """``streaming/sinks.maintain``: the one epoch-sliced loop behind the
    streaming maintenance builders."""

    def test_steps_read_strictly_older_slices(self, spark, tmp_path):
        """Three files, one micro-batch each, over a seeded ``seen``
        output: every step reads the seed plus the earlier batches'
        slices, and the read-back drops ``epoch``."""
        from pyspark.sql import functions as F

        from etl_example_spark.streaming.sinks import maintain

        landing = tmp_path / "landing"
        landing.mkdir()
        _land_ids(landing, [[1, 2], [3], [4, 5]])

        def step(batch, older):
            n_older = older("seen").count()
            return {
                "seen": batch,
                "older": batch.select("id", F.lit(n_older).alias("n_older")),
            }

        out = maintain(
            _ids_stream(spark, landing),
            step,
            {"older": "id long, n_older long"},
            seed={"seen": spark.createDataFrame([(0,)], "id long")},
        )
        assert out["seen"].columns == ["id"]
        assert sorted(r.id for r in out["seen"].collect()) == list(range(6))
        assert {r.id: r.n_older for r in out["older"].collect()} == {
            1: 1, 2: 1, 3: 3, 4: 4, 5: 4,
        }

    def test_retried_epoch_reads_only_older_slices(self, spark, tmp_path):
        """The retry shape: a micro-batch run twice under the same epoch
        overwrites its slice, and the second run's step still sees only
        the older epochs, never its own first attempt."""
        from pyspark.sql import functions as F

        from etl_example_spark.streaming.sinks import _epoch_slices

        paths = {"seen": str(tmp_path / "seen")}
        spark.createDataFrame([(0,)], "id long").write.parquet(
            os.path.join(paths["seen"], "epoch=-1")
        )
        older_ids = []

        def step(batch, older):
            older_ids.append(sorted(r.id for r in older("seen").collect()))
            return {"seen": batch}

        run = _epoch_slices(step, paths)
        batch = spark.createDataFrame([(7,)], "id long")
        run(batch, 0)
        run(batch, 0)
        run(spark.createDataFrame([(8,)], "id long"), 1)
        assert older_ids == [[0], [0], [0, 7]]
        ids = spark.read.parquet(paths["seen"]).select(F.col("id"))
        assert sorted(r.id for r in ids.collect()) == [0, 7, 8]

    def test_empty_source_reads_the_declared_schema(self, spark, tmp_path):
        """No micro-batch fires over an empty landing dir: an unseeded
        output reads back as the empty frame of its declared schema, and
        a seeded one as its seed."""
        from etl_example_spark.streaming.sinks import maintain

        landing = tmp_path / "landing"
        landing.mkdir()
        out = maintain(
            _ids_stream(spark, landing),
            lambda batch, older: {"doubled": batch.selectExpr("id * 2 AS v")},
            {"doubled": "v long"},
            seed={"base": spark.createDataFrame([(1,)], "id long")},
        )
        assert out["doubled"].schema.simpleString() == "struct<v:bigint>"
        assert out["doubled"].count() == 0
        assert [r.id for r in out["base"].collect()] == [1]

    def test_scratch_root_is_removed_at_exit(self, tmp_path, monkeypatch):
        """Every scratch dir sits under one root, made once; the exit
        hook registered with it removes the root. The live root is
        swapped out, so the suite's lazily-read slices stay."""
        import atexit
        import tempfile

        from etl_example_spark.streaming import sinks

        hooks = []
        monkeypatch.setattr(sinks, "_scratch_root", None)
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        monkeypatch.setattr(
            atexit, "register", lambda fn, *a: hooks.append((fn, a))
        )
        first = sinks.scratch_dir("a_")
        second = sinks.scratch_dir("b_")
        root = os.path.dirname(first)
        assert os.path.dirname(second) == root
        assert os.path.dirname(root) == str(tmp_path)
        assert len(hooks) == 1

        fn, args = hooks[0]
        fn(*args)
        assert not os.path.exists(root)

    def test_scratch_root_is_made_once_under_threads(
        self, tmp_path, monkeypatch
    ):
        """Builders take scratch dirs from many threads at once: the
        root is made and registered for removal exactly once, and every
        dir is distinct."""
        import atexit
        import sys
        import tempfile
        from concurrent.futures import ThreadPoolExecutor

        from etl_example_spark.streaming import sinks

        hooks = []
        monkeypatch.setattr(sinks, "_scratch_root", None)
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        monkeypatch.setattr(
            atexit, "register", lambda fn, *a: hooks.append((fn, a))
        )
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(max_workers=16) as pool:
                dirs = list(
                    pool.map(sinks.scratch_dir, ["d_"] * 256, timeout=60)
                )
        finally:
            sys.setswitchinterval(interval)
        assert len(set(dirs)) == 256
        assert {os.path.dirname(d) for d in dirs} == {
            os.path.join(str(tmp_path), os.listdir(tmp_path)[0])
        }
        assert len(os.listdir(tmp_path)) == 1
        assert len(hooks) == 1


def _functions_naming(attr: str) -> set[str]:
    """``module::function`` of every engine function (or ``<module>``
    scope) whose own code names ``attr``."""
    import ast
    import pathlib

    import etl_example_spark

    root = pathlib.Path(etl_example_spark.__file__).parent
    found = set()

    class Finder(ast.NodeVisitor):
        def __init__(self, module: str) -> None:
            self.module, self.scope = module, ["<module>"]

        def visit_FunctionDef(self, node) -> None:
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Attribute(self, node) -> None:
            if node.attr == attr:
                found.add(f"{self.module}::{self.scope[-1]}")
            self.generic_visit(node)

        def visit_Name(self, node) -> None:
            if node.id == attr:
                found.add(f"{self.module}::{self.scope[-1]}")

        def visit_alias(self, node) -> None:
            if node.name == attr:
                found.add(f"{self.module}::{self.scope[-1]}")

    for path in sorted(root.rglob("*.py")):
        module = path.relative_to(root).as_posix()
        Finder(module).visit(ast.parse(path.read_text()))
    return found


def test_one_scratch_root_and_one_drain():
    """The engine takes every directory it makes for itself from one
    scratch root, the only ``mkdtemp``, and every streaming query runs
    through one drain, the only ``writeStream``."""
    assert _functions_naming("mkdtemp") == {"streaming/sinks.py::scratch_dir"}
    assert _functions_naming("writeStream") == {"streaming/sinks.py::_drain"}
