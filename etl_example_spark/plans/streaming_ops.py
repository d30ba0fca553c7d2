"""Structured Streaming queries as registered, oracle-checked entries.

Each builder runs a real streaming query (file-stream source →
watermarked event-time transformation → memory sink) to completion with
Trigger.AvailableNow, then returns the sink as a DataFrame. The DuckDB
oracles state the streaming semantics in batch SQL, *including the
append-mode emission rule*: with final watermark ``max(ts) - delay``
(AvailableNow runs a trailing no-data micro-batch that advances the
watermark past the last event), the emitted set is exactly the windows
with ``window_end <= max(ts) - delay`` — so late-data/watermark behavior
itself is hash-checked against an independent engine, not just eyeballed.

The maintenance builders (st45, st48–st54, st58, st61, st62,
st64–st69) instead keep epoch-keyed parquet slices: each is one
``streaming/sinks.maintain`` call with its per-micro-batch ``step``.

Implementations: etl_example_spark/streaming/{sources,windows,stateful,
sinks}.py. Batch twins: q20 (sessionize), q21 (tumbling) in
plans/relational.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_example_spark.functions.localrel import local_df
from etl_example_spark.plans.registry import register
from etl_example_spark.operators.sketches import (
    CMS_HEAVY_HITTERS_ORACLE,
)
from etl_example_spark.streaming.sinks import (
    maintain,
    run_to_memory,
    scratch_dir,
)
from etl_example_spark.streaming.sources import read_events_stream
from etl_example_spark.streaming.stateful import first_seen_dedup
from etl_example_spark.streaming.windows import (
    click_view_attribution,
    session_windows,
    sliding_counts,
    tumbling_counts,
)

SQL_EXACT_VALUE_SUM = (
    "CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100"
)

# shared DuckDB fragments for the document-stream oracles
from etl_example_spark.plans.llm_ops import (  # noqa: E402
    _DSIR_DIM,
    _DSIR_LW_SQL,
    _dsir_fit_ctes,
    HIST_QUANTILE_ORACLE,
    HLL_DISTINCT_ORACLE,
    _BM25_CDC_ORACLE,
    IVF_FULL_ASSIGN_ORACLE,
    JACCARD_COND,
    PQ_FULL_ENCODE_ORACLE,
    RESIDUAL_FULL_ENCODE_ORACLE,
    SQ8_CODES_CTE,
    SQL_NTOKS,
    SQL_SHINGLES3,
    SQL_TOKS,
    _strip_html_sql,
    _warc_html_sql,
)


@register(
    "st35_stream_tumbling",
    "Streaming tumbling 1h windows, complete mode: file-stream source -> "
    "F.window agg -> memory sink via AvailableNow. No watermark: complete "
    "mode re-emits the whole result table, so the final sink equals the "
    "batch aggregation exactly (streaming/windows.tumbling_counts).",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS window_start,
               COUNT(*) AS n_events,
               {SQL_EXACT_VALUE_SUM} AS total_value
        FROM events
        WHERE ts IS NOT NULL  -- F.window drops NULL event time
        GROUP BY window_start
        ORDER BY window_start
    """,
    category="streaming",
)
def st35_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = run_to_memory(tumbling_counts(stream), output_mode="complete")
    return result.orderBy("window_start")


@register(
    "st36_stream_sliding_watermark",
    "Streaming sliding windows (1h wide / 30min slide) with a 2h "
    "watermark, append mode: a window is emitted only once the watermark "
    "passes its end, so the output set itself encodes the late-data "
    "contract. The oracle expands the slide assignment (two 30min-grid "
    "starts per event) and applies the same cutoff "
    "window_end <= max(ts) - 2h (streaming/windows.sliding_counts).",
    oracle=f"""
        WITH mx AS (SELECT MAX(ts) AS mt FROM events),
        g AS (
            SELECT ts, value,
                   make_timestamp(
                       epoch_us(ts) // 1800000000 * 1800000000
                       - o.off * 1800000000) AS window_start
            FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off) o
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               COUNT(*) AS n_events,
               {SQL_EXACT_VALUE_SUM} AS total_value
        FROM g
        GROUP BY window_start
        HAVING window_start + INTERVAL 1 HOUR
               <= (SELECT mt FROM mx) - INTERVAL 2 HOUR
        ORDER BY window_start
    """,
    category="streaming",
)
def st36_stream_sliding_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = run_to_memory(sliding_counts(stream), output_mode="append")
    return result.orderBy("window_start")


@register(
    "st37_stream_session_windows",
    "Streaming per-user session windows (30min gap, 2h watermark, append "
    "mode): F.session_window merges events closer than the gap; window "
    "end = last event + gap; sessions emit when the watermark passes "
    "their end. Oracle: gaps-and-islands with new-session at gap >= "
    "30min plus the same cutoff (streaming/windows.session_windows; "
    "batch twin q20).",
    oracle=f"""
        WITH mx AS (SELECT MAX(ts) AS mt FROM events),
        flagged AS (
            SELECT user_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
            FROM events
            WHERE ts IS NOT NULL  -- session_window drops NULL event time
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flagged
        ),
        agg AS (
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                   COUNT(*) AS n_events,
                   {SQL_EXACT_VALUE_SUM} AS total_value
            FROM sess
            GROUP BY user_id, sess_id
        )
        SELECT user_id, session_start, session_end, n_events, total_value
        FROM agg
        WHERE session_end <= (SELECT mt FROM mx) - INTERVAL 2 HOUR
        ORDER BY user_id, session_start
    """,
    category="streaming",
)
def st37_stream_session_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = run_to_memory(session_windows(stream), output_mode="append")
    return result.orderBy("user_id", "session_start")


@register(
    "st39_stream_stream_join",
    "Stream-stream inner join with watermarked state: views attributed "
    "to same-user clicks within the prior 10 minutes. The event-time "
    "range condition lets Spark evict join state behind the watermark — "
    "bounded state over two unbounded streams; inner-join matches emit "
    "as found, so the single-batch run equals the batch time-range join "
    "(streaming/windows.click_view_attribution).",
    oracle="""
        SELECT c.user_id,
               c.event_id AS click_id,
               v.event_id AS view_id,
               c.ts AS click_ts,
               v.ts AS view_ts
        FROM events c
        JOIN events v
          ON v.user_id = c.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts > c.ts
         AND v.ts <= c.ts + INTERVAL 10 MINUTE
        ORDER BY click_id, view_id
    """,
    category="streaming",
)
def st39_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = read_events_stream(spark, sf_dir).filter(
        "event_type = 'click'"
    )
    views = read_events_stream(spark, sf_dir).filter("event_type = 'view'")
    result = run_to_memory(
        click_view_attribution(clicks, views), output_mode="append"
    )
    return result.orderBy("click_id", "view_id")


@register(
    "st38_stream_first_seen_dedup",
    "Custom stateful streaming operator (applyInPandasWithState): "
    "keep-first exact dedup per (user_id, event_type) with per-key "
    "GroupState persisting across micro-batches — the streaming analog "
    "of batch keep-first dedup. Deterministic: within-batch rows are "
    "ordered by (ts, event_id) before the first is chosen "
    "(streaming/stateful.first_seen_dedup).",
    oracle="""
        WITH ranked AS (
            SELECT user_id, event_type, ts, event_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS rn
            FROM events
            -- the ingestion contract first_seen_dedup enforces: a key
            -- needs all three fields; a NULL ts cannot be "first"
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
              AND event_type IS NOT NULL
        )
        SELECT user_id, event_type,
               ts AS first_ts, event_id AS first_event_id
        FROM ranked
        WHERE rn = 1
        ORDER BY user_id, event_type
    """,
    category="streaming",
)
def st38_stream_first_seen_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = run_to_memory(first_seen_dedup(stream), output_mode="update")
    return result.orderBy("user_id", "event_type")


@register(
    "st40_stream_update_counts",
    "Update-mode streaming aggregation (no watermark, no windows): "
    "running per-event-type counts and exact value sums; each micro-batch "
    "emits only the keys it changed. With one input batch the emitted set "
    "equals the batch aggregation — which is what the oracle states.",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               {SQL_EXACT_VALUE_SUM} AS total_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    category="streaming",
)
def st40_stream_update_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.functions.numeric import as_scaled_long

    stream = read_events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (F.sum(as_scaled_long("value")).cast("double") / 100).alias(
            "total_value"
        ),
    )
    return run_to_memory(agg, output_mode="update").orderBy("event_type")


@register(
    "st41_stream_builtin_dedup",
    "Built-in streaming dedup (dropDuplicatesWithinWatermark): distinct "
    "(user_id, event_type) keys with state evicted once the watermark "
    "passes a key's last-seen window — bounded state over an unbounded "
    "stream, vs st38's custom keep-first operator which also pins WHICH "
    "row survives. Output is the key set (payload survivor is "
    "batch-order-dependent by design), so the oracle is SELECT DISTINCT.",
    oracle="""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type
    """,
    category="streaming",
)
def st41_stream_builtin_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    result = run_to_memory(deduped, output_mode="append")
    return result.orderBy("user_id", "event_type")


@register(
    "st42_stream_static_enrichment",
    "Stream-static join: the event stream enriched per micro-batch with "
    "the static customer dimension (broadcast hash join on user_id = "
    "c_custkey, stateless, no watermark), then a running per-segment "
    "rollup in complete mode — the canonical streaming dimension "
    "enrichment (streaming/joins.enrich_with_dim).",
    oracle=f"""
        SELECT c.c_mktsegment,
               COUNT(*) AS n_events,
               {SQL_EXACT_VALUE_SUM} AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
        ORDER BY c.c_mktsegment
    """,
    category="streaming",
)
def st42_stream_static_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.joins import enrich_with_dim

    stream = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    enriched = enrich_with_dim(stream, customer, "user_id", "c_custkey")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / 100
        ).alias("total_value"),
    )
    result = run_to_memory(agg, output_mode="complete")
    return result.orderBy("c_mktsegment")


_SPAN_SCHEMA = "doc_id long, span_start long, span_end long, span_len long"


def _stream_in_four_files(df: DataFrame, schema) -> DataFrame:
    """``df`` landed as FOUR parquet files in a scratch dir and read back
    as a file stream of one file per micro-batch, so a maintenance loop
    runs over real multi-epoch state, not a single trivial slice."""
    landing = scratch_dir("landing_")
    df.repartition(4).write.mode("overwrite").parquet(landing)
    return (
        df.sparkSession.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(landing)
    )


def _stage_centroids(corpus: DataFrame) -> str:
    """Stage the frozen IVF quantizer to scratch parquet: the corpus's
    16 lowest-id vectors as (centroid_id, centroid_vec)."""
    from etl_example_spark.operators import similarity

    cents_dir = scratch_dir("ivf_quantizer_")
    similarity.seed_centroids(corpus, 16).write.mode("overwrite").parquet(
        cents_dir
    )
    return cents_dir


def _stage_ivf_index(corpus: DataFrame) -> tuple[str, str]:
    """Stage the frozen IVF serving artifacts of ``corpus``: the
    quantizer (:func:`_stage_centroids`) and the assignment table
    written ``partitionBy(centroid_id)``, so a per-batch cell join
    prunes to the probed cells' files. Zero-norm vectors carry a NULL
    cell and can never be probed candidates, so the artifact excludes
    them (the oracles' assignment CTEs drop them the same way)."""
    from pyspark.sql import functions as F

    from etl_example_spark.operators.similarity import (
        ivf_assign_with_centroids,
    )

    cents_dir = _stage_centroids(corpus)
    index_dir = scratch_dir("ivf_cells_")
    (
        ivf_assign_with_centroids(
            corpus, corpus.sparkSession.read.parquet(cents_dir)
        )
        .filter(F.col("centroid_id").isNotNull())
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(index_dir)
    )
    return cents_dir, index_dir


def _read_cell_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The cell-partitioned assignment artifact of :func:`_stage_ivf_index`.
    A partitioned write of no rows leaves no schema-bearing file, so an
    empty artifact reads back as an explicit empty frame."""
    import glob
    import os

    if not glob.glob(os.path.join(index_dir, "centroid_id=*")):
        return spark.createDataFrame(
            [],
            "vec_id long, embedding array<float>, c_sim double, "
            "centroid_id long",
        )
    return spark.read.parquet(index_dir)


@register(
    "st43_stream_cdc_apply",
    "Streaming CDC-merge sink: the event stream interpreted as change "
    "rows (error=delete, else upsert; ts is the sequence), applied per "
    "micro-batch to a parquet target via foreachBatch + apply_cdc with "
    "write-new-state-then-swap (idempotent per epoch — the exactly-once "
    "recipe for non-transactional sinks). Returns the final target "
    "state; the oracle replays the same last-writer-wins semantics in "
    "batch SQL (streaming/sinks.stream_cdc_to_parquet).",
    oracle="""
        WITH ranked AS (
            SELECT user_id, value, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC) AS rn
            FROM events
            -- a change row needs its key and its sequence
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        )
        SELECT user_id,
               CAST(ROUND(value * 100) AS BIGINT) AS value_cents
        FROM ranked
        WHERE rn = 1 AND event_type <> 'error'
        ORDER BY user_id
    """,
    category="streaming",
)
def st43_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.streaming.sinks import (
        read_cdc_state,
        stream_cdc_to_parquet,
    )

    stream = read_events_stream(spark, sf_dir)
    # a change row needs its key and its sequence — drop malformed rows
    # at the CDC boundary instead of inserting a NULL-keyed target row
    changes = stream.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.col("value"),
        F.when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("seq"),
    )
    target_path = scratch_dir("cdc_target_")
    stream_cdc_to_parquet(
        changes,
        target_path,
        key_cols=["user_id"],
        target_cols=["user_id", "value"],
        sequence_col="seq",
    )
    final = read_cdc_state(spark, target_path, sequence_col="seq")
    return final.select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    ).orderBy("user_id")


@register(
    "st44_stream_python_source",
    "Custom STREAMING Python data source: the synthetic generator's "
    "offset-managed stream half (offset = next unread id, batchRows per "
    "micro-batch, replay via readBetweenOffsets is deterministic), "
    "drained to a complete-mode rollup. The oracle regenerates the "
    "whole stream from range() — offsets, batching, and restart "
    "bookkeeping must not change WHAT was read "
    "(sources/python_datasource._CounterStreamReader).",
    oracle="""
        SELECT CAST(id % 10 AS INTEGER) AS bucket,
               COUNT(*) AS n,
               CAST(SUM((id * 2654435761) % 1000000) AS BIGINT)
                   AS score_sum
        FROM range(2000) t(id)
        GROUP BY bucket
        ORDER BY bucket
    """,
    category="streaming",
)
def st44_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.sources.python_datasource import (
        register_python_datasources,
    )

    register_python_datasources(spark)
    stream = (
        spark.readStream.format("synthetic_docs")
        .option("rows", 2000)
        .option("batchRows", 600)
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count("*").alias("n"), F.sum("score").alias("score_sum")
    )
    result = run_to_memory(agg, output_mode="complete", available_now=False)
    return result.orderBy("bucket")


@register(
    "st45_stream_neardup_probe",
    "Streaming ingestion dedup: arriving document batches (the stream "
    "carries the new fifth of the corpus) probe a stored LSH index per "
    "micro-batch via foreachBatch + probe_minhash_index, then APPEND "
    "their own digests to the index — so batches are checked against "
    "the static corpus, themselves, and every earlier batch (no "
    "new-by-new blind spot across micro-batches). Verified near-dup "
    "pairs append to a parquet sink — the continuously-ingested-corpus "
    "dedup loop. The oracle recomputes the same pair set from scratch "
    "(streaming/sources.read_documents_stream + "
    "operators/dedup.probe_minhash_index).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        sig AS (
            SELECT doc_id, s,
                   MIN(md5(CAST(s AS VARCHAR) || '|' || shingle)) AS mh
            FROM sh CROSS JOIN (SELECT unnest(range(16)) AS s) seeds
            GROUP BY doc_id, s
        ),
        bands AS (
            SELECT doc_id, s // 4 AS band_id,
                   md5(string_agg(mh, '|' ORDER BY s)) AS band_hash
            FROM sig GROUP BY doc_id, s // 4
        ),
        cands AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS i
            FROM cands c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE {JACCARD_COND}
          AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
        ORDER BY doc_a, doc_b
    """,
    category="streaming",
)
def st45_stream_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.dedup import minhash_index
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sinks import neardup_step
    from etl_example_spark.streaming.sources import read_documents_stream

    static_docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 != 0
    )
    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 0
    )
    # The LSH index lives as two epoch-sliced parquet tables, seeded
    # from the static corpus at epoch=-1; every micro-batch adds its own
    # slice of digests/sets, so a later batch's documents are compared
    # against all earlier batches too (new×new across micro-batches),
    # never just the static corpus. Per batch the corpus text is
    # untouched — probe cost is O(batch) + the band-equality join
    # against the stored index.
    pairs = maintain(
        stream,
        neardup_step(threshold=0.6),
        {"pairs": "doc_a long, doc_b long"},
        seed=dict(zip(("bands", "sets"), minhash_index(static_docs))),
    )["pairs"]
    return pairs.orderBy("doc_a", "doc_b")


@register(
    "st46_stream_bloom_probe",
    "Streaming benchmark-contamination gate: the Bloom filter built from "
    "the static benchmark set (md5-position construction, "
    "operators/dedup.bloom_build) is collected to a bounded literal "
    "position set and applied to the document STREAM as a pure column "
    "predicate (operators/dedup.bloom_hit_literal) — stateless per row, "
    "no per-batch filter rebuild, no stream-side join or shuffle before "
    "the final rollup. The per-source flag counts aggregate in complete "
    "mode; the oracle replays the identical bit arithmetic in batch "
    "SQL, so the streaming filter's hits are hash-verified externally.",
    oracle="""
        WITH b AS (
            SELECT md5(COALESCE(array_to_string(
                list_filter(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+'), zz_tok -> zz_tok <> '')[1:4], ' '), '')) AS fp
            FROM documents WHERE source = 'src0'
        ),
        pos AS (
            SELECT DISTINCT
                   substr(md5(CAST(i AS VARCHAR) || ':' || fp), 1, 2)
                       AS pos
            FROM b, LATERAL (SELECT unnest(range(3)) AS i) g
        ),
        c AS (
            SELECT doc_id, source,
                   md5(COALESCE(array_to_string(
                       list_filter(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+'), zz_tok -> zz_tok <> '')[1:4], ' '), '')) AS fp
            FROM documents WHERE source <> 'src0'
        ),
        flagged AS (
            SELECT c.doc_id, c.source,
                   (SELECT COUNT(DISTINCT i) FROM (
                        SELECT unnest(range(3)) AS i
                    ) s
                    WHERE substr(md5(CAST(i AS VARCHAR) || ':' || c.fp),
                                 1, 2) IN (SELECT pos FROM pos)) = 3
                       AS hit
            FROM c
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(hit) AS BIGINT) AS n_flagged
        FROM flagged
        GROUP BY source
        ORDER BY source
    """,
    category="streaming",
)
def st46_stream_bloom_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import dedup, text
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    head_fp = F.md5(
        F.array_join(F.slice(text.tokens("text"), 1, 4), " ")
    )
    bench = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select(head_fp.alias("fp"))
    )
    positions = {
        r.pos
        for r in dedup.bloom_build(bench, "fp", k=3, prefix_len=2).collect()
    }
    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("source") != "src0"
    )
    flagged = stream.select(
        "source",
        dedup.bloom_hit_literal(positions, head_fp, k=3, prefix_len=2)
        .alias("hit"),
    )
    agg = flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("hit")).alias("n_flagged"),
    )
    return run_to_memory(agg, output_mode="complete").orderBy("source")


@register(
    "st47_stream_quality_gate",
    "Streaming classifier inference at the ingest boundary: the hashed-"
    "feature linear quality score as a STATELESS per-row expression "
    "(token transform + integer aggregate HOF — no explode, no "
    "shuffle, no state store), gating each arriving document; running "
    "per-source kept/dropped counts in complete mode "
    "(operators/text.hashed_linear_quality_cols). The inference cost "
    "rides inside the micro-batch scan — the shape that holds at any "
    "ingest rate.",
    oracle="""
        WITH w AS (
            SELECT source,
                   list_sum(list_transform(
                       string_split_regex(trim(lower(text)), '\\s+'),
                       tok -> CAST(('0x' || substr(md5('w:' || CAST(
                                  CAST(('0x' || substr(md5(tok), 1, 8))
                                       AS BIGINT) % 1024 AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 2001 - 1000
                   )) AS w_sum
            FROM documents
            WHERE length(trim(text)) > 0
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(count_if(w_sum > 0) AS BIGINT) AS n_kept
        FROM w
        GROUP BY source
        ORDER BY source
    """,
    category="streaming",
)
def st47_stream_quality_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.text import hashed_linear_quality_cols
    from etl_example_spark.streaming.sources import read_documents_stream

    stream = read_documents_stream(spark, sf_dir).filter(
        F.length(F.trim("text")) > 0
    )
    _, w_sum = hashed_linear_quality_cols("text", 1024)
    scored = stream.select("source", (w_sum > 0).alias("keep"))
    agg = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("keep")).alias("n_kept"),
    )
    return run_to_memory(agg, output_mode="complete").orderBy("source")


@register(
    "st48_stream_countmin_maintenance",
    "Streaming count-min maintenance: each micro-batch builds its OWN "
    "partition sketch (one pass over the batch's tokens) and writes it "
    "to an epoch-keyed slice (overwrite per epoch — idempotent under "
    "micro-batch retry, the st45 discipline); the global sketch is the "
    "cell-wise sum across epochs — exactly the mergeability the "
    "sketch exists for (tests assert the merge law). The final "
    "heavy-hitter read joins the merged grid against the exact top-20 "
    "with the certified never-underestimates flag; the oracle builds "
    "the same grid in batch SQL, so stream-merged == batch-built is "
    "hash-verified externally (operators/sketches).",
    oracle=CMS_HEAVY_HITTERS_ORACLE,
    category="streaming",
)
def st48_stream_countmin_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import sketches, text
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    stream = read_documents_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.length(F.trim("text")) > 0)

    def update(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        toks = batch_df.select(
            F.explode(text.tokens("text")).alias("item")
        )
        return {"grid": sketches.countmin_build(toks)}

    epoch_grids = maintain(
        stream, update, {"grid": "row int, col long, cnt long"}
    )["grid"]
    merged = epoch_grids.groupBy("row", "col").agg(
        F.sum("cnt").alias("cnt")
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(F.explode(text.tokens("text")).alias("item"))
    return sketches.heavy_hitters_certificate(toks, merged)


@register(
    "st49_stream_ivf_maintenance",
    "Streaming ANN index maintenance — the streaming half of the "
    "s47/s48 incremental-ANN story: the coarse quantizer (16 lowest-id "
    "existing vectors) and the existing corpus's assignments are "
    "SEEDED to parquet once (epoch=-1); each arriving micro-batch of "
    "new embeddings (vec_id % 4 == 0) is assigned against the STORED "
    "centroids read back from the quantizer artifact and written to "
    "its own epoch slice (overwrite per epoch — idempotent under "
    "micro-batch retry, the st45/st48 discipline). The indexed corpus "
    "is never rescanned; per-batch work is O(batch x centroids). The "
    "final read of the epoch-partitioned assignment table must "
    "hash-match the oracle's FULL from-scratch assignment of every "
    "vector — stream-maintained == batch-rebuilt, externally verified "
    "(operators/similarity.ivf_assign_with_centroids).",
    oracle=IVF_FULL_ASSIGN_ORACLE,
    category="streaming",
)
def st49_stream_ivf_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.similarity import (
        ivf_assign_with_centroids,
    )
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_embeddings_stream

    static = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 4 != 0
    )
    # the stored quantizer artifact: centroids written once, read back
    # per micro-batch — assignment never depends on driver state
    cents_dir = _stage_centroids(static)
    cents = spark.read.parquet(cents_dir)

    stream = read_embeddings_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.col("vec_id") % 4 == 0)

    def update(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        stored_cents = batch_df.sparkSession.read.parquet(cents_dir)
        return {"assign": ivf_assign_with_centroids(batch_df, stored_cents)}

    assigned = maintain(
        stream,
        update,
        {},
        seed={"assign": ivf_assign_with_centroids(static, cents)},
    )["assign"]
    return assigned.select("vec_id", "centroid_id", "c_sim").orderBy(
        "vec_id"
    )


@register(
    "st50_stream_pq_maintenance",
    "Streaming PQ index maintenance — st49's product-quantization "
    "twin: codebooks (seeded from the 16 lowest-id existing vectors' "
    "subvector slices, m=8) and the existing corpus's codes are SEEDED "
    "to parquet once; each arriving micro-batch of new embeddings "
    "(vec_id % 4 == 0) is encoded against the STORED codebooks read "
    "back from the artifact (rounded argmin, round_digits=6) and "
    "written to its own epoch slice (overwrite per epoch — idempotent "
    "under retry). No re-encoding of the indexed corpus; per-batch "
    "work is O(batch x m x n_codes). The final read of the "
    "epoch-partitioned code table must hash-match the oracle's FULL "
    "from-scratch encode — stream-maintained == batch-rebuilt "
    "(operators/similarity.pq_encode_vectors).",
    oracle=PQ_FULL_ENCODE_ORACLE,
    category="streaming",
)
def st50_stream_pq_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.similarity import (
        pq_encode_vectors,
        pq_train,
    )
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_embeddings_stream

    static = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 4 != 0
    )
    cb_dir = scratch_dir("pq_codebooks_")
    # stored quantizer artifact: codebooks written once (iters=0 keeps
    # the seeding deterministic and oracle-replayable), read back per
    # micro-batch
    pq_train(static, m=8, n_codes=16, iters=0).write.mode(
        "overwrite"
    ).parquet(cb_dir)

    def encode_exploded(batch_df: DataFrame) -> DataFrame:
        stored_cb = batch_df.sparkSession.read.parquet(cb_dir)
        return pq_encode_vectors(
            batch_df, stored_cb, m=8, round_digits=6
        ).select("vec_id", F.posexplode("codes").alias("j", "code"))

    stream = read_embeddings_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.col("vec_id") % 4 == 0)
    codes = maintain(
        stream,
        lambda batch_df, older: {"codes": encode_exploded(batch_df)},
        {},
        seed={"codes": encode_exploded(static)},
    )["codes"]
    return codes.select("vec_id", "j", "code").orderBy("vec_id", "j")


@register(
    "st61_stream_residual_maintenance",
    "Streaming RESIDUAL IVF-PQ index maintenance — the streaming half "
    "of the s62 incremental-residual story, completing the lifecycle "
    "parity the raw layout has (st49 coarse / st50 PQ): the frozen "
    "quantizer pair (coarse centroids = the 16 lowest-id existing "
    "normalized vectors; residual codebooks seeded from the 16 "
    "lowest-id existing residual rows' m=8 slices) and the existing "
    "corpus's (id, centroid, codes) rows are SEEDED to parquet once "
    "(epoch=-1); each arriving micro-batch of new embeddings "
    "(vec_id % 4 == 0) is residual-encoded against the artifacts read "
    "back from parquet (operators/similarity.ivfpq_residual_encode, "
    "round_digits=6) and written to its own epoch slice (overwrite "
    "per epoch — idempotent under micro-batch retry, the st45/st49 "
    "discipline). The indexed corpus is never re-encoded; per-batch "
    "work is O(batch × (n_centroids + m × n_codes)). The final read "
    "of the epoch-partitioned artifact must hash-match the oracle's "
    "FULL from-scratch residual encode — stream-maintained == "
    "batch-rebuilt, externally verified.",
    oracle=RESIDUAL_FULL_ENCODE_ORACLE,
    category="streaming",
)
def st61_stream_residual_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.similarity import (
        ivfpq_residual_encode,
        ivfpq_residual_train,
    )
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_embeddings_stream

    static = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 4 != 0
    )
    cents_dir = scratch_dir("respq_centroids_")
    cb_dir = scratch_dir("respq_codebooks_")
    # stored quantizer pair: written once (iters=0 keeps the codebook
    # seeding deterministic and oracle-replayable), read back per batch
    cents, cb = ivfpq_residual_train(
        static, n_centroids=16, m=8, n_codes=16, iters=0
    )
    cents.write.mode("overwrite").parquet(cents_dir)
    cb.write.mode("overwrite").parquet(cb_dir)

    def encode_exploded(batch_df: DataFrame) -> DataFrame:
        s = batch_df.sparkSession
        return ivfpq_residual_encode(
            batch_df,
            s.read.parquet(cents_dir),
            s.read.parquet(cb_dir),
            m=8,
            round_digits=6,
        ).select(
            "vec_id",
            "centroid_id",
            F.posexplode("codes").alias("j", "code"),
        )

    stream = read_embeddings_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.col("vec_id") % 4 == 0)
    codes = maintain(
        stream,
        lambda batch_df, older: {"codes": encode_exploded(batch_df)},
        {},
        seed={"codes": encode_exploded(static)},
    )["codes"]
    return codes.select("vec_id", "centroid_id", "j", "code").orderBy(
        "vec_id", "j"
    )


@register(
    "st51_stream_span_maintenance",
    "Streaming substring-dedup index maintenance — the streaming half "
    "of the d86 incremental-span story: the stored span index "
    "(one row per distinct 8-token window, hash pair + first "
    "occurrence, never span text) is SEEDED to parquet from the "
    "already-ingested corpus (doc_id % 5 != 0, epoch=-1); each "
    "arriving micro-batch of new documents probes the index read back "
    "from parquet (operators/dedup.probe_span_index — duplicate "
    "anchors merge to maximal removal intervals, arrival order beats "
    "id order) and then APPENDS its own epoch slice of span-index "
    "rows, so later batches are checked against the static corpus AND "
    "every earlier batch (no new-by-new blind spot). Both writes "
    "OVERWRITE their epoch slice — idempotent under micro-batch "
    "retry, the st45/st49 discipline; offline compaction of the "
    "epoch slices is operators/dedup.merge_span_index. The indexed "
    "corpus is never rescanned — per-batch work is O(batch tokens).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        occ AS (
            SELECT doc_id, i AS pos,
                   md5(array_to_string(toks[(i+1):(i+8)], ' ')) AS h
            FROM t, LATERAL (
                SELECT unnest(range(len(toks) - 8 + 1)) AS i
            ) g
            WHERE len(toks) >= 8
        ),
        ex AS (
            SELECT DISTINCT h FROM occ WHERE doc_id % 5 != 0
        ),
        dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos, h,
                       ROW_NUMBER() OVER (
                           PARTITION BY h ORDER BY doc_id, pos
                       ) AS rk
                FROM occ WHERE doc_id % 5 = 0
            ) WHERE rk > 1 OR h IN (SELECT h FROM ex)
        ),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN pos > COALESCE(MAX(pos + 8) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_island
            FROM dup
        ),
        grp AS (
            SELECT doc_id, pos,
                   SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                   ) AS island
            FROM isl
        ),
        spans AS (
            SELECT doc_id,
                   CAST(MIN(pos) AS BIGINT) AS span_start,
                   CAST(MAX(pos) + 8 AS BIGINT) AS span_end
            FROM grp GROUP BY doc_id, island
        )
        SELECT doc_id, span_start, span_end,
               span_end - span_start AS span_len
        FROM spans
        ORDER BY doc_id, span_start
    """,
    category="streaming",
)
def st51_stream_span_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.dedup import (
        probe_span_index,
        span_index,
    )
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    static = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 != 0
    )
    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 0
    )

    def update(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        # membership is all the probe needs, so the union of epoch
        # slices (same hash possibly in several epochs) IS the index;
        # merge_span_index consolidates offline when slices pile up
        return {
            "spans": probe_span_index(
                older("idx"), batch_df, span_tokens=8
            ),
            "idx": span_index(batch_df, span_tokens=8),
        }

    spans = maintain(
        stream,
        update,
        {"spans": _SPAN_SCHEMA},
        seed={"idx": span_index(static, span_tokens=8)},
    )["spans"]
    return spans.select(
        "doc_id", "span_start", "span_end", "span_len"
    ).orderBy("doc_id", "span_start")


@register(
    "st52_stream_line_maintenance",
    "Streaming C4-pass index maintenance — the streaming half of the "
    "d70 incremental-line story, and the line-level sibling of st51: "
    "the stored line index (one row per distinct line hash + first "
    "occurrence, never line text) is SEEDED to parquet from the "
    "already-ingested corpus (doc_id % 5 != 0, epoch=-1); each "
    "arriving micro-batch probes the union of epoch slices read back "
    "from parquet (operators/dedup.probe_line_index — a batch line "
    "survives only if unseen in the index and first within its batch; "
    "arrival order beats id order) and then APPENDS its own epoch "
    "slice of line-index rows, so later batches are checked against "
    "the static corpus AND every earlier batch. Epoch-sliced "
    "overwrites are idempotent under micro-batch retry; offline "
    "compaction is operators/dedup.merge_line_index. Per-batch work "
    "is O(batch lines).",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKS} AS toks FROM documents
        ),
        lines AS (
            SELECT doc_id, i AS line_idx,
                   array_to_string(toks[(i*10+1):(i*10+10)], ' ')
                       AS line_text
            FROM t, LATERAL (
                SELECT unnest(range(CAST(ceil(len(toks)/10.0) AS BIGINT)))
                       AS i
            ) g
        ),
        ex AS (
            SELECT DISTINCT md5(line_text) AS lh
            FROM lines WHERE doc_id % 5 != 0
        ),
        bl AS (
            SELECT doc_id, line_idx, line_text,
                   md5(line_text) AS lh,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(line_text)
                       ORDER BY doc_id, line_idx
                   ) AS rk
            FROM lines WHERE doc_id % 5 = 0
        ),
        dec AS (
            SELECT *,
                   (rk = 1 AND lh NOT IN (SELECT lh FROM ex)) AS kept
            FROM bl
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(count_if(kept) AS BIGINT) AS kept_lines,
               CAST(count_if(NOT kept) AS BIGINT) AS dropped_lines,
               md5(COALESCE(string_agg(
                   CASE WHEN kept THEN line_text END, chr(10)
                   ORDER BY line_idx), '')) AS cleaned_fp
        FROM dec
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    category="streaming",
)
def st52_stream_line_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.dedup import (
        line_index,
        probe_line_index,
    )
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    static = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 != 0
    )
    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 5 == 0
    )

    def update(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        # membership is all the probe needs — the union of epoch
        # slices IS the index; compaction happens offline
        return {
            "lines": probe_line_index(older("idx"), batch_df),
            "idx": line_index(batch_df),
        }

    lines = maintain(
        stream,
        update,
        {
            "lines": "doc_id long, n_lines long, kept_lines long, "
            "dropped_lines long, cleaned_fp string"
        },
        seed={"idx": line_index(static)},
    )["lines"]
    return lines.select(
        "doc_id", "n_lines", "kept_lines", "dropped_lines", "cleaned_fp"
    ).orderBy("doc_id")


@register(
    "st53_stream_decontaminate",
    "Streaming span-level benchmark decontamination — d90's probe as "
    "a continuous ingestion gate: the benchmark's distinct 13-gram "
    "hash pairs (operators/dedup.benchmark_hash_index — hash pairs "
    "only, never benchmark text) are written to parquet ONCE; each "
    "arriving micro-batch of corpus documents probes the stored index "
    "(probe_benchmark_hashes — O(batch tokens), the benchmark is "
    "never re-tokenized) and its overlap intervals OVERWRITE their "
    "epoch slice of the output (idempotent under micro-batch retry, "
    "the st45/st51 discipline). The probe is stateless per document, "
    "so the union of epoch slices equals the batch d90 result "
    "exactly — which is what the oracle recomputes from scratch.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents
        ),
        bs AS (
            SELECT DISTINCT
                   array_to_string(toks[(i+1):(i+13)], ' ') AS s
            FROM t, LATERAL (
                SELECT unnest(range(len(toks) - 13 + 1)) AS i
            ) g
            WHERE source = 'src0' AND len(toks) >= 13
        ),
        occ AS (
            SELECT doc_id, i AS pos,
                   array_to_string(toks[(i+1):(i+13)], ' ') AS s
            FROM t, LATERAL (
                SELECT unnest(range(len(toks) - 13 + 1)) AS i
            ) g
            WHERE source != 'src0' AND len(toks) >= 13
        ),
        hit AS (
            SELECT doc_id, pos FROM occ WHERE s IN (SELECT s FROM bs)
        ),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN pos > COALESCE(MAX(pos + 13) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), -1)
                        THEN 1 ELSE 0 END AS new_island
            FROM hit
        ),
        grp AS (
            SELECT doc_id, pos,
                   SUM(new_island) OVER (
                       PARTITION BY doc_id ORDER BY pos
                   ) AS island
            FROM isl
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + 13 AS BIGINT) AS span_end,
               CAST(MAX(pos) + 13 - MIN(pos) AS BIGINT) AS span_len
        FROM grp GROUP BY doc_id, island
        ORDER BY doc_id, span_start
    """,
    category="streaming",
)
def st53_stream_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators.dedup import (
        benchmark_hash_index,
        probe_benchmark_hashes,
    )
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    bench = load_table(spark, sf_dir, "documents").filter(
        F.col("source") == "src0"
    )
    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("source") != "src0"
    )
    # the benchmark index is only ever the seed slice: no batch adds to it
    spans = maintain(
        stream,
        lambda batch_df, older: {
            "spans": probe_benchmark_hashes(
                older("idx"), batch_df, span_tokens=13
            )
        },
        {"spans": _SPAN_SCHEMA},
        seed={"idx": benchmark_hash_index(bench, span_tokens=13)},
    )["spans"]
    return spans.select(
        "doc_id", "span_start", "span_end", "span_len"
    ).orderBy("doc_id", "span_start")


def _run_sq8_maintenance(spark: SparkSession, sf_dir: str) -> str:
    """The st54 streaming-maintenance flow, factored so st62 can run
    the identical ingest and then compact: seed the frozen (lo, hi)
    bounds + the existing corpus's codes to parquet, stream the new
    batches into per-epoch slices, return the artifact directory."""
    from pyspark.sql import functions as F

    from etl_example_spark.operators.similarity import (
        sq8_encode,
        sq8_train,
    )
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_embeddings_stream

    static = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 4 != 0
    )
    bounds_dir = scratch_dir("sq8_bounds_")
    # stored quantizer artifact: the 1-row (lo, hi) bounds written
    # once, read back per micro-batch — the frozen quantizer
    sq8_train(static).write.mode("overwrite").parquet(bounds_dir)

    def encode_exploded(batch_df: DataFrame) -> DataFrame:
        stored_bounds = batch_df.sparkSession.read.parquet(bounds_dir)
        return sq8_encode(batch_df, stored_bounds).select(
            "vec_id", F.posexplode("codes").alias("j", "code")
        )

    stream = read_embeddings_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.col("vec_id") % 4 == 0)
    return maintain(
        stream,
        lambda batch_df, older: {"codes": encode_exploded(batch_df)},
        {},
        seed={"codes": encode_exploded(static)},
    ).paths["codes"]


@register(
    "st54_stream_sq8_maintenance",
    "Streaming SQ8 index maintenance — the uniform-scalar-quantizer "
    "member of the st49/st50 family, completing streaming maintenance "
    "across all three quantizers: the (lo, hi) bounds artifact (global "
    "element min/max of the EXISTING corpus) and the existing corpus's "
    "codes are SEEDED to parquet once (epoch=-1); each arriving "
    "micro-batch of new embeddings (vec_id % 4 == 0) is encoded "
    "against the STORED bounds read back from the artifact "
    "(out-of-range elements clamp to the edge codes) and written to "
    "its own epoch slice (overwrite per epoch — idempotent under "
    "micro-batch retry). The indexed corpus is never re-encoded; "
    "per-batch work is O(batch x dim). The final read of the "
    "epoch-partitioned code table must hash-match the oracle's FULL "
    "from-scratch encode against the same frozen bounds — "
    "stream-maintained == batch-rebuilt, externally verified "
    "(operators/similarity.sq8_encode/sq8_train).",
    oracle="WITH "
    + SQ8_CODES_CTE.format(bounds_filter=" WHERE vec_id % 4 != 0")
    + """
    SELECT vec_id, CAST(j AS INT) AS j, codes[j + 1] AS code
    FROM c CROSS JOIN (SELECT unnest(range(64)) AS j) js
    ORDER BY vec_id, j
    """,
    category="streaming",
)
def st54_stream_sq8_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    codes_dir = _run_sq8_maintenance(spark, sf_dir)
    return (
        spark.read.parquet(codes_dir)
        .select("vec_id", "j", "code")
        .orderBy("vec_id", "j")
    )


@register(
    "st62_stream_index_compaction",
    "Hot/cold COMPACTION of a streaming-maintained index, serve-"
    "equality certified — the table-maintenance job every epoch-"
    "sliced landing zone needs (st49–st55/st60-style appends grow one "
    "parquet slice per micro-batch FOREVER; scans then pay per-file "
    "open/footer costs and lose row-group pruning): the st54 SQ8 "
    "ingest runs verbatim (frozen bounds, per-epoch slices), then "
    "sources/writers.compact_small_files rewrites the whole artifact "
    "into ceil(bytes/target) files and republishes the path with one "
    "atomic _CURRENT-pointer replace (the object-store-portable "
    "publish; in-flight readers of the prior generation finish "
    "undisturbed), and the SERVE reads through the repointed path "
    "(sources/writers.resolve_dataset_path). The oracle is st54's "
    "FULL from-scratch encode, so a hash match proves compacted-"
    "artifact-served == stream-maintained == batch-rebuilt in one "
    "certificate; the file-count collapse itself is asserted in "
    "tests/test_streaming.py.",
    oracle="WITH "
    + SQ8_CODES_CTE.format(bounds_filter=" WHERE vec_id % 4 != 0")
    + """
    SELECT vec_id, CAST(j AS INT) AS j, codes[j + 1] AS code
    FROM c CROSS JOIN (SELECT unnest(range(64)) AS j) js
    ORDER BY vec_id, j
    """,
    category="streaming",
)
def st62_stream_index_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.sources.writers import (
        compact_small_files,
        resolve_dataset_path,
    )

    codes_dir = _run_sq8_maintenance(spark, sf_dir)
    compact_small_files(spark, codes_dir, target_file_bytes=128 * 1024 * 1024)
    return (
        spark.read.parquet(resolve_dataset_path(codes_dir))
        .select("vec_id", "j", "code")
        .orderBy("vec_id", "j")
    )


@register(
    "st63_stream_dsir_gate",
    "STREAMING DSIR gate — data selection at ingest, the "
    "offline-train / online-serve split (the st55 discipline applied "
    "to the d117 importance model): the hashed-n-gram delta model "
    "fits ONCE on the static corpus (two model-sized counting "
    "passes), then ships into the stream plan as a FROZEN literal "
    "array; every arriving document scores its integer micro-nat log "
    "importance weight IN-ROW (operators/text.dsir_logweight — "
    "stateless, zero joins, zero per-row state store; the only state "
    "is the complete-mode rollup) and gates on logw > 0 (more "
    "target-like than pool-like). Because scoring is stateless "
    "per-row arithmetic, stream-scored == batch-scored is a LAW, and "
    "the oracle replays fit, scoring, gate, and the per-language "
    "decision rollup from the same parquet the stream drains.",
    oracle=f"""
        WITH {_dsir_fit_ctes()},
        scored AS (
            SELECT n.lang, {_DSIR_LW_SQL} AS lw
            FROM ng n CROSS JOIN dl
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN lw > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(COALESCE(SUM(CASE WHEN lw > 0 THEN lw END), 0)
                   AS BIGINT) AS kept_logw_sum
        FROM scored
        GROUP BY lang
        ORDER BY lang
    """,
    category="streaming",
)
def st63_stream_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import text
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    static = load_table(spark, sf_dir, "documents")
    delta = text.dsir_delta_train(
        static.filter(F.col("lang") == "en"), static, dim=_DSIR_DIM
    )
    stream = read_documents_stream(spark, sf_dir)
    scored = stream.select(
        "lang", text.dsir_logweight(delta, dim=_DSIR_DIM).alias("lw")
    )
    agg = scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("lw") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.coalesce(F.sum(F.when(F.col("lw") > 0, F.col("lw"))), F.lit(0))
        .cast("long")
        .alias("kept_logw_sum"),
    )
    return run_to_memory(agg, output_mode="complete").orderBy("lang")


@register(
    "st55_stream_bm25_route",
    "Retrieval-at-ingest: every ARRIVING document scored against the "
    "standing BM25 query set with FROZEN corpus statistics — the "
    "offline-train / online-serve split (stats collected once from the "
    "static corpus as exact integers; the stream never re-derives a "
    "transcendental). Scoring is STATELESS per row — per-term tf is a "
    "higher-order filter over the bound token array, no explode before "
    "the filter, no shuffle, no state store — so stream-scored == "
    "batch-scored is a law, and the oracle replays the whole thing in "
    "batch SQL with s51's arithmetic. Emits per query the matched-doc "
    "count and the exact integer score mass "
    "(operators/text.bm25_serve_scores).",
    oracle=f"""
        WITH q(query_id, term) AS (
            VALUES (1, 'hash'), (1, 'join'), (1, 'merge'),
                   (2, 'window'), (2, 'sort'), (2, 'order'),
                   (3, 'spark'), (3, 'stream'), (3, 'batch'),
                   (3, 'vector')
        ),
        tok AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS HUGEINT) AS tf
            FROM tok WHERE term <> '' GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        dl AS (
            SELECT doc_id, CAST(SUM(tf) AS HUGEINT) AS dl
            FROM tf GROUP BY doc_id
        ),
        tot AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n_docs,
                   CAST(COALESCE(SUM(CASE WHEN trim(lower(text)) = ''
                            THEN 0 ELSE len({SQL_TOKS}) END), 0)
                       AS HUGEINT) AS t_total
            FROM documents
        ),
        contrib AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(CAST(ROUND(ln((n_docs + 1) / (df + 0.5)), 6)
                             AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
                   * 22 * t_total * tf
                   // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs)
                       AS c
            FROM q
            JOIN tf USING (term)
            JOIN dfreq USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN tot
        ),
        scored AS (
            SELECT query_id, doc_id,
                   CAST(SUM(c) AS BIGINT) AS score_micro
            FROM contrib GROUP BY query_id, doc_id
        )
        SELECT query_id,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(SUM(score_micro) AS BIGINT) AS score_mass_micro
        FROM scored WHERE score_micro > 0
        GROUP BY query_id ORDER BY query_id
    """,
    category="streaming",
)
def st55_stream_bm25_route(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import text
    from etl_example_spark.plans.llm_ops import BM25_QUERIES
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    static = load_table(spark, sf_dir, "documents")
    queries = local_df(
        spark, BM25_QUERIES, "query_id int, term string"
    )
    term_idf, n_docs, t_total = text.bm25_serving_stats(static, queries)
    query_terms: dict[int, list[str]] = {}
    for qid, term in BM25_QUERIES:
        query_terms.setdefault(qid, []).append(term)

    stream = read_documents_stream(spark, sf_dir)
    scored = text.bm25_serve_scores(
        stream, term_idf, query_terms, n_docs, t_total
    )
    agg = scored.groupBy("query_id").agg(
        F.count("*").alias("n_matched"),
        F.sum("score_micro").alias("score_mass_micro"),
    )
    return run_to_memory(agg, output_mode="complete").orderBy("query_id")


@register(
    "st56_stream_warc_ingest",
    "STREAMING crawl ingestion — the web-curation head as a live "
    "feed: the WARC source's offset-managed stream half "
    "(sources/warc._WarcStreamReader; offset = next record id, the "
    "SAME synthesize+real-parse kernel as the batch partitions, "
    "readBetweenOffsets replays committed ranges deterministically) "
    "drains through the strip_html extraction and a token-count/char "
    "rollup per page bucket in complete mode. The oracle regenerates "
    "the whole crawl from range() and replays the extraction chain — "
    "offsets, micro-batching, and restart bookkeeping must not "
    "change WHAT was read or extracted.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range(400)) AS i),
        pages AS (
            SELECT i, {_warc_html_sql("i")} AS html FROM ids
        ),
        txt AS (
            SELECT i, {_strip_html_sql("html")} AS text FROM pages
        )
        SELECT CAST(i % 10 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(SUM(length(text)) AS BIGINT) AS chars,
               CAST(SUM({SQL_NTOKS}) AS BIGINT) AS toks
        FROM txt
        GROUP BY bucket
        ORDER BY bucket
    """,
    category="streaming",
)
def st56_stream_warc_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import text
    from etl_example_spark.operators.extraction import strip_html
    from etl_example_spark.sources.warc import register_warc_datasource

    register_warc_datasource(spark)
    stream = (
        spark.readStream.format("synthetic_warc")
        .option("rows", 400)
        .option("batchRows", 120)
        .load()
    )
    ext = stream.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("int").alias("page"),
        strip_html("html").alias("text"),
    )
    agg = ext.groupBy((F.col("page") % 10).alias("bucket")).agg(
        F.count("*").alias("n_pages"),
        F.sum(F.length("text")).alias("chars"),
        F.sum(text.token_count("text")).alias("toks"),
    )
    result = run_to_memory(agg, output_mode="complete", available_now=False)
    return result.orderBy("bucket")


@register(
    "st59_stream_wet_ingest",
    "STREAMING WET ingestion — the text-first crawl feed live: the "
    "WET source's offset-managed stream half (sources/warc."
    "_WetStreamReader, conversion records with plain-text bodies and "
    "no HTTP envelope, every-7th-page mirror structure) drains "
    "STRAIGHT into the token gate and a per-bucket rollup that "
    "carries a distinct-content count (size(collect_set(md5)) — the "
    "streaming-legal distinct), so the crawl's duplicate structure is "
    "visible through the live path with NO extraction stage. The "
    "oracle regenerates every conversion body (including the mirror "
    "rule) from range() and replays gate + rollup — micro-batching "
    "and offset bookkeeping must not change WHAT was read.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range(400)) AS i),
        base AS (
            SELECT i, CASE WHEN i % 7 = 6 AND i > 0 THEN i - 1
                           ELSE i END AS src_i
            FROM ids
        ),
        pages AS (
            SELECT i,
                   'Doc ' || src_i || chr(10) ||
                   'alpha ' || substr(md5(CAST(src_i AS VARCHAR)), 1, 8)
                   || ' & café' || chr(10) ||
                   'beta ' || substr(md5(CAST(src_i AS VARCHAR)), 9, 8)
                       AS text
            FROM base
        ),
        gated AS (SELECT i, text FROM pages WHERE {SQL_NTOKS} >= 5)
        SELECT CAST(i % 10 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(SUM(length(text)) AS BIGINT) AS chars,
               CAST(SUM({SQL_NTOKS}) AS BIGINT) AS toks,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
                   AS n_distinct_texts
        FROM gated
        GROUP BY bucket
        ORDER BY bucket
    """,
    category="streaming",
)
def st59_stream_wet_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import text
    from etl_example_spark.sources.warc import register_wet_datasource

    register_wet_datasource(spark)
    stream = (
        spark.readStream.format("synthetic_wet")
        .option("rows", 400)
        .option("batchRows", 120)
        .option("dupEvery", 7)
        .load()
    )
    gated = stream.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("int").alias("page"),
        "text",
    ).filter(text.token_count("text") >= 5)
    agg = gated.groupBy((F.col("page") % 10).alias("bucket")).agg(
        F.count("*").alias("n_pages"),
        F.sum(F.length("text")).alias("chars"),
        F.sum(text.token_count("text")).alias("toks"),
        # distinct content through the live path: collect_set is the
        # streaming-legal distinct (COUNT(DISTINCT) is disallowed in
        # complete-mode streaming aggregations)
        F.size(F.collect_set(F.md5("text"))).cast("long").alias(
            "n_distinct_texts"
        ),
    )
    result = run_to_memory(agg, output_mode="complete", available_now=False)
    return result.orderBy("bucket")


@register(
    "st57_stream_quota_admission",
    "Streaming per-source ADMISSION QUOTA (applyInPandasWithState): "
    "admit at most 10 documents per source across the whole stream — "
    "the ingest-time form of the d64/d105 per-host/per-domain caps, "
    "enforced as documents arrive instead of by a full-corpus pass. "
    "Per-key GroupState is ONE counter (bytes, not documents); within "
    "a batch candidates admit in doc_id order, so the admitted set is "
    "exactly the SQL rank filter the oracle states. Only the "
    "(source, doc_id, admit_seq) admission log passes through the "
    "Python kernel — document text never does "
    "(streaming/stateful.quota_admission).",
    oracle="""
        WITH ranked AS (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY doc_id
                   ) AS admit_seq
            FROM documents
            -- the ingestion contract quota_admission enforces
            WHERE source IS NOT NULL AND doc_id IS NOT NULL
        )
        SELECT source, doc_id, CAST(admit_seq AS BIGINT) AS admit_seq
        FROM ranked
        WHERE admit_seq <= 10
        ORDER BY source, doc_id
    """,
    category="streaming",
)
def st57_stream_quota_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.streaming.sources import read_documents_stream
    from etl_example_spark.streaming.stateful import quota_admission

    stream = read_documents_stream(spark, sf_dir)
    result = run_to_memory(
        quota_admission(stream, quota=10), output_mode="append"
    )
    return result.orderBy("source", "doc_id")


@register(
    "st58_stream_phrase_route",
    "Streaming phrase-hit routing — the positional-index query class "
    "(s54) served AT INGEST: each arriving micro-batch of documents "
    "is phrase-searched (shifted position-list intersection, postings "
    "restricted to the phrase's terms inside the batch scan) and its "
    "hits append to an epoch slice (overwrite per epoch — idempotent "
    "under micro-batch retry). Batch-locality is exact: a phrase "
    "match lives entirely inside one document, so stream-accumulated "
    "hits == the batch query over the union, which is what the "
    "oracle states (operators/text.phrase_search).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        g AS (
            SELECT doc_id
            FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
            WHERE toks[i] = 'slow'
              AND toks[i + 1] = 'hash'
              AND toks[i + 2] = 'batch'
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM g GROUP BY doc_id ORDER BY doc_id
    """,
    category="streaming",
)
def st58_stream_phrase_route(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.operators import text
    from etl_example_spark.streaming.sources import read_documents_stream

    hits = maintain(
        read_documents_stream(spark, sf_dir),
        lambda batch_df, older: {
            "hits": text.phrase_search(batch_df, ["slow", "hash", "batch"])
        },
        {"hits": "doc_id long, n_hits long"},
    )["hits"]
    return hits.select("doc_id", "n_hits").orderBy("doc_id")


@register(
    "st60_stream_wet_files",
    "FILE-BACKED streaming WET ingestion — the production crawl feed "
    "live AND from real bytes on disk: the stream half of the crawl "
    "source's file mode (sources/warc._WetFileStreamReader) walks the "
    "staged '.wet' files with a (file index, byte position) offset, "
    "each micro-batch parsing the next batchBytes range through the "
    "same ranged-read slice parser batch file-mode uses — head-offset "
    "record ownership makes micro-batch boundaries exact, and replay "
    "re-parses committed byte ranges from disk (the files ARE the "
    "replay log; no side state). Downstream is st59's exact token "
    "gate + per-bucket rollup with the collect_set distinct, and the "
    "oracle is st59's verbatim, so a hash match proves "
    "file-stream == synth-stream == batch == SQL on the same records "
    "— the last edge of the crawl front-door square.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range(400)) AS i),
        base AS (
            SELECT i, CASE WHEN i % 7 = 6 AND i > 0 THEN i - 1
                           ELSE i END AS src_i
            FROM ids
        ),
        pages AS (
            SELECT i,
                   'Doc ' || src_i || chr(10) ||
                   'alpha ' || substr(md5(CAST(src_i AS VARCHAR)), 1, 8)
                   || ' & café' || chr(10) ||
                   'beta ' || substr(md5(CAST(src_i AS VARCHAR)), 9, 8)
                       AS text
            FROM base
        ),
        gated AS (SELECT i, text FROM pages WHERE {SQL_NTOKS} >= 5)
        SELECT CAST(i % 10 AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pages,
               CAST(SUM(length(text)) AS BIGINT) AS chars,
               CAST(SUM({SQL_NTOKS}) AS BIGINT) AS toks,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
                   AS n_distinct_texts
        FROM gated
        GROUP BY bucket
        ORDER BY bucket
    """,
    category="streaming",
)
def st60_stream_wet_files(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import text
    from etl_example_spark.plans.llm_ops import _stage_wet_files
    from etl_example_spark.sources.warc import register_wet_datasource

    register_wet_datasource(spark)
    stream = (
        spark.readStream.format("synthetic_wet")
        .option("path", _stage_wet_files(400, 7))
        .option("batchBytes", 16 * 1024)
        .load()
    )
    gated = stream.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("int").alias("page"),
        "text",
    ).filter(text.token_count("text") >= 5)
    agg = gated.groupBy((F.col("page") % 10).alias("bucket")).agg(
        F.count("*").alias("n_pages"),
        F.sum(F.length("text")).alias("chars"),
        F.sum(text.token_count("text")).alias("toks"),
        F.size(F.collect_set(F.md5("text"))).cast("long").alias(
            "n_distinct_texts"
        ),
    )
    result = run_to_memory(agg, output_mode="complete", available_now=False)
    return result.orderBy("bucket")


#: Batch replay of the FULL streaming IVF serve: corpus assignment
#: from scratch (16 lowest-id centroids, rounded argmax, zero-norm
#: corpus vectors drop — they are never candidates), every query
#: (vec_id % 16 == 0, zero-norm queries drop) probes its top-2 cells
#: (rounded centroid cosine, ties to the lower centroid id), and the
#: exact rerank over ONLY those cells' members keeps top-5 (ties to
#: the lower neighbor id). The streaming side answers each micro-batch
#: of queries from the STORED artifacts; since every query arrives
#: exactly once, the union of epoch outputs must hash-match this
#: all-queries batch replay.
IVF_BATCH_SERVE_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, v AS cv
        FROM e ORDER BY vec_id LIMIT 16
    ),
    asims AS (
        SELECT e.vec_id, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(e.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(e.v, c.cv), 6)
               END AS c_sim
        FROM e CROSS JOIN cents c
    ),
    asg AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c_sim DESC, centroid_id
                   ) AS rk
            FROM asims WHERE c_sim IS NOT NULL
        ) WHERE rk = 1
    ),
    qsims AS (
        SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(q.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(q.v, c.cv), 6)
               END AS q_sim
        FROM e q CROSS JOIN cents c
        WHERE q.vec_id % 16 = 0
    ),
    probe AS (
        SELECT query_id, qv, centroid_id FROM (
            SELECT query_id, qv, centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY q_sim DESC, centroid_id
                   ) AS rk
            FROM qsims WHERE q_sim IS NOT NULL
        ) WHERE rk <= 2
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(ev.v, p.qv), 6) AS cosine_sim
        FROM probe p
        JOIN asg a ON a.centroid_id = p.centroid_id
        JOIN e ev ON ev.vec_id = a.vec_id
        WHERE a.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rk FROM (
        SELECT query_id, neighbor_id, cosine_sim,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id
               ) AS INT) AS rk
        FROM cand WHERE cosine_sim IS NOT NULL
    ) WHERE rk <= 5
    ORDER BY query_id, rk
"""


@register(
    "st64_stream_ivf_serve",
    "Streaming ANN SERVE from the stored IVF index — the query-side "
    "twin of st49's maintenance: centroids and the cell-partitioned "
    "assignment table are staged to parquet once (the artifact is "
    "written partitionBy(centroid_id), so the per-batch cell join "
    "prunes to the probed cells' files — the s57 bucket-pruning "
    "discipline for vectors); each arriving micro-batch of queries "
    "(vec_id % 16 == 0) probes its top-2 cells and exact-reranks only "
    "their members (operators/similarity.ivf_topk_batch), writing one "
    "epoch slice per batch (overwrite — idempotent under retry). The "
    "corpus is NEVER re-assigned at query time. Every query arrives "
    "exactly once, so the union of epoch outputs hash-matches the "
    "oracle's all-queries batch replay: stream-served == batch-served "
    "from the same artifact, externally verified.",
    oracle=IVF_BATCH_SERVE_ORACLE,
    category="streaming",
)
def st64_stream_ivf_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import similarity
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_embeddings_stream

    cents_dir, index_dir = _stage_ivf_index(
        load_table(spark, sf_dir, "embeddings")
    )
    stream = read_embeddings_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.col("vec_id") % 16 == 0)

    def serve(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        s = batch_df.sparkSession
        return {
            "served": similarity.ivf_topk_batch(
                batch_df,
                s.read.parquet(cents_dir),
                _read_cell_index(s, index_dir),
                k=5,
                nprobe=2,
            )
        }

    served = maintain(
        stream,
        serve,
        {
            "served": "query_id long, neighbor_id long, cosine_sim double, "
            "rk int"
        },
    )["served"]
    return served.select(
        "query_id", "neighbor_id", "cosine_sim", "rk"
    ).orderBy("query_id", "rk")


@register(
    "st65_stream_hll_maintenance",
    "Streaming HyperLogLog maintenance — the d118 distinct sketch's "
    "streaming form, and the cleanest possible incremental-index law: "
    "each arriving micro-batch of documents folds to its own 256 "
    "(bucket, register) rows (max md5-rank per bucket, "
    "operators/sketches.hll_ranks) written to an idempotent epoch "
    "slice; registers merge across epochs by cell-wise MAX, which is "
    "exactly the operation the sketch is built from, so "
    "stream-maintained == batch-built NEEDS no replay bookkeeping at "
    "all — the final read merges the slices and must hash-match the "
    "oracle's single global build (the IDENTICAL oracle d118 uses, "
    "estimate arithmetic included). Per-batch state on the wire: 256 "
    "integers, regardless of batch or corpus size — the streaming "
    "distinct-count answer at 100 TB ingest rates.",
    oracle=HLL_DISTINCT_ORACLE,
    category="streaming",
)
def st65_stream_hll_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import sketches
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import DOCUMENTS_SCHEMA

    stream = _stream_in_four_files(
        load_table(spark, sf_dir, "documents"), DOCUMENTS_SCHEMA
    )

    def fold(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        items = batch_df.select(
            F.coalesce("text", F.lit("")).alias("item")
        )
        return {
            "registers": sketches.hll_registers(
                sketches.hll_ranks(items), batch_df.sparkSession
            )
        }

    slices = maintain(
        stream, fold, {"registers": "bucket int, register int"}
    )["registers"]
    merged = slices.groupBy("bucket").agg(
        F.max("register").alias("register")
    )
    dense = (
        spark.range(256)
        .select(F.col("id").cast("int").alias("bucket"))
        .join(merged, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("register", F.lit(0)).cast("int").alias("register"),
        )
    )
    est = dense.agg(*sketches.hll_estimate_cols()).withColumn(
        "estimate", sketches.hll_estimate_expr()
    )
    return dense.crossJoin(F.broadcast(est)).orderBy("bucket")


#: Full batch replay of the streaming hybrid serve: every query doc
#: (doc_id % 64 == 0) derives its keyword probe from its own first
#: three tokens (query-by-example), the BM25 arm scores the FULL
#: corpus with the shared decimal arithmetic (top-20), the vector arm
#: probes the frozen IVF index with the query's embedding where one
#: exists (top-2 cells, exact rerank, top-20, self excluded), and the
#: two shortlists fuse per query with integer RRF (top-10). The
#: streaming side serves each micro-batch from the stored bucketed
#: postings + stats sidecar + cell-partitioned assignment artifacts;
#: every query arrives exactly once, so the union of epoch outputs
#: must hash-match this all-queries replay.
HYBRID_STREAM_SERVE_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {SQL_TOKS} AS toks FROM documents
    ),
    q AS (
        SELECT DISTINCT query_id, term FROM (
            SELECT doc_id AS query_id,
                   unnest(list_slice(toks, 1, 3)) AS term
            FROM t WHERE doc_id % 64 = 0
        )
    ),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS HUGEINT) AS tf
        FROM tok WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf
        WHERE term IN (SELECT term FROM q) GROUP BY term
    ),
    dl AS (
        SELECT doc_id, CAST(SUM(tf) AS HUGEINT) AS dl
        FROM tf GROUP BY doc_id
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n_docs,
               CAST(COALESCE(SUM({SQL_NTOKS}), 0) AS HUGEINT) AS t_total
        FROM documents
    ),
    contrib AS (
        SELECT q.query_id, tf.doc_id,
               CAST(CAST(ROUND(ln((n_docs + 1) / (df + 0.5)), 6)
                         AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
               * 22 * t_total * tf
               // (10 * t_total * tf + 3 * t_total + 9 * dl * n_docs)
                   AS c
        FROM q
        JOIN tf USING (term)
        JOIN dfreq USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN tot
    ),
    kwsc AS (
        SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS score_micro
        FROM contrib GROUP BY query_id, doc_id
    ),
    kwarm AS (
        SELECT query_id, doc_id, CAST(rk AS INT) AS kw_rank FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id
                   ) AS rk
            FROM kwsc
        ) WHERE rk <= 20
    ),
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, v AS cv
        FROM e ORDER BY vec_id LIMIT 16
    ),
    asims AS (
        SELECT e.vec_id, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(e.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(e.v, c.cv), 6)
               END AS c_sim
        FROM e CROSS JOIN cents c
    ),
    asg AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c_sim DESC, centroid_id
                   ) AS rk
            FROM asims WHERE c_sim IS NOT NULL
        ) WHERE rk = 1
    ),
    qsims AS (
        SELECT qv.vec_id AS query_id, qv.v AS qvec, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(qv.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(qv.v, c.cv), 6)
               END AS q_sim
        FROM e qv CROSS JOIN cents c
        WHERE qv.vec_id % 64 = 0
    ),
    probe AS (
        SELECT query_id, qvec, centroid_id FROM (
            SELECT query_id, qvec, centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY q_sim DESC, centroid_id
                   ) AS rk
            FROM qsims WHERE q_sim IS NOT NULL
        ) WHERE rk <= 2
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(ev.v, p.qvec), 6)
                   AS cosine_sim
        FROM probe p
        JOIN asg a ON a.centroid_id = p.centroid_id
        JOIN e ev ON ev.vec_id = a.vec_id
        WHERE a.vec_id != p.query_id
    ),
    semarm AS (
        SELECT query_id, neighbor_id AS doc_id,
               CAST(rk AS INT) AS sem_rank
        FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id
                   ) AS rk
            FROM cand WHERE cosine_sim IS NOT NULL
        ) WHERE rk <= 20
    ),
    fused AS (
        SELECT COALESCE(kw.query_id, sem.query_id) AS query_id,
               COALESCE(kw.doc_id, sem.doc_id) AS doc_id,
               kw.kw_rank, sem.sem_rank
        FROM kwarm kw FULL OUTER JOIN semarm sem
          ON kw.query_id = sem.query_id AND kw.doc_id = sem.doc_id
    ),
    scored AS (
        SELECT query_id, doc_id, kw_rank, sem_rank,
               CAST(COALESCE(1000000 // (60 + kw_rank), 0)
                    + COALESCE(1000000 // (60 + sem_rank), 0)
                    AS BIGINT) AS rrf_score
        FROM fused
    )
    SELECT query_id, doc_id, kw_rank, sem_rank, rrf_score,
           CAST(rk AS INT) AS rk
    FROM (
        SELECT query_id, doc_id, kw_rank, sem_rank, rrf_score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf_score DESC, doc_id
               ) AS rk
        FROM scored
    ) WHERE rk <= 10
    ORDER BY query_id, rk
"""


@register(
    "st66_stream_hybrid_serve",
    "STREAMING hybrid retrieval serve — s59's index-served fusion "
    "lifted to the stream, completing the serving stack's streaming "
    "story (st55 ingest-side scoring, st64 vector serve, now the "
    "fused front door): hybrid queries arrive as a document stream "
    "(query-by-example: doc_id %% 64 == 0; keyword probe = the doc's "
    "own first three tokens, vector probe = its stored embedding "
    "where one exists), and every micro-batch is answered ENTIRELY "
    "from stored artifacts — the term-bucketed BM25 postings + stats "
    "sidecar (bucket-pruned scan, top-20), the frozen-centroid "
    "cell-partitioned IVF assignment table (top-2 cells, exact "
    "rerank, top-20), and a per-query integer-RRF fusion of the two "
    "shortlists (top-10, operators/similarity."
    "rrf_fuse_shortlists_by_query) — the corpus is never re-scanned, "
    "re-tokenized, or re-assigned at query time. Epoch slices are "
    "idempotent; every query arrives exactly once, so the union of "
    "epochs hash-matches the oracle's all-queries replay of both "
    "arms and the fusion.",
    oracle=HYBRID_STREAM_SERVE_ORACLE,
    category="streaming",
)
def st66_stream_hybrid_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import similarity, text
    from etl_example_spark.plans.llm_ops import _stage_bm25_bucketed
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_documents_stream

    table, n_docs, t_total = _stage_bm25_bucketed(spark, sf_dir)
    cents_dir, index_dir = _stage_ivf_index(
        load_table(spark, sf_dir, "embeddings")
    )
    stream = read_documents_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.col("doc_id") % 64 == 0)

    def serve(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        s = batch_df.sparkSession
        queries = (
            batch_df.select(
                F.col("doc_id").alias("query_id"),
                F.explode(
                    F.slice(
                        text.tokens(F.coalesce("text", F.lit(""))), 1, 3
                    )
                ).alias("term"),
            )
            .distinct()
        )
        kw = text.bm25_topk_from_bucketed(
            s, table, queries, n_docs, t_total, k=20
        ).select(
            "query_id", "doc_id", F.col("rk").cast("int").alias("kw_rank")
        )
        qvecs = load_table(s, sf_dir, "embeddings").join(
            F.broadcast(batch_df.select(F.col("doc_id").alias("vec_id"))),
            "vec_id",
        )
        sem = similarity.ivf_topk_batch(
            qvecs,
            s.read.parquet(cents_dir),
            _read_cell_index(s, index_dir),
            k=20,
            nprobe=2,
        ).select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rk").cast("int").alias("sem_rank"),
        )
        return {"served": similarity.rrf_fuse_shortlists_by_query(kw, sem, k=10)}

    served = maintain(
        stream,
        serve,
        {
            "served": "query_id long, doc_id long, kw_rank int, "
            "sem_rank int, rrf_score long, rk int"
        },
    )["served"]
    return served.select(
        "query_id", "doc_id", "kw_rank", "sem_rank", "rrf_score", "rk"
    ).orderBy("query_id", "rk")


#: Batch replay of the streaming SemDeDup admission gate: the EXISTING
#: corpus (vec_id % 4 != 0) is indexed once — cell assignment + rounded
#: centroid-sim under the 16 lowest-id EXISTING vectors as frozen
#: centroids — and every arriving vector (vec_id % 4 == 0) is admitted
#: iff NO stored member of its cell sits at rounded cosine >= 0.3 AND
#: dominates it under the s70 keep rule (keep the vector LESS similar
#: to the centroid, ties to the lower id). Newcomers are judged
#: against the STORED index only (the d55 incremental discipline) —
#: same-batch arrivals never interact, so the gate is order-free and
#: exactly replayable.
STREAM_SEMDEDUP_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    old AS (SELECT * FROM e WHERE vec_id % 4 != 0),
    cents AS (
        SELECT vec_id AS centroid_id, v AS cv
        FROM old ORDER BY vec_id LIMIT 16
    ),
    osims AS (
        SELECT o.vec_id, o.v, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(o.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(o.v, c.cv), 6)
               END AS c_sim
        FROM old o CROSS JOIN cents c
    ),
    oasg AS (
        SELECT vec_id, v, centroid_id, c_sim FROM (
            SELECT vec_id, v, centroid_id, c_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c_sim DESC, centroid_id
                   ) AS rk
            FROM osims WHERE c_sim IS NOT NULL
        ) WHERE rk = 1
    ),
    newv AS (SELECT * FROM e WHERE vec_id % 4 = 0),
    nsims AS (
        SELECT n.vec_id, n.v, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(n.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(n.v, c.cv), 6)
               END AS c_sim
        FROM newv n CROSS JOIN cents c
    ),
    nasg AS (
        SELECT vec_id, v, centroid_id, c_sim FROM (
            SELECT vec_id, v, centroid_id, c_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c_sim DESC, centroid_id
                   ) AS rk
            FROM nsims WHERE c_sim IS NOT NULL
        ) WHERE rk = 1
    ),
    dominated AS (
        SELECT DISTINCT n.vec_id
        FROM nasg n JOIN oasg o
          ON n.centroid_id = o.centroid_id
        WHERE ROUND(list_cosine_similarity(n.v, o.v), 6) >= 0.3
          AND (n.c_sim > o.c_sim
               OR (n.c_sim = o.c_sim AND n.vec_id > o.vec_id))
    )
    SELECT n.vec_id, n.centroid_id, n.c_sim,
           (d.vec_id IS NULL) AS admit
    FROM (
        SELECT nv.vec_id, a.centroid_id, a.c_sim
        FROM newv nv LEFT JOIN nasg a ON a.vec_id = nv.vec_id
    ) n
    LEFT JOIN dominated d ON d.vec_id = n.vec_id
    ORDER BY n.vec_id
"""


@register(
    "st67_stream_semdedup_gate",
    "STREAMING SemDeDup admission gate — s70's cluster-partitioned "
    "semantic dedup enforced AT INGEST (the production use: an "
    "arriving embedded document is admitted only if it is not a "
    "semantic duplicate of what the corpus already holds): the "
    "existing corpus's cell assignment + centroid-sims are staged "
    "once as a cell-PARTITIONED artifact under frozen centroids; each "
    "arriving micro-batch (vec_id %% 4 == 0) assigns against the "
    "frozen centroids (O(batch x cells)), joins ONLY its own cells' "
    "stored members, and is dropped iff some stored member at rounded "
    "cosine >= 0.3 dominates it under the diversity keep rule. "
    "Newcomers are judged against the STORED index only — same-batch "
    "arrivals never interact — so the gate is order-free, idempotent "
    "per epoch slice, and the union of epochs hash-matches the "
    "oracle's batch replay of every admission decision. Zero-norm "
    "arrivals carry a NULL cell and are always admitted "
    "(operators/similarity.semdedup's assignment kernel + one "
    "cell-keyed equi-join per batch).",
    oracle=STREAM_SEMDEDUP_ORACLE,
    category="streaming",
)
def st67_stream_semdedup_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import similarity
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import read_embeddings_stream

    old = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 4 != 0
    )
    cents_dir, index_dir = _stage_ivf_index(old)
    stream = read_embeddings_stream(
        spark, sf_dir, max_files_per_trigger=1
    ).filter(F.col("vec_id") % 4 == 0)

    def gate(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        s = batch_df.sparkSession
        cents = s.read.parquet(cents_dir)
        arriving = similarity.ivf_assign_with_centroids(batch_df, cents)
        stored = _read_cell_index(s, index_dir).select(
            F.col("centroid_id").alias("_cell"),
            F.col("vec_id").alias("_oid"),
            F.col("embedding").alias("_ovec"),
            F.col("c_sim").alias("_osim"),
        )
        dominated = (
            arriving.select(
                F.col("vec_id").alias("_nid"),
                F.col("embedding").alias("_nvec"),
                F.col("centroid_id").alias("_cell"),
                F.col("c_sim").alias("_nsim"),
            )
            .join(stored, "_cell")
            .filter(
                F.round(similarity.cosine("_nvec", "_ovec"), 6) >= 0.3
            )
            .filter(
                (F.col("_nsim") > F.col("_osim"))
                | (
                    (F.col("_nsim") == F.col("_osim"))
                    & (F.col("_nid") > F.col("_oid"))
                )
            )
            .select(F.col("_nid").alias("vec_id"))
            .distinct()
        )
        admitted = arriving.join(
            dominated.withColumn("_hit", F.lit(True)), "vec_id", "left"
        ).select(
            "vec_id",
            "centroid_id",
            "c_sim",
            F.coalesce(~F.col("_hit"), F.lit(True)).alias("admit"),
        )
        return {"admitted": admitted}

    out = maintain(
        stream,
        gate,
        {"admitted": "vec_id long, centroid_id long, c_sim double, "
         "admit boolean"},
    )["admitted"]
    return out.select(
        "vec_id", "centroid_id", "c_sim", "admit"
    ).orderBy("vec_id")


@register(
    "st68_stream_cdc_index_maintenance",
    "STREAMING CDC index maintenance — s73's recrawl loop consumed as "
    "a CHANGE-EVENT STREAM (the shape a continuously-recrawling "
    "pipeline actually emits): corpus v1 is indexed once; the d104 "
    "fingerprint diff's (doc_id, status) events land as files and "
    "arrive in micro-batches; each batch writes its removed+changed "
    "ids to a TOMBSTONE epoch slice and tokenizes ONLY its "
    "added+changed documents (semi-join against the static v2 "
    "snapshot) into a DELTA epoch slice — idempotent per epoch, "
    "O(batch) work, v1's unchanged docs never re-tokenized. After the "
    "stream drains, serving reads base (bucket-pruned) ANTI the "
    "accumulated tombstones UNION the accumulated delta, with totals "
    "adjusted by the touched docs only, and must hash-match the SAME "
    "rebuild-on-v2 oracle s73 certifies against — batch-maintained == "
    "stream-maintained == rebuilt, one ground truth for the whole "
    "lifecycle (operators/corpus.snapshot_diff + text.bm25_postings "
    "+ text._bm25_rank).",
    oracle=_BM25_CDC_ORACLE,
    category="streaming",
)
def st68_stream_cdc_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib

    from pyspark.sql import functions as F

    from etl_example_spark.operators import text
    from etl_example_spark.operators.corpus import snapshot_diff
    from etl_example_spark.operators.text import _bm25_rank
    from etl_example_spark.plans.llm_ops import BM25_SERVE_QUERIES
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.sources.writers import write_bucketed_table

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 11 != 0)
    v2 = docs.filter(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
        ).otherwise(F.col("text")),
    )

    def totals(df: DataFrame) -> tuple[int, int]:
        row = df.select(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(
                    text.token_count(F.coalesce(F.col("text"), F.lit("")))
                ),
                F.lit(0),
            ).alias("t"),
        ).collect()[0]
        return int(row["n"]), int(row["t"])

    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"bm25_stcdc_base_{slug}"
    write_bucketed_table(
        text.bm25_postings(v1, None), base, ["term"], 32,
        sort_by=["term"],
    )
    n1, t1 = totals(v1)

    # the change-event stream: the fingerprint diff lands as FOUR
    # files so the maintenance loop runs over real micro-batches
    stream = _stream_in_four_files(
        snapshot_diff(v1, v2).filter(F.col("status") != "unchanged"),
        "doc_id long, status string",
    )

    def update(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        s = batch_df.sparkSession
        v2_static = load_table(s, sf_dir, "documents").filter(
            F.col("doc_id") % 17 != 0
        ).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")
                ),
            ).otherwise(F.col("text")),
        )
        arr_ids = batch_df.filter(
            F.col("status").isin("added", "changed")
        ).select("doc_id")
        arriving = v2_static.join(F.broadcast(arr_ids), "doc_id")
        return {
            "tombs": batch_df.filter(
                F.col("status").isin("removed", "changed")
            ).select("doc_id"),
            # id slice, not derived from postings later: a token-less
            # added document produces NO postings rows but still counts
            # toward n_docs — the totals must see it
            "arrivals": arr_ids,
            "delta": text.bm25_postings(arriving, None),
        }

    out = maintain(
        stream,
        update,
        {
            "tombs": "doc_id long",
            "arrivals": "doc_id long",
            "delta": "doc_id long, term string, tf long, dl long",
        },
    )
    tombstones = out["tombs"].select("doc_id")
    delta = out["delta"]
    n_gone, t_gone = totals(v1.join(F.broadcast(tombstones), "doc_id"))
    arrivals = out["arrivals"].select("doc_id")
    n_arr, t_arr = totals(v2.join(F.broadcast(arrivals), "doc_id"))

    queries = local_df(
        spark, BM25_SERVE_QUERIES, "query_id int, term string"
    )
    terms = tuple(
        sorted({r[0] for r in queries.select("term").collect()})
    )
    matched = (
        spark.table(base)
        .filter(F.col("term").isin(*terms))
        .join(F.broadcast(tombstones), "doc_id", "left_anti")
        .unionByName(
            delta.filter(F.col("term").isin(*terms)).select(
                *spark.table(base).columns
            )
        )
    )
    totals_df = F.broadcast(
        local_df(
            spark,
            [(n1 - n_gone + n_arr, t1 - t_gone + t_arr)],
            "n_docs bigint, t_total bigint",
        )
    )
    return _bm25_rank(matched, queries, totals_df, k=10).orderBy(
        "query_id", "rk"
    )


@register(
    "st69_stream_hist_maintenance",
    "Streaming HISTOGRAM maintenance — the d120 quantile sketch's "
    "streaming form, completing the mergeable-sketch streaming triple "
    "(st48 count-min: cell-wise ADD; st65 HLL: cell-wise MAX; this: "
    "bin-wise ADD): each arriving micro-batch of documents folds to "
    "its own 128-bin token-count histogram written to an idempotent "
    "epoch slice; bins merge across epochs by summing counts — "
    "exactly the operation the sketch is built from. After the drain, "
    "the quantile read and the certificate's exact arm run over the "
    "merged registers and must hash-match the IDENTICAL d120 oracle "
    "(global build + per-quantile within-bin bound included): "
    "stream-maintained == batch-built == bounded. Per-batch state on "
    "the wire: 128 integers.",
    oracle=HIST_QUANTILE_ORACLE,
    category="streaming",
)
def st69_stream_hist_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import text as _text
    from etl_example_spark.sources.loaders import load_table
    from etl_example_spark.streaming.sources import DOCUMENTS_SCHEMA

    stream = _stream_in_four_files(
        load_table(spark, sf_dir, "documents"), DOCUMENTS_SCHEMA
    )

    def fold(batch_df: DataFrame, older) -> dict[str, DataFrame]:
        bins = (
            batch_df.select(
                _text.token_count(
                    F.coalesce("text", F.lit(""))
                ).alias("v")
            )
            .select(F.least(F.expr("v div 8"), F.lit(127)).alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        return {"bins": bins}

    slices = maintain(stream, fold, {"bins": "bin int, cnt long"})["bins"]
    merged = slices.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    cum = (
        merged.alias("a")
        .join(merged.alias("b"), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(F.sum("b.cnt").alias("cum"))
    )
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select(
        _text.token_count(F.coalesce("text", F.lit(""))).alias("v")
    )
    tot = vals.agg(F.count("*").cast("long").alias("n_docs"))
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in (250, 500, 750, 900, 990)])
        ).alias("q_permille")
    )
    tgt = qs.crossJoin(F.broadcast(tot)).withColumn(
        "target",
        F.expr("CAST((q_permille * n_docs + 999) div 1000 AS BIGINT)"),
    )
    est = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("target"))
        .groupBy("q_permille", "n_docs")
        .agg((F.min("bin") * 8).cast("long").alias("est_lo"))
    )
    vcnt = vals.groupBy("v").agg(F.count("*").alias("vc"))
    vcum = (
        vcnt.alias("a")
        .join(vcnt.alias("b"), F.col("b.v") <= F.col("a.v"))
        .groupBy(F.col("a.v").alias("v"))
        .agg(F.sum("b.vc").alias("cum_v"))
    )
    ex = (
        tgt.join(F.broadcast(vcum), F.col("cum_v") >= F.col("target"))
        .groupBy("q_permille")
        .agg(F.min("v").cast("long").alias("exact_q"))
    )
    return (
        est.join(ex, "q_permille")
        .select(
            "q_permille",
            "n_docs",
            "est_lo",
            "exact_q",
            (
                (F.col("exact_q") >= F.col("est_lo"))
                & (F.col("exact_q") < F.col("est_lo") + 8)
            ).alias("within_bin"),
        )
        .orderBy("q_permille")
    )
