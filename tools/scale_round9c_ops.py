"""Measure the round-9c additions at replicated scale: s51 BM25 top-k
(staging + probe measured separately — the staged postings artifact is
the reusable piece) and d96 paragraph dedup (SCALING.md method: sf0.1
documents replicated N× with distinct ids; copies append two unique
tokens so the duplicate-dense worst case holds for the dedup pass).

Uses the noop sink (full execution — a bare count() lets Catalyst prune
joins/explodes on apply-shaped queries).

Run from the repo root: ``python tools/scale_round9c_ops.py [N ...]``.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from etl_example_spark.operators import dedup, text  # noqa: E402
from etl_example_spark.plans.llm_ops import BM25_QUERIES  # noqa: E402
from etl_example_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def replicated_docs(spark, n: int):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copies = [base]
    for i in range(1, n):
        copies.append(
            base.withColumn(
                "doc_id", F.col("doc_id") + F.lit(i * 10_000_000)
            ).withColumn(
                "text",
                F.concat(
                    F.col("text"),
                    F.lit(" uniq"),
                    (F.col("doc_id") + F.lit(i * 10_000_000)).cast(
                        "string"
                    ),
                    F.lit(f" copy{i}"),
                ),
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.repartition(32).cache()


def timed(label: str, df) -> None:
    df.write.format("noop").mode("overwrite").save()  # warm-up
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    print(f"  {label}: {time.monotonic() - t0:.1f} s", flush=True)


def main() -> None:
    ns = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 8]
    spark = get_spark(app_name="scale-round9c", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id int, term string"
    )
    for n in ns:
        docs = replicated_docs(spark, n)
        print(f"x{n}: {docs.count():,} docs", flush=True)

        # s51 staging cost alone (the once-per-(corpus, terms) artifact)
        dedup.clear_staged_caches()
        t0 = time.monotonic()
        text._staged_bm25_tf(docs, queries, "text", "doc_id")
        print(
            f"  s51 postings staging: {time.monotonic() - t0:.1f} s",
            flush=True,
        )
        # probe against the staged artifact (what repeat queries pay)
        timed("s51 bm25_topk probe", text.bm25_topk(docs, queries, k=10))

        structured = docs.select(
            "doc_id",
            F.replace(
                F.replace(
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit("line"),
                    F.lit("\n"),
                ),
                F.lit("part"),
                F.lit("\n\n"),
            ).alias("text"),
        )
        timed(
            "d96 paragraph_dedup",
            dedup.line_dedup(structured, separator="\n\n"),
        )
        docs.unpersist()


def extra_ops(spark, ns):
    """x1/x4/x8 for the late round-9c additions: d98 token entropy and
    the st55 serving scorer run BATCH-side (the stream is the same
    stateless projection; batch timing isolates the scoring cost from
    micro-batch harness overhead)."""
    from etl_example_spark.plans.llm_ops import BM25_QUERIES

    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id int, term string"
    )
    query_terms = {}
    for qid, term in BM25_QUERIES:
        query_terms.setdefault(qid, []).append(term)
    for n in ns:
        docs = replicated_docs(spark, n)
        print(f"x{n}: {docs.count():,} docs", flush=True)
        timed("d98 token_entropy", text.token_entropy(docs))
        term_idf, n_docs, t_total = text.bm25_serving_stats(
            docs, queries
        )
        timed(
            "st55 serve_scores (batch-side)",
            text.bm25_serve_scores(
                docs, term_idf, query_terms, n_docs, t_total
            ),
        )
        docs.unpersist()


if __name__ == "__main__":
    main()
    if "--extra" in sys.argv:
        spark = get_spark(
            app_name="scale-round9c-extra", shuffle_partitions=32
        )
        extra_ops(spark, [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 8])


def trio_ops(spark, ns):
    """x1/x4/x8 for d99 (Gopher repetition), m44 (image phash dedup),
    and s52 (postings append; batch = 1/4 of docs, the bulk-reindex
    worst case)."""
    from etl_example_spark.operators import multimodal
    from etl_example_spark.plans.llm_ops import BM25_QUERIES

    terms = tuple(sorted({t for _, t in BM25_QUERIES}))
    for n in ns:
        docs = replicated_docs(spark, n)
        print(f"x{n}: {docs.count():,} docs", flush=True)
        timed(
            "d99 gopher_repetition",
            text.gopher_repetition_fractions(docs),
        )
        import hashlib

        import pandas as pd

        def phash(batches):
            import numpy as np

            for pdf in batches:
                rows = []
                for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                    d = hashlib.md5((t or "").encode()).digest()
                    arr = np.frombuffer(
                        d + d[:8], dtype=np.uint8
                    ).reshape(2, 4, 3)
                    decoded = multimodal.decode_ppm(
                        multimodal.encode_ppm(arr)
                    )
                    rows.append(
                        (doc_id, multimodal.average_hash(decoded))
                    )
                yield pd.DataFrame(rows, columns=["doc_id", "phash"])

        timed(
            "m44 image_phash_dedup",
            docs.select("doc_id", "text")
            .mapInPandas(phash, "doc_id long, phash long")
            .groupBy("phash")
            .agg(F.count("*").alias("n_images"), F.min("doc_id").alias("keep_id")),
        )
        old = docs.filter(F.col("doc_id") % 4 != 0)
        new = docs.filter(F.col("doc_id") % 4 == 0)
        stored = text.bm25_postings(old, terms)
        timed(
            "s52 bm25_append (1/4 batch, merged stats)",
            text.bm25_append_postings(stored, new, terms)
            .groupBy("term")
            .agg(
                F.count("*").alias("df"),
                F.sum("tf").alias("tf_sum"),
                F.sum("dl").alias("dl_sum"),
            ),
        )
        docs.unpersist()
