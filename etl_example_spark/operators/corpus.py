"""The end-to-end training-corpus curation pipeline, as one composition.

This is the workload the engine exists for, wired from the verified
pieces: length gate -> exact dedup (keep-first) -> MinHash-LSH near-dup
removal (exact-Jaccard verified) -> temperature mixture sampling ->
corpus stats. Every stage is deterministic (md5-derived decisions,
integer thresholds), so the WHOLE chain is hash-checked against a DuckDB
oracle that recomputes it end-to-end (plans/llm_ops d53) — not just the
stages in isolation.

Scale shape: stages 1-2 are a filter + one digest groupBy; stage 3 is
the sub-quadratic LSH path (never all-pairs); stage 4 is a tiny counts
aggregate + a pushdown-able predicate. Nothing in the chain shuffles
document text except the one shingle staging pass stage 3 shares with
every other dedup operator. Every stage executes its input once: the
staging pass checkpoints the deduped corpus (stages 1-2) before it
reads it, and the survivors of stage 3 come from that checkpoint, so
the gate, the digest groupBy and the semi join run once per chain.
MinHash signatures are a row-wise projection of the staged shingle
arrays, so stage 3's only shuffles are the LSH bucketing and the
verification joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_example_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    staged_shingles,
)
from etl_example_spark.operators.sampling import temperature_sample
from etl_example_spark.operators.text import token_count


def curate_corpus(
    docs: DataFrame,
    min_tokens: int = 5,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    alpha: float = 0.5,
    keep_fraction: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Surviving documents after the full curation chain.

    Near-dup removal drops every document that appears as the HIGHER id
    of a verified near-dup pair (keep-lowest greedy — deterministic, and
    exactly reproducible in SQL). Temperature rates are computed on the
    post-dedup corpus, as a real pipeline would.

    The deduped corpus is staged once (keyed by its lazy plan, so a
    repeat build in the session is a store hit); the near-dup pass and
    the survivors both read that one staged artifact.
    """
    gated = docs.filter(token_count(text_col) >= min_tokens)
    keepers = exact_dedup(gated, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    deduped = gated.join(keepers, id_col, "left_semi")
    staged = staged_shingles(deduped, n, text_col, id_col)
    pairs = minhash_lsh_dedup(
        deduped,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
        staged=staged,
    )
    near_dups = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    survivors = staged.rows.join(near_dups, id_col, "left_anti")
    return temperature_sample(
        survivors,
        alpha=alpha,
        keep_fraction=keep_fraction,
        stratum_col=stratum_col,
        id_col=id_col,
    )


def corpus_stats(
    curated: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum profile of the curated corpus: documents and exact
    token totals — the summary a curation job publishes."""
    return (
        curated.groupBy(stratum_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(text_col).cast("long")).alias("n_tokens"),
        )
        .orderBy(stratum_col)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus VERSION diff — the data-versioning primitive every
    periodically-recrawled corpus needs before retraining: classify
    each document id across two snapshots as ``added`` (new only),
    ``removed`` (old only), ``changed`` (both, content fingerprint
    differs) or ``unchanged``.

    Content comparison is by md5 fingerprint computed INSIDE each
    side's scan, so the full-outer join ships (id, 32-hex) pairs, never
    document text — at 100 TB the diff costs two narrow scans plus an
    id-keyed join (and if both snapshots are bucketed by id, no shuffle
    at all). NULL text fingerprints as the empty string on both engines
    (the tokenizer's NULL ≡ empty contract).

    Returns (id_col, status) — one row per id present in either
    snapshot; downstream rollups (counts per status, retrain triggers)
    are one tiny aggregate away.
    """
    def fp(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
        )

    o = fp(old).withColumnRenamed("_fp", "_fp_old")
    n = fp(new).withColumnRenamed("_fp", "_fp_new")
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") == F.col("_fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(id_col, status.alias("status"))
