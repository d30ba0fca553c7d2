"""The corpus chain executes each input once: the staged shingle build
reads a derived input only through its checkpoint, MinHash signatures
are a row-wise projection equal to the explode + min-aggregate form,
and one ``curate_corpus`` call stages one artifact within a fixed job
budget."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_example_spark import artifacts
from etl_example_spark.operators import dedup
from etl_example_spark.operators.corpus import curate_corpus
from etl_example_spark.operators.text import token_count
from tests.jobs import launched_jobs

DEGENERATE_DOCS = [
    (1, None),
    (2, ""),
    (3, "two words"),
    (4, "one"),
    (5, "a b c a b c a b c a b c"),
    (6, "the the the the the the"),
    (7, "café naïve 日本語 テキスト über straße ✓ ✓ ✓"),
    (8, "the quick brown fox jumps over the lazy dog again"),
    (9, "   \t\n  "),
    (10, "Ünïcödé ÜNÏCÖDÉ ünïcödé"),
]


@pytest.fixture(autouse=True)
def _empty_store():
    artifacts.clear()
    yield
    artifacts.clear()


def _reference_signatures(docs: DataFrame, num_hashes: int) -> DataFrame:
    """Per seed s, min over the exploded shingles of md5('s|' shingle)
    — one aggregate grouped by document."""
    exploded = docs.select(
        "doc_id", F.explode(dedup.word_shingles("text")).alias("shingle")
    )
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(
                f"mh_{s}"
            )
            for s in range(num_hashes)
        ]
    )


@pytest.mark.parametrize("num_hashes", [4, 16])
def test_rowwise_signatures_match_explode_aggregate(spark, num_hashes):
    docs = spark.createDataFrame(DEGENERATE_DOCS, "doc_id bigint, text string")
    got = dedup.staged_shingles(docs).signatures(num_hashes)
    assert got.columns == ["doc_id"] + [f"mh_{s}" for s in range(num_hashes)]
    expected = _reference_signatures(docs, num_hashes)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expected.collect())
    )


def _fresh_docs(spark, sf_dir, tmp_path) -> DataFrame:
    """The documents table read from a private copy of its file, so no
    DataFrame another test cached matches its plan."""
    path = str(tmp_path / "documents.parquet")
    shutil.copy(f"{sf_dir}/documents.parquet", path)
    return spark.read.parquet(path)


def _deduped(spark, sf_dir, tmp_path) -> DataFrame:
    """The curation chain's deduped corpus."""
    gated = _fresh_docs(spark, sf_dir, tmp_path).filter(
        token_count("text") >= 5
    )
    keepers = dedup.exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
    return gated.join(keepers, "doc_id", "left_semi")


class _Checkpointed(Exception):
    pass


def test_staged_build_over_derived_input_runs_no_job_before_checkpoint(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The build's first execution of a derived input is its
    checkpoint: counting the partitions of the lazy (AQE) plan first
    would execute its shuffle stages an extra time."""
    deduped = _deduped(spark, sf_dir, tmp_path)

    def stop(self, eager=True):
        raise _Checkpointed

    monkeypatch.setattr(type(deduped), "localCheckpoint", stop)
    with launched_jobs(spark) as jobs:
        with pytest.raises(_Checkpointed):
            dedup.staged_shingles(deduped)
    assert not jobs, f"{len(jobs)} jobs ran before the first checkpoint"


def test_curate_corpus_job_budget(spark, sf_dir, tmp_path):
    """Tripwire: 21 jobs when the deduped corpus ran three times and the
    signatures were a shuffled sort-aggregate."""
    docs = _fresh_docs(spark, sf_dir, tmp_path)
    with launched_jobs(spark) as jobs:
        curate_corpus(docs).localCheckpoint(eager=True)
    assert len(jobs) <= 17, f"curate_corpus launched {len(jobs)} jobs"


def test_unkeyable_input_is_staged_once(spark, sf_dir, tmp_path, monkeypatch):
    """Without a store key every lookup builds, so curate_corpus must
    hand its one staged artifact to the near-dup pass."""
    docs = _fresh_docs(spark, sf_dir, tmp_path)
    keyed = sorted(map(tuple, curate_corpus(docs).collect()))

    builds = []
    init = dedup._StagedShingles.__init__

    def counting_init(self, *args, **kwargs):
        builds.append(self)
        init(self, *args, **kwargs)

    monkeypatch.setattr(artifacts, "plan_params", lambda df, *params: None)
    monkeypatch.setattr(dedup._StagedShingles, "__init__", counting_init)
    unkeyed = sorted(map(tuple, curate_corpus(docs).collect()))
    assert len(builds) == 1
    assert unkeyed == keyed


def test_aliased_inputs_get_their_own_rows(spark, sf_dir, tmp_path):
    """Inputs that differ only in column aliases share a semantic plan
    hash; a store hit must not hand one its rows under the other's
    column names. The swapped pair would sample the wrong column."""
    docs = _fresh_docs(spark, sf_dir, tmp_path)
    variants = {
        "l1": docs.select("doc_id", "text", F.col("lang").alias("l1")),
        "l2": docs.select("doc_id", "text", F.col("lang").alias("l2")),
        "lang": docs.select(
            "doc_id",
            "text",
            F.col("lang").alias("lang"),
            F.col("source").alias("src"),
        ),
        "src": docs.select(
            "doc_id",
            "text",
            F.col("lang").alias("src"),
            F.col("source").alias("lang"),
        ),
    }
    assert variants["l1"].semanticHash() == variants["l2"].semanticHash()
    assert variants["lang"].semanticHash() == variants["src"].semanticHash()

    def curated(stratum):
        out = curate_corpus(variants[stratum], stratum_col=stratum)
        return out.columns, sorted(map(tuple, out.collect()))

    # the second of each pair is the one a store hit could serve wrongly
    expected = {}
    for stratum in ("l2", "src"):
        artifacts.clear()
        expected[stratum] = curated(stratum)
    artifacts.clear()
    for first, second in (("l1", "l2"), ("lang", "src")):
        curated(first)
        assert curated(second) == expected[second], second
