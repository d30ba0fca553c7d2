"""Degenerate-VECTOR differential sweep: every oracle-checked query that
reads the embeddings table must agree with DuckDB on a corpus containing
a ZERO vector (cosine's divide-by-zero — the ADVICE-r8 ivf_assign edge)
— the vectors real embedding jobs emit (a failed forward pass writes
zeros) and fixture data never does.

Sibling of tests/test_degenerate_docs.py (documents) and
tests/test_empty_inputs.py (zero rows).
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import Row

from etl_example_spark.plans.registry import load_all
from etl_example_spark.schemas import TESTDATA_TABLES
from etl_example_spark.sources.loaders import load_table
from tests.oracle import duckdb_connection, run_differential

DIM = 64

#: appended to the sf0.001 embeddings table; ids far above the real
#: range so every id-derived batch/query split keeps its real members
DEGENERATE_VECS = [
    Row(vec_id=9_000_001, embedding=[0.0] * DIM, label=1),
    Row(vec_id=9_000_003, embedding=[0.0] * DIM, label=2),
]

# Recall-bound certificates: their oracle is the constant (k, TRUE) row
# measured on the REAL corpus; perturbing the corpus can legitimately
# move recall across the documented floor. Run-only here (the empty-
# input test documents the same exemption).
SKIP_DIFFERENTIAL = {
    "s33a_ann_recall_bound",
    "s40a_ivf_recall_bound",
    "s42a_pq_recall_bound",
    "s49a_sq8_recall_bound",
}


@pytest.fixture(scope="module")
def degen_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("sf_degen_vec"))
    for name in TESTDATA_TABLES:
        df = load_table(spark, sf_dir, name)
        if name == "embeddings":
            extra = spark.createDataFrame(DEGENERATE_VECS, df.schema)
            df = df.unionByName(extra)
        tmp = os.path.join(out, f"_{name}_dir")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(out, f"{name}.parquet"))
        shutil.rmtree(tmp)
    return out


def _reads_embeddings(q) -> bool:
    return q.oracle is not None and "embeddings" in q.oracle


def test_every_embeddings_query_survives_zero_vectors(
    spark, degen_sf_dir
):
    import threading

    from tests.sweep import parallel_sweep

    registry = load_all()
    local = threading.local()

    def check(name):
        if name in SKIP_DIFFERENTIAL:
            registry[name].spark_builder(spark, degen_sf_dir).count()
            return None
        if not hasattr(local, "con"):
            local.con = duckdb_connection(degen_sf_dir)
        problems = run_differential(
            spark, local.con, registry[name], degen_sf_dir
        )
        if problems:
            return f"{name}: {problems[:2]}"
        return None

    names = [n for n, q in registry.items() if _reads_embeddings(q)]
    assert len(names) > 10, f"sweep matched too few queries ({len(names)})"
    failures = parallel_sweep(check, names)
    assert not failures, f"{len(failures)} queries diverge:\n" + "\n".join(
        failures
    )


def _stored_centroids(emb):
    return emb.sparkSession.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 1.0]), (1, [0.0, 1.0, 1.0, 0.0])],
        "centroid_id bigint, centroid_vec array<double>",
    )


def _empty_codebook(emb):
    return emb.sparkSession.createDataFrame(
        [], "j int, code int, cv array<double>"
    )


#: the entry points that read the corpus's vector dimension (the
#: encoders only when the codebook has no vector to read it from)
DIM_PROBING_CALLS = {
    "pq_train": lambda emb, sim: sim.pq_train(emb, m=2, n_codes=2, iters=1),
    "pq_topk": lambda emb, sim: sim.pq_topk(
        emb, k=2, m=2, n_codes=2, query_id=2
    ),
    "ivfpq_topk": lambda emb, sim: sim.ivfpq_topk(
        emb, k=2, n_centroids=2, m=2
    ),
    "ivfpq_topk-centroids": lambda emb, sim: sim.ivfpq_topk(
        emb, k=2, m=2, query_id=2, centroids=_stored_centroids(emb)
    ),
    "ivfpq_residual_topk": lambda emb, sim: sim.ivfpq_residual_topk(
        emb, k=2, n_centroids=2, m=2
    ),
    "ivfpq_residual_topk-centroids": lambda emb, sim: (
        sim.ivfpq_residual_topk(
            emb, k=2, m=2, query_id=2, centroids=_stored_centroids(emb)
        )
    ),
    "pq_encode_vectors-empty-codebook": lambda emb, sim: (
        sim.pq_encode_vectors(emb, _empty_codebook(emb), m=2)
    ),
    "ivfpq_residual_encode-empty-codebook": lambda emb, sim: (
        sim.ivfpq_residual_encode(
            emb, _stored_centroids(emb), _empty_codebook(emb), m=2
        )
    ),
}


@pytest.mark.parametrize(
    "call",
    list(DIM_PROBING_CALLS.values()),
    ids=list(DIM_PROBING_CALLS),
)
def test_all_null_vectors_raise_a_named_error(spark, call):
    """The dimension probe of an all-NULL corpus has nothing to read:
    it must say so instead of raising a bare TypeError from len(None)."""
    from etl_example_spark.operators import similarity

    emb = spark.createDataFrame(
        [(1, None), (2, None), (3, None)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="no non-null vectors to infer dim"):
        call(emb, similarity).collect()


def _null_first_corpus(spark):
    """Four valid vectors behind a NULL one on the lowest id."""
    return spark.createDataFrame(
        [
            (1, None),
            (2, [1.0, 0.0, 0.0, 1.0]),
            (3, [0.0, 1.0, 1.0, 0.0]),
            (4, [1.0, 1.0, 0.0, 0.0]),
            (5, [0.0, 0.0, 1.0, 1.0]),
        ],
        "vec_id bigint, embedding array<float>",
    ).coalesce(1)


@pytest.mark.parametrize(
    "name",
    ["pq_topk", "ivfpq_topk-centroids", "ivfpq_residual_topk-centroids"],
)
def test_null_first_vector_still_serves(spark, name):
    """A NULL vector on the row the dimension probe reads first must
    not hide the valid vectors behind it."""
    from etl_example_spark.operators import similarity

    emb = _null_first_corpus(spark)
    rows = DIM_PROBING_CALLS[name](emb, similarity).collect()
    assert rows
    assert {r["query_id"] for r in rows} == {2}


def _query_ids(rows) -> set:
    return {r["query_id"] for r in rows if r["cosine_sim"] is not None}


def _hybrid(emb, sim):
    docs = emb.sparkSession.createDataFrame(
        [(i, "data table") for i in range(1, 6)], "doc_id bigint, text string"
    )
    return sim.hybrid_search_rrf(docs, emb, ["data"], k=5)


#: every function that picks a default query: the call, and how its
#: rows name the query — a top-k row carries it; the hybrid arm keeps
#: the query itself, the one vector at cosine 1.0; mmr leaves it out,
#: so with a pool of the three other valid vectors it is the one
#: valid id missing
DEFAULT_QUERY_CALLS = {
    "brute_force_topk": (
        lambda emb, sim: sim.brute_force_topk(emb, k=2), _query_ids
    ),
    "ann_topk": (
        lambda emb, sim: sim.ann_topk(emb, k=2, bits=1, dims=4), _query_ids
    ),
    "ivf_topk": (
        lambda emb, sim: sim.ivf_topk(emb, k=2, n_centroids=2, nprobe=2),
        _query_ids,
    ),
    "pq_topk": (
        lambda emb, sim: sim.pq_topk(emb, k=2, m=2, n_codes=2), _query_ids
    ),
    "ivfpq_topk": (
        lambda emb, sim: sim.ivfpq_topk(
            emb, k=2, n_centroids=2, nprobe=2, m=2, n_codes=2
        ),
        _query_ids,
    ),
    "ivfpq_residual_topk": (
        lambda emb, sim: sim.ivfpq_residual_topk(
            emb, k=2, n_centroids=2, nprobe=2, m=2, n_codes=2
        ),
        _query_ids,
    ),
    "hybrid_search_rrf": (
        _hybrid,
        lambda rows: {r["doc_id"] for r in rows if r["cosine_sim"] == 1.0},
    ),
    "mmr_rerank": (
        lambda emb, sim: sim.mmr_rerank(emb, k=3, pool=3),
        lambda rows: {2, 3, 4, 5} - {r["vec_id"] for r in rows},
    ),
}


@pytest.mark.parametrize(
    "name", list(DEFAULT_QUERY_CALLS), ids=list(DEFAULT_QUERY_CALLS)
)
def test_default_query_skips_a_null_vector(spark, name):
    """The default query is the lowest-id row whose vector is not
    NULL: a NULL query would score every neighbor NULL and answer
    nothing."""
    from etl_example_spark.operators import similarity

    call, query_of = DEFAULT_QUERY_CALLS[name]
    rows = call(_null_first_corpus(spark), similarity).collect()
    assert query_of(rows) == {2}


@pytest.mark.parametrize(
    "a, b", [("a`b", "c``d"), ("a.b", "c.d")], ids=["backtick", "dot"]
)
def test_cosine_over_odd_column_names_equals_the_column_form(spark, a, b):
    """``cosine`` over two column NAMES renders SQL text; a backtick or
    a dot in a name must stay part of the name there, as it does for
    the Column-builder form over the quoted columns."""
    from pyspark.sql import functions as F

    from etl_example_spark.functions.localrel import sql_ident
    from etl_example_spark.operators.similarity import cosine

    df = spark.createDataFrame(
        [([1.0, 2.0], [2.0, 1.0]), ([0.0, 0.0], [1.0, 1.0]), ([3.0, 4.0], None)],
        f"{sql_ident(a)} array<double>, {sql_ident(b)} array<double>",
    )
    assert df.columns == [a, b]
    by_name = df.select(cosine(a, b).alias("s")).collect()
    by_column = df.select(
        cosine(F.col(sql_ident(a)), F.col(sql_ident(b))).alias("s")
    ).collect()
    assert by_name == by_column
    assert by_name[0]["s"] is not None and by_name[1]["s"] is None
