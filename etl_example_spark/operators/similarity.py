"""Similarity search over embedding columns (``array<float>``).

- ``cosine``: built-in-function cosine similarity (zip_with product,
  left-fold sum — fixed summation order in index order, so results are
  bit-deterministic and match a C-loop oracle).
- ``brute_force_topk``: exact top-k neighbors of a query vector. The
  baseline: one broadcast of the query + a narrow map over the corpus +
  TakeOrderedAndProject. Scales linearly; at 100 TB it's one scan.
- ``cosine_near_dup_pairs``: all-pairs ≥ threshold. Quadratic by nature;
  the scale path is ``signed_projection_buckets`` (random-hyperplane LSH)
  to restrict pairs to same-bucket candidates.
- ``signed_projection_buckets`` / ``ann_topk``: sub-linear ANN — an
  n-bit sign signature from deterministic ±1 hyperplanes (md5-parity
  derived, so no RNG state ships to executors); candidates come from the
  query's bucket, optionally within Hamming radius 1.

No UDFs anywhere: dot products run as Catalyst higher-order functions.
For very wide vectors (≥1k dims) a Pandas-UDF BLAS path wins; at 64-dim
the JVM expression is faster than the Arrow round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from etl_example_spark.functions.localrel import local_df, sql_ident


def _as_double(col: Column | str) -> Column:
    """``CAST(col AS array<double>)``: the same values as a per-element
    ``transform(x -> CAST(x AS double))`` (float→double widening is
    exact, NULL arrays and elements pass through), as one Cast instead
    of a lambda that costs py4j round trips to build and an
    ArrayTransform to run."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i], folded in index order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


def _cosine_sql(a: str, b: str) -> str:
    """The :func:`cosine` arithmetic as SQL text over two column NAMES —
    term-for-term the Python-builder form (same casts, same fold seeds,
    same operand order), so values are bit-identical; one F.expr parse
    instead of ~10 py4j lambda-builder round trips."""
    da, db = (f"CAST({sql_ident(c)} AS array<double>)" for c in (a, b))
    return (
        f"try_divide(aggregate(zip_with({da}, {db}, (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x), "
        f"sqrt(aggregate(transform({da}, x -> x * x), "
        "0D, (acc, x) -> acc + x)) * "
        f"sqrt(aggregate(transform({db}, x -> x * x), "
        "0D, (acc, x) -> acc + x)))"
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO error) when
    either vector has zero norm — cosine is undefined there, and NULL
    lets downstream operators make an explicit keep/quarantine decision
    (ivf_assign_with_centroids keeps the row with NULL centroid_id)
    instead of the whole corpus pass aborting on one degenerate row."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cosine_sql(a, b))
    da, db = _as_double(a), _as_double(b)
    return F.try_divide(dot(da, db), norm(da) * norm(db))


def _cosine_sims(vec_col: str, cvs_col: str = "cvs") -> Column:
    """``transform(cvs, cv -> round(cosine(vec, cv), 6))`` as one
    SQL-text expression — the in-row form of the rounded :func:`cosine`
    column, evaluated against a PACKED array of centroid vectors (the
    trainers and assigners pick the nearest centroid inside the row
    instead of expanding corpus × centroids through a join).
    Identical arithmetic to ``round(cosine(...), 6)`` term for term
    (same casts, same fold seeds, same operand order), so the
    similarity values are bit-identical; SQL-text lambdas, not
    Python-lambda builders, for the variable-collision reason
    :func:`_sq_l2` documents."""
    vec = f"CAST({sql_ident(vec_col)} AS array<double>)"
    return F.expr(
        f"transform({sql_ident(cvs_col)}, cv -> round(try_divide("
        f"aggregate(zip_with({vec}, "
        "CAST(cv AS array<double>), (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x), "
        f"sqrt(aggregate(transform({vec}, "
        "x -> x * x), 0D, (acc, x) -> acc + x)) * "
        "sqrt(aggregate(transform(CAST(cv AS array<double>), "
        "x -> x * x), 0D, (acc, x) -> acc + x))), 6))"
    )


#: The schema of an empty single-query top-k result.
_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine_sim double"


def _pick_query(
    df: DataFrame,
    query_id: int | None,
    id_col: str,
    vec_col: str,
    *extra: Column,
) -> DataFrame:
    """(query_id, query_vec, *extra): the row of ``df`` whose id is
    ``query_id``, or by default the lowest-id row whose vector is not
    NULL — deterministic without parameters, and never a NULL query
    that would score every neighbor NULL."""
    if query_id is None:
        query = df.filter(F.col(vec_col).isNotNull()).orderBy(id_col).limit(1)
    else:
        query = df.filter(F.col(id_col) == query_id)
    return query.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec"),
        *extra,
    )


def _rerank(cands: DataFrame, k: int, id_col: str, vec_col: str) -> DataFrame:
    """The exact tail of every single-query top-k: (query_id,
    neighbor_id, cosine_sim) for the candidate rows, which carry the
    query's ``query_id``/``query_vec`` next to their own id and vector;
    cosine rounded to 6 places, the ``k`` most similar first, ties to
    the lower neighbor id."""
    return (
        cands.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(vec_col, "query_vec"), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), "neighbor_id")
        .limit(k)
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_id: int | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors of one corpus vector (default: the
    lowest-id non-NULL vector, so the query is deterministic without
    parameters)."""
    q = _pick_query(embeddings, query_id, id_col, vec_col)
    return _rerank(
        embeddings.crossJoin(F.broadcast(q)).filter(
            F.col(id_col) != F.col("query_id")
        ),
        k, id_col, vec_col,
    )


def batch_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors (the ``n_queries``
    lowest-id corpus vectors — deterministic without parameters) in one
    pass: broadcast the query block, one narrow map computes all
    query×corpus similarities, and a per-query ranking window takes the
    top k. The corpus is scanned once regardless of query count — the
    right shape when serving many probes against 100 TB of vectors
    (queries are the small side by definition)."""
    q = (
        embeddings.orderBy(id_col)
        .limit(n_queries)
        .select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(vec_col, "query_vec"), 6).alias("cosine_sim"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All embedding pairs with cosine ≥ threshold (id_a < id_b). Exact and
    quadratic — correct at any scale, affordable at verification scale; use
    the LSH bucket variant to pre-filter candidates at corpus scale."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a")
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b")
    )
    sim = F.round(cosine("vec_a", "vec_b"), 6)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _hyperplane_sign(plane: int, dim: int) -> Column:
    """Deterministic ±1: parity of the first hex digit of md5('plane|dim').
    Pure-literal per (plane, dim) — constant-folded by Catalyst."""
    import hashlib

    h = hashlib.md5(f"{plane}|{dim}".encode()).hexdigest()
    return F.lit(1.0 if int(h[0], 16) >= 8 else -1.0)


def signed_projection_buckets(
    embeddings: DataFrame,
    bits: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: bit j is the sign of
    Σ_i ±1·v[i] with a deterministic ±1 pattern per hyperplane."""
    v = _as_double(vec_col)
    bit_cols = []
    for j in range(bits):
        proj = sum(
            (F.element_at(v, i + 1) * _hyperplane_sign(j, i) for i in range(dims)),
            start=F.lit(0.0),
        )
        bit_cols.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return embeddings.select(
        F.col(id_col), F.col(vec_col), F.concat(*bit_cols).alias("bucket")
    )


def ivf_assign_with_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest of the GIVEN centroids
    (max cosine, ties to the lower centroid id) — the shared kernel of
    :func:`ivf_assign` (seeded centroids) and :func:`ivf_append`
    (stored centroids).

    The pick happens inside the row (guide §2.4/§3.1): the centroid
    table is MODEL-SIZED by contract, so it is collected on the driver
    at plan-construction time and packed as ONE broadcast row (vectors
    and ids in centroid_id order, NULLS FIRST), and the corpus side is
    a pure map — no corpus × centroids expansion, no corpus-keyed
    aggregate, no shuffle at any scale. A ``limit(2^21)`` probe bounds
    what can reach the driver: an over-contract table raises "too many
    centroids" before anything larger is collected.

    Semantics: ties break to the lower centroid id (array_position
    returns the first match in id order); a degenerate (zero-norm)
    vector has every cosine NULL, array_max ignores NULLs, so its row
    keeps NULL centroid_id/c_sim; c_sim is the round(cosine, 6)
    double; an empty centroid table gives an empty result. Two edges
    (ADVICE r13): (1) a NaN-similarity centroid WINS with c_sim NaN,
    as array_max sorts NaN greatest (as in :func:`ivf_train`, which
    picks through :func:`_ivf_pick` too); (2) every INPUT row gives
    one output row, so exact-duplicate rows stay duplicated (only
    visible when the unique-id contract is violated). Returns
    (id, vec, centroid_id, c_sim)."""
    cents = _centroid_block(centroids)
    cid_type, cvec_type = (f.dataType.simpleString() for f in cents.schema)
    # limit(bound) probe: at most bound rows ever reach the driver;
    # reaching the bound means the artifact is over the 2^21
    # centroid-count contract
    cent_rows = sorted(
        cents.limit(_MODEL_ROWS_BOUND).collect(),
        key=lambda r: _nulls_first(r[0]),
    )
    if len(cent_rows) >= _MODEL_ROWS_BOUND:
        raise ValueError("too many centroids")
    return _ivf_pick(
        embeddings, cent_rows, cvec_type, cid_type, id_col, vec_col
    )


def _nulls_first(key):
    """Sort key putting a NULL (None) first, as Spark's ASC order does."""
    return (key is not None, key)


def _ivf_pick(
    embeddings: DataFrame,
    cents,
    cvec_type: str,
    cid_type: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, vec, centroid_id, c_sim): each vector's max-cosine centroid
    among the driver-held ``cents``, (centroid_id, vector) pairs in
    centroid_id order NULLS FIRST, packed as ONE broadcast row of
    ``cvec_type`` vectors and ``cid_type`` ids. The pick
    happens inside the row: the first maximum wins, so ties go to the
    lower id; an all-NULL similarity row gets NULL centroid_id and
    c_sim; no centroids give no rows. :func:`ivf_assign_with_centroids`
    and :func:`ivf_train`'s assign step both pick here."""
    if not cents:
        return (
            embeddings.select(F.col(id_col), F.col(vec_col))
            .filter(F.lit(False))
            .withColumn("centroid_id", F.lit(None).cast(cid_type))
            .withColumn("c_sim", F.lit(None).cast("double"))
        )
    packed = local_df(
        embeddings.sparkSession,
        [([v for _, v in cents], [c for c, _ in cents])],
        f"cvs array<{cvec_type}>, cds array<{cid_type}>",
    )
    pos = F.expr(
        "CASE WHEN array_max(_ss) IS NULL THEN CAST(NULL AS INT) "
        "ELSE CAST(array_position(_ss, array_max(_ss)) AS INT) END"
    )
    return (
        embeddings.crossJoin(F.broadcast(packed))
        .withColumn("_ss", _cosine_sims(vec_col))
        .withColumn("_bp", pos)
        .select(
            id_col,
            vec_col,
            F.expr("cds[_bp - 1]").alias("centroid_id"),
            F.expr("_ss[_bp - 1]").alias("c_sim"),
        )
    )


def seed_centroids(
    df: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ``n`` lowest-id vectors of ``df`` as (centroid_id,
    centroid_vec): the deterministic, SQL-replayable coarse seeding
    the IVF paths share. Lazy; a NULL id sorts first."""
    return df.orderBy(id_col).limit(n).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("centroid_vec"),
    )


def _centroid_block(centroids: DataFrame) -> DataFrame:
    """A stored centroid artifact with its first two columns renamed
    (centroid_id, centroid_vec), whatever the artifact called them."""
    return centroids.select(
        F.col(centroids.columns[0]).alias("centroid_id"),
        F.col(centroids.columns[1]).alias("centroid_vec"),
    )


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (max cosine, ties to the lower centroid id).

    Centroids are the ``n_centroids`` lowest-id corpus vectors —
    deterministic seeding; production IVF runs a few Lloyd iterations
    (or pyspark.ml KMeans) over the same assign step, which changes only
    centroid *values*, not the plan shape."""
    centroids = seed_centroids(embeddings, n_centroids, id_col, vec_col)
    return ivf_assign_with_centroids(embeddings, centroids, id_col, vec_col)


def semdedup(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication with the pairwise work BOUNDED by coarse clusters.
    Assign every vector to its nearest centroid (:func:`ivf_assign` /
    :func:`ivf_assign_with_centroids`), compare pairs ONLY within a
    cluster, and inside each duplicate pair keep the vector LESS
    similar to its cluster centroid (the paper's diversity-preserving
    keep rule — near-centroid redundancy is what gets dropped), ties
    to the lower id. A vector is removed iff SOME same-cluster
    neighbor with rounded cosine ≥ ``threshold`` dominates it
    ((c_sim, id) greater under the keep rule) — a single EXISTS, no
    transitive closure, so the decision is order-free and replayable.

    Scale shape: the global all-pairs O(n²) becomes one equi-join ON
    THE CLUSTER KEY — Σ|cluster|² comparisons, shuffle keyed by
    centroid_id. At 100 TB the cluster count scales with the corpus
    (FAISS-style sqrt(n) cells) keeping cells ~constant-sized; a
    pathological mega-cluster is the same skew problem as any hot key
    (salt the pair join or cap per-cell membership upstream). Zero-norm
    vectors carry a NULL centroid and are always kept — the equi-join
    drops NULL keys so they never pair.

    Returns (id, centroid_id, c_sim, keep) for EVERY input row — the
    full decision table, not just the survivors, so the gate is
    auditable (the d45/d100 discipline)."""
    assign = (
        ivf_assign(embeddings, n_centroids, id_col, vec_col)
        if centroids is None
        else ivf_assign_with_centroids(embeddings, centroids, id_col, vec_col)
    )
    a = assign.select(
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_vec_a"),
        F.col("centroid_id").alias("_cell"),
        F.col("c_sim").alias("_sim_a"),
    )
    b = assign.select(
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_vec_b"),
        F.col("centroid_id").alias("_cell"),
        F.col("c_sim").alias("_sim_b"),
    )
    removed = (
        a.join(b, "_cell")
        .filter(F.col("_id_a") != F.col("_id_b"))
        .filter(F.round(cosine("_vec_a", "_vec_b"), 6) >= threshold)
        .filter(
            (F.col("_sim_a") > F.col("_sim_b"))
            | (
                (F.col("_sim_a") == F.col("_sim_b"))
                & (F.col("_id_a") > F.col("_id_b"))
            )
        )
        .select(F.col("_id_a").alias(id_col))
        .distinct()
    )
    return (
        assign.join(
            removed.withColumn("_removed", F.lit(True)), id_col, "left"
        )
        .select(
            id_col,
            "centroid_id",
            "c_sim",
            F.coalesce(~F.col("_removed"), F.lit(True)).alias("keep"),
        )
    )


def ivf_append(
    assignments: DataFrame,
    new_vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL IVF index maintenance: assign only the arriving
    vectors against the STORED centroids and append to the stored
    assignment artifact — the indexed corpus is never rescanned (the
    discipline the text side already has: d55's MinHash probe, d70's
    line-index probe). Work per ingest is O(batch × centroids).

    Law: with centroids held fixed, ``ivf_append(assign(old), new, C)``
    == ``ivf_assign_with_centroids(old ∪ new, C)`` — incremental equals
    full rebuild restricted to the same quantizer. Proven two ways: the
    s47_ivf_append registration's DuckDB oracle recomputes the FULL
    assignment from scratch and hash-compares it to this incremental
    output, and tests/test_llm_ops.py::TestIncrementalAnn asserts
    incremental == full-rebuild row-for-row in Spark. Re-training
    centroids (the full ``ivf_train``) is the periodic offline job;
    between runs the index stays probe-consistent.
    """
    new_assign = ivf_assign_with_centroids(
        new_vectors, centroids, id_col, vec_col
    )
    return assignments.unionByName(new_assign)


def _train_sample(
    df: DataFrame, id_col: str, max_train_rows: int
) -> DataFrame:
    """Deterministic hash-bottom training sample: the ``max_train_rows``
    rows with the smallest ``xxhash64(id)`` (id tie-break) — a uniform
    random sample any re-execution reproduces bit-for-bit, taken as one
    TakeOrderedAndProject heap pass (the rank primitive's boundary-
    sampling discipline, never a global sort). Eagerly pinned: every
    Lloyd iteration re-reads it, and it is bounded by contract."""
    h = F.xxhash64(F.col(id_col))
    return (
        df.orderBy(h.asc(), F.col(id_col).asc())
        .limit(max_train_rows)
        .localCheckpoint(eager=True)
    )


def _lloyd(
    state: dict, assign, keys: tuple[str, ...], vec_col: str, iters: int
) -> dict:
    """Lloyd's k-means over a driver-held model: the one training loop
    of :func:`ivf_train`, :func:`pq_train` and :func:`sq8_kmeans`.

    ``state`` maps each cell's key (the values of ``keys``, a tuple when
    there are several) to its vector. ``assign(state)`` returns the
    training rows with ``keys`` naming each row's nearest cell and
    ``vec_col`` its vector. Each of the ``iters`` rounds is one
    posexplode → per-(cell, dim) mean → bounded driver collect of the
    model-sized means, and updates ``state`` in place: a group with a
    NULL key is skipped, and a cell with no members keeps its vector.

    The mean follows the vector's element type: ``avg`` over doubles,
    and over integers the sum/count division truncated toward zero
    (Spark's ``DIV``), so an integer model stays integer-exact. The
    float summation order is fixed by this assign → posexplode →
    groupBy pipeline over the same frame, so a trained model is
    reproducible bit for bit."""
    n = len(keys)
    for _ in range(iters):
        assigned = assign(state)
        elem = assigned.schema[vec_col].dataType.elementType
        integral = isinstance(elem, IntegralType)
        vec = F.col(vec_col) if integral else _as_double(vec_col)
        fold = (
            [F.sum(F.col("x").cast("long")), F.count("*")]
            if integral
            else [F.avg("x")]
        )
        upd: dict = {}
        for r in (
            assigned.select(*keys, F.posexplode(vec).alias("dim", "x"))
            .groupBy(*keys, "dim")
            .agg(*fold)
            .collect()
        ):
            if any(k is None for k in r[:n]):
                continue
            mean = r[n + 1]
            if integral and mean is not None:
                # sum DIV count, truncated toward zero for either sign
                mean = abs(mean) // r[n + 2] * (1 if mean >= 0 else -1)
            upd.setdefault(r[0] if n == 1 else tuple(r[:n]), {})[r[n]] = mean
        for key, dims in upd.items():
            state[key] = [dims[d] for d in sorted(dims)]
    return state


def ivf_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int | None = None,
) -> DataFrame:
    """The IVF coarse quantizer: ``n_centroids`` centroids seeded with
    the lowest-id training vectors and refined by ``iters`` rounds of
    :func:`_lloyd` (element-wise double means). A vector joins its
    max-cosine centroid (the :func:`ivf_assign_with_centroids` pick,
    ties to the lower id); a zero-norm vector, whose every cosine is
    NULL, joins the lowest non-NULL centroid id. Returns (centroid_id,
    centroid_vec) ready to feed the probe/rerank stages.

    ``max_train_rows`` seeds and trains on a deterministic hash-bottom
    sample of that many rows (:func:`_train_sample`), as FAISS trains
    coarse quantizers on ~100k–1M vectors whatever the corpus size:
    training cost is then flat in corpus size, and only the assignment
    pass touches the whole corpus. The sampled quantizer still
    certifies the recall floor (s64; SCALING.md has the measurement).
    ``None`` trains on the whole corpus."""
    train = (
        embeddings
        if max_train_rows is None
        else _train_sample(embeddings, id_col, max_train_rows)
    )
    id_type = embeddings.schema[id_col].dataType.simpleString()
    state = dict(
        train.orderBy(id_col)
        .limit(n_centroids)
        .select(id_col, _as_double(vec_col))
        .collect()
    )
    cids = sorted(state, key=_nulls_first)
    fallback = next((c for c in cids if c is not None), None)

    def assign(state: dict) -> DataFrame:
        picked = _ivf_pick(
            train, [(c, state[c]) for c in cids], "array<double>", id_type,
            id_col, vec_col,
        )
        return picked.withColumn(
            "centroid_id",
            F.when(F.col("c_sim").isNull(), F.lit(fallback).cast(id_type))
            .otherwise(F.col("centroid_id")),
        )

    _lloyd(state, assign, ("centroid_id",), vec_col, iters)
    return local_df(
        embeddings.sparkSession,
        [(c, state[c]) for c in cids],
        f"centroid_id {id_type}, centroid_vec array<double>",
    )


def _require(artifact: str, given, **quantizers) -> None:
    """Raise when the per-vector ``artifact`` is ``given`` without the
    quantizers it was built with: serving it against a self-trained
    quantizer would silently mix two indexes."""
    if given is not None and any(q is None for q in quantizers.values()):
        names = " and ".join(f"{name}=" for name in quantizers)
        raise ValueError(
            f"{artifact}= serving requires the quantizer artifacts it was "
            f"built with ({names}); a self-trained quantizer would not "
            "match it"
        )


def _probe(
    centroids: DataFrame, q: DataFrame, nprobe: int, *cols: str
) -> DataFrame:
    """``cols`` and ``q_sim`` of the ``nprobe`` centroids nearest the
    query ``q`` by rounded cosine, ties to the lower centroid id."""
    return (
        centroids.crossJoin(F.broadcast(q))
        .select(
            *cols,
            F.round(cosine("centroid_vec", "query_vec"), 6).alias("q_sim"),
        )
        .orderBy(F.desc("q_sim"), "centroid_id")
        .limit(nprobe)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_id: int | None = None,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` cells whose centroids
    are nearest the query, exact-rerank only their members. Expected scan
    fraction is nprobe/n_centroids of the corpus — the inverted-file
    trade: coarser cells = fewer probes = lower recall.

    ``centroids`` (centroid_id, centroid_vec) and ``assignments`` (the
    :func:`ivf_assign` output — id, vec, centroid_id, c_sim; the s47
    append-maintained artifact) accept the STORED index — the
    production serving contract the PQ side got first
    (:func:`ivfpq_topk`'s ``centroids=``/``codebooks=``): assign once
    offline, maintain incrementally, and every query is a pure probe —
    broadcast centroid block picks the cells, the stored assignment
    table supplies their members, the corpus is NEVER re-assigned at
    query time (at 100 TB the per-query coarse assignment IS a corpus
    pass; the stored table turns it into a semi-join against
    nprobe/n_centroids of the artifact). Passing neither self-assigns
    per call (the demo composition); ``assignments`` without its
    ``centroids`` raises ValueError. Law: artifact-served == in-query
    for the same centroid set (the s59a registration certifies it
    externally the way s61 does for IVF-PQ)."""
    _require("assignments", assignments, centroids=centroids)
    centroids = (
        seed_centroids(embeddings, n_centroids, id_col, vec_col)
        if centroids is None
        else _centroid_block(centroids)
    )
    assign = (
        assignments
        if assignments is not None
        else ivf_assign_with_centroids(embeddings, centroids, id_col, vec_col)
    )
    q = _pick_query(assign, query_id, id_col, vec_col)
    probe_cells = _probe(centroids, q, nprobe, "centroid_id").select(
        "centroid_id"
    )
    return _rerank(
        assign.join(F.broadcast(probe_cells), "centroid_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id")),
        k, id_col, vec_col,
    )


def ivf_topk_batch(
    queries: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a BATCH of queries from the stored IVF index — the
    many-query form of :func:`ivf_topk`'s artifact path, the shape a
    streaming serve loop needs (st64): each arriving micro-batch of
    queries probes the stored (centroids, assignments) pair; the
    indexed corpus is never re-assigned. Per batch: queries × centroid
    block (broadcast — tiny both sides) picks each query's ``nprobe``
    cells, one equi-join on the CELL KEY pulls only those cells'
    members from the assignment artifact (write the artifact
    partitioned by centroid_id and the broadcast join's dynamic
    partition pruning skips the other cells' files — the s57
    SelectedBucketsCount discipline for vectors), then the exact
    rerank touches candidates only. Zero-norm queries and zero-norm
    candidates are filtered explicitly (cosine NULL), so NULL-ordering
    never reaches a window sort — both engines replay rank-for-rank.

    Returns (query_id, neighbor_id, cosine_sim, rk), rk 1..k per
    query, ties broken by neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    cents = _centroid_block(centroids)
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("q_sim"), F.asc("centroid_id")
    )
    probe_cells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "query_vec",
            "centroid_id",
            F.round(cosine("query_vec", "centroid_vec"), 6).alias("q_sim"),
        )
        .filter(F.col("q_sim").isNotNull())
        .withColumn("_rk", F.row_number().over(w_probe))
        .filter(F.col("_rk") <= nprobe)
        .select("query_id", "query_vec", "centroid_id")
    )
    w_rerank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        assignments.join(F.broadcast(probe_cells), "centroid_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(vec_col, "query_vec"), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim").isNotNull())
        .withColumn("rk", F.row_number().over(w_rerank))
        .filter(F.col("rk") <= k)
    )


def ann_topk(
    embeddings: DataFrame,
    query_id: int | None = None,
    k: int = 10,
    bits: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine ranking restricted to the query's
    LSH bucket plus Hamming-1 neighbor buckets (probing widens recall).
    The candidate set is corpus_size / 2^bits per probe on average —
    sub-linear scan at scale, same TakeOrdered tail as brute force."""
    bucketed = signed_projection_buckets(embeddings, bits, dims, id_col, vec_col)
    q = _pick_query(
        bucketed, query_id, id_col, vec_col,
        F.col("bucket").alias("query_bucket"),
    )
    # Hamming ≤ 1: equal, or differing in exactly one bit position.
    hamming = F.aggregate(
        F.zip_with(
            F.split(F.col("bucket"), ""),
            F.split(F.col("query_bucket"), ""),
            lambda x, y: F.when(x == y, 0).otherwise(1),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return _rerank(
        bucketed.crossJoin(F.broadcast(q)).filter(
            (F.col(id_col) != F.col("query_id")) & (hamming <= 1)
        ),
        k, id_col, vec_col,
    )


# --- Product quantization -------------------------------------------------


def _sq_l2(a: str, b: str) -> Column:
    """Squared L2 distance between two bound array<double> columns, as a
    SQL-lambda expression (SQL lambdas, not Python-lambda builders: two
    Python-lambda HOF columns in one projection collide on lambda
    variable names)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, v) -> acc + v)"
    )


def l2_normalize(df: DataFrame, vec_col: str) -> DataFrame:
    """Replace ``vec_col`` with its unit-norm version (zero vectors pass
    through unchanged). The norm binds to a real column first so the
    per-element division does not re-evaluate the fold per element."""
    return (
        df.withColumn("_nrm", norm(_as_double(vec_col)))
        .withColumn(
            vec_col,
            F.when(F.col("_nrm") == 0, _as_double(vec_col)).otherwise(
                F.expr(
                    f"transform(cast({sql_ident(vec_col)} AS array<double>), "
                    "x -> x / _nrm)"
                )
            ),
        )
        .drop("_nrm")
    )


def _slices_sql(vec_sql: str, m: int, sub_d: int) -> str:
    """``array(slice(v, 1, d), slice(v, d+1, d), ...)`` as SQL text over
    a vector EXPRESSION — one parsed expression instead of m py4j
    slice-builder round trips; identical slice arithmetic."""
    return (
        "array("
        + ", ".join(
            f"slice({vec_sql}, {j * sub_d + 1}, {sub_d})" for j in range(m)
        )
        + ")"
    )


#: Model-size bound on driver-collected quantizer state (centroid
#: tables, codebooks): 2^21 codes. Enforced with a ``limit(bound)``
#: probe, so an over-contract artifact fails fast with a clear error
#: instead of flooding the driver (ADVICE r13); the SQL render of a
#: near-bound model falls back to binary createDataFrame transport
#: inside local_df (VERDICT r13 #3).
_MODEL_ROWS_BOUND = 1 << 21


def _zip_sub_py(a, b):
    """``zip_with(a, b, (x, y) -> x - y)`` replayed on driver-held
    floats: subtraction is an exact IEEE-754 double op in both engines,
    and the NULL/length semantics are mirrored (zip_with pads the
    shorter side with NULL; a NULL operand nulls that element)."""
    if a is None or b is None:
        return None
    n = max(len(a), len(b))
    return [
        (a[i] - b[i])
        if i < len(a)
        and i < len(b)
        and a[i] is not None
        and b[i] is not None
        else None
        for i in range(n)
    ]


def _sq_l2_py(a, b):
    """:func:`_sq_l2` replayed on driver-held floats — the exact
    left-fold ``aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0D,
    acc + v)``: subtract/multiply/add in index order are exact IEEE
    double ops both sides (bit-identical results); NULL semantics
    mirrored (NULL array -> NULL, a length mismatch pads with NULL and
    a NULL term nulls the whole fold)."""
    if a is None or b is None:
        return None
    if len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        d = x - y
        acc = acc + d * d
    return acc


def _residual(vec_col: str, cent_col: str = "centroid_vec") -> Column:
    """``v − c`` element-wise in double, as one parsed expression
    rather than a Python-lambda zip_with (fewer py4j round trips, the
    same casts and subtraction order)."""
    return F.expr(
        f"zip_with(CAST({sql_ident(vec_col)} AS array<double>), "
        f"CAST({sql_ident(cent_col)} AS array<double>), (x, y) -> x - y)"
    )


def _subvectors(df: DataFrame, m: int, dim: int, id_col: str, vec_col: str):
    """(id, j, sv): the m equal slices of each (unit-normalized) vector."""
    sub_d = dim // m
    slices = F.expr(
        _slices_sql(f"CAST({sql_ident(vec_col)} AS array<double>)", m, sub_d)
    )
    return df.select(
        F.col(id_col), F.posexplode(slices).alias("j", "sv")
    )


def _probe_dim(vectors) -> int:
    """Length of the first non-NULL vector in ``vectors``; a probe of
    only NULL vectors has no dimension to infer."""
    v = next((v for v in vectors if v is not None), None)
    if v is None:
        raise ValueError("no non-null vectors to infer dim from")
    return len(v)


def _corpus_dim(df: DataFrame, vec_col: str) -> int | None:
    """:func:`_probe_dim` of ``df``'s vectors, or None when ``df`` has
    no rows. One ``limit(1)`` read; a NULL first vector costs a second
    read that skips the NULLs."""
    first = df.select(vec_col).limit(1).collect()
    if not first:
        return None
    if first[0][0] is None:
        first = (
            df.select(vec_col)
            .filter(F.col(vec_col).isNotNull())
            .limit(1)
            .collect()
        )
    return _probe_dim(r[0] for r in first)


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    max_train_rows: int | None = None,
) -> DataFrame:
    """Product-quantization codebooks: per subspace j (of ``m`` equal
    vector slices), ``n_codes`` centroids seeded with the lowest-id
    training vectors' slices and refined by ``iters`` rounds of
    :func:`_lloyd` over (id, j, subvector) rows, all subspaces in one
    plan (adding subspaces adds rows, not stages). A subvector joins
    its nearest code by squared L2, through the per-subspace pick
    :func:`pq_encode` runs (a NULL distance wins, ties to the lower
    code). Returns (j, code, cv) with ``cv`` the centroid subvector.

    ``normalize=False`` trains on the input vectors AS GIVEN — the
    residual-encoding path (:func:`ivfpq_residual_topk`): residuals
    ``v − centroid`` are displacement vectors whose magnitude IS the
    signal; unit-normalizing them would destroy exactly what PQ is
    quantizing there.

    ``max_train_rows`` seeds and trains on a deterministic hash-bottom
    sample, as in :func:`ivf_train`: only the ENCODE pass is
    corpus-sized. ``None`` trains on the whole corpus."""
    normalized = (
        l2_normalize(embeddings, vec_col) if normalize else embeddings
    )
    if max_train_rows is not None:
        normalized = _train_sample(normalized, id_col, max_train_rows)
    # Seeds come from the TRAINING set (a seed outside it would have no
    # subvectors in ``sub``). The one seed collect also gives the
    # empty-corpus check and the dimension; seeds are sliced on the
    # driver with the indexing :func:`_subvectors` uses.
    seeds = [
        r[0]
        for r in normalized.orderBy(id_col)
        .limit(n_codes)
        .select(_as_double(vec_col))
        .collect()
    ]
    if not seeds:  # empty corpus -> empty codebook, right schema
        return embeddings.sparkSession.createDataFrame(
            [], "j int, code int, cv array<double>"
        )
    dim = _probe_dim(seeds)
    sub = _subvectors(normalized, m, dim, id_col, vec_col).localCheckpoint(
        eager=True
    )
    sub_d = dim // m
    state = {
        (j, code): None if v is None else v[j * sub_d : (j + 1) * sub_d]
        for code, v in enumerate(seeds)
        for j in range(m)
    }
    types = ("int", "int", "array<double>")
    _lloyd(
        state,
        lambda state: _pq_pick(
            sub, [(j, c, cv) for (j, c), cv in state.items()], types, None
        ),
        ("j", "code"),
        "sv",
        iters,
    )
    return local_df(
        embeddings.sparkSession,
        [(j, c, state[(j, c)]) for (j, c) in sorted(state)],
        "j int, code int, cv array<double>",
    )


def pq_encode(
    sub: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    round_digits: int | None = None,
) -> DataFrame:
    """(id, codes): nearest code per subspace, assembled in j order.
    ``round_digits`` rounds the squared distance before the argmin (ties
    then break to the lower code) — the cross-engine-deterministic mode
    the oracle-checked s48 registration uses, mirroring the rounded-
    cosine convention of the search queries.

    In-row argmin (guide §2.4/§3.1): the codebook is MODEL-SIZED by
    contract (m·n_codes rows, the contract that lets pq_train hold it
    in driver state), so it is collected EAGERLY at plan-construction
    time, behind a limit(2^21-row) probe that raises a clear
    model-size error for an over-contract codebook. It is packed per
    subspace in code order (NULL codes first) and the nearest code is
    picked inside the row: one output row per input (id, j), no sub ×
    codebook expansion, no per-(id, j) shuffle fold. Semantics: the
    per-pair distance is the _sq_l2 fold (bit-identical floats); a
    NULL distance wins in the unrounded mode (exists() branch -> first
    NULL position -> lowest code) but is SKIPPED by the rounded mode's
    min (array_min ignores NULLs; all NULL -> NULL code); ties break to
    the lower code (array_position returns the first match in code
    order); NaN sorts greatest; a NULL-j codebook row is left out of
    the pack, and a j absent from the codebook drops its sub rows (the
    inner join on j). The rounded mode checks on the driver that every
    code is an int in [0, 2^21). Duplicate-id caveat (ADVICE r13): the
    final groupBy(id) assembles ONE codes array per id from every
    (id, j) row, so a duplicated input id would assemble a length-2m
    array; the unique-id contract is assumed."""
    cb_rows, types = _collect_codebook(codebooks)
    return _pq_encode_rows(sub, cb_rows, types, id_col, round_digits)


def _collect_codebook(codebooks: DataFrame):
    """The model-sized (j, code, cv) rows and the names of their three
    types, probe-bounded: a limit(bound) keeps an over-contract
    codebook from flooding the driver — it raises the clear model-size
    error instead."""
    cb = codebooks.select("j", "code", "cv")
    rows = cb.limit(_MODEL_ROWS_BOUND).collect()
    if len(rows) >= _MODEL_ROWS_BOUND:
        raise ValueError("codebook exceeds the model-size bound")
    return rows, tuple(f.dataType.simpleString() for f in cb.schema)


def _pq_encode_rows(
    sub: DataFrame,
    cb_rows,
    types: tuple[str, str, str],
    id_col: str,
    round_digits: int | None,
) -> DataFrame:
    """:func:`pq_encode` body over PRE-COLLECTED codebook rows — the
    encode-path entry points collect the codebook once, for both sub_d
    and the pack: a second read of a stored codebook would cost one
    full job per streaming micro-batch (st50/st61)."""
    return _pq_pick(sub, cb_rows, types, round_digits).groupBy(id_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, code))), "
            "s -> s.code)"
        ).alias("codes")
    )


def _pq_pick(
    sub: DataFrame,
    cb_rows,
    types: tuple[str, str, str],
    round_digits: int | None,
) -> DataFrame:
    """``sub``'s (id, j, sv) rows plus ``code``, the nearest code of
    subspace j over the driver-held (j, code, cv) ``cb_rows`` of
    ``types``: packed as one broadcast row per j in code order NULLS
    FIRST, with the pick inside the row (see :func:`pq_encode` for the
    semantics of both modes). :func:`pq_train`'s assign step picks
    here too."""
    j_type, code_type, cv_type = types
    by_j: dict = {}
    for j, code, cv in cb_rows:
        if j is not None:  # a NULL j never equi-joined sub
            by_j.setdefault(j, []).append((code, cv))
    if round_digits is not None:
        for entries in by_j.values():
            for c, _ in entries:
                if c is None or not (0 <= c < _MODEL_ROWS_BOUND):
                    raise ValueError("code out of packing range")
    packed = []
    for j, es in sorted(by_j.items()):
        es.sort(key=lambda e: _nulls_first(e[0]))
        packed.append((j, [cv for _, cv in es], [c for c, _ in es]))
    cbp = local_df(
        sub.sparkSession, packed,
        f"j {j_type}, cvs array<{cv_type}>, cds array<{code_type}>",
    )
    ds = F.expr(
        "transform(cvs, cv -> aggregate(zip_with(sv, cv, "
        "(x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v))"
    )
    picked = sub.join(F.broadcast(cbp), "j").withColumn("_ds", ds)
    if round_digits is None:
        return picked.withColumn("_bp", _nulls_first_argmin()).withColumn(
            "code", F.expr("cds[_bp - 1]")
        )
    scale = repr(10.0**round_digits)
    us = F.expr(
        f"transform(_ds, d -> CAST(round(round(d, {round_digits}) "
        f"* {scale}D) AS LONG))"
    )
    code = F.expr(
        "CASE WHEN array_min(_us) IS NULL THEN CAST(NULL AS INT) "
        "ELSE CAST(cds[CAST(array_position(_us, array_min(_us)) "
        "AS INT) - 1] AS INT) END"
    )
    return picked.withColumn("_us", us).withColumn("code", code)


def _nulls_first_argmin(ds: str = "_ds") -> Column:
    """1-based position of the least element of the array column
    ``ds``, where a NULL counts as least: the first NULL if there is
    one, else the first minimum. This is ``min_by(struct(d, pos))``
    folded inside the row (NULL sorts first, ties to the lower
    position, NaN greatest). NULL for an empty array."""
    return F.expr(
        f"CASE WHEN exists({ds}, x -> x IS NULL) THEN "
        f"CAST(array_position(transform({ds}, x -> CAST(x IS NULL AS INT)), "
        f"1) AS INT) ELSE CAST(array_position({ds}, array_min({ds})) AS INT) "
        "END"
    )


def pq_encode_vectors(
    vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """End-to-end PQ encode of raw vectors against trained codebooks:
    l2-normalize, slice into ``m`` subvectors, nearest code per
    subspace. The (id, codes) artifact this emits is what a PQ index
    stores per vector.

    The codebook is collected ONCE (probe-bounded) and supplies both
    the slicing width (sub_d = the stored subvector length — the
    artifact defines the geometry, == dim//m for any consistently-
    trained pair) and the encode pack, so a call costs no dim-probe job
    and no second codebook read (one full job each per streaming
    micro-batch, st50/st61). An empty/degenerate codebook falls back to
    the input dim probe."""
    normalized = l2_normalize(vectors, vec_col)
    cb_rows, types = _collect_codebook(codebooks)
    sub_d = next(
        (len(r["cv"]) for r in cb_rows if r["cv"] is not None), None
    )
    if sub_d is None:
        dim = _corpus_dim(normalized, vec_col)
        if dim is None:  # empty input -> empty artifact, right schema
            # id type from the input so the empty artifact unions
            # cleanly with real codes for non-long id columns
            id_type = vectors.schema[id_col].dataType.simpleString()
            return vectors.sparkSession.createDataFrame(
                [], f"{id_col} {id_type}, codes array<int>"
            )
        sub_d = dim // m
    sub = normalized.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                _slices_sql(f"CAST({sql_ident(vec_col)} AS array<double>)", m, sub_d)
            )
        ).alias("j", "sv"),
    )
    return _pq_encode_rows(sub, cb_rows, types, id_col, round_digits)


def pq_append(
    codes: DataFrame,
    new_vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """INCREMENTAL PQ index maintenance: encode only the arriving
    vectors against the STORED codebooks and append to the stored code
    artifact — no re-encoding of the indexed corpus (the d55/d70/
    ivf_append discipline). Work per ingest is O(batch × m × n_codes).

    Law: with codebooks held fixed, ``pq_append(encode(old), new, cb)``
    == ``pq_encode_vectors(old ∪ new, cb)`` — incremental equals full
    rebuild under the same quantizer. Proven two ways: the
    s48_pq_append registration's DuckDB oracle re-encodes the FULL
    corpus from scratch (normalize → slice → seeded codebook → rounded
    argmin) and hash-compares it to this incremental output, and
    tests/test_llm_ops.py::TestIncrementalAnn asserts incremental ==
    full-rebuild row-for-row in Spark. Codebook re-training
    (``pq_train``) is the periodic offline job.
    """
    return codes.unionByName(
        pq_encode_vectors(
            new_vectors, codebooks, m, id_col, vec_col, round_digits
        )
    )


def _local_vectors(spark, rows, names: tuple[str, str], id_type: str):
    """Driver-held (id, vector) rows as a literal frame of ``names``,
    the vectors as ``array<double>``."""
    return local_df(
        spark,
        [(i, None if v is None else list(v)) for i, v in rows],
        f"{names[0]} {id_type}, {names[1]} array<double>",
    )


def _coarse_centroids(
    normalized: DataFrame,
    centroids: DataFrame | None,
    n_centroids: int,
    id_col: str,
    vec_col: str,
):
    """The coarse quantizer of the IVF-PQ serving paths as
    ``(centroids, cent_rows, dim)``, or None for an empty corpus.

    Given ``centroids`` come back renamed, with ``cent_rows`` None and
    ``dim`` read from the corpus. Self-trained ones are the
    :func:`seed_centroids` of ``normalized``, collected once: the rows
    (``cent_rows``) give the empty-corpus check (no centroids ⟺ no
    rows), the dimension, and a literal LocalRelation for every
    downstream centroid reference, so the seeding subtree does not
    re-execute inside the probe, the residual join and the candidate
    restriction."""
    spark = normalized.sparkSession
    if centroids is not None:
        dim = _corpus_dim(normalized, vec_col)
        return None if dim is None else (_centroid_block(centroids), None, dim)
    cent_rows = seed_centroids(
        normalized, n_centroids, id_col, vec_col
    ).collect()
    if not cent_rows:
        return None
    dim = _probe_dim(r["centroid_vec"] for r in cent_rows)
    id_type = normalized.schema[id_col].dataType.simpleString()
    block = _local_vectors(
        spark, cent_rows, ("centroid_id", "centroid_vec"), id_type
    )
    return block, cent_rows, dim


def _adc_table(cb: DataFrame, q: DataFrame, m: int, dim: int) -> DataFrame:
    """(query_id, j, code, d2): the ADC lookup table, the squared L2
    from the query's subvector j to every code of subspace j."""
    q_sub = _subvectors(q, m, dim, "query_id", "query_vec").select(
        "query_id", "j", F.col("sv").alias("qv")
    )
    return (
        cb.join(F.broadcast(q_sub), "j")
        .withColumn("d2", _sq_l2("qv", "cv"))
        .select("query_id", "j", "code", "d2")
    )


def _adc_shortlist(
    codes: DataFrame,
    adc_table: DataFrame,
    q: DataFrame,
    corpus: DataFrame,
    shortlist: int,
    id_col: str,
    vec_col: str,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The ``shortlist`` rows of ``codes`` (id, *keys, codes) nearest
    the query by ADC — each code looked up in ``adc_table`` on
    (*keys, j, code) and the distances summed, the query itself left
    out, ties to the lower id — joined to their ``corpus`` vectors and
    to ``q``, ready for the exact :func:`_rerank`."""
    approx = (
        codes.select(id_col, *keys, F.posexplode("codes").alias("j", "code"))
        .join(F.broadcast(adc_table), [*keys, "j", "code"])
        .groupBy(id_col, "query_id")
        .agg(F.sum("d2").alias("approx_d2"))
        .filter(F.col(id_col) != F.col("query_id"))
        .orderBy("approx_d2", id_col)
        .limit(shortlist)
    )
    return approx.join(corpus.select(id_col, vec_col), id_col).join(
        F.broadcast(q), "query_id"
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    shortlist: int = 100,
    query_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC similarity search with exact re-rank — the memory-bound
    scale path: the corpus is represented by ``m`` small codes per
    vector (here 8 bytes instead of 256 for the raw floats), the query
    builds an (m × n_codes) distance lookup table, approximate distances
    are one broadcast join + sum per vector, and only the ``shortlist``
    best candidates are re-ranked with exact cosine against the raw
    vectors. Unit-normalizing first makes L2 order == cosine order, so
    the ADC shortlist targets the same ground truth as brute force.

    Output schema matches ``brute_force_topk`` (query_id, neighbor_id,
    cosine_sim).
    """
    normalized = l2_normalize(embeddings, vec_col).localCheckpoint(
        eager=True
    )
    dim = _corpus_dim(normalized, vec_col)
    if dim is None:  # empty corpus -> empty result with the output schema
        return embeddings.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    cb = pq_train(embeddings, m, n_codes, iters, id_col, vec_col)
    codes = pq_encode(
        _subvectors(normalized, m, dim, id_col, vec_col), cb, id_col
    )
    q = _pick_query(normalized, query_id, id_col, vec_col)
    cands = _adc_shortlist(
        codes, _adc_table(cb, q, m, dim), q, normalized, shortlist,
        id_col, vec_col,
    )
    return _rerank(cands, k, id_col, vec_col)


def ivfpq_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    shortlist: int = 100,
    query_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    assignments: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """COMPOSED IVF-PQ ANN — the production serving layout (FAISS
    IVFPQ lineage) assembled from the engine's two proven halves: the
    inverted-file coarse probe (s40) restricts candidates to
    ``nprobe/n_centroids`` of the corpus, PQ-ADC (s42) scores ONLY
    those candidates from ``m`` byte codes per vector, and the exact
    re-rank touches only the ``shortlist``. Cost per query =
    (corpus · nprobe/n_centroids) code-table lookups + shortlist
    exact cosines — BOTH compression axes at once, which is what makes
    billion-vector serving fit in memory: cells bound the scan,
    codes bound the bytes.

    Variant note: canonical IVFPQ encodes RESIDUALS (v − centroid) for
    tighter codes; this composition encodes the raw normalized vectors
    with corpus-wide codebooks, so ONE PQ artifact serves every cell
    (and the s48/s50 append paths maintain it unchanged) at some
    recall cost — the floor is certificate-verified externally (s58a).
    The residual layout ships as :func:`ivfpq_residual_topk`.
    Unit-normalizing first makes L2 order == cosine order, as in
    :func:`pq_topk`.

    ``centroids`` (centroid_id, centroid_vec) and ``codebooks``
    (j, code, cv) accept the STORED quantizer artifacts (the s47/s48
    outputs) — the production serving contract: train once offline,
    serve from the artifact; passing neither self-trains per call (the
    demo composition). Law: artifact-served == self-trained for the
    same seeds (tests/test_llm_ops.py::TestIvfPq).

    ``assignments`` (the :func:`ivf_assign` output over the NORMALIZED
    corpus) and ``codes`` (the (id, codes) table :func:`pq_encode_vectors`
    emits — what a PQ index stores per vector) complete the serving
    contract: with all four artifacts given, the per-query work is
    probe (centroids × query) → candidate ids (stored assignment ⋈
    probed cells) → ADC (stored codes ⋈ the ≤ m·n_codes lookup table)
    → exact re-rank of the shortlist — NO corpus-sized assignment and
    NO candidate re-encoding at query time, which at 100 TB is the
    difference between an index probe and a per-query encode pass over
    nprobe/n_centroids of the corpus. The s65 registration certifies
    fully-served == self-trained externally. ``assignments`` without
    ``centroids``, or ``codes`` without ``codebooks``, raises
    ValueError.

    Output schema matches ``brute_force_topk`` (query_id, neighbor_id,
    cosine_sim)."""
    _require("assignments", assignments, centroids=centroids)
    _require("codes", codes, codebooks=codebooks)
    normalized = l2_normalize(embeddings, vec_col).localCheckpoint(
        eager=True
    )
    coarse = _coarse_centroids(
        normalized, centroids, n_centroids, id_col, vec_col
    )
    if coarse is None:  # empty corpus -> empty result, output schema
        return embeddings.sparkSession.createDataFrame([], _TOPK_SCHEMA)
    centroids, _, dim = coarse
    assign = (
        assignments
        if assignments is not None
        else ivf_assign_with_centroids(
            normalized, centroids, id_col, vec_col
        )
    )
    q = _pick_query(assign, query_id, id_col, vec_col)
    probe_cells = _probe(centroids, q, nprobe, "centroid_id").select(
        "centroid_id"
    )
    cand = assign.join(F.broadcast(probe_cells), "centroid_id").select(
        id_col, vec_col
    )

    # PQ codebooks are the cell-agnostic artifact: stored (production)
    # or trained here on the FULL corpus (demo); only the probed
    # candidates are encoded + scored either way. Self-training uses
    # the CHECKPOINTED normalized frame: pq_train's own l2_normalize
    # is a no-op over unit vectors, so this reuses the materialized
    # intermediate instead of re-normalizing the corpus from source
    # (seed ids are unchanged).
    cb = (
        codebooks
        if codebooks is not None
        else pq_train(normalized, m, n_codes, iters, id_col, vec_col)
    )
    if codes is not None:
        # the stored per-vector code artifact: candidates' codes are a
        # semi-join against the probed cells' member ids — nothing is
        # re-encoded at query time
        cand_codes = codes.join(cand.select(id_col), id_col)
    else:
        cand_codes = pq_encode(
            _subvectors(cand, m, dim, id_col, vec_col), cb, id_col
        )
    cands = _adc_shortlist(
        cand_codes, _adc_table(cb, q, m, dim), q, normalized, shortlist,
        id_col, vec_col,
    )
    return _rerank(cands, k, id_col, vec_col)


def ivfpq_residual_train(
    embeddings: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train the RESIDUAL IVF-PQ quantizer pair — (coarse centroids,
    residual codebooks) — exactly as :func:`ivfpq_residual_topk`'s
    self-training path does, but as a standalone artifact producer:
    write both frames to the index store once, then serve every query
    through ``ivfpq_residual_topk(centroids=, codebooks=)`` and
    maintain the code artifact with :func:`ivfpq_residual_encode`
    (append) — the full production lifecycle the raw-layout siblings
    (s47/s48/st49/st50) have. Centroids are the ``n_centroids``
    lowest-id normalized vectors (deterministic, SQL-replayable);
    codebooks are Lloyd-trained on ALL residuals with
    ``normalize=False`` (a displacement's magnitude IS the signal).
    ``max_train_rows`` bounds the ENTIRE training pass — the sample is
    taken before the coarse assignment, so training-time work is
    O(sample × centroids) assignment + bounded Lloyd, never a corpus
    pass (the corpus-sized assignment happens once, at ENCODE time,
    where it is the index build itself); the sample is the same
    deterministic hash-bottom set :func:`pq_train` uses."""
    normalized = l2_normalize(embeddings, vec_col).localCheckpoint(
        eager=True
    )
    centroids = seed_centroids(normalized, n_centroids, id_col, vec_col)
    train = (
        normalized
        if max_train_rows is None
        else _train_sample(normalized, id_col, max_train_rows)
    )
    assign = ivf_assign_with_centroids(
        train, centroids, id_col, vec_col
    )
    res = (
        assign.join(F.broadcast(centroids), "centroid_id")
        .select(
            F.col(id_col),
            _residual(vec_col).alias("_res"),
        )
    )
    codebooks = pq_train(
        res,
        m,
        n_codes,
        iters,
        id_col,
        "_res",
        normalize=False,
    )
    return centroids, codebooks


def ivfpq_residual_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 8,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 2,
    shortlist: int = 100,
    query_id: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """RESIDUAL-encoded IVF-PQ — the canonical FAISS IVFPQ layout
    :func:`ivfpq_topk` documents as the forgone alternative: every
    vector is PQ-encoded as its displacement from its assigned coarse
    centroid (``r = v − c``), and the query is re-expressed per probed
    cell (``q_res = q − c``), so the codebooks quantize the SMALL
    residual distribution instead of the whole sphere — materially
    tighter codes for the same bytes, which is why it is the layout
    FAISS actually ships.

    The ADC identity that makes it exact-in-expectation: within cell
    ``c``, ``‖q − v‖² = ‖(q − c) − (v − c)‖² = ‖q_res − r_v‖²`` — so
    scoring residual codes against the per-cell query residual
    approximates the true L2 directly; no cross-cell bias term.
    Codebooks are corpus-wide (one artifact, trained on ALL residuals
    with ``pq_train(normalize=False)`` — normalizing a displacement
    would destroy the magnitude PQ is quantizing), matching FAISS's
    shared-codebook IVFPQ. Cost shape is identical to
    :func:`ivfpq_topk` — nprobe/n_centroids bounds the scan, m byte
    codes bound the bytes, the exact re-rank touches only the
    shortlist — plus one broadcast join against the ≤ n_centroids
    centroid block to form residuals. Recall floor is certified
    externally at 8/10 (s60a, vs the raw-vector variant's 5/10).

    ``centroids`` (centroid_id, centroid_vec) and ``codebooks``
    (j, code, cv over RESIDUAL subvectors) accept the STORED quantizer
    artifacts (the :func:`ivfpq_residual_train` outputs) — train once
    offline, serve from the artifact, the same contract
    :func:`ivfpq_topk` carries; passing neither self-trains per call.
    Law: artifact-served == self-trained for the same seeds (the s63
    registration certifies it externally the way s61 does for the raw
    layout).

    ``codes`` accepts the stored PER-VECTOR artifact — the
    (id, centroid_id, codes) table :func:`ivfpq_residual_encode` emits
    and s62/st61 maintain. With it (requires ``centroids`` and
    ``codebooks`` too), the per-query work is probe → stored codes of
    the probed cells ⋈ the per-cell ADC table → exact re-rank of the
    shortlist: the corpus is neither re-assigned NOR re-encoded at
    query time (the s66 registration certifies fully-served ==
    self-trained externally).

    The query row, the probe ranking, the codebook (bounded by a
    limit(2^21-row) probe) and the ADC table are model-sized and are
    materialized on the DRIVER at plan-construction time: build-time
    Spark jobs fire even if the returned frame is never acted on, and
    an over-contract codebook raises before materializing.

    Output schema matches ``brute_force_topk`` (query_id, neighbor_id,
    cosine_sim)."""
    _require("codes", codes, centroids=centroids, codebooks=codebooks)
    normalized = l2_normalize(embeddings, vec_col).localCheckpoint(
        eager=True
    )
    spark = embeddings.sparkSession
    coarse = _coarse_centroids(
        normalized, centroids, n_centroids, id_col, vec_col
    )
    if coarse is None:  # empty corpus -> empty result, output schema
        return spark.createDataFrame([], _TOPK_SCHEMA)
    centroids, cent_rows, dim = coarse
    cb = codebooks
    # Fully served, the stored (id, centroid_id, codes) artifact
    # supplies both the cell membership and the codes: no corpus
    # assignment, no residual formation at query time.
    if codes is None:
        assign = ivf_assign_with_centroids(
            normalized, centroids, id_col, vec_col
        )
        # residual frame: r = v − c(v), double-precision displacement.
        # Degenerate (zero-norm) vectors carry NULL centroid_id and
        # drop out here — they can never be probed candidates anyway.
        res = (
            assign.join(F.broadcast(centroids), "centroid_id")
            .select(
                F.col(id_col),
                F.col("centroid_id"),
                _residual(vec_col).alias("_res"),
            )
            .localCheckpoint(eager=True)
        )
        if cb is None:
            cb = pq_train(
                res.select(id_col, "_res"), m, n_codes, iters, id_col,
                "_res", normalize=False,
            )

    # The query block, the probe and the ADC table are MODEL-SIZED
    # (1 row, ≤ nprobe rows, ≤ nprobe·m·n_codes rows), and as plan
    # subtrees their corpus-touching limit scans would re-execute
    # inside every downstream reference (guide §2.4/§5). So the query
    # row is collected once — by default, self-trained, it IS the
    # first collected centroid with a non-NULL vector (both are the
    # lowest-id non-NULL normalized vector), zero extra jobs — the
    # probe is ranked by a tiny Spark plan over the collected blocks
    # (the round/try_divide arithmetic stays Spark's, bit for bit),
    # the query-residual subtraction and the _sq_l2 fold are replayed
    # on the driver (exact IEEE double ops — no rounding or division
    # in that chain), and every consumer reads a literal LocalRelation.
    id_type = normalized.schema[id_col].dataType.simpleString()
    first = next((r for r in cent_rows or () if r[1] is not None), None)
    if query_id is None and first is not None:
        q_rows = [first]
    else:
        q_rows = _pick_query(normalized, query_id, id_col, vec_col).collect()
    q = _local_vectors(spark, q_rows, ("query_id", "query_vec"), id_type)
    probe_rows = _probe(
        centroids, q, nprobe,
        "centroid_id", "centroid_vec", "query_id", "query_vec",
    ).collect()
    probed = F.broadcast(
        local_df(
            spark,
            [(r["centroid_id"],) for r in probe_rows],
            f"centroid_id {id_type}",
        )
    )
    # ADC lookup rows per (cell, subspace, code), replayed driver-side:
    # q_res = query − centroid (zip_with subtraction), _subvectors'
    # pure slices, then the _sq_l2 fold against each codebook entry —
    # the rows a per-j inner join gives (a NULL j never joins; a j
    # outside the slice set has no query subvector).
    sub_d = dim // m
    cb_rows, (j_type, code_type, _) = _collect_codebook(cb)
    adc_rows = []
    for pr in probe_rows:
        qres = _zip_sub_py(pr["query_vec"], pr["centroid_vec"])
        for r in cb_rows:
            j = r["j"]
            if j is None or not (0 <= j < m):
                continue
            qsub = (
                None
                if qres is None
                else qres[j * sub_d : (j + 1) * sub_d]
            )
            adc_rows.append(
                (
                    pr["centroid_id"],
                    pr["query_id"],
                    j,
                    r["code"],
                    _sq_l2_py(
                        qsub,
                        list(r["cv"]) if r["cv"] is not None else None,
                    ),
                )
            )
    adc_table = local_df(
        spark,
        adc_rows,
        f"centroid_id {id_type}, query_id {id_type}, j {j_type}, "
        f"code {code_type}, d2 double",
    )
    # candidates: residual codes of the probed cells only — from the
    # stored per-vector artifact when given (a pure semi-join, nothing
    # re-encoded), else encoded here from the residual frame
    if codes is None:
        cand_codes = pq_encode(
            res.join(probed, "centroid_id").select(
                F.col(id_col),
                F.posexplode(
                    F.expr(_slices_sql("`_res`", m, sub_d))
                ).alias("j", "sv"),
            ),
            cb,
            id_col,
        )
        codes = cand_codes.join(res.select(id_col, "centroid_id"), id_col)
    cands = _adc_shortlist(
        codes.join(probed, "centroid_id"), adc_table, q, normalized,
        shortlist, id_col, vec_col, keys=("centroid_id",),
    )
    return _rerank(cands, k, id_col, vec_col)


def ivfpq_residual_encode(
    vectors: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
) -> DataFrame:
    """Encode vectors into the RESIDUAL IVF-PQ artifact under STORED
    quantizers: assign to the given coarse centroids, form the
    displacement ``r = v − c``, nearest residual code per subspace —
    the (id, centroid_id, codes) row a residual index stores per
    vector. Because both quantizers are frozen inputs, this is the
    append kernel, and the s48 law carries over unchanged:

    ``old_codes ∪ ivfpq_residual_encode(new, C, CB)`` ==
    ``ivfpq_residual_encode(old ∪ new, C, CB)`` — incremental equals
    full rebuild under the same artifacts (asserted row-for-row in
    tests/test_llm_ops.py::TestIvfPq, and externally via the s62
    registration's from-scratch DuckDB oracle). Work per ingest is
    O(batch × (n_centroids + m × n_codes)). ``round_digits`` is the
    :func:`pq_encode` cross-engine-deterministic argmin mode the
    oracle-checked registrations use.

    Degenerate (zero-norm) vectors get NULL centroid assignment and
    drop out, matching :func:`ivfpq_residual_topk`'s corpus side.

    The codebook is collected ONCE (probe-bounded) and supplies both
    the slicing width (sub_d = the stored subvector length — the
    artifact defines the geometry) and the encode pack, so a call
    costs no dim-probe job and no second codebook read (one full job
    each per streaming micro-batch, st61). An empty/degenerate codebook
    falls back to the input dim probe."""
    normalized = l2_normalize(vectors, vec_col)
    cb_rows, types = _collect_codebook(codebooks)
    sub_d = next(
        (len(r["cv"]) for r in cb_rows if r["cv"] is not None), None
    )
    if sub_d is None:
        dim = _corpus_dim(normalized, vec_col)
        if dim is None:
            id_type = vectors.schema[id_col].dataType.simpleString()
            return vectors.sparkSession.createDataFrame(
                [],
                f"{id_col} {id_type}, centroid_id long, codes array<int>",
            )
        sub_d = dim // m
    cents = _centroid_block(centroids)
    assign = ivf_assign_with_centroids(normalized, cents, id_col, vec_col)
    res = assign.join(F.broadcast(cents), "centroid_id").select(
        F.col(id_col),
        F.col("centroid_id"),
        _residual(vec_col).alias("_res"),
    )
    sub = res.select(
        F.col(id_col),
        F.posexplode(
            F.expr(_slices_sql("`_res`", m, sub_d))
        ).alias("j", "sv"),
    )
    return _pq_encode_rows(sub, cb_rows, types, id_col, round_digits).join(
        res.select(id_col, "centroid_id"), id_col
    ).select(id_col, "centroid_id", "codes")


def knn_graph_blocked(
    embeddings: DataFrame,
    block_col: str = "label",
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-nearest-neighbor GRAPH (every vector's top-k cosine neighbors),
    blocked by ``block_col``: candidates come only from the same block,
    so the pair space is Σ block² instead of corpus² — the blocked
    all-pairs recipe behind embedding dedup clusters, semantic graph
    construction, and label propagation.

    Locally the block is the testdata ``label``; at 100 TB it is an IVF
    cell assignment (``ivf_assign``) or LSH bucket (``sign_lsh``) — same
    plan: one equi-self-join on the block key (never a cross join), a
    narrow cosine map, and a per-vector ranking window. Block-size skew
    bounds the worst task; cap cells at assignment time as IVF does.

    Returns (vec_id, neighbor_id, cosine_sim, rk), rk 1..k per vector,
    deterministic via the rounded-similarity + neighbor-id tie-break.
    """
    left = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).alias("_va"),
    )
    right = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).alias("_vb"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        left.join(right, "_blk")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select(
            "vec_id",
            "neighbor_id",
            F.round(cosine("_va", "_vb"), 6).alias("cosine_sim"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def hybrid_search_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    text_col: str = "text",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a keyword ranking
    (query-term occurrence count over the text) and a semantic ranking
    (cosine vs the lowest-id non-NULL corpus vector as the
    deterministic query) are
    fused as Σ 1_000_000 // (rrf_k + rank) — RRF in exact integer
    arithmetic, so the fused ordering is engine-portable.

    The RAG retrieval shape: both rankings come from single corpus
    scans (the query vector broadcasts; the term list is a literal).
    Because the OUTPUT exposes each arm's exact global rank, the arms
    rank via :func:`functions.rank.global_row_number` — the two-pass
    range-partitioned rank over the narrow (doc_id, score) projection —
    never an unpartitioned window (which would funnel the corpus
    through one task). Only the fused top-k survives
    (TakeOrderedAndProject). At 100 TB a shortlist-serving deployment
    drops the exact-global-rank contract and serves each arm from its
    index (BM25 postings: text.bm25_topk_from_postings; ANN:
    ivf_topk) — the fusion arithmetic is unchanged either way.

    Returns (doc_id, kw_score, kw_rank, cosine_sim, sem_rank,
    rrf_score) for the fused top-k, ties broken by doc_id.
    """
    from etl_example_spark.functions.rank import Ord, global_row_number
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    kw_score = None
    for t in query_terms:
        c = F.size(F.filter(toks, lambda x: x == F.lit(t)))
        kw_score = c if kw_score is None else kw_score + c
    scored_kw = docs.select(
        F.col(id_col).alias("doc_id"), kw_score.alias("kw_score")
    )
    query = _pick_query(embeddings, None, vec_id_col, vec_col)
    scored_sem = (
        embeddings.crossJoin(F.broadcast(query))
        .select(
            F.col(vec_id_col).alias("doc_id"),
            F.round(cosine(vec_col, "query_vec"), 6).alias("cosine_sim"),
        )
    )
    ranked_kw = global_row_number(
        scored_kw,
        [Ord("kw_score", asc=False), Ord("doc_id")],
        out="kw_rank",
    )
    ranked_sem = global_row_number(
        scored_sem,
        [Ord("cosine_sim", asc=False), Ord("doc_id")],
        out="sem_rank",
    )
    ranked = (
        ranked_kw.join(ranked_sem, "doc_id")
        .withColumn(
            "rrf_score",
            F.expr(f"1000000 div ({rrf_k} + kw_rank)")
            + F.expr(f"1000000 div ({rrf_k} + sem_rank)"),
        )
    )
    return (
        ranked.orderBy(F.desc("rrf_score"), "doc_id")
        .limit(k)
        .select(
            "doc_id", "kw_score", "kw_rank", "cosine_sim",
            "sem_rank", "rrf_score",
        )
    )


def rrf_fuse_shortlists(
    kw: DataFrame,
    sem: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two INDEX-SERVED shortlists — the
    100 TB serving form of :func:`hybrid_search_rrf`'s fusion: each arm
    arrives as a bounded (id, rank) shortlist from its own index (BM25
    postings / bucketed artifact for keywords, IVF/IVFPQ for vectors),
    so the fusion never touches the corpus — a full-outer join of two
    ≤ shortlist-sized frames plus the same exact integer arithmetic
    (``1_000_000 div (rrf_k + rank)``; a document missing from an arm
    contributes 0 for that arm, the standard shortlist-RRF convention).

    ``kw`` must carry (id_col, kw_rank); ``sem`` (id_col, sem_rank).
    Returns the fused top-``k`` as (id_col, kw_rank, sem_rank,
    rrf_score), ties broken by id — ranks stay NULL for the arm that
    did not surface the document.
    """
    fused = kw.join(sem, id_col, "full_outer")
    rrf = (
        F.coalesce(
            F.expr(f"1000000 div ({rrf_k} + kw_rank)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"1000000 div ({rrf_k} + sem_rank)"), F.lit(0)
        )
    ).cast("long")
    return (
        fused.select(
            id_col, "kw_rank", "sem_rank", rrf.alias("rrf_score")
        )
        .orderBy(F.desc("rrf_score"), id_col)
        .limit(k)
    )


def rrf_fuse_shortlists_by_query(
    kw: DataFrame,
    sem: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    query_col: str = "query_id",
) -> DataFrame:
    """Per-query reciprocal-rank fusion of two index-served shortlist
    BATCHES — :func:`rrf_fuse_shortlists` generalized to many queries
    (the shape a streaming serve loop fuses per micro-batch): the
    full-outer join keys on (query, id), the integer RRF arithmetic is
    identical, and the top-``k`` cut is a per-query window over the
    joined shortlists — bounded input by construction (each arm ships
    ≤ shortlist rows per query), never the corpus.

    ``kw`` must carry (query_col, id_col, kw_rank); ``sem``
    (query_col, id_col, sem_rank). Returns (query_col, id_col,
    kw_rank, sem_rank, rrf_score, rk), rk 1..k per query, ties broken
    by id."""
    fused = kw.join(sem, [query_col, id_col], "full_outer")
    rrf = (
        F.coalesce(
            F.expr(f"1000000 div ({rrf_k} + kw_rank)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"1000000 div ({rrf_k} + sem_rank)"), F.lit(0)
        )
    ).cast("long")
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return (
        fused.select(
            query_col, id_col, "kw_rank", "sem_rank",
            rrf.alias("rrf_score"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def mmr_rerank(
    embeddings: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    mu: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily select the
    candidate maximizing ``lam·relevance − mu·max_sim_to_selected`` —
    the standard diversity re-rank for retrieval-augmented training-data
    selection (a plain top-k returns near-duplicate neighbors; MMR
    spends the budget on coverage).

    Architecture: the two corpus-scale steps are distributed — the
    relevance scan against the lowest-id non-NULL vector (broadcast
    query × corpus, TakeOrderedAndProject to ``pool``) and the pool's
    pairwise similarity matrix (pool² rows, same fixed-order
    :func:`cosine` fold as every similarity op). Only
    the greedy k-step argmax runs on the driver, over the ≤ pool²
    collected scalars — the bounded re-rank stage every production
    retrieval stack runs driver-side. ``lam``/``mu`` are independent
    literals (not ``1−lam``) so the score arithmetic is bit-identical
    in Python, Spark, and the unrolled SQL oracle
    (:func:`mmr_oracle_sql`); relevances and similarities enter it
    rounded to 6 decimals; ties break on the id.
    """
    q = _pick_query(embeddings, None, id_col, vec_col)
    cand = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            F.round(cosine(vec_col, "query_vec"), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), "cid")
        .limit(pool)
        .localCheckpoint(eager=True)
    )
    a = cand.select(F.col("cid").alias("ia"), F.col("cv").alias("va"))
    b = cand.select(F.col("cid").alias("ib"), F.col("cv").alias("vb"))
    sims = {
        (r.ia, r.ib): r.s
        for r in a.join(b, F.col("ia") != F.col("ib"))
        .select("ia", "ib", F.round(cosine("va", "vb"), 6).alias("s"))
        .collect()
    }
    rels = [(r.cid, r.rel) for r in cand.select("cid", "rel").collect()]
    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    for rank in range(1, min(k, len(rels)) + 1):
        best = None
        for cid, rel in rels:
            if cid in chosen:
                continue
            if chosen:
                score = lam * rel - mu * max(
                    sims[(cid, s)] for s in chosen
                )
            else:
                score = rel
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel)
        chosen.append(best[1])
        selected.append((rank, best[1], best[2]))

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("mmr_rank", IntegerType(), False),
            StructField(id_col, LongType(), False),
            StructField("relevance", DoubleType(), False),
        ]
    )
    return embeddings.sparkSession.createDataFrame(
        [(r, int(c), float(v)) for r, c, v in selected], schema
    )


def mmr_oracle_sql(
    k: int = 5, pool: int = 20, lam: float = 0.7, mu: float = 0.3
) -> str:
    """Unrolled k-step DuckDB twin of :func:`mmr_rerank` — each step is
    a CTE selecting the argmax of ``lam·rel − mu·max_sim_to_selected``
    over the not-yet-selected pool, with the selected set accumulated by
    UNION ALL (the same chained-CTE pattern as bpe_oracle_sql). Pass the
    SAME lam/mu as the Spark call — the literals are rendered with
    repr(), so both engines parse the identical decimal to the identical
    double."""
    head = f"""
        q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE embedding IS NOT NULL
            ORDER BY vec_id LIMIT 1
        ),
        cand AS (
            SELECT e.vec_id AS cid, CAST(e.embedding AS DOUBLE[]) AS cv,
                   ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), qv), 6) AS rel
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id != qid
            ORDER BY rel DESC, cid LIMIT {pool}
        ),
        sim AS (
            SELECT a.cid AS ia, b.cid AS ib,
                   ROUND(list_cosine_similarity(a.cv, b.cv), 6) AS s
            FROM cand a JOIN cand b ON a.cid != b.cid
        ),
        pick1 AS (
            SELECT cid, rel FROM cand ORDER BY rel DESC, cid LIMIT 1
        ),
        sel1 AS (SELECT cid, rel FROM pick1)"""
    parts = [head]
    for i in range(2, k + 1):
        parts.append(
            f"""
        pick{i} AS (
            SELECT c.cid, c.rel FROM cand c
            WHERE c.cid NOT IN (SELECT cid FROM sel{i - 1})
            ORDER BY {lam!r} * c.rel - {mu!r} * (
                SELECT MAX(s.s) FROM sim s
                JOIN sel{i - 1} p ON s.ib = p.cid
                WHERE s.ia = c.cid
            ) DESC, c.cid
            LIMIT 1
        ),
        sel{i} AS (
            SELECT cid, rel FROM sel{i - 1}
            UNION ALL SELECT cid, rel FROM pick{i}
        )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {i} AS mmr_rank, cid, rel FROM pick{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f""" SELECT mmr_rank, cid AS vec_id, rel AS relevance
        FROM ({finals}) ORDER BY mmr_rank"""
    )


# ── Uniform 8-bit scalar quantization (SQ8) ──────────────────────────
#
# The fourth vector-compression path next to sign-LSH / IVF / PQ:
# faiss's QT_8bit_uniform — ONE global (lo, hi) bound pair for the whole
# corpus, every element linearly quantized to an int code in [0, 255].
# With a uniform scalar step, integer L2 over code arrays is EXACTLY
# rank-equivalent to L2 over the dequantized vectors (d2_float =
# step² · d2_int), so the symmetric search path is pure 64-bit integer
# arithmetic — bit-identical across engines at any scale, which is why
# sq8_topk can be hash-verified against a SQL oracle instead of only
# recall-bounded like the float-scored IVF/PQ paths.
#
# Scale posture: train is one min/max aggregate (order-independent,
# partial-aggregable); encode is a narrow zero-shuffle map (4× size
# reduction vs float32 before any search runs); append encodes only the
# arriving batch against the FROZEN stored bounds (O(batch), the
# ivf_append/pq_append discipline); topk broadcasts the query block and
# scans the code corpus once.


def sq8_train(
    vectors: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the uniform quantizer: a 1-row (lo, hi) bounds artifact
    from the global element min/max of the corpus. Exact picks of
    existing values — no float arithmetic, so the artifact is
    engine-portable by construction."""
    v = _as_double(vec_col)
    return vectors.select(
        F.min(F.array_min(v)).alias("lo"),
        F.max(F.array_max(v)).alias("hi"),
    )


def sq8_encode(
    vectors: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize every element against the 1-row bounds artifact:
    ``code = clamp(floor(round((x − lo)·255/(hi − lo), 6)), 0, 255)``.

    The round-to-6 before floor is the pq_encode round_digits
    discipline: it pins the one float expression to a cross-engine-
    deterministic value so the floor can't straddle an ulp. Values
    outside [lo, hi] (possible only for post-training appends under
    frozen bounds) clamp to the edge codes; a degenerate hi == lo
    corpus encodes as all-zero codes rather than dividing by zero.
    Plan shape: broadcast of one row + a narrow map — zero shuffles.
    """
    lo, hi = F.col("lo"), F.col("hi")

    def q(x: Column) -> Column:
        t = F.floor(F.round((x - lo) * F.lit(255.0) / (hi - lo), 6))
        return (
            F.when(hi == lo, F.lit(0))
            .otherwise(F.least(F.lit(255), F.greatest(F.lit(0), t)))
            .cast("int")
        )

    return vectors.crossJoin(F.broadcast(bounds)).select(
        id_col, F.transform(_as_double(vec_col), q).alias("codes")
    )


def sq8_append(
    codes: DataFrame,
    new_vectors: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL SQ8 index maintenance: encode only the arriving
    vectors against the STORED bounds and append to the stored code
    artifact — the indexed corpus is never re-encoded (the ivf_append/
    pq_append discipline). Work per ingest is O(batch × dim).

    Law: with bounds held fixed, ``sq8_append(encode(old), new, b)`` ==
    ``sq8_encode(old ∪ new, b)`` — incremental equals full rebuild
    under the same quantizer. Proven two ways: the s50_sq8_append
    registration's DuckDB oracle re-encodes the FULL corpus from
    scratch against the old-corpus bounds and hash-compares it to this
    incremental output, and tests/test_llm_ops.py asserts incremental
    == full-rebuild row-for-row in Spark. Re-training bounds
    (``sq8_train``) is the periodic offline job; between runs the index
    stays probe-consistent because every stored code used the same
    (lo, hi)."""
    return codes.unionByName(
        sq8_encode(new_vectors, bounds, id_col, vec_col)
    )


def sq8_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric SQ8 top-k: 64-bit integer L2 between code arrays,
    ranked ascending with the neighbor id as the deterministic
    tie-break. Because the quantizer step is one global scalar,
    d2_float = step²·d2_int — the integer ranking IS the dequantized-L2
    ranking, exactly, so this whole search path is hash-verifiable.

    Plan shape: broadcast the (small by definition) query block, one
    narrow map over the code corpus computes all query×corpus
    distances inside whole-stage codegen, a per-query ranking window
    over k·|queries| rows takes the top k. The corpus is scanned once
    regardless of query count."""
    q = query_codes.select(
        F.col(id_col).alias("query_id"),
        F.col("codes").alias("query_codes"),
    )
    # SQL lambda, not a Python-lambda builder chain: nested HOFs built
    # from Python lambdas collide on lambda variable names (see _sq_l2)
    d2 = F.expr(
        "aggregate(zip_with(codes, query_codes, "
        "(x, y) -> cast(x - y as bigint) * cast(x - y as bigint)), "
        "cast(0 as bigint), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("neighbor_id")
    )
    return (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            d2.alias("d2"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


def sq8_kmeans(
    codes: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    max_train_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over SQ8-QUANTIZED vectors, integer-exact end to
    end — the FAISS-style coarse-quantizer training step (train the
    cluster structure on compressed codes, not raw floats) made
    externally hash-verifiable. ``k`` centroids are seeded with the
    lowest-id codes (re-keyed 0..k-1 in id order) and refined by
    ``iters`` rounds of :func:`_lloyd`, whose integer mean is the
    per-dimension sum DIV count. A code array joins its nearest
    centroid by 64-bit integer squared L2 (a NULL distance wins, ties
    to the lower centroid id), so no float ever enters and an oracle
    can replay every round. Codes are 4× smaller than float32, so the
    one corpus scan per round reads a quarter of the raw-vector bytes.

    ``max_train_rows`` seeds and trains on a deterministic hash-bottom
    sample, as in :func:`ivf_train`; the returned assignment still
    covers the FULL input under the final centroids.

    Returns ``(centroids, assignment)``: (centroid_id, cent) with
    cent an int array, and (vec_id, centroid_id, d2) under the FINAL
    centroids."""
    train = (
        codes
        if max_train_rows is None
        else _train_sample(codes, id_col, max_train_rows)
    )
    spark = codes.sparkSession
    elem = train.schema[codes_col].dataType.simpleString()  # array<...>
    ds = F.expr(
        f"transform(cvs, cv -> aggregate(zip_with({codes_col}, cv, "
        "(a, b) -> CAST((a - b) AS BIGINT) * CAST((a - b) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x))"
    )

    def assign(state: dict, src: DataFrame = train) -> DataFrame:
        if not state:  # an empty training set has no centroids
            return (
                src.select(F.col(id_col), F.col(codes_col))
                .filter(F.lit(False))
                .withColumn("centroid_id", F.lit(None).cast("long"))
                .withColumn("d2", F.lit(None).cast("long"))
            )
        cids = sorted(state)
        packed = local_df(
            spark,
            [([state[c] for c in cids], cids)],
            f"cvs array<{elem}>, cds array<bigint>",
        )
        return (
            src.crossJoin(F.broadcast(packed))
            .withColumn("_ds", ds)
            .withColumn("_bp", _nulls_first_argmin())
            .select(
                id_col,
                codes_col,
                F.expr("cds[_bp - 1]").alias("centroid_id"),
                F.expr("_ds[_bp - 1]").alias("d2"),
            )
        )

    seeds = sorted(
        train.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).cast("long"), codes_col)
        .collect(),
        key=lambda r: _nulls_first(r[0]),
    )
    state = {i: r[1] for i, r in enumerate(seeds)}
    _lloyd(state, assign, ("centroid_id",), codes_col, iters)
    return (
        local_df(
            spark,
            [(c, state[c]) for c in sorted(state)],
            f"centroid_id long, cent {elem}",
        ),
        assign(state, codes),
    )
