"""Deduplication operators for LLM training-data pipelines.

Four families, all shuffle-architected for 100 TB:

- **Exact** (`exact_dedup`): hash-groupBy on a normalized fingerprint.
  One shuffle on the 32-char digest, not the document bytes.
- **N-gram Jaccard** (`jaccard_pairs`): the exact near-dup ground truth.
  Candidate pairs come from an inverted shingle→doc join (only documents
  sharing ≥1 shingle ever meet), then exact Jaccard via intersection
  counts. No O(n²) cross join at any point.
- **MinHash + LSH** (`minhash_signatures`, `lsh_candidate_pairs`,
  `minhash_lsh_dedup`): sub-quadratic near-dup at scale. Signatures are
  the lexicographic min of ``md5(seed || shingle)`` per seed — a pure
  built-in-function construction (no UDF, portable to the SQL oracle).
  Banding groups signature slices; only same-bucket docs join.
- **SimHash** (`simhash`): n-bit locality-sensitive digest from per-token
  md5 hex-digit parities; near-dups collide on the digest (or within
  small Hamming distance).

Embedding-cosine near-dup lives in operators/similarity.py.

All of them consume one STAGED artifact per corpus (``staged_shingles``):
the per-doc shingle arrays, a hashed inverted index, and MinHash
signatures, each materialized once and shared across queries — the local
analog of staging the dedup index to parquet, which is how a 100 TB
pipeline amortizes its one wide text scan over many dedup passes. The
staged artifacts live in :mod:`etl_example_spark.artifacts`, which
keys, locks, bounds and invalidates them.

Signatures use deterministic md5 hashing so results are bit-reproducible
and oracle-comparable; the intersection join uses xxhash64'd shingles
(8-byte shuffle keys; distinct-shingle collision odds ~|V|²/2⁶⁵).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_example_spark import artifacts
from etl_example_spark.operators.text import normalized_fingerprint, tokens


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the document text.

    The token array is bound ONCE per row as a lambda variable (the
    single-element ``transform`` wrapper): referencing the raw ``tokens()``
    expression inside the per-position lambda would re-run the regex split
    for every shingle position — O(tokens²) splits per document, a ~10×
    slowdown measured at sf0.1."""

    def grams(toks: Column) -> Column:
        count = F.size(toks)
        return F.array_distinct(
            F.when(count < n, F.array(F.concat_ws(" ", toks))).otherwise(
                F.transform(
                    F.sequence(F.lit(0), count - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                )
            )
        )

    return F.element_at(F.transform(F.array(tokens(col)), grams), 1)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact (normalized) text — the
    hash-groupBy exact dedup. Returns (fingerprint, keep_id, n_copies)."""
    return (
        df.select(
            normalized_fingerprint(text_col).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingle_doc(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Exploded (doc_id, shingle) inverted index, deduplicated per doc."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )


class _StagedShingles:
    """The staged dedup artifact for one (input, shingle-params) pair.

    Production near-dup pipelines never recompute the shingle scan per
    query: they stage it once (to parquet at 100 TB; ``localCheckpoint``
    locally) and run every dedup/similarity pass against the staged copy.
    This class is that artifact:

    - ``rows``: the input itself, executed at most once — checkpointed
      when its plan is derived (a dedup chain), else the plain scan.
      A caller that needs the input's documents again (the survivors of
      a near-dup pass) reads them here instead of re-running the chain.
    - ``sets``: (doc_id, sh_set array<string>, n_shingles) — ONE narrow
      scan over the corpus text; everything else derives from it without
      touching the text again.
    - ``hashed_index``: exploded (doc_id, n_shingles, h=xxhash64(shingle))
      — the self-join representation. 8-byte keys shuffle ~4× less than
      shingle strings and compare branch-free in the sort-merge join.
    - ``signatures(num_hashes)``: MinHash signatures, one row-wise
      projection of ``sets``: per seed, ``array_min`` over a
      ``transform`` of the staged array. No explode and no shuffle; an
      explode + ``min()`` aggregate over md5 strings plans a
      SortAggregate (string min buffers cannot use the hash map) behind
      a shuffle. Interleaved micro-benchmark over the same staged sets,
      16 hashes, median of 7 reps on a shared 4-vCPU VM: 0.63 → 0.43 s
      at 1,500 docs and 1.14 → 1.01 s at 5,000 docs (an earlier run at
      a slower moment of the same VM: 1.15 → 0.84 s and 1.75 → 1.41 s).

    The derived tables are built on first use, once, through the
    artifact store. Their key carries a token unique to this build, so
    a rebuilt (or unkeyable) parent never serves another build's tables.
    """

    def __init__(self, rows: DataFrame, sets: DataFrame, params):
        self.rows, self.sets = rows, sets
        self._params = (params, object())

    @property
    def hashed_index(self) -> DataFrame:
        return artifacts.get_or_build(
            "hashed_index",
            self.sets.sparkSession,
            self._params,
            lambda: self.sets.select(
                "doc_id",
                "n_shingles",
                F.explode(
                    F.expr("transform(sh_set, s -> xxhash64(s))")
                ).alias("h"),
            ).localCheckpoint(eager=True),
        )

    def signatures(self, num_hashes: int) -> DataFrame:
        return artifacts.get_or_build(
            "signatures",
            self.sets.sparkSession,
            (*self._params, num_hashes),
            lambda: self.sets.select(
                "doc_id",
                *[
                    F.expr(
                        f"array_min(transform(sh_set, "
                        f"x -> md5(concat('{s}|', x))))"
                    ).alias(f"mh_{s}")
                    for s in range(num_hashes)
                ],
            ).localCheckpoint(eager=True),
        )


def _restore_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a corpus to the default parallelism before an
    artifact over it is pinned: a single-file corpus (one row group)
    arrives as ONE partition, which would make every downstream pass
    over the staged artifact — the self-join probe, the signature
    projection — a single task regardless of cluster size. At 100 TB
    the source already has thousands of splits and this is a no-op.

    On a checkpoint or a plain scan the partition count costs no job;
    on a derived (AQE) plan ``getNumPartitions`` executes the plan's
    shuffle stages just to count the partitions, so
    :func:`staged_shingles` passes its checkpoint."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df


def staged_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> _StagedShingles:
    """Get-or-build the staged shingle artifact for ``df``.

    Keyed by the input's *semantic* plan hash, so repeated query builds
    over the same source (the bench loop, d25+d26 sharing one corpus, a
    clustering pass over pair output) reuse one staging job instead of
    re-scanning the text per query — the warm-index analog of
    ``sources.loaders.warm_tables`` (BASELINE.md compares warm-server
    latencies; Postgres likewise serves repeat queries from warm buffers).
    A derived input is checkpointed first (kept as ``rows``), so the
    build executes its plan once.

    The key also carries the input's column names: ``rows`` serves the
    input under its own names, and plan canonicalization erases alias
    names, so two inputs that differ only in how a column is aliased
    share a semantic hash.
    """
    params = artifacts.plan_params(df, n, text_col, id_col, tuple(df.columns))

    def build() -> _StagedShingles:
        rows = artifacts.materialize_if_derived(df)
        sets = (
            _restore_parallelism(rows)
            .select(
                F.col(id_col).alias("doc_id"),
                word_shingles(text_col, n).alias("sh_set"),
            )
            .withColumn("n_shingles", F.size("sh_set"))
            .localCheckpoint(eager=True)
        )
        return _StagedShingles(rows, sets, params)

    return artifacts.get_or_build(
        "shingles", df.sparkSession, params, build, sources=(df,)
    )


def shingle_index(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """The (doc_id, shingle) inverted index, materialized once.

    Every near-dup operator consumes this index multiple times (sizes,
    both self-join legs, candidate verification); recomputing the
    tokenize→shingle→explode pipeline per consumer dominated runtime (~4s
    per pass at sf0.1). ``localCheckpoint`` pins the computed index in
    executor storage and truncates lineage — blocks are released by the
    ContextCleaner when the DataFrame is garbage collected. At 100 TB the
    same role is played by staging the index to parquet (one wide scan,
    many cheap re-reads); the operator shape is unchanged."""
    sh = _shingle_doc(df, text_col, id_col, n)
    return sh.localCheckpoint(eager=True) if materialize else sh


def drop_hot_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` — the
    skew guard for inverted-index self-joins: a shingle in D documents
    contributes D² candidate pairs on one reduce task, so boilerplate
    n-grams ('terms of service', license headers) dominate runtime while
    contributing almost no near-dup signal. The hot set is tiny by
    construction → broadcast anti-join, no extra shuffle of the index."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (doc_a < doc_b, jaccard ≥
    threshold), via the inverted-index self-join:

        inter(a,b) = |shared shingles|;  J = inter / (|A| + |B| - inter)

    The only quadratic term is within shingle buckets — bounded by shingle
    frequency, not corpus size. At 100 TB, frequent-shingle skew is the
    risk: ``max_shingle_df`` drops shingles above a document-frequency
    ceiling before the self-join (Jaccard is then computed over the
    remaining shingles — a deliberate recall/cost trade, standard in
    web-scale dedup).

    Plan shape (default path): ONE self-join of the staged hashed index on
    its 8-byte shingle hash, with each doc's set size carried *in* the
    index rows — so the Jaccard test runs directly on the join-aggregate
    output with zero additional joins (the naive plan re-joins a sizes
    table twice). Intersection counts use xxhash64(shingle) equality;
    distinct-shingle collisions are ~|shingles|²/2⁶⁵ (≪1e-9 at any
    realistic vocabulary) — the standard trade in web-scale dedup.
    ``max_shingle_df`` takes the exact-string legacy path instead (hot-set
    semantics are defined on string shingles).
    """
    scaled = int(round(threshold * 1_000_000))
    if max_shingle_df is not None:
        sh = drop_hot_shingles(
            shingle_index(df, n, text_col, id_col), max_shingle_df
        )
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
        sa = sizes.select(
            F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
        )
        sb = sizes.select(
            F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
        )
        joined = inter.join(sa, "doc_a").join(sb, "doc_b")
    else:
        idx = staged_shingles(df, n, text_col, id_col).hashed_index
        a, b = idx.alias("a"), idx.alias("b")
        joined = (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_shingles").alias("size_a"),
                F.col("b.n_shingles").alias("size_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
    return (
        joined
        # integer cross-multiplication keeps the threshold test exact
        .filter(
            F.col("inter") * 1_000_000
            >= F.lit(scaled) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
        .select("doc_a", "doc_b", "inter", "size_a", "size_b")
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric shingle-containment pairs — the near-SUBSET detector
    Jaccard misses.

    Jaccard normalizes by the union, so a short document wholly quoted
    inside a much longer one scores low (J = |A|/|B|) and survives
    symmetric dedup; containment C(A→B) = inter/|A| scores it 1.0. This
    is the standard second axis in web-scale curation (quoted posts,
    boilerplate-wrapped articles, chunk/superset pairs in training
    corpora). Emits (doc_a < doc_b) pairs where the smaller side is
    ≥ ``threshold`` contained in the other, with both directed scores as
    exact integer flags.

    Plan shape: identical to :func:`jaccard_pairs`'s default path — ONE
    self-join of the staged hashed shingle index on its 8-byte hash with
    set sizes carried in the index rows, then an integer
    cross-multiplied threshold on ``least(size_a, size_b)``. No extra
    joins, no floats until the final display columns. Quadratic only
    within shingle buckets (bounded by shingle document frequency, not
    corpus size), like every inverted-index operator here.
    """
    scaled = int(round(threshold * 1_000_000))
    idx = staged_shingles(df, n, text_col, id_col).hashed_index
    a, b = idx.alias("a"), idx.alias("b")
    joined = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("size_a"),
            F.col("b.n_shingles").alias("size_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    m = F.col("inter") * 1_000_000
    return (
        joined.filter(m >= F.lit(scaled) * F.least("size_a", "size_b"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "size_a",
            "size_b",
            (m >= F.lit(scaled) * F.col("size_a")).alias("a_in_b"),
            (m >= F.lit(scaled) * F.col("size_b")).alias("b_in_a"),
        )
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs_sampled(
    df: DataFrame,
    threshold: float = 0.9,
    sample_mod: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """The PRODUCTION path for containment detection: the inverted-index
    self-join runs only on a deterministic 1/``sample_mod`` sample of
    each document's shingles, and the intersection is the scaled-up
    estimate ``inter_sampled * sample_mod``.

    Why not MinHash-LSH candidates (the d26 route): MinHash collision
    probability tracks symmetric JACCARD, which is exactly what a
    high-containment pair of very different sizes does NOT have — the
    short-quoted-in-long pair that motivates containment has J ≈
    |A|/|B| ≪ 1 and rarely collides in any band. Shingle sampling keeps
    recall for high-containment pairs regardless of the size ratio
    (each shared shingle survives with probability 1/mod independent of
    |B|), while dividing the self-join's bucket density by mod² — the
    documented recall/cost trade, same family as ``max_shingle_df``.

    Determinism: the sample is md5-hash-threshold (like the sampling
    operators), so the estimator is a fixed function of the corpus and
    the DuckDB oracle reproduces it bit-for-bit; no randomness anywhere.
    Exact set sizes are carried from the full index, so only the
    intersection is estimated. Small documents (few shingles) see high
    estimator variance — run the exact :func:`containment_pairs` on the
    emitted pairs when precision matters.
    """
    scaled = int(round(threshold * 1_000_000))
    sampled_pred = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
            "long"
        )
        % sample_mod
        == 0
    )
    st = staged_shingles(df, n, text_col, id_col)
    exploded = st.sets.select(
        "doc_id",
        "n_shingles",
        F.explode("sh_set").alias("shingle"),
    ).filter(sampled_pred)
    if max_shingle_df is not None:
        # sampling divides bucket density uniformly, but a boilerplate
        # shingle that survives the sample is still hot — the same df
        # guard as jaccard_pairs composes here (sizes stay exact; the
        # estimator then under-counts boilerplate overlap, which is the
        # point of the guard)
        exploded = drop_hot_shingles(exploded, max_shingle_df)
    idx = exploded.select(
        # narrow 8-byte join key; Spark-internal (the oracle joins on
        # the string shingle — equal modulo ~2⁻⁶⁵ collisions)
        "doc_id",
        "n_shingles",
        F.xxhash64("shingle").alias("h"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    joined = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_shingles").alias("size_a"),
            F.col("b.n_shingles").alias("size_b"),
        )
        .agg((F.count("*") * sample_mod).alias("inter_est"))
    )
    m = F.col("inter_est") * 1_000_000
    return (
        joined.filter(m >= F.lit(scaled) * F.least("size_a", "size_b"))
        .select("doc_a", "doc_b", "inter_est", "size_a", "size_b")
        .orderBy("doc_a", "doc_b")
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: for seed s, the lexicographic min of
    ``md5(s || '|' || shingle)`` over the document's shingles. Uniform hex
    strings make lexicographic min ≡ numeric min of the 128-bit hash.

    Default path returns the STAGED signature table (checkpointed, shared
    across queries over the same corpus — see :class:`_StagedShingles`):
    one row-wise projection of the staged shingle arrays,
    ``array_min(transform(sh_set, x -> md5(concat('s|', x))))`` per
    seed, with no explode and no shuffle. The arrays are a checkpointed
    column, so the lambdas never re-run the shingle pipeline; the
    measurement against the explode + ``min()``-aggregate form is in
    :class:`_StagedShingles`.

    Pass ``index`` to compute over a custom exploded (doc_id, shingle)
    index (e.g. hot-shingle-filtered) instead: one hash aggregate with
    ``num_hashes`` ``min()`` columns."""
    if index is not None:
        return index.groupBy("doc_id").agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle")))).alias(
                    f"mh_{s}"
                )
                for s in range(num_hashes)
            ]
        )
    return staged_shingles(df, n, text_col, id_col).signatures(num_hashes)


def lsh_candidate_pairs(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature and bucket by (band_id, band_hash): docs agreeing
    on ALL rows of at least one band become candidates. One narrow map
    (band digests, all bands emitted in one pass then exploded), ONE
    shuffle into posting lists, and in-bucket pair expansion — the
    self-join formulation evaluates the signature plan twice (once per
    join leg) and shuffles it twice; the posting-list groupBy evaluates it
    once. In-bucket expansion is quadratic in bucket size — that is LSH's
    contract (a bucket IS a candidate clique); band width controls it."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(band).alias("band_id"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{band * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for band in range(bands)
    ]
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bd")
    ).select("doc_id", "bd.band_id", "bd.band_hash")
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    # (a, b) for every a < b in the bucket; SQL-parsed lambdas (see the
    # simhash note on PySpark client-side lambda-name collisions)
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "b -> struct(a as doc_a, b as doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    staged: _StagedShingles | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: LSH candidates, then *exact* Jaccard
    verification of only those candidates (the standard verify-after-LSH
    discipline — banding alone admits false positives).

    Verification joins the (small by construction) candidate set against
    the staged per-doc shingle arrays — broadcast hash joins, no index
    shuffle — and computes |A∩B| with ``array_intersect`` per pair. The
    candidate set being ≪ corpus is LSH's whole premise; if it weren't,
    banding failed and no join strategy saves the query.

    ``staged`` is ``staged_shingles(df, n, text_col, id_col)`` when the
    caller already holds it (an unkeyable input would otherwise build it
    twice)."""
    st = staged or staged_shingles(df, n, text_col, id_col)
    cands = lsh_candidate_pairs(st.signatures(num_hashes), num_hashes, bands)
    a = st.sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_shingles").alias("size_a"),
    )
    b = st.sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_shingles").alias("size_b"),
    )
    scaled = int(round(threshold * 1_000_000))
    return (
        F.broadcast(cands)
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("inter"),
            "size_a",
            "size_b",
        )
        .filter(
            F.col("inter") * 1_000_000
            >= F.lit(scaled) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def edit_distance_pairs(
    df: DataFrame,
    rel_threshold_pct: int = 20,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level near-dup pairs: MinHash-LSH candidates verified by
    Levenshtein distance ≤ rel_threshold_pct% of the longer text.

    Edit distance is O(len²) per pair — never run all-pairs; the LSH
    pre-filter bounds verification to same-band-bucket candidates. The
    threshold test is exact integer cross-multiplication
    (dist * 100 <= pct * max_len), so results hash-compare across engines
    (both Spark and DuckDB implement unit-cost Levenshtein identically).
    """
    sigs = minhash_signatures(df, num_hashes, n, text_col, id_col)
    cands = lsh_candidate_pairs(sigs, num_hashes, bands)
    texts = df.select(F.col(id_col).alias("tid"), F.col(text_col).alias("t"))
    a = texts.select(F.col("tid").alias("doc_a"), F.col("t").alias("text_a"))
    b = texts.select(F.col("tid").alias("doc_b"), F.col("t").alias("text_b"))
    dist = F.levenshtein("text_a", "text_b")
    max_len = F.greatest(F.length("text_a"), F.length("text_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            max_len.alias("max_len"),
        )
        .filter(
            F.col("edit_dist") * 100 <= F.lit(rel_threshold_pct) * F.col("max_len")
        )
        .orderBy("doc_a", "doc_b")
    )


def dedup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Near-duplicate pairs → transitive clusters: connected components by
    iterative min-label propagation. Returns (doc_id, cluster_id) where
    cluster_id is the smallest doc_id in the component — the canonical
    keep-one-per-cluster decision table (keep where doc_id == cluster_id).

    Each iteration is one join + one aggregate: every node takes the min
    of its own label and its neighbors' labels; convergence needs
    component-diameter iterations (near-dup clusters are shallow — pairs
    and small cliques — so 2-4 in practice; ``max_iter`` bounds
    pathological chains). ``localCheckpoint`` truncates the growing plan
    lineage per iteration — without it the logical plan doubles every
    round, the classic iterative-algorithm failure on Spark. At 100 TB
    this is the same loop (state is one (node,label) table partitioned by
    node); the alternating large-star/small-star variant cuts iteration
    count on deep graphs without changing the operator shape.
    """
    edges_fwd = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = (
        edges_fwd.union(
            edges_fwd.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("dst_label")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        # Round-14 (guide §5 compute-once): the convergence probe used
        # to RE-JOIN new labels with old labels every round — a second
        # join + multi-stage count per iteration (measured: ~12 jobs
        # per propagation round on the g05 kernel). The propagation
        # join already sees both values, so carry the old label through
        # the checkpoint and probe convergence with a narrow
        # limit(1)-short-circuited scan of it. Same comparison, same
        # NULL semantics (new != old is NULL for NULL labels — dropped
        # by the filter exactly as the old inner-join count dropped
        # NULL nodes), same convergence point, same final labels.
        staged = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("new_label"),
                F.col("label").alias("_old"),
            )
            .localCheckpoint()
        )
        changed = (
            staged.filter(F.col("new_label") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = staged.select(
            "node", F.col("new_label").alias("label")
        )
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def simhash(col: str, bits: int = 16) -> Column:
    """SimHash digest as a bit-string: bit i is the sign of the sum over
    tokens of ±1 by the parity of hex digit i of ``md5(token)``. Near-dup
    texts (mostly-shared token multisets) agree on most bits. ``bits`` ≤ 32
    (md5 yields 32 hex digits).

    Built as ONE server-side SQL expression: combining multiple
    Python-built ``F.aggregate(F.transform(...))`` columns in a single
    projection cross-wires their lambda variables (PySpark client-side
    lambda naming collision) — SQL-parsed lambdas scope correctly.

    The token digests are bound once per row (outer ``transform`` lambda):
    inlining the split+md5 into each bit's aggregate would re-split and
    re-hash the document per bit — a ``bits``× blowup.
    """
    toks_sql = (
        f"CASE WHEN length(trim(lower(coalesce({col}, '')))) = 0 "
        f"THEN array() "
        f"ELSE split(trim(lower(coalesce({col}, ''))), '\\\\s+') END"
    )
    return F.expr(
        f"""
        element_at(transform(array(transform({toks_sql}, t -> md5(t))), hs ->
            concat_ws('', transform(sequence(1, {bits}), i ->
                CASE WHEN aggregate(hs, 0, (acc, h) ->
                    acc + CASE WHEN substring(h, i, 1) IN
                        ('8','9','a','b','c','d','e','f')
                    THEN 1 ELSE -1 END) >= 0
                THEN '1' ELSE '0' END))), 1)
        """
    )


def simhash_buckets(
    df: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group documents by identical SimHash digest; buckets with >1 doc are
    near-dup clusters (Hamming-0 collisions; wider radii via band-split of
    the digest, same LSH machinery as MinHash banding).

    Token-less documents (NULL/empty/whitespace text) are EXCLUDED: with
    no votes every bit ties to 1, so they'd all collide into one
    meaningless all-ones cluster."""
    return (
        df.filter(F.size(tokens(text_col)) > 0)
        .select(simhash(text_col, bits).alias("simhash"), F.col(id_col))
        .groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark contamination scan: for every corpus document, how many
    of its word n-gram shingles also occur anywhere in ``benchmark``.

    The decontamination primitive of training-data pipelines (the GPT-3
    13-gram rule): eval-set n-grams must not leak into training data.
    Returns (doc_id, n_shingles, n_hits) for documents with >= 1 hit;
    callers threshold on ``n_hits`` / the exact integer ratio.

    Scale shape: the benchmark's distinct shingle set is tiny relative to
    the corpus (eval suites, not corpora), so the probe is a BROADCAST
    inner join against the exploded corpus index — the corpus never
    shuffles, and the scan parallelism is the corpus scan's. The corpus
    side reuses the staged shingle index (one tokenize pass shared with
    the dedup operators).
    """
    probe = (
        benchmark.select(
            F.explode(word_shingles(text_col, n)).alias("shingle")
        )
        .distinct()
    )
    # materialize the shingle array once, then derive size + explode from
    # the bound column (two word_shingles expressions in one select would
    # duplicate the HOF pipeline per row)
    sets = corpus.select(
        F.col(id_col).alias("doc_id"),
        word_shingles(text_col, n).alias("sh_set"),
    )
    sh = sets.select(
        "doc_id",
        F.size("sh_set").alias("n_shingles"),
        F.explode("sh_set").alias("shingle"),
    )
    return (
        sh.join(F.broadcast(probe), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_hits"))
    )


def band_digests(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_hash): the LSH band digests of a signature
    table — the joinable form of the LSH index (same digests
    ``lsh_candidate_pairs`` builds internally, exposed so an index over
    an EXISTING corpus can be stored and probed incrementally)."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(band).alias("band_id"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{band * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for band in range(bands)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bd")
    ).select("doc_id", "bd.band_id", "bd.band_hash")


def incremental_minhash_pairs(
    existing: DataFrame,
    new: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs INVOLVING a new-document batch, without touching
    the existing corpus's text: signatures are per-document (corpus-
    independent), so the existing side contributes only its staged
    band digests and shingle sets — the incremental-maintenance path
    for a continuously ingested corpus. Equals the full recompute over
    existing+new restricted to pairs with >= 1 new document (the law
    plans/llm_ops d55's oracle checks).

    Candidates = (new bands ⋈ existing bands on (band_id, band_hash))
    ∪ (new-vs-new via the posting-list path); verification is the same
    exact-Jaccard test as ``minhash_lsh_dedup``. At scale the existing
    side's digests/sets are a stored index table — pass those directly
    to :func:`probe_minhash_index` (this wrapper recomputes them from
    the existing corpus text); per batch, cost is O(new) + the probe
    joins."""
    st_old = staged_shingles(existing, n, text_col, id_col)
    b_old = band_digests(st_old.signatures(num_hashes), num_hashes, bands)
    return probe_minhash_index(
        b_old,
        st_old.sets,
        new,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        n=n,
        text_col=text_col,
        id_col=id_col,
    )


def minhash_index(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The storable LSH index of a document set: ``(bands, sets)`` =
    ((doc_id, band_id, band_hash), (doc_id, sh_set, n_shingles)).
    Build once per corpus/batch, persist as two parquet tables, probe
    with :func:`probe_minhash_index`."""
    st = staged_shingles(docs, n, text_col, id_col)
    return (
        band_digests(st.signatures(num_hashes), num_hashes, bands),
        st.sets,
    )


def probe_minhash_index(
    index_bands: DataFrame,
    index_sets: DataFrame,
    new: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs involving ``new``, probed against a STORED LSH
    index: ``index_bands`` = (doc_id, band_id, band_hash) from
    :func:`band_digests`, ``index_sets`` = (doc_id, sh_set, n_shingles)
    from ``staged_shingles(...).sets``. Doc ids must be unique across
    index + new.

    This is the continuously-ingested-corpus maintenance shape: the
    index lives as two parquet tables; each arriving batch (a) probes
    the index for new×existing pairs, (b) self-checks for new×new pairs
    via the posting-list path, and (c) appends its own digests/sets to
    the index so LATER batches see it — no re-shingling of the corpus,
    ever. Per-batch cost is O(new) + the band-equality probe join."""
    st_new = staged_shingles(new, n, text_col, id_col)
    b_new = band_digests(st_new.signatures(num_hashes), num_hashes, bands)
    b_old = index_bands
    st_old_sets = index_sets
    cross = (
        b_new.select(
            F.col("doc_id").alias("new_id"), "band_id", "band_hash"
        )
        .join(b_old, ["band_id", "band_hash"])
        .select(
            F.least("new_id", "doc_id").alias("doc_a"),
            F.greatest("new_id", "doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    within = lsh_candidate_pairs(
        st_new.signatures(num_hashes), num_hashes, bands
    )
    cands = cross.unionByName(within).distinct()
    sets_all = st_old_sets.unionByName(st_new.sets)
    a = sets_all.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_shingles").alias("size_a"),
    )
    b = sets_all.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_shingles").alias("size_b"),
    )
    scaled = int(round(threshold * 1_000_000))
    return (
        F.broadcast(cands)
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("inter"),
            "size_a",
            "size_b",
        )
        .filter(
            F.col("inter") * 1_000_000
            >= F.lit(scaled)
            * (F.col("size_a") + F.col("size_b") - F.col("inter"))
        )
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


def keep_best_per_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """The dedup DECISION operator: collapse each near-dup cluster to its
    best-scoring member (ties broken by smallest id — deterministic).

    ``dedup_clusters``' keep-one rule keeps the *smallest id*; real
    curation keeps the *best* document (longest, highest quality score,
    most recent crawl). Documents in no pair survive as their own
    singleton cluster. Returns one row per cluster:
    (cluster_id, keep_doc, n_members, best_score).

    Plan shape: the cluster-label join carries NO broadcast hint — the
    label table is the whole pair graph's vertex set, which at corpus
    scale (most documents clustered) is corpus-sized, and a forced
    broadcast would ship it to every executor. AQE picks: a runtime
    broadcast when the labels really are small, a shuffle join on
    ``doc_id`` when they aren't. The per-cluster argmax is a
    partitioned window over (cluster, score), never a global sort.
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(pairs, max_iter)
    labeled = docs.select(
        F.col(id_col).alias("doc_id"), F.col(score_col).alias("_score")
    ).join(clusters, "doc_id", "left")
    labeled = labeled.withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_score"), F.asc("doc_id")
    )
    return (
        labeled.withColumn("_rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("_rn") == 1, F.col("doc_id"))).alias(
                "keep_doc"
            ),
            F.count("*").alias("n_members"),
            F.max("_score").alias("best_score"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    train_fraction: float = 0.8,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Train/val split that can never leak near-duplicates across the
    boundary: the split decision is made per CLUSTER (connected
    components of the near-dup pair graph; unpaired documents are their
    own singleton cluster), so two near-dup documents always land on the
    same side — the eval-contamination guard a random row-level split
    silently violates.

    Assignment is the deterministic md5-threshold rule on the cluster
    id (same machinery as the sampling operators): reproducible across
    engines, runs, and cluster layouts. Returns
    (doc_id, cluster_id, split) with split in {'train', 'val'}.
    """
    from etl_example_spark.operators.sampling import (
        rate_to_hex_threshold,
    )

    clusters = dedup_clusters(pairs, max_iter)
    # No broadcast hint: cluster labels scale with the clustered share of
    # the corpus; AQE decides broadcast-vs-shuffle at runtime.
    labeled = docs.select(F.col(id_col).alias("doc_id")).join(
        clusters, "doc_id", "left"
    )
    labeled = labeled.withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    is_train = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))),
        1,
        8,
    ) < F.lit(rate_to_hex_threshold(train_fraction))
    return labeled.withColumn(
        "split", F.when(is_train, "train").otherwise("val")
    )


# ---------------------------------------------------------------------------
# Corpus-level line dedup (C4-style) and a relational Bloom filter
# ---------------------------------------------------------------------------


def _lines_from_tokens(toks_col: str, line_tokens: int) -> Column:
    """Per-document array of derived lines from a BOUND token-array
    column (map-side, no shuffle) — shared by the explode path
    (:func:`doc_lines`) and the reassembly path of the line-dedup
    operators, which recompute it from the original row instead of
    shuffling line text back.

    Takes a materialized column NAME, never the ``tokens(...)``
    expression itself: an unbound split() inlined into the transform
    lambda is re-evaluated once PER LINE (Catalyst does not
    subexpression-eliminate across lambda elements) — measured 8× on
    the sibling span path. Callers project ``tokens(...)`` into a real
    column first so the lambda body references an attribute."""
    toks = F.col(toks_col)
    n_lines = F.ceil(F.size(toks) / F.lit(line_tokens)).cast("int")
    # sequence(0, -1) yields [0, -1] (negative default step), which would
    # fabricate two phantom empty lines per zero-token document — guard
    # the empty case to an empty array (no lines, doc absent downstream,
    # matching the oracle's range(0)).
    return F.when(
        n_lines > 0,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(
                F.slice(toks, i * line_tokens + 1, line_tokens), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _regex_quote(literal: str) -> str:
    """Java-regex literal quoting (``\\Q…\\E``) for a user separator —
    safe for any separator string, including regex metacharacters."""
    return "\\Q" + literal.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _doc_line_arrays(
    df: DataFrame,
    text_col: str,
    id_col: str,
    line_tokens: int,
    separator: str | None,
) -> DataFrame:
    """(doc_id, _lines): each document's ordered line array — the one
    projection every line-dedup operator derives lines from, in both
    the explode direction (:func:`doc_lines`) and the reassembly
    direction (:func:`_docs_with_kept_lines`), so the two can never
    disagree about what a "line" is.

    Two modes:
    - ``separator=None`` (default): consecutive ``line_tokens``-token
      chunks of the normalized token stream — the deterministic
      derivation for corpora with no newline structure.
    - ``separator='\\n'`` (or any literal string): the C4/RefinedWeb
      LITERAL line mode — split the raw text on the separator, no
      lowercasing or token normalization, so boilerplate is caught at
      its actual line boundaries instead of only when it happens to
      align to a chunk boundary. Empty text yields one empty line
      (``split('') == ['']`` in both Spark and the DuckDB oracle's
      string_split), so blank-line runs dedup to their first occurrence
      like any other repeated line. Map-side projection either way —
      no shuffle."""
    if separator is None:
        return df.select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks")
        ).select(
            "doc_id",
            _lines_from_tokens("_toks", line_tokens).alias("_lines"),
        )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.split(
            F.coalesce(F.col(text_col), F.lit("")),
            _regex_quote(separator),
            -1,
        ).alias("_lines"),
    )


def doc_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    separator: str | None = None,
) -> DataFrame:
    """Explode each document into "lines" — consecutive
    ``line_tokens``-token windows by default, or literal
    ``separator``-delimited lines (see :func:`_doc_line_arrays`).

    C4/RefinedWeb-style pipelines dedup at line granularity because
    boilerplate (navbars, cookie banners, license headers) repeats across
    pages whose full texts differ. The driver corpus carries no newline
    structure, so derived token-chunk lines are the default — the
    operator shape (explode → global first-occurrence rule →
    reassemble) is identical in both modes.

    The generator argument stays an INLINE expression, never a bound
    ``_lines`` column: ``posexplode`` over a column reference triggers
    Catalyst's InferFiltersFromGenerate, whose inferred
    ``size(e) > 0 AND isnotnull(e)`` filter substitutes the whole
    tokenize→chunk expression back in and evaluates it TWICE more per
    row (measured: d62 1.6 s → 2.7 s at sf0.1 when an intermediate
    projection bound the array). The token array itself is still bound
    before the per-line lambda (that one saves O(tokens²) splitting).

    Returns (doc_id, line_idx, line_text); a narrow projection + explode,
    no shuffle.
    """
    if separator is None:
        base = df.select(
            F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks")
        )
        arr = _lines_from_tokens("_toks", line_tokens)
    else:
        base = df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("_raw"),
        )
        arr = F.split(F.col("_raw"), _regex_quote(separator), -1)
    return base.select(
        "doc_id",
        F.posexplode(arr).alias("line_idx", "line_text"),
    )


#: bits reserved for the position half of a packed occurrence key —
#: 2^20 ≈ 1M lines/spans per document, asserted per row.
_POS_BITS = 20
_POS_MASK = (1 << _POS_BITS) - 1
_MAX_PACK_DOC = (1 << (63 - _POS_BITS)) - 1  # doc ids up to 2^43 - 1


def _integral_id(df: DataFrame, col: str) -> bool:
    return dict(df.dtypes).get(col) in ("tinyint", "smallint", "int", "bigint")


def _pack_occurrence(doc_id: Column, pos: Column) -> Column:
    """(doc_id, pos) packed into ONE bigint whose natural order equals
    lexicographic (doc_id, pos) order: ``doc_id·2^20 + pos``.

    Why pack: ``min(struct(doc_id, pos))`` has no mutable aggregation
    buffer, so Catalyst compiles the whole first-occurrence aggregate to
    SortAggregate — both sides of the shuffle sort the full occurrence
    stream (one row per corpus line/span). ``min(bigint)`` keeps a
    mutable long buffer → HashAggregate inside whole-stage codegen.
    Bounds (doc_id in [0, 2^43), pos in [0, 2^20)) are asserted per row
    so an out-of-range corpus fails loudly instead of mis-ordering.
    """
    guard = (
        (doc_id >= 0)
        & (doc_id <= _MAX_PACK_DOC)
        & (pos >= 0)
        & (pos <= _POS_MASK)
    )
    packed = doc_id.cast("long") * F.lit(1 << _POS_BITS).cast("long") + pos
    return F.when(
        F.assert_true(
            guard, F.lit("occurrence key out of packing bounds")
        ).isNull(),
        packed,
    )


def _unpack_occurrence(packed: Column) -> tuple[Column, Column]:
    """Inverse of :func:`_pack_occurrence`: (doc_id, pos) as longs."""
    return (
        F.shiftright(packed, _POS_BITS),
        packed.bitwiseAND(F.lit(_POS_MASK)),
    )


def _content_hash_pair(col: Column | str) -> list[Column]:
    """Two independent 64-bit hashes of a content column — the grouping
    key for internal first-occurrence aggregates. 128 hash bits keep the
    collision budget negligible at web-corpus scale (10^12 distinct
    lines → ~10^-15 pair collision odds) at HALF the shuffle width of a
    32-char md5 hex string, and long keys hash-aggregate without string
    comparisons.

    The salt literal goes BEFORE the content: Spark folds multi-column
    xxhash64 left-to-right as ``h = XXH64(col, seed=h_prev)``, so a
    trailing salt (``xxhash64(c, lit(1))``) is just XXH64 of the
    constant 1 seeded by ``xxhash64(c)`` — any collision of the first
    hash forces a collision of the second, collapsing the pair to
    64-bit resistance (~10^4 expected collisions at 10^12 distinct
    values, each a silent wrongful removal). Salt-first makes the two
    streams start from unrelated effective seeds
    (``XXH64(c, seed=XXH64(1))`` vs ``XXH64(c, seed=XXH64(2))``), which
    is the standard two-seed construction. Durable artifacts that store
    this pair (:func:`line_index`, :func:`span_index`) must be rebuilt
    when this definition changes — the hash values are part of the
    artifact contract."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.xxhash64(F.lit(1), c).alias("_h1"),
        F.xxhash64(F.lit(2), c).alias("_h2"),
    ]


def _first_occurrence_keeps(lines: DataFrame) -> DataFrame:
    """The kept (doc_id, line_idx) pairs — each distinct line's global
    first occurrence — computed as ``groupBy(line hashes).min(packed)``.

    This aggregate shape is the skew armor of the whole family: partial
    aggregation folds every map task's copies of a hot line into ONE
    pre-shuffle row, so a boilerplate line repeated billions of times
    across a web corpus costs each reducer one row per upstream task. A
    ``row_number`` window over the same key cannot partial-aggregate —
    every copy of the hot line lands in a single task (the straggler/OOM
    the aggregate avoids). The min runs over a packed bigint occurrence
    key (:func:`_pack_occurrence`) so the aggregate is a HashAggregate,
    not the SortAggregate a struct-typed min buffer forces; non-integral
    doc ids fall back to the struct formulation (same answers, sorted
    aggregation).
    """
    if not _integral_id(lines, "doc_id"):
        return (
            lines.groupBy(F.md5("line_text").alias("line_hash"))
            .agg(F.min(F.struct("doc_id", "line_idx")).alias("_first"))
            .select(
                F.col("_first.doc_id").alias("doc_id"),
                F.col("_first.line_idx").alias("line_idx"),
            )
        )
    id_type = dict(lines.dtypes)["doc_id"]
    packed = _pack_occurrence(F.col("doc_id"), F.col("line_idx"))
    first_doc, first_idx = _unpack_occurrence(F.col("_k"))
    return (
        lines.select(*_content_hash_pair("line_text"), packed.alias("_p"))
        .groupBy("_h1", "_h2")
        .agg(F.min("_p").alias("_k"))
        .select(
            first_doc.cast(id_type).alias("doc_id"),
            first_idx.cast("int").alias("line_idx"),
        )
    )


def _docs_with_kept_lines(
    df: DataFrame,
    keeps: DataFrame,
    text_col: str,
    id_col: str,
    line_tokens: int,
    separator: str | None = None,
) -> DataFrame:
    """Reassembly shared by the line-dedup operators: fold the kept
    (doc_id, line_idx) pairs into a per-doc index array, join that back
    to the corpus on doc_id (unique key — no skew possible), and rebuild
    each document's surviving lines MAP-SIDE from its own text. Line
    text itself is never shuffled: only (digest, ids) rows move.

    Output columns: doc_id, _lines (all derived lines, in order),
    _kept_lines (surviving (idx, txt) structs, in order).
    """
    kept_per_doc = keeps.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("line_idx")).alias("_kept_idx")
    )
    docs = _doc_line_arrays(df, text_col, id_col, line_tokens, separator)
    indexed = F.transform(
        "_lines", lambda x, i: F.struct(i.alias("idx"), x.alias("txt"))
    )
    return (
        docs.join(kept_per_doc, "doc_id", "left")
        .withColumn(
            "_kept_idx",
            F.coalesce("_kept_idx", F.array().cast("array<int>")),
        )
        .withColumn(
            "_kept_lines",
            F.filter(
                indexed,
                lambda s: F.array_contains(F.col("_kept_idx"), s["idx"]),
            ),
        )
    )


def _line_dedup_summary(assembled: DataFrame) -> DataFrame:
    """Per-doc audit projection over :func:`_docs_with_kept_lines`
    output — (doc_id, n_lines, kept_lines, dropped_lines, cleaned_fp)."""
    return assembled.filter(F.size("_lines") > 0).select(
        "doc_id",
        F.size("_lines").cast("long").alias("n_lines"),
        F.size("_kept_lines").cast("long").alias("kept_lines"),
        (F.size("_lines") - F.size("_kept_lines"))
        .cast("long")
        .alias("dropped_lines"),
        F.md5(
            F.array_join(
                F.transform("_kept_lines", lambda s: s["txt"]), "\n"
            )
        ).alias("cleaned_fp"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    separator: str | None = None,
) -> DataFrame:
    """Corpus-level exact line dedup: a line survives only in its FIRST
    occurrence (min (doc_id, line_idx)) anywhere in the corpus; later
    copies are dropped from their documents.

    Shuffle architecture (hot-line-skew safe): first occurrences come
    from ``groupBy(line_hash).agg(min(struct(doc_id, line_idx)))`` —
    partial aggregation absorbs a boilerplate line repeated billions of
    times map-side (see :func:`_first_occurrence_keeps`; the previous
    ``row_number`` window formulation funneled every copy of a hot line
    into one task). The kept pairs then aggregate per doc and join back
    on doc_id — a unique key, so no shuffle in the plan has a skewable
    hot key — and each document rebuilds its surviving lines from its
    own text map-side. Only (digest, ids) rows ever shuffle.

    Returns per-doc (doc_id, n_lines, kept_lines, dropped_lines,
    cleaned_fp) where cleaned_fp is the md5 of the surviving lines
    joined with newline — the fingerprint of the cleaned document.

    ``separator`` switches to literal line splitting (C4's actual
    newline pass — ``separator='\\n'``); the default derives
    ``line_tokens``-token chunk lines. See :func:`_doc_line_arrays`.
    """
    lines = doc_lines(df, text_col, id_col, line_tokens, separator)
    keeps = _first_occurrence_keeps(lines)
    return _line_dedup_summary(
        _docs_with_kept_lines(
            df, keeps, text_col, id_col, line_tokens, separator
        )
    )


def bloom_positions(
    col: Column | str,
    k: int = 3,
    prefix_len: int = 5,
) -> Column:
    """The ``k`` Bloom bit positions of a key, as hex-string addresses.

    Position i is the first ``prefix_len`` hex chars of
    ``md5(i ':' key)`` — an m = 16^prefix_len bit space (prefix_len=5 →
    ~1M bits). Built-in functions only, so the WHOLE filter construction
    is portable to the DuckDB oracle: unlike an opaque sketch, the
    filter's bits are data.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.array(
        *[
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), c)), 1, prefix_len
            )
            for i in range(k)
        ]
    )


def bloom_build(
    benchmark: DataFrame,
    key_col: str,
    k: int = 3,
    prefix_len: int = 5,
) -> DataFrame:
    """Build a Bloom filter FROM a benchmark key set AS a DataFrame of
    distinct set-bit positions (single column ``pos``).

    Size is ≤ k·|benchmark| rows of 5-char strings regardless of corpus
    size — at 100 TB corpus / 1M-key benchmark that is a ~3M-row, few-MB
    table that broadcasts, so the contamination probe below never
    shuffles the corpus. This is the relational realization of the usual
    broadcast-Bloom pushdown.
    """
    return (
        benchmark.select(
            F.explode(bloom_positions(key_col, k, prefix_len)).alias("pos")
        )
        .distinct()
    )


def bloom_probe(
    corpus: DataFrame,
    bloom: DataFrame,
    key_col: str,
    k: int = 3,
    prefix_len: int = 5,
) -> DataFrame:
    """Probe each corpus key against the Bloom position set: ``bloom_hit``
    is true iff ALL k positions are set (the classic no-false-negative /
    some-false-positive contract).

    Plan: explode k positions per DISTINCT key (the hit decision is a
    pure function of the key, and deduping first keeps the match count
    exactly k for repeated keys), broadcast-join the tiny position
    table, then broadcast the hit-key set back onto the corpus — the
    corpus is scanned once and never shuffled on its own bytes.
    """
    probes = corpus.select(
        F.col(key_col).alias("_bloom_key")
    ).distinct().select(
        "_bloom_key",
        F.explode(
            bloom_positions("_bloom_key", k, prefix_len)
        ).alias("pos"),
    )
    hits = (
        probes.join(F.broadcast(bloom), "pos", "left_semi")
        .groupBy("_bloom_key")
        .agg(F.count("*").alias("_n_set"))
        .filter(F.col("_n_set") == k)
        .select("_bloom_key")
    )
    return corpus.join(
        hits.withColumnRenamed("_bloom_key", key_col).withColumn(
            "bloom_hit", F.lit(True)
        ),
        key_col,
        "left",
    ).withColumn("bloom_hit", F.coalesce("bloom_hit", F.lit(False)))


def bloom_hit_literal(
    positions: set[str] | list[str],
    key_col: Column | str,
    k: int = 3,
    prefix_len: int = 5,
) -> Column:
    """Membership test against a DRIVER-COLLECTED Bloom position set, as
    a pure column expression: AND over the k per-seed ``isin`` literal
    checks.

    This is the push-down form of :func:`bloom_probe` for contexts where
    a join is unwanted — streaming probes (stateless per row: no
    per-batch filter rebuild, no stream-side shuffle) and scan-adjacent
    pre-filters. The set is bounded by k·|benchmark| (never the corpus),
    the same budget a broadcast pays; beyond literal-expression comfort
    (~1e5 entries) use the join form.
    """
    pos_list = sorted(positions)
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    checks = [
        F.substring(
            F.md5(F.concat(F.lit(f"{i}:"), c)), 1, prefix_len
        ).isin(pos_list)
        for i in range(k)
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out & chk
    return out


def line_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    separator: str | None = None,
) -> DataFrame:
    """The stored artifact for INCREMENTAL line dedup: one row per
    distinct line hash with its first occurrence — (line_hash,
    first_doc, first_idx, n_seen).

    Production pipelines don't re-run the boilerplate pass over the
    whole corpus per ingest; they keep this index (a parquet table at
    scale) and probe each arriving batch against it, then merge the
    batch's own first occurrences in — same discipline as the MinHash
    index behind d55/st45. Size is bounded by distinct lines, and rows
    are (digest, ids) only. The md5 ``line_hash`` column is the stored
    artifact's key contract; the first-occurrence min runs over the
    packed bigint key (:func:`_pack_occurrence`) so the aggregate is a
    HashAggregate, with a struct fallback for non-integral doc ids.
    ``separator`` selects literal line splitting (:func:`_doc_line_arrays`);
    an index is only ever probed with the same mode it was built with.
    """
    lines = doc_lines(df, text_col, id_col, line_tokens, separator)
    if not _integral_id(lines, "doc_id"):
        return (
            lines.groupBy(F.md5("line_text").alias("line_hash"))
            .agg(
                F.min(F.struct("doc_id", "line_idx")).alias("_first"),
                F.count("*").alias("n_seen"),
            )
            .select(
                "line_hash",
                F.col("_first.doc_id").alias("first_doc"),
                F.col("_first.line_idx").alias("first_idx"),
                "n_seen",
            )
        )
    id_type = dict(lines.dtypes)["doc_id"]
    packed = _pack_occurrence(F.col("doc_id"), F.col("line_idx"))
    first_doc, first_idx = _unpack_occurrence(F.col("_k"))
    return (
        lines.select(F.md5("line_text").alias("line_hash"), packed.alias("_p"))
        .groupBy("line_hash")
        .agg(F.min("_p").alias("_k"), F.count("*").alias("n_seen"))
        .select(
            "line_hash",
            first_doc.cast(id_type).alias("first_doc"),
            first_idx.cast("int").alias("first_idx"),
            "n_seen",
        )
    )


def probe_line_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    separator: str | None = None,
) -> DataFrame:
    """Incremental line dedup of one arriving batch against the stored
    index: a batch line survives only if its hash is absent from the
    index AND this is its first occurrence within the batch.

    The precedence rule is ARRIVAL order, not global (doc_id, line_idx)
    order: an indexed line beats any batch copy even if the batch doc's
    id is lower (the full-corpus :func:`line_dedup` would instead keep
    the min-id copy). That is the incremental contract — already-
    published survivors are immutable — and it is what lets each batch
    settle without rescanning the corpus.

    Plan (hot-line-skew safe): the batch's lines partial-aggregate to
    one row per distinct line hash (``min(struct(doc_id, line_idx))`` —
    same skew armor as :func:`line_dedup`), that one-row-per-hash table
    anti-joins the index (unique keys both sides, no skew), and the
    surviving first occurrences fold back per doc. The index never
    rescans its source corpus. Returns the same per-doc summary schema
    as :func:`line_dedup`.
    """
    lines = doc_lines(batch, text_col, id_col, line_tokens, separator)
    if not _integral_id(lines, "doc_id"):
        batch_firsts = lines.groupBy(
            F.md5("line_text").alias("line_hash")
        ).agg(F.min(F.struct("doc_id", "line_idx")).alias("_first"))
        new_keeps = batch_firsts.join(
            index.select("line_hash"), "line_hash", "left_anti"
        ).select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.line_idx").alias("line_idx"),
        )
        return _line_dedup_summary(
            _docs_with_kept_lines(
                batch, new_keeps, text_col, id_col, line_tokens, separator
            )
        )
    id_type = dict(lines.dtypes)["doc_id"]
    packed = _pack_occurrence(F.col("doc_id"), F.col("line_idx"))
    first_doc, first_idx = _unpack_occurrence(F.col("_k"))
    batch_firsts = (
        lines.select(F.md5("line_text").alias("line_hash"), packed.alias("_p"))
        .groupBy("line_hash")
        .agg(F.min("_p").alias("_k"))
    )
    new_keeps = batch_firsts.join(
        index.select("line_hash"), "line_hash", "left_anti"
    ).select(
        first_doc.cast(id_type).alias("doc_id"),
        first_idx.cast("int").alias("line_idx"),
    )
    return _line_dedup_summary(
        _docs_with_kept_lines(
            batch, new_keeps, text_col, id_col, line_tokens, separator
        )
    )


def merge_line_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    separator: str | None = None,
) -> DataFrame:
    """Fold one ingested batch into the stored line index — the line-
    level twin of :func:`merge_span_index` (and the offline compaction
    step for st52's epoch slices): hashes the index already holds keep
    their published first occurrence (arrival precedence) and add the
    batch's occurrence count; unseen hashes enter with their batch-first
    occurrence. One full-outer join on the unique line_hash key between
    two one-row-per-hash tables — no skew side, no corpus rescan.

    Law (tested): when arrival order agrees with (doc_id, line_idx)
    order — new ids above all indexed ids, the append-only production
    case — ``merge_line_index(line_index(old), new)`` row-equals
    ``line_index(old ∪ new)``.
    """
    b = line_index(batch, text_col, id_col, line_tokens, separator)
    i = (
        index.withColumnRenamed("first_doc", "_i_doc")
        .withColumnRenamed("first_idx", "_i_idx")
        .withColumnRenamed("n_seen", "_i_n")
    )
    b = (
        b.withColumnRenamed("first_doc", "_b_doc")
        .withColumnRenamed("first_idx", "_b_idx")
        .withColumnRenamed("n_seen", "_b_n")
    )
    return i.join(b, "line_hash", "full_outer").select(
        "line_hash",
        F.coalesce("_i_doc", "_b_doc").alias("first_doc"),
        F.coalesce("_i_idx", "_b_idx").alias("first_idx"),
        (
            F.coalesce("_i_n", F.lit(0)) + F.coalesce("_b_n", F.lit(0))
        ).alias("n_seen"),
    )


def line_dedup_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    separator: str | None = None,
) -> DataFrame:
    """The APPLY form of :func:`line_dedup`: returns the cleaned corpus
    itself — (doc_id, text) with every non-first line occurrence
    removed and the surviving lines rejoined in order. Documents whose
    every line was boilerplate come back with empty text (drop them
    with a trailing length filter if unwanted) so corpus membership is
    preserved for downstream joins.

    Idempotent by construction: the survivors are exactly the corpus's
    first occurrences, so a second pass finds every remaining line
    unique and drops nothing (property-tested). Same hot-line-skew-safe
    aggregate plan as :func:`line_dedup` — no window over the line hash.
    In separator mode the surviving lines rejoin with the SEPARATOR
    (cleaning a newline corpus yields a newline corpus); token-chunk
    mode rejoins with a space as before.
    """
    lines = doc_lines(df, text_col, id_col, line_tokens, separator)
    keeps = _first_occurrence_keeps(lines)
    assembled = _docs_with_kept_lines(
        df, keeps, text_col, id_col, line_tokens, separator
    )
    return assembled.select(
        "doc_id",
        F.array_join(
            F.transform("_kept_lines", lambda s: s["txt"]),
            " " if separator is None else separator,
        ).alias(text_col),
    )


# ---------------------------------------------------------------------------
# Substring-level exact dedup (remove duplicated token spans)
# ---------------------------------------------------------------------------


def _span_occurrences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int,
) -> DataFrame:
    """(doc_id, pos, _h1, _h2): every ``span_tokens``-token sliding
    window of every document, positioned and content-hashed with the
    two-long xxhash64 pair (:func:`_content_hash_pair` — 16 bytes per
    anchor instead of a 32-char md5 hex string; at one anchor per corpus
    token that halves the aggregate's shuffle width). Documents shorter
    than the span length emit nothing (a span that short is
    document-exact dedup's job). Narrow projection + explode — no
    shuffle; the span text is dropped in the same projection that hashes
    it. The token array binds to a real column BEFORE the sliding-window
    transform — an unbound split() inlined into the lambda re-evaluates
    once per position (O(tokens²) splitting per document, measured 8× on
    this corpus)."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    spans = F.when(
        n >= span_tokens,
        F.transform(
            F.sequence(F.lit(0), n - span_tokens),
            lambda i: F.array_join(F.slice(toks, i + 1, span_tokens), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        "doc_id",
        F.posexplode(spans).alias("pos", "_s"),
    ).select("doc_id", "pos", *_content_hash_pair("_s"))


def clear_staged_caches() -> None:
    """Drop every staged artifact of every kind (see
    :func:`etl_example_spark.artifacts.clear`)."""
    artifacts.clear()


def staged_span_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    stage_path: str | None = None,
) -> DataFrame:
    """Get-or-build the staged (doc_id, pos, _h1, _h2) occurrence table
    for ``df`` — the d25/d26 staged-shingle discipline applied to
    substring dedup. Keyed by the input's semantic plan hash; unkeyable
    inputs stage without caching.

    ``stage_path`` is the 100 TB form: a WRITE-ONCE parquet staging
    table (any Hadoop-visible URI — HDFS/S3/local) instead of a
    localCheckpoint pinned in executor storage. First call scans the
    corpus once and writes the artifact; every later call — the detect
    pass, the apply pass, a rerun after a driver restart — reads the
    parquet back without touching the text again. Executor memory/disk
    no longer bounds the artifact, and it survives the session. The
    caller owns the path's lifecycle (delete it to force a re-scan;
    the artifact store's file snapshot does not apply here: presence
    of the artifact IS the cache)."""
    if stage_path is not None:
        spark = df.sparkSession
        jpath = spark._jvm.org.apache.hadoop.fs.Path(stage_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(
            spark._jvm.org.apache.hadoop.fs.Path(
                stage_path, "_SUCCESS"
            )
        ):
            _span_occurrences(df, text_col, id_col, span_tokens).write.mode(
                "overwrite"
            ).parquet(stage_path)
        return spark.read.parquet(stage_path)
    return artifacts.get_or_build(
        "spans",
        df.sparkSession,
        artifacts.plan_params(df, span_tokens, text_col, id_col),
        lambda: _span_occurrences(
            _restore_parallelism(df), text_col, id_col, span_tokens
        ).localCheckpoint(eager=True),
        sources=(df,),
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    stage_path: str | None = None,
) -> DataFrame:
    """Cross-document duplicated-substring detection — the suffix-array
    "deduplicating training data" pass (remove-duplicated-substrings), as
    relational algebra: every ``span_tokens``-token window that occurs
    anywhere else in the corpus BEFORE it (min (doc_id, pos) keeps the
    first copy) is a duplicate anchor; overlapping/adjacent anchors merge
    into maximal removal intervals. A duplicated run of R >= span_tokens
    tokens yields R - span_tokens + 1 consecutive anchors, so interval
    merging IS the anchor-extend step (cf. the winnowing anchors, d43).

    Shuffle architecture (same skew armor as :func:`line_dedup`): first
    occurrences come from ``groupBy(hash pair).agg(min(packed bigint))``
    — partial aggregation absorbs corpus-scale hot spans (license
    boilerplate) map-side, and the packed-long min keeps the whole
    aggregate a HashAggregate (a struct-typed min buffer would compile
    to SortAggregate: both shuffle sides sorting one row per corpus
    token, a measured ~10× constant-factor tax); duplicate anchors are
    the anti-join of positions against kept pairs on the UNIQUE
    (doc_id, pos) key; the only window runs per doc_id over that doc's
    own anchors (bounded by document length — never by corpus
    frequency). The occurrence scan comes from the staged artifact
    (:func:`staged_span_occurrences`) — consumed twice here and again
    by the apply form, it is computed once per (input, params) instead
    of once per consumer (measured 2×+ on d80/d81).

    Returns merged (doc_id, span_start, span_end, span_len) intervals,
    token-indexed, end-exclusive. ``stage_path`` stages the occurrence
    scan to a write-once parquet artifact instead of executor storage
    (see :func:`staged_span_occurrences`) — pass the SAME path to the
    apply form so detect and apply share one corpus scan durably.
    """
    occ = staged_span_occurrences(
        df, text_col, id_col, span_tokens, stage_path
    )
    if _integral_id(occ, "doc_id"):
        id_type = dict(occ.dtypes)["doc_id"]
        packed = _pack_occurrence(F.col("doc_id"), F.col("pos"))
        first_doc, first_pos = _unpack_occurrence(F.col("_k"))
        keeps = (
            occ.select("_h1", "_h2", packed.alias("_p"))
            .groupBy("_h1", "_h2")
            .agg(F.min("_p").alias("_k"))
            .select(
                first_doc.cast(id_type).alias("doc_id"),
                first_pos.cast("int").alias("pos"),
            )
        )
    else:  # non-integral doc ids: same aggregate, struct-ordered min
        keeps = (
            occ.groupBy("_h1", "_h2")
            .agg(F.min(F.struct("doc_id", "pos")).alias("_first"))
            .select(
                F.col("_first.doc_id").alias("doc_id"),
                F.col("_first.pos").alias("pos"),
            )
        )
    dups = occ.select("doc_id", "pos").join(
        keeps, ["doc_id", "pos"], "left_anti"
    )
    return _merge_anchor_islands(dups, span_tokens)


def _merge_anchor_islands(dups: DataFrame, span_tokens: int) -> DataFrame:
    """Gaps-and-islands merge of duplicate anchors into maximal removal
    intervals — shared by :func:`duplicated_spans` and the df-floor
    variant. The only window is per doc_id over that document's own
    anchors (bounded by document length, never by corpus frequency)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + span_tokens).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islanded = dups.withColumn(
        "_new",
        F.when(
            F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1
        ).otherwise(0),
    ).withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islanded.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + span_tokens).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def duplicated_spans_df_floor(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    min_span_df: int = 3,
    stage_path: str | None = None,
) -> DataFrame:
    """:func:`duplicated_spans` with a corpus-frequency floor — the
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better" threshold: only spans occurring at least ``min_span_df``
    times in the corpus trigger removal anchors (their non-first
    occurrences); rarer repeats (e.g. one quoted passage, cnt=2 under
    floor 3) are left alone. ``min_span_df=2`` reproduces
    :func:`duplicated_spans` exactly.

    Shuffle architecture: one HashAggregate per span hash emits
    (first-occurrence packed key, span df); occurrences re-join that
    per-hash stats table on the hash pair. Unlike the base operator's
    anti-join on unique (doc_id, pos), this probe join's key IS the
    span hash — but the build side is one row per distinct hash
    (aggregate output, unique keys), so a hot boilerplate span makes a
    skewed PROBE partition, which AQE's skew-join split handles by
    splitting the probe side and replicating the one matching build
    row (a window over the same key could never split). Firsts drop
    map-side via packed-key comparison after the join.

    Returns the same merged (doc_id, span_start, span_end, span_len)
    intervals, restricted to floor-qualifying spans.
    """
    occ = staged_span_occurrences(
        df, text_col, id_col, span_tokens, stage_path
    )
    if not _integral_id(occ, "doc_id"):
        raise ValueError(
            "duplicated_spans_df_floor requires an integral id column "
            "(packed occurrence keys); got "
            + dict(occ.dtypes)["doc_id"]
        )
    packed = _pack_occurrence(F.col("doc_id"), F.col("pos"))
    stats = (
        occ.select("_h1", "_h2", packed.alias("_p"))
        .groupBy("_h1", "_h2")
        .agg(F.min("_p").alias("_k"), F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_span_df)
    )
    dups = (
        occ.withColumn("_p", packed)
        .join(stats, ["_h1", "_h2"])
        .filter(F.col("_p") != F.col("_k"))
        .select("doc_id", "pos")
    )
    return _merge_anchor_islands(dups, span_tokens)


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    min_span_df: int = 2,
    stage_path: str | None = None,
) -> DataFrame:
    """The APPLY form of :func:`duplicated_spans`: the cleaned corpus
    itself — (doc_id, text) with every token covered by a duplicated
    non-first span removed, survivors rejoined in order. Corpus
    membership is preserved (documents with nothing removed come back
    with their tokens rejoined; fully-duplicated documents come back
    empty). The removal intervals fold to one array per doc and join
    back on doc_id (unique key, no skew); each document filters its own
    token array map-side — token text never shuffles.

    ``min_span_df > 2`` applies the corpus-frequency floor
    (:func:`duplicated_spans_df_floor` — the Lee et al. threshold):
    only spans occurring at least that often trigger removal; 2 is the
    plain every-repeat rule.
    """
    if min_span_df > 2:
        detected = duplicated_spans_df_floor(
            df, text_col, id_col, span_tokens, min_span_df, stage_path
        )
    else:
        detected = duplicated_spans(
            df, text_col, id_col, span_tokens, stage_path
        )
    return _remove_interval_spans(df, detected, text_col, id_col)


def _remove_interval_spans(
    df: DataFrame,
    detected: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared apply kernel: given (doc_id, span_start, span_end)
    removal intervals, return the corpus with every covered token
    removed and survivors rejoined — the reassembly used by
    :func:`remove_duplicated_spans` and
    :func:`remove_benchmark_spans`. Intervals fold to one array per
    doc and join back on the unique doc_id key; each document filters
    its own token array map-side — token text never shuffles."""
    spans_per_doc = (
        detected
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("span_start").alias("s"),
                        F.col("span_end").alias("e"),
                    )
                )
            ).alias("_rm")
        )
    )
    # NULL text coalesces to '' so NULL-text documents come back with
    # empty text like every fully-removed document (the oracle's
    # COALESCE(text, '') convention) instead of propagating NULL.
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )
    indexed = F.transform(
        "_toks", lambda x, i: F.struct(i.cast("long").alias("i"), x.alias("x"))
    )
    covered = lambda s: F.exists(  # noqa: E731
        F.col("_rm"), lambda r: (s["i"] >= r["s"]) & (s["i"] < r["e"])
    )
    return (
        docs.join(spans_per_doc, "doc_id", "left")
        .withColumn(
            "_rm",
            F.coalesce(
                "_rm", F.array().cast("array<struct<s:bigint,e:bigint>>")
            ),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter(indexed, lambda s: ~covered(s)),
                    lambda s: s["x"],
                ),
                " ",
            ).alias(text_col),
        )
    )


def benchmark_span_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level benchmark decontamination, DETECTION half — the
    GPT-3 13-gram rule as positioned intervals: every
    ``span_tokens``-token window of the corpus that appears ANYWHERE
    in the benchmark is an overlap anchor; overlapping/adjacent
    anchors merge to maximal (doc_id, span_start, span_end) removal
    intervals. Complements d47's doc-level report: this is the form
    you APPLY when dropping whole documents is too blunt (one quoted
    eval question shouldn't cost a long document).

    Scale shape: the benchmark's distinct span hashes are a
    (hash-pair)-only table bounded by benchmark TOKENS (eval suites
    are tiny next to the corpus) — it BROADCASTS onto the corpus
    occurrence scan, so the corpus never shuffles for the probe
    (``broadcast_benchmark=False`` switches to a shuffled left-semi
    join for benchmark-sized 'benchmarks'). Anchors then merge with
    the same per-document bounded window as :func:`duplicated_spans`.
    """
    bench = benchmark_hash_index(benchmark, text_col, id_col, span_tokens)
    return probe_benchmark_hashes(
        bench, df, text_col, id_col, span_tokens, broadcast_benchmark
    )


def benchmark_hash_index(
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 13,
) -> DataFrame:
    """The durable artifact of :func:`benchmark_span_overlap`: one row
    per DISTINCT ``span_tokens``-token window of the benchmark, hash
    pair only (``_h1``, ``_h2`` — never span text, so the stored index
    leaks no benchmark content). Bounded by benchmark tokens; write it
    to parquet once and probe every corpus batch against it
    (:func:`probe_benchmark_hashes`) — the streaming/incremental
    decontamination form."""
    return (
        _span_occurrences(benchmark, text_col, id_col, span_tokens)
        .select("_h1", "_h2")
        .distinct()
    )


def probe_benchmark_hashes(
    bench_hashes: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Probe half of :func:`benchmark_span_overlap` against a
    precomputed (possibly parquet-stored) benchmark hash table:
    O(batch tokens) per call, the benchmark is never re-tokenized.
    ``span_tokens`` must match the value the index was built with."""
    bench = bench_hashes.select("_h1", "_h2").distinct()
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    occ = staged_span_occurrences(df, text_col, id_col, span_tokens)
    hits = occ.join(bench, ["_h1", "_h2"], "left_semi").select(
        "doc_id", "pos"
    )
    return _merge_anchor_islands(hits, span_tokens)


def remove_benchmark_spans(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level benchmark decontamination, APPLY half: the corpus
    with every token covered by a benchmark-overlapping window
    removed, survivors rejoined in order — corpus membership
    preserved (clean documents return their tokens rejoined; fully
    contaminated documents come back empty). Same map-side reassembly
    kernel as :func:`remove_duplicated_spans`."""
    detected = benchmark_span_overlap(
        df, benchmark, text_col, id_col, span_tokens, broadcast_benchmark
    )
    return _remove_interval_spans(df, detected, text_col, id_col)


def span_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
) -> DataFrame:
    """The stored artifact for INCREMENTAL substring dedup: one row per
    distinct ``span_tokens``-token window with its first occurrence —
    (_h1, _h2, first_doc, first_pos, n_seen).

    Production pipelines don't re-run the duplicated-span pass over the
    whole corpus per ingest; they keep this index (a parquet table at
    scale — rows are the 16-byte xxhash64 pair plus three ids, never
    span text) and probe each arriving batch against it
    (:func:`probe_span_index`), then fold the batch in
    (:func:`merge_span_index`) — the discipline of
    :func:`line_index`/:func:`probe_line_index` applied one level down,
    from lines to sliding windows. The first-occurrence min runs over
    the packed bigint key (:func:`_pack_occurrence`) so the aggregate
    is a HashAggregate, with a struct-ordered fallback for
    non-integral doc ids.
    """
    occ = _span_occurrences(df, text_col, id_col, span_tokens)
    if not _integral_id(occ, "doc_id"):
        return (
            occ.groupBy("_h1", "_h2")
            .agg(
                F.min(F.struct("doc_id", "pos")).alias("_first"),
                F.count("*").alias("n_seen"),
            )
            .select(
                "_h1",
                "_h2",
                F.col("_first.doc_id").alias("first_doc"),
                F.col("_first.pos").alias("first_pos"),
                "n_seen",
            )
        )
    id_type = dict(occ.dtypes)["doc_id"]
    packed = _pack_occurrence(F.col("doc_id"), F.col("pos"))
    first_doc, first_pos = _unpack_occurrence(F.col("_k"))
    return (
        occ.select("_h1", "_h2", packed.alias("_p"))
        .groupBy("_h1", "_h2")
        .agg(F.min("_p").alias("_k"), F.count("*").alias("n_seen"))
        .select(
            "_h1",
            "_h2",
            first_doc.cast(id_type).alias("first_doc"),
            first_pos.cast("int").alias("first_pos"),
            "n_seen",
        )
    )


def probe_span_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
) -> DataFrame:
    """Incremental duplicated-span detection of one arriving batch
    against the stored index: a batch anchor is a duplicate if its span
    hash already exists in the index (arrival order beats id order —
    published survivors are immutable, the same incremental contract as
    :func:`probe_line_index`) OR it is not the batch's own first
    occurrence. Anchors merge into maximal removal intervals exactly as
    in :func:`duplicated_spans`.

    Plan (hot-span-skew safe): the batch's occurrences partial-aggregate
    to one row per distinct hash pair (packed-bigint min —
    HashAggregate), that table anti-joins the index on the unique hash
    key, and surviving batch-first positions anti-join back against the
    batch's positions (unique (doc_id, pos) key). The indexed corpus is
    never rescanned — work per ingest is O(batch tokens), not O(corpus).
    Returns merged (doc_id, span_start, span_end, span_len) intervals,
    token-indexed, end-exclusive, batch documents only.
    """
    occ = _span_occurrences(batch, text_col, id_col, span_tokens)
    if _integral_id(occ, "doc_id"):
        id_type = dict(occ.dtypes)["doc_id"]
        packed = _pack_occurrence(F.col("doc_id"), F.col("pos"))
        first_doc, first_pos = _unpack_occurrence(F.col("_k"))
        batch_firsts = (
            occ.select("_h1", "_h2", packed.alias("_p"))
            .groupBy("_h1", "_h2")
            .agg(F.min("_p").alias("_k"))
        )
        new_keeps = batch_firsts.join(
            index.select("_h1", "_h2"), ["_h1", "_h2"], "left_anti"
        ).select(
            first_doc.cast(id_type).alias("doc_id"),
            first_pos.cast("int").alias("pos"),
        )
    else:
        batch_firsts = occ.groupBy("_h1", "_h2").agg(
            F.min(F.struct("doc_id", "pos")).alias("_first")
        )
        new_keeps = batch_firsts.join(
            index.select("_h1", "_h2"), ["_h1", "_h2"], "left_anti"
        ).select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.pos").alias("pos"),
        )
    dups = occ.select("doc_id", "pos").join(
        new_keeps, ["doc_id", "pos"], "left_anti"
    )
    return _merge_anchor_islands(dups, span_tokens)


def merge_span_index(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
) -> DataFrame:
    """Fold one ingested batch into the stored span index: hashes the
    index already holds keep their published first occurrence (arrival
    precedence) and add the batch's occurrence count; unseen hashes
    enter with their batch-first occurrence. One full-outer join on the
    unique hash key between two one-row-per-hash tables — no skew side,
    no corpus rescan.

    Law (tested, and externally verified through d86's oracle shape):
    when arrival order agrees with (doc_id, pos) order — new ids above
    all indexed ids, the append-only production case —
    ``merge_span_index(span_index(old), new)`` row-equals
    ``span_index(old ∪ new)``.
    """
    b = span_index(batch, text_col, id_col, span_tokens)
    i = (
        index.withColumnRenamed("first_doc", "_i_doc")
        .withColumnRenamed("first_pos", "_i_pos")
        .withColumnRenamed("n_seen", "_i_n")
    )
    b = (
        b.withColumnRenamed("first_doc", "_b_doc")
        .withColumnRenamed("first_pos", "_b_pos")
        .withColumnRenamed("n_seen", "_b_n")
    )
    return i.join(b, ["_h1", "_h2"], "full_outer").select(
        "_h1",
        "_h2",
        F.coalesce("_i_doc", "_b_doc").alias("first_doc"),
        F.coalesce("_i_pos", "_b_pos").alias("first_pos"),
        (
            F.coalesce("_i_n", F.lit(0)) + F.coalesce("_b_n", F.lit(0))
        ).alias("n_seen"),
    )


def soft_dedup_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-aware sampling weights — soft dedup: instead of
    DROPPING non-first copies (:func:`exact_dedup`), every document
    stays in the corpus carrying weight 1/n_copies, so each distinct
    content contributes one unit of sampling mass however many times it
    was crawled (the duplicate-count reweighting used alongside hard
    dedup in web-corpus mixing; feed the weight column straight into
    sampling.mixture_sample or a weighted loss).

    One hash aggregate on the normalized-text fingerprint sizes each
    cluster; documents probe-join the unique-keyed size table — a viral
    copypasta skews only the AQE-splittable probe side. The weight is
    one IEEE double division of exact integers: deterministic and
    engine-portable. For NEAR-dup clusters, substitute dedup_clusters'
    component labels for the fingerprint — the shape is identical.

    Returns (doc_id, n_copies, weight), corpus membership preserved.
    """
    fp = normalized_fingerprint(text_col)
    sizes = (
        df.select(fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.count("*").alias("n_copies"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), fp.alias("_fp"))
        .join(sizes, "_fp")
        .select(
            "doc_id",
            "n_copies",
            (F.lit(1.0) / F.col("n_copies")).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate audits — the "what dominates my corpus" reports
# ---------------------------------------------------------------------------


def top_duplicated_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    min_df: int = 2,
    stage_path: str | None = None,
) -> DataFrame:
    """The k most-repeated ``span_tokens``-token windows WITH their text
    — the audit a span-dedup pass runs first ("what boilerplate
    dominates this corpus": license headers, cookie banners, navboxes),
    and the evidence behind choosing d82's frequency floor.

    Scale shape: the per-hash stats come from the same narrow
    occurrence aggregate as detection (count + min packed key per hash
    pair — never span text through the shuffle); the top-k is a
    TakeOrdered over one row per distinct repeated span; the text is
    recovered MAP-SIDE by broadcasting the k winners onto the corpus
    and re-slicing each winner's first-occurrence document at its
    recorded position — k rows of text materialize, not one per
    occurrence. Deterministic ties: equal counts order by the packed
    first-occurrence key (unique per span).

    Returns (span_text, span_df, first_doc, first_pos), highest
    span_df first.
    """
    occ = staged_span_occurrences(
        df, text_col, id_col, span_tokens, stage_path
    )
    if not _integral_id(occ, "doc_id"):
        raise ValueError(
            "top_duplicated_spans requires an integral id column "
            "(packed occurrence keys); got " + dict(occ.dtypes)["doc_id"]
        )
    id_type = dict(occ.dtypes)["doc_id"]
    packed = _pack_occurrence(F.col("doc_id"), F.col("pos"))
    first_doc, first_pos = _unpack_occurrence(F.col("_k"))
    top = (
        occ.select("_h1", "_h2", packed.alias("_p"))
        .groupBy("_h1", "_h2")
        .agg(F.count("*").alias("span_df"), F.min("_p").alias("_k"))
        .filter(F.col("span_df") >= min_df)
        .orderBy(F.desc("span_df"), "_k")
        .limit(k)
        .select(
            first_doc.cast(id_type).alias("doc_id"),
            first_pos.cast("int").alias("first_pos"),
            "span_df",
        )
    )
    docs = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks"),
    )
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select(
            F.array_join(
                F.slice(F.col("_toks"), F.col("first_pos") + 1, span_tokens),
                " ",
            ).alias("span_text"),
            "span_df",
            F.col("doc_id").alias("first_doc"),
            "first_pos",
        )
        .orderBy(F.desc("span_df"), "first_doc", "first_pos")
    )


def top_duplicated_lines(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 10,
    separator: str | None = None,
    min_df: int = 2,
) -> DataFrame:
    """The k most-repeated LINES with their text — the C4-pass audit
    (same report as :func:`top_duplicated_spans`, one level up), in
    either line mode: token-chunk lines (default) or literal
    ``separator`` lines. Identical scale shape: hash-keyed narrow
    stats aggregate, TakeOrdered top-k, text recovered map-side from
    each winner's first-occurrence document.

    Returns (line_text, line_df, first_doc, first_idx), highest
    line_df first.
    """
    lines = doc_lines(df, text_col, id_col, line_tokens, separator)
    if not _integral_id(lines, "doc_id"):
        raise ValueError(
            "top_duplicated_lines requires an integral id column "
            "(packed occurrence keys); got " + dict(lines.dtypes)["doc_id"]
        )
    id_type = dict(lines.dtypes)["doc_id"]
    packed = _pack_occurrence(F.col("doc_id"), F.col("line_idx"))
    first_doc, first_idx = _unpack_occurrence(F.col("_k"))
    top = (
        lines.select(*_content_hash_pair("line_text"), packed.alias("_p"))
        .groupBy("_h1", "_h2")
        .agg(F.count("*").alias("line_df"), F.min("_p").alias("_k"))
        .filter(F.col("line_df") >= min_df)
        .orderBy(F.desc("line_df"), "_k")
        .limit(k)
        .select(
            first_doc.cast(id_type).alias("doc_id"),
            first_idx.cast("int").alias("first_idx"),
            "line_df",
        )
    )
    docs = _doc_line_arrays(df, text_col, id_col, line_tokens, separator)
    return (
        docs.join(F.broadcast(top), "doc_id")
        .select(
            F.element_at(F.col("_lines"), F.col("first_idx") + 1).alias(
                "line_text"
            ),
            "line_df",
            F.col("doc_id").alias("first_doc"),
            "first_idx",
        )
        .orderBy(F.desc("line_df"), "first_doc", "first_idx")
    )


def intradoc_line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    separator: str = "\n",
) -> DataFrame:
    """WITHIN-document duplicate-line removal (the Gopher/Dolma
    intra-document pass, the cheap sibling of the corpus-wide
    :func:`line_dedup`): each document keeps only the FIRST occurrence
    of every distinct ``separator``-delimited line it contains;
    cross-document repetition is untouched. Returns
    ``(id_col, n_lines, kept_lines, text)`` with survivors rejoined
    in order.

    Scale shape: pure higher-order-function arithmetic per row —
    ``split`` → ``array_distinct`` (order-preserving first-occurrence
    semantics, exactly this pass's rule) → ``array_join`` — a single
    narrow codegen scan with NO shuffle and no per-line state at any
    corpus size, which is why Gopher runs it before every global pass.
    """
    raw = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col,
        F.lit(""),
    )
    lines = F.split(raw, _regex_quote(separator), -1)
    kept = F.array_distinct(lines)
    return df.select(
        id_col,
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        F.array_join(kept, separator).alias("text"),
    )
