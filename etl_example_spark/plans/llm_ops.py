"""LLM-training-data pipeline operators as registered, oracle-checked queries.

Coverage (BASELINE.json north-star): deduplication (exact, n-gram
Jaccard, MinHash-LSH, SimHash, embedding-cosine), similarity search
(brute-force top-k; the ANN variant is rows-only + recall-tested),
text analysis (token counting, quality scoring, language ID,
fingerprinting), multimodal stats. Implementations:
etl_example_spark/operators/{text,dedup,similarity,multimodal}.py.

The DuckDB oracles reconstruct the SAME md5-derived hashing pipelines in
SQL (portable by construction: lexicographic mins over hex digests,
integer cross-multiplied thresholds, fixed-order float folds verified
bit-identical), so even MinHash-LSH and SimHash are hash-compared against
an independent engine rather than rows-only-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_example_spark import artifacts
from etl_example_spark.functions.localrel import local_df

from etl_example_spark.operators import (
    bpe,
    dedup,
    extraction,
    graph,
    multimodal,
    similarity,
    sketches,
    text,
)
from etl_example_spark.plans.registry import register
from etl_example_spark.sources.loaders import load_table

# --- shared DuckDB fragments (mirror operators/text.py exactly) ----------

# SQL_TOKS is ENGINE-EQUAL to operators/text.tokens by construction:
# NULL text coalesces to '' (without it, a NULL cell flows as NULL
# through oracle SUM/len while Spark's size(null array) is -1 — a
# latent corpus-statistics divergence), and the outer list_filter drops
# the [''] that string_split_regex('') yields where Spark's split('')
# yields [] (without it, every oracle counts a phantom '' token for
# empty/blank/NULL documents). The lambda variable is deliberately
# obscure so inlining the macro inside another lambda can't collide.
# SQL_NORM keeps NULL→NULL: md5-fingerprint ops are NULL-consistent on
# both engines already (F.md5(NULL) and DuckDB md5(NULL) are both NULL).
SQL_TOKS = (
    "list_filter(string_split_regex(trim(lower(COALESCE(text, ''))), "
    "'\\s+'), zz_tok -> zz_tok <> '')"
)
SQL_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
SQL_NTOKS = f"len({SQL_TOKS})"
# COALESCE in the short-doc branch: DuckDB's array_to_string([], ' ')
# is NULL where Spark's concat_ws(' ', []) is '' — without it, token-
# less documents get a NULL shingle that every equi-join silently drops,
# while the engine's '' shingle makes empty docs mutual near-dups (the
# d24 exact-dedup semantics: identical empty content IS duplicate).
SQL_SHINGLES3 = (
    "CASE WHEN len(toks) < 3 "
    "THEN [COALESCE(array_to_string(toks, ' '), '')] "
    "ELSE list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END"
)
JACCARD_COND = "i * 1000000 >= 600000 * (sa.n + sb.n - i)"


@register(
    "d23_dedup_exact_stats",
    "Exact-dedup profile per source: total vs distinct documents by "
    "normalized-text fingerprint (operators/dedup.exact_dedup family). "
    "One shuffle on the 32-char digest — document bytes never shuffle.",
    oracle=f"""
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT md5({SQL_NORM})) AS n_distinct
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    category="dedup",
)
def d23_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(text.normalized_fingerprint("text")).alias(
                "n_distinct"
            ),
        )
        .orderBy("source")
    )


@register(
    "d24_dedup_exact_keep",
    "Exact dedup, keep-first policy: lowest doc_id per normalized-text "
    "fingerprint with copy counts — the materialized dedup decision table.",
    oracle=f"""
        SELECT md5({SQL_NORM}) AS fingerprint,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY fingerprint
        ORDER BY fingerprint
    """,
    category="dedup",
)
def d24_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).orderBy("fingerprint")


@register(
    "d25_jaccard_pairs",
    "Exact word-3-gram Jaccard near-duplicate pairs (J >= 0.6) via the "
    "inverted shingle-index self-join — candidates only ever form between "
    "documents sharing a shingle; the threshold test is exact integer "
    "cross-multiplication (operators/dedup.jaccard_pairs).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b,
               i AS inter, sa.n AS size_a, sb.n AS size_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE {JACCARD_COND}
        ORDER BY doc_a, doc_b
    """,
    category="dedup",
    bench=True,
)
def d25_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, threshold=0.6, n=3)


@register(
    "d26_minhash_lsh_pairs",
    "MinHash(16)+LSH(4 bands) near-dup pairs with exact-Jaccard "
    "verification (J >= 0.6) — the sub-quadratic scale path: signatures "
    "are per-seed lexicographic mins of md5(seed|shingle); only same-"
    "(band,hash)-bucket documents ever join "
    "(operators/dedup.minhash_lsh_dedup).",
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
        ORDER BY doc_a, doc_b
    """,
    category="dedup",
    bench=True,
)
def d26_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_dedup(
        docs, threshold=0.6, num_hashes=16, bands=4, n=3
    )


@register(
    "d32_edit_distance_pairs",
    "Character-level near-dup pairs: MinHash-LSH candidates verified by "
    "Levenshtein <= 20% of the longer text (integer cross-multiplied "
    "threshold; both engines implement unit-cost Levenshtein "
    "identically). Edit distance never runs all-pairs — candidates only "
    "(operators/dedup.edit_distance_pairs).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
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
        )
        SELECT doc_a, doc_b,
               levenshtein(da.text, db.text) AS edit_dist,
               greatest(length(da.text), length(db.text)) AS max_len
        FROM cands
        JOIN documents da ON da.doc_id = doc_a
        JOIN documents db ON db.doc_id = doc_b
        WHERE levenshtein(da.text, db.text) * 100
              <= 20 * greatest(length(da.text), length(db.text))
        ORDER BY doc_a, doc_b
    """,
    category="dedup",
)
def d32_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.edit_distance_pairs(docs, rel_threshold_pct=20)


@register(
    "d31_dedup_clusters",
    "Near-dup pairs -> transitive clusters: connected components via "
    "iterative min-label propagation over the exact Jaccard pair graph "
    "(J >= 0.6); cluster_id = min doc_id of the component, the "
    "keep-one-per-cluster decision table (operators/dedup.dedup_clusters)."
    " Oracle: DuckDB recursive CTE computing the same transitive closure.",
    oracle=f"""
        WITH RECURSIVE
        t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE {JACCARD_COND}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk AS (
            SELECT src AS node, src AS reach FROM edges
            UNION
            SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
        )
        SELECT node AS doc_id, MIN(reach) AS cluster_id
        FROM walk
        GROUP BY node
        ORDER BY doc_id
    """,
    category="dedup",
)
def d31_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.6, n=3)
    return dedup.dedup_clusters(pairs).orderBy("doc_id")


def _simhash_sql(bits: int = 16) -> str:
    hex_set = "('8','9','a','b','c','d','e','f')"
    sums = ",\n               ".join(
        f"SUM(CASE WHEN substring(md5(tok), {i + 1}, 1) IN {hex_set} "
        f"THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    concat = " || ".join(
        f"(CASE WHEN s{i} >= 0 THEN '1' ELSE '0' END)" for i in range(bits)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents
        ),
        bits AS (
            SELECT doc_id,
               {sums}
            FROM toks GROUP BY doc_id
        ),
        hashed AS (SELECT doc_id, {concat} AS simhash FROM bits)
        SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        FROM hashed
        GROUP BY simhash
        HAVING COUNT(*) > 1
        ORDER BY simhash
    """


@register(
    "d27_simhash_buckets",
    "SimHash(16-bit) near-dup clusters: per-token md5 hex-digit parities "
    "vote each digest bit; identical digests cluster "
    "(operators/dedup.simhash). Wider Hamming radii reuse the same "
    "band-split machinery as MinHash-LSH.",
    oracle=_simhash_sql(16),
    category="dedup",
)
def d27_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_buckets(docs, bits=16)


@register(
    "d28_text_quality",
    "Per-document quality features: char/token/alpha counts, mean token "
    "length, composite keep flag (operators/text.quality_metrics) — the "
    "C4-style quality gate as a single narrow projection.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, text, {SQL_TOKS} AS toks,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS n_alpha
            FROM documents
        )
        SELECT doc_id,
               length(text) AS n_chars,
               len(toks) AS n_tokens,
               n_alpha,
               CASE WHEN len(toks) > 0
                    THEN (n_alpha * 100) / len(toks)
                    ELSE 0.0 END AS mean_token_len_x100,
               (len(toks) >= 5 AND length(text) >= 20
                AND length(text) <= 1000000
                AND n_alpha * 2 > length(text)) AS is_quality
        FROM t
        ORDER BY doc_id
    """,
    category="text",
)
def d28_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_metrics(docs).orderBy("doc_id")


def _langid_sql() -> str:
    score_cols = []
    for lang in text.LANG_ORDER:
        markers = ", ".join(f"'{m}'" for m in text.LANG_MARKERS[lang])
        score_cols.append(
            f"len(list_filter(toks, t -> t IN ({markers}))) AS s_{lang}"
        )
    scores = ",\n                   ".join(score_cols)
    mx = "GREATEST(" + ", ".join(f"s_{lg}" for lg in text.LANG_ORDER) + ")"
    pick = "CASE WHEN " + mx + " = 0 THEN 'und' "
    for lang in text.LANG_ORDER[:-1]:
        pick += f"WHEN s_{lang} = {mx} THEN '{lang}' "
    pick += f"ELSE '{text.LANG_ORDER[-1]}' END"
    return f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        scored AS (
            SELECT doc_id,
                   {scores}
            FROM t
        )
        SELECT doc_id, s_en, s_es, s_fr, s_de,
               {pick} AS pred_lang
        FROM scored
        ORDER BY doc_id
    """


@register(
    "d29_langid",
    "Heuristic language ID: marker-stopword hit counts per language, "
    "argmax with deterministic preference-order tie-break "
    "(operators/text.language_id). Vectorized per-token membership — "
    "no Python in the loop.",
    oracle=_langid_sql(),
    category="text",
)
def d29_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        *[
            text.lang_score("text", lang).alias(f"s_{lang}")
            for lang in text.LANG_ORDER
        ],
        text.language_id("text").alias("pred_lang"),
    ).orderBy("doc_id")


@register(
    "d30_fingerprint",
    "Document fingerprints: exact-dedup digest (md5 of collapsed text) + "
    "winnowing-style min-k-gram anchor (lexicographic min of md5 over all "
    "char 8-grams) — both pure built-in array expressions "
    "(operators/text.normalized_fingerprint / kgram_min_fingerprint).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_NORM} AS norm FROM documents)
        SELECT doc_id,
               md5(norm) AS fingerprint,
               list_min(list_transform(
                   range(1, greatest(length(norm) - 7, 1) + 1),
                   i -> md5(substring(norm, i, 8)))) AS kgram_min
        FROM t
        ORDER BY doc_id
    """,
    category="text",
)
def d30_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.normalized_fingerprint("text").alias("fingerprint"),
        text.kgram_min_fingerprint("text", k=8).alias("kgram_min"),
    ).orderBy("doc_id")


@register(
    "d34_mad_outliers",
    "Per-source robust outlier flags (|n_chars - median| > 3*MAD) via the "
    "applyInPandas group-map pattern: whole-group statistics (two nested "
    "medians) computed in an Arrow-batched pandas kernel, one group per "
    "source (operators/text.mad_outliers). numpy median == SQL "
    "quantile_cont, so the Python kernel itself is oracle-checked.",
    oracle="""
        WITH med AS (
            SELECT source, quantile_cont(n_chars, 0.5) AS med
            FROM documents GROUP BY source
        ),
        mad AS (
            SELECT d.source,
                   quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
            FROM documents d JOIN med m USING (source)
            GROUP BY d.source
        )
        SELECT d.doc_id, d.source, d.n_chars, m.med, a.mad,
               (abs(d.n_chars - m.med) > 3 * a.mad) AS is_outlier
        FROM documents d
        JOIN med m USING (source)
        JOIN mad a USING (source)
        ORDER BY d.doc_id
    """,
    category="text",
)
def d34_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.mad_outliers(docs, k=3.0).orderBy("doc_id")


@register(
    "d39_bpe_token_stats",
    "Token counting two ways: whitespace tokens vs BPE-ish regex "
    "pre-tokens (GPT-2-shaped split: contractions / letter runs / digit "
    "runs / punct runs), plus exact chars-per-token x100 — the corpus "
    "token-budget estimator (operators/text.bpe_tokens). Pattern is "
    "Java-regex/RE2 portable and passed as a literal column.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   {SQL_NTOKS} AS n_ws_tokens,
                   len(regexp_extract_all(COALESCE(text, ''),
                       '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'))
                       AS n_bpe_tokens
            FROM documents
        )
        SELECT doc_id, n_chars, n_ws_tokens, n_bpe_tokens,
               CASE WHEN n_bpe_tokens > 0
                    THEN (n_chars * 100) / n_bpe_tokens
                    ELSE 0 END AS chars_per_bpe_x100
        FROM t
        ORDER BY doc_id
    """,
    category="text",
)
def d39_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_bpe = text.bpe_token_count("text")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        text.token_count("text").alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.when(n_bpe > 0, (n_chars * 100) / n_bpe)
        .otherwise(F.lit(0))
        .alias("chars_per_bpe_x100"),
    ).orderBy("doc_id")


@register(
    "s31_cosine_topk",
    "Exact similarity search: cosine top-10 neighbors of the min-id "
    "vector — broadcast query + narrow map + TakeOrderedAndProject "
    "(operators/similarity.brute_force_topk). The float fold is fixed-"
    "order and verified bit-identical to the oracle's C loop.",
    oracle="""
        WITH q AS (
            SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE embedding IS NOT NULL
            ORDER BY vec_id LIMIT 1
        )
        SELECT qid AS query_id,
               e.vec_id AS neighbor_id,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), qv), 6) AS cosine_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != qid
        ORDER BY cosine_sim DESC, neighbor_id
        LIMIT 10
    """,
    category="similarity",
    bench=True,
)
def s31_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, k=10)


@register(
    "s32_embedding_near_dup",
    "Embedding-cosine near-duplicate pairs (cos >= 0.4, id_a < id_b) — "
    "the semantic-dedup primitive (operators/similarity."
    "cosine_near_dup_pairs). Exact all-pairs here; the LSH-bucketed "
    "variant (signed_projection_buckets) is the corpus-scale pre-filter.",
    oracle="""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        ORDER BY id_a, id_b
    """,
    category="similarity",
)
def s32_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.4)


@register(
    "s33_ann_topk",
    "Approximate nearest neighbors: random-hyperplane LSH buckets "
    "(deterministic md5-parity hyperplanes), Hamming<=1 probing, exact "
    "re-rank of candidates (operators/similarity.ann_topk). 4-bit buckets "
    "here: this corpus is random/near-orthogonal (sign-LSH's worst case), "
    "so fewer bits buy recall; clustered real embeddings support more "
    "bits. Approximate by design → rows-only here; the externally "
    "hash-verified certificate is the s33a_ann_recall_bound twin "
    "(recall@10 >= 3/10 vs exact brute force, oracle-checked, green in "
    "CORRECTNESS_r06); recall is also asserted in tests/test_llm_ops.py.",
    oracle=None,
    category="similarity",
)
def s33_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_topk(emb, k=10, bits=4, dims=64)


@register(
    "s40_ivf_topk",
    "IVF approximate nearest neighbors: coarse-quantize the corpus to "
    "deterministic centroid cells (broadcast crossJoin + max_by "
    "aggregate), probe the nprobe cells nearest the query, exact-rerank "
    "members (operators/similarity.ivf_topk). Scan fraction = "
    "nprobe/n_centroids — the inverted-file scale path. Approximate by "
    "design -> rows-only here; the externally hash-verified certificate "
    "is the s40a_ivf_recall_bound twin (recall@10 >= 3/10 vs exact "
    "brute force, oracle-checked, green in CORRECTNESS_r06).",
    oracle=None,
    category="similarity",
)
def s40_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, k=10, n_centroids=16, nprobe=8)


#: The registered IVF-PQ serving configuration (s58, s60 and their
#: recall and serve-law twins): 16 cells probed 8 at a time, 16
#: subspaces of 32 codes trained for 4 rounds, a 200-row ADC shortlist.
IVFPQ_SERVE = dict(
    k=10, n_centroids=16, nprobe=8, m=16, n_codes=32, iters=4, shortlist=200
)


@register(
    "s58_ivfpq_topk",
    "COMPOSED IVF-PQ approximate nearest neighbors — the production "
    "serving layout (FAISS IVFPQ lineage) assembled from the engine's "
    "two proven halves: the inverted-file coarse probe (s40) bounds "
    "the SCAN (nprobe/n_centroids of the corpus), PQ-ADC (s42) bounds "
    "the BYTES (m byte codes per candidate), exact re-rank touches "
    "only the shortlist. One corpus-wide PQ artifact serves every "
    "cell (raw-vector codes, not residuals — documented trade; the "
    "s48/s50 append paths maintain it unchanged). Approximate by "
    "design -> rows-only here; the externally hash-verified "
    "certificate is the s58a_ivfpq_recall_bound twin "
    "(operators/similarity.ivfpq_topk).",
    oracle=None,
    category="similarity",
)
def s58_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(emb, **IVFPQ_SERVE)


@register(
    "s58a_ivfpq_recall_bound",
    "EXTERNAL recall certificate for s58 composed IVF-PQ: recall@10 "
    "vs exact brute force >= 5/10 — between the coarse-probe-only "
    "floor (s40a's 3/10: the probe keeps half the corpus) and the "
    "full-corpus ADC re-rank (s42a's 8/10), because the composition "
    "pays BOTH approximation losses: a true neighbor outside the "
    "probed cells is gone before ADC sees it. Same certificate shape "
    "as s33a/s40a/s42a.",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s58a_ivfpq_recall_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=10)
    approx = similarity.ivfpq_topk(emb, **IVFPQ_SERVE)
    return _recall_certificate(exact, approx, min_hits=5)


@register(
    "s60_ivfpq_residual_topk",
    "RESIDUAL-encoded IVF-PQ approximate nearest neighbors — the "
    "canonical FAISS IVFPQ layout s58 documents as the forgone "
    "alternative, now shipped: each vector is PQ-coded as its "
    "displacement from its coarse centroid (r = v - c, codebooks "
    "trained on ALL residuals with normalize=False — a displacement's "
    "magnitude IS the signal), and the query is re-expressed per "
    "probed cell (q_res = q - c), exact within-cell by the identity "
    "|q-v|^2 = |q_res - r_v|^2. Same cost shape as s58 (nprobe/"
    "n_centroids bounds the scan, m byte codes bound the bytes, exact "
    "re-rank touches only the shortlist) with materially tighter "
    "codes for the same bytes — certified floor 8/10 (s60a) vs the "
    "raw-vector variant's 5/10 (s58a). Approximate by design -> "
    "rows-only here; the certificate twin is hash-verified "
    "(operators/similarity.ivfpq_residual_topk).",
    oracle=None,
    category="similarity",
    bench=True,  # the deployable residual IVF-PQ layout (SCALING.md r12)
)
def s60_ivfpq_residual_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_residual_topk(emb, **IVFPQ_SERVE)


@register(
    "s60a_ivfpq_residual_recall_bound",
    "EXTERNAL recall certificate for s60 residual IVF-PQ: recall@10 "
    "vs exact brute force >= 8/10 — the s42a full-corpus-ADC floor, "
    "which residual encoding recovers DESPITE paying the coarse-probe "
    "loss (s58a's raw-vector composition certifies only 5/10): "
    "quantizing the small within-cell displacement distribution "
    "instead of the whole sphere is worth the difference, which is "
    "why residual encoding is the layout FAISS ships. Same "
    "certificate shape as s33a/s40a/s42a/s58a.",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s60a_ivfpq_residual_recall_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=10)
    approx = similarity.ivfpq_residual_topk(emb, **IVFPQ_SERVE)
    return _recall_certificate(exact, approx, min_hits=8)


@register(
    "s61_ivfpq_artifact_law",
    "EXTERNAL equality certificate for the IVF-PQ stored-artifact "
    "serving contract: ivfpq_topk served from precomputed centroid + "
    "codebook artifacts (the s47/s48 outputs — the production path: "
    "train once offline, serve from the artifact) must return the "
    "IDENTICAL top-k as the self-training composition with the same "
    "seeds. Both paths run in Spark; the certificate row counts the "
    "served top-k and inner-joins it to the self-trained top-k on "
    "every output column — (10, TRUE) iff they agree row-for-row. "
    "The oracle emits the expected row, so any drift between the "
    "artifact path and the algorithm turns a driver row red (the "
    "same externalization move as the s33a/s58a recall certificates).",
    oracle=(
        "SELECT CAST(10 AS BIGINT) AS n_served, TRUE AS artifact_serve_ok"
    ),
    category="similarity",
)
def s61_ivfpq_artifact_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = similarity.l2_normalize(emb, "embedding")
    cents = similarity.seed_centroids(norm, 16)
    cb = similarity.pq_train(norm, 16, 32, 4, "vec_id", "embedding")
    served = similarity.ivfpq_topk(
        emb, centroids=cents, codebooks=cb, **IVFPQ_SERVE
    )
    self_trained = similarity.ivfpq_topk(emb, **IVFPQ_SERVE)
    return _serve_law_certificate(served, self_trained)


@register(
    "s63_ivfpq_residual_artifact_law",
    "EXTERNAL equality certificate for the RESIDUAL IVF-PQ stored-"
    "artifact serving contract — s61's move applied to the layout "
    "SCALING.md r12 proves is the deployable one: "
    "ivfpq_residual_topk served from precomputed quantizer artifacts "
    "(operators/similarity.ivfpq_residual_train: the coarse centroid "
    "block plus codebooks Lloyd-trained on ALL residuals, the pair a "
    "production residual index stores) must return the IDENTICAL "
    "top-k as the self-training composition with the same seeds. The "
    "certificate row counts the served top-k and inner-joins it to "
    "the self-trained top-k on every output column — (10, TRUE) iff "
    "they agree row-for-row; the oracle emits the expected row, so "
    "any drift between the artifact path and the algorithm turns a "
    "driver row red.",
    oracle=(
        "SELECT CAST(10 AS BIGINT) AS n_served, TRUE AS artifact_serve_ok"
    ),
    category="similarity",
)
def s63_ivfpq_residual_artifact_law(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents, cb = similarity.ivfpq_residual_train(
        emb, n_centroids=16, m=16, n_codes=32, iters=4
    )
    served = similarity.ivfpq_residual_topk(
        emb, centroids=cents, codebooks=cb, **IVFPQ_SERVE
    )
    self_trained = similarity.ivfpq_residual_topk(emb, **IVFPQ_SERVE)
    return _serve_law_certificate(served, self_trained)


@register(
    "s64_sampled_quantizer_bound",
    "EXTERNAL recall certificate for SAMPLE-TRAINED quantizers — the "
    "FAISS training discipline (coarse centroids and PQ codebooks "
    "train on a bounded ~100k–1M-vector sample; only assignment/"
    "encode touches the full corpus) certified in-engine: IVF-PQ "
    "serving from a quantizer pair trained on a deterministic "
    "hash-bottom HALF-ish sample (max_train_rows=256 of the 500-"
    "vector sf0.01 corpus; ivf_train Lloyd x2 + pq_train Lloyd x4 "
    "never see the other half) must still clear the s58a floor of "
    "5/10 recall@10 vs exact brute force. At 100 TB this is the "
    "difference between a training wall that scales with the corpus "
    "and one that is flat (SCALING.md r13 carries the measurement); "
    "the certificate proves the flat path does not silently trade "
    "away the recall the full-corpus trainer certifies "
    "(operators/similarity.ivf_train/pq_train(max_train_rows=)).",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s64_sampled_quantizer_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=10)
    cents = similarity.ivf_train(
        emb, n_centroids=16, iters=2, max_train_rows=256
    )
    cb = similarity.pq_train(
        emb, m=16, n_codes=32, iters=4, max_train_rows=256
    )
    approx = similarity.ivfpq_topk(
        emb, k=10, n_centroids=16, nprobe=8, m=16, n_codes=32,
        shortlist=200, centroids=cents, codebooks=cb,
    )
    return _recall_certificate(exact, approx, min_hits=5)


@register(
    "s67_sampled_residual_bound",
    "EXTERNAL recall certificate for the SAMPLE-TRAINED residual "
    "quantizer — s64's discipline on the deployable layout: "
    "ivfpq_residual_train(max_train_rows=256) takes the deterministic "
    "hash-bottom sample BEFORE the coarse assignment, so training-"
    "time work is O(sample x centroids) + bounded Lloyd — no corpus "
    "pass anywhere in training (the corpus-sized assignment happens "
    "once, at encode time, where it IS the index build) — and serving "
    "from the sampled pair must still clear the s60a residual floor "
    "of 8/10 recall@10 vs exact brute force (measured 10/10 at both "
    "driver SFs). Together with s64 this pins the claim that the "
    "flat-training path trades away NO certified recall on either "
    "layout (operators/similarity.ivfpq_residual_train).",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s67_sampled_residual_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=10)
    cents, cb = similarity.ivfpq_residual_train(
        emb, n_centroids=16, m=16, n_codes=32, iters=4,
        max_train_rows=256,
    )
    approx = similarity.ivfpq_residual_topk(
        emb, k=10, n_centroids=16, nprobe=8, m=16, n_codes=32,
        shortlist=200, centroids=cents, codebooks=cb,
    )
    return _recall_certificate(exact, approx, min_hits=8)


@register(
    "s65_ivfpq_fully_served_law",
    "EXTERNAL equality certificate for FULLY-SERVED IVF-PQ — s61 "
    "proved quantizer-artifact serving (centroids + codebooks); this "
    "closes the remaining per-query corpus work: with the stored "
    "ASSIGNMENT table (s47's artifact) and the stored per-vector CODE "
    "table (s48's artifact) also given, ivfpq_topk's per-query plan "
    "is probe (centroid block x query) -> candidate ids (stored "
    "assignment semi-joined to the probed cells) -> ADC (stored codes "
    "x the <= m*n_codes lookup table) -> exact re-rank of the "
    "shortlist — the corpus is neither re-assigned nor re-encoded at "
    "query time, which at 100 TB is the difference between an index "
    "probe and a per-query encode pass over nprobe/n_centroids of "
    "the corpus. Certificate: fully-served top-k inner-joined to the "
    "self-trained top-k on every output column — (10, TRUE) iff "
    "row-for-row identical (operators/similarity.ivfpq_topk"
    "(centroids=, codebooks=, assignments=, codes=)).",
    oracle=(
        "SELECT CAST(10 AS BIGINT) AS n_served, TRUE AS artifact_serve_ok"
    ),
    category="similarity",
)
def s65_ivfpq_fully_served_law(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = similarity.l2_normalize(emb, "embedding")
    cents = similarity.seed_centroids(norm, 16)
    cb = similarity.pq_train(norm, 16, 32, 4, "vec_id", "embedding")
    assignments = similarity.ivf_assign_with_centroids(norm, cents)
    code_table = similarity.pq_encode_vectors(emb, cb, m=16)
    served = similarity.ivfpq_topk(
        emb, centroids=cents, codebooks=cb,
        assignments=assignments, codes=code_table, **IVFPQ_SERVE
    )
    self_trained = similarity.ivfpq_topk(emb, **IVFPQ_SERVE)
    return _serve_law_certificate(served, self_trained)


@register(
    "s66_residual_fully_served_law",
    "EXTERNAL equality certificate for FULLY-SERVED residual IVF-PQ — "
    "s65's move on the deployable layout: with the stored "
    "(id, centroid_id, codes) artifact (ivfpq_residual_encode's "
    "output, the table s62 appends to and st61 maintains) given "
    "alongside the quantizer pair, ivfpq_residual_topk's per-query "
    "plan probes the centroid block, semi-joins the stored codes to "
    "the probed cells, scores them against the per-cell query-"
    "residual ADC table, and exact-reranks the shortlist — no corpus "
    "assignment, no residual formation, no candidate encode at query "
    "time. Certificate: fully-served top-k == self-trained top-k "
    "row-for-row (operators/similarity.ivfpq_residual_topk(codes=)).",
    oracle=(
        "SELECT CAST(10 AS BIGINT) AS n_served, TRUE AS artifact_serve_ok"
    ),
    category="similarity",
)
def s66_residual_fully_served_law(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents, cb = similarity.ivfpq_residual_train(
        emb, n_centroids=16, m=16, n_codes=32, iters=4
    )
    code_table = similarity.ivfpq_residual_encode(emb, cents, cb, m=16)
    served = similarity.ivfpq_residual_topk(
        emb, centroids=cents, codebooks=cb, codes=code_table, **IVFPQ_SERVE
    )
    self_trained = similarity.ivfpq_residual_topk(emb, **IVFPQ_SERVE)
    return _serve_law_certificate(served, self_trained)


@register(
    "m34_multimodal_stats",
    "Multimodal metadata stats: per-modality item counts and byte totals "
    "computed purely from the metadata struct — binary payloads are "
    "never deserialized (operators/multimodal.media_stats over "
    "attach_binary_payload).",
    oracle="""
        SELECT 'image' AS modality,
               COUNT(*) AS n_items,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MIN(octet_length(encode(text))) AS BIGINT) AS min_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents
    """,
    category="multimodal",
)
def m34_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(docs)
    return multimodal.media_stats(media)


@register(
    "m35_mixed_media_stats",
    "Mixed-modality metadata rollup (image/audio/video by doc_id % 3): "
    "item counts and byte totals per modality from the metadata struct "
    "alone (operators/multimodal.attach_mixed_media + media_stats).",
    oracle="""
        SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
                               WHEN 1 THEN 'audio'
                               ELSE 'video' END AS modality,
               COUNT(*) AS n_items,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               CAST(MIN(octet_length(encode(text))) AS BIGINT) AS min_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
        FROM documents
        GROUP BY modality
        ORDER BY modality
    """,
    category="multimodal",
)
def m35_mixed_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.media_stats(multimodal.attach_mixed_media(docs))


@register(
    "m36_frame_sample",
    "Video frame sampling via mapInPandas fan-out: one row per sampled "
    "frame (1 frame/sec capped at 8), frame id = md5 over the hex-payload"
    "|index chain — the decode seek is the stubbed codec step; the "
    "Arrow-batched expansion is real (operators/multimodal.sample_frames).",
    oracle="""
        WITH v AS (
            SELECT doc_id,
                   hex(encode(text)) AS hx,
                   least(octet_length(encode(text)) * 10 // 1000 + 1, 8)
                       AS n_frames
            FROM documents
            WHERE doc_id % 3 = 2
        )
        SELECT doc_id,
               CAST(unnest(range(n_frames)) AS INTEGER) AS frame_idx,
               md5(hx || '|' || CAST(unnest(range(n_frames)) AS VARCHAR))
                   AS frame_hash
        FROM v
        ORDER BY doc_id, frame_idx
    """,
    category="multimodal",
)
def m36_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_mixed_media(docs)
    return (
        multimodal.sample_frames(media, every_ms=1000, max_frames=8)
        .select("doc_id", "frame_idx", "frame_hash")
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "m39_ppm_resize",
    "REAL image decode/resize/re-encode inside the Arrow batch: a 4x2 "
    "P6 PPM is built per document from its md5 bytes, nearest-neighbor "
    "resized to 2x1 by the actual numpy codec path (decode_ppm -> "
    "nn_resize -> encode_ppm in operators/multimodal.resize_media), "
    "then the OUTPUT raster is re-decoded and checksummed. The floor "
    "mapping selects source pixels (0,0) and (0,2) = digest bytes "
    "{0,1,2,6,7,8}, so DuckDB verifies the decoded pixel values with "
    "pure hex arithmetic — the codec itself is externally checked.",
    oracle="""
        WITH h AS (SELECT doc_id, md5(COALESCE(text, '')) AS hx
                   FROM documents),
        b AS (
            SELECT doc_id,
                   list_transform(
                       [0, 1, 2, 6, 7, 8],
                       o -> 16 * (strpos('0123456789abcdef',
                                         substr(hx, 2 * o + 1, 1)) - 1)
                            + (strpos('0123456789abcdef',
                                      substr(hx, 2 * o + 2, 1)) - 1)
                   ) AS vals
            FROM h
        )
        SELECT doc_id,
               CAST(2 AS INTEGER) AS out_width,
               CAST(1 AS INTEGER) AS out_height,
               CAST(list_sum(vals) AS BIGINT) AS checksum
        FROM b
        ORDER BY doc_id
    """,
    category="multimodal",
)
def m39_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                d = hashlib.md5((text or "").encode()).digest()
                arr = np.frombuffer(d + d[:8], dtype=np.uint8).reshape(
                    2, 4, 3
                )
                payloads.append(multimodal.encode_ppm(arr))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(
        build, "doc_id long, payload binary"
    ).select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("image").alias("modality"),
            F.lit("ppm").alias("format"),
            F.length("payload").cast("long").alias("n_bytes"),
            F.lit(4).alias("width"),
            F.lit(2).alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media"),
    )
    resized = multimodal.resize_media(media, width=2, height=1)

    def verify(batches):
        for pdf in batches:
            sums, widths, heights = [], [], []
            for payload in pdf["payload"]:
                arr = multimodal.decode_ppm(bytes(payload))
                heights.append(arr.shape[0])
                widths.append(arr.shape[1])
                sums.append(int(arr.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_width": widths,
                    "out_height": heights,
                    "checksum": sums,
                }
            )

    return resized.mapInPandas(
        verify,
        "doc_id long, out_width int, out_height int, checksum long",
    ).orderBy("doc_id")


def _ngrams_udtf_class():
    """Python UDTF (Spark 4 user-defined table function): text -> one row
    per word 3-gram with its position. Defined lazily so importing this
    module never requires a live session."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, ngram string")
    class NGrams:
        def eval(self, text, n):  # noqa: ANN001 — UDTF contract
            toks = text.strip().lower().split() if text and text.strip() else []
            if len(toks) < n:
                yield 0, " ".join(toks)
            else:
                for i in range(len(toks) - n + 1):
                    yield i, " ".join(toks[i : i + n])

    return NGrams


@register(
    "d33_udtf_ngrams",
    "Python UDTF surface: LATERAL table function emitting one row per "
    "positional word 3-gram. The UDTF machinery (Arrow-batched fan-out, "
    "lateral correlation) is the unit under test — the oracle recomputes "
    "the identical expansion in pure SQL, so the cross-check validates "
    "the UDTF execution path itself.",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CAST(unnest(CASE WHEN len(toks) < 3 THEN [0]
                    ELSE range(len(toks) - 2) END) AS INT) AS pos,
               unnest(CASE WHEN len(toks) < 3
                    THEN [COALESCE(array_to_string(toks, ' '), '')]
                    ELSE list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    END) AS ngram
        FROM t
        ORDER BY doc_id, pos
    """,
    category="text",
)
def d33_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("ngrams_udtf", _ngrams_udtf_class())
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_udtf_src"
    )
    return spark.sql(
        """
        SELECT doc_id, pos, ngram
        FROM documents_udtf_src, LATERAL ngrams_udtf(text, 3)
        ORDER BY doc_id, pos
        """
    )


@register(
    "d40_repetition_metrics",
    "Gopher-style repetition features per document: distinct-token and "
    "distinct-2-gram fractions as exact x1e6 integers (repeated text = "
    "boilerplate / degenerate generation signal). One narrow projection, "
    "no shuffle (operators/text.repetition_metrics).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        m AS (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct_tokens,
                   CASE WHEN len(toks) >= 2
                        THEN list_transform(range(1, len(toks)),
                             i -> toks[i] || ' ' || toks[i+1])
                        ELSE [] END AS grams
            FROM t
        )
        SELECT doc_id, n_tokens, n_distinct_tokens,
               CASE WHEN n_tokens > 0
                    THEN CAST(floor((n_tokens - n_distinct_tokens)
                         * 1000000 / n_tokens) AS BIGINT)
                    ELSE 0 END AS rep_token_x1e6,
               len(grams) AS n_2grams,
               CASE WHEN len(grams) > 0
                    THEN CAST(floor((len(grams) - len(list_distinct(grams)))
                         * 1000000 / len(grams)) AS BIGINT)
                    ELSE 0 END AS rep_2gram_x1e6
        FROM m
        ORDER BY doc_id
    """,
    category="text",
)
def d40_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_metrics(docs).orderBy("doc_id")


@register(
    "d41_pii_scrub",
    "PII scrub pass: count and redact emails/URLs with typed placeholders "
    "(operators/text.{pii_counts,scrub_pii}; patterns are lookaround-free "
    "so Java regex and RE2 agree). The corpus is synthetic so PII is "
    "injected deterministically first — both engines run the identical "
    "augment->detect->redact pipeline; the scrub is verified by md5 of "
    "the redacted text.",
    oracle="""
        WITH aug AS (
            SELECT doc_id,
                   text ||
                   CASE WHEN doc_id % 7 = 0
                        THEN ' contact user' || doc_id || '@example.com'
                        ELSE '' END ||
                   CASE WHEN doc_id % 11 = 0
                        THEN ' see https://site' || doc_id || '.example.org/p'
                        ELSE '' END AS t
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS n_emails,
               len(regexp_extract_all(t, 'https?://[A-Za-z0-9./_-]+'))
                   AS n_urls,
               md5(regexp_replace(
                   regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   'https?://[A-Za-z0-9./_-]+', '<URL>', 'g'))
                   AS scrubbed_md5
        FROM aug
        ORDER BY doc_id
    """,
    category="text",
)
def d41_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    F.col("doc_id").cast("string"),
                    F.lit(".example.org/p"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    n_emails, n_urls = text.pii_counts("t")
    return aug.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        F.md5(text.scrub_pii("t")).alias("scrubbed_md5"),
    ).orderBy("doc_id")


@register(
    "d42_stratified_sample",
    "Deterministic hash-threshold stratified sampling: per-source rates "
    "via md5-prefix comparison — reproducible across runs/engines/cluster "
    "layouts (unlike df.sample), and a pure pushdown-able filter "
    "(operators/sampling.stratified_sample).",
    oracle="""
        SELECT doc_id, source
        FROM documents
        WHERE CASE source
                WHEN 'src0' THEN substring(md5(source || ':' || doc_id), 1, 8)
                                 < '80000000'
                WHEN 'src1' THEN substring(md5(source || ':' || doc_id), 1, 8)
                                 < '40000000'
                ELSE substring(md5(source || ':' || doc_id), 1, 8)
                                 < '19999999'
              END
        ORDER BY doc_id
    """,
    category="text",
)
def d42_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(
            docs,
            rates={"src0": 0.5, "src1": 0.25},
            default_rate=0.1,
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@register(
    "s41_batch_topk",
    "Batched exact similarity search: top-3 cosine neighbors for each of "
    "the 8 lowest-id query vectors in ONE corpus scan — broadcast query "
    "block, narrow map, per-query ranking window "
    "(operators/similarity.batch_topk). Query count scales free; corpus "
    "scans once.",
    oracle="""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings ORDER BY vec_id LIMIT 8
        ),
        sims AS (
            SELECT q.query_id,
                   e.vec_id AS neighbor_id,
                   ROUND(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND(list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), q.qv), 6) DESC,
                           e.vec_id
                   ) AS rk
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id != q.query_id
        )
        SELECT query_id, neighbor_id, cosine_sim, rk
        FROM sims WHERE rk <= 3
        ORDER BY query_id, rk
    """,
    category="similarity",
)
def s41_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.batch_topk(emb, n_queries=8, k=3)


@register(
    "d43_winnowing",
    "Winnowing document fingerprints (Schleimer et al.): min-md5 per "
    "sliding window of 4 consecutive char-8-gram hashes, deduplicated — "
    "the position-robust fingerprint SET (d30's kgram_min is its global-"
    "min special case). Pure array expressions; the gram hash array binds "
    "once per row.",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_NORM} AS norm FROM documents),
        g AS (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(length(norm) - 7, 1) + 1),
                       i -> md5(substring(norm, i, 8))) AS hs
            FROM t
        ),
        w AS (
            SELECT doc_id,
                   list_sort(list_distinct(list_transform(
                       range(1, greatest(len(hs) - 3, 1) + 1),
                       i -> list_min(hs[i:i+3])))) AS fps
            FROM g
        )
        SELECT doc_id, unnest(fps) AS fingerprint
        FROM w
        ORDER BY doc_id, fingerprint
    """,
    category="text",
)
def d43_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text yields a NULL fingerprint (md5 of a NULL substring,
    # Spark's greatest(NULL, 1) being 1 where DuckDB's NULL propagates);
    # a NULL fingerprint is meaningless — drop it, matching the oracle's
    # NULL flow. Real fingerprints are md5 hex, never NULL.
    docs = load_table(spark, sf_dir, "documents")
    fps = F.expr(
        """
        element_at(transform(array(
            transform(
                sequence(1, greatest(length(regexp_replace(trim(lower(text)),
                                     '\\\\s+', ' ')) - 7, 1)),
                i -> md5(substring(regexp_replace(trim(lower(text)),
                                   '\\\\s+', ' '), i, 8)))
        ), hs ->
            array_sort(array_distinct(transform(
                sequence(1, greatest(size(hs) - 3, 1)),
                i -> array_min(slice(hs, i, 4)))))
        ), 1)
        """
    )
    return (
        docs.select("doc_id", F.explode(fps).alias("fingerprint"))
        .filter(F.col("fingerprint").isNotNull())
        .orderBy("doc_id", "fingerprint")
    )


@register(
    "m37_audio_chunks",
    "Audio segmentation via mapInPandas fan-out: one row per 2s chunk "
    "(capped at 16) with exact [start_ms, end_ms) bounds — the "
    "segmentation step before transcription/embedding; the byte-range "
    "slice is the stubbed codec step, the Arrow-batched expansion is real "
    "(operators/multimodal.chunk_audio).",
    oracle="""
        WITH a AS (
            SELECT doc_id,
                   hex(encode(COALESCE(text, ''))) AS hx,
                   octet_length(encode(COALESCE(text, ''))) * 10 AS dur
            FROM documents
            WHERE doc_id % 3 = 1
        )
        SELECT doc_id,
               CAST(unnest(range(least((dur + 1999) // 2000, 16)))
                   AS INTEGER) AS chunk_idx,
               unnest(range(least((dur + 1999) // 2000, 16))) * 2000
                   AS start_ms,
               least((unnest(range(least((dur + 1999) // 2000, 16))) + 1)
                   * 2000, dur) AS end_ms,
               md5(hx || '|' ||
                   CAST(unnest(range(least((dur + 1999) // 2000, 16)))
                        AS VARCHAR)) AS chunk_hash
        FROM a
        ORDER BY doc_id, chunk_idx
    """,
    category="multimodal",
)
def m37_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_mixed_media(docs)
    return multimodal.chunk_audio(media, chunk_ms=2000, max_chunks=16).orderBy(
        "doc_id", "chunk_idx"
    )


@register(
    "d44_weighted_stats",
    "User-defined AGGREGATE via pandas_udf (Series -> scalar, the "
    "GROUPED_AGG form, completing the UDF surface next to the UDTF d33, "
    "applyInPandas d34 and mapInPandas m36): per-source weighted mean "
    "document length. The kernel sums exact int64s and divides once, so "
    "the Arrow-batched Python aggregate is itself hash-checked against "
    "the oracle's SQL arithmetic.",
    oracle="""
        SELECT source,
               CAST(SUM((doc_id % 7 + 1) * n_chars) AS DOUBLE)
                   / CAST(SUM(doc_id % 7 + 1) AS DOUBLE) AS weighted_mean_chars
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    category="text",
)
def d44_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's `from __future__ import
    # annotations` stringifies type hints, which signature inference
    # can't resolve
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmean(x, w):
        # exact int64 sums, ONE double division — bit-identical to the
        # oracle's SUM/SUM regardless of Arrow batch order
        return float(int((x * w).sum())) / float(int(w.sum()))

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("w", F.col("doc_id") % 7 + 1)
        .groupBy("source")
        .agg(wmean(F.col("n_chars"), F.col("w")).alias("weighted_mean_chars"))
        .orderBy("source")
    )


@register(
    "q61_approx_quantiles",
    "Approximate quantiles (Greenwald-Khanna approx_percentile, rel. "
    "error 0.01) of order totals per order status — the sketch companion "
    "to q44's exact percentiles. Approximate by design -> rows-only in "
    "the driver; the externally hash-verified certificate is the "
    "q61a_approx_quantile_bound twin, whose oracle-checked output "
    "asserts every estimate lands within the sketch's rank-error bound "
    "of the exact quantile (green in CORRECTNESS_r06). The quantile "
    "array is posexploded to (status, quantile, value) rows so the "
    "result is flat scalar columns.",
    oracle=None,
    category="relational",
)
def q61_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    probs = [0.25, 0.5, 0.75, 0.95]
    sketched = orders.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", probs, 100).alias("qs")
    )
    prob_col = F.array(*[F.lit(p) for p in probs])
    return (
        sketched.select(
            "o_orderstatus", F.posexplode("qs").alias("pos", "value")
        )
        .select(
            "o_orderstatus",
            F.element_at(prob_col, F.col("pos") + 1).alias("quantile"),
            "value",
        )
        .orderBy("o_orderstatus", "quantile")
    )


@register(
    "q61a_approx_quantile_bound",
    "EXTERNAL error-bound certificate for the q61 Greenwald-Khanna "
    "sketch (accuracy 100 -> rank error eps = 0.01): each approximate "
    "quantile must land between the EXACT quantiles at p +/- 2*eps "
    "(the 2x widening absorbs the interpolation-vs-element rank "
    "convention gap). Both sketch and exact values are deterministic "
    "for fixed input, so the booleans are stable; the oracle emits the "
    "(status, quantile, TRUE) grid from exact arithmetic — a hash "
    "match certifies the rank-error bound externally.",
    oracle="""
        SELECT o_orderstatus,
               CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS quantile,
               TRUE AS within_bound
        -- only groups with at least one non-NULL price have quantiles
        -- to certify (percentile of an all-NULL group is NULL and the
        -- engine's posexplode emits nothing for it)
        FROM (SELECT DISTINCT o_orderstatus FROM orders
              WHERE o_totalprice IS NOT NULL)
        ORDER BY o_orderstatus, quantile
    """,
    category="relational",
)
def q61a_approx_quantile_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    probs = [0.25, 0.5, 0.75, 0.95]
    eps = 0.01
    lo = [max(0.0, p - 2 * eps) for p in probs]
    hi = [min(1.0, p + 2 * eps) for p in probs]

    def arr(vals: list[float]) -> str:
        return "array(" + ", ".join(f"{v}D" for v in vals) + ")"

    sketched = orders.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", probs, 100).alias("approx_qs"),
        F.expr(
            f"percentile(o_totalprice, {arr(lo)})"
        ).alias("lo_qs"),
        F.expr(
            f"percentile(o_totalprice, {arr(hi)})"
        ).alias("hi_qs"),
    )
    prob_col = F.array(*[F.lit(p) for p in probs])
    return (
        sketched.select(
            "o_orderstatus",
            F.posexplode("approx_qs").alias("pos", "_v"),
            "lo_qs",
            "hi_qs",
        )
        .select(
            "o_orderstatus",
            F.element_at(prob_col, F.col("pos") + 1).alias("quantile"),
            (
                (F.col("_v") >= F.element_at("lo_qs", F.col("pos") + 1))
                & (F.col("_v") <= F.element_at("hi_qs", F.col("pos") + 1))
            ).alias("within_bound"),
        )
        .orderBy("o_orderstatus", "quantile")
    )


def _recall_certificate(
    exact: DataFrame, approx: DataFrame, min_hits: int
) -> DataFrame:
    """1-row recall certificate: (n_exact, recall_ok) where recall_ok =
    |approx ∩ exact| >= min_hits. Both inputs are deterministic for
    fixed data, so the boolean is stable and externally hash-checkable
    against an oracle that emits the expected (k, TRUE) row — turning
    the in-repo recall assertion into a driver-verified fact."""
    hits = exact.select("neighbor_id").join(
        approx.select("neighbor_id"), "neighbor_id", "left_semi"
    )
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(hits.agg(F.count("*").alias("_n_hits")))
        .select(
            "n_exact",
            (F.col("_n_hits") >= min_hits).alias("recall_ok"),
        )
    )


def _serve_law_certificate(
    served: DataFrame, reference: DataFrame
) -> DataFrame:
    """1-row serve-law certificate: (n_served, artifact_serve_ok) where
    artifact_serve_ok = every served top-k row is in the ``reference``
    top-k on every output column. The counterpart of
    :func:`_recall_certificate` for the "served == self-trained" laws:
    the oracle emits the expected (k, TRUE) row, so any drift between
    the stored-artifact path and the algorithm turns a driver row red."""
    agree = served.join(reference, ["query_id", "neighbor_id", "cosine_sim"])
    return (
        served.agg(F.count("*").alias("n_served"))
        .crossJoin(agree.agg(F.count("*").alias("_n_agree")))
        .select(
            "n_served",
            (F.col("_n_agree") == F.col("n_served")).alias(
                "artifact_serve_ok"
            ),
        )
    )


@register(
    "s33a_ann_recall_bound",
    "EXTERNAL recall certificate for s33 sign-LSH ANN: recall@10 vs "
    "the s31 exact brute-force top-10 must beat the documented floor "
    "(>= 3/10 on this random corpus — random top-10 cosine margins are "
    "razor thin; see tests/test_llm_ops.py for the p^4 math). The "
    "comparison runs entirely in Spark; the oracle emits the expected "
    "(10, TRUE) row, so a recall collapse turns a driver row red.",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s33a_ann_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=10)
    approx = similarity.ann_topk(emb, k=10, bits=4, dims=64)
    return _recall_certificate(exact, approx, min_hits=3)


@register(
    "s40a_ivf_recall_bound",
    "EXTERNAL recall certificate for s40 IVF ANN (16 cells, nprobe 8): "
    "recall@10 vs exact brute force >= 3/10 — well above the "
    "random-subset floor at nprobe/n_centroids = 1/2 on the random "
    "corpus. Same certificate shape as s33a.",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s40a_ivf_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=10)
    approx = similarity.ivf_topk(emb, k=10, n_centroids=16, nprobe=8)
    return _recall_certificate(exact, approx, min_hits=3)


@register(
    "s42a_pq_recall_bound",
    "EXTERNAL recall certificate for s42 product quantization (ADC "
    "shortlist + exact re-rank): recall@10 vs exact brute force >= "
    "8/10 — the re-rank step makes PQ much tighter than the "
    "bucket-restricted methods. Same certificate shape as s33a.",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s42a_pq_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(emb, k=10)
    approx = similarity.pq_topk(
        emb, k=10, m=16, n_codes=32, iters=4, shortlist=200
    )
    return _recall_certificate(exact, approx, min_hits=8)


#: Full-from-scratch IVF assignment of EVERY vector against the 16
#: lowest-id existing (vec_id % 4 != 0) vectors as centroids — the
#: oracle shared by s47 (batch incremental append) and st49 (streaming
#: maintenance): both engines' incremental outputs must hash-match this
#: complete rebuild under the same fixed quantizer.
IVF_FULL_ASSIGN_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, v AS cv
        FROM e WHERE vec_id % 4 != 0 ORDER BY vec_id LIMIT 16
    ),
    sims AS (
        -- zero-norm guard: DuckDB's list_cosine_similarity returns
        -- -1.0 for a zero vector where Spark's dot/(na*nb) is NULL;
        -- cosine of a zero vector is undefined on both engines
        SELECT e.vec_id, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(e.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(e.v, c.cv), 6)
               END AS c_sim
        FROM e CROSS JOIN cents c
    ),
    best AS (
        SELECT vec_id, centroid_id, c_sim FROM (
            SELECT vec_id, centroid_id, c_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c_sim DESC, centroid_id
                   ) AS rk
            FROM sims WHERE c_sim IS NOT NULL
        ) WHERE rk = 1
    )
    -- LEFT JOIN keeps degenerate vectors with NULL centroid: corpus
    -- membership through the assignment artifact is preserved (the
    -- ADVICE-r8 ivf_assign contract)
    SELECT e.vec_id, b.centroid_id, b.c_sim
    FROM e LEFT JOIN best b USING (vec_id)
    ORDER BY e.vec_id
"""


#: Full-from-scratch PQ encode of EVERY vector (normalize -> slice into
#: m=8 subvectors -> seeded codebook from the 16 lowest-id existing
#: vectors -> rounded argmin) — the oracle shared by s48 (batch
#: incremental append) and st50 (streaming maintenance).
PQ_FULL_ENCODE_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id,
               CASE WHEN sqrt(list_aggregate(
                        list_transform(v, y -> y*y), 'sum')) = 0
                    THEN v
                    ELSE list_transform(v, x -> x / sqrt(
                        list_aggregate(
                            list_transform(v, y -> y*y), 'sum')))
               END AS v
        FROM e
    ),
    sub AS (
        SELECT vec_id, j, list_slice(v, j*8 + 1, j*8 + 8) AS sv
        FROM n CROSS JOIN (SELECT unnest(range(8)) AS j) js
    ),
    seeds AS (
        SELECT vec_id AS seed_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                   AS code
        FROM (
            SELECT vec_id FROM embeddings
            WHERE vec_id % 4 != 0 ORDER BY vec_id LIMIT 16
        )
    ),
    cb AS (
        SELECT sub.j, s.code, sub.sv AS cv
        FROM seeds s JOIN sub ON sub.vec_id = s.seed_id
    ),
    d AS (
        SELECT sub.vec_id, sub.j, cb.code,
               ROUND(list_aggregate(list_transform(
                   list_zip(sub.sv, cb.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6)
                   AS d2
        FROM sub JOIN cb ON cb.j = sub.j
    )
    SELECT vec_id, CAST(j AS INT) AS j, code
    FROM (
        SELECT vec_id, j, code,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id, j ORDER BY d2, code
               ) AS rk
        FROM d
    ) WHERE rk = 1
    ORDER BY vec_id, j
"""


@register(
    "s47_ivf_append",
    "INCREMENTAL IVF index maintenance law, externally verified: a new "
    "batch (vec_id % 4 == 0) is assigned against the STORED centroids "
    "(the 16 lowest-id existing vectors) and appended to the stored "
    "assignment artifact — the indexed corpus is never rescanned; work "
    "per ingest is O(batch x centroids) "
    "(operators/similarity.ivf_append). The oracle recomputes the FULL "
    "assignment of every vector from scratch against the same "
    "centroids, so a hash match IS the incremental == full-rebuild-"
    "restricted law (the d55/d70 discipline applied to ANN).",
    oracle=IVF_FULL_ASSIGN_ORACLE,
    category="similarity",
    bench=True,
)
def s47_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    cents = similarity.seed_centroids(old, 16)
    stored = similarity.ivf_assign_with_centroids(old, cents)
    incremental = similarity.ivf_append(stored, new, cents)
    return incremental.select("vec_id", "centroid_id", "c_sim").orderBy(
        "vec_id"
    )


@register(
    "s48_pq_append",
    "INCREMENTAL PQ index maintenance law, externally verified: a new "
    "batch (vec_id % 4 == 0) is encoded against the STORED codebooks "
    "(seeded from the 16 lowest-id existing vectors' subvector slices, "
    "m=8 subspaces) and appended to the stored (id, codes) artifact — "
    "no re-encoding of the indexed corpus; work per ingest is "
    "O(batch x m x n_codes) (operators/similarity.pq_append, "
    "round_digits=6 for the cross-engine-deterministic argmin). The "
    "oracle re-encodes the FULL corpus from scratch (normalize -> "
    "slice -> seeded codebook -> rounded argmin), so a hash match IS "
    "the incremental == full-rebuild-restricted law.",
    oracle=PQ_FULL_ENCODE_ORACLE,
    category="similarity",
)
def s48_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    codebooks = similarity.pq_train(old, m=8, n_codes=16, iters=0)
    stored = similarity.pq_encode_vectors(old, codebooks, m=8, round_digits=6)
    incremental = similarity.pq_append(
        stored, new, codebooks, m=8, round_digits=6
    )
    return incremental.select(
        "vec_id", F.posexplode("codes").alias("j", "code")
    ).orderBy("vec_id", "j")


#: Full-from-scratch RESIDUAL IVF-PQ encode of EVERY vector: normalize
#: -> assign to the 16 lowest-id existing (vec_id % 4 != 0) normalized
#: vectors as coarse centroids (rounded cosine argmax, zero-norm
#: vectors drop — they can never be probed candidates) -> residual
#: r = v − c -> slice into m=8 subvectors -> seeded residual codebook
#: (the 16 lowest-id existing residual rows' slices) -> rounded argmin.
#: Shared by s62 (batch incremental append) and st61 (streaming
#: maintenance): both incremental outputs must hash-match this
#: complete rebuild under the same frozen quantizer pair.
RESIDUAL_FULL_ENCODE_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id,
               CASE WHEN sqrt(list_aggregate(
                        list_transform(v, y -> y*y), 'sum')) = 0
                    THEN v
                    ELSE list_transform(v, x -> x / sqrt(
                        list_aggregate(
                            list_transform(v, y -> y*y), 'sum')))
               END AS v
        FROM e
    ),
    cents AS (
        SELECT vec_id AS centroid_id, v AS cv
        FROM n WHERE vec_id % 4 != 0 ORDER BY vec_id LIMIT 16
    ),
    sims AS (
        SELECT n.vec_id, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(n.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(n.v, c.cv), 6)
               END AS c_sim
        FROM n CROSS JOIN cents c
    ),
    best AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c_sim DESC, centroid_id
                   ) AS rk
            FROM sims WHERE c_sim IS NOT NULL
        ) WHERE rk = 1
    ),
    res AS (
        SELECT b.vec_id, b.centroid_id,
               list_transform(list_zip(n.v, c.cv), p -> p[1] - p[2])
                   AS r
        FROM best b
        JOIN n USING (vec_id)
        JOIN cents c USING (centroid_id)
    ),
    sub AS (
        SELECT vec_id, centroid_id, j,
               list_slice(r, j*8 + 1, j*8 + 8) AS sv
        FROM res CROSS JOIN (SELECT unnest(range(8)) AS j) js
    ),
    seeds AS (
        SELECT vec_id AS seed_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT)
                   AS code
        FROM (
            SELECT vec_id FROM res
            WHERE vec_id % 4 != 0 ORDER BY vec_id LIMIT 16
        )
    ),
    cb AS (
        SELECT sub.j, s.code, sub.sv AS cv
        FROM seeds s JOIN sub ON sub.vec_id = s.seed_id
    ),
    d AS (
        SELECT sub.vec_id, sub.centroid_id, sub.j, cb.code,
               ROUND(list_aggregate(list_transform(
                   list_zip(sub.sv, cb.cv),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 6)
                   AS d2
        FROM sub JOIN cb ON cb.j = sub.j
    )
    SELECT vec_id, centroid_id, CAST(j AS INT) AS j, code
    FROM (
        SELECT vec_id, centroid_id, j, code,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id, j ORDER BY d2, code
               ) AS rk
        FROM d
    ) WHERE rk = 1
    ORDER BY vec_id, j
"""


@register(
    "s62_ivfpq_residual_append",
    "INCREMENTAL RESIDUAL IVF-PQ index maintenance law, externally "
    "verified — the s47/s48 lifecycle brought to the layout SCALING.md "
    "r12 proves is the deployable one (residual codes double recall at "
    "equal bytes/vector): a new batch (vec_id % 4 == 0) is assigned "
    "against the STORED coarse centroids (the 16 lowest-id existing "
    "normalized vectors), its displacement r = v − c is encoded "
    "against the STORED residual codebooks (seeded from the 16 "
    "lowest-id existing residual rows' m=8 slices, rounded argmin), "
    "and the (id, centroid, codes) rows append to the stored artifact "
    "— the indexed corpus is never re-encoded; work per ingest is "
    "O(batch × (n_centroids + m × n_codes)) "
    "(operators/similarity.ivfpq_residual_encode, round_digits=6). "
    "The oracle re-derives the FULL residual encode of every vector "
    "from scratch, so a hash match IS the incremental == full-rebuild-"
    "restricted law under the frozen quantizer pair.",
    oracle=RESIDUAL_FULL_ENCODE_ORACLE,
    category="similarity",
)
def s62_ivfpq_residual_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    cents, cb = similarity.ivfpq_residual_train(
        old, n_centroids=16, m=8, n_codes=16, iters=0
    )
    stored = similarity.ivfpq_residual_encode(
        old, cents, cb, m=8, round_digits=6
    )
    incremental = stored.unionByName(
        similarity.ivfpq_residual_encode(
            new, cents, cb, m=8, round_digits=6
        )
    )
    return incremental.select(
        "vec_id",
        "centroid_id",
        F.posexplode("codes").alias("j", "code"),
    ).orderBy("vec_id", "j")


#: Shared CTE: uniform-SQ8 codes of every vector — global (lo, hi)
#: element bounds, code = clamp(floor(round((x−lo)·255/(hi−lo), 6)),
#: 0, 255). The round-to-6-before-floor is the pq round_digits
#: discipline; everything after the quantize is 64-bit integer
#: arithmetic, so the s49 search is hash-exact, not recall-bounded.
SQ8_CODES_CTE = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    b AS (SELECT MIN(list_min(v)) AS lo, MAX(list_max(v)) AS hi
          FROM e{bounds_filter}),
    c AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(least(255, greatest(0,
                   floor(round((x - lo) * 255.0 / (hi - lo), 6))))
                   AS INT)) AS codes
        FROM e CROSS JOIN b
    )
"""


@register(
    "s49_sq8_topk",
    "Symmetric SQ8 ANN top-10 — faiss QT_8bit_uniform re-expressed in "
    "Spark: one global (lo, hi) bound pair (exact min/max picks, no "
    "float aggregation), every element linearly quantized to [0, 255] "
    "(round-to-6-before-floor pins the one float expression, the pq "
    "round_digits discipline), then 64-bit INTEGER L2 between code "
    "arrays ranks neighbors. With a uniform scalar step, d2_float = "
    "step^2 * d2_int, so the integer ranking IS the dequantized-L2 "
    "ranking — exactly — which makes this the one ANN search path that "
    "hash-verifies against a SQL oracle instead of only recall-"
    "bounding like the float-scored IVF/PQ paths. Plan: one min/max "
    "aggregate, a zero-shuffle encode map (4x smaller than float32), "
    "broadcast query block, one code-corpus scan "
    "(operators/similarity.sq8_train/sq8_encode/sq8_topk).",
    oracle="WITH "
    + SQ8_CODES_CTE.format(bounds_filter="")
    + """,
    q AS (SELECT vec_id AS query_id, codes AS qc
          FROM c WHERE vec_id % 97 = 0),
    d AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               CAST(list_aggregate(list_transform(list_zip(q.qc, c.codes),
                   p -> CAST(p[1] - p[2] AS BIGINT)
                        * CAST(p[1] - p[2] AS BIGINT)),
                   'sum') AS BIGINT) AS d2
        FROM q JOIN c ON c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, d2
    FROM (
        SELECT query_id, neighbor_id, d2,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY d2, neighbor_id
               ) AS rk
        FROM d
    ) t WHERE rk <= 10
    ORDER BY query_id, rk
    """,
    category="similarity",
    bench=True,
)
def s49_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bounds = similarity.sq8_train(emb)
    codes = similarity.sq8_encode(emb, bounds)
    queries = codes.filter(F.col("vec_id") % 97 == 0)
    return similarity.sq8_topk(codes, queries, k=10).select(
        "query_id", "neighbor_id", "d2"
    )


@register(
    "s49a_sq8_recall_bound",
    "EXTERNAL recall certificate for the SQ8 compression loss itself: "
    "s49's quantized-L2 top-10 for the min-id query vs the EXACT "
    "float-L2 top-10 on the raw vectors must share >= 8 of 10 "
    "neighbors. s49's hash check proves the integer search is "
    "computed right; this row proves 8-bit quantization preserves the "
    "neighborhood — the two failure modes an SQ index has, separately "
    "certified. The oracle emits the expected (10, TRUE) row, so a "
    "quantization-quality collapse turns a driver row red.",
    oracle="SELECT CAST(10 AS BIGINT) AS n_exact, TRUE AS recall_ok",
    category="similarity",
)
def s49a_sq8_recall_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            similarity._sq_l2(
                "cast(embedding as array<double>)",
                "cast(query_vec as array<double>)",
            ).alias("_d2f"),
        )
        .orderBy(F.asc("_d2f"), F.asc("neighbor_id"))
        .limit(10)
    )
    bounds = similarity.sq8_train(emb)
    codes = similarity.sq8_encode(emb, bounds)
    approx = similarity.sq8_topk(
        codes, codes.join(q.select("query_id"),
                          F.col("vec_id") == F.col("query_id"),
                          "left_semi"),
        k=10,
    )
    return _recall_certificate(exact, approx, min_hits=8)


@register(
    "s50_sq8_append",
    "INCREMENTAL SQ8 index maintenance law, externally verified: a new "
    "batch (vec_id % 4 == 0) is encoded against the STORED bounds "
    "(global element min/max of the EXISTING corpus — the frozen "
    "quantizer; out-of-range new elements clamp to the edge codes) and "
    "appended to the stored (id, codes) artifact — no re-encoding of "
    "the indexed corpus; work per ingest is O(batch x dim) "
    "(operators/similarity.sq8_append). The oracle re-encodes the FULL "
    "corpus from scratch against the old-corpus bounds, so a hash "
    "match IS the incremental == full-rebuild-restricted law (the "
    "s47/s48 discipline, completed across all three quantizers).",
    oracle="WITH "
    + SQ8_CODES_CTE.format(bounds_filter=" WHERE vec_id % 4 != 0")
    + """
    SELECT vec_id, CAST(j AS INT) AS j, codes[j + 1] AS code
    FROM c CROSS JOIN (SELECT unnest(range(64)) AS j) js
    ORDER BY vec_id, j
    """,
    category="similarity",
)
def s50_sq8_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    bounds = similarity.sq8_train(old)
    stored = similarity.sq8_encode(old, bounds)
    incremental = similarity.sq8_append(stored, new, bounds)
    return incremental.select(
        "vec_id", F.posexplode("codes").alias("j", "code")
    ).orderBy("vec_id", "j")


#: The s51 BM25 query set — (query_id, term) literals over the corpus
#: vocabulary; tiny by definition, broadcast on both engines.
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "hash"), (1, "join"), (1, "merge"),
    (2, "window"), (2, "sort"), (2, "order"),
    (3, "spark"), (3, "stream"), (3, "batch"), (3, "vector"),
]


@register(
    "s51_bm25_topk",
    "Okapi BM25 retrieval (k1=1.2, b=0.75 — the Lucene defaults): "
    "top-10 documents per term query, the lexical ranking half of a "
    "RAG stack and the standard hard-negative miner next to the s31 "
    "embedding search. Exact across engines by construction: the one "
    "transcendental, idf = ln((N+1)/(df+0.5)) (a simplified "
    "always-positive idf variant), rounds to 6 decimals "
    "into integer micro-nats BEFORE any arithmetic (the d83 "
    "discipline), and the length normalization clears k1=6/5, b=3/4 "
    "and avgdl=T/N to the all-integer form 22·T·tf / (10·T·tf + 3·T "
    "+ 9·dl·N) — one decimal(38,0) floor division per (query,doc,"
    "term), integer sums after (the d95 discipline). The token "
    "explode broadcast-filters to query terms BEFORE any shuffle and "
    "stages the (doc, term, tf, dl) postings table once; df folds "
    "from the staged postings, (N, T) from one narrow no-explode "
    "corpus aggregate (operators/text.bm25_topk).",
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
                   CAST(COALESCE(SUM({SQL_NTOKS}), 0) AS HUGEINT)
                       AS t_total
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
        SELECT query_id, doc_id, score_micro, CAST(rk AS INT) AS rk
        FROM (
            SELECT query_id, doc_id, score_micro,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id
                   ) AS rk
            FROM scored
        ) t WHERE rk <= 10
        ORDER BY query_id, rk
    """,
    category="similarity",
    bench=True,  # corpus-scan retrieval family — track from first round
)
def s51_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    queries = local_df(
        spark, BM25_QUERIES, "query_id int, term string"
    )
    return text.bm25_topk(docs, queries, k=10).orderBy("query_id", "rk")


@register(
    "s52_bm25_append",
    "INCREMENTAL lexical-index maintenance law, externally verified "
    "(completing the s47/s48/s50 set for the BM25 postings artifact): "
    "a new batch (doc_id %% 4 == 0) builds its postings alone — "
    "O(batch), the stored corpus never re-scans — and appends to the "
    "stored (doc_id, term, tf, dl) artifact; per-term df / tf mass / "
    "dl mass then fold FROM the merged postings. The oracle computes "
    "the same per-term statistics from the FULL corpus from scratch, "
    "so a hash match IS the incremental == full-rebuild law (exact "
    "because postings are per-document-local) "
    "(operators/text.bm25_append_postings).",
    oracle=f"""
        WITH q(term) AS (
            VALUES ('hash'), ('join'), ('merge'), ('window'), ('sort'),
                   ('order'), ('spark'), ('stream'), ('batch'),
                   ('vector')
        ),
        tok AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
        ),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM tok WHERE term IN (SELECT term FROM q)
            GROUP BY doc_id, term
        ),
        dl AS (SELECT doc_id, {SQL_NTOKS} AS dl FROM documents)
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(tf) AS BIGINT) AS tf_sum,
               CAST(SUM(dl.dl) AS BIGINT) AS dl_sum
        FROM tf JOIN dl USING (doc_id)
        GROUP BY term ORDER BY term
    """,
    category="similarity",
)
def s52_bm25_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    terms = tuple(sorted({t for _, t in BM25_QUERIES}))
    stored = text.bm25_postings(old, terms)
    merged = text.bm25_append_postings(stored, new, terms)
    return (
        merged.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("tf_sum"),
            F.sum("dl").alias("dl_sum"),
        )
        .orderBy("term")
    )


#: The s53 serving workload — terms the index build NEVER saw (the
#: point of a full-vocabulary artifact), including one absent from the
#: corpus vocabulary entirely (matches nothing, breaks nothing).
BM25_SERVE_QUERIES: list[tuple[int, str]] = [
    (4, "data"), (4, "code"), (4, "zzznotaterm"),
    (5, "table"), (5, "row"), (5, "group"),
]


#: the serving-workload oracle shared by s53 (flat artifact) and s57
#: (term-bucketed artifact): BM25 recomputed from the raw corpus from
#: scratch, so a hash match proves artifact-serve == direct-scan.
_BM25_SERVE_ORACLE = f"""
        WITH q(query_id, term) AS (
            VALUES (4, 'data'), (4, 'code'), (4, 'zzznotaterm'),
                   (5, 'table'), (5, 'row'), (5, 'group')
        ),
        tok AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
        ),
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
                   CAST(COALESCE(SUM({SQL_NTOKS}), 0) AS HUGEINT)
                       AS t_total
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
        SELECT query_id, doc_id, score_micro, CAST(rk AS INT) AS rk
        FROM (
            SELECT query_id, doc_id, score_micro,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id
                   ) AS rk
            FROM scored
        ) t WHERE rk <= 10
        ORDER BY query_id, rk
    """


@register(
    "s53_bm25_index_serve",
    "FULL-VOCABULARY BM25 postings artifact: index ONCE, serve ANY "
    "query — the piece s51/s52's query-term-restricted postings "
    "deliberately lacked (there, every new query workload re-scans "
    "the corpus; an inverted index exists precisely so it does not). "
    "The unrestricted (doc, term, tf, dl) table plus two stored "
    "totals (N docs, T tokens) IS the index "
    "(operators/text.bm25_postings terms=None); an arbitrary query "
    "set — terms the build never saw, including one absent from the "
    "vocabulary — then ranks from the artifact alone via the SAME "
    "integer decimal(38,0) arithmetic as s51 "
    "(operators/text.bm25_topk_from_postings), the corpus text "
    "untouched. Build shuffle = corpus tokens (the d80/span-index "
    "cost class, ~25 B/posting-row measured, SCALING.md), amortized "
    "over every future workload; probe shuffle = matched rows only. "
    "The oracle recomputes BM25 for the serving queries from the raw "
    "corpus from scratch, so a hash match proves "
    "index-then-serve == direct-scan.",
    oracle=_BM25_SERVE_ORACLE,
    category="similarity",
    bench=True,  # the index-build pass — the cost a 100 TB launch plans
)
def s53_bm25_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the index build: ONE unrestricted corpus pass + one totals row.
    # (In production both are written once — a term-bucketed parquet
    # postings table + a stats sidecar — and only read here.)
    index = text.bm25_postings(docs, None)
    totals = docs.select(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(
                text.token_count(F.coalesce(F.col("text"), F.lit("")))
            ),
            F.lit(0),
        ).alias("t"),
    ).collect()[0]
    queries = local_df(
        spark, BM25_SERVE_QUERIES, "query_id int, term string"
    )
    return text.bm25_topk_from_postings(
        index, queries, int(totals["n"]), int(totals["t"]), k=10
    ).orderBy("query_id", "rk")


def _stage_bm25_bucketed(
    spark: SparkSession, sf_dir: str
) -> tuple[str, int, int]:
    """Get-or-create the TERM-BUCKETED durable BM25 index: the
    full-vocabulary postings written ``bucketBy(32, term)`` (sorted by
    term within buckets) plus a one-row stats sidecar table — the q77
    warehouse-layout discipline applied to the retrieval artifact.
    Build cost is one unrestricted corpus pass (the s53 class), paid
    once per (session, corpus); every serve afterwards reads only the
    buckets its query terms hash into."""
    import hashlib

    from etl_example_spark.sources.writers import (
        drop_table_and_location,
        write_bucketed_table,
    )

    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"bm25_postings_bkt_{slug}"
    stats_name = f"bm25_stats_{slug}"
    docs = load_table(spark, sf_dir, "documents")

    def build() -> str:
        write_bucketed_table(
            text.bm25_postings(docs, None),
            name,
            ["term"],
            32,
            sort_by=["term"],
        )
        drop_table_and_location(spark, stats_name)
        docs.select(
            F.count("*").alias("n_docs"),
            F.coalesce(
                F.sum(
                    text.token_count(F.coalesce(F.col("text"), F.lit("")))
                ),
                F.lit(0),
            ).alias("t_total"),
        ).write.mode("overwrite").saveAsTable(stats_name)
        return name

    artifacts.get_or_build(
        "bm25_bucketed", spark, sf_dir, build, sources=(docs,)
    )
    stats = spark.table(stats_name).collect()[0]
    return name, int(stats["n_docs"]), int(stats["t_total"])


@register(
    "s57_bm25_bucketed_serve",
    "TERM-BUCKETED durable BM25 index with PRUNED serving — the "
    "production artifact layout s53's docstring promises, composed "
    "from the proven pieces (q77 bucketed tables + the s53 "
    "full-vocabulary postings): the index is written ONCE as a "
    "bucketBy(32, term) catalog table plus a stats sidecar, and the "
    "serve path restricts by a LITERAL term isin, which the bucketed "
    "scan turns into SelectedBucketsCount bucket pruning — a 3-term "
    "probe READS ~3/32 of the artifact's files (3/1024ths at a "
    "production bucket count) where the flat artifact must scan every "
    "file to find matches (operators/text.bm25_topk_from_bucketed; "
    "pruning asserted in tests/test_llm_ops.py). Same serving "
    "workload and decimal(38,0) arithmetic as s53, and the oracle "
    "recomputes from the raw corpus — a hash match proves "
    "bucketed-artifact == direct-scan end to end.",
    oracle=_BM25_SERVE_ORACLE,
    category="similarity",
    bench=True,  # the bucket-pruned serve path — the 100 TB serving form
)
def s57_bm25_bucketed_serve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table, n_docs, t_total = _stage_bm25_bucketed(spark, sf_dir)
    queries = local_df(
        spark, BM25_SERVE_QUERIES, "query_id int, term string"
    )
    return text.bm25_topk_from_bucketed(
        spark, table, queries, n_docs, t_total, k=10
    ).orderBy("query_id", "rk")


@register(
    "s68_bm25_bucketed_append",
    "INCREMENTAL maintenance of the TERM-BUCKETED BM25 artifact, "
    "serve-equality certified — the s52 append law lifted from the "
    "flat postings file to the production bucketed layout s57/s59 "
    "serve from: the existing corpus's full-vocabulary postings are "
    "written bucketBy(32, term) once; an arriving batch "
    "(doc_id %% 4 == 0) writes ONLY ITS OWN postings with the same "
    "bucket spec in append mode (Spark routes the new files into the "
    "same 32 hash buckets, so SelectedBucketsCount pruning survives "
    "the append — asserted in tests/test_llm_ops.py), and the stats "
    "sidecar advances by a batch-sized (n, t) add — the indexed "
    "corpus is never re-scanned, re-bucketed, or re-sorted; work per "
    "ingest is O(batch tokens). Exact because postings rows are "
    "per-document-local (tf, dl depend on one document). The oracle "
    "recomputes the serve from the RAW full corpus, so a hash match "
    "proves append-maintained-bucketed == full-rebuild == direct-scan "
    "in one certificate (operators/text.bm25_postings + "
    "sources/writers.write_bucketed_table(mode='append')).",
    oracle=_BM25_SERVE_ORACLE,
    category="similarity",
)
def s68_bm25_bucketed_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib

    from etl_example_spark.sources.writers import write_bucketed_table

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"bm25_bkt_appendlaw_{slug}"
    # index build: the existing corpus only (overwrite drops any
    # previous demo table, so the law rebuilds deterministically)
    write_bucketed_table(
        text.bm25_postings(old, None), name, ["term"], 32,
        sort_by=["term"],
    )
    # ingest: the batch's own postings appended under the SAME bucket
    # spec — the stored files are untouched
    write_bucketed_table(
        text.bm25_postings(new, None), name, ["term"], 32,
        sort_by=["term"], mode="append",
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

    # stats sidecar advance: stored totals + batch totals (a one-row
    # add, never a full-corpus re-scan)
    n_old, t_old = totals(old)
    n_new, t_new = totals(new)
    queries = local_df(
        spark, BM25_SERVE_QUERIES, "query_id int, term string"
    )
    return text.bm25_topk_from_bucketed(
        spark, name, queries, n_old + n_new, t_old + t_new, k=10
    ).orderBy("query_id", "rk")


@register(
    "s69_bm25_bucketed_compaction",
    "COMPACTION of the term-bucketed BM25 artifact after incremental "
    "ingest, serve-equality certified — the maintenance END of the "
    "s68 lifecycle: four batches land via bucketBy(32, term) appends "
    "(each append adds one file-set per bucket, so a long-lived "
    "incremental index accumulates per-bucket small files and every "
    "serve pays their open/footer costs), then "
    "sources/writers.compact_bucketed_table rewrites the WHOLE "
    "artifact ONCE — repartitioned on the bucket column so the write "
    "lands ~one file per bucket — into a fresh table under the SAME "
    "bucket spec and swaps names (write-temp-then-swap; an "
    "object-store dataset gets st62's atomic _CURRENT-pointer publish "
    "instead, a catalog table gets the rename). The serve reads the "
    "compacted table with SelectedBucketsCount pruning intact "
    "(file-count collapse + pruning asserted in "
    "tests/test_llm_ops.py). The oracle recomputes the serve from the "
    "RAW corpus, so one hash match proves compacted == "
    "append-maintained == full-rebuild == direct-scan.",
    oracle=_BM25_SERVE_ORACLE,
    category="similarity",
)
def s69_bm25_bucketed_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib

    from etl_example_spark.sources.writers import (
        compact_bucketed_table,
        write_bucketed_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"bm25_bkt_compactlaw_{slug}"
    write_bucketed_table(
        text.bm25_postings(docs.filter(F.col("doc_id") % 4 == 0), None),
        name, ["term"], 32, sort_by=["term"],
    )
    for r in (1, 2, 3):
        write_bucketed_table(
            text.bm25_postings(
                docs.filter(F.col("doc_id") % 4 == r), None
            ),
            name, ["term"], 32, sort_by=["term"], mode="append",
        )
    compact_bucketed_table(spark, name, ["term"], 32, sort_by=["term"])
    row = docs.select(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(text.token_count(F.coalesce(F.col("text"), F.lit("")))),
            F.lit(0),
        ).alias("t"),
    ).collect()[0]
    queries = local_df(
        spark, BM25_SERVE_QUERIES, "query_id int, term string"
    )
    return text.bm25_topk_from_bucketed(
        spark, name, queries, int(row["n"]), int(row["t"]), k=10
    ).orderBy("query_id", "rk")


#: The s59 hybrid serving workload: one query, corpus-vocabulary terms
#: (the keyword arm must actually rank something for the fusion to be
#: interesting); the semantic arm's query is the min-id corpus vector,
#: the deterministic convention every ANN registration uses.
HYBRID_SERVE_TERMS: list[tuple[int, str]] = [
    (1, "data"), (1, "code"), (1, "table"),
]


def _stage_ivf_artifacts(
    spark: SparkSession, sf_dir: str, n_centroids: int = 16
) -> tuple[DataFrame, DataFrame]:
    """Get-or-create the STORED IVF index: the centroid block plus the
    full corpus assignment table, written to the warehouse once per
    (session, corpus) — the vector-side twin of the bucketed BM25
    artifact (:func:`_stage_bm25_bucketed`). Build cost is one corpus
    assignment pass (the s47 kernel), paid at index-build time; every
    serve afterwards probes the stored table without re-assigning the
    corpus — at 100 TB the per-query coarse assignment IS a corpus
    pass, so storing it is what makes 'index-served' true on the
    vector arm. Incremental maintenance of the same artifact is
    operators/similarity.ivf_append (s47) / st49 streaming."""
    import hashlib

    from etl_example_spark.sources.writers import drop_table_and_location

    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    cents_name = f"ivf_centroids_{slug}"
    assign_name = f"ivf_assign_{slug}"
    emb = load_table(spark, sf_dir, "embeddings")

    def build() -> tuple[str, str]:
        drop_table_and_location(spark, cents_name)
        similarity.seed_centroids(emb, n_centroids).write.mode(
            "overwrite"
        ).saveAsTable(cents_name)
        drop_table_and_location(spark, assign_name)
        similarity.ivf_assign_with_centroids(
            emb, spark.table(cents_name)
        ).write.mode("overwrite").saveAsTable(assign_name)
        return cents_name, assign_name

    artifacts.get_or_build(
        "ivf_artifacts", spark, sf_dir, build, sources=(emb,)
    )
    return spark.table(cents_name), spark.table(assign_name)


@register(
    "s59_hybrid_index_serve",
    "INDEX-SERVED hybrid retrieval — the 100 TB deployment s45's "
    "docstring names, now a registered plan: the keyword arm is BM25 "
    "top-20 served from the TERM-BUCKETED durable artifact with "
    "bucket-pruned reads (s57's _stage_bm25_bucketed + operators/"
    "text.bm25_topk_from_bucketed — the scan touches only the buckets "
    "the 3 query terms hash into), the semantic arm is IVF top-20 "
    "served from the STORED index (_stage_ivf_artifacts: the centroid "
    "block and the full assignment table are warehouse tables built "
    "once per corpus; operators/similarity.ivf_topk(centroids=, "
    "assignments=) probes nprobe 8 of 16 cells as a semi-join against "
    "the stored assignment — the corpus is never re-assigned at query "
    "time, closing the r12 asymmetry where only the keyword arm was "
    "artifact-served), and the fusion is reciprocal-rank over "
    "the two SHORTLISTS alone (operators/similarity."
    "rrf_fuse_shortlists: a full-outer join of two <=20-row frames + "
    "exact integer 1e6 div (60+rank) arithmetic; a doc missing from "
    "an arm contributes 0) — the corpus is never rescanned at fusion "
    "time, which is the entire point of serving from indexes. Unlike "
    "the approximate ANN registrations this one is FULLY oracle-"
    "checked: every stage (seeded IVF assignment, rounded-cosine "
    "probe, BM25 decimal(38,0) scoring, shortlist RRF) is "
    "deterministic and re-derived in SQL from the raw tables, so a "
    "hash match proves bucketed-BM25-serve == direct-scan AND "
    "IVF-serve == from-scratch-probe AND shortlist fusion == SQL "
    "fusion in one certificate.",
    oracle=f"""
        WITH q(query_id, term) AS (
            VALUES (1, 'data'), (1, 'code'), (1, 'table')
        ),
        tok AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS term FROM documents
        ),
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
                   CAST(COALESCE(SUM({SQL_NTOKS}), 0) AS HUGEINT)
                       AS t_total
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
        kw AS (
            SELECT doc_id, CAST(rk AS INT) AS kw_rank FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (
                           ORDER BY SUM(c) DESC, doc_id
                       ) AS rk
                FROM contrib GROUP BY doc_id
            ) WHERE rk <= 20
        ),
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        cents AS (
            SELECT vec_id AS centroid_id, v AS cv
            FROM e ORDER BY vec_id LIMIT 16
        ),
        qv AS (SELECT vec_id AS query_id, v AS qvec
               FROM e WHERE v IS NOT NULL ORDER BY vec_id LIMIT 1),
        probe AS (
            SELECT centroid_id FROM (
                SELECT c.centroid_id,
                       ROW_NUMBER() OVER (
                           ORDER BY ROUND(list_cosine_similarity(
                               c.cv, qvec), 6) DESC, c.centroid_id
                       ) AS pk
                FROM cents c CROSS JOIN qv
            ) WHERE pk <= 8
        ),
        assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT e.vec_id, c.centroid_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY ROUND(list_cosine_similarity(
                               e.v, c.cv), 6) DESC, c.centroid_id
                       ) AS ak
                FROM e CROSS JOIN cents c
                WHERE list_aggregate(
                          list_transform(e.v, x -> x*x), 'sum') != 0
            ) WHERE ak = 1
        ),
        sem AS (
            SELECT doc_id, CAST(rk AS INT) AS sem_rank FROM (
                SELECT a.vec_id AS doc_id,
                       ROW_NUMBER() OVER (
                           ORDER BY ROUND(list_cosine_similarity(
                               e.v, qvec), 6) DESC, a.vec_id
                       ) AS rk
                FROM assign a
                JOIN probe USING (centroid_id)
                JOIN e ON e.vec_id = a.vec_id
                CROSS JOIN qv
                WHERE a.vec_id != query_id
            ) WHERE rk <= 20
        )
        SELECT doc_id, kw_rank, sem_rank,
               CAST(COALESCE(1000000 // (60 + kw_rank), 0)
                    + COALESCE(1000000 // (60 + sem_rank), 0)
                    AS BIGINT) AS rrf_score
        FROM kw FULL OUTER JOIN sem USING (doc_id)
        ORDER BY rrf_score DESC, doc_id
        LIMIT 10
    """,
    category="similarity",
    bench=True,  # the fused two-arm index-served retrieval flagship
)
def s59_hybrid_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    table, n_docs, t_total = _stage_bm25_bucketed(spark, sf_dir)
    queries = local_df(
        spark, HYBRID_SERVE_TERMS, "query_id int, term string"
    )
    kw = text.bm25_topk_from_bucketed(
        spark, table, queries, n_docs, t_total, k=20
    ).select("doc_id", F.col("rk").cast("int").alias("kw_rank"))
    emb = load_table(spark, sf_dir, "embeddings")
    cents, assignments = _stage_ivf_artifacts(spark, sf_dir)
    # shortlist rank: a window over the arm's TakeOrdered top-20 —
    # bounded input by construction (GlobalLimit below), never corpus
    sem = (
        similarity.ivf_topk(
            emb, k=20, n_centroids=16, nprobe=8,
            centroids=cents, assignments=assignments,
        )
        .select(F.col("neighbor_id").alias("doc_id"), "cosine_sim")
        .withColumn(
            "sem_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine_sim"), F.asc("doc_id")))
            .cast("int"),
        )
        .select("doc_id", "sem_rank")
    )
    return similarity.rrf_fuse_shortlists(kw, sem, k=10).orderBy(
        F.desc("rrf_score"), "doc_id"
    )


@register(
    "s59a_ivf_artifact_law",
    "EXTERNAL equality certificate for the IVF stored-index serving "
    "contract (the s61 move applied to the coarse index): ivf_topk "
    "served from the STAGED warehouse artifacts — the centroid block "
    "and the full assignment table s59's semantic arm reads, round-"
    "tripped through parquet — must return the IDENTICAL top-k as the "
    "in-query composition that re-assigns the corpus per call. The "
    "certificate row counts the served top-k and inner-joins it to "
    "the in-query top-k on every output column — (20, TRUE) iff they "
    "agree row-for-row; the oracle emits the expected row, so any "
    "drift between the stored-artifact path and the algorithm turns "
    "a driver row red (operators/similarity.ivf_topk(centroids=, "
    "assignments=)).",
    oracle=(
        "SELECT CAST(20 AS BIGINT) AS n_served, TRUE AS artifact_serve_ok"
    ),
    category="similarity",
)
def s59a_ivf_artifact_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents, assignments = _stage_ivf_artifacts(spark, sf_dir)
    kw = dict(k=20, n_centroids=16, nprobe=8)
    served = similarity.ivf_topk(
        emb, centroids=cents, assignments=assignments, **kw
    )
    in_query = similarity.ivf_topk(emb, **kw)
    return _serve_law_certificate(served, in_query)


@register(
    "d83_bigram_logprob_quality",
    "Self-trained bigram LM quality scoring — the CCNet/FineWeb-style "
    "perplexity gate: add-one-smoothed p(w2|w1) = (c12+1)/(c1+V) "
    "trained on the corpus itself, each doc scored by mean -ln p per "
    "bigram (monotone in perplexity). Counts are hash aggregates; "
    "context counts re-aggregate the bigram table (one corpus scan); "
    "docs probe-join the unique-keyed count tables (hot bigrams skew "
    "only the AQE-splittable probe side); per-bigram -ln p rounds to 6 "
    "decimals BEFORE summing, and the outputs are exact integer "
    "micro-units with an integer-floor-division average — no rounded "
    "float divide anywhere, so the result is bit-identical across "
    "engines at every scale (operators/text.bigram_logprob_score).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        b AS (
            SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
            FROM t, LATERAL (
                SELECT unnest(range(len(toks) - 1)) AS i
            ) g
            WHERE len(toks) >= 2
        ),
        c12 AS (
            SELECT w1, w2, COUNT(*) AS cnt12 FROM b GROUP BY w1, w2
        ),
        c1 AS (SELECT w1, SUM(cnt12) AS cnt1 FROM c12 GROUP BY w1),
        v AS (
            -- vocab over ALL documents. DuckDB's string_split_regex('')
            -- yields [''] where the engine's tokens('') yields [] —
            -- drop the empty token so both count the same vocabulary
            SELECT COUNT(DISTINCT tok) AS vocab
            FROM (SELECT unnest(toks) AS tok FROM t)
            WHERE tok <> ''
        ),
        lp AS (
            SELECT b.doc_id,
                   CAST(ROUND(-ln(CAST(cnt12 + 1 AS DOUBLE)
                        / CAST(cnt1 + vocab AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS nl
            FROM b
            JOIN c12 USING (w1, w2)
            JOIN c1 USING (w1)
            CROSS JOIN v
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(nl) * 1000000 AS BIGINT) AS sum_neg_logp_micro,
               CAST(SUM(nl) * 1000000 AS BIGINT) // COUNT(*)
                   AS avg_neg_logp_micro
        FROM lp GROUP BY doc_id ORDER BY doc_id
    """,
    category="text",
    bench=True,
)
def d83_bigram_logprob_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bigram_logprob_score(docs)


@register(
    "d84_soft_dedup_weights",
    "Duplicate-aware sampling weights (soft dedup): every document "
    "stays in the corpus carrying weight 1/n_copies of its exact-"
    "content cluster, so each distinct content contributes one unit of "
    "sampling mass however often it was crawled — the reweighting "
    "companion to d24's keep-first hard dedup; the weight column feeds "
    "the mixture sampler directly. One fingerprint hash aggregate + a "
    "unique-keyed probe join (viral copypasta skews only the AQE-"
    "splittable probe side); the weight is one IEEE double division of "
    "exact integers (operators/dedup.soft_dedup_weights).",
    oracle=f"""
        WITH c AS (
            SELECT doc_id, md5({SQL_NORM}) AS fp FROM documents
        ),
        sizes AS (SELECT fp, COUNT(*) AS n_copies FROM c GROUP BY fp)
        SELECT c.doc_id, s.n_copies,
               CAST(1 AS DOUBLE) / s.n_copies AS weight
        FROM c JOIN sizes s USING (fp)
        ORDER BY c.doc_id
    """,
    category="dedup",
)
def d84_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.soft_dedup_weights(docs)


@register(
    "d95_token_budget_plan",
    "TOKEN-budget mixture plan — d59's row-count mixture re-stated in "
    "the unit training runs actually budget: per-domain whitespace-"
    "token counts, integer mixture weights (en=2, de/es/fr/zh=1), a "
    "corpus-relative budget of 500000 ppm of the weighted corpus's "
    "tokens; emits per stratum the target token share floor(w*B/W), "
    "the hash-sampler keep rate min(1e6, floor(target*1e6/tokens)), "
    "the planned yield under the clamped rate, and a needs_upsampling "
    "flag for strata that cannot fill their share in one epoch (the "
    "DoReMi/Pile epochs>1 case). Every number is exact integer "
    "arithmetic in decimal(38,0) (HUGEINT in the oracle) with explicit "
    "floor division via (a - a%%b)/b — Spark's plain decimal divide "
    "rounds HALF_UP at scale 6 and can land one above the true floor — "
    "so the plan is bit-identical across engines at any scale. One "
    "partial-aggregable token-count pass + a broadcast one-row totals "
    "block (operators/sampling.token_budget_plan).",
    oracle=f"""
        WITH tc AS (
            -- SQL_TOKS, not a guarded raw split: DuckDB trim strips
            -- spaces only, so tab/newline padding grew phantom empty
            -- tokens (+1 per padded side) and a whitespace-only cell
            -- counted as tokens; the macro filter is the contract
            SELECT lang,
                   CAST(SUM(len({SQL_TOKS})) AS HUGEINT) AS toks
            FROM documents GROUP BY lang
        ),
        w(lang, wt) AS (VALUES ('de', 1), ('en', 2), ('es', 1),
                               ('fr', 1), ('zh', 1)),
        p AS (
            SELECT tc.lang, tc.toks,
                   CAST(COALESCE(w.wt, 0) AS HUGEINT) AS wt
            FROM tc LEFT JOIN w USING (lang)
        ),
        tot AS (
            SELECT CAST(SUM(CASE WHEN wt > 0 THEN toks ELSE 0 END)
                       AS HUGEINT) AS t_total,
                   CAST(SUM(CASE WHEN wt > 0 THEN wt ELSE 0 END)
                       AS HUGEINT) AS w_total
            FROM p
        ),
        b AS (SELECT w_total,
                     t_total * 500000 // 1000000 AS budget FROM tot),
        plan AS (
            SELECT p.lang, p.toks,
                   CASE WHEN p.wt > 0 AND b.w_total > 0
                        THEN p.wt * b.budget // b.w_total
                        ELSE 0 END AS target_tokens
            FROM p CROSS JOIN b
        ),
        r AS (
            SELECT lang, toks, target_tokens,
                   CASE WHEN toks > 0
                        THEN least(1000000,
                                   target_tokens * 1000000 // toks)
                        ELSE 0 END AS rate_ppm
            FROM plan
        )
        SELECT lang,
               CAST(toks AS BIGINT) AS tokens,
               CAST(target_tokens AS BIGINT) AS target_tokens,
               CAST(rate_ppm AS BIGINT) AS rate_ppm,
               CAST(toks * rate_ppm // 1000000 AS BIGINT)
                   AS planned_tokens,
               target_tokens > toks AS needs_upsampling
        FROM r ORDER BY lang
    """,
    category="text",
)
def d95_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.sampling import token_budget_plan

    docs = load_table(spark, sf_dir, "documents")
    weights = {"de": 1, "en": 2, "es": 1, "fr": 1, "zh": 1}
    return token_budget_plan(
        docs, weights, budget_ppm=500_000, stratum_col="lang"
    ).orderBy("lang")


@register(
    "d97_web_curation_v2",
    "The round-9 END-TO-END raw-web curation chain as one verified "
    "composition — d53's recipe upgraded with this round's operators, "
    "in published-pipeline order (Gopher/RefinedWeb/GPT-3): newline "
    "structuring -> WITHIN-doc duplicate-line removal (d94's "
    "zero-shuffle array_distinct pass) -> token-length gate -> exact "
    "dedup (keep lowest id per normalized fingerprint) -> 13-gram "
    "benchmark decontamination (d90's broadcast span probe, dropping "
    "any doc overlapping the src0 benchmark) -> temperature mixture "
    "sampling -> per-language corpus stats. Every stage decision is "
    "md5/integer-deterministic, so the oracle replays the WHOLE "
    "pipeline in SQL and the final stats hash-match. One text scan "
    "feeds the intra-doc pass; the benchmark hash table is bounded by "
    "benchmark tokens and broadcasts; the only corpus-keyed shuffles "
    "are the exact-dedup aggregate and the tiny per-language counts.",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang, source,
                   replace(COALESCE(text, ''), 'line', chr(10)) AS text
            FROM documents
        ),
        corp AS (SELECT * FROM d WHERE source != 'src0'),
        lines AS (
            SELECT doc_id, i AS idx,
                   string_split(text, chr(10))[i+1] AS line
            FROM corp, LATERAL (
                SELECT unnest(range(len(string_split(text, chr(10)))))
                    AS i
            ) g
        ),
        rk AS (
            SELECT doc_id, idx, line,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id, line ORDER BY idx
                   ) AS rk
            FROM lines
        ),
        cleaned AS (
            SELECT doc_id,
                   COALESCE(string_agg(
                       CASE WHEN rk = 1 THEN line END, chr(10)
                       ORDER BY idx), '') AS text
            FROM rk GROUP BY doc_id
        ),
        c1 AS (
            SELECT c.doc_id, corp.lang, c.text
            FROM cleaned c JOIN corp ON corp.doc_id = c.doc_id
        ),
        gated AS (SELECT * FROM c1 WHERE {SQL_NTOKS} >= 5),
        ed AS (
            SELECT MIN(doc_id) AS keep_id FROM gated
            GROUP BY md5({SQL_NORM})
        ),
        c2 AS (
            SELECT g.* FROM gated g JOIN ed ON g.doc_id = ed.keep_id
        ),
        bt AS (
            SELECT {SQL_TOKS} AS toks FROM d WHERE source = 'src0'
        ),
        bs AS (
            SELECT DISTINCT
                   array_to_string(toks[(i+1):(i+13)], ' ') AS s
            FROM bt, LATERAL (
                SELECT unnest(range(len(toks) - 13 + 1)) AS i
            ) g
            WHERE len(toks) >= 13
        ),
        ct AS (SELECT doc_id, {SQL_TOKS} AS toks FROM c2),
        contaminated AS (
            SELECT DISTINCT doc_id
            FROM ct, LATERAL (
                SELECT unnest(range(len(toks) - 13 + 1)) AS i
            ) g
            WHERE len(toks) >= 13
              AND array_to_string(toks[(i+1):(i+13)], ' ')
                  IN (SELECT s FROM bs)
        ),
        c3 AS (
            SELECT c2.* FROM c2
            LEFT JOIN contaminated x ON c2.doc_id = x.doc_id
            WHERE x.doc_id IS NULL
        ),
        cnt AS (SELECT lang, COUNT(*) AS c FROM c3 GROUP BY lang),
        tot AS (SELECT SUM(c) AS tt, SUM(pow(c, 0.5)) AS z FROM cnt),
        rates AS (
            SELECT lang,
                   least(1.0, 0.7 * tt * pow(c, 0.5) / z / c) AS rate
            FROM cnt CROSS JOIN tot
        ),
        c4 AS (
            SELECT c3.* FROM c3 JOIN rates r ON c3.lang = r.lang
            WHERE r.rate >= 1.0
               OR substring(md5(c3.lang || ':' || c3.doc_id), 1, 8)
                  < lower(lpad(to_hex(
                        CAST(floor(r.rate * 4294967296.0) AS BIGINT)),
                        8, '0'))
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM({SQL_NTOKS}) AS BIGINT) AS n_tokens
        FROM c4 GROUP BY lang ORDER BY lang
    """,
    category="dedup",
    bench=True,  # end-to-end chain — heavy family, first stable r9
)
def d97_web_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.sampling import temperature_sample
    from etl_example_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    structured = docs.select(
        "doc_id",
        "lang",
        "source",
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("line"),
            F.lit("\n"),
        ).alias("text"),
    )
    corpus = structured.filter(F.col("source") != "src0")
    bench = structured.filter(F.col("source") == "src0")
    cleaned = dedup.intradoc_line_dedup(corpus).select("doc_id", "text")
    c1 = cleaned.join(corpus.select("doc_id", "lang"), "doc_id")
    gated = c1.filter(token_count("text") >= 5)
    keepers = dedup.exact_dedup(gated, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    c2 = gated.join(keepers, "doc_id", "left_semi")
    hits = (
        dedup.benchmark_span_overlap(c2, bench, span_tokens=13)
        .select("doc_id")
        .distinct()
    )
    c3 = c2.join(hits, "doc_id", "left_anti")
    sampled = temperature_sample(
        c3, alpha=0.5, keep_fraction=0.7, stratum_col="lang",
        id_col="doc_id",
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count("text").cast("long")).alias("n_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "d45_data_quality",
    "Declarative data-quality gate (operators/quality.py): every "
    "row-level rule (not-null, range, accepted values) folds into ONE "
    "aggregation pass over lineitem — never N scans for N rules — and "
    "each referential-integrity check is one broadcast anti-join of the "
    "fact against the dim key set. Output is the (rule, n_rows, "
    "violations) metrics table a pipeline gate consumes.",
    oracle="""
        WITH row_rules AS (
            SELECT * FROM (
                SELECT 'not_null_l_orderkey' AS rule, COUNT(*) AS n_rows,
                       CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 0 ELSE 1 END)
                            AS BIGINT) AS violations
                FROM lineitem
                UNION ALL
                SELECT 'range_l_quantity', COUNT(*),
                       CAST(SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
                                 THEN 0 ELSE 1 END) AS BIGINT)
                FROM lineitem
                UNION ALL
                SELECT 'accepted_l_returnflag', COUNT(*),
                       CAST(SUM(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                FROM lineitem
            )
        ),
        fks AS (
            SELECT 'fk_l_orderkey_orders' AS rule,
                   (SELECT COUNT(*) FROM lineitem) AS n_rows,
                   COUNT(*) AS violations
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL
            UNION ALL
            SELECT 'fk_l_partkey_part',
                   (SELECT COUNT(*) FROM lineitem),
                   COUNT(*)
            FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_partkey IS NULL
        )
        SELECT rule, n_rows, violations FROM row_rules
        UNION ALL
        SELECT rule, n_rows, violations FROM fks
        ORDER BY rule
    """,
    category="text",
)
def d45_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators import quality

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    row_rules = quality.check_rules(
        lineitem,
        [
            quality.not_null("l_orderkey"),
            quality.in_range("l_quantity", 1, 50),
            quality.accepted_values("l_returnflag", ["A", "N", "R"]),
        ],
    )
    n_rows = lineitem.count()

    def fk_row(rule: str, dim, dim_key: str, fact_key: str) -> DataFrame:
        bad = quality.fk_violations(lineitem, fact_key, dim, dim_key)
        return bad.agg(
            F.lit(rule).alias("rule"),
            F.lit(n_rows).alias("n_rows"),
            F.count("*").alias("violations"),
        )

    return (
        row_rules.unionByName(
            fk_row("fk_l_orderkey_orders", orders, "o_orderkey", "l_orderkey")
        )
        .unionByName(
            fk_row("fk_l_partkey_part", part, "p_partkey", "l_partkey")
        )
        .orderBy("rule")
    )


# 5-gram variant of SQL_SHINGLES3 (same <n-token collapse rule)
SQL_SHINGLES5 = (
    # COALESCE: DuckDB array_to_string([], ' ') is NULL, Spark
    # concat_ws is '' — see SQL_SHINGLES3
    "CASE WHEN len(toks) < 5 "
    "THEN [COALESCE(array_to_string(toks, ' '), '')] "
    "ELSE list_distinct(list_transform(range(1, len(toks) - 3), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
    "toks[i+3] || ' ' || toks[i+4])) END"
)

# whitespace token count mirroring operators/text.tokens (empty text -> 0)
@register(
    "d46_pack_sequences",
    "Concat-and-chunk sequence packing: documents laid end-to-end per "
    "source in doc_id order, token stream cut every 512 tokens; bin "
    "assignment is the running token offset div budget — pure integer "
    "window arithmetic, parallel across sources, no global sort "
    "(operators/packing.pack_concat_chunks).",
    oracle=f"""
        WITH t AS (
            SELECT source, doc_id, {SQL_NTOKS} AS n_tokens FROM documents
        ),
        p AS (
            SELECT source, doc_id, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
            FROM t
        )
        SELECT source, CAST(start_offset // 512 AS BIGINT) AS bin_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM p
        GROUP BY source, bin_id
        ORDER BY source, bin_id
    """,
    category="text",
)
def d46_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.packing import (
        pack_concat_chunks,
        pack_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_concat_chunks(docs, budget=512)
    return pack_stats(packed).orderBy("source", "bin_id")


@register(
    "d47_contamination",
    "Benchmark decontamination scan (GPT-3 n-gram rule, word 5-grams): "
    "corpus documents sharing any shingle with the benchmark set "
    "(source='src0' stands in as the eval suite), with hit counts. The "
    "benchmark's distinct shingles BROADCAST onto the exploded corpus "
    "index — the corpus never shuffles "
    "(operators/dedup.contamination_report).",
    oracle=f"""
        WITH tb AS (
            SELECT doc_id, {SQL_TOKS} AS toks FROM documents
            WHERE source = 'src0'
        ),
        probe AS (
            SELECT DISTINCT unnest({SQL_SHINGLES5}) AS shingle FROM tb
        ),
        tc AS (
            SELECT doc_id, {SQL_TOKS} AS toks FROM documents
            WHERE source <> 'src0'
        ),
        sh AS (
            SELECT doc_id, len({SQL_SHINGLES5}) AS n_shingles,
                   unnest({SQL_SHINGLES5}) AS shingle
            FROM tc
        )
        SELECT sh.doc_id, sh.n_shingles, COUNT(*) AS n_hits
        FROM sh JOIN probe USING (shingle)
        GROUP BY sh.doc_id, sh.n_shingles
        ORDER BY sh.doc_id
    """,
    category="dedup",
)
def d47_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return dedup.contamination_report(corpus, benchmark, n=5).orderBy(
        "doc_id"
    )


@register(
    "d48_temperature_mixture",
    "Temperature-based mixture rebalancing (alpha=0.5, keep ~30%): "
    "per-language keep rates proportional to count^alpha, applied as the "
    "deterministic md5-threshold filter — the multilingual-corpus "
    "upweighting rule, reproducible across engines and cluster layouts "
    "(operators/sampling.temperature_sample).",
    oracle="""
        WITH cnt AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
        tot AS (SELECT SUM(c) AS t, SUM(pow(c, 0.5)) AS z FROM cnt),
        rates AS (
            SELECT lang,
                   least(1.0, 0.3 * t * pow(c, 0.5) / z / c) AS rate
            FROM cnt CROSS JOIN tot
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE r.rate >= 1.0
           OR substring(md5(d.lang || ':' || d.doc_id), 1, 8)
              < lower(lpad(to_hex(
                    CAST(floor(r.rate * 4294967296.0) AS BIGINT)), 8, '0'))
        ORDER BY d.doc_id
    """,
    category="text",
)
def d48_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_sample(
            docs, alpha=0.5, keep_fraction=0.3, stratum_col="lang"
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "d49_arrow_udf",
    "Arrow-optimized scalar Python UDF (useArrow=True: columnar Arrow "
    "batches cross the JVM/Python boundary instead of pickled rows — "
    "the modern form of the row-at-a-time UDF escape hatch, for logic "
    "built-ins can't express). Word-order reversal per document, "
    "verified against DuckDB's list_reverse pipeline.",
    oracle=f"""
        SELECT doc_id,
               -- NULL in -> NULL out (the UDF contract); otherwise
               -- SQL_TOKS (the raw split grew phantom '' tokens on
               -- tab/newline-padded text, re-joined as stray spaces),
               -- with COALESCE for DuckDB's array_to_string([]) = NULL
               -- where Python ' '.join([]) is ''
               CASE WHEN text IS NULL THEN NULL
                    ELSE COALESCE(array_to_string(
                        list_reverse({SQL_TOKS}), ' '), '') END
                   AS reversed_text
        FROM documents
        ORDER BY doc_id
    """,
    category="text",
)
def d49_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    @F.udf("string", useArrow=True)
    def reverse_words(s: str) -> str:
        if s is None:  # NULL in, NULL out — the oracle's NULL flow
            return None
        return " ".join(reversed(s.lower().split()))

    return docs.select(
        "doc_id", reverse_words("text").alias("reversed_text")
    ).orderBy("doc_id")


@register(
    "d50_map_in_arrow",
    "mapInArrow: zero-copy RecordBatch-level processing (the lowest-"
    "overhead Python boundary — no pandas materialization), computing "
    "per-document character lengths with pyarrow compute kernels and "
    "verified against both engines' length().",
    oracle="""
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_computed
        FROM documents
        ORDER BY doc_id
    """,
    category="text",
)
def d50_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")

    def batch_lengths(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(
                        pc.utf8_length(batch.column("text")), pa.int64()
                    ),
                ],
                ["doc_id", "n_chars_computed"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        batch_lengths, "doc_id long, n_chars_computed long"
    ).orderBy("doc_id")


@register(
    "s42_pq_topk",
    "Product-quantization ANN with exact re-rank: per-subspace Lloyd "
    "codebooks (8 subspaces x 16 codes -> 8 small codes per vector "
    "instead of 256 raw floats), query-side ADC lookup table, broadcast-"
    "join scored shortlist, exact cosine re-rank of the shortlist only. "
    "Approximate by design -> rows-only here; the externally hash-"
    "verified certificate is the s42a_pq_recall_bound twin (recall@10 "
    ">= 8/10 vs exact brute force, oracle-checked, green in "
    "CORRECTNESS_r06); recall is also asserted in tests "
    "(operators/similarity.pq_topk).",
    category="similarity",
)
def s42_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # m=16 x 32 codes, 4 k-means iters: calibrated so recall@10 holds
    # 10/10 from sf0.001 through sf0.1 on this random (worst-case,
    # clusterless) corpus — coarser configs lose true neighbors beyond
    # any shortlist depth once the corpus outgrows the codebooks
    return similarity.pq_topk(
        emb, k=10, m=16, n_codes=32, iters=4, shortlist=200
    )


def _split_fields_udtf_class():
    """Polymorphic Python UDTF (Spark 4 ``analyze``): output schema is
    computed FROM THE ARGUMENTS at plan time — ``split_fields(text, n)``
    returns n string columns f0..f{n-1}. The dynamic-schema table
    function is the modern form of schema-on-read field extraction."""
    from pyspark.sql.functions import AnalyzeResult, udtf
    from pyspark.sql.types import StringType, StructType

    @udtf
    class SplitFields:
        @staticmethod
        def analyze(text, n):  # noqa: ANN001, ANN205 — UDTF contract
            schema = StructType()
            for i in range(n.value):
                schema = schema.add(f"f{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text, n):  # noqa: ANN001 — UDTF contract
            toks = (
                text.strip().lower().split()
                if text and text.strip()
                else []
            )
            padded = toks[: n] + [None] * max(0, n - len(toks))
            yield tuple(padded)

    return SplitFields


@register(
    "d51_polymorphic_udtf",
    "Polymorphic Python UDTF: the analyze() static method derives the "
    "output schema from the call's literal arguments at plan time "
    "(split_fields(text, 3) -> columns f0..f2) — dynamic-schema lateral "
    "extraction. The oracle recomputes the same leading-token extraction "
    "in SQL, validating the analyze/eval machinery end-to-end.",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CASE WHEN len(list_filter(toks, x -> x <> '')) >= 1
                    THEN toks[1] END AS f0,
               CASE WHEN len(toks) >= 2 THEN toks[2] END AS f1,
               CASE WHEN len(toks) >= 3 THEN toks[3] END AS f2
        FROM t
        ORDER BY doc_id
    """,
    category="text",
)
def d51_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("split_fields", _split_fields_udtf_class())
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_split_src"
    )
    return spark.sql(
        """
        SELECT doc_id, f0, f1, f2
        FROM documents_split_src, LATERAL split_fields(text, 3)
        ORDER BY doc_id
        """
    )


@register(
    "d52_tfidf_top_terms",
    "TF-IDF-style salient terms: term frequency per document x an "
    "integer-scaled inverse document frequency ((N+1)*1e6 div (df+1) — "
    "integer arithmetic, so the ranking is bit-identical across "
    "engines), top-3 terms per document with deterministic tie-breaks. "
    "One token explode feeds both the tf and df aggregates.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS token FROM documents
        ),
        tok_ne AS (SELECT * FROM tok WHERE token <> ''),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM tok_ne
            GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok_ne
            GROUP BY token
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token,
                   CAST(tf.tf * (((n.n_docs + 1) * 1000000) // (df.df + 1))
                        AS BIGINT) AS score
            FROM tf JOIN df USING (token) CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, token, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, token) AS rk
            FROM scored
        )
        SELECT doc_id, token, score, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= 3
        ORDER BY doc_id, rk
    """,
    category="text",
)
def d52_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * F.expr("((n_docs + 1) * 1000000) div (df + 1)")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "score", "rk")
        .orderBy("doc_id", "rk")
    )


@register(
    "m38_encode_then_search",
    "Model-inference pipeline composition: documents -> mapInPandas "
    "batch 'encoder' (deterministic digest stub standing in for a model "
    "forward pass — same Arrow batch shape, schema, and partitioning a "
    "real encoder uses) -> exact cosine top-k over the GENERATED "
    "embeddings. The oracle regenerates the same embeddings from "
    "md5-hex ASCII codes in SQL, so the entire encode->search pipeline "
    "is hash-compared (operators/multimodal.encode_text_stub).",
    oracle="""
        WITH e AS (
            SELECT doc_id,
                   list_transform(range(1, 17),
                       j -> CAST(ascii(substring(md5(COALESCE(text, '')), j, 1))
                            AS DOUBLE)) AS v
            FROM documents
        ),
        q AS (
            SELECT doc_id AS qid, v AS qv FROM e ORDER BY doc_id LIMIT 1
        )
        SELECT qid AS query_id,
               e.doc_id AS neighbor_id,
               ROUND(list_cosine_similarity(e.v, qv), 6) AS cosine_sim
        FROM e CROSS JOIN q
        WHERE e.doc_id != qid
        ORDER BY cosine_sim DESC, neighbor_id
        LIMIT 10
    """,
    category="multimodal",
)
def m38_encode_then_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = multimodal.encode_text_stub(docs, dims=16)
    return similarity.brute_force_topk(
        emb, k=10, id_col="doc_id", vec_col="embedding"
    )


@register(
    "d53_curation_pipeline",
    "The END-TO-END corpus curation chain as one verified composition: "
    "token-length gate -> exact dedup (keep lowest id per normalized "
    "fingerprint) -> MinHash-LSH near-dup removal (exact-Jaccard "
    "verified, drop the higher id of each pair) -> temperature mixture "
    "sampling on the post-dedup counts -> per-language corpus stats. "
    "Every stage decision is md5/integer-deterministic, so the oracle "
    "replays the WHOLE pipeline in SQL and the final stats hash-match "
    "(operators/corpus.curate_corpus).",
    oracle=f"""
        WITH gated AS (
            SELECT * FROM documents WHERE {SQL_NTOKS} >= 5
        ),
        ed AS (
            SELECT MIN(doc_id) AS keep_id FROM gated
            GROUP BY md5({SQL_NORM})
        ),
        d1 AS (SELECT g.* FROM gated g JOIN ed ON g.doc_id = ed.keep_id),
        t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM d1),
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
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE {JACCARD_COND}
        ),
        nd AS (SELECT DISTINCT doc_b FROM pairs),
        d2 AS (
            SELECT d1.* FROM d1 LEFT JOIN nd ON d1.doc_id = nd.doc_b
            WHERE nd.doc_b IS NULL
        ),
        cnt AS (SELECT lang, COUNT(*) AS c FROM d2 GROUP BY lang),
        tot AS (SELECT SUM(c) AS tt, SUM(pow(c, 0.5)) AS z FROM cnt),
        rates AS (
            SELECT lang, least(1.0, 0.5 * tt * pow(c, 0.5) / z / c) AS rate
            FROM cnt CROSS JOIN tot
        ),
        d3 AS (
            SELECT d2.* FROM d2 JOIN rates r ON d2.lang = r.lang
            WHERE r.rate >= 1.0
               OR substring(md5(d2.lang || ':' || d2.doc_id), 1, 8)
                  < lower(lpad(to_hex(
                        CAST(floor(r.rate * 4294967296.0) AS BIGINT)),
                        8, '0'))
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM({SQL_NTOKS}) AS BIGINT) AS n_tokens
        FROM d3 GROUP BY lang ORDER BY lang
    """,
    bench=True,
    category="dedup",
)
def d53_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.corpus import corpus_stats, curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    curated = curate_corpus(
        docs,
        min_tokens=5,
        threshold=0.6,
        num_hashes=16,
        bands=4,
        n=3,
        alpha=0.5,
        keep_fraction=0.5,
    )
    return corpus_stats(curated)


@register(
    "d54_crypto_fingerprints",
    "Cryptographic content addressing: md5 and sha256 digests per "
    "document plus a stable 16-hex-char shard key (the content-hash "
    "layout key for dedup-aware storage) — digest parity verified "
    "against DuckDB's implementations.",
    oracle="""
        SELECT doc_id,
               md5(text) AS md5_hex,
               sha256(text) AS sha256_hex,
               substring(md5(text), 1, 2) AS shard
        FROM documents
        ORDER BY doc_id
    """,
    category="text",
)
def d54_crypto_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("md5_hex"),
        F.sha2("text", 256).alias("sha256_hex"),
        F.substring(F.md5("text"), 1, 2).alias("shard"),
    ).orderBy("doc_id")


@register(
    "d55_incremental_neardup",
    "Incremental near-dup maintenance: a new-document batch (doc_id % 5 "
    "== 0) probed against the EXISTING corpus's stored LSH index — the "
    "existing text is never re-read; signatures are per-document, so "
    "incremental == full recompute restricted to pairs involving a new "
    "doc, which is exactly what the oracle computes from scratch "
    "(operators/dedup.incremental_minhash_pairs).",
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
    bench=True,
    category="dedup",
)
def d55_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    return dedup.incremental_minhash_pairs(
        existing, new, threshold=0.6, num_hashes=16, bands=4, n=3
    )


@register(
    "d56_text_chunking",
    "Overlapping token-window chunking (64-token chunks, 16-token "
    "overlap) — the RAG/context-window preparation op: chunk starts "
    "step by 48 tokens, the tail chunk keeps the remainder, every "
    "token lands in >= 1 chunk. Pure HOF arithmetic over one bound "
    "token array per row (operators/text.chunk_text).",
    oracle=f"""
        WITH t AS (
            -- SQL_TOKS (see s56): raw split on tab/newline-padded text
            -- grows a phantom '' token; len(toks) > 0 == the engine's
            -- size(_toks) > 0 precondition
            SELECT doc_id, {SQL_TOKS} AS toks FROM documents
        ),
        tne AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
        s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0,
                       greatest(0, CAST(ceil((len(toks) - 64) / 48.0)
                                   AS INT)) * 48, 48)) AS start_token
            FROM tne
        )
        SELECT doc_id,
               CAST(start_token // 48 AS INT) AS chunk_id,
               CAST(start_token AS INT) AS start_token,
               CAST(len(list_slice(toks, start_token + 1,
                    start_token + 64)) AS INT) AS n_tokens,
               array_to_string(list_slice(toks, start_token + 1,
                    start_token + 64), ' ') AS chunk_text
        FROM s
        ORDER BY doc_id, chunk_id
    """,
    category="text",
)
def d56_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_text(
        docs, chunk_tokens=64, overlap_tokens=16
    ).orderBy("doc_id", "chunk_id")


@register(
    "d57_url_dedup",
    "URL canonicalization + dedup — the web-crawl front door (fetch "
    "variants of one resource collapse BEFORE content dedup): messy "
    "URLs (fragment, utm_*/ref tracking params, mixed-case scheme and "
    "host) are derived deterministically from doc fields, canonicalized "
    "with operators/text.canonicalize_url (built-in regexp chain, "
    "engine-portable), and grouped — one row per canonical resource "
    "with fetch count and winning (min) doc_id. The oracle replays the "
    "identical normalization in DuckDB.",
    oracle="""
        WITH messy AS (
            SELECT doc_id,
                   'HTTPS://' || upper(source) || '.Example.COM/item/'
                   || CAST(doc_id % 40 AS VARCHAR)
                   || '?utm_source=feed&id=' || CAST(doc_id % 40 AS VARCHAR)
                   || CASE WHEN doc_id % 2 = 0
                           THEN '&ref=tw#sec' || CAST(doc_id AS VARCHAR)
                           ELSE '' END AS url
            FROM documents
        ),
        canon AS (
            SELECT doc_id,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(url, '#.*$', '')
                           , '[?&](utm_[^&=]*|ref|fbclid|gclid)=[^&]*',
                             '', 'g')
                         , '^([^?&]*)&', '\\1?')
                       , '\\?$', '')
                     , '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)',
                       lower(regexp_extract(url,
                         '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)', 1))
                   ) AS canonical_url
            FROM messy
        )
        SELECT canonical_url,
               COUNT(*) AS n_fetches,
               MIN(doc_id) AS keep_doc
        FROM canon
        GROUP BY canonical_url
        ORDER BY canonical_url
    """,
    category="text",
)
def d57_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.text import canonicalize_url

    docs = load_table(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://"),
            F.upper("source"),
            F.lit(".Example.COM/item/"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 40).cast("string"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit("&ref=tw#sec"), F.col("doc_id").cast("string")
                ),
            ).otherwise(F.lit("")),
        ).alias("url"),
    )
    return (
        messy.select(
            "doc_id", canonicalize_url("url").alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_fetches"),
            F.min("doc_id").alias("keep_doc"),
        )
        .orderBy("canonical_url")
    )


@register(
    "d58_keep_best_per_cluster",
    "The dedup DECISION: near-dup clusters (exact Jaccard J>=0.6, "
    "connected components) collapse to their best member by score "
    "(n_chars here; quality score in production), ties to the smallest "
    "doc_id; unpaired documents survive as singletons. One row per "
    "cluster (operators/dedup.keep_best_per_cluster). Oracle: the d31 "
    "recursive-CTE closure + a windowed argmax.",
    oracle=f"""
        WITH RECURSIVE
        t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE {JACCARD_COND}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk AS (
            SELECT src AS node, src AS reach FROM edges
            UNION
            SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
        ),
        clusters AS (
            SELECT node AS doc_id, MIN(reach) AS cluster_id
            FROM walk GROUP BY node
        ),
        labeled AS (
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
                   d.n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY COALESCE(c.cluster_id, d.doc_id)
                       ORDER BY d.n_chars DESC, d.doc_id
                   ) AS rn
            FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
        )
        SELECT cluster_id,
               MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
               COUNT(*) AS n_members,
               MAX(n_chars) AS best_score
        FROM labeled
        GROUP BY cluster_id
        ORDER BY cluster_id
    """,
    category="dedup",
)
def d58_keep_best_per_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.6, n=3)
    return dedup.keep_best_per_cluster(
        docs, pairs, score_col="n_chars"
    ).orderBy("cluster_id")


@register(
    "d59_mixture_weights",
    "Explicit domain-mixing spec (the training-run mixture: 2 parts en, "
    "1 part each de/es/fr/zh): per-stratum rates realize the target "
    "proportions at the largest size feasible without oversampling "
    "(binding stratum keeps ~all rows), applied as the deterministic "
    "md5-threshold filter (operators/sampling.mixture_sample). The "
    "oracle recomputes the identical rate arithmetic in SQL.",
    oracle="""
        WITH cnt AS (
            SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
        ),
        w(lang, wt) AS (
            VALUES ('de', 1.0), ('en', 2.0), ('es', 1.0),
                   ('fr', 1.0), ('zh', 1.0)
        ),
        z AS (SELECT SUM(wt) AS z FROM w),
        props AS (
            SELECT w.lang, w.wt / z.z AS p FROM w CROSS JOIN z
        ),
        nmax AS (
            SELECT MIN(c / p) AS nm
            FROM cnt JOIN props ON cnt.lang = props.lang
        ),
        rates AS (
            SELECT cnt.lang, least(1.0, p * nm / c) AS rate
            FROM cnt JOIN props ON cnt.lang = props.lang CROSS JOIN nmax
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN rates r ON d.lang = r.lang
        WHERE r.rate >= 1.0
           OR substring(md5(d.lang || ':' || d.doc_id), 1, 8)
              < lower(lpad(to_hex(
                    CAST(floor(r.rate * 4294967296.0) AS BIGINT)), 8, '0'))
        ORDER BY d.doc_id
    """,
    category="text",
)
def d59_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    weights = {"de": 1.0, "en": 2.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    return (
        mixture_sample(docs, weights, stratum_col="lang")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "d60_leakage_safe_split",
    "Leakage-safe train/val split: the 80/20 assignment is decided per "
    "near-dup CLUSTER (exact-Jaccard components; singletons = own "
    "cluster), so near-duplicate documents can never straddle the "
    "boundary — the eval-contamination guard row-level random splits "
    "violate (operators/dedup.leakage_safe_split). Oracle: the d31 "
    "recursive-CTE closure + the same md5-threshold split rule.",
    oracle=f"""
        WITH RECURSIVE
        t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ),
        pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE {JACCARD_COND}
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk AS (
            SELECT src AS node, src AS reach FROM edges
            UNION
            SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
        ),
        clusters AS (
            SELECT node AS doc_id, MIN(reach) AS cluster_id
            FROM walk GROUP BY node
        )
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               CASE WHEN substring(md5('split:' ||
                        CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)),
                        1, 8)
                         < lower(lpad(to_hex(CAST(floor(0.8 * 4294967296.0)
                                     AS BIGINT)), 8, '0'))
                    THEN 'train' ELSE 'val' END AS split
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
        ORDER BY d.doc_id
    """,
    category="dedup",
)
def d60_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.6, n=3)
    return dedup.leakage_safe_split(
        docs, pairs, train_fraction=0.8
    ).orderBy("doc_id")


@register(
    "d61_column_profile",
    "One-pass column profiler — the ingest-time data-profiling scan "
    "(null counts, exact distinct cardinality, typed min/max per "
    "column) emitted long-form via stack(): Spark plans the multi-"
    "distinct aggregate as one Expand pass over the data, not one scan "
    "per column. Floats profile as exact cents, dates/strings as "
    "strings, so every cell is hash-comparable across engines.",
    oracle="""
        WITH c AS (
            SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
                   CAST(l_quantity AS BIGINT) AS qty,
                   CAST(l_shipdate AS VARCHAR) AS ship,
                   l_returnflag AS flag
            FROM lineitem
        )
        SELECT 'l_extendedprice_cents' AS column_name,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN cents IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               COUNT(DISTINCT cents) AS n_distinct,
               CAST(MIN(cents) AS VARCHAR) AS min_val,
               CAST(MAX(cents) AS VARCHAR) AS max_val
        FROM c
        UNION ALL
        SELECT 'l_quantity', COUNT(*),
               CAST(SUM(CASE WHEN qty IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT qty),
               CAST(MIN(qty) AS VARCHAR), CAST(MAX(qty) AS VARCHAR)
        FROM c
        UNION ALL
        SELECT 'l_returnflag', COUNT(*),
               CAST(SUM(CASE WHEN flag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT flag), MIN(flag), MAX(flag)
        FROM c
        UNION ALL
        SELECT 'l_shipdate', COUNT(*),
               CAST(SUM(CASE WHEN ship IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT ship), MIN(ship), MAX(ship)
        FROM c
        ORDER BY column_name
    """,
    category="quality",
)
def d61_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    c = lineitem.select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.col("l_shipdate").cast("string").alias("ship"),
        F.col("l_returnflag").alias("flag"),
    )

    def stats(col: str):
        return [
            F.count("*").alias(f"{col}__n_rows"),
            F.sum(
                F.when(F.col(col).isNull(), 1).otherwise(0)
            ).alias(f"{col}__n_nulls"),
            F.countDistinct(col).alias(f"{col}__n_distinct"),
            F.min(col).cast("string").alias(f"{col}__min"),
            F.max(col).cast("string").alias(f"{col}__max"),
        ]

    names = {
        "cents": "l_extendedprice_cents",
        "qty": "l_quantity",
        "flag": "l_returnflag",
        "ship": "l_shipdate",
    }
    wide = c.agg(
        *[s for col in names for s in stats(col)]
    )
    stack_args = ", ".join(
        f"'{label}', {col}__n_rows, {col}__n_nulls, {col}__n_distinct, "
        f"{col}__min, {col}__max"
        for col, label in names.items()
    )
    return wide.selectExpr(
        f"stack({len(names)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
    ).orderBy("column_name")


@register(
    "d62_line_dedup",
    "Corpus-level exact line dedup (the C4/RefinedWeb boilerplate pass): "
    "documents explode into 10-token lines, a line survives only at its "
    "global first occurrence (min (doc_id, line_idx) per line hash), and "
    "each document reports kept/dropped counts plus the md5 fingerprint "
    "of its cleaned text (operators/dedup.line_dedup). First occurrences "
    "come from a groupBy(line_hash).min(struct) aggregate — partial "
    "aggregation absorbs corpus-scale hot boilerplate lines map-side "
    "(no Window over a content hash anywhere in the plan; plan-linted). "
    "Shuffles narrow (digest, ids) rows only — never the text itself.",
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
        ranked AS (
            SELECT doc_id, line_idx, line_text,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(line_text)
                       ORDER BY doc_id, line_idx
                   ) AS rk
            FROM lines
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_lines,
               CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dropped_lines,
               md5(COALESCE(string_agg(
                   CASE WHEN rk = 1 THEN line_text END, chr(10)
                   ORDER BY line_idx), '')) AS cleaned_fp
        FROM ranked
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    category="dedup",
    bench=True,
)
def d62_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.line_dedup(docs, line_tokens=10)


@register(
    "d63_bloom_contamination",
    "Bloom-filter contamination probe, realized relationally so the "
    "filter's BITS are oracle-checkable data: benchmark head "
    "fingerprints (md5 of the first 4 tokens, source='src0' — the key "
    "that catches shared document openings) hash to k=3 md5-derived "
    "bit positions; the distinct-position table (≤ k·|benchmark| rows, "
    "corpus-size-independent) BROADCASTS onto the corpus probe, which "
    "flags a doc when all 3 positions are set. The bit space is sized "
    "SMALL here (16², vs the 16^5 production default) so true hits, "
    "false positives, AND true negatives all occur at test scale — "
    "bloom_hit is externally hash-verified across all three classes, "
    "plus exact membership and the no-false-negative certificate "
    "(operators/dedup.bloom_build/bloom_probe).",
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
            SELECT doc_id,
                   md5(COALESCE(array_to_string(
                       list_filter(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+'), zz_tok -> zz_tok <> '')[1:4], ' '), '')) AS fp
            FROM documents WHERE source <> 'src0'
        ),
        probe AS (
            SELECT c.doc_id,
                   substr(md5(CAST(i AS VARCHAR) || ':' || fp), 1, 2)
                       AS pos
            FROM c, LATERAL (SELECT unnest(range(3)) AS i) g
        ),
        hits AS (
            SELECT doc_id, COUNT(*) AS n_set
            FROM probe JOIN pos USING (pos)
            GROUP BY doc_id
        )
        SELECT c.doc_id,
               COALESCE(h.n_set = 3, FALSE) AS bloom_hit,
               (c.fp IN (SELECT fp FROM b)) AS exact_member,
               (COALESCE(h.n_set = 3, FALSE)
                OR c.fp NOT IN (SELECT fp FROM b)) AS no_false_negative
        FROM c LEFT JOIN hits h USING (doc_id)
        ORDER BY doc_id
    """,
    category="dedup",
)
def d63_bloom_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(F.slice(text.tokens("text"), 1, 4), " ")
    ).alias("fp")
    bench = docs.filter(F.col("source") == "src0").select(fp)
    corpus = docs.filter(F.col("source") != "src0").select("doc_id", fp)
    bloom = dedup.bloom_build(bench, "fp", k=3, prefix_len=2)
    probed = dedup.bloom_probe(corpus, bloom, "fp", k=3, prefix_len=2)
    member = bench.distinct().withColumn("exact_member", F.lit(True))
    return (
        probed.join(F.broadcast(member), "fp", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("exact_member", F.lit(False)).alias("exact_member"),
            (
                F.col("bloom_hit")
                | ~F.coalesce("exact_member", F.lit(False))
            ).alias("no_false_negative"),
        )
        .orderBy("doc_id")
    )


@register(
    "d64_host_frequency_cap",
    "Per-host frequency cap (web-corpus head-flattening): hosts derived "
    "deterministically from doc fields, each host keeps at most 10 "
    "documents chosen by md5 rank — a deterministic 'random' subset, "
    "not first-crawled bias (operators/sampling.host_frequency_cap). "
    "The exact window variant is registered; "
    "host_frequency_cap_approx is the no-sort 100 TB path "
    "(property-tested in-repo).",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   'www.' || lower(source) || '.example.com' AS host
            FROM documents
        ),
        r AS (
            SELECT doc_id, host,
                   ROW_NUMBER() OVER (
                       PARTITION BY host
                       ORDER BY md5(host || ':' || CAST(doc_id AS VARCHAR)),
                                doc_id
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY host) AS host_total
            FROM d
        )
        SELECT doc_id, host, host_total
        FROM r WHERE rk <= 10
        ORDER BY doc_id
    """,
    category="text",
)
def d64_host_frequency_cap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.operators.sampling import host_frequency_cap

    docs = load_table(spark, sf_dir, "documents")
    hosted = docs.select(
        "doc_id",
        F.concat(
            F.lit("www."), F.lower("source"), F.lit(".example.com")
        ).alias("host"),
    )
    return (
        host_frequency_cap(hosted, host_col="host", cap=10)
        .select("doc_id", "host", "host_total")
        .orderBy("doc_id")
    )


@register(
    "d65_unigram_rarity",
    "Unigram-LM quality proxy in exact integer arithmetic: corpus token "
    "counts (pass 1) score each document by summed rarity "
    "N // count(token) (pass 2) — ranks documents like a perplexity "
    "filter with zero float nondeterminism; threshold downstream by "
    "integer cross-multiplication (operators/text.unigram_rarity). "
    "Token join is Zipf-skewed by nature — the documented AQE-skew/"
    "broadcast-head case.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS tok FROM documents
        ),
        cnt AS (
            SELECT tok, COUNT(*) AS tok_count FROM t GROUP BY tok
        ),
        tot AS (SELECT COUNT(*) AS corpus_toks FROM t)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(corpus_toks // tok_count) AS BIGINT) AS rarity_sum
        FROM t JOIN cnt USING (tok) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    category="text",
)
def d65_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.unigram_rarity(docs).orderBy("doc_id")


@register(
    "d66_shard_manifest",
    "Deterministic training-shard assignment + write-side manifest: "
    "shard = md5-derived hex digit (16 uniform shards, reproducible "
    "across engines/runs/cluster layouts), manifest rows carry per-shard "
    "doc count, char volume, id range, and an order-sensitive id "
    "fingerprint — the audit record that makes a training run's data "
    "order provable (operators/sampling.shard_assign + "
    "sources/writers.write_training_shards).",
    oracle="""
        WITH s AS (
            SELECT doc_id, n_chars,
                   substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)
                       AS shard
            FROM documents
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MIN(doc_id) AS min_doc,
               MAX(doc_id) AS max_doc,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                   ORDER BY doc_id)) AS ids_fp
        FROM s
        GROUP BY shard
        ORDER BY shard
    """,
    category="text",
)
def d66_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.sampling import shard_assign

    docs = load_table(spark, sf_dir, "documents")
    sharded = shard_assign(docs.select("doc_id", "n_chars"), hex_digits=1)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("ids_fp"),
        )
        .orderBy("shard")
    )


@register(
    "d67_export_pipeline",
    "The publish half of the corpus lifecycle, end-to-end: quality gate "
    "(>= 5 tokens) -> exact dedup keep-first -> per-host frequency cap "
    "(15, md5-rank survivors) -> deterministic shard assignment -> "
    "per-shard export manifest (doc count, char volume, id-order "
    "fingerprint). Composes the verified pieces the way "
    "write_training_shards consumes them; the oracle replays every "
    "stage decision in SQL, so the manifest a training run would consume "
    "is hash-verified end-to-end. Complements d53 (the near-dup-heavy "
    "curation half).",
    oracle=f"""
        WITH gated AS (
            SELECT doc_id, source, n_chars,
                   md5({SQL_NORM}) AS fp
            FROM documents
            WHERE len({SQL_TOKS}) >= 5
        ),
        keepers AS (
            SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY fp
        ),
        hosted AS (
            SELECT g.doc_id, g.n_chars,
                   'www.' || lower(g.source) || '.example.com' AS host
            FROM gated g JOIN keepers USING (doc_id)
        ),
        capped AS (
            SELECT doc_id, n_chars FROM (
                SELECT doc_id, n_chars,
                       ROW_NUMBER() OVER (
                           PARTITION BY host
                           ORDER BY md5(host || ':'
                                        || CAST(doc_id AS VARCHAR)),
                                    doc_id
                       ) AS rk
                FROM hosted
            ) WHERE rk <= 15
        ),
        sharded AS (
            SELECT doc_id, n_chars,
                   substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)
                       AS shard
            FROM capped
        )
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               md5(string_agg(CAST(doc_id AS VARCHAR), ','
                   ORDER BY doc_id)) AS ids_fp
        FROM sharded
        GROUP BY shard
        ORDER BY shard
    """,
    category="text",
)
def d67_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.sampling import (
        host_frequency_cap,
        shard_assign,
    )

    docs = load_table(spark, sf_dir, "documents")
    gated = docs.filter(text.token_count("text") >= 5)
    keepers = dedup.exact_dedup(gated).select(
        F.col("keep_id").alias("doc_id")
    )
    deduped = gated.join(keepers, "doc_id", "left_semi")
    hosted = deduped.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("www."), F.lower("source"), F.lit(".example.com")
        ).alias("host"),
    )
    capped = host_frequency_cap(hosted, cap=15).select("doc_id", "n_chars")
    sharded = shard_assign(capped, hex_digits=1)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("ids_fp"),
        )
        .orderBy("shard")
    )


@register(
    "s43_knn_graph",
    "k-NN graph construction (top-3 cosine neighbors for EVERY vector), "
    "blocked by the label column standing in for an IVF cell / LSH "
    "bucket: one equi-self-join on the block key bounds the pair space "
    "to Σ block² — the blocked recipe behind embedding dedup clusters "
    "and semantic-graph builds; never a corpus² cross join "
    "(operators/similarity.knn_graph_blocked).",
    oracle="""
        WITH e AS (
            SELECT vec_id, label,
                   CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        pairs AS (
            -- zero-norm guard: DuckDB's list_cosine_similarity is -1.0
            -- for a zero vector; Spark's dot/(na*nb) is NULL (sorts
            -- last under DESC on both engines)
            SELECT a.vec_id,
                   b.vec_id AS neighbor_id,
                   CASE WHEN list_aggregate(
                            list_transform(a.v, x -> x*x), 'sum') = 0
                         OR list_aggregate(
                            list_transform(b.v, x -> x*x), 'sum') = 0
                        THEN NULL
                        ELSE ROUND(list_cosine_similarity(a.v, b.v), 6)
                   END AS cosine_sim
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id != b.vec_id
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY cosine_sim DESC, neighbor_id
                   ) AS rk
            FROM pairs
        )
        SELECT vec_id, neighbor_id, cosine_sim, CAST(rk AS INTEGER) AS rk
        FROM ranked WHERE rk <= 3
        ORDER BY vec_id, rk
    """,
    category="similarity",
)
def s43_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.knn_graph_blocked(emb, block_col="label", k=3)
        .withColumn("rk", F.col("rk").cast("int"))
        .orderBy("vec_id", "rk")
    )


@register(
    "d68_vocab_coverage",
    "Vocabulary coverage curve (tokenizer sizing): corpus token counts "
    "ranked by frequency, with cumulative counts and integer-permille "
    "coverage at each rank — how much of the corpus the top-k vocabulary "
    "explains. The corpus sees one partial-aggregated count pass; the "
    "top 20 terms are taken FIRST (TakeOrderedAndProject — a per-"
    "partition heap, never a global sort), and rank/cum_count are "
    "windowed over those 20 rows only. A running sum over ranks 1..k "
    "touches only rows of rank < k, so restricting the window to the "
    "top-k rows is exact — the 100M-term vocabulary never crosses one "
    "task.",
    oracle=f"""
        WITH t AS (
            SELECT unnest({SQL_TOKS}) AS tok FROM documents
        ),
        cnt AS (SELECT tok, COUNT(*) AS tok_count FROM t GROUP BY tok),
        tot AS (SELECT COUNT(*) AS corpus_toks FROM t),
        ranked AS (
            SELECT tok, tok_count,
                   ROW_NUMBER() OVER (
                       ORDER BY tok_count DESC, tok) AS rank,
                   SUM(tok_count) OVER (
                       ORDER BY tok_count DESC, tok
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_count
            FROM cnt
        )
        SELECT CAST(rank AS BIGINT) AS rank, tok,
               CAST(tok_count AS BIGINT) AS tok_count,
               CAST(cum_count AS BIGINT) AS cum_count,
               CAST(cum_count * 1000 // corpus_toks AS BIGINT)
                   AS coverage_permille
        FROM ranked CROSS JOIN tot
        WHERE rank <= 20
        ORDER BY rank
    """,
    category="text",
)
def d68_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("tok"))
    cnt = toks.groupBy("tok").agg(F.count("*").alias("tok_count"))
    # fold the total from the vocab-sized aggregate, not a second scan
    total = cnt.agg(F.sum("tok_count").alias("corpus_toks"))
    # top-20 FIRST: orderBy().limit() plans TakeOrderedAndProject (a
    # per-partition heap + 20-row merge). Ranking the 20 survivors is
    # exact because a rank-k running sum only reads rows ranked < k.
    top = cnt.orderBy(F.desc("tok_count"), F.asc("tok")).limit(20)
    w = Window.orderBy(F.desc("tok_count"), F.asc("tok"))
    ranked = top.select(
        "tok",
        "tok_count",
        F.row_number().over(w).alias("rank"),
        F.sum("tok_count")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_count"),
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "tok",
            "tok_count",
            "cum_count",
            F.expr("cum_count * 1000 div corpus_toks").alias(
                "coverage_permille"
            ),
        )
        .orderBy("rank")
    )


@register(
    "d69_domain_shift",
    "Domain-shift profile (mixture drift monitor): per-source L1 "
    "distance between the source's token distribution and the corpus "
    "distribution, in integer permille (each share is an exact "
    "integer-division permille, so the statistic is engine-portable "
    "with zero float folds). Sources whose text diverges from the "
    "mixture surface to the top — the cheap continuous check that a "
    "new crawl snapshot hasn't shifted the training mixture. One "
    "(source, token) count pass; everything downstream is vocab-sized.",
    oracle=f"""
        WITH t AS (
            SELECT source, unnest({SQL_TOKS}) AS tok FROM documents
        ),
        st AS (
            SELECT source, tok, COUNT(*) AS n FROM t GROUP BY source, tok
        ),
        src_tot AS (
            SELECT source, SUM(n) AS t_src FROM st GROUP BY source
        ),
        tok_tot AS (
            SELECT tok, SUM(n) AS t_tok FROM st GROUP BY tok
        ),
        tot AS (SELECT COUNT(*) AS t_all FROM t)
        SELECT st.source,
               CAST(COUNT(*) AS BIGINT) AS n_shared_tokens,
               CAST(SUM(ABS(st.n * 1000 // s.t_src
                            - tt.t_tok * 1000 // tot.t_all))
                    AS BIGINT) AS l1_permille
        FROM st
        JOIN src_tot s USING (source)
        JOIN tok_tot tt USING (tok)
        CROSS JOIN tot
        GROUP BY st.source
        ORDER BY st.source
    """,
    category="text",
)
def d69_domain_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(text.tokens("text")).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").alias("n"))
    # the corpus total rides a whole-table window over the SOURCE-
    # cardinality aggregate (#sources rows — a mixture has dozens of
    # sources at ANY corpus size; plan-lint allowlists the window on
    # that key-domain argument) — never over the vocab-sized tok_tot
    # (100M+ rows through one task at corpus scale), and never via a
    # forked .agg() branch (a fork of src_tot re-derives the corpus
    # token-count pass when column pruning defeats exchange reuse)
    src_tot = (
        st.groupBy("source")
        .agg(F.sum("n").alias("t_src"))
        .withColumn("t_all", F.sum("t_src").over(Window.partitionBy()))
    )
    tok_tot = st.groupBy("tok").agg(F.sum("n").alias("t_tok"))
    return (
        st.join(src_tot, "source")
        .join(tok_tot, "tok")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_shared_tokens"),
            F.sum(
                F.abs(
                    F.expr("n * 1000 div t_src")
                    - F.expr("t_tok * 1000 div t_all")
                )
            ).alias("l1_permille"),
        )
        .orderBy("source")
    )


@register(
    "s44_semantic_dedup_clusters",
    "SemDeDup-style semantic dedup decision: embedding-cosine near-dup "
    "pairs (cos >= 0.4) -> transitive clusters via the same iterative "
    "min-label propagation as the text path (operators/dedup."
    "dedup_clusters over operators/similarity.cosine_near_dup_pairs) -> "
    "keep exactly the cluster representative (min vec_id). The decision "
    "table for dropping semantically-redundant training examples; the "
    "oracle recomputes the transitive closure with a recursive CTE.",
    oracle="""
        WITH RECURSIVE
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        walk AS (
            SELECT src AS node, src AS reach FROM edges
            UNION
            SELECT w.node, e2.dst FROM walk w JOIN edges e2
              ON e2.src = w.reach
        )
        SELECT node AS vec_id, MIN(reach) AS cluster_id,
               (node = MIN(reach)) AS keep
        FROM walk
        GROUP BY node
        ORDER BY vec_id
    """,
    category="similarity",
)
def s44_semantic_dedup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = (
        similarity.cosine_near_dup_pairs(emb, threshold=0.4)
        .select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
    )
    clusters = dedup.dedup_clusters(pairs)
    return (
        clusters.select(
            F.col("doc_id").alias("vec_id"),
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        .orderBy("vec_id")
    )


#: Channel sums of the md5-derived 24-byte RGB raster (byte k of
#: digest+digest[:8] is channel k%3 in row-major order) from pure hex
#: arithmetic — shared by m40 (PPM codec round trip) and m42 (PNG codec
#: round trip): both decoders' byte-exact output must match it.
MD5_RGB24_CHANNEL_SUMS_ORACLE = """
        WITH h AS (SELECT doc_id, md5(COALESCE(text, '')) AS hx
                   FROM documents),
        b AS (
            SELECT doc_id,
                   list_transform(
                       [0, 3, 6, 9, 12, 15, 2, 5],
                       o -> 16 * (strpos('0123456789abcdef',
                                         substr(hx, 2 * o + 1, 1)) - 1)
                            + (strpos('0123456789abcdef',
                                      substr(hx, 2 * o + 2, 1)) - 1)
                   ) AS r_vals,
                   list_transform(
                       [1, 4, 7, 10, 13, 0, 3, 6],
                       o -> 16 * (strpos('0123456789abcdef',
                                         substr(hx, 2 * o + 1, 1)) - 1)
                            + (strpos('0123456789abcdef',
                                      substr(hx, 2 * o + 2, 1)) - 1)
                   ) AS g_vals,
                   list_transform(
                       [2, 5, 8, 11, 14, 1, 4, 7],
                       o -> 16 * (strpos('0123456789abcdef',
                                         substr(hx, 2 * o + 1, 1)) - 1)
                            + (strpos('0123456789abcdef',
                                      substr(hx, 2 * o + 2, 1)) - 1)
                   ) AS b_vals
            FROM h
        )
        SELECT doc_id,
               CAST(list_sum(r_vals) AS BIGINT) AS r_sum,
               CAST(list_sum(g_vals) AS BIGINT) AS g_sum,
               CAST(list_sum(b_vals) AS BIGINT) AS b_sum,
               CAST(list_sum(r_vals) + list_sum(g_vals)
                    + list_sum(b_vals) AS BIGINT) AS brightness
        FROM b
        ORDER BY doc_id
    """


@register(
    "m40_channel_stats",
    "Decode -> feature-extract, the multimodal pipeline hot path, "
    "through the REAL codec: each document's 4x2 P6 PPM (built from its "
    "md5 bytes as in m39) is decoded by the actual numpy PPM parser and "
    "reduced to per-channel integer sums + brightness inside the Arrow "
    "batch. The raster layout maps channel c of pixel (i,j) to digest "
    "byte (12i + 3j + c) mod-wrapped into the 16-byte digest, so DuckDB "
    "re-derives every channel sum from pure hex arithmetic — the "
    "decoder's byte-exact output is externally verified, not just its "
    "shape.",
    oracle=MD5_RGB24_CHANNEL_SUMS_ORACLE,
    category="multimodal",
)
def m40_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                d = hashlib.md5((t or "").encode()).digest()
                arr = np.frombuffer(d + d[:8], dtype=np.uint8).reshape(
                    2, 4, 3
                )
                # round-trip through the real codec: encode, decode, sum
                decoded = multimodal.decode_ppm(
                    multimodal.encode_ppm(arr)
                )
                sums = decoded.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    (doc_id, int(sums[0]), int(sums[1]), int(sums[2]))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "r_sum", "g_sum", "b_sum"]
            )

    return (
        docs.mapInPandas(
            stats, "doc_id long, r_sum long, g_sum long, b_sum long"
        )
        .withColumn(
            "brightness",
            F.col("r_sum") + F.col("g_sum") + F.col("b_sum"),
        )
        .orderBy("doc_id")
    )


@register(
    "m42_png_channel_stats",
    "Decode -> feature-extract through the REAL COMPRESSED codec: each "
    "document's md5-derived 8x1 RGB raster (byte k of digest+digest[:8] "
    "is channel k%3 — the same 24 bytes as m40) is encoded as an actual "
    "PNG (DEFLATE + cycling scanline filters, so rows exercise all "
    "five: None/Sub/Up/Average/Paeth), decoded back by the stdlib-zlib "
    "+ numpy PNG parser (operators/multimodal.decode_png), and reduced "
    "to per-channel sums inside the Arrow batch. DuckDB re-derives the "
    "sums from pure hex arithmetic, so the inflate+unfilter pipeline's "
    "byte-exact output is externally verified.",
    oracle=MD5_RGB24_CHANNEL_SUMS_ORACLE,
    category="multimodal",
)
def m42_png_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                d = hashlib.md5((t or "").encode()).digest()
                arr = np.frombuffer(d + d[:8], dtype=np.uint8).reshape(
                    8, 1, 3
                )
                # round-trip through the real compressed codec: DEFLATE
                # + all five filters forward, inflate + unfilter back
                decoded = multimodal.decode_media(
                    multimodal.encode_png(arr, filter_mode="cycle"),
                    "png",
                )
                sums = decoded.astype(np.int64).sum(axis=(0, 1))
                rows.append(
                    (doc_id, int(sums[0]), int(sums[1]), int(sums[2]))
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "r_sum", "g_sum", "b_sum"]
            )

    return (
        docs.mapInPandas(
            stats, "doc_id long, r_sum long, g_sum long, b_sum long"
        )
        .withColumn(
            "brightness",
            F.col("r_sum") + F.col("g_sum") + F.col("b_sum"),
        )
        .orderBy("doc_id")
    )


@register(
    "m43_jpeg_block_stats",
    "Decode -> feature-extract through the REAL BASELINE-JPEG codec: "
    "each document's md5 digest becomes a 16x64 grayscale image of 16 "
    "FLAT 8x8 blocks (block k = digest byte k), encoded as an actual "
    "baseline sequential JPEG (FDCT, quantization, custom huffman "
    "tables, restart markers every 3 MCUs) and decoded back by the "
    "stdlib+numpy parser (operators/multimodal.decode_jpeg: Annex-C "
    "huffman rebuild, entropy decode with RST sync, dequant, "
    "orthonormal IDCT). Flat blocks are DC-only and the unit-quant DC "
    "path is EXACT by construction (DC of a flat block is 8(v-128), "
    "integral; a DC-only IDCT is exactly flat), so DuckDB re-derives "
    "the block values from pure hex arithmetic and byte-exactly "
    "verifies the full marker/huffman/RST/IDCT pipeline. The lossy "
    "AC/chroma paths are bounded-error property-tested "
    "(tests/test_properties.py).",
    oracle="""
        WITH h AS (SELECT doc_id, md5(COALESCE(text, '')) AS hx
                   FROM documents),
        b AS (
            SELECT doc_id,
                   list_transform(
                       range(16),
                       o -> 16 * (strpos('0123456789abcdef',
                                         substr(hx, 2 * o + 1, 1)) - 1)
                            + (strpos('0123456789abcdef',
                                      substr(hx, 2 * o + 2, 1)) - 1)
                   ) AS vals
            FROM h
        )
        SELECT doc_id,
               CAST(list_sum(vals) AS BIGINT) AS v_sum,
               CAST(list_sum(list_transform(
                   range(16), i -> (i + 1) * vals[i + 1]
               )) AS BIGINT) AS v_wsum,
               CAST(list_min(vals) AS BIGINT) AS v_min,
               CAST(list_max(vals) AS BIGINT) AS v_max
        FROM b
        ORDER BY doc_id
    """,
    category="multimodal",
)
def m43_jpeg_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                d = hashlib.md5((t or "").encode()).digest()
                # 2x8 grid of flat 8x8 blocks, block k = digest byte k
                vals = np.frombuffer(d, dtype=np.uint8).reshape(2, 8)
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                decoded = multimodal.decode_media(
                    multimodal.encode_jpeg(img, restart_interval=3),
                    "jpeg",
                )
                # every decoded block must be EXACTLY flat — fail loudly
                # if the IDCT/entropy path smeared anything
                blocks = decoded.reshape(2, 8, 8, 8).swapaxes(1, 2)
                if blocks.max(axis=(2, 3)).tolist() != blocks.min(
                    axis=(2, 3)
                ).tolist():
                    raise AssertionError(
                        f"non-flat decoded JPEG block for doc {doc_id}"
                    )
                got = decoded[::8, ::8].astype(np.int64).ravel()
                # position-weighted checksum catches block permutation
                rows.append(
                    (
                        doc_id,
                        int(got.sum()),
                        int(((np.arange(16) + 1) * got).sum()),
                        int(got.min()),
                        int(got.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "v_sum", "v_wsum", "v_min", "v_max"],
            )

    return docs.mapInPandas(
        stats, "doc_id long, v_sum long, v_wsum long, v_min long, v_max long"
    ).orderBy("doc_id")


def _hex_byte(off_expr: str) -> str:
    """DuckDB fragment: byte value at hex offset ``off_expr`` of the
    md5 column ``hx`` (the m40 hex-arithmetic discipline)."""
    return (
        "(16 * (strpos('0123456789abcdef', "
        f"substr(hx, 2 * ({off_expr}) + 1, 1)) - 1) "
        "+ (strpos('0123456789abcdef', "
        f"substr(hx, 2 * ({off_expr}) + 2, 1)) - 1))"
    )


@register(
    "m44_image_phash_dedup",
    "IMAGE near-dup dedup via perceptual average-hash — the multimodal "
    "codecs feeding the dedup family: each document's md5-derived 2x4 "
    "P6 PPM (the m39/m40 raster) round-trips through the REAL numpy "
    "codec, hashes to 8 aHash bits in pure integer arithmetic (gray = "
    "r+g+b, bit p set iff gray_p*n > sum gray — integer cross-"
    "multiplication, no float mean), and images bucket by hash: the "
    "photo-dedup decision table (keep the min-id representative per "
    "perceptual bucket). The oracle re-derives every gray value from "
    "hex arithmetic, so the decoder round-trip AND the hash are "
    "externally verified. One Arrow mapInPandas scan + a bounded "
    "(<= 2^8 buckets) partial-aggregable groupBy — no shuffle carries "
    "image bytes (operators/multimodal.average_hash).",
    oracle=f"""
        WITH h AS (SELECT doc_id, md5(COALESCE(text, '')) AS hx
                   FROM documents),
        g AS (
            SELECT doc_id,
                   list_transform(range(8), p ->
                       {_hex_byte("(3 * p) % 16")}
                       + {_hex_byte("(3 * p + 1) % 16")}
                       + {_hex_byte("(3 * p + 2) % 16")}
                   ) AS gray
            FROM h
        ),
        t AS (SELECT doc_id, gray, list_sum(gray) AS tot FROM g),
        ph AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(8), p ->
                       CASE WHEN gray[p + 1] * 8 > tot
                            THEN CAST((1 << p) AS BIGINT)
                            ELSE 0 END)) AS BIGINT) AS phash
            FROM t
        )
        SELECT phash,
               CAST(COUNT(*) AS BIGINT) AS n_images,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id
        FROM ph GROUP BY phash ORDER BY phash
    """,
    category="multimodal",
)
def m44_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def phash(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                d = hashlib.md5((t or "").encode()).digest()
                arr = np.frombuffer(d + d[:8], dtype=np.uint8).reshape(
                    2, 4, 3
                )
                decoded = multimodal.decode_ppm(
                    multimodal.encode_ppm(arr)
                )
                rows.append((doc_id, multimodal.average_hash(decoded)))
            yield pd.DataFrame(rows, columns=["doc_id", "phash"])

    return (
        docs.mapInPandas(phash, "doc_id long, phash long")
        .groupBy("phash")
        .agg(
            F.count("*").alias("n_images"),
            F.min("doc_id").alias("keep_id"),
        )
        .orderBy("phash")
    )


@register(
    "m45_scale_invariant_phash",
    "RESOLUTION-invariant perceptual hash — the property photo-dedup "
    "actually needs (m44 hashes the raw raster, so a rescaled copy of "
    "the same image never collides): canonicalize through decode -> "
    "nn_resize to the 8x8 aHash grid -> hash. Each document's "
    "md5-derived 16x64 flat-block grayscale image (the m43 raster) "
    "round-trips the REAL baseline-JPEG codec at TWO resolutions "
    "(native and a 2x nearest-neighbor upscale, each re-encoded and "
    "re-decoded), and both canonicalize to the identical 64-bit hash "
    "— scale invariance verified through the full codec path, not "
    "asserted. The 64 hash bits ship as two 32-bit words (bit 63 "
    "overflows a signed BIGINT). The oracle re-derives every resized "
    "pixel from hex arithmetic (the floor mapping composes to "
    "pixel(y,x) = byte[(y div 4)*8 + x] at BOTH resolutions — the "
    "invariance the query certifies), so decode, resize, and hash are "
    "all externally verified "
    "(operators/multimodal.average_hash / nn_resize).",
    oracle=f"""
        WITH h AS (SELECT doc_id, md5(COALESCE(text, '')) AS hx
                   FROM documents),
        b AS (
            SELECT doc_id,
                   list_transform(range(16), o -> {_hex_byte("o")})
                       AS v
            FROM h
        ),
        s AS (SELECT doc_id, v, list_sum(v) AS sv FROM b)
        SELECT doc_id,
               CAST(list_sum(list_transform(range(32), p ->
                   CASE WHEN v[((p // 8) // 4) * 8 + (p % 8) + 1] * 16
                             > sv
                        THEN CAST(1 AS BIGINT) << p ELSE 0 END))
                    AS BIGINT) AS phash_lo,
               CAST(list_sum(list_transform(range(32), p ->
                   CASE WHEN v[(((p + 32) // 8) // 4) * 8 + (p % 8)
                               + 1] * 16 > sv
                        THEN CAST(1 AS BIGINT) << p ELSE 0 END))
                    AS BIGINT) AS phash_hi,
               TRUE AS scale_invariant
        FROM s
        ORDER BY doc_id
    """,
    category="multimodal",
)
def m45_scale_invariant_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def hashes(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                d = hashlib.md5((t or "").encode()).digest()
                vals = np.frombuffer(d, dtype=np.uint8).reshape(2, 8)
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                up = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
                hs = []
                for im in (img, up):
                    dec = multimodal.decode_media(
                        multimodal.encode_jpeg(im), "jpeg"
                    )
                    hs.append(
                        multimodal.average_hash(
                            multimodal.nn_resize(dec, 8, 8)
                        )
                    )
                lo, hi = multimodal.ahash_words(hs[0])
                rows.append((doc_id, lo, hi, hs[0] == hs[1]))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "phash_lo", "phash_hi", "scale_invariant"
                ],
            )

    return docs.mapInPandas(
        hashes,
        "doc_id long, phash_lo long, phash_hi long,"
        " scale_invariant boolean",
    ).orderBy("doc_id")


@register(
    "d70_incremental_line_dedup",
    "INCREMENTAL boilerplate pass: the stored line index (one row per "
    "distinct line hash, built from the already-ingested corpus — "
    "doc_id % 3 != 0 stands in) absorbs each arriving batch without "
    "rescanning the corpus; a batch line survives only if unseen in the "
    "index and first within its batch (arrival order beats id order — "
    "the incremental contract). Same per-doc summary as d62; index "
    "rows are (digest, ids) only "
    "(operators/dedup.line_index / probe_line_index).",
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
            FROM lines WHERE doc_id % 3 != 0
        ),
        bl AS (
            SELECT doc_id, line_idx, line_text,
                   md5(line_text) AS lh,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(line_text)
                       ORDER BY doc_id, line_idx
                   ) AS rk
            FROM lines WHERE doc_id % 3 = 0
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
    category="dedup",
)
def d70_incremental_line_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    index = dedup.line_index(existing)
    return dedup.probe_line_index(index, batch)


@register(
    "s45_hybrid_search_rrf",
    "Hybrid RAG retrieval: a keyword arm (query-term occurrence counts) "
    "and a semantic arm (cosine vs the min-id corpus vector) fused by "
    "reciprocal-rank fusion in exact integer arithmetic "
    "(Σ 1e6 // (60 + rank)) — the fused top-10 is engine-portable and "
    "externally hash-verified. At 100 TB each arm serves a shortlist "
    "from its index (inverted text / ANN); the fusion only ever sees "
    "shortlist rows (operators/similarity.hybrid_search_rrf).",
    oracle=f"""
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE embedding IS NOT NULL
            ORDER BY vec_id LIMIT 1
        ),
        kw AS (
            -- each arm ranks over ITS OWN corpus before fusion (the
            -- keyword index covers documents the vector index may not)
            SELECT doc_id, kw_score,
                   ROW_NUMBER() OVER (
                       ORDER BY kw_score DESC, doc_id) AS kw_rank
            FROM (
                SELECT doc_id,
                       len(list_filter({SQL_TOKS}, x -> x = 'data'))
                       + len(list_filter({SQL_TOKS}, x -> x = 'table'))
                       + len(list_filter({SQL_TOKS}, x -> x = 'spark'))
                           AS kw_score
                FROM documents
            )
        ),
        sem AS (
            SELECT doc_id, cosine_sim,
                   ROW_NUMBER() OVER (
                       ORDER BY cosine_sim DESC, doc_id) AS sem_rank
            FROM (
                SELECT vec_id AS doc_id,
                       ROUND(list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), qv), 6)
                           AS cosine_sim
                FROM embeddings CROSS JOIN q
            )
        ),
        r AS (
            SELECT kw.doc_id, kw_score, kw_rank, cosine_sim, sem_rank
            FROM kw JOIN sem USING (doc_id)
        )
        SELECT doc_id,
               CAST(kw_score AS BIGINT) AS kw_score,
               CAST(kw_rank AS BIGINT) AS kw_rank,
               cosine_sim,
               CAST(sem_rank AS BIGINT) AS sem_rank,
               CAST(1000000 // (60 + kw_rank)
                    + 1000000 // (60 + sem_rank) AS BIGINT) AS rrf_score
        FROM r
        ORDER BY rrf_score DESC, doc_id
        LIMIT 10
    """,
    category="similarity",
)
def s45_hybrid_search_rrf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hybrid_search_rrf(
        docs,
        emb,
        query_terms=["data", "table", "spark"],
        k=10,
    ).select(
        "doc_id",
        F.col("kw_score").cast("bigint").alias("kw_score"),
        F.col("kw_rank").cast("bigint").alias("kw_rank"),
        "cosine_sim",
        F.col("sem_rank").cast("bigint").alias("sem_rank"),
        F.col("rrf_score").cast("bigint").alias("rrf_score"),
    )


@register(
    "d71_line_dedup_apply",
    "The APPLY form of the boilerplate pass: the cleaned corpus itself "
    "(doc_id, text) with every non-first line occurrence removed — what "
    "a training run actually consumes, not just the d62 audit counts. "
    "Idempotent by construction (property-tested: a second pass drops "
    "nothing); fully-boilerplate documents come back empty so corpus "
    "membership survives for downstream joins "
    "(operators/dedup.line_dedup_clean).",
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
        ranked AS (
            SELECT doc_id, line_idx, line_text,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(line_text)
                       ORDER BY doc_id, line_idx
                   ) AS rk
            FROM lines
        ),
        cleaned AS (
            SELECT doc_id,
                   COALESCE(string_agg(
                       CASE WHEN rk = 1 THEN line_text END, ' '
                       ORDER BY line_idx), '') AS text
            FROM ranked GROUP BY doc_id
        )
        SELECT d.doc_id, COALESCE(c.text, '') AS text
        FROM documents d LEFT JOIN cleaned c USING (doc_id)
        ORDER BY d.doc_id
    """,
    category="dedup",
)
def d71_line_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.line_dedup_clean(docs, line_tokens=10)


@register(
    "d72_ngram_novelty",
    "Per-document n-gram novelty: how much of a document's distinct "
    "3-gram shingle set appears NOWHERE else in the corpus — the "
    "informativeness signal that upweights novel content and flags "
    "recombined/boilerplate-heavy documents near-dup pairs miss "
    "(a doc stitched from fragments of many others scores ~0 novelty "
    "without being anyone's near-dup). Exact integer counts; threshold "
    "downstream by cross-multiplication. One shingle explode + one "
    "document-frequency aggregate — the same inverted-index shape as "
    "the dedup family.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {SQL_TOKS} AS toks FROM documents
        ),
        sh AS (
            SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t
        ),
        df AS (
            SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle
        )
        SELECT sh.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(count_if(df.n_docs = 1) AS BIGINT) AS novel_shingles
        FROM sh JOIN df USING (shingle)
        GROUP BY sh.doc_id
        ORDER BY sh.doc_id
    """,
    category="text",
)
def d72_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(dedup.word_shingles("text", 3)).alias("shingle"),
    )
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    return (
        sh.join(df_tab, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count_if(F.col("n_docs") == 1).alias("novel_shingles"),
        )
        .orderBy("doc_id")
    )


@register(
    "d73_quality_classifier",
    "Hashed-feature linear quality classifier (fastText-style inference "
    "as pure relational algebra): tokens hash into 1024 buckets via "
    "md5-derived integers, the document score is the exact integer sum "
    "of milli-weights divided once at the end, keep = w_sum > 0 "
    "(operators/text.hashed_linear_quality). The weight table "
    "broadcasts; the only shuffle carries (doc_id, int) pairs.",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents
                   WHERE length(trim(text)) > 0),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        b AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
                       % 1024 AS bucket
            FROM tok
        ),
        w AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('w:' || CAST(bucket AS VARCHAR)),
                                        1, 8)) AS BIGINT)
                       % 2001 - 1000 AS w_int
            FROM b
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(w_int) AS BIGINT) AS w_sum,
               SUM(w_int) > 0 AS keep
        FROM w
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    category="text",
    bench=True,  # the per-document inference hot path of the new family
)
def d73_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    # the float `score` stays out of the differential projection: exact
    # integers only (a round() half-tie like -1011/16000 hashes
    # differently across engines' double representations)
    return (
        text.hashed_linear_quality(docs, dim=1024)
        .select("doc_id", "n_toks", "w_sum", "keep")
        .orderBy("doc_id")
    )


@register(
    "d74_normalize_text",
    "Unicode NFC normalization + control-char strip + ASCII-whitespace "
    "collapse — the canonical pre-fingerprint normalize stage "
    "(operators/text.normalize_text). The one Python step in the text "
    "family (Spark has no Unicode-normalization builtin): an "
    "Arrow-batched pandas UDF inside the scan stage, externally "
    "hash-verified against DuckDB's independent nfc_normalize.",
    oracle=r"""
        SELECT doc_id,
               trim(regexp_replace(nfc_normalize(
                   regexp_replace(text,
                   '[\x00-\x08\x0B-\x1F\x7F-\x9F\p{Cf}]', '', 'g')),
                   '[ \t\n]+', ' ', 'g'), ' ') AS norm_text,
               CAST(length(trim(regexp_replace(nfc_normalize(
                   regexp_replace(text,
                   '[\x00-\x08\x0B-\x1F\x7F-\x9F\p{Cf}]', '', 'g')),
                   '[ \t\n]+', ' ', 'g'), ' ')) AS BIGINT) AS norm_len
        FROM documents
        ORDER BY doc_id
    """,
    category="text",
)
def d74_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = text.normalize_text("text")
    return (
        docs.select(
            "doc_id",
            norm.alias("norm_text"),
            F.length(norm).alias("norm_len"),
        )
        .orderBy("doc_id")
    )


@register(
    "d75_containment_pairs",
    "Asymmetric shingle-containment near-SUBSET pairs (C >= 0.9 in "
    "either direction) — catches the short-doc-quoted-in-long-doc "
    "duplication Jaccard's union normalizer hides "
    "(operators/dedup.containment_pairs). Same staged hashed-index "
    "self-join as d25, integer cross-multiplied threshold on the "
    "smaller set size; directed flags per side.",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b,
               i AS inter, sa.n AS size_a, sb.n AS size_b,
               i * 1000000 >= 900000 * sa.n AS a_in_b,
               i * 1000000 >= 900000 * sb.n AS b_in_a
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1000000 >= 900000 * least(sa.n, sb.n)
        ORDER BY doc_a, doc_b
    """,
    category="dedup",
)
def d75_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, threshold=0.9, n=3)


@register(
    "d76_bpe_merges",
    "BPE tokenizer TRAINING on the corpus: 6 merge rounds learned on the "
    "word-count vocabulary (corpus scanned once; each round's argmax "
    "returns ONE row to the driver, Lloyd's-style), merge rewrite as "
    "sequential leftmost non-overlapping replace — canonical BPE "
    "semantics (operators/bpe.bpe_train). The oracle unrolls the same 6 "
    "rounds as chained CTEs, so the full iterative training loop is "
    "externally hash-verified, not rows-only.",
    oracle=bpe.bpe_oracle_sql(6),
    category="text",
)
def d76_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_merges_df(docs, n_merges=6)


@register(
    "d77_containment_sampled",
    "Production-path containment: the inverted-index self-join runs on "
    "a deterministic md5-sampled 1/8 of each document's shingles "
    "(bucket density / 64), intersection scaled back up as a "
    "deterministic estimator; exact sizes carried from the full index "
    "(operators/dedup.containment_pairs_sampled). MinHash-LSH is the "
    "wrong pre-filter here — collision tracks symmetric Jaccard, which "
    "high-containment mixed-size pairs lack.",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        samp AS (
            SELECT doc_id, shingle FROM sh
            WHERE CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)
                  % 8 = 0
        ),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   COUNT(*) * 8 AS inter_est
            FROM samp a JOIN samp b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        )
        SELECT doc_a, doc_b, inter_est, sa.n AS size_a, sb.n AS size_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE inter_est * 1000000 >= 900000 * least(sa.n, sb.n)
        ORDER BY doc_a, doc_b
    """,
    category="dedup",
)
def d77_containment_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs_sampled(docs, threshold=0.9, sample_mod=8)


@register(
    "s46_mmr_diversified_topk",
    "Maximal-marginal-relevance diversified top-5 from a 20-candidate "
    "pool (lambda=0.7): the relevance scan and the pool's pairwise "
    "similarity matrix are distributed; only the greedy 5-step argmax "
    "runs driver-side over bounded scalars — the production re-rank "
    "split (operators/similarity.mmr_rerank). The oracle unrolls the "
    "same five greedy steps as chained CTEs, so the full iterative "
    "selection is externally hash-verified.",
    oracle=similarity.mmr_oracle_sql(k=5, pool=20),
    category="similarity",
)
def s46_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank(emb, k=5, pool=20)


@register(
    "g01_pagerank_transitions",
    "Integer-exact PageRank (4 rounds, d=0.85) over the event click-"
    "transition graph (node = the 'k' prop; edges from per-user "
    "consecutive events). Each round is one rank-table join + one "
    "(dst, long) shuffle — edge-table-sized distributed work, nothing "
    "at the driver (operators/graph.pagerank). The oracle unrolls the "
    "same four rounds as chained CTEs: the iterative fixpoint is "
    "externally hash-verified like bpe_train and dedup_clusters.",
    oracle=graph.pagerank_oracle_sql(iters=4, damping_pct=85),
    category="graph",
)
def g01_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("long")
    edges = graph.transition_edges(events, node)
    # vertex set from the same ev filter as the oracle (user/ts/node
    # non-null — graph.event_graph_nodes documents why)
    nodes = graph.event_graph_nodes(events, node)
    return graph.pagerank(edges, nodes, iters=4).orderBy("node")


@register(
    "d78_countmin_heavy_hitters",
    "Count-min sketch heavy hitters: a 4x256 integer grid built in one "
    "pass over the corpus tokens (cell explode + one partial-aggregated "
    "shuffle), then the exact top-20 tokens read back through the "
    "sketch. cm_estimate >= exact ALWAYS (the CMS guarantee) and is "
    "emitted as a certified boolean, like the q22a error-bound pattern "
    "(operators/sketches.countmin_build / heavy_hitters_certificate). "
    "The grid is depth*width integers regardless of corpus size and "
    "merges by cell-wise addition — the bounded-memory answer to "
    "frequency tracking at 100 TB.",
    oracle=sketches.CMS_HEAVY_HITTERS_ORACLE,
    category="text",
)
def d78_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(F.explode(text.tokens("text")).alias("item"))
    return sketches.heavy_hitters_certificate(
        toks, sketches.countmin_build(toks)
    )


_EDGES_SQL = graph.EVENT_GRAPH_SQL

@register(
    "g02_triangle_count",
    "Exact triangle count on the (undirected) event transition graph "
    "via degree-ordered edge orientation — each node's out-degree is "
    "bounded ~sqrt(|E|) even at celebrity hubs, so the wedge join's "
    "per-key fan-out survives skew (operators/graph.triangle_count). "
    "The oracle uses the naive a<b<c triple self-join — equivalent "
    "count, the formulation that does NOT survive skew (the docstring "
    "explains why).",
    oracle=f"""
        WITH {_EDGES_SQL}
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM de e1
        JOIN de e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN de e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
    category="graph",
)
def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("long")
    edges = graph.transition_edges(events, node)
    return graph.triangle_count(edges)


@register(
    "g03_bfs_levels",
    "Unweighted shortest-path levels (4 hops) from the minimum page "
    "node by frontier expansion — per-round work is frontier-sized, "
    "reached-set semi-join keeps rounds monotone "
    "(operators/graph.bfs_levels). The oracle unrolls the same four "
    "frontier rounds as chained CTEs.",
    oracle=graph.bfs_oracle_sql(max_depth=4),
    category="graph",
)
def g03_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("long")
    edges = graph.transition_edges(events, node)
    # source from the oracle's ev set (user/ts non-null), not raw events
    source = (
        graph.event_graph_nodes(events, node)
        .agg(F.min("node").alias("s"))
        .collect()[0]["s"]
    )
    if source is None:  # empty corpus: no source, no levels
        return spark.createDataFrame([], "node long, dist long")
    return graph.bfs_levels(edges, int(source), max_depth=4).orderBy(
        "dist", "node"
    )


@register(
    "m41_wav_stats",
    "REAL audio decode inside the Arrow batch: an 8-sample 16 kHz PCM16 "
    "WAV is built per document from its md5 digest bytes, then decoded "
    "by the actual RIFF parser (operators/multimodal.decode_wav — "
    "fmt/data chunk walk, little-endian int16) and reduced to integer "
    "sample statistics. Samples are the digest's byte pairs, so DuckDB "
    "re-derives every expected value with pure hex arithmetic — the "
    "audio codec itself is externally checked, closing the audio half "
    "of the codec story the way m39 closed images.",
    oracle="""
        WITH h AS (SELECT doc_id, md5(COALESCE(text, '')) AS hx
                   FROM documents),
        b AS (
            SELECT doc_id,
                   list_transform(range(0, 16), j ->
                       16 * (strpos('0123456789abcdef',
                                    substr(hx, 2 * j + 1, 1)) - 1)
                       + (strpos('0123456789abcdef',
                                 substr(hx, 2 * j + 2, 1)) - 1)
                   ) AS bytes
            FROM h
        ),
        s AS (
            SELECT doc_id,
                   list_transform(range(0, 8), i ->
                       CASE WHEN bytes[2 * i + 1]
                                 + 256 * bytes[2 * i + 2] >= 32768
                            THEN bytes[2 * i + 1]
                                 + 256 * bytes[2 * i + 2] - 65536
                            ELSE bytes[2 * i + 1]
                                 + 256 * bytes[2 * i + 2] END
                   ) AS samples
            FROM b
        )
        SELECT doc_id,
               CAST(8 AS BIGINT) AS n_samples,
               CAST(16000 AS BIGINT) AS sample_rate,
               CAST(list_max(list_transform(samples, x -> abs(x)))
                    AS BIGINT) AS peak_abs,
               CAST(list_sum(list_transform(samples, x -> abs(x)))
                    AS BIGINT) AS sum_abs
        FROM s
        ORDER BY doc_id
    """,
    category="multimodal",
)
def m41_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import numpy as np

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                d = hashlib.md5((t or "").encode()).digest()
                samples = np.frombuffer(d, dtype="<i2")
                payloads.append(
                    multimodal.encode_wav(samples, rate=16_000)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    def stats(batches):
        import numpy as np

        for pdf in batches:
            n, rate, peak, sabs = [], [], [], []
            for payload in pdf["payload"]:
                r, _ch, samples = multimodal.decode_wav(bytes(payload))
                a = np.abs(samples.astype(np.int64))
                n.append(len(samples))
                rate.append(r)
                peak.append(int(a.max()))
                sabs.append(int(a.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": n,
                    "sample_rate": rate,
                    "peak_abs": peak,
                    "sum_abs": sabs,
                }
            )

    return (
        docs.mapInPandas(build, "doc_id long, payload binary")
        .mapInPandas(
            stats,
            "doc_id long, n_samples long, sample_rate long, "
            "peak_abs long, sum_abs long",
        )
        .orderBy("doc_id")
    )


@register(
    "d79_bpe_encode_stats",
    "The APPLY half of the tokenizer loop: train 6 BPE merges on the "
    "corpus (d76's fit), encode the vocabulary with them in rank order "
    "(vocab-sized work per merge), and account per-source token "
    "compression — words, characters, and post-BPE units (char-count "
    "fallback for words over the training cap) "
    "(operators/bpe.bpe_apply_units). The oracle unrolls train AND "
    "encode end-to-end, so the full fit→apply loop is one externally "
    "hash-verified chain.",
    oracle=bpe.bpe_apply_oracle_sql(6),
    category="text",
)
def d79_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # fit's encoded vocabulary IS the apply result for this corpus —
    # one scan total, no re-application of the merges
    _merges, fitted = bpe.bpe_fit(docs, n_merges=6)
    units = fitted.select("word", F.size("u").alias("n_units"))
    words = docs.select(
        "source", F.explode(text.tokens("text")).alias("word")
    ).filter(F.length("word") > 0)
    return (
        words.join(units, "word", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum(
                F.coalesce("n_units", F.length("word"))
            ).alias("n_units"),
        )
        .orderBy("source")
    )


def _span_dedup_sql(min_df: int = 2) -> str:
    """Shared DuckDB prefix for the substring-dedup oracles: positioned
    8-token sliding windows, ROW_NUMBER first-occurrence rule (the
    oracle can afford the window; the engine uses the skew-safe
    aggregate), gaps-and-islands merge of the duplicate anchors.
    ``min_df`` is the corpus-frequency floor (Lee et al. threshold):
    only spans with at least that many occurrences anchor removals;
    2 is the plain every-repeat rule (rk > 1 already implies df >= 2).
    """
    return f"""
        t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        occ AS (
            SELECT doc_id, i AS pos,
                   md5(array_to_string(toks[(i+1):(i+8)], ' ')) AS h
            FROM t, LATERAL (
                SELECT unnest(range(len(toks) - 8 + 1)) AS i
            ) g
            WHERE len(toks) >= 8
        ),
        dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                       ROW_NUMBER() OVER (
                           PARTITION BY h ORDER BY doc_id, pos
                       ) AS rk,
                       COUNT(*) OVER (PARTITION BY h) AS df_cnt
                FROM occ
            ) WHERE rk > 1 AND df_cnt >= {min_df}
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
        )"""


_SPAN_DEDUP_SQL = _span_dedup_sql(2)


@register(
    "d80_duplicated_spans",
    "Substring-level exact dedup, detection half (the suffix-array "
    "'deduplicating training data' remove-duplicated-substrings pass): "
    "every 8-token window occurring anywhere earlier in the corpus "
    "(min (doc_id, pos) keeps the first copy) is a duplicate anchor; "
    "overlapping/adjacent anchors merge into maximal removal intervals "
    "(anchor-extend as gaps-and-islands). First occurrences via the "
    "skew-safe groupBy(hash).min(struct) aggregate + anti-join on the "
    "unique (doc_id, pos) key — the only window is per-document, "
    "bounded by doc length, never by corpus frequency "
    "(operators/dedup.duplicated_spans).",
    oracle=f"""
        WITH {_SPAN_DEDUP_SQL}
        SELECT doc_id, span_start, span_end,
               span_end - span_start AS span_len
        FROM spans
        ORDER BY doc_id, span_start
    """,
    category="dedup",
    bench=True,
)
def d80_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_spans(docs, span_tokens=8)


@register(
    "d81_remove_duplicated_spans",
    "Substring-level exact dedup, APPLY half: the cleaned corpus itself "
    "— every token covered by a duplicated non-first 8-token span "
    "removed, survivors rejoined in order; corpus membership preserved "
    "(docs with nothing removed return their tokens rejoined). Removal "
    "intervals fold to one array per doc and join back on the unique "
    "doc_id key; each document filters its own token array map-side "
    "(operators/dedup.remove_duplicated_spans).",
    oracle=f"""
        WITH {_SPAN_DEDUP_SQL},
        cov AS (
            SELECT doc_id, unnest(range(span_start, span_end)) AS i
            FROM spans
        ),
        tokpos AS (
            SELECT doc_id, i, toks[CAST(i + 1 AS INT)] AS tok
            FROM t, LATERAL (
                SELECT unnest(range(len(toks))) AS i
            ) g
        ),
        clean AS (
            SELECT tp.doc_id,
                   string_agg(tp.tok, ' ' ORDER BY tp.i) AS text
            FROM tokpos tp
            LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.i = tp.i
            WHERE c.i IS NULL
            GROUP BY tp.doc_id
        )
        SELECT d.doc_id, COALESCE(c.text, '') AS text
        FROM documents d LEFT JOIN clean c USING (doc_id)
        ORDER BY d.doc_id
    """,
    category="dedup",
    bench=True,
)
def d81_remove_duplicated_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(docs, span_tokens=8)


@register(
    "d82_duplicated_spans_df_floor",
    "Substring-level dedup with a corpus-frequency floor — the Lee et "
    "al. 'Deduplicating Training Data' threshold: only 8-token spans "
    "occurring >= 3 times in the corpus anchor removals (their "
    "non-first occurrences); one-off quoted passages (df=2) are left "
    "alone. Per-hash HashAggregate emits (first packed key, span df); "
    "occurrences probe-join the unique-keyed stats table — a hot "
    "boilerplate span skews only the AQE-splittable probe side "
    "(operators/dedup.duplicated_spans_df_floor). min_span_df=2 "
    "reproduces d80 exactly.",
    oracle=f"""
        WITH {_span_dedup_sql(3)}
        SELECT doc_id, span_start, span_end,
               span_end - span_start AS span_len
        FROM spans
        ORDER BY doc_id, span_start
    """,
    category="dedup",
    bench=True,
)
def d82_duplicated_spans_df_floor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_spans_df_floor(
        docs, span_tokens=8, min_span_df=3
    )


#: the removal tail shared by the span-dedup apply oracles (d81, d85):
#: expand removal intervals, drop covered token positions, rejoin.
_SPAN_REMOVAL_SQL_TAIL = """
    cov AS (
        SELECT doc_id, unnest(range(span_start, span_end)) AS i
        FROM spans
    ),
    tokpos AS (
        SELECT doc_id, i, toks[CAST(i + 1 AS INT)] AS tok
        FROM t, LATERAL (
            SELECT unnest(range(len(toks))) AS i
        ) g
    ),
    clean AS (
        SELECT tp.doc_id,
               string_agg(tp.tok, ' ' ORDER BY tp.i) AS text
        FROM tokpos tp
        LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.i = tp.i
        WHERE c.i IS NULL
        GROUP BY tp.doc_id
    )
    SELECT d.doc_id, COALESCE(c.text, '') AS text
    FROM documents d LEFT JOIN clean c USING (doc_id)
    ORDER BY d.doc_id
"""


@register(
    "d85_remove_spans_df_floor",
    "APPLY half of the df-floor substring dedup (d82): the cleaned "
    "corpus with only floor-qualifying spans (corpus frequency >= 3) "
    "removed — rare two-off repeats survive in place, frequent "
    "boilerplate is stripped from every non-first occurrence. Same "
    "unique-key reassembly as d81; the detection half is d82\'s "
    "probe-join plan (operators/dedup.remove_duplicated_spans with "
    "min_span_df=3).",
    oracle=f"""
        WITH {_span_dedup_sql(3)},
        {_SPAN_REMOVAL_SQL_TAIL}
    """,
    category="dedup",
)
def d85_remove_spans_df_floor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicated_spans(
        docs, span_tokens=8, min_span_df=3
    )


@register(
    "d86_incremental_span_dedup",
    "INCREMENTAL substring dedup: the stored span index (one row per "
    "distinct 8-token window, built from the already-ingested corpus — "
    "doc_id % 3 != 0 stands in) absorbs each arriving batch without "
    "rescanning the corpus; a batch anchor is duplicate if its hash is "
    "indexed (arrival order beats id order — the incremental contract "
    "of d70, applied one level down from lines to sliding windows) or "
    "repeats within the batch, and anchors merge to maximal removal "
    "intervals exactly as in d80. Index rows are (hash pair, ids) only "
    "— never span text (operators/dedup.span_index / "
    "probe_span_index).",
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
            SELECT DISTINCT h FROM occ WHERE doc_id % 3 != 0
        ),
        dup AS (
            SELECT doc_id, pos FROM (
                SELECT doc_id, pos, h,
                       ROW_NUMBER() OVER (
                           PARTITION BY h ORDER BY doc_id, pos
                       ) AS rk
                FROM occ WHERE doc_id % 3 = 0
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
    category="dedup",
    bench=True,
)
def d86_incremental_span_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    index = dedup.span_index(existing, span_tokens=8)
    return dedup.probe_span_index(index, batch, span_tokens=8)


@register(
    "d87_newline_line_dedup",
    "LITERAL newline line dedup — the C4/RefinedWeb pass as actually "
    "published: lines are the text split on '\\n' (no tokenization, no "
    "chunk boundaries — boilerplate is caught at its real line breaks), "
    "a line survives only at its global first occurrence, and each doc "
    "reports kept/dropped counts plus the cleaned-text fingerprint — "
    "the separator mode of the same machinery as d62 "
    "(operators/dedup.line_dedup(separator='\\n')). The driver corpus "
    "carries no newlines, so the query derives a newline-structured "
    "corpus deterministically on BOTH sides first (literal-replace of "
    "one common token with '\\n'); same skew-safe "
    "groupBy(hash).min(packed) first-occurrence aggregate, no Window "
    "over line content anywhere.",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   replace(COALESCE(text, ''), 'line', chr(10)) AS text
            FROM documents
        ),
        t AS (
            SELECT doc_id, string_split(text, chr(10)) AS lines FROM d
        ),
        l AS (
            SELECT doc_id, i AS line_idx, lines[i+1] AS line_text
            FROM t, LATERAL (
                SELECT unnest(range(len(lines))) AS i
            ) g
        ),
        ranked AS (
            SELECT doc_id, line_idx, line_text,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(line_text)
                       ORDER BY doc_id, line_idx
                   ) AS rk
            FROM l
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_lines,
               CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dropped_lines,
               md5(COALESCE(string_agg(
                   CASE WHEN rk = 1 THEN line_text END, chr(10)
                   ORDER BY line_idx), '')) AS cleaned_fp
        FROM ranked
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    category="dedup",
    bench=True,  # the literal C4 pass — heavy family, first stable r9
)
def d87_newline_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("line"),
            F.lit("\n"),
        ).alias("text"),
    )
    return dedup.line_dedup(docs, separator="\n")


@register(
    "d96_paragraph_dedup",
    "PARAGRAPH-granularity corpus dedup — the Dolma/RedPajama-v2 "
    "paragraph pass: units are blank-line-delimited blocks (which "
    "themselves contain newlines — real paragraph structure, not "
    "lines), a paragraph survives only at its global first occurrence, "
    "per-doc audit counts + cleaned fingerprint. Same machinery as "
    "d62/d87 via separator='\\n\\n' "
    "(operators/dedup.line_dedup(separator='\\n\\n')) — same skew-safe "
    "groupBy(hash).min(packed bigint) first-occurrence HashAggregate, "
    "no Window over paragraph content. The driver corpus carries no "
    "newline structure, so both sides derive it deterministically "
    "first: 'line' -> newline, then 'part' -> blank line (order "
    "load-bearing and identical on both sides).",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   replace(replace(COALESCE(text, ''),
                       'line', chr(10)),
                       'part', chr(10) || chr(10)) AS text
            FROM documents
        ),
        t AS (
            SELECT doc_id,
                   string_split(text, chr(10) || chr(10)) AS paras
            FROM d
        ),
        l AS (
            SELECT doc_id, i AS line_idx, paras[i+1] AS line_text
            FROM t, LATERAL (
                SELECT unnest(range(len(paras))) AS i
            ) g
        ),
        ranked AS (
            SELECT doc_id, line_idx, line_text,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(line_text)
                       ORDER BY doc_id, line_idx
                   ) AS rk
            FROM l
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_lines,
               CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dropped_lines,
               md5(COALESCE(string_agg(
                   CASE WHEN rk = 1 THEN line_text END, chr(10)
                   ORDER BY line_idx), '')) AS cleaned_fp
        FROM ranked
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    category="dedup",
)
def d96_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
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
    return dedup.line_dedup(docs, separator="\n\n")


@register(
    "d98_token_entropy",
    "Shannon entropy of each document's token distribution in exact "
    "integer micro-nats — the corpus-FREE diversity/repetition gate "
    "(near-zero = one-phrase spam or degenerate generation; natural "
    "prose approaches its ln(n) cap): H = ln n - (sum c*ln c)/n with "
    "every ln rounded to 6 decimals into integer micro-nats BEFORE "
    "multiplication/summation and ONE integer floor division (the "
    "d83/d95 discipline — bit-identical across engines; floor bias "
    "< 1 micro-nat). Complements d83's corpus-relative bigram LM with "
    "a per-document signal that needs no trained counts. One explode "
    "-> (doc, token) hash aggregate -> doc hash aggregate; both "
    "partial-map, both keys contain doc_id (no skewable content key) "
    "(operators/text.token_entropy).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        -- DuckDB string_split_regex('') yields [''] where the engine's
        -- tokens('') yields []; drop the empty token (d83 precedent)
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM tok WHERE tok <> '' GROUP BY doc_id, tok
        ),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   CAST(SUM(c * CAST(CAST(ROUND(ln(CAST(c AS DOUBLE)),
                            6) AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                       AS BIGINT) AS s
            FROM tf GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, n_distinct,
               CAST(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               - s // n_tokens AS entropy_micro
        FROM agg ORDER BY doc_id
    """,
    category="text",
)
def d98_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_entropy(docs).orderBy("doc_id")


@register(
    "d99_gopher_repetition",
    "The LITERAL Gopher repetition filters (Rae et al. 2021 table A1) "
    "as exact x1e6 integers: fraction of characters in the MOST COMMON "
    "n-gram for n=2..4 (ties to the lexicographically smallest gram) "
    "and in DUPLICATED n-grams for n=5..10 (the overlap-uncorrected "
    "published form), over whitespace-normalized character length. "
    "Extends d40's distinct-fraction pair to the full published rule "
    "set. ZERO-shuffle architecture: every n-gram of a document is "
    "doc-local, so no corpus-wide key exists at all — per document "
    "and per n, grams build in-row, array_sort groups equal grams "
    "adjacently, and one sequential aggregate() walk reads off the "
    "longest run (top rule; ascending scan + strict > makes the "
    "lexicographic tie-break free) or the chars in runs >= 2 (dup "
    "rule). The whole op is a narrow projection: shards gate "
    "independently, boilerplate cannot skew anything, and the plan "
    "has no exchange. Chosen by measurement over the explode + "
    "groupBy(doc,n,gram) form (4.67 s at sf0.1/32 cores) and the "
    "packed-hash-key form (10.6-11.4 s — interpreted HOF arithmetic "
    "costs more than JVM concat_ws, and key width buys nothing when "
    "nothing shuffles): 3.1 s, plus the scan-parallelism guard for "
    "sub-parallel single-file inputs "
    "(operators/text.gopher_repetition_fractions).",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, {SQL_TOKS} AS toks,
                   length({SQL_NORM}) AS chars
            FROM documents
            WHERE {SQL_NTOKS} > 0
        ),
        g AS (
            -- the LATERAL references only d (a lateral over both d and
            -- ns trips DuckDB's binder); n-validity moves to the WHERE
            SELECT doc_id, chars, n,
                   array_to_string(toks[(i+1):(i+n)], ' ') AS gram
            FROM d
            CROSS JOIN (SELECT unnest(range(2, 11)) AS n) ns,
            LATERAL (SELECT unnest(range(len(toks))) AS i) gg
            WHERE i + n <= len(toks)
        ),
        c AS (
            SELECT doc_id, n, gram,
                   MAX(chars) AS chars, COUNT(*) AS cnt
            FROM g GROUP BY doc_id, n, gram
        ),
        top AS (
            SELECT doc_id, n, chars, cnt, gram,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id, n ORDER BY cnt DESC, gram
                   ) AS rk
            FROM c WHERE n <= 4
        ),
        tv AS (
            SELECT doc_id, n,
                   (cnt * length(gram) * 1000000) // chars AS val
            FROM top WHERE rk = 1
        ),
        dv AS (
            SELECT doc_id, n,
                   (COALESCE(SUM(CASE WHEN cnt >= 2
                                 THEN cnt * length(gram) END), 0)
                    * 1000000) // MAX(chars) AS val
            FROM c WHERE n >= 5 GROUP BY doc_id, n
        ),
        u AS (SELECT * FROM tv UNION ALL SELECT * FROM dv)
        SELECT d.doc_id,
               CAST(COALESCE(MAX(CASE WHEN n = 2 THEN val END), 0)
                    AS BIGINT) AS top_2gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 3 THEN val END), 0)
                    AS BIGINT) AS top_3gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 4 THEN val END), 0)
                    AS BIGINT) AS top_4gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 5 THEN val END), 0)
                    AS BIGINT) AS dup_5gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 6 THEN val END), 0)
                    AS BIGINT) AS dup_6gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 7 THEN val END), 0)
                    AS BIGINT) AS dup_7gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 8 THEN val END), 0)
                    AS BIGINT) AS dup_8gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 9 THEN val END), 0)
                    AS BIGINT) AS dup_9gram_x1e6,
               CAST(COALESCE(MAX(CASE WHEN n = 10 THEN val END), 0)
                    AS BIGINT) AS dup_10gram_x1e6
        FROM d LEFT JOIN u ON d.doc_id = u.doc_id
        GROUP BY d.doc_id ORDER BY d.doc_id
    """,
    category="text",
    bench=True,  # nine-stream n-gram family — track from first round
)
def d99_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UNORDERED output (registry determinism note): a cosmetic final
    # orderBy would range-sample the whole zero-shuffle pipeline a
    # second time — measured ~2x on this op; the driver sorts rows
    # before hashing and the oracle keeps its ORDER BY harmlessly.
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_repetition_fractions(docs)


@register(
    "d100_quality_ensemble",
    "Stateless quality-ENSEMBLE gate — the FineWeb-style practice of "
    "keeping a document only when a MAJORITY of independent signals "
    "agree, composed from three verified corpus-free signals: the "
    "C4-style heuristic gate (d28), the hashed-feature linear "
    "classifier (d73/st47, w_sum > 0), and the token-entropy "
    "repetition floor (d98, >= 1.5 nats). Corpus-free by construction: "
    "the same verdict on day one of a crawl and at 100 TB, and shards "
    "gate independently (two signals are pure row expressions; entropy "
    "is the d98 doc-keyed aggregate pair). Token-less documents fail "
    "the entropy signal by definition. Emits the per-document signal "
    "booleans AND the vote, so the oracle hash-checks the whole "
    "decision table, not just the survivor count "
    "(operators/text.quality_ensemble).",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents
        ),
        heur AS (
            SELECT doc_id,
                   (len(toks) >= 5 AND length(text) >= 20
                    AND length(text) <= 1000000
                    AND length(regexp_replace(text,
                        '[^A-Za-z]', '', 'g')) * 2
                        > length(text)) AS s_heuristic
            FROM t
        ),
        cls AS (
            SELECT doc_id,
                   COALESCE(list_sum(list_transform(toks,
                       tok -> CAST(('0x' || substr(md5('w:' || CAST(
                                  CAST(('0x' || substr(md5(tok), 1, 8))
                                       AS BIGINT) % 1024 AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 2001 - 1000)), 0)
                       > 0 AS s_classifier
            FROM t
        ),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM tok GROUP BY doc_id, tok
        ),
        ent AS (
            SELECT doc_id,
                   CAST(CAST(ROUND(ln(CAST(SUM(c) AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                   - CAST(SUM(c * CAST(CAST(ROUND(ln(CAST(c AS DOUBLE)),
                            6) AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                       AS BIGINT) // CAST(SUM(c) AS BIGINT)
                       AS entropy_micro
            FROM tf GROUP BY doc_id
        )
        SELECT h.doc_id, h.s_heuristic, c.s_classifier,
               COALESCE(e.entropy_micro >= 1500000, FALSE) AS s_entropy,
               (CAST(h.s_heuristic AS INT) + CAST(c.s_classifier AS INT)
                + CAST(COALESCE(e.entropy_micro >= 1500000, FALSE)
                       AS INT)) >= 2 AS keep
        FROM heur h
        JOIN cls c USING (doc_id)
        LEFT JOIN ent e USING (doc_id)
        ORDER BY h.doc_id
    """,
    category="text",
)
def d100_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_ensemble(
        docs, entropy_floor_micro=1_500_000, min_votes=2
    ).orderBy("doc_id")


@register(
    "d90_benchmark_span_overlap",
    "Span-level benchmark decontamination, detection half — the GPT-3 "
    "13-gram rule as POSITIONED intervals (d47 is the doc-level "
    "report; this is what you apply when dropping whole documents is "
    "too blunt): every 13-token window of the corpus (source != "
    "'src0') appearing anywhere in the benchmark (source = 'src0') "
    "anchors an overlap, anchors merge to maximal intervals. The "
    "benchmark's distinct span hashes — bounded by benchmark tokens — "
    "BROADCAST onto the corpus occurrence scan; the corpus never "
    "shuffles for the probe "
    "(operators/dedup.benchmark_span_overlap).",
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
    category="dedup",
)
def d90_benchmark_span_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return dedup.benchmark_span_overlap(corpus, bench, span_tokens=13)


@register(
    "d91_remove_benchmark_spans",
    "Span-level benchmark decontamination, APPLY half: the corpus "
    "(source != 'src0') with every token covered by a 13-gram "
    "benchmark overlap removed, survivors rejoined in order — corpus "
    "membership preserved (clean docs return their tokens rejoined; "
    "fully contaminated docs come back empty). Same map-side interval "
    "reassembly kernel as d81; the corpus shuffles only to fold the "
    "tiny interval set (operators/dedup.remove_benchmark_spans).",
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
        cov AS (
            SELECT DISTINCT doc_id, unnest(range(pos, pos + 13)) AS i
            FROM occ WHERE s IN (SELECT s FROM bs)
        ),
        tokpos AS (
            SELECT doc_id, i, toks[CAST(i + 1 AS INT)] AS tok
            FROM t, LATERAL (
                SELECT unnest(range(len(toks))) AS i
            ) g
            WHERE source != 'src0'
        ),
        clean AS (
            SELECT tp.doc_id,
                   string_agg(tp.tok, ' ' ORDER BY tp.i) AS text
            FROM tokpos tp
            LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.i = tp.i
            WHERE c.i IS NULL
            GROUP BY tp.doc_id
        )
        SELECT d.doc_id, COALESCE(c.text, '') AS text
        FROM (SELECT doc_id FROM documents WHERE source != 'src0') d
        LEFT JOIN clean c USING (doc_id)
        ORDER BY d.doc_id
    """,
    category="dedup",
    bench=True,  # decontamination apply — heavy family, first stable r9
)
def d91_remove_benchmark_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return dedup.remove_benchmark_spans(corpus, bench, span_tokens=13)


@register(
    "d88_top_duplicated_spans",
    "Boilerplate audit, span level: the 20 most-repeated 8-token "
    "windows WITH their text, corpus frequency, and first occurrence — "
    "the report a span-dedup pass runs first and the evidence behind "
    "d82's frequency floor. Stats ride the same narrow hash-keyed "
    "occurrence aggregate as detection (span text never shuffles); "
    "top-k is a TakeOrdered over one row per distinct repeated span; "
    "text is recovered map-side by broadcasting the k winners onto the "
    "corpus and re-slicing each winner's first-occurrence document. "
    "Ties break on the packed first-occurrence key — deterministic "
    "(operators/dedup.top_duplicated_spans).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        occ AS (
            SELECT doc_id, i AS pos,
                   array_to_string(toks[(i+1):(i+8)], ' ') AS span
            FROM t, LATERAL (
                SELECT unnest(range(len(toks) - 8 + 1)) AS i
            ) g
            WHERE len(toks) >= 8
        ),
        st AS (
            SELECT span,
                   COUNT(*) AS span_df,
                   MIN(doc_id * 1048576 + pos) AS k
            FROM occ GROUP BY span HAVING COUNT(*) >= 2
        )
        SELECT span AS span_text,
               CAST(span_df AS BIGINT) AS span_df,
               CAST(k // 1048576 AS BIGINT) AS first_doc,
               CAST(k % 1048576 AS INT) AS first_pos
        FROM st
        ORDER BY span_df DESC, k ASC
        LIMIT 20
    """,
    category="dedup",
)
def d88_top_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.top_duplicated_spans(docs, k=20, span_tokens=8)


@register(
    "d89_top_boilerplate_lines",
    "Boilerplate audit, line level, in LITERAL newline mode: the 20 "
    "most-repeated lines of the newline-derived corpus (same "
    "deterministic derivation as d87) with text, frequency, and first "
    "occurrence — the C4-pass audit. Same scale shape as d88: narrow "
    "hash-keyed stats, TakeOrdered top-k, map-side text recovery from "
    "the winners' first-occurrence documents "
    "(operators/dedup.top_duplicated_lines(separator='\\n')).",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   replace(COALESCE(text, ''), 'line', chr(10)) AS text
            FROM documents
        ),
        t AS (
            SELECT doc_id, string_split(text, chr(10)) AS lines FROM d
        ),
        l AS (
            SELECT doc_id, i AS line_idx, lines[i+1] AS line_text
            FROM t, LATERAL (
                SELECT unnest(range(len(lines))) AS i
            ) g
        ),
        st AS (
            SELECT line_text,
                   COUNT(*) AS line_df,
                   MIN(doc_id * 1048576 + line_idx) AS k
            FROM l GROUP BY line_text HAVING COUNT(*) >= 2
        )
        SELECT line_text,
               CAST(line_df AS BIGINT) AS line_df,
               CAST(k // 1048576 AS BIGINT) AS first_doc,
               CAST(k % 1048576 AS INT) AS first_idx
        FROM st
        ORDER BY line_df DESC, k ASC
        LIMIT 20
    """,
    category="dedup",
)
def d89_top_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("line"),
            F.lit("\n"),
        ).alias("text"),
    )
    return dedup.top_duplicated_lines(docs, k=20, separator="\n")


# ---------------------------------------------------------------------------
# Markup extraction / encoding repair (operators/extraction.py) — the
# head of a raw-web pipeline. Oracle SQL for both queries is GENERATED
# from the operator module's own stage tables, so the DuckDB replay and
# the Spark chain cannot drift.


def _sql_q(s: str) -> str:
    return s.replace("'", "''")


def _strip_html_sql(expr: str) -> str:
    """DuckDB replay of extraction.strip_html, stage for stage."""
    for pat, rep in extraction._HTML_REGEX_STAGES:
        expr = (
            f"regexp_replace({expr}, '{_sql_q(pat)}', '{_sql_q(rep)}', 'g')"
        )
    for ent, ch in extraction._HTML_ENTITIES:
        expr = f"replace({expr}, '{_sql_q(ent)}', '{_sql_q(ch)}')"
    for pat, rep in extraction._WS_STAGES:
        expr = (
            f"regexp_replace({expr}, '{_sql_q(pat)}', '{_sql_q(rep)}', 'g')"
        )
    return expr


def _fix_mojibake_sql(expr: str) -> str:
    """DuckDB replay of extraction.fix_mojibake, pair for pair."""
    for bad, good in extraction.MOJIBAKE_MAP:
        expr = f"replace({expr}, '{_sql_q(bad)}', '{_sql_q(good)}')"
    return expr


def _normalize_sql(expr: str) -> str:
    """DuckDB replay of text.normalize_text (the d74 oracle form):
    control/Cf strip (keeping tab+newline) -> NFC -> ASCII-whitespace
    collapse -> space trim."""
    return (
        r"trim(regexp_replace(nfc_normalize(regexp_replace("
        + expr
        + r", '[\x00-\x08\x0B-\x1F\x7F-\x9F\p{Cf}]', '', 'g')),"
        r" '[ \t\n]+', ' ', 'g'), ' ')"
    )


#: the deterministic HTML wrapper both engines build around each
#: document before extracting: comment + style + script payloads that
#: must vanish, headings/paragraph breaks that must become newlines
#: (the token 'line' plays paragraph boundary), entities that must
#: decode AFTER tag stripping.
_HTML_PREFIX = (
    '<html><!-- corpus doc --><head><title>Doc </title>'
    '<style type="text/css">p { color: red; }</style>'
    '<script>var t = "x < y &amp;&amp; z > 0";</script></head>'
    "<body><h1>Doc </h1><p>"
)
_HTML_SUFFIX = (
    "</p><div>footer &amp; &lt;raw&gt;&nbsp;end</div></body></html>"
)


@register(
    "d92_html_extract",
    "HTML-to-text extraction — the curation step before every other "
    "one (web corpora arrive as markup): drop comments and "
    "script/style/noscript payloads, turn block-element boundaries "
    "into newlines, strip remaining tags, decode the common named "
    "entities (after stripping, so decoded '<raw>' survives as text; "
    "'&amp;' last), collapse whitespace. Pure JVM regexp/replace "
    "chain (operators/extraction.strip_html) — single narrow "
    "whole-stage-codegen scan, no shuffle at any corpus size. The "
    "driver corpus is plain text, so both sides first wrap each doc "
    "in the same deterministic HTML (script with a literal '<', "
    "style, comment, entities; token 'line' as paragraph break); the "
    "oracle replays the identical stage table, generated from the "
    "operator's own constants.",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   '{_sql_q(_HTML_PREFIX)}'
                   || replace(COALESCE(text, ''), 'line', '</p><p>')
                   || '{_sql_q(_HTML_SUFFIX)}' AS html
            FROM documents
        )
        SELECT doc_id, {_strip_html_sql('html')} AS text
        FROM h
    """,
    category="text",
)
def d92_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_PREFIX),
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("line"),
            F.lit("</p><p>"),
        ),
        F.lit(_HTML_SUFFIX),
    )
    return extraction.html_extract(
        docs.select("doc_id", html.alias("html"))
    )


@register(
    "d93_fix_mojibake",
    "Encoding repair (the ftfy core case): undo UTF-8-bytes-read-as-"
    "cp1252 mojibake for the high-frequency punctuation and Latin-1 "
    "letter table (â€™->', Ã©->é, Â°->°, ...) as a pure "
    "literal-replace chain (operators/extraction.fix_mojibake) — "
    "narrow codegen scan, no shuffle. Both sides corrupt the corpus "
    "deterministically first (injecting 3-byte punctuation, 2-byte "
    "letter, and Â-family sequences), then the engine repairs and the "
    "oracle replays the identical pair table, generated from the "
    "operator's own MOJIBAKE_MAP.",
    oracle=f"""
        WITH c AS (
            SELECT doc_id,
                   replace(replace(replace(COALESCE(text, ''),
                       'o', 'Ã¶'),
                       'u', 'â€¦'),
                       ' ', 'Â° ') AS text
            FROM documents
        )
        SELECT doc_id, {_fix_mojibake_sql('text')} AS text
        FROM c
    """,
    category="text",
)
def d93_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corrupted = F.replace(
        F.replace(
            F.replace(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("o"),
                F.lit("Ã¶"),
            ),
            F.lit("u"),
            F.lit("â€¦"),
        ),
        F.lit(" "),
        F.lit("Â° "),
    )
    return extraction.fix_mojibake_df(
        docs.select("doc_id", corrupted.alias("text"))
    )


@register(
    "d94_intradoc_line_dedup",
    "WITHIN-document duplicate-line removal — the Gopher/Dolma "
    "intra-document pass (cheap sibling of the corpus-wide d62/d87): "
    "each doc keeps only the first occurrence of every distinct "
    "newline-delimited line it contains, survivors rejoined in order; "
    "cross-document repetition untouched. Pure higher-order-function "
    "arithmetic (split -> array_distinct, whose order-preserving "
    "first-occurrence semantics ARE the pass's rule -> array_join): "
    "one narrow codegen scan, NO shuffle at any corpus size "
    "(operators/dedup.intradoc_line_dedup). The driver corpus "
    "derives newline structure deterministically on both sides first "
    "(same literal-replace as d87/d89).",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   replace(COALESCE(text, ''), 'line', chr(10)) AS text
            FROM documents
        ),
        t AS (
            SELECT doc_id, string_split(text, chr(10)) AS lines FROM d
        ),
        l AS (
            SELECT doc_id, len(lines) AS n_lines,
                   i AS idx, lines[i+1] AS line
            FROM t, LATERAL (
                SELECT unnest(range(len(lines))) AS i
            ) g
        ),
        r AS (
            SELECT doc_id, n_lines, idx, line,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id, line ORDER BY idx
                   ) AS rk
            FROM l
        )
        SELECT doc_id,
               CAST(MAX(n_lines) AS BIGINT) AS n_lines,
               CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS kept_lines,
               COALESCE(string_agg(
                   CASE WHEN rk = 1 THEN line END, chr(10)
                   ORDER BY idx), '') AS text
        FROM r
        GROUP BY doc_id
    """,
    category="dedup",
)
def d94_intradoc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.replace(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("line"),
            F.lit("\n"),
        ).alias("text"),
    )
    return dedup.intradoc_line_dedup(docs)


@register(
    "d101_clean_text",
    "The COMPOSED web-text cleaning stage in its one correct order — "
    "strip_html -> fix_mojibake -> normalize_text "
    "(operators/extraction.clean_text) — the ordering contract the "
    "d92/d93/d74 stages individually leave to a docstring: extraction "
    "first so markup interrupting a mojibake pair is removed and "
    "entity-encoded NBSP re-forms the literal 'Ã'+U+00A0 pair the "
    "repair table matches (the &nbsp; entity decodes to U+00A0, the "
    "HTML5 decode, exactly for this reason); normalization LAST as "
    "the residue sweeper for the repair table's irrecoverable "
    "C1-control gaps. Both sides corrupt the corpus identically "
    "(HTML wrapper + entity-encoded 'Ã&nbsp;' mojibake + the d93 "
    "pair table), then the oracle replays the full three-stage chain "
    "in SQL, so the composition ORDER itself is hash-verified.",
    oracle=f"""
        WITH c AS (
            SELECT doc_id,
                   '{_sql_q(_HTML_PREFIX)}'
                   || replace(replace(replace(COALESCE(text, ''),
                       'line', '</p><p>'),
                       'o', 'Ã¶'),
                       ' ', 'Ã&nbsp; ') AS html
            FROM documents
        )
        SELECT doc_id,
               {_normalize_sql(_fix_mojibake_sql(_strip_html_sql(
                   "(html || '" + _sql_q(_HTML_SUFFIX) + "')")))}
                   AS text
        FROM c
    """,
    category="text",
)
def d101_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corrupted = F.concat(
        F.lit(_HTML_PREFIX),
        F.replace(
            F.replace(
                F.replace(
                    F.coalesce(F.col("text"), F.lit("")),
                    F.lit("line"),
                    F.lit("</p><p>"),
                ),
                F.lit("o"),
                F.lit("Ã¶"),
            ),
            F.lit(" "),
            F.lit("Ã&nbsp; "),
        ),
        F.lit(_HTML_SUFFIX),
    )
    return extraction.clean_text_df(
        docs.select("doc_id", corrupted.alias("html"))
    )


#: d102 crawl size — fixed like q70's synthetic source (the source IS
#: the dataset; sf_dir scales the parquet corpus, not the crawl stub).
_WARC_ROWS = 400


@register(
    "d102_warc_extract",
    "WARC record source -> HTML extraction — the actual HEAD of a "
    "web-curation pipeline (crawl corpora arrive as concatenated "
    "WARC/1.0 records, not pre-extracted HTML columns): a "
    "partition-planned Python Data Source (the q70 pattern) "
    "synthesizes its id-slice of the crawl deterministically and a "
    "REAL incremental WARC parser walks the concatenated bytes — "
    "record heads, CRLF headers, byte-exact Content-Length slicing "
    "(the body embeds a multibyte 'é' so byte-vs-char arithmetic is "
    "load-bearing), warcinfo/request records skipped, HTTP envelope "
    "stripped (sources/warc.parse_warc_records). The oracle replays "
    "the RECORD SPLIT itself in SQL: it rebuilds the concatenated "
    "stream from range(), splits on the WARC/1.0 magic, filters "
    "response records, peels the envelope by the same blank-line "
    "discipline, and applies the identical strip_html chain.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range({_WARC_ROWS})) AS i),
        h AS (SELECT i, md5(CAST(i AS VARCHAR)) AS hx FROM ids),
        crlf AS (SELECT chr(13) || chr(10) AS c),
        recs AS (
            SELECT i,
                CASE WHEN i % 5 = 0 THEN
                    'WARC-Type: request' || c ||
                    'WARC-Target-URI: https://example.org/doc/' || i
                    || c || 'Content-Length: 44' || c || c ||
                    'GET /doc HTTP/1.1' || c || 'Host: example.org'
                    || c || c || c || c || 'WARC/1.0' || c
                ELSE '' END ||
                'WARC-Type: response' || c ||
                'WARC-Record-ID: <urn:uuid:' || lpad(CAST(i AS VARCHAR),
                    32, '0') || '>' || c ||
                'WARC-Target-URI: https://example.org/doc/' || i || c ||
                'Content-Length: 0' || c || c ||
                'HTTP/1.1 200 OK' || c || 'Content-Type: text/html'
                || c || c ||
                '<html><head><title>Doc ' || i || '</title>' ||
                '<script>if (1<2) {{ spam(); }}</script></head>' ||
                '<body><!-- crawl ' || i || ' --><p>alpha ' ||
                substr(hx, 1, 8) || ' &amp; café</p><p>beta ' ||
                substr(hx, 9, 8) || '</p></body></html>' || c || c
            AS rec
            FROM h CROSS JOIN crlf
        ),
        stream AS (
            SELECT string_agg('WARC/1.0' || c || rec, '' ORDER BY i)
                AS s
            FROM recs CROSS JOIN crlf GROUP BY c
        ),
        frags AS (
            SELECT unnest(string_split(s, 'WARC/1.0' || c)) AS frag
            FROM stream CROSS JOIN crlf
        ),
        resp AS (
            SELECT frag,
                   string_split(frag, c || c) AS parts,
                   regexp_extract(frag,
                       'WARC-Target-URI: (\\S+)', 1) AS url
            FROM frags CROSS JOIN crlf
            WHERE frag LIKE '%WARC-Type: response%'
        )
        SELECT url,
               CAST(regexp_extract(parts[2],
                   'HTTP/1.1 (\\d+)', 1) AS INT) AS http_status,
               {_strip_html_sql("parts[3]")} AS text
        FROM resp
    """,
    category="source",
)
def d102_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.sources.warc import register_warc_datasource

    register_warc_datasource(spark)
    crawl = (
        spark.read.format("synthetic_warc")
        .option("rows", _WARC_ROWS)
        .option("partitions", 8)
        .load()
    )
    return crawl.select(
        "url",
        "http_status",
        extraction.strip_html("html").alias("text"),
    )


def _warc_html_sql(i: str) -> str:
    """DuckDB replay of sources/warc.synthetic_html for id expression
    ``i`` (plain string — literal braces stay single)."""
    md = f"md5(CAST({i} AS VARCHAR))"
    return (
        "('<html><head><title>Doc ' || " + i + " || '</title>"
        "<script>if (1<2) { spam(); }</script></head>"
        "<body><!-- crawl ' || " + i + " || ' --><p>alpha ' || "
        "substr(" + md + ", 1, 8) || ' &amp; café</p><p>beta ' || "
        "substr(" + md + ", 9, 8) || '</p></body></html>')"
    )


@register(
    "d103_crawl_to_corpus",
    "The crawl-HEAD-to-corpus chain end to end: WARC record source "
    "(with the duplicate structure real crawls have — every 7th page "
    "byte-mirrors its predecessor under a different URL, the "
    "source's dupEvery option) -> real-parser record split -> "
    "strip_html extraction -> token-count gate -> EXACT dedup on the "
    "extracted text (md5 fingerprint key, min-URL representative, "
    "copy counts) — i.e. the d53/d97 curation discipline starting "
    "from raw crawl bytes instead of a pre-extracted column. The "
    "oracle regenerates every page (including the mirror rule) from "
    "range(), replays the identical extraction chain, and re-derives "
    "the whole dedup decision table in SQL.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range({_WARC_ROWS})) AS i),
        pages AS (
            SELECT 'https://example.org/doc/' || i AS url,
                   CASE WHEN i % 7 = 6 AND i > 0
                        THEN {_warc_html_sql("(i - 1)")}
                        ELSE {_warc_html_sql("i")} END AS html
            FROM ids
        ),
        txt AS (
            SELECT url, {_strip_html_sql("html")} AS text FROM pages
        ),
        gated AS (SELECT * FROM txt WHERE {SQL_NTOKS} >= 5)
        SELECT MIN(url) AS keep_url,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(MAX(length(text)) AS BIGINT) AS text_len
        FROM gated
        GROUP BY md5(text)
        ORDER BY keep_url
    """,
    category="dedup",
)
def d103_crawl_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.sources.warc import register_warc_datasource

    register_warc_datasource(spark)
    crawl = (
        spark.read.format("synthetic_warc")
        .option("rows", _WARC_ROWS)
        .option("partitions", 8)
        .option("dupEvery", 7)
        .load()
    )
    txt = crawl.select(
        "url", extraction.strip_html("html").alias("text")
    )
    gated = txt.filter(text.token_count("text") >= 5)
    # dedup keyed on the md5 fingerprint, not the text itself — the
    # shuffle ships 32 hex chars + url, never page bodies
    return (
        gated.groupBy(F.md5("text").alias("_fp"))
        .agg(
            F.min("url").alias("keep_url"),
            F.count("*").alias("n_copies"),
            F.max(F.length("text")).alias("text_len"),
        )
        .select("keep_url", "n_copies", "text_len")
    )


@register(
    "d111_wet_to_corpus",
    "WET (extracted-text) crawl head — the entry point text-first "
    "Common Crawl consumers actually read: '.wet' files carry "
    "WARC/1.0 CONVERSION records (plain-text bodies, Content-Type: "
    "text/plain, NO embedded HTTP envelope — the parser must not peel "
    "bytes it peels from response records), so the pipeline starts at "
    "the token gate and exact dedup directly, skipping extraction. "
    "Same partition-planned synthesize+REAL-parse source shape as "
    "d102 (sources/warc.WetDataSource / synthetic_wet_record), with "
    "the every-7th-mirror duplicate structure; the oracle regenerates "
    "every conversion body from range() (newline-joined title+"
    "paragraph lines with the multibyte 'é' keeping Content-Length "
    "byte arithmetic load-bearing) and re-derives the gate+dedup "
    "decision table in SQL.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range({_WARC_ROWS})) AS i),
        base AS (
            SELECT i, CASE WHEN i % 7 = 6 AND i > 0 THEN i - 1
                           ELSE i END AS src_i
            FROM ids
        ),
        pages AS (
            SELECT 'https://example.org/doc/' || i AS url,
                   'Doc ' || src_i || chr(10) ||
                   'alpha ' || substr(md5(CAST(src_i AS VARCHAR)), 1, 8)
                   || ' & café' || chr(10) ||
                   'beta ' || substr(md5(CAST(src_i AS VARCHAR)), 9, 8)
                       AS text
            FROM base
        ),
        gated AS (SELECT * FROM pages WHERE {SQL_NTOKS} >= 5)
        SELECT MIN(url) AS keep_url,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(MAX(length(text)) AS BIGINT) AS text_len
        FROM gated
        GROUP BY md5(text)
        ORDER BY keep_url
    """,
    category="dedup",
)
def d111_wet_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.sources.warc import register_wet_datasource

    register_wet_datasource(spark)
    wet = (
        spark.read.format("synthetic_wet")
        .option("rows", _WARC_ROWS)
        .option("partitions", 8)
        .option("dupEvery", 7)
        .load()
    )
    gated = wet.filter(text.token_count("text") >= 5)
    # the d103 dedup discipline, minus the extraction stage WET
    # already paid: fingerprint in-scan, shuffle (32-hex, url) pairs
    return (
        gated.groupBy(F.md5("text").alias("_fp"))
        .agg(
            F.min("url").alias("keep_url"),
            F.count("*").alias("n_copies"),
            F.max(F.length("text")).alias("text_len"),
        )
        .select("keep_url", "n_copies", "text_len")
    )


def _stage_wet_files(rows: int, dup_every: int) -> str:
    """Get-or-create the on-disk ``.wet`` fixture: the synthesizer's
    OWN bytes written to real files (sources/warc.
    write_synthetic_crawl_files), so file-mode reads are checkable
    byte-for-byte against synth mode and the d111 oracle. Content is a
    pure function of (rows, dup_every) — a populated directory is
    always valid, whatever session wrote it."""
    import os
    import tempfile

    from etl_example_spark.sources.warc import write_synthetic_crawl_files

    out = os.path.join(
        tempfile.gettempdir(), f"wet_fixture_{rows}_{dup_every}"
    )
    if not (
        os.path.isdir(out)
        and len([p for p in os.listdir(out) if p.endswith(".wet")]) == 4
    ):
        write_synthetic_crawl_files(
            out, rows=rows, n_files=4, dup_every=dup_every, wet=True
        )
    return out


@register(
    "d115_wet_files_to_corpus",
    "FILE-BACKED WET crawl head — the production front door d111's "
    "synth mode stands in for, now executed: real '.wet' files on "
    "disk (the synthesizer's bytes written out via sources/warc."
    "write_synthetic_crawl_files — byte-identical input, different "
    "I/O path), read through option('path', dir) as one ranged-read "
    "partition per file (sources/warc.parse_warc_file_slice: chunked "
    "incremental reads, head-offset record ownership, per-partition "
    "I/O ~ slice size + one record overhang — never the file tail). "
    "Downstream is d111's exact gate+dedup pipeline, and the oracle "
    "is d111's oracle verbatim, so a hash match proves file-mode == "
    "synth-mode == SQL re-derivation on the same records. At 100 TB "
    "this is the real layout: a crawl bucket of ~1 GB .wet files, "
    "one partition each (maxPartitionBytes slicing opt-in for "
    "stragglers), the parser resync-safe against damaged records.",
    oracle=f"""
        WITH ids AS (SELECT unnest(range({_WARC_ROWS})) AS i),
        base AS (
            SELECT i, CASE WHEN i % 7 = 6 AND i > 0 THEN i - 1
                           ELSE i END AS src_i
            FROM ids
        ),
        pages AS (
            SELECT 'https://example.org/doc/' || i AS url,
                   'Doc ' || src_i || chr(10) ||
                   'alpha ' || substr(md5(CAST(src_i AS VARCHAR)), 1, 8)
                   || ' & café' || chr(10) ||
                   'beta ' || substr(md5(CAST(src_i AS VARCHAR)), 9, 8)
                       AS text
            FROM base
        ),
        gated AS (SELECT * FROM pages WHERE {SQL_NTOKS} >= 5)
        SELECT MIN(url) AS keep_url,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(MAX(length(text)) AS BIGINT) AS text_len
        FROM gated
        GROUP BY md5(text)
        ORDER BY keep_url
    """,
    category="dedup",
    bench=True,  # the file-backed crawl front door
)
def d115_wet_files_to_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.sources.warc import register_wet_datasource

    register_wet_datasource(spark)
    wet = (
        spark.read.format("synthetic_wet")
        .option("path", _stage_wet_files(_WARC_ROWS, 7))
        .load()
    )
    gated = wet.filter(text.token_count("text") >= 5)
    return (
        gated.groupBy(F.md5("text").alias("_fp"))
        .agg(
            F.min("url").alias("keep_url"),
            F.count("*").alias("n_copies"),
            F.max(F.length("text")).alias("text_len"),
        )
        .select("keep_url", "n_copies", "text_len")
    )


@register(
    "d114_reproducible_shuffle",
    "EPOCH-REPRODUCIBLE training-data shuffle + round-robin shard "
    "striping — the export-order primitive a training launch needs "
    "(data order affects the run; reproducing a run requires "
    "reproducing the order; no engine's built-in shuffle is "
    "deterministic across cluster shapes): every document's global "
    "position in an md5-derived pseudo-random total order, computed "
    "by the deterministic two-pass rank (functions/rank."
    "global_row_number — no single-task sort; the hash key is "
    "engine-portable hex arithmetic, the d54/hashed-bucket "
    "discipline), then shard = (pos-1) mod 8 stripes round-robin so "
    "shards are balanced to ±1 document and reading shards "
    "round-robin replays the exact global order. The oracle states "
    "the same order as ROW_NUMBER over (hash, id).",
    oracle="""
        WITH h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                        1, 15)) AS BIGINT) AS hk
            FROM documents
        ),
        r AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (
                       ORDER BY hk NULLS LAST, doc_id NULLS LAST
                   ) AS pos
            FROM h
        )
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               CAST((pos - 1) % 8 AS BIGINT) AS shard,
               CAST((pos - 1) // 8 + 1 AS BIGINT) AS pos_in_shard
        FROM r ORDER BY pos
    """,
    category="dedup",
)
def d114_reproducible_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.functions.rank import Ord, global_row_number

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("hk"),
    )
    ranked = global_row_number(
        keyed,
        [Ord("hk", nulls_last=True), Ord("doc_id", nulls_last=True)],
        out="pos",
    )
    return ranked.select(
        "doc_id",
        "pos",
        ((F.col("pos") - 1) % 8).cast("long").alias("shard"),
        (
            F.floor((F.col("pos") - 1) / 8) + 1
        ).cast("long").alias("pos_in_shard"),
    ).orderBy("pos")


@register(
    "d104_corpus_snapshot_diff",
    "Corpus VERSION diff — the data-versioning primitive a "
    "periodically-recrawled corpus needs before retraining: classify "
    "every doc id across two snapshots as added / removed / changed / "
    "unchanged. Both sides fingerprint (md5) INSIDE their scans, so "
    "the full-outer join ships (id, 32-hex) pairs, never text; "
    "id-bucketed snapshots diff with no shuffle at all. Snapshots are "
    "derived deterministically (v1 drops id%%11==0, v2 drops "
    "id%%17==0 and rewrites id%%13==0 content), so the oracle "
    "re-derives the whole per-document decision table "
    "(operators/corpus.snapshot_diff).",
    oracle="""
        WITH v1 AS (
            SELECT doc_id, md5(COALESCE(text, '')) AS fp
            FROM documents WHERE doc_id % 11 != 0
        ),
        v2 AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 13 = 0
                            THEN COALESCE(text, '') || ' v2'
                            ELSE COALESCE(text, '') END) AS fp
            FROM documents WHERE doc_id % 17 != 0
        )
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN v1.doc_id IS NULL THEN 'added'
                    WHEN v2.doc_id IS NULL THEN 'removed'
                    WHEN v1.fp = v2.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        ORDER BY doc_id
    """,
    category="dedup",
)
def d104_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.corpus import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 11 != 0)
    v2 = docs.filter(F.col("doc_id") % 17 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")
            ),
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(v1, v2)


def _demo_host_col() -> "F.Column":
    """The deterministic doc_id->host derivation shared by the
    domain-keyed registrations (d105 rollup, d108 scorecard): covers
    multi-label public suffix (*.sites.co.uk -> co.uk), platform
    suffix (github.io), unknown-TLD fallback, and suffix-only host."""
    return (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("news"),
                (F.col("doc_id") % 6).cast("string"),
                F.lit(".sites.co.uk"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("u"),
                (F.col("doc_id") % 9).cast("string"),
                F.lit(".github.io"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("cdn.shop"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.com"),
            ),
        )
        .otherwise(
            F.when(F.col("doc_id") % 8 == 3, F.lit("github.io")).otherwise(
                F.concat(
                    F.lit("x.y.internal"),
                    (F.col("doc_id") % 3).cast("string"),
                )
            )
        )
    )



def _psl_domain_ctes() -> str:
    """hosts -> registrable domain as DuckDB CTEs (the d105 list
    algebra, shared verbatim by d108): yields a relation ``dom`` with
    (doc_id, text, host, domain). ``text`` rides the whole chain so
    d108 computes its per-doc signals FROM dom directly — join-free,
    exactly like the engine's in-row path (a NULL-safe re-join to
    documents would be many-to-many on duplicate NULL ids and inflate
    the NULL-domain group k-fold)."""
    return f"""
        hosts AS (
            SELECT doc_id, text,
                   CASE doc_id % 4
                        WHEN 0 THEN 'news' || CAST(doc_id % 6 AS VARCHAR)
                                    || '.sites.co.uk'
                        WHEN 1 THEN 'u' || CAST(doc_id % 9 AS VARCHAR)
                                    || '.github.io'
                        WHEN 2 THEN 'cdn.shop' || CAST(doc_id % 5 AS VARCHAR)
                                    || '.example.com'
                        ELSE CASE WHEN doc_id % 8 = 3
                                  THEN 'github.io'
                                  ELSE 'x.y.internal' || CAST(doc_id % 3 AS VARCHAR)
                             END
                   END AS host
            FROM documents
        ),
        parts AS (
            SELECT doc_id, text, host,
                   string_split(lower(host), '.') AS labels
            FROM hosts
        ),
        psl_m AS (
            SELECT doc_id, text, host, labels, len(labels) AS n,
                   list_filter(
                       list_transform(range(1, len(labels) + 1),
                           k -> array_to_string(
                               labels[(len(labels)-k+1):(len(labels))],
                               '.')),
                       s -> list_contains(
                           {list(text.PUBLIC_SUFFIXES)!r}, s)
                   ) AS matched
            FROM parts
        ),
        reg AS (
            SELECT doc_id, text, host, labels, n,
                   COALESCE(matched[-1], labels[n]) AS suffix
            FROM psl_m
        ),
        dom AS (
            SELECT doc_id, text, host,
                   CASE WHEN n > len(string_split(suffix, '.'))
                        THEN labels[n - len(string_split(suffix, '.'))]
                             || '.' || suffix
                        ELSE NULL END AS domain
            FROM reg
        )"""



@register(
    "d105_registrable_domain_rollup",
    "Registrable-domain ('eTLD+1') extraction + rollup — the grouping "
    "key per-domain curation policy actually wants: host caps (d64) "
    "under-group subdomains of one registrant, and naive last-two-"
    "labels grouping merges every co.uk site into one pseudo-domain "
    "while hiding that each *.github.io label is a DIFFERENT "
    "registrant. PSL longest-match as pure in-row column algebra "
    "(operators/text.registrable_domain): label-suffixes shortest-to-"
    "longest via one transform, array_contains filter against the "
    "broadcast suffix table, last match wins, bare-TLD fallback, "
    "host-is-a-suffix -> NULL (the PSL contract). Hosts are derived "
    "deterministically to cover all four cases (multi-label suffix, "
    "platform suffix, unknown TLD fallback, suffix-only host); the "
    "oracle replays the identical list algebra in DuckDB.",
    oracle=f"""
        WITH {_psl_domain_ctes()}
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts
        FROM dom
        GROUP BY domain
        ORDER BY domain NULLS LAST
    """,
    category="text",
)
def d105_registrable_domain_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", _demo_host_col().alias("host"))
        .select(
            "host", text.registrable_domain("host").alias("domain")
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


# --- d106/d107: hashed-linear classifier TRAINING (batch perceptron) -----

_PTRON_DIM = 64
_PTRON_EPOCHS = 3


def _perceptron_label() -> "F.Column":
    """The demo training target: lang = 'en' (binary one-vs-rest, the
    fastText language/quality-gate shape). NULL lang falls to −1 on
    both engines (CASE semantics)."""
    return F.col("lang") == "en"


def _perceptron_ctes(dim: int, epochs: int) -> str:
    """The WHOLE training run unrolled as chained CTEs (the d76
    bpe_train / g01 pagerank discipline): w0 is all-zero; epoch e
    scores every document under w{e-1}, sums y·count over the
    misclassified (y·score ≤ 0), and folds the update in. Integer
    arithmetic throughout — the unroll is hash-exact, not approximate.
    Joins on doc_id use IS NOT DISTINCT FROM so NULL-id degenerate
    rows group-and-join identically to Spark's groupBy semantics."""
    ctes = f"""
        lab AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
                   {SQL_TOKS} AS toks
            FROM documents
        ),
        cnt AS (
            SELECT doc_id, y,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
                       % {dim} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT doc_id, y, unnest(toks) AS tok FROM lab)
            GROUP BY 1, 2, 3
        ),
        feat AS (
            SELECT * FROM cnt
            UNION ALL
            SELECT doc_id, y, CAST({dim} AS BIGINT) AS bucket,
                   CAST(1 AS BIGINT) AS c
            FROM lab
        ),
        w0 AS (
            SELECT CAST(unnest(range({dim + 1})) AS BIGINT) AS bucket,
                   CAST(0 AS BIGINT) AS w
        )"""
    for e in range(1, epochs + 1):
        ctes += f""",
        s{e} AS (
            SELECT f.doc_id, f.y, SUM(w.w * f.c) AS s
            FROM feat f JOIN w{e - 1} w USING (bucket)
            GROUP BY 1, 2
        ),
        u{e} AS (
            SELECT f.bucket, SUM(f.y * f.c) AS u
            FROM feat f
            JOIN s{e} s ON f.doc_id IS NOT DISTINCT FROM s.doc_id
                       AND f.y = s.y
            WHERE s.y * s.s <= 0
            GROUP BY 1
        ),
        w{e} AS (
            SELECT w.bucket, w.w + COALESCE(u.u, 0) AS w
            FROM w{e - 1} w LEFT JOIN u{e} u USING (bucket)
        )"""
    return ctes


@register(
    "d106_perceptron_train",
    "Hashed-linear classifier TRAINING as a batch perceptron — the "
    "trainer behind the d73-style quality/language gates, integer-exact "
    "end to end so the WHOLE training run is externally hash-verified "
    "(the oracle unrolls every epoch as chained CTEs, the d76/g01 "
    "discipline). Per epoch: the grouped feature matrix (materialized "
    "once) is re-scanned with the model riding in as a literal 65-int "
    "array (no join — in-row aggregate under whole-stage codegen); the "
    "batch update sums y*count over misclassified docs, shuffling only "
    "(bucket, partial) pairs; the driver holds the dim+1-entry model — "
    "the parameter-server pattern with a bounded server "
    "(operators/text.perceptron_train).",
    oracle=f"""
        WITH {_perceptron_ctes(_PTRON_DIM, _PTRON_EPOCHS)}
        SELECT bucket, CAST(w AS BIGINT) AS w FROM w{_PTRON_EPOCHS}
        WHERE w <> 0 ORDER BY bucket
    """,
    category="text",
    bench=True,  # the training cost class: epochs x corpus scan
)
def d106_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = text.perceptron_train(
        docs, _perceptron_label(), dim=_PTRON_DIM, epochs=_PTRON_EPOCHS
    )
    rows = [(b, wv) for b, wv in sorted(w.items())]
    return local_df(spark, rows, "bucket long, w long").orderBy(
        "bucket"
    )


@register(
    "d107_perceptron_gate",
    "Fit-then-apply classifier gate: train the d106 batch perceptron, "
    "then score EVERY document under the trained model as zero-join "
    "inference (literal weight array evaluated in-row; the doc-keyed "
    "aggregate ships (doc_id, long) pairs only) — the end-to-end "
    "train->deploy chain of a fastText-style curation gate, with the "
    "whole decision table (score, prediction, agreement with the "
    "training label) externally hash-verified "
    "(operators/text.perceptron_train + hashed_label_features).",
    oracle=f"""
        WITH {_perceptron_ctes(_PTRON_DIM, _PTRON_EPOCHS)}
        SELECT f.doc_id,
               f.y,
               CAST(SUM(w.w * f.c) AS BIGINT) AS score,
               SUM(w.w * f.c) > 0 AS pred,
               (SUM(w.w * f.c) > 0) = (f.y = 1) AS correct
        FROM feat f JOIN w{_PTRON_EPOCHS} w USING (bucket)
        GROUP BY f.doc_id, f.y
        ORDER BY f.doc_id, f.y
    """,
    category="text",
)
def d107_perceptron_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = text.perceptron_train(
        docs, _perceptron_label(), dim=_PTRON_DIM, epochs=_PTRON_EPOCHS
    )
    arr = text._weight_array(w, _PTRON_DIM)
    feat = text.hashed_label_features(
        docs, _perceptron_label(), dim=_PTRON_DIM
    )
    return (
        feat.withColumn(
            "wv",
            F.element_at(arr, (F.col("bucket") + 1).cast("int"))
            * F.col("c"),
        )
        .groupBy("doc_id", "y")
        .agg(F.sum("wv").cast("long").alias("score"))
        .withColumn("pred", F.col("score") > 0)
        .withColumn("correct", F.col("pred") == (F.col("y") == 1))
        .orderBy("doc_id", "y")
    )


# --- d112/d113: TRAINED multi-class language ID (one-vs-rest) ------------

_LANGID_LANGS: tuple[str, ...] = ("de", "en", "es", "fr", "zh")

#: per-language FUNCTION-WORD markers — the signal real language ID
#: keys on (closed-class word distributions). The synthetic corpus's
#: lang label is UNCORRELATED with its English-ish token soup (measured:
#: the one-vs-rest sweep on raw text converges to the majority class at
#: 43% accuracy — there is nothing to learn), so the demo appends each
#: document's function words once and the external hash then verifies
#: the trainer RECOVERS the signal (d113 asserts high accuracy in
#: tests). Shared words across languages ('la' es/fr, 'de'/'le')
#: keep the task non-trivially separable, like real Romance-language ID.
_LANGID_MARKERS: dict[str, str] = {
    "de": "der die das und ist",
    "en": "the of and to is",
    "es": "el la de que y",
    "fr": "le la et les des",
    "zh": "de shi zai le wo",
}


def _langid_marker_sql() -> str:
    """DuckDB twin of :func:`_langid_marked`'s CASE."""
    whens = " ".join(
        f"WHEN '{lang}' THEN ' {_LANGID_MARKERS[lang]}'"
        for lang in _LANGID_LANGS
    )
    return f"text || CASE lang {whens} ELSE '' END"


def _langid_marked(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, text) with the language's function words appended
    once — NULL text stays NULL (both engines' concat semantics), NULL
    lang appends nothing."""
    marker = F.lit("")
    for lang in reversed(_LANGID_LANGS):
        marker = F.when(
            F.col("lang") == lang, F.lit(" " + _LANGID_MARKERS[lang])
        ).otherwise(marker)
    return docs.select(
        "doc_id", "lang", F.concat(F.col("text"), marker).alias("text")
    )


_LANGID_DIM = 64


def _langid_ctes(dim: int, langs: tuple[str, ...]) -> str:
    """The whole Naive-Bayes FIT replayed as CTEs: per-(class, bucket)
    token counts over the marked text, add-one-smoothed micro log-probs
    on the full class × bucket grid, and micro log-priors — the
    d83/d98 ROUND(ln(x),6)·1e6 micro-nat discipline. A class with zero
    labeled documents gets no grid rows and no prior (untrainable —
    matching the engine's trained-classes-only model)."""
    in_list = ", ".join(f"'{lang}'" for lang in langs)
    return f"""
        mk AS (
            SELECT doc_id, lang, {_langid_marker_sql()} AS text
            FROM documents
        ),
        lab AS (SELECT doc_id, lang, {SQL_TOKS} AS toks FROM mk),
        tb AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
                       % {dim} AS bucket
            FROM (SELECT doc_id, lang, unnest(toks) AS tok FROM lab)
        ),
        cb AS (
            SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS c
            FROM tb WHERE lang IN ({in_list}) GROUP BY 1, 2
        ),
        nd AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
            FROM documents GROUP BY lang
        ),
        nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        cls AS (SELECT lang FROM nd WHERE lang IN ({in_list})),
        lt AS (
            SELECT cls.lang, COALESCE(SUM(cb.c), 0) AS t
            FROM cls LEFT JOIN cb USING (lang) GROUP BY 1
        ),
        grid AS (
            SELECT cls.lang, CAST(g.b AS BIGINT) AS bucket
            FROM cls CROSS JOIN (
                SELECT unnest(range({dim})) AS b
            ) g
        ),
        w AS (
            SELECT g.lang, g.bucket,
                   CAST(CAST(ROUND(ln((COALESCE(cb.c, 0) + 1)
                        / (lt.t + {dim})), 6) AS DECIMAL(18,6))
                        * 1000000 AS BIGINT) AS w
            FROM grid g
            JOIN lt USING (lang)
            LEFT JOIN cb ON cb.lang = g.lang AND cb.bucket = g.bucket
        ),
        prior AS (
            SELECT nd.lang,
                   CAST(CAST(ROUND(ln(nd.n_l / nt.n), 6)
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS p
            FROM nd CROSS JOIN nt WHERE nd.lang IN ({in_list})
        )"""


@register(
    "d112_langid_train",
    "TRAINED language-ID, the fit half: multinomial NAIVE BAYES over "
    "hashed token buckets (the TextCat/langid.py model class — one "
    "hashed-BoW log-prob profile per language), replacing the d29 "
    "n-gram HEURISTIC with a model fit on the corpus labels. The "
    "synthetic corpus's lang label is uncorrelated with its token "
    "soup (the one-vs-rest perceptron was measured stuck at the "
    "majority class), so the demo appends each language's function "
    "words once — the closed-class signal real language ID keys on — "
    "and the external hash verifies the fit RECOVERS it. Fit IS "
    "counting: one partial-aggregating corpus pass to a <= 5x64-row "
    "collect (model-sized driver traffic), add-one-smoothed micro "
    "log-probs + micro log-priors in exact integers (the d83/d98 "
    "micro-nat discipline); the oracle replays count, smoothing, and "
    "rounding on the full class x bucket grid "
    "(operators/text.nb_langid_train).",
    oracle=f"""
        WITH {_langid_ctes(_LANGID_DIM, _LANGID_LANGS)}
        SELECT lang, bucket, w FROM w
        UNION ALL
        SELECT lang, CAST(-1 AS BIGINT) AS bucket, p AS w FROM prior
        ORDER BY lang, bucket
    """,
    category="text",
)
def d112_langid_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _langid_marked(load_table(spark, sf_dir, "documents"))
    weights, priors = text.nb_langid_train(
        docs, _LANGID_LANGS, dim=_LANGID_DIM
    )
    rows = [
        (lang, -1, priors[lang]) for lang in sorted(weights)
    ] + [
        (lang, b, wv)
        for lang in sorted(weights)
        for b, wv in enumerate(weights[lang])
    ]
    return spark.createDataFrame(
        rows, "lang string, bucket long, w long"
    ).orderBy("lang", "bucket")


def _langid_score_sql(lang: str, dim: int) -> str:
    """One language's in-row NB log-posterior: prior + list-fold of the
    dense weight list over the hashed token stream — per-ROW list
    algebra, mirroring the engine's zero-shuffle aggregate exactly (no
    doc-keyed grouping, so NULL-id degenerate rows never collapse)."""
    return (
        f"p_{lang} + COALESCE(list_sum(list_transform(l.toks, "
        f"zz_t -> ws_{lang}[CAST(('0x' || substr(md5(zz_t), 1, 8)) "
        f"AS BIGINT) % {dim} + 1])), 0)"
    )


@register(
    "d113_langid_gate",
    "TRAINED language-ID, the apply half: every document scores under "
    "ALL FIVE Naive-Bayes profiles IN-ROW in one scan (five literal "
    "dense weight arrays folded over the hashed token stream + the "
    "priors — ZERO joins, ZERO shuffles: multi-class inference over "
    "100 TB is a pure map stage), argmax picks the predicted language "
    "(ties -> lexicographically smallest, the rule both engines state "
    "as the same CASE chain), and the decision table carries all five "
    "micro-nat posteriors plus agreement with the training label — "
    "accuracy is asserted >= 95% in tests, i.e. the model "
    "demonstrably LEARNS the function-word signal (the d29 "
    "heuristic's trained successor; operators/text.nb_langid_train + "
    "nb_langid_scores). An untrained class scores NULL on both "
    "engines.",
    oracle=f"""
        WITH {_langid_ctes(_LANGID_DIM, _LANGID_LANGS)},
        wl AS (
            SELECT lang, list(w ORDER BY bucket) AS ws
            FROM w GROUP BY lang
        ),
        mdl AS (
            SELECT
                {", ".join(
                    f"(SELECT ws FROM wl WHERE lang = '{lang}') "
                    f"AS ws_{lang}, "
                    f"(SELECT p FROM prior WHERE lang = '{lang}') "
                    f"AS p_{lang}"
                    for lang in _LANGID_LANGS
                )}
        ),
        sc AS (
            SELECT l.doc_id, l.lang,
                   {", ".join(
                       f"CAST({_langid_score_sql(lang, _LANGID_DIM)} "
                       f"AS BIGINT) AS s_{lang}"
                       for lang in _LANGID_LANGS
                   )}
            FROM lab l CROSS JOIN mdl
        ),
        dec AS (
            SELECT doc_id, lang,
                   {", ".join(f"s_{lang}" for lang in _LANGID_LANGS)},
                   CASE
                       WHEN s_de >= s_en AND s_de >= s_es
                            AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                       WHEN s_en >= s_es AND s_en >= s_fr
                            AND s_en >= s_zh THEN 'en'
                       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                       WHEN s_fr >= s_zh THEN 'fr'
                       ELSE 'zh'
                   END AS pred_lang
            FROM sc
        )
        SELECT doc_id, lang,
               {", ".join(f"s_{lang}" for lang in _LANGID_LANGS)},
               pred_lang,
               pred_lang IS NOT DISTINCT FROM lang AS correct
        FROM dec
        ORDER BY doc_id
    """,
    category="text",
)
def d113_langid_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _langid_marked(load_table(spark, sf_dir, "documents"))
    weights, priors = text.nb_langid_train(
        docs, _LANGID_LANGS, dim=_LANGID_DIM
    )
    scored = docs.select(
        "doc_id",
        "lang",
        *text.nb_langid_scores(
            _LANGID_LANGS, weights, priors, dim=_LANGID_DIM
        ),
    )
    s = {lang: F.col(f"s_{lang}") for lang in _LANGID_LANGS}
    pred = (
        F.when(
            (s["de"] >= s["en"]) & (s["de"] >= s["es"])
            & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]),
            F.lit("de"),
        )
        .when(
            (s["en"] >= s["es"]) & (s["en"] >= s["fr"])
            & (s["en"] >= s["zh"]),
            F.lit("en"),
        )
        .when((s["es"] >= s["fr"]) & (s["es"] >= s["zh"]), F.lit("es"))
        .when(s["fr"] >= s["zh"], F.lit("fr"))
        .otherwise(F.lit("zh"))
    )
    return (
        scored.withColumn("pred_lang", pred)
        .withColumn(
            "correct", F.col("pred_lang").eqNullSafe(F.col("lang"))
        )
        .orderBy("doc_id")
    )


@register(
    "s54_phrase_search",
    "Exact phrase search over a POSITIONAL postings index — the query "
    "class frequency-only postings (s51/s53) cannot answer: a document "
    "matches at p iff phrase term i occurs at p+i for all i, evaluated "
    "as the shifted intersection of per-term position lists (the "
    "classic positional-index algorithm as array algebra). The "
    "postings explode restricts to the phrase's terms INSIDE the scan "
    "(literal isin — nothing corpus-sized shuffles for a query); the "
    "oracle counts the same phrase starts by direct subscript scan, an "
    "independent formulation (operators/text.phrase_search).",
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
    category="similarity",
    bench=True,  # the positional-index serve path
)
def s54_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.phrase_search(docs, ["slow", "hash", "batch"]).orderBy(
        "doc_id"
    )


def _dct_from_px_ctes() -> str:
    """Shared m46/m51 oracle fragment: the pixels→pHash half of the
    DCT perceptual hash as WITH-body CTEs — expects an upstream CTE
    ``px(doc_id, v)`` with ``v`` the 64-entry pixel-byte list, ends in
    ``ph(doc_id, dct_hash)``. The integer basis is generated once in
    Python and inlined as the SAME literals the engine multiplies by
    (multimodal.dct_basis_int), so there is no cross-engine cosine to
    disagree on; the double sum is the direct O(64²) DCT definition,
    an independent formulation of the engine's matrix product (equal
    by integer associativity)."""
    basis = multimodal.dct_basis_int().tolist()
    b_lit = (
        "[" + ", ".join("[" + ", ".join(map(str, row)) + "]" for row in basis) + "]"
    )
    return f"""
        bm AS (SELECT {b_lit} AS b),
        cf AS (
            SELECT doc_id,
                   list_transform(range(64), q ->
                       list_sum(list_transform(range(64), p ->
                           b[q // 8 + 1][p // 8 + 1]
                           * b[q % 8 + 1][p % 8 + 1]
                           * v[p + 1]))) AS coef
            FROM px CROSS JOIN bm
        ),
        md AS (
            SELECT doc_id, coef,
                   list_sort(coef[2:64])[32] AS med
            FROM cf
        ),
        ph AS (
            SELECT doc_id,
                   CAST(list_sum(list_transform(range(1, 64), q ->
                       CASE WHEN coef[q + 1] > med
                            THEN CAST(1 AS BIGINT) << (q - 1)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
                       AS dct_hash
            FROM md
        )
    """


def _dct_oracle() -> str:
    """m46 oracle: the ENTIRE pHash — 64 pixel bytes from hex
    arithmetic, fixed-point 2-D DCT, median threshold — replayed in
    SQL. The integer basis is generated once in Python and inlined as
    the SAME literals the engine multiplies by (multimodal.
    dct_basis_int), so there is no cross-engine cosine to disagree
    on; the double sum is the direct O(64²) DCT definition, an
    independent formulation of the engine's matrix product (equal by
    integer associativity)."""
    return f"""
        WITH h AS (
            SELECT doc_id,
                   md5(COALESCE(text, ''))
                   || md5(COALESCE(text, '') || '1')
                   || md5(COALESCE(text, '') || '2')
                   || md5(COALESCE(text, '') || '3') AS hx
            FROM documents
        ),
        px AS (
            SELECT doc_id,
                   list_transform(range(64), k -> {_hex_byte("k")}) AS v
            FROM h
        ),
        {_dct_from_px_ctes()}
        SELECT doc_id, dct_hash FROM ph
        ORDER BY doc_id
    """


def m46_hash_frame(docs: DataFrame) -> DataFrame:
    """The m46 kernel as a reusable frame transform, so a benchmark
    never drifts from the op it measures (the round-10 scale script,
    ``git show 4218c3c:tools/scale_round10b_ops.py``, timed this frame):
    (doc_id, text) -> (doc_id, dct_hash) through md5-raster synthesis,
    the real JPEG round trip, 8x8 canonicalization, and the fixed-point
    DCT hash."""
    import hashlib

    import pandas as pd

    def hashes(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                base = (t or "").encode()
                d = b"".join(
                    hashlib.md5(base + s).digest()
                    for s in (b"", b"1", b"2", b"3")
                )
                vals = np.frombuffer(d, dtype=np.uint8).reshape(8, 8)
                img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                dec = multimodal.decode_media(
                    multimodal.encode_jpeg(img), "jpeg"
                )
                grid = multimodal.nn_resize(dec, 8, 8)
                rows.append((doc_id, multimodal.dct_phash(grid)))
            yield pd.DataFrame(rows, columns=["doc_id", "dct_hash"])

    return docs.select("doc_id", "text").mapInPandas(
        hashes, "doc_id long, dct_hash long"
    )



@register(
    "m46_dct_phash",
    "DCT perceptual hash (the pHash construction) through the REAL "
    "JPEG codec: each document's md5-derived 8x8 grayscale grid "
    "upscales to a 64x64 flat-block image, round-trips encode_jpeg -> "
    "decode (DC-exact for flat blocks) -> nn_resize back to 8x8, then "
    "hashes by FREQUENCY: fixed-point integer 2-D DCT-II, bit q set "
    "iff AC coefficient q exceeds the median of the 63 AC terms — the "
    "robustness step up from m44/m45's pixel-mean aHash (a brightness "
    "ramp flips half an aHash but barely moves the spectrum). The "
    "quantized basis makes the whole transform integer-exact, so the "
    "oracle replays pixels, DCT, median, and packing from hex "
    "arithmetic and shared basis literals "
    "(operators/multimodal.dct_phash / dct_basis_int).",
    oracle=_dct_oracle(),
    category="multimodal",
)
def m46_dct_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return m46_hash_frame(docs).orderBy("doc_id")


@register(
    "d108_domain_scorecard",
    "Per-registrable-domain curation SCORECARD — the decision table a "
    "domain blocklist/cap policy reads (the RefinedWeb-style move: "
    "curation decisions at domain granularity, not per document): for "
    "each eTLD+1, document and host counts, exact total tokens, how "
    "many docs pass a length+diversity gate (n_toks >= 5 AND distinct "
    "tokens >= half), and how many DISTINCT normalized texts the "
    "domain contributes (mirror/boilerplate domains score low). One "
    "scan, per-doc signals in-row, one domain-keyed aggregate; "
    "NULL domain (host IS a public suffix) groups explicitly and "
    "orders NULLS LAST on both engines "
    "(operators/text.registrable_domain + tokens).",
    oracle=f"""
        WITH {_psl_domain_ctes()},
        sig AS (
            -- join-free: text rides the dom CTE chain, so the oracle
            -- computes per-doc signals exactly like the engine's
            -- in-row path — no re-join to documents that a NULL-id
            -- degenerate doc could drop from (equi-join) or inflate
            -- k-fold (NULL-safe join over duplicate NULL ids)
            SELECT doc_id, host, domain,
                   len({SQL_TOKS}) AS n_toks,
                   len(list_distinct({SQL_TOKS})) AS n_distinct,
                   md5({SQL_NORM}) AS fp
            FROM dom
        )
        SELECT domain,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
               CAST(SUM(n_toks) AS BIGINT) AS total_toks,
               CAST(count_if(n_toks >= 5 AND 2 * n_distinct >= n_toks)
                    AS BIGINT) AS n_pass,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_texts
        FROM sig
        GROUP BY domain
        ORDER BY domain NULLS LAST
    """,
    category="text",
)
def d108_domain_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens("text")
    sig = docs.select(
        _demo_host_col().alias("host"),
        text.registrable_domain(_demo_host_col()).alias("domain"),
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        text.normalized_fingerprint("text").alias("fp"),
    )
    return (
        sig.groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("host").alias("n_hosts"),
            F.sum("n_toks").cast("long").alias("total_toks"),
            F.count_if(
                (F.col("n_toks") >= 5)
                & (2 * F.col("n_distinct") >= F.col("n_toks"))
            ).alias("n_pass"),
            F.countDistinct("fp").alias("n_distinct_texts"),
        )
        .orderBy(F.col("domain").asc_nulls_last())
    )


def _sq8_kmeans_oracle(k: int = 8, iters: int = 2) -> str:
    """s55 oracle: SQ8 encode + EVERY Lloyd iteration unrolled
    (assign by integer squared L2 with ties to the lower centroid id,
    update by per-dimension integer floor mean, empty cells keep the
    previous centroid) — the d76/g01/d106 unroll discipline applied
    to clustering."""
    ctes = SQ8_CODES_CTE.format(bounds_filter="") + f""",
    cent0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS centroid_id,
               codes AS cent
        FROM (SELECT vec_id, codes FROM c ORDER BY vec_id LIMIT {k})
    )"""
    # assignments run to iters+1: a{iters+1} is the re-assignment
    # under the FINAL centroids — the cell sizes the artifact reports
    # (the engine's contract: assignment state matches the shipped
    # centroids, not the pre-update ones)
    for e in range(1, iters + 2):
        ctes += f""",
    d{e} AS (
        SELECT c.vec_id, c.codes, s.centroid_id,
               list_sum(list_transform(range(len(c.codes)), i ->
                   CAST(c.codes[i+1] - s.cent[i+1] AS BIGINT)
                   * CAST(c.codes[i+1] - s.cent[i+1] AS BIGINT)))
                   AS d2
        FROM c CROSS JOIN cent{e - 1} s
    ),
    a{e} AS (
        SELECT vec_id, codes, centroid_id, d2 FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
            FROM d{e})
        WHERE rn = 1
    )"""
        if e == iters + 1:
            break
        ctes += f""",
    m{e} AS (
        SELECT centroid_id,
               list(CAST(sx // n AS INT) ORDER BY dim) AS cent
        FROM (
            SELECT centroid_id, r.i AS dim,
                   SUM(CAST(codes[r.i + 1] AS BIGINT)) AS sx,
                   COUNT(*) AS n
            FROM a{e}, unnest(range(len(codes))) AS r(i)
            GROUP BY 1, 2)
        GROUP BY centroid_id
    ),
    cent{e} AS (
        SELECT o.centroid_id, COALESCE(m.cent, o.cent) AS cent
        FROM cent{e - 1} o LEFT JOIN m{e} m USING (centroid_id)
    )"""
    return ctes + f""",
    members AS (
        SELECT centroid_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM a{iters + 1} GROUP BY 1
    )
    SELECT f.centroid_id,
           CAST(r.i AS INT) AS dim,
           f.cent[r.i + 1] AS val,
           COALESCE(m.n_members, 0) AS n_members
    FROM cent{iters} f
    CROSS JOIN unnest(range(len(f.cent))) AS r(i)
    LEFT JOIN members m USING (centroid_id)
    ORDER BY f.centroid_id, dim
    """


@register(
    "s55_sq8_kmeans",
    "Lloyd's k-means TRAINING over SQ8-quantized vectors, integer-"
    "exact end to end — the FAISS-style coarse-quantizer fit (cluster "
    "structure learned on compressed codes) as the one clustering "
    "path that externally HASH-verifies: integer squared-L2 assign "
    "(ties to the lower centroid), per-dimension floor-mean update, "
    "every iteration oracle-unrolled. Per iteration the k centroids "
    "broadcast into the code scan (argmin folds in-row via the packed "
    "min_by struct) and the update shuffles (cid, dim, partial) "
    "triples only; codes are 4x smaller than the float vectors "
    "(operators/similarity.sq8_kmeans). Output: final centroids "
    "exploded per dimension + final-assignment cell sizes.",
    oracle="WITH " + _sq8_kmeans_oracle(),
    category="similarity",
)
def s55_sq8_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bounds = similarity.sq8_train(emb)
    codes = similarity.sq8_encode(emb, bounds)
    cents, assign = similarity.sq8_kmeans(codes, k=8, iters=2)
    counts = assign.groupBy("centroid_id").agg(
        F.count("*").alias("n_members")
    )
    return (
        cents.select(
            "centroid_id", F.posexplode("cent").alias("dim", "val")
        )
        .join(counts, "centroid_id", "left")
        .select(
            "centroid_id",
            "dim",
            "val",
            F.coalesce("n_members", F.lit(0)).alias("n_members"),
        )
        .orderBy("centroid_id", "dim")
    )


@register(
    "d109_quality_bucket_budget",
    "QUALITY-bucketed token budgeting (the DCLM-style mix move: spend "
    "the training budget by quality tier, not uniformly): every "
    "document scores corpus-free token entropy (d98, exact integer "
    "micro-nats), NTILE(4) over the (entropy, doc_id) total order "
    "assigns quality quartiles, and a 50% token budget allocates "
    "across quartiles by integer weights 1..4 (floor arithmetic, the "
    "d95 discipline) with a per-quartile sampling rate in permille. "
    "Plan: the entropy aggregates partial-map; the NTILE runs on "
    "functions/rank.global_ntile (two-pass range-partitioned — no "
    "single-task sort) over (doc_id, int) pairs only — text never "
    "reaches the rank; the budget math runs over 4 rows. Production "
    "at 100 TB can still swap exact NTILE for approx-quantile "
    "boundaries (q61's sketch) to skip the rank shuffle entirely — "
    "the exact form here is what makes the whole plan hash-verifiable "
    "(operators/text.token_entropy + the d95 budget arithmetic).",
    oracle=f"""
        WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        tf AS (
            SELECT doc_id, tok, COUNT(*) AS c
            FROM tok WHERE tok <> '' GROUP BY doc_id, tok
        ),
        agg AS (
            SELECT doc_id,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(SUM(c * CAST(CAST(ROUND(ln(CAST(c AS DOUBLE)),
                            6) AS DECIMAL(18,6)) * 1000000 AS BIGINT))
                       AS BIGINT) AS s
            FROM tf GROUP BY doc_id
        ),
        ent AS (
            SELECT doc_id, n_tokens,
                   CAST(CAST(ROUND(ln(CAST(n_tokens AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                   - s // n_tokens AS entropy_micro
            FROM agg
        ),
        b AS (
            SELECT doc_id, n_tokens,
                   NTILE(4) OVER (ORDER BY entropy_micro, doc_id) AS qb
            FROM ent
        ),
        per AS (
            SELECT qb,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS tokens
            FROM b GROUP BY qb
        ),
        tot AS (
            SELECT qb, n_docs, tokens,
                   CAST(SUM(tokens) OVER () AS BIGINT) AS t_total
            FROM per
        )
        SELECT CAST(qb AS BIGINT) AS qb, n_docs, tokens,
               CAST((qb * (t_total // 2)) // 10 AS BIGINT)
                   AS target_tokens,
               CAST(least(1000,
                    (1000 * ((qb * (t_total // 2)) // 10)) // tokens)
                    AS BIGINT) AS rate_permille
        FROM tot ORDER BY qb
    """,
    category="text",
)
def d109_quality_bucket_budget(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.functions.rank import Ord, global_ntile

    docs = load_table(spark, sf_dir, "documents")
    ent = text.token_entropy(docs)
    b = global_ntile(
        ent.select("doc_id", "n_tokens", "entropy_micro"),
        [Ord("entropy_micro"), Ord("doc_id")],
        4,
        out="qb",
    )
    per = b.groupBy("qb").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens"),
    )
    # grand total via a window over `per` — bounded input by the NTILE
    # constant (qb ∈ 1..4, so per is ≤ 4 rows at ANY corpus size;
    # plan-lint allowlists this window on that key-domain argument).
    # NOT a crossJoin of a per.agg() branch: a fork of `per` re-derives
    # the whole entropy pipeline when column pruning defeats exchange
    # reuse — a measured second corpus pass.
    from pyspark.sql import Window

    tot = per.withColumn(
        "t_total", F.sum("tokens").over(Window.partitionBy())
    )
    return tot.select(
        "qb",
        "n_docs",
        "tokens",
        F.expr("(qb * (t_total DIV 2)) DIV 10").alias("target_tokens"),
        F.least(
            F.lit(1000).cast("long"),
            F.expr("(1000 * ((qb * (t_total DIV 2)) DIV 10)) DIV tokens"),
        ).alias("rate_permille"),
    ).orderBy("qb")


_RAG_QUERY = "slow hash batch window scan"
_RAG_DIMS = 16


@register(
    "s56_rag_retrieval",
    "END-TO-END RAG retrieval chain as one verified composition: "
    "overlapping token-window chunking (d56's op, 32-token chunks / "
    "8 overlap) -> per-CHUNK batch encoding (the m38 deterministic "
    "digest stub standing in for the model forward pass) -> exact "
    "cosine top-10 against an encoded query string, returning CHUNK "
    "provenance (doc_id, chunk_id, start_token) — what a retrieval "
    "consumer actually needs to fetch the passage. The query vector "
    "is a constant-folded literal (no join); chunking and encoding "
    "are in-row HOF arithmetic inside one scan; top-10 is "
    "TakeOrdered with a pinned (sim, doc, chunk) tie-break. The "
    "oracle replays chunk split, encoder, and cosine in SQL "
    "(operators/text.chunk_text + multimodal.encode_text_stub "
    "semantics + similarity.cosine).",
    oracle=f"""
        WITH t AS (
            -- SQL_TOKS, not raw string_split_regex: DuckDB trim strips
            -- only spaces, so tab/newline-padded text would grow a
            -- phantom '' token and shift every chunk (the macro's
            -- documented trap); the len(toks) > 0 filter mirrors the
            -- engine's size(_toks) > 0 chunk precondition exactly
            SELECT doc_id, {SQL_TOKS} AS toks FROM documents
        ),
        tne AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
        s AS (
            SELECT doc_id, toks,
                   unnest(generate_series(0,
                       greatest(0, CAST(ceil((len(toks) - 32) / 24.0)
                                   AS INT)) * 24, 24)) AS start_token
            FROM tne
        ),
        ch AS (
            SELECT doc_id,
                   CAST(start_token // 24 AS INT) AS chunk_id,
                   CAST(start_token AS INT) AS start_token,
                   array_to_string(list_slice(toks, start_token + 1,
                        start_token + 32), ' ') AS chunk_text
            FROM s
        ),
        enc AS (
            SELECT doc_id, chunk_id, start_token,
                   list_transform(range(1, {_RAG_DIMS + 1}),
                       j -> CAST(ascii(substring(md5(chunk_text), j, 1))
                            AS DOUBLE)) AS v
            FROM ch
        ),
        q AS (
            SELECT list_transform(range(1, {_RAG_DIMS + 1}),
                       j -> CAST(ascii(substring(md5('{_RAG_QUERY}'), j,
                            1)) AS DOUBLE)) AS qv
        )
        SELECT doc_id, chunk_id, start_token,
               ROUND(list_cosine_similarity(v, qv), 6) AS cosine_sim
        FROM enc CROSS JOIN q
        ORDER BY cosine_sim DESC, doc_id, chunk_id
        LIMIT 10
    """,
    category="similarity",
)
def s56_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chunks = text.chunk_text(docs, chunk_tokens=32, overlap_tokens=8)
    enc_expr = (
        f"transform(sequence(1, {_RAG_DIMS}), "
        "j -> CAST(ascii(substring(md5(chunk_text), j, 1)) AS DOUBLE))"
    )
    qv_expr = (
        f"transform(sequence(1, {_RAG_DIMS}), "
        f"j -> CAST(ascii(substring(md5('{_RAG_QUERY}'), j, 1)) "
        "AS DOUBLE))"
    )
    enc = chunks.select(
        "doc_id",
        "chunk_id",
        "start_token",
        F.expr(enc_expr).alias("v"),
        F.expr(qv_expr).alias("qv"),
    )
    return (
        enc.select(
            "doc_id",
            "chunk_id",
            "start_token",
            # ROUND-6 of a double computed by two engines (this fold vs
            # DuckDB list_cosine_similarity) — the s31 pattern. Safe
            # here by a shared-formula argument: components are exact
            # small integers (ascii codes 48..102, dim 16), so dot and
            # norms are exact in double and both engines evaluate the
            # same dot/sqrt(n1*n2) expression; a 1-ulp divergence at a
            # rounding boundary would need the engines to disagree on
            # one fused divide+sqrt over exact inputs.
            F.round(similarity.cosine("v", "qv"), 6).alias("cosine_sim"),
        )
        .orderBy(
            F.desc("cosine_sim"), F.asc("doc_id"), F.asc("chunk_id")
        )
        .limit(10)
    )


def _contam_cell_sql(bench_src: str, n: int) -> str:
    """One (benchmark, span_tokens) cell of the d110 matrix: the d90
    island-merge logic parameterized over benchmark source and window
    size, reduced to its audit aggregates."""
    return f"""
        SELECT '{bench_src}' AS benchmark,
               CAST({n} AS BIGINT) AS span_tokens,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(COALESCE(SUM(span_len), 0) AS BIGINT)
                   AS contaminated_tokens
        FROM (
            WITH t AS (
                SELECT doc_id, source, {SQL_TOKS} AS toks
                FROM documents
            ),
            bs AS (
                SELECT DISTINCT
                       array_to_string(toks[(i+1):(i+{n})], ' ') AS s
                FROM t, LATERAL (
                    SELECT unnest(range(len(toks) - {n} + 1)) AS i
                ) g
                WHERE source = '{bench_src}' AND len(toks) >= {n}
            ),
            occ AS (
                SELECT doc_id, i AS pos,
                       array_to_string(toks[(i+1):(i+{n})], ' ') AS s
                FROM t, LATERAL (
                    SELECT unnest(range(len(toks) - {n} + 1)) AS i
                ) g
                WHERE source NOT IN ('src0', 'src1')
                  AND len(toks) >= {n}
            ),
            hit AS (
                SELECT doc_id, pos FROM occ
                WHERE s IN (SELECT s FROM bs)
            ),
            isl AS (
                SELECT doc_id, pos,
                       CASE WHEN pos > COALESCE(MAX(pos + {n}) OVER (
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
                   MAX(pos) + {n} - MIN(pos) AS span_len
            FROM grp GROUP BY doc_id, island
        )
    """


@register(
    "d110_contamination_matrix",
    "Multi-benchmark contamination MATRIX — the audit a training run "
    "signs off on before launch (the GPT-3 appendix-C table shape): "
    "for each (benchmark suite, n-gram window) cell, how many corpus "
    "documents overlap, how many maximal overlap intervals exist, and "
    "how many corpus tokens they cover. Two benchmark sources (src0, "
    "src1) x two window sizes (8 — aggressive, 13 — the GPT-3 rule); "
    "corpus = every other source. Each cell is one broadcast-probe "
    "corpus scan (the d90 plan: benchmark span hashes broadcast, the "
    "corpus never shuffles for the probe) + an interval merge; cells "
    "are independent, so at scale they run as one multi-probe pass "
    "over a shared scan (operators/dedup.benchmark_span_overlap).",
    oracle=" UNION ALL ".join(
        _contam_cell_sql(b, n).format(SQL_TOKS=SQL_TOKS)
        for b in ("src0", "src1")
        for n in (8, 13)
    )
    + " ORDER BY benchmark, span_tokens",
    category="dedup",
)
def d110_contamination_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", text.tokens("text").alias("toks")
    )

    def windows(n: int) -> DataFrame:
        # every n-token window as (doc, source, pos, n, md5) — both
        # sizes union into ONE window stream so the whole matrix is a
        # single probe pass, not one scan per cell (the plan-lint
        # exchange budget caught the per-cell version at 4x the
        # shuffles; this is the multi-probe shape the at-scale doc
        # already promised)
        wins = F.expr(
            f"transform(sequence(0, size(toks) - {n}), "
            f"i -> concat_ws(' ', slice(toks, i + 1, {n})))"
        )
        return (
            t.filter(F.size("toks") >= n)
            .select(
                "doc_id",
                "source",
                F.posexplode(wins).alias("pos", "s"),
            )
            .select(
                "doc_id",
                "source",
                "pos",
                F.lit(n).cast("long").alias("span_tokens"),
                F.md5("s").alias("h"),
            )
        )

    w = windows(8).unionByName(windows(13))
    bench = (
        w.filter(F.col("source").isin("src0", "src1"))
        .select(
            F.col("source").alias("benchmark"), "span_tokens", "h"
        )
        .distinct()
    )
    hits = (
        w.filter(~F.col("source").isin("src0", "src1"))
        .join(F.broadcast(bench), ["span_tokens", "h"])
        .select("benchmark", "span_tokens", "doc_id", "pos")
    )
    win = Window.partitionBy("benchmark", "span_tokens", "doc_id").orderBy(
        "pos"
    )
    prev_end = F.max(F.col("pos") + F.col("span_tokens")).over(
        win.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = (
        hits.withColumn(
            "new_island",
            (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int"),
        )
        .withColumn("island", F.sum("new_island").over(win))
    )
    spans = grp.groupBy(
        "benchmark", "span_tokens", "doc_id", "island"
    ).agg(
        (F.max("pos") + F.first("span_tokens") - F.min("pos")).alias(
            "span_len"
        )
    )
    agg = spans.groupBy("benchmark", "span_tokens").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_spans"),
        F.sum("span_len").cast("long").alias("contaminated_tokens"),
    )
    # a cell with zero hits must still report zeros (the oracle's
    # per-branch COUNT over an empty subquery does)
    cells = spark.createDataFrame(
        [(b, n) for b in ("src0", "src1") for n in (8, 13)],
        "benchmark string, span_tokens long",
    )
    return (
        cells.join(agg, ["benchmark", "span_tokens"], "left")
        .select(
            "benchmark",
            "span_tokens",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("contaminated_tokens", F.lit(0)).alias(
                "contaminated_tokens"
            ),
        )
        .orderBy("benchmark", "span_tokens")
    )


_M47_BINS = (1, 4, 8)
_M47_N = 32


def _m47_bin_sql(k: int) -> str:
    """One DFT bin of the m47 audio-spectral oracle: 32 int16 samples
    re-derived from 4 md5 digests by hex arithmetic (the m41/m46
    discipline), correlated against the SAME quantized trig literals
    the engine multiplies by, FLOOR-divided once by 2^14, squared.
    The floor is explicit (floor(x / 16384.0) — exact: |x| < 2^53 and
    the divisor is a power of two) because DuckDB's integer // 
    TRUNCATES toward zero where Python's // floors (measured on
    v1.0.0: -7 // 2 = -3), a one-off divergence on every negative
    correlation."""
    c, s = multimodal.dft_bin_tables(k, _M47_N)
    c_lit = "[" + ", ".join(map(str, c.tolist())) + "]"
    s_lit = "[" + ", ".join(map(str, s.tolist())) + "]"
    return f"""
        SELECT doc_id, CAST({k} AS BIGINT) AS bin,
               CAST(dr * dr + di * di AS BIGINT) AS energy
        FROM (
            SELECT doc_id,
                   CAST(floor(list_sum(list_transform(range({_M47_N}),
                       i -> samples[i + 1] * ({c_lit})[i + 1]))
                       / 16384.0) AS BIGINT) AS dr,
                   CAST(floor(list_sum(list_transform(range({_M47_N}),
                       i -> samples[i + 1] * ({s_lit})[i + 1]))
                       / 16384.0) AS BIGINT) AS di
            FROM smp
        )
    """


@register(
    "m47_audio_spectral_energy",
    "Audio SPECTRAL energy through the real WAV codec — the frequency-"
    "domain signal the audio side lacked (m37/m41 are time-domain): "
    "each document's 32-sample PCM16 clip (md5-derived) round-trips "
    "the real RIFF encoder/decoder, then per-bin DFT energy at bins "
    "{1,4,8} of 32 computes as integer correlations against QUANTIZED "
    "trig tables (round(cos/-sin * 2^14) — the m46 fixed-point "
    "discipline applied to audio: both engines share the literals, so "
    "no libm sine can disagree), one floor division per correlation, "
    "squared magnitude. The oracle re-derives every sample from hex "
    "arithmetic and replays the same integer algebra — codec AND "
    "transform externally verified. The tone-concentration law "
    "(a pure bin-4 tone puts ~all energy at bin 4) is pinned in tests "
    "(operators/multimodal.dft_bin_tables / dft_bin_energy).",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   md5(COALESCE(text, ''))
                   || md5(COALESCE(text, '') || '1')
                   || md5(COALESCE(text, '') || '2')
                   || md5(COALESCE(text, '') || '3') AS hx
            FROM documents
        ),
        b AS (
            SELECT doc_id,
                   list_transform(range(0, {_M47_N * 2}), j ->
                       16 * (strpos('0123456789abcdef',
                                    substr(hx, 2 * j + 1, 1)) - 1)
                       + (strpos('0123456789abcdef',
                                 substr(hx, 2 * j + 2, 1)) - 1)
                   ) AS bytes
            FROM h
        ),
        smp AS (
            SELECT doc_id,
                   list_transform(range(0, {_M47_N}), i ->
                       CASE WHEN bytes[2 * i + 1]
                                 + 256 * bytes[2 * i + 2] >= 32768
                            THEN bytes[2 * i + 1]
                                 + 256 * bytes[2 * i + 2] - 65536
                            ELSE bytes[2 * i + 1]
                                 + 256 * bytes[2 * i + 2] END
                   ) AS samples
            FROM b
        )
        {" UNION ALL ".join(_m47_bin_sql(k) for k in _M47_BINS)}
        ORDER BY doc_id, bin
    """,
    category="multimodal",
)
def m47_audio_spectral_energy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def energies(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                base = (t or "").encode()
                d = b"".join(
                    hashlib.md5(base + s).digest()
                    for s in (b"", b"1", b"2", b"3")
                )
                samples = np.frombuffer(d, dtype="<i2")
                wav = multimodal.encode_wav(samples, rate=16_000)
                _r, _ch, decoded = multimodal.decode_wav(wav)
                for k in _M47_BINS:
                    rows.append(
                        (
                            doc_id,
                            k,
                            multimodal.dft_bin_energy(decoded, k),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "bin", "energy"]
            )

    return docs.mapInPandas(
        energies, "doc_id long, bin long, energy long"
    ).orderBy("doc_id", "bin")


@register(
    "m48_video_frame_stats",
    "VIDEO frame sampling through a REAL container codec — the last "
    "modality to drop its stub (m36 samples frame indices from "
    "metadata; this decodes actual frame bytes): each document "
    "becomes a 2-4 frame MJPEG-in-AVI video (every frame an "
    "independent baseline JPEG of the m43 16-flat-block raster, frame "
    "i's blocks = md5(text||'|'||i)), muxed into a spec-shaped RIFF "
    "container (hdrl/avih/strh/strf + movi + idx1), then DEMUXED by "
    "the real parser: structure-verified RIFF walk, idx1 seek table "
    "cross-checked against chunk headers, and only the SAMPLED frames "
    "(even indices) sliced out and JPEG-decoded — at scale a ranged "
    "read per sampled frame, never a scan of the hour. Flat blocks "
    "make the DC path exact, so DuckDB re-derives every sampled "
    "frame's 16 block values from pure hex arithmetic: container, "
    "index, seek, and JPEG decode all externally hash-verified "
    "(operators/multimodal.encode_avi_mjpeg / parse_avi_mjpeg / "
    "decode_avi_frame).",
    oracle="""
        WITH fr AS (
            SELECT d.doc_id,
                   md5(COALESCE(d.text, '') || '|'
                       || CAST(g.frame_idx AS VARCHAR)) AS hx,
                   g.frame_idx
            FROM documents d, LATERAL (
                SELECT unnest(range(0,
                    2 + ((d.doc_id % 3) + 3) % 3)) AS frame_idx
            ) g
            WHERE g.frame_idx % 2 = 0
        ),
        b AS (
            SELECT doc_id, frame_idx,
                   list_transform(
                       range(16),
                       o -> 16 * (strpos('0123456789abcdef',
                                         substr(hx, 2 * o + 1, 1)) - 1)
                            + (strpos('0123456789abcdef',
                                      substr(hx, 2 * o + 2, 1)) - 1)
                   ) AS vals
            FROM fr
        )
        SELECT doc_id,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(list_sum(vals) AS BIGINT) AS v_sum,
               CAST(list_sum(list_transform(
                   range(16), i -> (i + 1) * vals[i + 1]
               )) AS BIGINT) AS v_wsum,
               CAST(list_min(vals) AS BIGINT) AS v_min,
               CAST(list_max(vals) AS BIGINT) AS v_max
        FROM b
        ORDER BY doc_id, frame_idx
    """,
    category="multimodal",
)
def m48_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def frame_stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                if pd.isna(doc_id):
                    # no id -> no deterministic frame count (the
                    # oracle's range(NULL) yields no rows either)
                    continue
                n = 2 + int(doc_id) % 3
                imgs = []
                for i in range(n):
                    d = hashlib.md5(
                        (t or "").encode() + b"|" + str(i).encode()
                    ).digest()
                    vals = np.frombuffer(d, dtype=np.uint8).reshape(2, 8)
                    imgs.append(
                        np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
                    )
                avi = multimodal.encode_avi_mjpeg(
                    [
                        multimodal.encode_jpeg(im, restart_interval=3)
                        for im in imgs
                    ],
                    width=64,
                    height=16,
                    fps=10,
                )
                meta, tbl = multimodal.parse_avi_mjpeg(avi)
                if meta["n_frames"] != n or meta["handler"] != "MJPG":
                    raise AssertionError(
                        f"container meta mismatch for doc {doc_id}: {meta}"
                    )
                for i in range(0, n, 2):  # sampled frames only
                    dec = multimodal.decode_avi_frame(avi, tbl, i)
                    got = dec[::8, ::8].astype(np.int64).ravel()
                    rows.append(
                        (
                            int(doc_id),
                            i,
                            int(got.sum()),
                            int(((np.arange(16) + 1) * got).sum()),
                            int(got.min()),
                            int(got.max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "frame_idx", "v_sum", "v_wsum",
                    "v_min", "v_max",
                ],
            )

    return docs.mapInPandas(
        frame_stats,
        "doc_id long, frame_idx long, v_sum long, v_wsum long, "
        "v_min long, v_max long",
    ).orderBy("doc_id", "frame_idx")


#: SQL twin of the interleaved segment table (m49/d116): the media
#: segment's token cost is pure metadata arithmetic (the
#: attach_mixed_media demo contract: modality by doc_id % 3, 64x64
#: visual dims, 10 ms per payload byte), the text segment is the
#: shared whitespace tokenizer — so the whole packing plan re-derives
#: in SQL with zero payload decodes, exactly like the engine.
_INTERLEAVED_SEGMENTS_SQL = f"""
        base AS (
            SELECT source, doc_id,
                   octet_length(encode(text)) AS nb
            FROM documents
        ),
        seg AS (
            SELECT source, doc_id, 0 AS seg_idx,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                                   WHEN 1 THEN 'audio'
                                   ELSE 'video' END AS modality,
                   CAST(CASE doc_id % 3
                        WHEN 0 THEN 16
                        WHEN 1 THEN (nb * 10) // 40
                        ELSE 16 * least((nb * 10) // 1000, 8)
                   END AS BIGINT) AS n_tokens
            FROM base
            UNION ALL
            SELECT source, doc_id, 1 AS seg_idx, 'text' AS modality,
                   CAST({SQL_NTOKS} AS BIGINT) AS n_tokens
            FROM documents
        ),
        packed AS (
            SELECT source, doc_id, seg_idx, modality, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id, seg_idx
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                       AS start_offset
            FROM seg
        )
"""


@register(
    "m49_interleaved_packing",
    "INTERLEAVED multimodal sequence packing — the brief's multimodal "
    "columns as a first-class TRAINING-DATA op: every document "
    "explodes into its training-sequence segments (seg 0 = the media "
    "item costed in placeholder tokens by pure metadata arithmetic — "
    "image: one token per 16x16 patch; audio: 25 tokens/s; video: a "
    "patch grid per sampled frame under the m36 1 fps/cap-8 contract "
    "— operators/multimodal.media_placeholder_tokens; seg 1 = the "
    "text span in whitespace tokens), and the interleaved stream is "
    "cut every 512 tokens per source by the d46 concat-and-chunk "
    "window (operators/packing.pack_segments: one cumsum per source, "
    "parallel across sources, no global sort). Output is the "
    "per-SEGMENT assignment with full provenance (source, doc, "
    "seg_idx, modality, n_tokens, start_offset, bin_id) — the shard "
    "writer's manifest. No payload is ever decoded: at 100 TB the "
    "packer runs on the metadata table alone, which is why the whole "
    "plan re-derives in SQL.",
    oracle=f"""
        WITH {_INTERLEAVED_SEGMENTS_SQL}
        SELECT source, doc_id, seg_idx, modality, n_tokens,
               start_offset,
               CAST(start_offset // 512 AS BIGINT) AS bin_id
        FROM packed
        ORDER BY source, doc_id, seg_idx
    """,
    category="multimodal",
)
def m49_interleaved_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_example_spark.operators.packing import pack_segments

    docs = load_table(spark, sf_dir, "documents")
    seg = multimodal.interleaved_segments(docs)
    return pack_segments(seg, budget=512).orderBy(
        "source", "doc_id", "seg_idx"
    )


@register(
    "d116_interleaved_bin_audit",
    "Per-bin budget audit of the interleaved multimodal packing (the "
    "m49 manifest rolled up to training examples): documents started, "
    "segments, text vs media placeholder tokens, and the bin's total "
    "against the 512 budget — the table a packing job materializes "
    "beside the shards to prove every training example's token "
    "accounting before a byte of media is decoded. Same plan shape "
    "as d46's audit: the per-source cumsum window then one hash "
    "aggregate keyed (source, bin).",
    oracle=f"""
        WITH {_INTERLEAVED_SEGMENTS_SQL}
        SELECT source,
               CAST(start_offset // 512 AS BIGINT) AS bin_id,
               COUNT(*) AS n_segments,
               COUNT(DISTINCT doc_id) AS n_docs,
               CAST(COALESCE(SUM(CASE WHEN modality = 'text'
                                      THEN n_tokens END), 0) AS BIGINT)
                   AS text_tokens,
               CAST(COALESCE(SUM(CASE WHEN modality <> 'text'
                                      THEN n_tokens END), 0) AS BIGINT)
                   AS media_tokens
        FROM packed
        GROUP BY source, bin_id
        ORDER BY source, bin_id
    """,
    category="multimodal",
)
def d116_interleaved_bin_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.operators.packing import pack_segments

    docs = load_table(spark, sf_dir, "documents")
    packed = pack_segments(
        multimodal.interleaved_segments(docs), budget=512
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("modality") == "text", F.col("n_tokens")
                    )
                ),
                F.lit(0),
            ).cast("long").alias("text_tokens"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("modality") != "text", F.col("n_tokens")
                    )
                ),
                F.lit(0),
            ).cast("long").alias("media_tokens"),
        )
        .orderBy("source", "bin_id")
    )


@register(
    "m51_phash_near_dup",
    "IMAGE NEAR-dup pairs via banded perceptual-hash LSH — the "
    "multimodal analogue of the MinHash band trick (d26), over the "
    "m46 DCT pHash: every image's 64-bit spectrum hash splits into "
    "4 x 16-bit BANDS, candidates are pairs sharing ANY band "
    "(equi-join on (band, value) — never all-pairs: two images are "
    "compared only if 16 consecutive hash bits agree exactly), and "
    "candidates verify by HAMMING distance <= 10 (bit_count of the "
    "XOR — integer-exact on both engines). The fixture plants "
    "near-dup twins (every 25th document re-rasterized with its "
    "first four pixel bytes +48 — a local brightness edit, the "
    "re-encode/crop-ish perturbation pHash exists to survive), and "
    "the banding finds 16 of the 20 at sf0.01 with Hamming spread "
    "0-10 — honest LSH recall, deterministically replayed: the "
    "oracle re-derives pixels, DCT, hash, bands, candidates, and "
    "Hamming from hex arithmetic and the shared basis literals. At "
    "100 TB: hashing is one Arrow scan (8 bytes out per image), "
    "banding shuffles 4 (band, bval) ints per image, and each "
    "candidate pair carries two longs — payload bytes never join "
    "(operators/multimodal.dct_phash; bands mirror dedup.py's "
    "MinHash-LSH banding).",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   md5(COALESCE(text, ''))
                   || md5(COALESCE(text, '') || '1')
                   || md5(COALESCE(text, '') || '2')
                   || md5(COALESCE(text, '') || '3') AS hx
            FROM documents
        ),
        px0 AS (
            SELECT doc_id,
                   list_transform(range(64), k -> {_hex_byte("k")}) AS v
            FROM h
        ),
        px AS (
            SELECT doc_id, v FROM px0
            UNION ALL
            SELECT doc_id + 10000000,
                   list_transform(range(64), k ->
                       CASE WHEN k < 4 THEN (v[k + 1] + 48) % 256
                            ELSE v[k + 1] END)
            FROM px0 WHERE doc_id % 25 = 0
        ),
        {_dct_from_px_ctes()},
        bd AS (
            SELECT doc_id, dct_hash, b,
                   (dct_hash >> (16 * b)) & 65535 AS bval
            FROM ph CROSS JOIN (
                SELECT CAST(unnest(range(4)) AS INT) AS b
            )
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.dct_hash AS h_a, b.dct_hash AS h_b
            FROM bd a JOIN bd b
              ON a.b = b.b AND a.bval = b.bval
             AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(h_a, h_b)) <= 10
        ORDER BY id_a, id_b
    """,
    category="multimodal",
)
def m51_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def hashes(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                base = (t or "").encode()
                d = b"".join(
                    hashlib.md5(base + suf).digest()
                    for suf in (b"", b"1", b"2", b"3")
                )
                v = np.frombuffer(d, dtype=np.uint8).astype(np.int64)
                did = None if pd.isna(doc_id) else int(doc_id)
                rows.append(
                    (did, int(multimodal.dct_phash(v.reshape(8, 8))))
                )
                if did is not None and did % 25 == 0:
                    w = v.copy()
                    w[:4] = (w[:4] + 48) % 256
                    rows.append(
                        (
                            did + 10_000_000,
                            int(multimodal.dct_phash(w.reshape(8, 8))),
                        )
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "dct_hash"])

    ph = docs.mapInPandas(hashes, "doc_id long, dct_hash long")
    bands = ph.select(
        "doc_id",
        "dct_hash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("dct_hash", 16 * b).bitwiseAND(
                        F.lit(65535)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "bval"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.dct_hash").alias("h_a"),
            F.col("b.dct_hash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= 10)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


_DSIR_DIM = 256
_DSIR_BINS = 1024


def _dsir_fit_ctes() -> str:
    """Shared d117/st63 oracle fragment: the DSIR FIT replayed as
    WITH-body CTEs over the documents table — tokenize, adjacent
    bigrams, md5 bucket hash, both add-one-smoothed multinomials
    (target = lang='en', raw = full pool) on the full bucket grid
    with the micro-nat rounding discipline — ending in ``dl(ds)``,
    the dense per-bucket delta list, plus ``ng(doc_id, lang, grams)``
    for downstream scoring."""
    return f"""
        lab AS (
            SELECT doc_id, lang, {SQL_TOKS} AS toks FROM documents
        ),
        ng AS (
            SELECT doc_id, lang,
                   list_concat(
                       toks,
                       list_transform(
                           range(1, len(toks)),
                           zz_i -> toks[zz_i] || ' ' || toks[zz_i + 1])
                   ) AS grams
            FROM lab
        ),
        tb AS (
            SELECT lang,
                   CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                       % {_DSIR_DIM} AS bucket
            FROM (SELECT lang, unnest(grams) AS g FROM ng)
        ),
        tc AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c FROM tb
            WHERE lang = 'en' GROUP BY 1
        ),
        rc AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
            FROM tb GROUP BY 1
        ),
        tt AS (SELECT COALESCE(SUM(c), 0) AS t FROM tc),
        rt AS (SELECT COALESCE(SUM(c), 0) AS t FROM rc),
        grid AS (
            SELECT CAST(unnest(range({_DSIR_DIM})) AS BIGINT) AS bucket
        ),
        delta AS (
            SELECT g.bucket,
                   CAST(CAST(ROUND(ln((COALESCE(tc.c, 0) + 1)
                            / (tt.t + {_DSIR_DIM})), 6)
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                 - CAST(CAST(ROUND(ln((COALESCE(rc.c, 0) + 1)
                            / (rt.t + {_DSIR_DIM})), 6)
                        AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS d
            FROM grid g CROSS JOIN tt CROSS JOIN rt
            LEFT JOIN tc ON tc.bucket = g.bucket
            LEFT JOIN rc ON rc.bucket = g.bucket
        ),
        dl AS (SELECT list(d ORDER BY bucket) AS ds FROM delta)
    """


#: Per-document integer micro-nat log importance weight from the fitted
#: delta list — the in-SQL twin of operators/text.dsir_logweight,
#: folded over ng.grams (expects ng aliased as ``n`` and dl in scope).
_DSIR_LW_SQL = (
    "CAST(COALESCE(list_sum(list_transform(n.grams, "
    "zz_g -> dl.ds[CAST(('0x' || substr(md5(zz_g), 1, 8)) AS BIGINT) "
    f"% {_DSIR_DIM} + 1])), 0) AS BIGINT)"
)


@register(
    "d117_dsir_select",
    "DSIR data selection (Xie et al., 'Data Selection for Language "
    "Models via Importance Resampling', NeurIPS 2023 — the standard "
    "target-domain selection move production pretraining sets use): "
    "fit two add-one-smoothed multinomials over HASHED N-GRAM features "
    "(unigrams + adjacent bigrams, md5 buckets, dim=256) — p_target on "
    "the trusted slice (lang='en'), p_raw on the full pool — then "
    "score every document with the integer micro-nat log importance "
    "ratio log w = Σ_grams (ln p_t[b] − ln p_r[b]) and select k=100 "
    "docs by GUMBEL-TOP-K (key = log w + discretized Gumbel noise "
    "from md5('g:'||doc_id) — sampling WITHOUT replacement "
    "proportionally to the importance weights, the paper's §2 "
    "estimator, made deterministic and hash-verifiable). Fit IS "
    "counting: two partial-aggregating n-gram passes ending in "
    "dim-row MODEL-sized collects; scoring + noise are pure in-row "
    "literal-array folds (zero joins/shuffles — a 100 TB scoring pass "
    "is map-only); selection is TakeOrderedAndProject (a top-k heap, "
    "never a global sort). The oracle replays the ENTIRE chain — "
    "tokenize, bigram, hash, both fits on the full bucket grid, the "
    "per-row Gumbel quantile −ln(−ln((bin+.5)/1024)) with its own "
    "transcendentals, and the ranking (operators/text.{"
    "hashed_ngram_stream,dsir_delta_train,dsir_logweight,"
    "gumbel_micro}).",
    oracle=f"""
        WITH {_dsir_fit_ctes()},
        scored AS (
            SELECT n.doc_id,
                   {_DSIR_LW_SQL} AS logw_micro,
                   CAST(('0x' || substr(md5('g:' ||
                       COALESCE(CAST(n.doc_id AS VARCHAR), '')), 1, 8))
                       AS BIGINT) % {_DSIR_BINS} AS bin
            FROM ng n CROSS JOIN dl
        ),
        keyed AS (
            SELECT doc_id, logw_micro,
                   logw_micro + CAST(CAST(ROUND(
                       -ln(-ln((bin + 0.5) / {_DSIR_BINS}.0)), 6)
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                       AS key_micro
            FROM scored
        )
        SELECT doc_id, logw_micro, key_micro,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY key_micro DESC, doc_id) AS INT) AS rk
        FROM keyed
        ORDER BY rk
        LIMIT 100
    """,
    category="text",
)
def d117_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    delta = text.dsir_delta_train(target, docs, dim=_DSIR_DIM)
    keyed = docs.select(
        "doc_id",
        text.dsir_logweight(delta, dim=_DSIR_DIM).alias("logw_micro"),
    ).withColumn(
        "key_micro",
        F.col("logw_micro")
        + text.gumbel_micro("doc_id", n_bins=_DSIR_BINS),
    )
    top = keyed.orderBy(F.desc("key_micro"), "doc_id").limit(100)
    # the rank window's input is bounded by the top-k limit above
    w = Window.orderBy(F.desc("key_micro"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w)).orderBy("rk")


@register(
    "m50_multi_interleaved_packing",
    "MULTI-SEGMENT interleaved packing — m49's caption shape (one "
    "media + one text segment) generalized to the array-of-media "
    "schema real interleaved training documents carry: each document "
    "holds n = 1 + doc_id %% 3 media items at text offsets "
    "(operators/multimodal.attach_media_array: one row per doc, the "
    "media array built in-row by transform(sequence) — no explode, no "
    "payload touch), and explodes ORDER-PRESERVINGLY into 2n+1 "
    "segments: even seg_idx = text span (whitespace tokens split "
    "div(n+1) per span, remainder on the last, spans always sum to "
    "the doc total), odd seg_idx = media item (seg_idx-1)/2 costed in "
    "placeholder tokens from metadata alone — seg_idx derives from "
    "the item's ARRAY POSITION (posexplode), never a sort "
    "(operators/multimodal.interleaved_multi_segments). The "
    "interleaved stream is cut every 512 tokens per source by the "
    "same d46/m49 cumsum window (operators/packing.pack_segments); "
    "output is the per-segment shard manifest, re-derived in SQL with "
    "zero payload decodes.",
    oracle=f"""
        WITH base AS (
            SELECT source, doc_id,
                   octet_length(encode(COALESCE(text, ''))) AS nb,
                   CAST({SQL_NTOKS} AS BIGINT) AS ntoks,
                   doc_id % 3 + 1 AS nm
            FROM documents
        ),
        seg AS (
            SELECT source, doc_id, CAST(2*i + 1 AS INT) AS seg_idx,
                   CASE (doc_id + i) % 3 WHEN 0 THEN 'image'
                                         WHEN 1 THEN 'audio'
                                         ELSE 'video' END AS modality,
                   CAST(CASE (doc_id + i) % 3
                        WHEN 0 THEN 16
                        WHEN 1 THEN ((nb // nm) * 10) // 40
                        ELSE 16 * least(((nb // nm) * 10) // 1000, 8)
                   END AS BIGINT) AS n_tokens
            FROM base, LATERAL (SELECT unnest(range(nm)) AS i) g
            UNION ALL
            SELECT source, doc_id, CAST(2*s AS INT) AS seg_idx,
                   'text' AS modality,
                   CAST(ntoks // (nm + 1)
                        + CASE WHEN s = nm THEN ntoks % (nm + 1)
                               ELSE 0 END AS BIGINT) AS n_tokens
            FROM base, LATERAL (SELECT unnest(range(nm + 1)) AS s) g
        ),
        packed AS (
            SELECT source, doc_id, seg_idx, modality, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id, seg_idx
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                       AS start_offset
            FROM seg
        )
        SELECT source, doc_id, seg_idx, modality, n_tokens,
               start_offset,
               CAST(start_offset // 512 AS BIGINT) AS bin_id
        FROM packed
        ORDER BY source, doc_id, seg_idx
    """,
    category="multimodal",
)
def m50_multi_interleaved_packing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from etl_example_spark.operators.packing import pack_segments

    docs = load_table(spark, sf_dir, "documents")
    seg = multimodal.interleaved_multi_segments(docs)
    return pack_segments(seg, budget=512).orderBy(
        "source", "doc_id", "seg_idx"
    )


@register(
    "g04_label_propagation",
    "Weighted synchronous label-propagation communities over the event "
    "click-transition graph — the community-detection sibling of g01's "
    "PageRank and d31's connected components (CC merges anything "
    "connected; majority-label propagation keeps densely linked "
    "groups distinct): labels start as node ids, each round every "
    "node adopts its neighbors' weight-heaviest label (ties to the "
    "smallest), two synchronous rounds. Per round: one label join on "
    "the edge-sized adjacency, one (node, label) aggregate, the "
    "packed-struct argmax, one vertex-set left join; the oracle "
    "unrolls the same rounds (operators/graph.label_propagation).",
    oracle=graph.label_prop_oracle_sql(iters=2),
    category="graph",
)
def g04_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("long")
    edges = graph.transition_edges(events, node)
    # same vertex-set filter as the oracle's ev CTE (user/ts non-null)
    nodes = graph.event_graph_nodes(events, node)
    return graph.label_propagation(edges, nodes, iters=2).orderBy("node")


#: Full SemDeDup decision table replayed from scratch: seed the 16
#: lowest-id vectors as coarse centroids, assign every vector (rounded
#: cosine argmax, ties to the lower centroid id, zero-norm -> NULL
#: cell), pair ONLY within a cell, and remove a vector iff some
#: same-cell neighbor at rounded cosine >= 0.4 dominates it under the
#: paper's keep rule (keep the vector LESS similar to its centroid;
#: ties keep the lower id).
SEMDEDUP_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, v AS cv
        FROM e ORDER BY vec_id LIMIT 16
    ),
    sims AS (
        SELECT e.vec_id, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(e.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(e.v, c.cv), 6)
               END AS c_sim
        FROM e CROSS JOIN cents c
    ),
    best AS (
        SELECT vec_id, centroid_id, c_sim FROM (
            SELECT vec_id, centroid_id, c_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id
                       ORDER BY c_sim DESC, centroid_id
                   ) AS rk
            FROM sims WHERE c_sim IS NOT NULL
        ) WHERE rk = 1
    ),
    asg AS (
        SELECT e.vec_id, e.v, b.centroid_id, b.c_sim
        FROM e LEFT JOIN best b USING (vec_id)
    ),
    removed AS (
        SELECT DISTINCT x.vec_id
        FROM asg x JOIN asg y
          ON x.centroid_id = y.centroid_id AND x.vec_id != y.vec_id
        WHERE ROUND(list_cosine_similarity(x.v, y.v), 6) >= 0.4
          AND (x.c_sim > y.c_sim
               OR (x.c_sim = y.c_sim AND x.vec_id > y.vec_id))
    )
    SELECT a.vec_id, a.centroid_id, a.c_sim,
           (r.vec_id IS NULL) AS keep
    FROM asg a LEFT JOIN removed r USING (vec_id)
    ORDER BY a.vec_id
"""


@register(
    "s70_semdedup",
    "SemDeDup (Abbas et al. 2023) cluster-partitioned semantic "
    "deduplication: coarse-assign every embedding to its nearest of 16 "
    "seeded centroids, compare pairs ONLY within a cluster (one "
    "equi-join on the cell key — Sigma |cell|^2 comparisons, never the "
    "global n^2 cross join s44's exact-pairs form pays), and inside "
    "each >=0.4-cosine duplicate pair keep the vector LESS similar to "
    "its cluster centroid (the paper's diversity-preserving rule, ties "
    "to the lower id). Output is the FULL per-vector decision table "
    "(cell, centroid-sim, keep), not just survivors — the d45/d100 "
    "auditable-gate discipline (operators/similarity.semdedup). The "
    "oracle replays assignment, intra-cell pairing, and the dominance "
    "EXISTS from scratch in SQL, so the hash match certifies the whole "
    "decision table.",
    oracle=SEMDEDUP_ORACLE,
    category="similarity",
)
def s70_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, n_centroids=16, threshold=0.4).orderBy(
        "vec_id"
    )


#: Global HLL registers recomputed from scratch (no shards): bucket =
#: first two md5 hex digits (m = 256), 48-bit rank window from hex
#: digits 3–14, rank = leading zeros + 1 (all-zero window saturates at
#: 49), register = max rank per bucket over ALL documents, dense 256
#: rows. The Spark side builds PER-SHARD sketches (doc_id % 4) and
#: merges them with a cell-wise MAX, so the hash match IS the merge
#: law: merge of shard sketches == sketch of the union. Estimate
#: arithmetic mirrors the engine expression shape operation for
#: operation (exact-integer harmonic denominator; 0.7182725932495458
#: is repr(α_256) and × 65536 is an exact power-of-two scaling, so the
#: runtime multiply lands on the same double the engine pre-multiplies
#: driver-side; ln in the linear-counting branch is absorbed by
#: ROUND(·, 4)).
HLL_DISTINCT_ORACLE = """
    WITH d AS (
        SELECT md5(COALESCE(text, '')) AS h FROM documents
    ),
    r AS (
        SELECT CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1
                    AS INT) * 16
               + CAST(strpos('0123456789abcdef', substr(h, 2, 1)) - 1
                      AS INT) AS bucket,
               CAST(list_sum(list_transform(range(12), i ->
                   CAST(strpos('0123456789abcdef',
                               substr(h, CAST(i AS INT) + 3, 1)) - 1
                        AS BIGINT)
                   * (CAST(1 AS BIGINT) << CAST(4 * (11 - i) AS INT))
               )) AS BIGINT) AS w
        FROM d
    ),
    rk AS (
        SELECT bucket,
               CASE WHEN w = 0 THEN 49
                    ELSE 49 - length(bin(w)) END AS rank
        FROM r
    ),
    regs AS (
        SELECT CAST(b.bucket AS INT) AS bucket,
               CAST(COALESCE(MAX(rk.rank), 0) AS INT) AS register
        FROM (SELECT unnest(range(256)) AS bucket) b
        LEFT JOIN rk ON rk.bucket = b.bucket
        GROUP BY b.bucket
    ),
    est AS (
        SELECT CAST(SUM(CAST(1 AS BIGINT) << (49 - register))
                    AS BIGINT) AS s_num,
               CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_zero
        FROM regs
    )
    SELECT regs.bucket, regs.register, est.s_num, est.n_zero,
           ROUND(CASE WHEN (CAST(0.7182725932495458 AS DOUBLE)
                            * CAST(65536 AS DOUBLE)
                            * CAST((CAST(1 AS BIGINT) << 49) AS DOUBLE)
                            / CAST(est.s_num AS DOUBLE)) <= 640.0
                       AND est.n_zero > 0
                      THEN CAST(256 AS DOUBLE)
                           * ln(CAST(256 AS DOUBLE)
                                / CAST(est.n_zero AS DOUBLE))
                      ELSE CAST(0.7182725932495458 AS DOUBLE)
                           * CAST(65536 AS DOUBLE)
                           * CAST((CAST(1 AS BIGINT) << 49) AS DOUBLE)
                           / CAST(est.s_num AS DOUBLE)
                 END, 4) AS estimate
    FROM regs CROSS JOIN est
    ORDER BY regs.bucket
"""


@register(
    "d118_hll_distinct",
    "HyperLogLog distinct-text sketch WITH the shard-merge law "
    "externally certified: each of 4 shards (doc_id % 4) folds its "
    "documents into a 256-register sketch (max md5-rank per bucket — "
    "operators/sketches.hll_ranks), the shard sketches merge by "
    "cell-wise MAX, and the oracle recomputes the registers GLOBALLY "
    "from scratch — the hash match proves merge(shard sketches) == "
    "sketch(union), the property that lets 100 TB distinct counts "
    "reduce to 16 integers per partition with no raw-key shuffle "
    "(unlike q22's builtin HLL++, every register and the estimate "
    "itself are portable integer/IEEE arithmetic, replayed exactly). "
    "Output: dense registers + exact harmonic denominator + the "
    "Flajolet estimate (linear-counting branch included).",
    oracle=HLL_DISTINCT_ORACLE,
    category="dedup",
)
def d118_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 4).alias("shard"),
        F.coalesce("text", F.lit("")).alias("item"),
    )
    ranks = sketches.hll_ranks(docs, carry=("shard",))
    shard_regs = ranks.groupBy("shard", "bucket").agg(
        F.max("rank").alias("register")
    )
    merged = shard_regs.groupBy("bucket").agg(
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
    est = (
        dense.agg(*sketches.hll_estimate_cols())
        .withColumn("estimate", sketches.hll_estimate_expr())
    )
    return dense.crossJoin(F.broadcast(est)).orderBy("bucket")


#: Frame-fingerprint replay: each document is a synthetic 6-frame video
#: whose frame k carries content fingerprint md5(text || '|' || k); every
#: 25th document also plants a RE-CUT twin (id + 10^7) holding frames
#: k = 2..7 — a head-trim + tail-extension, so original and twin share
#: exactly 4 of their 8 distinct fingerprints (Jaccard 500 permille).
#: Candidates are pairs sharing ANY frame fingerprint (equi-join on the
#: fingerprint — never all-pairs), overlap/union/Jaccard are pure
#: integer arithmetic.
VIDEO_FRAME_NEAR_DUP_ORACLE = """
    WITH d AS (
        SELECT doc_id, COALESCE(text, '') AS t FROM documents
    ),
    vids AS (
        SELECT doc_id, t, 0 AS k0 FROM d
        UNION ALL
        SELECT doc_id + 10000000, t, 2 FROM d WHERE doc_id % 25 = 0
    ),
    fr AS (
        SELECT doc_id,
               unnest(list_transform(range(6), k ->
                   md5(t || '|' || CAST(k + k0 AS VARCHAR)))) AS fhash
        FROM vids
    ),
    sz AS (
        SELECT doc_id, COUNT(*) AS n FROM fr GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS shared
        FROM fr a JOIN fr b
          ON a.fhash = b.fhash AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, shared,
           sa.n + sb.n - shared AS uni,
           CAST(shared * 1000 // (sa.n + sb.n - shared) AS BIGINT)
               AS jaccard_permille
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE shared * 1000 // (sa.n + sb.n - shared) >= 300
    ORDER BY id_a, id_b
"""


@register(
    "m52_video_near_dup",
    "VIDEO near-dup pairs via frame-fingerprint overlap — the video "
    "analogue of m51's image banding: each video is reduced to its "
    "sampled frames' CONTENT fingerprints (order- and offset-free, so "
    "a re-cut that trims the head and extends the tail still matches "
    "on the surviving frames — here the fingerprint layer is "
    "md5-derived per frame; hashing the real decoded frames is m47's "
    "codec job and plugs in above this plan unchanged), candidate "
    "pairs share ANY fingerprint (one equi-join on the fingerprint "
    "key — never all-pairs; two videos are compared only if a whole "
    "frame matches exactly), and candidates verify by integer-exact "
    "Jaccard over the fingerprint sets (>= 300 permille). The fixture "
    "plants a 2-frame-offset re-cut of every 25th video sharing 4 of "
    "8 distinct frames — found at exactly 500 permille. At 100 TB: "
    "fingerprinting is one scan emitting ~6 hashes per video, the "
    "candidate join is keyed by fingerprint (a hot fingerprint — an "
    "intro card shared by thousands of videos — is the usual hot-key "
    "skew: cap per-fingerprint fan-out or salt, same playbook as "
    "d26's bands), and pair verification carries two longs + counts.",
    oracle=VIDEO_FRAME_NEAR_DUP_ORACLE,
    category="multimodal",
)
def m52_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("t")
    )
    vids = docs.select("doc_id", "t", F.lit(0).alias("k0")).unionByName(
        docs.filter(F.col("doc_id") % 25 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "t",
            F.lit(2).alias("k0"),
        )
    )
    fr = vids.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(5)),
                lambda k: F.md5(
                    F.concat(
                        F.col("t"),
                        F.lit("|"),
                        (k + F.col("k0")).cast("string"),
                    )
                ),
            )
        ).alias("fhash"),
    )
    sz = fr.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        fr.alias("a")
        .join(
            fr.alias("b"),
            (F.col("a.fhash") == F.col("b.fhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        inter.join(sz.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sz.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            "shared",
            (F.col("sa.n") + F.col("sb.n") - F.col("shared")).alias("uni"),
        )
        .withColumn(
            "jaccard_permille", F.expr("(shared * 1000) div uni")
        )
        .filter(F.col("jaccard_permille") >= 300)
        .orderBy("id_a", "id_b")
    )


#: The d25 exact-Jaccard universe at a 300-permille reporting floor,
#: LEFT-joined against the d26 LSH candidate set, with the recall@600
#: summary as a one-row sidecar — every number (including the recall
#: itself) replayed exactly, so the certificate is a hash match, not a
#: trust-me bound.
MINHASH_CALIBRATION_ORACLE = f"""
    WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({SQL_SHINGLES3}) AS shingle FROM t),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    ),
    ex AS (
        SELECT doc_a, doc_b,
               CAST(i * 1000 // (sa.n + sb.n - i) AS BIGINT)
                   AS jaccard_permille
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1000000 >= 300000 * (sa.n + sb.n - i)
    ),
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
    cal AS (
        SELECT ex.doc_a, ex.doc_b, ex.jaccard_permille,
               (c.doc_a IS NOT NULL) AS lsh_candidate
        FROM ex LEFT JOIN cands c USING (doc_a, doc_b)
    ),
    s AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN jaccard_permille >= 600
                                      THEN 1 END), 0) AS BIGINT)
                   AS n_true,
               CAST(COALESCE(SUM(CASE WHEN jaccard_permille >= 600
                                       AND lsh_candidate
                                      THEN 1 END), 0) AS BIGINT)
                   AS n_caught
        FROM cal
    )
    SELECT cal.doc_a, cal.doc_b, cal.jaccard_permille,
           cal.lsh_candidate, s.n_true, s.n_caught,
           CAST(CASE WHEN s.n_true = 0 THEN 1000
                ELSE s.n_caught * 1000 // s.n_true END AS BIGINT)
               AS recall_permille
    FROM cal CROSS JOIN s
    ORDER BY doc_a, doc_b
"""


@register(
    "d119_minhash_calibration",
    "MinHash-LSH CALIBRATION certificate: the exact word-3-gram "
    "Jaccard pair universe down to a 300-permille floor (d25's index "
    "self-join, lower threshold) LEFT-joined against the MinHash(16)/"
    "4-band candidate set (d26's banding), so every near-dup pair "
    "carries its exact integer Jaccard AND whether the sub-quadratic "
    "path would have found it — the measured detection curve that "
    "justifies deploying d26 instead of d25 at 100 TB, where only the "
    "banded path is affordable. recall@600 rides along as an exactly-"
    "replayed one-row sidecar — 1000 permille at sf0.01, 992 at sf0.1 "
    "(2 of 256 true pairs missed by every band, honest LSH fall-off "
    "near the threshold, exactly what the calibration table exists to "
    "expose). The whole table — pairs, flags, recall arithmetic — "
    "hash-matches the oracle's independent replay; "
    "tests/test_llm_ops.py pins the observed recall floor "
    "(operators/dedup.jaccard_pairs / minhash_signatures / "
    "lsh_candidate_pairs).",
    oracle=MINHASH_CALIBRATION_ORACLE,
    category="dedup",
)
def d119_minhash_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact = dedup.jaccard_pairs(docs, threshold=0.3, n=3).select(
        "doc_a",
        "doc_b",
        F.expr(
            "CAST((inter * 1000) div (size_a + size_b - inter) AS BIGINT)"
        ).alias("jaccard_permille"),
    )
    sigs = dedup.minhash_signatures(docs, num_hashes=16, n=3)
    cands = dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=4)
    cal = exact.join(
        cands.withColumn("_hit", F.lit(True)), ["doc_a", "doc_b"], "left"
    ).select(
        "doc_a",
        "doc_b",
        "jaccard_permille",
        F.coalesce("_hit", F.lit(False)).alias("lsh_candidate"),
    )
    summary = cal.agg(
        F.coalesce(
            F.sum(F.when(F.col("jaccard_permille") >= 600, 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_true"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("jaccard_permille") >= 600)
                    & F.col("lsh_candidate"),
                    1,
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_caught"),
    ).withColumn(
        "recall_permille",
        F.when(F.col("n_true") == 0, F.lit(1000).cast("long")).otherwise(
            F.expr("CAST(n_caught * 1000 div n_true AS BIGINT)")
        ),
    )
    return cal.crossJoin(F.broadcast(summary)).orderBy("doc_a", "doc_b")


#: Global 128-bin histogram of per-document token counts built from
#: scratch (bin = min(tokens div 8, 127)), cumulative counts via the
#: triangular bin self-join (128 rows — no window, no single-partition
#: exchange), quantile estimate = lower edge of the first bin whose
#: cumulative count reaches ceil(q·N/1000), and the EXACT quantile
#: re-derived from the value-level cumulative for the certificate
#: columns. The Spark side builds PER-SHARD histograms (doc_id % 4)
#: and merges by summing counts, so the hash match is the merge law
#: (d118's discipline for the quantile sketch); the within_bin boolean
#: is the certified |exact − estimate| < bin-width bound.
HIST_QUANTILE_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, {SQL_NTOKS} AS v FROM documents
    ),
    hist AS (
        SELECT LEAST(v // 8, 127) AS bin, COUNT(*) AS cnt
        FROM d GROUP BY 1
    ),
    cum AS (
        SELECT a.bin, SUM(b.cnt) AS cum
        FROM hist a JOIN hist b ON b.bin <= a.bin
        GROUP BY a.bin
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
    qs AS (SELECT unnest([250, 500, 750, 900, 990]) AS q_permille),
    tgt AS (
        SELECT q_permille, n_docs,
               CAST((q_permille * n_docs + 999) // 1000 AS BIGINT)
                   AS target
        FROM qs CROSS JOIN tot
    ),
    est AS (
        SELECT q_permille, n_docs,
               CAST(MIN(bin) * 8 AS BIGINT) AS est_lo
        FROM tgt JOIN cum ON cum.cum >= tgt.target
        GROUP BY 1, 2
    ),
    vcnt AS (SELECT v, COUNT(*) AS vc FROM d GROUP BY v),
    vcum AS (
        SELECT a.v, SUM(b.vc) AS cum_v
        FROM vcnt a JOIN vcnt b ON b.v <= a.v
        GROUP BY a.v
    ),
    ex AS (
        SELECT q_permille, CAST(MIN(v) AS BIGINT) AS exact_q
        FROM tgt JOIN vcum ON vcum.cum_v >= tgt.target
        GROUP BY 1
    )
    SELECT est.q_permille, est.n_docs, est.est_lo, ex.exact_q,
           (ex.exact_q >= est.est_lo AND ex.exact_q < est.est_lo + 8)
               AS within_bin
    FROM est JOIN ex USING (q_permille)
    ORDER BY q_permille
"""


@register(
    "d120_hist_quantile_sketch",
    "Mergeable HISTOGRAM quantile sketch with the error bound "
    "certified per quantile — the third shelf of the mergeable-sketch "
    "family (d78 count-min: frequencies; d118 HLL: distinct; this: "
    "quantiles): per-shard 128-bin histograms of document token "
    "counts (bin width 8) merge by summing counts, the q-quantile "
    "estimate is the first bin whose cumulative count reaches "
    "ceil(q*N/1000), and each output row carries the EXACT quantile "
    "beside it with within_bin certifying |exact - est| < bin width. "
    "The oracle rebuilds the histogram globally, so the hash match is "
    "simultaneously the merge law AND the bound. At 100 TB: quantiles "
    "of a corpus-wide distribution for 128 integers per partition on "
    "the wire — the alternative the certificate's own exact arm shows "
    "(value-level cumulative) ships every distinct value; cumulative "
    "counts use a triangular self-join over the 128 bins, so no "
    "single-partition window ever sees unbounded input.",
    oracle=HIST_QUANTILE_ORACLE,
    category="text",
)
def d120_hist_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select(
        (F.col("doc_id") % 4).alias("shard"),
        text.token_count(F.coalesce("text", F.lit(""))).alias("v"),
    )
    shard_hist = (
        vals.select(
            "shard",
            F.least(F.expr("v div 8"), F.lit(127)).alias("bin"),
        )
        .groupBy("shard", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    merged = shard_hist.groupBy("bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    cum = (
        merged.alias("a")
        .join(merged.alias("b"), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(F.col("a.bin").alias("bin"))
        .agg(F.sum("b.cnt").alias("cum"))
    )
    tot = vals.agg(F.count("*").cast("long").alias("n_docs"))
    qs = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(q) for q in (250, 500, 750, 900, 990)])
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


@register(
    "g05_connected_components",
    "Connected components over the THRESHOLDED event click-transition "
    "graph (the backbone-extraction move: keep an undirected page pair "
    "only if users stepped between them >= 5 times, then find the "
    "islands) — the graph-family form of the min-label propagation d31 "
    "runs on near-dup pairs (one shared iterative kernel, "
    "operators/dedup.dedup_clusters): every node converges to the "
    "smallest node id reachable over backbone edges; pages below the "
    "traffic threshold become singleton components via the g01/g04 "
    "vertex-set left join. The fixture sweeps all three regimes: at "
    "sf0.001 no pair clears the threshold (100 singletons — the "
    "isolated-vertex path), at sf0.01 the backbone fragments into 3 "
    "islands, at sf0.1 traffic saturates into one giant component. "
    "Per iteration: one edge-sized join + one (node, label) min "
    "aggregate, localCheckpoint-pinned — the 100 TB loop shape every "
    "iterative graph op here uses. The oracle recomputes the closure "
    "with a recursive CTE over the same weighted edge set.",
    oracle="""
        WITH RECURSIVE
        ev AS (
            SELECT user_id, ts, event_id,
                   CAST(json_extract_string(props, '$.k') AS BIGINT)
                       AS page
            FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ),
        tr AS (
            SELECT page AS src,
                   LEAD(page) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
            FROM ev
        ),
        wedge AS (
            SELECT least(src, dst) AS u, greatest(src, dst) AS v,
                   COUNT(*) AS c
            FROM tr WHERE dst IS NOT NULL AND src != dst
            GROUP BY 1, 2
        ),
        de AS (SELECT u, v FROM wedge WHERE c >= 5),
        ed AS (
            SELECT u AS src, v AS dst FROM de
            UNION ALL
            SELECT v, u FROM de
        ),
        walk AS (
            SELECT src AS node, src AS reach FROM ed
            UNION
            SELECT w.node, e.dst FROM walk w JOIN ed e ON e.src = w.reach
        ),
        cc AS (SELECT node, MIN(reach) AS comp FROM walk GROUP BY node),
        nodes AS (
            SELECT DISTINCT page AS node FROM ev WHERE page IS NOT NULL
        )
        SELECT n.node,
               COALESCE(cc.comp, n.node) AS component_id,
               (n.node = COALESCE(cc.comp, n.node)) AS is_root
        FROM nodes n LEFT JOIN cc ON cc.node = n.node
        ORDER BY n.node
    """,
    category="graph",
    # round-14 (VERDICT r13 item 7): the graph family had zero wall-time
    # accountability — bench the cheapest member so the iterative
    # frontier-checkpoint discipline has a driver-measured number
    bench=True,
)
def g05_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    node = F.get_json_object("props", "$.k").cast("long")
    edges = graph.transition_edges(events, node)
    pairs = (
        edges.filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("doc_a"),
            F.greatest("src", "dst").alias("doc_b"),
        )
        .agg(F.sum("c").alias("w"))
        .filter(F.col("w") >= 5)
        .select("doc_a", "doc_b")
    )
    cc = dedup.dedup_clusters(pairs).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("comp")
    )
    nodes = graph.event_graph_nodes(events, node)
    return (
        nodes.join(cc, "node", "left")
        .select(
            "node",
            F.coalesce("comp", "node").alias("component_id"),
        )
        .withColumn(
            "is_root", F.col("node") == F.col("component_id")
        )
        .orderBy("node")
    )


#: The s57 serve workload recomputed from the REDUCED corpus (every
#: doc_id % 5 == 0 document deleted) — rebuild-on-reduced-corpus as
#: the deletion ground truth. IDF, document frequencies, and the
#: (n_docs, t_total) totals all reflect the post-delete corpus.
_BM25_DELETE_ORACLE = f"""
        WITH docs AS (
            SELECT * FROM documents WHERE doc_id % 5 != 0
        ),
        q(query_id, term) AS (
            VALUES (4, 'data'), (4, 'code'), (4, 'zzznotaterm'),
                   (5, 'table'), (5, 'row'), (5, 'group')
        ),
        tok AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS term FROM docs
        ),
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
                   CAST(COALESCE(SUM({SQL_NTOKS}), 0) AS HUGEINT)
                       AS t_total
            FROM docs
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
        SELECT query_id, doc_id, score_micro, CAST(rk AS INT) AS rk
        FROM (
            SELECT query_id, doc_id, score_micro,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id
                   ) AS rk
            FROM scored
        ) t WHERE rk <= 10
        ORDER BY query_id, rk
    """


@register(
    "s71_bm25_bucketed_delete",
    "DELETION from the term-bucketed BM25 artifact — the lifecycle "
    "stage the index family lacked (build s57 / append s68 / compact "
    "s69 / now delete): a takedown request for 20%% of the corpus "
    "(doc_id %% 5 == 0) writes only an O(|deleted|) TOMBSTONE id set "
    "and decrements the stats sidecar by the delete set's own "
    "(n, token) totals — the stored postings files are NOT rewritten "
    "and the surviving corpus is never re-scanned or re-tokenized. "
    "The serve path is s57's literal-isin bucket-pruned scan plus ONE "
    "broadcast anti-join against the tombstones before ranking, so "
    "document frequencies, IDF, and totals all reflect the reduced "
    "corpus exactly. The oracle recomputes the whole serve from the "
    "corpus WITH the documents removed, so the hash match proves "
    "tombstone-served == rebuild-on-reduced-corpus — deletes are "
    "correct the moment the tombstone lands, and the physical rewrite "
    "is deferred to the s69 compaction job "
    "(operators/text._bm25_rank; tombstone anti-join in-plan).",
    oracle=_BM25_DELETE_ORACLE,
    category="similarity",
)
def s71_bm25_bucketed_delete(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib

    from etl_example_spark.operators.text import _bm25_rank
    from etl_example_spark.sources.writers import write_bucketed_table

    docs = load_table(spark, sf_dir, "documents")
    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"bm25_bkt_deletelaw_{slug}"
    # the stored index: FULL corpus, built once (overwrite keeps the
    # law deterministic across runs)
    write_bucketed_table(
        text.bm25_postings(docs, None), name, ["term"], 32,
        sort_by=["term"],
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

    n_full, t_full = totals(docs)
    # the delete request: O(|deleted|) work — tombstone ids plus the
    # delete set's own totals; the indexed corpus is never re-scanned
    deleted = docs.filter(F.col("doc_id") % 5 == 0)
    n_del, t_del = totals(deleted)
    tombstones = deleted.select("doc_id")

    queries = local_df(
        spark, BM25_SERVE_QUERIES, "query_id int, term string"
    )
    terms = tuple(
        sorted({r[0] for r in queries.select("term").collect()})
    )
    matched = (
        spark.table(name)
        .filter(F.col("term").isin(*terms))
        .join(F.broadcast(tombstones), "doc_id", "left_anti")
    )
    totals_df = F.broadcast(
        local_df(
            spark,
            [(n_full - n_del, t_full - t_del)],
            "n_docs bigint, t_total bigint",
        )
    )
    return _bm25_rank(matched, queries, totals_df, k=10).orderBy(
        "query_id", "rk"
    )


#: st64's batch replay over the REDUCED corpus: the coarse quantizer
#: stays FROZEN (the 16 lowest-id vectors of the FULL corpus — a
#: takedown deletes index members, it does not retrain parameters),
#: candidates and queries both exclude the deleted ids
#: (vec_id % 7 == 3), probe top-2 cells, exact rerank top-5.
IVF_DELETE_SERVE_ORACLE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cents AS (
        SELECT vec_id AS centroid_id, v AS cv
        FROM e ORDER BY vec_id LIMIT 16
    ),
    live AS (SELECT * FROM e WHERE vec_id % 7 != 3),
    asims AS (
        SELECT l.vec_id, c.centroid_id,
               CASE WHEN list_aggregate(
                        list_transform(l.v, x -> x*x), 'sum') = 0
                    THEN NULL
                    ELSE ROUND(list_cosine_similarity(l.v, c.cv), 6)
               END AS c_sim
        FROM live l CROSS JOIN cents c
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
        FROM live q CROSS JOIN cents c
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
    "s72_ivf_delete",
    "DELETION from the stored IVF index — s71's takedown law on the "
    "vector side, completing deletes across BOTH index families: the "
    "cell-partitioned assignment artifact is built once on the full "
    "corpus; a takedown for vec_id %% 7 == 3 writes only an "
    "O(|deleted|) tombstone id set — the artifact files and the "
    "FROZEN coarse quantizer are untouched (a delete removes index "
    "members, it does not retrain parameters; periodic re-training is "
    "the offline ivf_train job, same as s47's contract). Serving is "
    "the st64 batch probe plus ONE broadcast anti-join of the probed "
    "cells' members against the tombstones before the exact rerank; "
    "deleted vectors are also dropped from the query stream. The "
    "oracle replays the whole serve over the reduced corpus under the "
    "same frozen centroids — tombstone-served == rebuild-on-reduced-"
    "corpus (operators/similarity.ivf_topk_batch + tombstone "
    "anti-join).",
    oracle=IVF_DELETE_SERVE_ORACLE,
    category="similarity",
)
def s72_ivf_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from etl_example_spark.operators import similarity
    from etl_example_spark.sources.loaders import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.seed_centroids(emb, 16)
    # the stored index: full corpus assigned once under the frozen
    # quantizer (zero-norm rows excluded — never probe candidates)
    index = similarity.ivf_assign_with_centroids(emb, cents).filter(
        F.col("centroid_id").isNotNull()
    )
    # the takedown: O(|deleted|) tombstones; index files untouched
    tombstones = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    live_index = index.join(F.broadcast(tombstones), "vec_id", "left_anti")
    queries = emb.filter(
        (F.col("vec_id") % 16 == 0) & (F.col("vec_id") % 7 != 3)
    )
    return similarity.ivf_topk_batch(
        queries, cents, live_index, k=5, nprobe=2
    ).orderBy("query_id", "rk")


#: The s57 serve workload recomputed from the v2 SNAPSHOT (d104's
#: deterministic recrawl: v2 drops doc_id % 17 == 0 and rewrites
#: doc_id % 13 == 0 content with a ' v2' suffix) — rebuild-on-v2 as
#: the CDC-maintenance ground truth.
_BM25_CDC_ORACLE = f"""
        WITH docs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 13 = 0
                        THEN COALESCE(text, '') || ' v2'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 17 != 0
        ),
        q(query_id, term) AS (
            VALUES (4, 'data'), (4, 'code'), (4, 'zzznotaterm'),
                   (5, 'table'), (5, 'row'), (5, 'group')
        ),
        tok AS (
            SELECT doc_id, unnest({SQL_TOKS}) AS term FROM docs
        ),
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
                   CAST(COALESCE(SUM({SQL_NTOKS}), 0) AS HUGEINT)
                       AS t_total
            FROM docs
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
        SELECT query_id, doc_id, score_micro, CAST(rk AS INT) AS rk
        FROM (
            SELECT query_id, doc_id, score_micro,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id
                   ) AS rk
            FROM scored
        ) t WHERE rk <= 10
        ORDER BY query_id, rk
    """


@register(
    "s73_bm25_cdc_maintenance",
    "SNAPSHOT-DIFF-DRIVEN index maintenance — the full CDC loop a "
    "periodically-recrawled corpus runs, composed from proven pieces "
    "and certified end to end: corpus v1 is indexed once (bucketed "
    "postings + stats); the recrawl lands v2 (d104's deterministic "
    "snapshot: some docs removed, some rewritten, some added); "
    "d104's fingerprint diff classifies every id WITHOUT shipping "
    "text; then maintenance is the LSM triplet — removed+changed ids "
    "become TOMBSTONES (s71's move), added+changed docs' postings "
    "land in a DELTA table (s68's move, tokenizing only the "
    "arrivals), and the stats sidecar adjusts by the touched docs' "
    "own totals. v1's unchanged documents are never re-tokenized, "
    "re-bucketed, or re-scanned. Serving reads base (bucket-pruned) "
    "ANTI tombstones UNION delta, and the oracle rebuilds the serve "
    "from the v2 corpus from scratch — maintained == rebuilt, with "
    "df/IDF/totals all post-recrawl exact "
    "(operators/corpus.snapshot_diff + text.bm25_postings + "
    "text._bm25_rank).",
    oracle=_BM25_CDC_ORACLE,
    category="similarity",
)
def s73_bm25_cdc_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import hashlib

    from etl_example_spark.operators.corpus import snapshot_diff
    from etl_example_spark.operators.text import _bm25_rank
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
    base = f"bm25_cdc_base_{slug}"
    delta = f"bm25_cdc_delta_{slug}"
    # index build: v1 only, once
    write_bucketed_table(
        text.bm25_postings(v1, None), base, ["term"], 32,
        sort_by=["term"],
    )
    n1, t1 = totals(v1)

    # the recrawl diff: fingerprints only, text never shuffles
    diff = snapshot_diff(v1, v2)
    gone = diff.filter(
        F.col("status").isin("removed", "changed")
    ).select("doc_id")
    arriving = v2.join(
        F.broadcast(
            diff.filter(F.col("status").isin("added", "changed")).select(
                "doc_id"
            )
        ),
        "doc_id",
    )
    # maintenance: tombstones + delta postings + a touched-docs-sized
    # totals adjustment — v1's unchanged docs are never re-tokenized
    write_bucketed_table(
        text.bm25_postings(arriving, None), delta, ["term"], 32,
        sort_by=["term"],
    )
    n_gone, t_gone = totals(v1.join(F.broadcast(gone), "doc_id"))
    n_arr, t_arr = totals(arriving)
    tombstones = gone

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
            spark.table(delta).filter(F.col("term").isin(*terms))
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
