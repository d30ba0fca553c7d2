"""Text-analysis operators for LLM training-data curation.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs. Each operator is a narrow
projection: at 100 TB these run as a single scan with no shuffle.

Determinism contract: every derived value is integer, boolean, string, or
an exact ratio of integers, so results hash-compare across engines (the
DuckDB oracles in plans/llm_ops.py mirror the same expressions).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_example_spark import artifacts
from etl_example_spark.functions.localrel import local_df

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny and public-knowledge (most-frequent words);
# the point is the operator shape (vectorized per-token membership count),
# not lexical completeness.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "une"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ist"],
}
#: deterministic tie-break: first match in this order wins
LANG_ORDER: list[str] = ["en", "es", "fr", "de"]


#: GPT-2-style pre-tokenizer shape: contractions, space-prefixed letter
#: runs, digit runs, punctuation runs. No lookarounds — the pattern parses
#: identically under Java regex (Spark) and RE2 (DuckDB), so token counts
#: are cross-engine checkable. Pass as a LITERAL column (F.lit), never
#: through a SQL string (escaping would mangle the backslash classes).
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_tokens(col: Column | str) -> Column:
    """BPE-ish pre-tokenization: the regex word/number/punct split that
    LLM tokenizers apply before merges — the standard corpus token-count
    estimator. NULL text ≡ empty text (the tokenization contract — see
    :func:`tokens`): both yield []."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(
        F.coalesce(c, F.lit("")), F.lit(BPE_TOKEN_PATTERN), 0
    )


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_tokens(col))


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of lowercased, trimmed text; empty text → [].

    Two contract clauses, mirrored EXACTLY by the SQL_TOKS / SQL_NTOKS
    oracle macros so engine and oracle tokenize identically on every
    string:

    - NULL text ≡ empty text (the coalesce): without it,
      ``size(tokens(NULL))`` is -1 (Spark's size of a null array) while
      an oracle SUM/len skips or NULLs — a latent corpus-statistics
      divergence on any corpus with a NULL text cell.
    - empty tokens are dropped (the array_remove): ``trim`` strips only
      spaces, so text with a leading/trailing newline or tab splits
      with a phantom '' token — not a token by any tokenizer's
      definition, and DuckDB's filtered split agrees.
    """
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(F.lower(F.coalesce(c, F.lit(""))))
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.array_remove(F.split(trimmed, r"\s+"), "")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def alpha_char_count(col: Column | str) -> Column:
    """Number of ASCII-alphabetic characters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, "[^A-Za-z]", ""))


def lang_score(col: Column | str, lang: str) -> Column:
    """Count of tokens that are marker stopwords of ``lang``."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(
        F.filter(tokens(col), lambda t: F.array_contains(markers, t))
    )


def language_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of marker-stopword hit counts, ties
    and all-zero scores resolved by LANG_ORDER preference ('und' if no
    marker hits at all)."""
    scores = [(lang, lang_score(col, lang)) for lang in LANG_ORDER]
    best = F.lit("und")
    best_score = F.lit(0)
    # fold right-to-left so earlier languages win ties via strict '>'
    for lang, score in reversed(scores):
        is_better = score > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, token stats, alpha ratio,
    and a composite keep/drop flag (the C4-style length+structure gate)."""
    n_chars = F.length(F.col(text_col))
    n_tok = token_count(text_col)
    n_alpha = alpha_char_count(text_col)
    mean_tok_len_x100 = F.when(n_tok > 0, (n_alpha * 100) / n_tok).otherwise(
        F.lit(0.0)
    )
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        n_alpha.alias("n_alpha"),
        mean_tok_len_x100.alias("mean_token_len_x100"),
        (
            (n_tok >= 5)
            & (n_chars >= 20)
            & (n_chars <= 1_000_000)
            & (n_alpha * 2 > n_chars)  # mostly-alphabetic gate
        ).alias("is_quality"),
    )


MAD_SCHEMA = (
    "doc_id long, source string, n_chars long, "
    "med double, mad double, is_outlier boolean"
)


def mad_outliers(df: DataFrame, k: float = 3.0) -> DataFrame:
    """Per-source robust outlier flags: |n_chars − median| > k·MAD.

    The ``applyInPandas`` group-map pattern: each source's rows arrive as
    one pandas frame (Arrow-batched), the kernel computes group statistics
    that need the whole group at once (two nested medians — not a single
    SQL window), and emits the annotated rows. Partitioning is by group
    key, so sources process in parallel; a group must fit one executor's
    memory — true for per-source metadata columns even at corpus scale
    (it's doc_id + int, not the text). numpy's linear-interpolation median
    matches SQL ``quantile_cont`` exactly, keeping the op oracle-checkable.
    """
    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["n_chars"].to_numpy(dtype="float64")
        med = float(np.median(x))
        mad = float(np.median(np.abs(x - med)))
        out = pdf[["doc_id", "source", "n_chars"]].copy()
        out["med"] = med
        out["mad"] = mad
        out["is_outlier"] = np.abs(x - med) > k * mad
        return out

    return (
        df.select("doc_id", "source", "n_chars")
        .groupBy("source")
        .applyInPandas(kernel, MAD_SCHEMA)
    )


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition features per document: distinct-token and
    distinct-2-gram fractions (heavily repeated docs are boilerplate or
    degenerate generations). All ratios are exact integers (×1e6, floor
    division), so results hash-compare across engines.

    One narrow projection; the repeated ``tokens()`` subexpressions
    collapse via whole-stage-codegen subexpression elimination, so the
    regex split runs once per row."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    grams = F.when(n_tok < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_tok - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        )
    )
    n_gram = F.size(grams)
    n_gram_distinct = F.size(F.array_distinct(grams))

    def rep_frac(total: Column, distinct: Column) -> Column:
        return (
            F.when(
                total > 0,
                F.floor((total - distinct) * 1_000_000 / total),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        rep_frac(n_tok, n_distinct).alias("rep_token_x1e6"),
        n_gram.alias("n_2grams"),
        rep_frac(n_gram, n_gram_distinct).alias("rep_2gram_x1e6"),
    )


#: PII patterns — lookaround-free so Java regex (Spark) and RE2 (DuckDB)
#: parse them identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[A-Za-z0-9./_-]+"


def pii_counts(col: Column | str) -> tuple[Column, Column]:
    """(n_emails, n_urls) found in the text."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)),
        F.size(F.regexp_extract_all(c, F.lit(URL_RE), 0)),
    )


def scrub_pii(col: Column | str) -> Column:
    """Redact emails then URLs with typed placeholder tags — the standard
    pre-training scrub pass; one codegen'd projection, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
    )


def normalized_fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed lowercase text —
    the exact-dedup key (near-dup keys live in operators/dedup.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def kgram_min_fingerprint(col: Column | str, k: int = 8) -> Column:
    """Rolling-hash-style fingerprint: the lexicographic min of md5 over
    all character k-grams (the anchor selection step of winnowing,
    computed with built-in array functions — no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(k)),
    )
    return F.array_min(F.transform(grams, F.md5))


def chunk_text(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunks per document — the RAG/context-
    window preparation op (distinct from packing.pack_concat_chunks,
    which concatenates documents; this SPLITS long ones).

    Chunk starts step by ``chunk_tokens - overlap_tokens``; the final
    chunk is whatever remains (>= 1 token), so every token lands in at
    least one chunk and consecutive chunks share ``overlap_tokens``.
    Pure HOF arithmetic over the bound token array (one tokenize per
    row, SQL lambdas) — no UDF, fully pushdown-compatible.
    Returns (id, chunk_id, start_token, n_tokens, chunk_text).
    """
    step = chunk_tokens - overlap_tokens
    if step <= 0:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    toks_df = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).filter(F.size("_toks") > 0)
    starts = F.expr(
        f"sequence(0, greatest(0, CAST(ceil((size(_toks) - {chunk_tokens})"
        f" / {step}.0) AS INT)) * {step}, {step})"
    )
    chunked = toks_df.select(
        id_col,
        "_toks",
        F.posexplode(starts).alias("chunk_id", "start_token"),
    )
    piece = F.expr(f"slice(_toks, start_token + 1, {chunk_tokens})")
    return chunked.select(
        id_col,
        "chunk_id",
        "start_token",
        F.size(piece).alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form of a URL for dedup keys — the web-crawl pipeline
    normalization (Common-Crawl-style URL dedup collapses fetch variants
    of one resource before any content dedup runs):

    1. drop the ``#fragment`` (never part of the resource),
    2. drop tracking query params (``utm_*``, ``ref``, ``fbclid``,
       ``gclid``) wherever they sit in the query string,
    3. drop a now-empty ``?``,
    4. lowercase the scheme and host (authority is case-insensitive;
       path/query stay case-sensitive per RFC 3986),
    5. strip a trailing slash on a bare host.

    Pure built-in regexp_replace chain (JVM-side, codegen-friendly; the
    restricted regex subset behaves identically under Java and RE2, so
    DuckDB oracles can replicate it verbatim).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"#.*$", "")
    # drop each tracking param together with its ? or & lead char...
    c = F.regexp_replace(c, r"[?&](utm_[^&=]*|ref|fbclid|gclid)=[^&]*", "")
    # ...then, if kept params remain but the ? was dropped with a leading
    # tracking param, promote the first & back to ?
    c = F.regexp_replace(c, r"^([^?&]*)&", "$1?")
    c = F.regexp_replace(c, r"\?$", "")
    scheme_host = F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    rest = F.regexp_replace(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*", "")
    c = F.concat(F.lower(scheme_host), rest)
    return F.regexp_replace(c, r"^([a-z][a-z0-9+.-]*://[^/?]*)/$", "$1")


#: Mini public-suffix list — the HEAD of the real PSL (ICANN TLDs that
#: matter for test hosts plus the multi-label suffixes that make naive
#: last-two-labels grouping WRONG: co.uk sites would all collapse into
#: one "domain", github.io user sites are distinct registrants). A
#: production deployment broadcasts the full periodically-refreshed
#: publicsuffix.org list through the same column expression.
PUBLIC_SUFFIXES: tuple[str, ...] = (
    "com", "org", "net", "io", "edu", "gov", "info", "biz",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "co.in", "co.kr", "com.cn",
    "github.io", "blogspot.com", "wordpress.com",
)


def registrable_domain(col: Column | str) -> Column:
    """The REGISTRABLE domain (PSL's "eTLD+1") of a hostname — the key
    every per-domain curation policy actually wants: host-level caps
    (d64) under-group (``cdn1.example.com`` vs ``www.example.com``) and
    naive last-two-labels grouping over-merges every ``co.uk`` site
    into one pseudo-domain and hides that each ``*.github.io`` label is
    a DIFFERENT registrant.

    PSL longest-match algorithm as pure in-row column algebra — zero
    shuffle, no UDF: generate the host's label-suffixes shortest→
    longest (one ``transform`` over positions), keep those present in
    the suffix table (an ``array_contains`` filter against a broadcast
    literal array; the full publicsuffix.org list is ~9k entries — the
    same literal-array-vs-broadcast-join tradeoff as the stop-word
    tables), take the LAST kept (= longest, since generation order is
    by length), default to the bare TLD when nothing matches (PSL's
    prevailing-rule fallback ``*``), and prepend one label. A host that
    IS a public suffix (``github.io`` itself) has no registrable
    domain → NULL, exactly the PSL contract.
    """
    host = F.lower(F.col(col) if isinstance(col, str) else col)
    labels = F.split(host, r"\.")
    n = F.size(labels)
    psl = F.array(*[F.lit(s) for s in PUBLIC_SUFFIXES])
    # k runs to n INCLUSIVE: the whole host must be a candidate, else a
    # host that IS a public suffix (github.io) silently grows a bogus
    # registrable domain instead of resolving to NULL
    suffixes = F.transform(
        F.sequence(F.lit(1), n),
        lambda k: F.array_join(F.slice(labels, n - k + 1, k), "."),
    )
    matched = F.filter(suffixes, lambda s: F.array_contains(psl, s))
    suffix = F.coalesce(
        F.try_element_at(matched, F.lit(-1)),
        F.element_at(labels, -1),
    )
    suffix_n = F.size(F.split(suffix, r"\."))
    return F.when(n > suffix_n, F.concat(
        F.element_at(labels, n - suffix_n), F.lit("."), suffix
    )).otherwise(F.lit(None).cast("string"))


def unigram_rarity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Two-pass unigram language-model quality proxy, in exact integer
    arithmetic (the determinism contract above).

    Pass 1 aggregates corpus-wide token occurrence counts; pass 2 scores
    each document by the sum of per-token rarity ``N // count(token)``
    (N = total corpus tokens) — the integer surrogate for summed
    ``-log p(token)``: both are large for rare tokens, small for common
    ones, and rank documents the same way a KenLM-style perplexity
    filter does, without a float in sight.

    Shuffle architecture at 100 TB: token-count aggregation partial-maps
    before its hash shuffle on the token; the score join is token-keyed
    and Zipf-skewed — stop-words dominate — which is exactly the
    AQE-skew-join case (or broadcast the head of the vocabulary and
    shuffle only the tail). The final per-doc aggregation shuffles
    (doc_id, rarity) int pairs, not text.

    Returns (doc_id, n_toks, rarity_sum); empty docs are dropped (no
    tokens → no rows to score, and a 0/0 mean is undefined anyway).
    Threshold downstream via integer cross-multiplication
    (``rarity_sum < k * n_toks``), never a float division.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("tok_count"))
    # the corpus total folds from the vocab-sized counts table — never
    # a second scan + explode of the corpus text
    total = counts.agg(F.sum("tok_count").alias("corpus_toks"))
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            # `div` is true integer division (no double rounding in the
            # quotient, unlike `/` + cast); positive domain, so it
            # agrees with the oracle's floor-division `//`.
            F.sum(
                F.expr("corpus_toks div tok_count")
            ).alias("rarity_sum"),
        )
    )


def hashed_feature_bucket(col: Column | str, dim: int) -> Column:
    """Deterministic hashed-feature bucket in [0, dim): the first 8 hex
    chars of md5 as an integer, mod ``dim``. md5 (not xxhash64) so the
    DuckDB oracle reproduces the exact same buckets
    (``CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % dim``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % dim


def pseudo_weight(bucket: Column) -> Column:
    """Deterministic stand-in milli-weight in [-1000, 1000] for bucket
    ``bucket`` — md5('w:'||bucket)-derived, reproduced by the DuckDB
    oracles with the same hex arithmetic. Shared by the shuffle form
    (:func:`hashed_linear_quality`) and the stateless fold form
    (:func:`hashed_linear_quality_cols`) so the two can never
    desynchronize."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w:"), bucket.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )


def hashed_linear_quality(
    df: DataFrame,
    dim: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: DataFrame | None = None,
) -> DataFrame:
    """Linear quality classifier over hashed bag-of-words features — the
    fastText-style scorer production curation pipelines run over every
    document (CCNet/Dolma quality filtering), as one scan + one shuffle.

    Each token hashes into one of ``dim`` buckets
    (:func:`hashed_feature_bucket`); a document's score is the mean
    bucket weight of its tokens. ``weights`` is a (bucket, w_int) table
    with integer milli-weights in [-1000, 1000] — a trained model in
    production; when omitted, a deterministic pseudo-model derived from
    md5('w:'||bucket) stands in (same values in the DuckDB oracle, so
    the full inference path is externally hash-verified).

    Determinism: the per-doc fold is an INTEGER sum of milli-weights —
    order-independent, unlike a float sum — divided once at the end.

    Plan at 100 TB: token explode + bucket hash are per-row expressions
    inside the scan stage; the weight join broadcasts (dim rows, tiny by
    construction); the only shuffle carries (doc_id, int) pairs for the
    final aggregation. Score thresholding downstream should use
    ``w_sum > k * n_toks`` integer cross-multiplication.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("tok"),
    ).withColumn("bucket", hashed_feature_bucket("tok", dim))
    if weights is None:
        scored = toks.withColumn("w_int", pseudo_weight(F.col("bucket")))
    else:
        # trained model: dim rows — always broadcast, never shuffled.
        # LEFT join + weight 0: a sparse trained table (buckets with no
        # training signal) must not silently drop tokens — or whole
        # documents whose every token is unmatched — from the gate.
        scored = toks.join(F.broadcast(weights), "bucket", "left").withColumn(
            "w_int", F.coalesce("w_int", F.lit(0).cast("long"))
        )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("w_int").alias("w_sum"),
        )
        .withColumn(
            "score",
            F.round(F.col("w_sum") / (1000.0 * F.col("n_toks")), 6),
        )
        .withColumn("keep", F.col("w_sum") > 0)
    )


def hashed_label_features(
    df: DataFrame,
    label: Column,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed bag-of-words TRAINING matrix: one (doc_id, y, bucket, c)
    row per document × feature bucket, plus a constant bias feature at
    bucket ``dim`` so every document — including token-less ones —
    participates in training. ``label`` is a boolean Column; y is +1
    where it holds and −1 otherwise (a NULL label falls to −1, the same
    CASE semantics the SQL oracles apply). Buckets come from
    :func:`hashed_feature_bucket`, so token features occupy the SAME
    bucket space as :func:`hashed_linear_quality`'s — plus one extra
    row per document at bucket ``dim``, the bias term, which that
    inference path has no feature for (its consumer is
    :func:`perceptron_scores`, which appends the bias bucket in-row).

    Documents sharing a doc_id AND label collapse to one training
    example (the groupBy key) — relevant only for NULL-id degenerate
    rows, where both engines group NULLs together."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(label, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
        tokens(text_col).alias("toks"),
    )
    counts = (
        base.select("doc_id", "y", F.explode("toks").alias("tok"))
        .withColumn("bucket", hashed_feature_bucket("tok", dim))
        .groupBy("doc_id", "y", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )
    bias = base.select(
        "doc_id",
        "y",
        F.lit(dim).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("c"),
    )
    return counts.unionByName(bias)


def _weight_array(weights: dict[int, int], dim: int) -> Column:
    """The model as an in-row literal: element_at(arr, bucket+1).
    dim+1 entries (features + bias) — broadcast-by-literal, no join."""
    return F.array(
        *[F.lit(int(weights.get(b, 0))) for b in range(dim + 1)]
    )


def perceptron_train(
    df: DataFrame,
    label: Column,
    dim: int = 64,
    epochs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[int, int]:
    """Batch-perceptron TRAINING of a hashed bag-of-words linear
    classifier — the trainer for the fastText-style quality/language
    gates this module serves at inference time. The deployment path
    for the returned model is :func:`perceptron_scores` (same feature
    construction INCLUDING the bias bucket at ``dim``); feeding the
    dict into :func:`hashed_linear_quality`'s ``weights`` table would
    silently drop the bias term and misread the weight scale (that
    path expects milli-weights) — same hash function, different
    contract. Integer-exact and order-independent by
    construction, so the whole training run is externally
    hash-verifiable: per epoch every document is scored under the
    CURRENT weights and the update is the SUM of y·count over all
    misclassified documents (y·score ≤ 0) — a deterministic aggregate,
    unlike sequential SGD whose result depends on row order.

    Plan per epoch, at 100 TB: the grouped feature matrix (one row per
    document, features as an array) is materialized ONCE
    (localCheckpoint) and re-scanned; the model rides INTO the scan as
    a literal dim+1 integer array (no join — scoring is an in-row
    ``aggregate`` over the feature array inside whole-stage codegen);
    the only shuffle carries (bucket, partial-sum) pairs, ≤ dim+1 of
    them after map-side partial aggregation; the only driver traffic is
    the dim+1-row update collect — the parameter-server pattern with
    the driver as the (tiny, bounded) server. Nothing corpus-sized ever
    reaches the driver and no stage reshuffles document text.

    Returns the trained model as a {bucket: weight} dict (≤ dim+1
    entries, zero-weight buckets omitted) — driver-side model state,
    like every ML framework's fit() result.
    """
    feats = (
        hashed_label_features(df, label, dim, text_col, id_col)
        .groupBy("doc_id", "y")
        .agg(
            F.collect_list(F.struct("bucket", "c")).alias("fs")
        )
        .localCheckpoint(eager=True)
    )
    w: dict[int, int] = {}
    for _ in range(epochs):
        arr = _weight_array(w, dim)
        score = F.aggregate(
            "fs",
            F.lit(0).cast("long"),
            lambda acc, f: acc
            + f["c"] * F.element_at(arr, (f["bucket"] + 1).cast("int")),
        )
        upd = (
            feats.withColumn("s", score)
            .filter(F.col("y") * F.col("s") <= 0)
            .select("y", F.explode("fs").alias("f"))
            .groupBy(F.col("f.bucket").alias("bucket"))
            .agg(F.sum(F.col("y") * F.col("f.c")).alias("u"))
            .collect()
        )
        for row in upd:
            nw = w.get(row["bucket"], 0) + row["u"]
            if nw:
                w[row["bucket"]] = nw
            else:
                w.pop(row["bucket"], None)
    return w


def _ln_micro(x: float) -> int:
    """``round(ln(x), 6) * 1e6`` as an exact integer, matching BOTH
    Spark's ``F.round`` (BigDecimal HALF_UP over the double's shortest
    repr) and DuckDB's ``ROUND(ln(x), 6)::DECIMAL(18,6) * 1e6`` — the
    d83/d98 micro-nat discipline applied driver-side."""
    import decimal
    import math

    return int(
        decimal.Decimal(repr(math.log(x))).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
        * 1_000_000
    )


def nb_langid_train(
    df: DataFrame,
    classes: tuple[str, ...],
    label_col: str = "lang",
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[dict[str, list[int]], dict[str, int]]:
    """Multinomial NAIVE BAYES over hashed token buckets — the trained
    replacement for the d29 n-gram language-ID heuristic, and the
    model class langid actually uses (TextCat/langid.py lineage):
    fit IS counting — one partial-aggregating token pass plus one
    label-histogram scan (reads the label column only), each ending in
    a model-sized collect; deterministic and order-independent by
    construction (no epochs, no oscillation — the batch perceptron
    was measured stuck at majority-class on this task).

    Per class c and bucket b: ``w[c][b] = micro(ln((count(c,b)+1) /
    (T_c + dim)))`` (add-one smoothing over the dim-bucket vocabulary)
    and ``prior[c] = micro(ln(n_c / n))`` — exact integer micro-nats
    via :func:`_ln_micro`, so the model and every downstream score are
    externally hash-verifiable.

    At 100 TB: the (class, bucket) aggregate partial-combines map-side
    to ≤ |classes|·dim rows; the label histogram is ≤ |labels| rows;
    both collects are MODEL-sized, never corpus-sized. Inference
    (d113) is pure in-row arithmetic — zero shuffle.

    A class with ZERO labeled documents is untrainable and gets no
    model (its prior would be ln 0); on an empty corpus the model is
    empty — consumers emit NULL scores for untrained classes, the
    semantics the SQL oracles replay via scalar subqueries.

    Returns ``(weights, priors)`` over the TRAINED classes only:
    ``weights[c]`` is the dense dim-entry micro log-prob list,
    ``priors[c]`` the micro log-prior.
    """
    toks = df.select(
        F.col(label_col).alias("_lbl"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    cb_rows = (
        toks.filter(F.col("_lbl").isin(*classes))
        .withColumn("bucket", hashed_feature_bucket("tok", dim))
        .groupBy("_lbl", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
        .collect()
    )
    nd_rows = df.groupBy(F.col(label_col).alias("_lbl")).count().collect()
    n_total = sum(r["count"] for r in nd_rows)
    n_by = {r["_lbl"]: r["count"] for r in nd_rows}
    counts: dict[str, dict[int, int]] = {c: {} for c in classes}
    for r in cb_rows:
        counts[r["_lbl"]][int(r["bucket"])] = int(r["c"])
    weights: dict[str, list[int]] = {}
    priors: dict[str, int] = {}
    for cls in classes:
        if n_by.get(cls, 0) == 0:
            continue  # untrainable: no documents carry this label
        t = sum(counts[cls].values())
        weights[cls] = [
            _ln_micro((counts[cls].get(b, 0) + 1) / (t + dim))
            for b in range(dim)
        ]
        priors[cls] = _ln_micro(n_by[cls] / n_total)
    return weights, priors


def nb_langid_scores(
    classes: tuple[str, ...],
    weights: dict[str, list[int]],
    priors: dict[str, int],
    dim: int = 64,
    text_col: str = "text",
) -> list[Column]:
    """Per-class NB log-posterior columns (integer micro-nats):
    ``prior_c + Σ_tokens w_c[bucket(token)]`` — evaluated ENTIRELY
    in-row (literal dense weight arrays + an ``aggregate`` fold over
    the hashed token stream, whole-stage codegen), so multi-class
    inference over 100 TB is a pure map stage: zero joins, zero
    shuffles, token-less documents score exactly their prior. An
    UNTRAINED class (absent from ``weights``) scores NULL."""
    out = []
    for cls in classes:
        if cls not in weights:
            out.append(F.lit(None).cast("long").alias(f"s_{cls}"))
            continue
        arr = F.array(*[F.lit(int(v)) for v in weights[cls]])
        score = F.lit(int(priors[cls])).cast("long") + F.aggregate(
            F.transform(
                tokens(text_col),
                lambda t: hashed_feature_bucket(t, dim),
            ),
            F.lit(0).cast("long"),
            lambda acc, b: acc + F.element_at(arr, (b + 1).cast("int")),
        )
        out.append(score.cast("long").alias(f"s_{cls}"))
    return out


def _micro6(x: float) -> int:
    """``round(x, 6) * 1e6`` as an exact integer — :func:`_ln_micro`'s
    rounding discipline (decimal HALF_UP over the double's shortest
    repr, matching DuckDB ``ROUND(x, 6)::DECIMAL(18,6) * 1e6``) applied
    to an arbitrary double, for driver-side constants the oracle
    recomputes with its own transcendentals (the DSIR Gumbel table)."""
    import decimal

    return int(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
        * 1_000_000
    )


def hashed_ngram_stream(col: Column | str, dim: int) -> Column:
    """``array<long>`` of hashed-feature buckets over the document's
    unigrams AND adjacent-word bigrams — the hashed n-gram feature
    space of DSIR (Xie et al., *Data Selection for Language Models via
    Importance Resampling*, NeurIPS 2023): bigrams carry the phrase
    signal a unigram bag loses, and the hash bound (:func:
    `hashed_feature_bucket`, md5 so the SQL oracles reproduce every
    bucket) keeps the model dim-sized regardless of vocabulary. Pure
    in-row list algebra — builds inside the scan stage, no explode
    needed by callers that fold over it. Token-less text → []."""
    toks = tokens(col)
    bigrams = F.when(
        # guarded: Spark's sequence(1, 0) DESCENDS instead of being
        # empty, so a 0/1-token document must short-circuit to []
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(
                F.element_at(toks, i),
                F.lit(" "),
                F.element_at(toks, i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(
        F.concat(toks, bigrams), lambda t: hashed_feature_bucket(t, dim)
    )


def dsir_delta_train(
    target: DataFrame,
    raw: DataFrame,
    dim: int = 256,
    text_col: str = "text",
) -> list[int]:
    """Fit the DSIR importance model: per-bucket micro-nat log-ratio
    ``delta[b] = ln p_target[b] − ln p_raw[b]`` between two add-one-
    smoothed hashed-n-gram multinomials (target = the trusted corpus
    the selection steers toward, raw = the pool it draws from — Xie et
    al. 2023 §2; same smoothing/rounding as :func:`nb_langid_train`,
    so the SQL oracles replay the fit on the full bucket grid).

    Fit IS counting: one partial-aggregating n-gram pass per side,
    each ending in a ≤ dim-row MODEL-sized collect — at 100 TB both
    passes map-side combine to ``dim`` rows and the driver never sees
    corpus-sized data. Returns the dense dim-entry integer delta list;
    downstream scoring (:func:`dsir_logweight`) is zero-shuffle."""

    def lam(df: DataFrame) -> list[int]:
        rows = (
            df.select(
                F.explode(
                    hashed_ngram_stream(F.col(text_col), dim)
                ).alias("bucket")
            )
            .groupBy("bucket")
            .agg(F.count("*").cast("long").alias("c"))
            .collect()
        )
        counts = {int(r["bucket"]): int(r["c"]) for r in rows}
        t = sum(counts.values())
        return [
            _ln_micro((counts.get(b, 0) + 1) / (t + dim))
            for b in range(dim)
        ]

    lt, lr = lam(target), lam(raw)
    return [a - b for a, b in zip(lt, lr)]


def dsir_logweight(
    delta: list[int], dim: int = 256, text_col: str = "text"
) -> Column:
    """Integer micro-nat log importance weight of one document:
    ``Σ_{n-grams} delta[bucket(gram)]`` — the trained delta as ONE
    literal dense array folded over the hashed n-gram stream entirely
    IN-ROW (whole-stage codegen: zero joins, zero shuffles; scoring
    100 TB is a pure map stage). Token-less documents weigh 0 (the
    fold's init), the neutral element both engines agree on."""
    arr = F.array(*[F.lit(int(v)) for v in delta])
    return F.aggregate(
        hashed_ngram_stream(F.col(text_col), dim),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(arr, (b + 1).cast("int")),
    ).cast("long")


def gumbel_micro(id_col: Column | str, n_bins: int = 1024) -> Column:
    """Deterministic discretized Gumbel(0,1) noise in integer
    micro-nats — the resampling half of DSIR's Gumbel-top-k selection
    (``argtop_k(logw + g)`` samples WITHOUT replacement proportionally
    to the importance weights), made hash-verifiable: the uniform is
    ``md5('g:' || doc_id)`` folded to a bin in [0, n_bins), and the
    Gumbel quantile ``−ln(−ln((bin+0.5)/n_bins))`` comes from a
    driver-built literal table rounded with the micro-nat discipline,
    which the DuckDB oracle recomputes per-row with its own ``ln`` —
    agreement across all n_bins values is pinned by a test. In-row
    lookup, zero shuffle; NULL ids coalesce to '' so degenerate rows
    get a key instead of a silent NULL-sort surprise."""
    import math

    c = F.col(id_col) if isinstance(id_col, str) else id_col
    table = F.array(
        *[
            F.lit(_micro6(-math.log(-math.log((i + 0.5) / n_bins))))
            for i in range(n_bins)
        ]
    )
    bin_ = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("g:"), F.coalesce(c.cast("string"), F.lit(""))
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_bins
    )
    return F.element_at(table, (bin_ + 1).cast("int")).cast("long")


def perceptron_scores(
    df: DataFrame,
    weights: dict[int, int],
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under a trained perceptron model — ZERO-shuffle
    inference: the model is a literal dim+1 integer array evaluated
    in-row over the hashed token stream (one scan, whole-stage
    codegen; the doc-keyed aggregate is the only exchange and carries
    (doc_id, long) pairs). Returns (doc_id, y-is-not-emitted, score,
    pred) — callers join truth labels themselves if they want a
    decision table."""
    arr = _weight_array(weights, dim)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            # bias bucket appended in-row: token buckets + [dim]
            F.concat(
                F.transform(
                    tokens(text_col),
                    lambda t: hashed_feature_bucket(t, dim),
                ),
                F.array(F.lit(dim).cast("long")),
            )
        ).alias("bucket"),
    )
    return (
        toks.withColumn(
            "wv", F.element_at(arr, (F.col("bucket") + 1).cast("int"))
        )
        .groupBy("doc_id")
        .agg(F.sum("wv").cast("long").alias("score"))
        .withColumn("pred", F.col("score") > 0)
    )


def positional_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: list[str] | None = None,
) -> DataFrame:
    """POSITIONAL postings: (term, doc_id, positions) with 0-based
    token offsets sorted ascending — the index layout phrase queries
    and proximity scoring need, which the frequency-only postings
    (:func:`bm25_postings` family) cannot answer. ``vocab`` restricts
    the explode to the given terms BEFORE any shuffle (the probe path:
    an ``isin`` literal filter inside the scan stage); omit it to build
    the full-vocabulary artifact (the s53 build-cost class — shuffle is
    corpus tokens wide, but each row is (term, doc_id, int) not text).
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "term"),
    )
    if vocab is not None:
        tok = tok.filter(F.col("term").isin(list(vocab)))
    return tok.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions")
    )


def phrase_hits_from_postings(
    postings: DataFrame, phrase: list[str]
) -> DataFrame:
    """Exact phrase search over a positional-postings table: a document
    matches at start position p iff term i of the phrase occurs at
    p + i for every i — evaluated as the intersection of the per-term
    position lists shifted left by their phrase offset (the classic
    positional-index phrase algorithm, Manning et al. IR ch. 2, as
    array algebra). Returns (doc_id, n_hits) for documents with ≥ 1
    occurrence; overlapping occurrences all count.

    Plan: the postings filter to the phrase's terms (literal ``isin``
    — for a stored artifact this prunes before the group), one
    doc-keyed aggregate builds the term→positions map for candidate
    docs only (docs holding at least one phrase term), and the
    intersection folds in-row. Nothing corpus-sized shuffles for a
    query: work is proportional to the phrase terms' posting lists —
    the point of an index."""
    terms = [t.lower() for t in phrase]
    if not terms:
        raise ValueError("phrase must contain at least one term")
    distinct = set(terms)
    per_doc = (
        postings.filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pm")
        )
        .filter(F.size("pm") == len(distinct))
    )
    def _shift(col: Column, off: int) -> Column:
        # NOTE: a `lambda p, _i=off:` default-arg closure would break
        # here — PySpark HOFs dispatch on lambda ARITY, so a 2-parameter
        # lambda becomes transform's (element, index) form and the
        # default is silently overwritten by the array index.
        return F.transform(col, lambda p: p - F.lit(off))

    acc = F.element_at(F.col("pm"), F.lit(terms[0]))
    for i, t in enumerate(terms[1:], start=1):
        acc = F.array_intersect(
            acc, _shift(F.element_at(F.col("pm"), F.lit(t)), i)
        )
    return (
        per_doc.select(
            "doc_id", F.size(acc).cast("long").alias("n_hits")
        )
        .filter(F.col("n_hits") >= 1)
    )


def phrase_search(
    df: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-shot phrase search: positional postings restricted to the
    phrase's terms in-scan, then the shifted-intersection match —
    (doc_id, n_hits), occurrences ≥ 1."""
    terms = [t.lower() for t in phrase]
    postings = positional_postings(
        df, text_col, id_col, vocab=sorted(set(terms))
    )
    return phrase_hits_from_postings(postings, terms)


def normalize_text_udf():
    """Arrow-batched Unicode NFC normalizer — the one curation step with
    no JVM builtin (Spark has no Unicode-normalization function), so this
    is the documented exception to this module's no-Python rule: a
    vectorized pandas Series map over Arrow batches, never per-row.

    C0/C1 control and format-char (Cf) removal FIRST (keeping \\t \\n),
    THEN NFC composition (é as e+U+0301 → single codepoint), then
    whitespace-run collapse + trim — the standard normalize stage
    (C4/Dolma) run before fingerprinting so byte-different,
    render-identical texts dedup together. Strip-before-NFC order
    matters for idempotence: a Cf char between a base char and a
    combining mark (e.g. 'e' + ZWNJ + U+0301) blocks composition, so
    stripping after NFC would leave a decomposed sequence that a second
    pass composes differently; stripping first, NFC sees the final
    character stream and NFC∘strip is a fixpoint. The DuckDB oracle
    mirrors the same order with regexp_replace + nfc_normalize, making
    the Python path externally hash-verified.

    Scope note: stripping ALL of Cf includes ZWJ/ZWNJ, which carry
    meaning in Indic scripts and ZWJ emoji sequences — the standard
    C4-style trade for Latin-script web corpora, lossy elsewhere. For a
    multi-script corpus, narrow the strip class (keep 200C/200D) before
    reusing this stage.
    """
    import re
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # ASCII whitespace only — Python str.split() would also collapse
    # Unicode spaces (Zs: NBSP, em-space…), which RE2's ASCII \s in the
    # oracle does not; Zs characters are content here, on both sides.
    ws_run = re.compile(r"[ \t\n]+")

    @pandas_udf("string")
    def _normalize(s: pd.Series) -> pd.Series:
        def one(text):
            if text is None:
                return None
            text = "".join(
                ch
                for ch in text
                if ch in "\t\n" or unicodedata.category(ch) not in ("Cc", "Cf")
            )
            text = unicodedata.normalize("NFC", text)
            return ws_run.sub(" ", text).strip(" ")

        return s.map(one)

    return _normalize


def normalize_text(col: Column | str) -> Column:
    """NFC-normalize + control-strip + whitespace-collapse (see
    :func:`normalize_text_udf`)."""
    c = F.col(col) if isinstance(col, str) else col
    return normalize_text_udf()(c)


def hashed_linear_quality_cols(
    col: Column | str, dim: int = 1024
) -> tuple[Column, Column]:
    """The STATELESS form of :func:`hashed_linear_quality` for the
    pseudo-model case: ``(n_toks, w_sum)`` as pure column expressions —
    the per-token weight lookup is a ``transform`` over the token array
    and the document fold is an integer ``aggregate`` HOF, so no
    explode, no shuffle, and the expression drops into a streaming
    micro-batch (or a 100 TB scan stage) unchanged. With a trained
    weight TABLE use :func:`hashed_linear_quality` (the broadcast
    join); with the derived pseudo-model the lookup is arithmetic and
    this form is strictly cheaper."""
    toks = tokens(col)
    w_sum = F.aggregate(
        F.transform(
            toks, lambda t: pseudo_weight(hashed_feature_bucket(t, dim))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.size(toks), w_sum


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained bigram language-model quality scoring — the
    CCNet/FineWeb-style perplexity gate: train add-one-smoothed bigram
    probabilities on the corpus itself, score each document by its mean
    negative log-probability per bigram (monotone in perplexity;
    gibberish and boilerplate-free natural text separate cleanly).

    p(w2|w1) = (c12 + 1) / (c1 + V): c12 from ONE hash-aggregated
    bigram count over the corpus, context counts c1 by re-aggregating
    c12 (never a second corpus scan), V the distinct-unigram count over
    the ENTIRE corpus — including documents too short to contribute a
    bigram, so the smoothing denominator is a property of the corpus
    vocabulary, not of the bigram-eligible subset (and so the engine
    and the DuckDB oracle agree by construction on corpora containing
    empty or single-token documents). Each document's bigrams probe-join the count
    tables on the bigram/context keys — build sides are unique-keyed
    aggregates, so a hot bigram ("of the") skews only the probe side,
    which AQE's skew-join split handles. Per-bigram -ln p rounds to 6
    decimals and sums as decimal(18,6), then everything converts to
    exact integer MICRO-UNITS (1e-6 nats) — order-independent and
    engine-portable end to end: the one transcendental is rounded
    before any aggregation, and the final average is an integer floor
    division, never a rounded float divide (a trailing
    ``ROUND(sum/n, 6)`` flipped 2 rows in 5,000 at sf0.1 on half-ulp
    boundaries; measured, hence this form).

    Returns (doc_id, n_bigrams, sum_neg_logp_micro, avg_neg_logp_micro)
    for documents with at least one bigram.
    """
    # Round-14 (guide §5 compute-once): the token table feeds THREE
    # subtrees of one plan — the bigram probe side, the c12 count
    # build, and the vocab count — and nothing reuses a common exchange
    # between them, so the tokenize+explode scan executed three times
    # per run. Stage it once (the staged-shingles discipline; at 100 TB
    # this is a written token-table artifact). Measured interleaved
    # A/B, GC-stabilized (tools/opt_r14_ab.py d83): 1.177s -> 0.864s
    # median at sf0.1, rows identical.
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks")
    ).localCheckpoint(eager=True)
    toks = F.col("_toks")
    bigrams = base.filter(F.size(toks) >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.struct(
                    F.element_at(toks, i + 1).alias("w1"),
                    F.element_at(toks, i + 2).alias("w2"),
                ),
            )
        ).alias("_bg"),
    ).select("doc_id", "_bg.w1", "_bg.w2")
    c12 = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("cnt12"))
    c1 = c12.groupBy("w1").agg(F.sum("cnt12").alias("cnt1"))
    # vocab over the UNFILTERED corpus (single-token docs count; empty
    # docs tokenize to [] and contribute nothing) — same tokenize scan
    # as `base`, just without the bigram-eligibility filter
    vocab = base.select(
        F.explode("_toks").alias("_tok")
    ).agg(F.countDistinct("_tok").alias("vocab"))
    p = (F.col("cnt12") + 1).cast("double") / (
        F.col("cnt1") + F.col("vocab")
    ).cast("double")
    neg_logp = F.round(-F.log(p), 6).cast("decimal(18,6)")
    return (
        bigrams.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", neg_logp.alias("_nl"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("_nl") * 1_000_000)
            .cast("long")
            .alias("sum_neg_logp_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "sum_neg_logp_micro",
            F.expr("sum_neg_logp_micro div n_bigrams").alias(
                "avg_neg_logp_micro"
            ),
        )
    )


def bm25_postings(
    df: DataFrame,
    terms: tuple[str, ...] | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The (doc_id, term, tf, dl) postings rows of ``df`` restricted to
    ``terms`` — one broadcast-filtered explode; only term occurrences
    ever shuffle. Postings are PER-DOCUMENT-LOCAL (tf and dl depend on
    one document only), which is what makes the index incrementally
    maintainable: postings(old) ∪ postings(batch) == postings(old ∪
    batch) exactly (the s52 law).

    ``terms=None`` builds the FULL-VOCABULARY postings table — the
    index-once/serve-any-query artifact (s53): the explode is
    unrestricted, so shuffle volume is the corpus token count (the
    d80/span-index cost class — one such pass, amortized over every
    future query workload, vs. one term-restricted scan PER workload).
    An empty tuple still means "no terms" (empty postings)."""
    occ = df.select(
        F.col(id_col).alias("doc_id"),
        token_count(text_col).alias("dl"),
        F.explode(tokens(text_col)).alias("term"),
    )
    if terms is not None:
        occ = occ.filter(
            F.col("term").isin(*terms) if terms else F.lit(False)
        )
    return occ.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"),
        # dl is constant per doc — fold it through the one
        # aggregate instead of a second corpus-derived join
        F.max("dl").alias("dl"),
    )


def bm25_index_build(
    df: DataFrame,
    stage_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, int, int]:
    """The DURABLE form of the s53 full-vocabulary index — a
    WRITE-ONCE artifact on any Hadoop-visible URI (the d86
    ``stage_path`` discipline applied to lexical retrieval):

    - ``{stage_path}/postings`` — the (doc_id, term, tf, dl) parquet
      table, term-bucketable downstream;
    - ``{stage_path}/stats`` — the one-row (n_docs, t_total) totals
      the ranker needs alongside.

    First call scans the corpus once and writes both; every later call
    — new query workloads, a different session, a driver restart —
    reads the parquet back WITHOUT touching the corpus text (presence
    of the artifact IS the cache; delete the path to force a rebuild;
    the caller owns the path lifecycle, as with the span/line index
    artifacts). Returns (postings, n_docs, t_total) ready for
    :func:`bm25_topk_from_postings`.
    """
    spark = df.sparkSession
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(stage_path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    post_dir = f"{stage_path}/postings"
    stats_dir = f"{stage_path}/stats"
    if not (
        fs.exists(jvm_path(post_dir, "_SUCCESS"))
        and fs.exists(jvm_path(stats_dir, "_SUCCESS"))
    ):
        bm25_postings(df, None, text_col, id_col).write.mode(
            "overwrite"
        ).parquet(post_dir)
        df.select(
            F.count("*").alias("n_docs"),
            F.coalesce(
                F.sum(
                    token_count(F.coalesce(F.col(text_col), F.lit("")))
                ),
                F.lit(0),
            ).alias("t_total"),
        ).write.mode("overwrite").parquet(stats_dir)
    stats = spark.read.parquet(stats_dir).collect()[0]
    return (
        spark.read.parquet(post_dir),
        int(stats["n_docs"]),
        int(stats["t_total"]),
    )


def bm25_append_postings(
    stored: DataFrame,
    new_docs: DataFrame,
    terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """INCREMENTAL postings maintenance for the BM25 index: build
    postings for the ARRIVING documents only and append to the stored
    artifact — the indexed corpus is never re-scanned; work per ingest
    is O(batch) (the s47/s48/s50 discipline, completing the set for
    the lexical index). Exact because postings are per-document-local;
    the corpus-level statistics the ranker also needs (df, N, T) fold
    FROM the merged postings / a batch-sized totals add, never from a
    full re-scan."""
    return stored.unionByName(
        bm25_postings(new_docs, terms, text_col, id_col)
    )


def _staged_bm25_tf(
    df: DataFrame, queries: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Get-or-build the staged per-(doc, query-term) postings table:
    tf plus the document length dl, from one term-filtered corpus
    explode. Only query-term occurrences ever shuffle.

    The query TERM SET is collected driver-side (bounded by contract —
    a query workload, not a corpus; same sanction as centroid/codebook
    collects) for two reasons: it keys the staging cache by VALUE —
    ``createDataFrame`` literals get a fresh semantic hash per build,
    which silently defeated plan-hash keying (measured: the bench's 7
    builds re-staged 7 times) — and it lets the explode filter be a
    literal ``isin`` evaluated inside the scan stage, no join node at
    all.

    The artifact store keys the table by the corpus's semantic plan
    hash plus that term set, and rebuilds it when the corpus files
    change. It is reused by every branch (df fold, score join) and
    every repeat build over the same (corpus, query set). At 100 TB it
    is a written parquet postings table; locally localCheckpoint pins
    it."""
    # no .distinct() before the collect: the set() dedupes driver-side,
    # and dropping the aggregate lets a LocalRelation query workload
    # collect on the driver fast path — zero Spark jobs — instead of
    # paying an Exchange job per serve call (r13, guide §1.2/§2.4: count the jobs, drop the accidental exchange)
    terms = tuple(
        sorted({r[0] for r in queries.select("term").collect()})
    )
    return artifacts.get_or_build(
        "bm25_tf",
        df.sparkSession,
        artifacts.plan_params(df, terms, text_col, id_col),
        lambda: bm25_postings(
            df, terms, text_col, id_col
        ).localCheckpoint(eager=True),
        sources=(df,),
    )


def bm25_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 retrieval (k1 = 1.2, b = 0.75 — the Lucene/Elastic
    defaults) over the corpus for a set of term queries, top-``k``
    documents per query — the lexical ranking half of every
    retrieval/RAG stack and the standard hard-negative miner for
    embedding training; complements :func:`d52 <unigram_rarity>`-style
    TF-IDF with real length normalization.

    ``queries`` is a (query_id, term) DataFrame — tiny, broadcast
    everywhere it joins.

    Exactness contract (the d83/d95 discipline): the ONE transcendental
    — idf = ln((N+1)/(df+0.5)), a simplified always-positive idf
    variant (Lucene's is ln(1 + (N−df+0.5)/(df+0.5)); this form keeps
    the always-positive property with one fewer subtraction) —
    is rounded to 6 decimals BEFORE any arithmetic and becomes integer
    micro-nats. The tf normalization is exact integers all the way
    down: with k1 = 6/5 and b = 3/4, clearing denominators by 10·T
    (T = total corpus tokens, N = corpus docs, dl = doc tokens,
    avgdl = T/N exact — never a float average) gives

        tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
            = 22·T·tf / (10·T·tf + 3·T + 9·dl·N)

    so each (query, doc, term) contribution is ONE decimal(38,0) floor
    division ``(idf_micro · 22·T·tf) fdiv (10·T·tf + 3·T + 9·dl·N)``
    and per-doc scores are exact integer sums — bit-identical across
    engines at any corpus size (decimal(38) holds to ~1e12-token
    corpora against the ~1e38 headroom).

    Shuffle architecture at 100 TB: the token explode BROADCAST-filters
    to query terms BEFORE anything shuffles, so shuffle volume is the
    query terms' occurrence count, not the corpus token count (the
    decisive difference from a TF-IDF-style full-vocabulary pass); the
    document length dl rides through the explode and folds into the
    same tf aggregate — the resulting postings table is STAGED once
    (:func:`_staged_bm25_tf`; localCheckpoint locally, a parquet
    postings table in production) so the df fold and the score join
    read one artifact instead of re-scanning the corpus per branch.
    N and T come from one narrow no-explode aggregate over the corpus
    (broadcast one-row block). The final per-(query, doc) sum and top-k
    shuffle only matched rows. Zipf skew (a stop-word query term
    matching every doc) lands on partial-aggregable groupBys, never a
    content-keyed Window.

    Returns (query_id, doc_id, score_micro, rk), rk 1..k per query,
    ties broken by doc_id — fully deterministic.
    """
    tf = _staged_bm25_tf(df, queries, text_col, id_col)
    totals = F.broadcast(
        df.select(
            F.count("*").alias("n_docs"),
            # coalesce BEFORE counting: token_count(NULL) is -1 (size of
            # a null array), which would silently shrink T where the
            # oracle's SUM skips the NULL — the r7 NULL-text lesson
            F.coalesce(
                F.sum(token_count(F.coalesce(F.col(text_col), F.lit("")))),
                F.lit(0),
            ).alias("t_total"),
        )
    )
    return _bm25_rank(tf, queries, totals, k)


def bm25_topk_from_postings(
    postings: DataFrame,
    queries: DataFrame,
    n_docs: int,
    t_total: int,
    k: int = 10,
) -> DataFrame:
    """BM25 top-``k`` served from the STORED full-vocabulary postings
    artifact alone (:func:`bm25_postings` with ``terms=None``) plus its
    two stored corpus totals — the corpus text is never touched, so an
    ARBITRARY query workload costs one postings probe instead of one
    corpus scan (what an inverted index is for; completes the
    d86-span-index / s47-IVF stored-artifact discipline for lexical
    retrieval). Identical decimal(38,0) arithmetic to
    :func:`bm25_topk`: same queries over the same corpus return
    bit-identical scores from either path (the s53 law). Unindexed
    query terms simply match no postings row.

    At 100 TB the postings artifact is a term-bucketed parquet table;
    the probe's plan is a broadcast of the query terms against it —
    per-term partition pruning when bucketed BY term — followed by the
    same matched-rows-only score/top-k shuffles as the direct path.
    """
    spark = postings.sparkSession
    totals = F.broadcast(
        local_df(
            spark,
            [(int(n_docs), int(t_total))],
            "n_docs bigint, t_total bigint",
        )
    )
    # restrict the FULL-VOCABULARY artifact to the query terms BEFORE
    # the ranker's df fold — without this, dfreq would aggregate the
    # entire postings table per probe (Catalyst cannot push a join
    # through the aggregate), a build-class shuffle for a 3-term query;
    # with it, probe shuffle = matched rows only, as documented. df
    # values are unchanged (df is per-term-local). The restriction is a
    # literal ``isin`` (terms collected driver-side — a bounded query
    # workload, the _staged_bm25_tf sanction) rather than the previous
    # broadcast semi-join (r13, guide §3.2/§6 predicate pushdown): the predicate pushes
    # into the postings SCAN (partition/bucket pruning when the
    # artifact is laid out by term) and drops the per-probe broadcast
    # build job; NULL terms never matched the semi-join and never
    # match isin. The direct path's tf is already term-restricted, so
    # the filter lives HERE, not in _bm25_rank.
    terms = tuple(
        sorted({r[0] for r in queries.select("term").collect()})
    )
    matched = postings.filter(
        F.col("term").isin(*terms) if terms else F.lit(False)
    )
    return _bm25_rank(matched, queries, totals, k)


def bm25_topk_from_bucketed(
    spark,
    table: str,
    queries: DataFrame,
    n_docs: int,
    t_total: int,
    k: int = 10,
) -> DataFrame:
    """BM25 top-``k`` served from a TERM-BUCKETED catalog postings
    table with bucket PRUNING — the production artifact layout
    SCALING.md's serve analysis names, now the executed plan: the
    query-term restriction is a literal ``isin`` (terms collected
    driver-side — a bounded query workload, the ``_staged_bm25_tf``
    sanction), which the bucketed FileSourceScan turns into
    ``SelectedBucketsCount`` pruning. The scan READS only the
    ≤ |terms| buckets that can contain matches — at 100 TB a 3-term
    probe touches 3/1024ths of the artifact's files instead of
    semi-joining the whole table (the :func:`bm25_topk_from_postings`
    path, which must still scan every file to find matches).
    Ranking is the shared decimal(38,0) arithmetic, so
    bucketed-serve == flat-serve == direct-scan (the s53 law extended;
    pruning is asserted in tests/test_llm_ops.py)."""
    # set() dedupes driver-side; no .distinct() job (see _staged_bm25_tf)
    terms = tuple(
        sorted({r[0] for r in queries.select("term").collect()})
    )
    postings = spark.table(table)
    matched = postings.filter(
        F.col("term").isin(*terms) if terms else F.lit(False)
    )
    totals = F.broadcast(
        local_df(
            spark,
            [(int(n_docs), int(t_total))],
            "n_docs bigint, t_total bigint",
        )
    )
    return _bm25_rank(matched, queries, totals, k)


def _bm25_rank(
    tf: DataFrame, queries: DataFrame, totals: DataFrame, k: int
) -> DataFrame:
    """Shared BM25 ranker: (doc, term, tf, dl) postings × (query_id,
    term) queries × one-row (n_docs, t_total) totals → per-query
    top-k, all-integer (see :func:`bm25_topk` for the arithmetic
    derivation). CONTRACT: ``tf`` must already be restricted to the
    query terms — the direct path stages it that way, and the serve
    path semi-joins the full-vocabulary artifact down first (see
    :func:`bm25_topk_from_postings`); feeding unrestricted postings in
    here would make the df fold aggregate the whole table."""
    # dedupe the (query_id, term) pairs driver-side (bounded by the
    # query-workload contract) instead of an in-plan .distinct(): the
    # aggregate forced an Exchange + job inside every serve call's
    # broadcast build; a Python set is the same NULL-safe dedupe and
    # the rebuilt LocalRelation broadcasts without one (r13, guide §2.4)
    q_schema = queries.select("query_id", "term").schema
    seen: set = set()
    pairs = []
    for r in queries.select("query_id", "term").collect():
        key = (r["query_id"], r["term"])
        if key not in seen:
            seen.add(key)
            pairs.append(key)
    qterms = F.broadcast(
        local_df(
            queries.sparkSession,
            pairs,
            ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in q_schema
            ),
        )
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf_micro = (
        F.round(
            F.log(
                (F.col("n_docs") + 1).cast("double")
                / (F.col("df").cast("double") + 0.5)
            ),
            6,
        ).cast("decimal(18,6)")
        * 1_000_000
    ).cast("decimal(38,0)")
    scored = (
        qterms.join(tf, "term")
        .join(dfreq, "term")
        .crossJoin(totals)
        .select(
            "query_id",
            "doc_id",
            idf_micro.alias("_idf"),
            F.col("tf").cast("decimal(38,0)").alias("_tf"),
            F.col("dl").cast("decimal(38,0)").alias("_dl"),
            F.col("n_docs").cast("decimal(38,0)").alias("_n"),
            F.col("t_total").cast("decimal(38,0)").alias("_t"),
        )
        .select(
            "query_id",
            "doc_id",
            # explicit floor division (a - a % b) / b in decimal(38,0):
            # plain decimal `/` rounds HALF_UP at scale 6 (the d95
            # lesson); domain is strictly positive so this IS floor
            F.expr(
                "CAST((_idf * 22 * _t * _tf"
                " - ((_idf * 22 * _t * _tf) % (10 * _t * _tf + 3 * _t + 9 * _dl * _n)))"
                " / (10 * _t * _tf + 3 * _t + 9 * _dl * _n) AS DECIMAL(38,0))"
            ).alias("_contrib"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_contrib").cast("long").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score_micro", "rk")
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Shannon entropy of each document's token distribution, in exact
    integer MICRO-NATS — the Gopher-class diversity/repetition signal:
    near-zero entropy is a one-phrase spam page or degenerate
    generation; natural prose sits near its length-capped maximum
    ln(n_tokens). Complements :func:`bigram_logprob_score` (d83 — a
    corpus-relative fluency score) with a corpus-FREE per-document
    signal: no trained counts, so it works on the first document of a
    crawl and never shifts as the corpus grows.

    Exactness (the d83/d95 discipline): with c = per-token count and
    n = doc tokens,

        H = ln n − (Σ c·ln c)/n

    and every ln rounds to 6 decimals into integer micro-nats BEFORE
    any multiplication or summation: S = Σ c·round_micro(ln c) is an
    exact integer, and the single division is an integer floor
    division, so entropy_micro = round_micro(ln n) − S div n is
    bit-identical across engines at any scale (the floor bias is
    < 1 micro-nat, stated here rather than hidden in a float divide).

    Plan shape at 100 TB: one token explode → hash aggregate on
    (doc, token) → hash aggregate on doc. Both aggregates partial-map
    before their shuffles; shuffle volume is bounded by distinct
    (doc, token) pairs (≤ corpus tokens, much less on repetitive
    documents — the very documents the signal flags). No window, no
    skewable content key: both keys contain doc_id.

    Returns (doc_id, n_tokens, n_distinct, entropy_micro); empty docs
    are dropped (H of zero tokens is undefined).
    """
    ln_micro_c = (
        F.round(F.log(F.col("_c").cast("double")), 6).cast("decimal(18,6)")
        * 1_000_000
    ).cast("long")
    ln_micro_n = (
        F.round(F.log(F.col("n_tokens").cast("double")), 6).cast(
            "decimal(18,6)"
        )
        * 1_000_000
    ).cast("long")
    tf = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("_tok"),
        )
        .groupBy("doc_id", "_tok")
        .agg(F.count("*").alias("_c"))
    )
    return (
        tf.select(
            "doc_id",
            "_c",
            (F.col("_c") * ln_micro_c).alias("_s"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.sum("_s").alias("_S"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            (ln_micro_n - F.expr("_S div n_tokens")).alias(
                "entropy_micro"
            ),
        )
    )


def bm25_serving_stats(
    df: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[dict[str, int], int, int]:
    """Collect the FROZEN corpus statistics BM25 ingest-time serving
    needs: {term: idf_micro}, corpus doc count N, corpus token total T.

    idf_micro is computed IN Spark with the same rounded-ln expression
    :func:`bm25_topk` ranks with and collected as integers — the
    collected numbers ARE the model artifact (the offline-train /
    online-serve split), so the streaming scorer never re-derives a
    transcendental. Bounded collect: one row per query term plus one
    totals row (the centroid/codebook sanction)."""
    totals = df.select(
        F.count("*").alias("n_docs"),
        # NULL text coalesces to '' (token_count(NULL) is -1, not 0)
        F.coalesce(
            F.sum(token_count(F.coalesce(F.col(text_col), F.lit("")))),
            F.lit(0),
        ).alias("t_total"),
    ).collect()[0]
    n_docs, t_total = int(totals["n_docs"]), int(totals["t_total"])
    tf = _staged_bm25_tf(df, queries, text_col, id_col)
    idf_micro = (
        F.round(
            F.log(
                F.lit(n_docs + 1).cast("double")
                / (F.col("df").cast("double") + 0.5)
            ),
            6,
        ).cast("decimal(18,6)")
        * 1_000_000
    ).cast("long")
    rows = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .select("term", idf_micro.alias("idf_micro"))
        .collect()
    )
    return {r.term: int(r.idf_micro) for r in rows}, n_docs, t_total


def bm25_serve_scores(
    docs: DataFrame,
    term_idf: dict[str, int],
    query_terms: dict[int, list[str]],
    n_docs: int,
    t_total: int,
    text_col: str = "text",
) -> DataFrame:
    """Score a (batch or STREAMING) document frame against frozen BM25
    statistics: one row per (document, query) with the exact integer
    score — the retrieval-at-ingest serving path (route each arriving
    document to the standing queries it matches).

    STATELESS by construction: per-term tf is a higher-order filter
    over the bound token array (no explode, no shuffle, no state
    store), the statistics are literals baked into the projection, and
    the arithmetic is the identical decimal(38,0) floor-division form
    as :func:`bm25_topk` — so stream-scored == batch-scored is a law,
    not an approximation. Terms must be lowercase alphanumeric (they
    are inlined into SQL lambda literals); asserted.

    Emits only (doc, query) pairs with score_micro > 0 — queries a
    document doesn't match produce no row, mirroring the batch
    ranker's inner join.
    """
    terms = sorted({t for ts in query_terms.values() for t in ts})
    bad = [t for t in terms if not (t.isalnum() and t == t.lower())]
    if bad:  # ValueError, not assert: survives python -O — the terms
        # are inlined into SQL literals and MUST stay un-injectable
        raise ValueError(f"non-lowercase-alphanumeric query terms: {bad}")
    live = [t for t in terms if t in term_idf]
    bound = docs.withColumn(
        "_toks", tokens(F.coalesce(F.col(text_col), F.lit("")))
    ).withColumn(
        "_dl", F.expr("CAST(size(_toks) AS DECIMAL(38,0))")
    )
    tf_cols = {}
    for i, t in enumerate(live):
        tf_cols[t] = f"_tf_{i}"
        bound = bound.withColumn(
            f"_tf_{i}",
            F.expr(
                f"CAST(size(filter(_toks, t -> t = '{t}')) "
                "AS DECIMAL(38,0))"
            ),
        )
    big = "CAST({v} AS DECIMAL(38,0))"
    T, N = big.format(v=t_total), big.format(v=n_docs)

    def contrib(term: str) -> str:
        tf = tf_cols[term]
        idf = big.format(v=term_idf[term])
        num = f"({idf} * 22 * {T} * {tf})"
        den = f"(10 * {T} * {tf} + 3 * {T} + 9 * _dl * {N})"
        return (
            f"CASE WHEN {tf} = 0 THEN CAST(0 AS DECIMAL(38,0)) "
            f"ELSE CAST(({num} - ({num} % {den})) / {den} "
            "AS DECIMAL(38,0)) END"
        )

    def score(qid: int) -> Column:
        parts = [contrib(t) for t in query_terms[qid] if t in tf_cols]
        if not parts:
            return F.lit(0).cast("long")
        return F.expr(" + ".join(parts)).cast("long")

    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(qid).cast("int").alias("query_id"),
                    score(qid).alias("score_micro"),
                )
                for qid in sorted(query_terms)
            ]
        )
    )
    return (
        bound.select(pairs.alias("_p"), *docs.columns)
        .select(*docs.columns, "_p.query_id", "_p.score_micro")
        .filter(F.col("score_micro") > 0)
    )


#: The published Gopher repetition-rule n-gram ranges (Rae et al. 2021,
#: table A1): fraction of characters in the MOST COMMON n-gram for
#: n = 2..4, fraction of characters in DUPLICATED n-grams for n = 5..10.
GOPHER_TOP_NS = (2, 3, 4)
GOPHER_DUP_NS = (5, 6, 7, 8, 9, 10)


def gopher_repetition_fractions(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The LITERAL Gopher repetition filters (Rae et al. 2021), one row
    per document, every fraction an exact ×1e6 integer:

    - ``top_{n}gram_x1e6`` (n = 2..4): characters covered by the most
      frequent n-gram — count(top) · len(top) · 1e6 fdiv doc_chars,
      ties broken by lexicographically smallest gram (deterministic).
    - ``dup_{n}gram_x1e6`` (n = 5..10): characters in n-grams occurring
      more than once — Σ_{count≥2} count·len · 1e6 fdiv doc_chars (the
      published overlap-uncorrected form, as in Dolma/NeMo-Curator).

    doc_chars is the whitespace-normalized character length (the same
    normalization the fingerprint ops use), so the fractions are
    properties of the token stream, not of incidental whitespace.
    Documents with no tokens are dropped; documents too short for some
    n report 0 for that column.

    Architecture at 100 TB: ZERO-shuffle. Every n-gram of a document is
    doc-local, so nothing about this op needs a cluster-wide key: per
    document, each n's grams build in-row (transform over positions),
    ``array_sort`` groups equal grams adjacently, and ONE sequential
    ``aggregate`` walk per n reads off the statistics — longest run
    (count + gram) for the top-n rule, Σ chars over runs of length ≥ 2
    for the dup-n rule. The lexicographic tie-break is free: the walk
    scans ascending, so strict > keeps the FIRST (smallest) gram among
    equal-count runs. The whole operator is a narrow projection —
    shards gate independently; corpus-wide boilerplate cannot skew
    anything because no corpus-wide key exists.

    This shape was MEASURED against the explode + hash-aggregate
    formulations at sf0.1 (idle box, median-of-5 noop-sink, 32 cores):
    explode + groupBy(doc, n, gram) 4.67 s; the same with packed
    128-bit hash-pair keys instead of gram strings 10.6–11.4 s (HOF
    lambdas evaluate interpreted — arithmetic per position costs more
    than JVM ``concat_ws``, and hashing never pays because nothing
    shuffles); this sort+walk form 3.1 s and no exchange at all. The
    scan-parallelism guard (repartition a sub-parallel single-file
    input, the staged_shingles discipline) is worth more than any
    kernel choice: the single-file testdata scan otherwise runs ONE
    task (measured 7.6 s single-task vs 4.67 s at 32).

    Memory note: peak per-row state is the sorted gram array for one n
    (~n·avg_token·positions bytes — the same order as the exploded
    formulation's per-row output buffer); fine for web documents, and
    the per-document independence means a pathological giant document
    degrades only its own task.
    """
    toks = tokens(text_col)
    norm_chars = F.length(
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    )
    # Scan-parallelism guard — ANALYSIS-ONLY, unlike the staged-cache
    # builders' df.rdd.getNumPartitions() (which is fine there because
    # an eager localCheckpoint materializes immediately after, but here
    # would execute all upstream AQE stages at PLAN-BUILD time and run
    # a composed pipeline twice). inputFiles() needs only the analyzed
    # plan: a handful of leaf files cannot scan wider than their count
    # (single-row-group testdata = ONE task on a 32-core box, measured
    # 7.6 s vs 4.7 s); at 100 TB the file count exceeds parallelism and
    # this is a no-op. Non-file inputs (in-memory, streams) skip.
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        files = df.inputFiles()
        if files and len(files) < par:
            df = df.repartition(par)
    except Exception:  # noqa: BLE001 — Connect/unanalyzable: no guard
        pass
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        norm_chars.alias("_chars"),
    ).filter(F.size("_toks") > 0)

    sz = F.size("_toks")

    def sorted_grams(n: int) -> Column:
        return F.array_sort(
            F.transform(
                F.sequence(F.lit(0), sz - n),
                lambda i: F.concat_ws(
                    " ", F.slice("_toks", i + 1, F.lit(n))
                ),
            )
        )

    def top_walk(n: int) -> Column:
        """(best, bestg): the longest equal-gram run in the sorted
        array and its gram — the smallest such gram on count ties
        (ascending scan + strict >)."""

        def step(acc: Column, x: Column) -> Column:
            cur = (
                F.when(
                    acc.prev.isNotNull() & (x == acc.prev), acc.cur + 1
                )
                .otherwise(F.lit(1))
            )
            better = cur > acc.best
            return F.struct(
                x.alias("prev"),
                cur.alias("cur"),
                F.when(better, cur).otherwise(acc.best).alias("best"),
                F.when(better, x).otherwise(acc.bestg).alias("bestg"),
            )

        return F.aggregate(
            sorted_grams(n),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("cur"),
                F.lit(0).alias("best"),
                F.lit(None).cast("string").alias("bestg"),
            ),
            step,
        )

    def dup_walk(n: int) -> Column:
        """Σ count·len over runs of length ≥ 2: each repeat adds its
        own chars, plus the run head's chars on the FIRST repeat."""

        def step(acc: Column, x: Column) -> Column:
            rep = acc.prev.isNotNull() & (x == acc.prev)
            return F.struct(
                x.alias("prev"),
                F.when(rep, acc.runlen + 1).otherwise(F.lit(1)).alias(
                    "runlen"
                ),
                F.when(
                    rep,
                    acc.dup
                    + F.length(x)
                    + F.when(acc.runlen == 1, F.length(x)).otherwise(
                        F.lit(0)
                    ),
                )
                .otherwise(acc.dup)
                .alias("dup"),
            )

        return F.aggregate(
            sorted_grams(n),
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(1).alias("runlen"),
                F.lit(0).cast("long").alias("dup"),
            ),
            step,
        )

    all_ns = GOPHER_TOP_NS + GOPHER_DUP_NS
    mids = []
    for n in all_ns:
        if n in GOPHER_TOP_NS:
            w = top_walk(n)
            mids.append(
                F.when(sz >= n, w.best.cast("long") * F.length(w.bestg))
                .otherwise(F.lit(0))
                .alias(f"_raw_{n}")
            )
        else:
            w = dup_walk(n)
            mids.append(
                F.when(sz >= n, w.dup).otherwise(F.lit(0)).alias(
                    f"_raw_{n}"
                )
            )
    out_cols = [
        F.expr(f"(_raw_{n} * 1000000) div _chars")
        .cast("long")
        .alias(
            f"top_{n}gram_x1e6" if n in GOPHER_TOP_NS
            else f"dup_{n}gram_x1e6"
        )
        for n in all_ns
    ]
    return base.select("doc_id", "_chars", *mids).select(
        "doc_id", *out_cols
    )


def quality_ensemble(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    entropy_floor_micro: int = 1_500_000,
    min_votes: int = 2,
) -> DataFrame:
    """STATELESS quality-ensemble gate — the FineWeb-style practice of
    keeping a document only when a MAJORITY of independent quality
    signals agree, composed from three verified corpus-free signals:

    - heuristic (the C4-style length/structure gate,
      :func:`quality_metrics`),
    - classifier (the hashed-feature linear score,
      :func:`hashed_linear_quality_cols`, w_sum > 0),
    - diversity (token-distribution entropy,
      :func:`token_entropy`, >= ``entropy_floor_micro`` micro-nats —
      the repetition/spam floor).

    Corpus-free by construction (no trained counts), so the gate gives
    the same verdict for a document on day one of a crawl and at
    100 TB, and shards of the corpus gate independently with NO
    shuffle for the first two signals (the entropy signal is the d98
    pair of doc-keyed aggregates). Documents with no tokens fail the
    diversity signal by definition (no entropy row → FALSE).

    Returns (doc_id, s_heuristic, s_classifier, s_entropy, keep) with
    keep = at least ``min_votes`` of the three signals TRUE — every
    column boolean and hash-comparable across engines.
    """
    s1 = quality_metrics(df, text_col).select(
        "doc_id", F.col("is_quality").alias("s_heuristic")
    )
    _, w_sum = hashed_linear_quality_cols(text_col, 1024)
    s2 = df.select(
        F.col(id_col).alias("doc_id"), (w_sum > 0).alias("s_classifier")
    )
    s3 = token_entropy(df, text_col, id_col).select(
        "doc_id",
        (F.col("entropy_micro") >= entropy_floor_micro).alias(
            "s_entropy"
        ),
    )
    votes = (
        s1.join(s2, "doc_id")
        .join(s3, "doc_id", "left")
        .withColumn("s_entropy", F.coalesce("s_entropy", F.lit(False)))
    )
    n_votes = (
        F.col("s_heuristic").cast("int")
        + F.col("s_classifier").cast("int")
        + F.col("s_entropy").cast("int")
    )
    return votes.select(
        "doc_id",
        "s_heuristic",
        "s_classifier",
        "s_entropy",
        (n_votes >= min_votes).alias("keep"),
    )
