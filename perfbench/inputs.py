"""Seeded input generation for the benchmark workloads.

Everything here is untimed and sits in no metric. The same ``seed``
always gives the same inputs; a pass index folds into the seed so every
pass of a run gets its own, reproducible input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: sellout rows per lifecycle pass. The reference runs 101,000
#: (BASELINE.md); a fresh-JVM pass at that size takes ~30 s on a 4-core
#: box, too long for the benchmark's per-run time budget.
LIFECYCLE_N_FACT = 20_000
#: documents per corpus pass; the sf0.1 corpus has 5,000. The chain's
#: wall is mostly per-job overhead, so the smaller file keeps its shape.
CORPUS_N_DOCS = 1_500

# the sf0.1 corpus vocabulary: 30 short engine words, uniformly drawn
_VOCAB = np.array(
    "a the data row column table key value part line order sort group agg "
    "join hash merge filter scan window stream batch query spark vector "
    "customer small big fast slow".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def pass_seed(seed: int, pass_index: int) -> int:
    return (seed * 1_000_003 + pass_index) % (2**32)


def reference_tables(seed: int, pass_index: int, n_fact: int) -> dict[str, pd.DataFrame]:
    """A fresh dirty star schema (10 chains / 400 stores / 80 products)."""
    from etl_example_spark.fixtures import make_reference_tables

    return make_reference_tables(n_fact=n_fact, seed=pass_seed(seed, pass_index))


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """A ``documents`` table shaped like the sf0.1 corpus: 15-95 random
    vocabulary words per document, ~41% ``en``, 20 round-robin sources.

    Dirt the curation chain exists for is injected at fixed rates: ~1%
    below the 5-token gate, ~1% exact copies (some re-cased or padded,
    which the normalized fingerprint folds), ~4% near-copies with 1-3
    words replaced (trigram Jaccard well above the 0.6 LSH threshold).
    """
    rng = np.random.default_rng(seed)
    lengths = rng.integers(15, 96, n_docs)
    short = rng.random(n_docs) < 0.01
    lengths[short] = rng.integers(1, 5, short.sum())
    texts = [" ".join(rng.choice(_VOCAB, n)) for n in lengths]
    kind = rng.random(n_docs)
    for i in range(1, n_docs):
        if kind[i] < 0.01:
            src = texts[rng.integers(0, i)]
            texts[i] = src.upper() if kind[i] < 0.003 else f"  {src} "
        elif kind[i] < 0.05:
            words = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                words[rng.integers(0, len(words))] = rng.choice(_VOCAB)
            texts[i] = " ".join(words)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def write_documents_copy(docs: pd.DataFrame, seed: int, pass_index: int, path: str) -> int:
    """Write ``docs`` to ``path`` in a seeded row order; return its bytes.

    Same rows every pass, so every pass does identical work, but a new
    file, so the content-keyed staged-artifact caches miss as they do
    for a one-shot CLI run."""
    import os

    order = np.random.default_rng(pass_seed(seed, pass_index)).permutation(len(docs))
    docs.iloc[order].to_parquet(path, index=False)
    return os.path.getsize(path)
