"""Seeded input generation.  Everything here is a pure function of the seed;
it runs before any timing and writes parquet the engine then reads.

Corpora come from ``sources.synth_spark.synth_corpus`` (counter-hashed Zipf
text, identical at any parallelism).  Planted duplicates follow the
``curate_scale.py`` recipe: a near-dup is the source text behind the prefix
``"zq mutated prefix run xx "`` and an exact dup is a byte copy, each under
the source url plus a suffix, so the source always has the lower id and
survives.  Which docs get copied is drawn with ``numpy.random.default_rng``
from the seed, so planted counts are exact, not hash-rate estimates.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from text_retrieval_and_search_engines_spark.sources.pages import make_vocab
from text_retrieval_and_search_engines_spark.sources.synth_spark import (
    synth_corpus)

VOCAB = 5000
NEAR_PREFIX = "zq mutated prefix run xx "


def corpus(spark, n_docs: int, mean_tokens: int, seed: int,
           url_prefix: str) -> pd.DataFrame:
    """(url, text) docs from the engine's distributed generator."""
    pdf = synth_corpus(spark, n_docs, vocab_size=VOCAB,
                       mean_tokens=mean_tokens, seed=seed).toPandas()
    pdf["url"] = [f"{url_prefix}/doc{i:06d}" for i in range(len(pdf))]
    return pdf.sort_values("url", ignore_index=True)


def zipf_topics(seed: int, n: int,
                first_qid: int = 301) -> list[tuple[str, str]]:
    """TREC-style topics: 2-4 terms each, drawn Zipf(1.07) from the corpus
    vocabulary (the generator's vocabulary for the same seed)."""
    vocab = make_vocab(VOCAB, seed)
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** -1.07
    p /= p.sum()
    rng = np.random.default_rng([seed, 1])
    out = []
    for q in range(n):
        k = int(rng.integers(2, 5))
        terms = rng.choice(VOCAB, k, p=p)
        out.append((str(first_qid + q), " ".join(vocab[int(i)]
                                                 for i in terms)))
    return out


def plant_dups(base: pd.DataFrame, rng: np.random.Generator, n_near: int,
               n_exact: int, tag: str) -> pd.DataFrame:
    """Near and exact copies of distinct base docs (curate_scale recipe)."""
    pick = rng.choice(len(base), n_near + n_exact, replace=False)
    near = base.iloc[pick[:n_near]]
    exact = base.iloc[pick[n_near:]]
    return pd.concat([
        pd.DataFrame({"url": near["url"] + f"?near{tag}",
                      "text": NEAR_PREFIX + near["text"]}),
        pd.DataFrame({"url": exact["url"] + f"?copy{tag}",
                      "text": exact["text"]}),
    ], ignore_index=True)


def write(pdf: pd.DataFrame, path: str, parts: int = 1) -> int:
    """Write `parts` parquet files (a multi-file input splits like a real
    one); returns the text bytes written (UTF-8)."""
    os.makedirs(path)
    step = -(-len(pdf) // parts)
    for j in range(parts):
        pdf.iloc[j * step:(j + 1) * step].to_parquet(
            os.path.join(path, f"part-{j:03d}.parquet"), index=False)
    return int(pdf["text"].str.encode("utf-8").str.len().sum())
