"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of ``seed`` (NumPy PCG64), so the same
seed gives byte-identical inputs and a different seed gives different ones.
The shapes mirror the sf0.1 fixtures the engine is tested on: unit-norm
64-d float32 embeddings, and pages of 10-100 words drawn from a 30-word
vocabulary in which 5% of the pages are near-copies (an earlier page plus
one extra token) that the dedup stages must find.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DIM = 64
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
DUP_SHARE = 0.05


def _rng(seed: int, stream: int) -> np.random.Generator:
    # one independent stream per input kind, so resizing one input never
    # shifts another's values
    return np.random.default_rng([int(seed), stream])


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def corpus_vectors(seed: int, n: int, dim: int = DIM) -> np.ndarray:
    """(n, dim) float32 unit vectors: the serve corpus."""
    return _unit(_rng(seed, 1).standard_normal((n, dim))).astype(np.float32)


def query_vectors(
    seed: int, base: np.ndarray, n: int, jitter: float = 0.3
) -> np.ndarray:
    """(n, dim) held-out query vectors: a random ``base`` row plus Gaussian
    jitter, renormalized. None of them is a corpus row."""
    rng = _rng(seed, 2)
    src = base[rng.integers(0, len(base), n)].astype(np.float64)
    noise = _unit(rng.standard_normal(src.shape)) * jitter
    return _unit(src + noise).astype(np.float32)


def documents(seed: int, n: int) -> pd.DataFrame:
    """The ``documents`` table: (doc_id, text, lang, source, n_chars)."""
    rng = _rng(seed, 3)
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
