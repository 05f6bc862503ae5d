"""Product quantization (PQ) — compressed-domain approximate search.

The 100 TB story: a 768-dim float32 corpus is ~3 KB/vector; PQ with m=8
sub-spaces and k=16 centroids stores 8 x 4-bit codes (4 bytes + id) — a
~700x reduction of the scanned bytes. Search uses asymmetric distance
computation (ADC): per query, an m x k lookup table of exact
query-subvector-to-centroid distances; a corpus row's approximate distance
is the sum of m table entries selected by its codes. The scan is then
gather+sum over bytes — no float vectors touched until an optional exact
re-rank of the short-list.

Codebooks are trained with seeded MLlib KMeans per sub-space (sampled at
real scale). Everything downstream is numpy inside mapInPandas (one LUT
gather per Arrow batch) with the same partial-top-k + final-merge shape as
operators/simjoin.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quantized import (
    Scorer,
    approx_topk,
    ivf_shortlist_search,
    kernel_scorer,
    shortlist_search,
    write_ivf_codes,
)


def pq_train(
    corpus: DataFrame,
    item_vec: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Train per-sub-space codebooks. Returns array (m, k, dim//m).

    ``sample_fraction`` trains each sub-space KMeans on a seeded sample:
    codebook quality saturates at ~100k points, so at scale training is a
    build-time job over a sample, never repeated at query time."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(corpus.select(item_vec).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if sample_fraction is not None and sample_fraction < 1.0:
        corpus = corpus.sample(
            withReplacement=False, fraction=sample_fraction, seed=seed
        )
    dsub = dim // m
    books = []
    for s in range(m):
        sub = corpus.select(
            array_to_vector(
                F.slice(F.col(item_vec).cast("array<double>"), s * dsub + 1, dsub)
            ).alias("features")
        )
        model = KMeans(k=k, seed=seed + s, maxIter=max_iter).fit(sub)
        books.append([list(c) for c in model.clusterCenters()])
    return np.array(books, dtype=np.float64)


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    item_id: str = "item_id",
    item_vec: str = "embedding",
    passthrough: tuple[str, ...] = (),
    keep_qerr: str | None = None,
) -> DataFrame:
    """(id, codes array<int>[, passthrough...]): nearest centroid per
    sub-space. One numpy argmin per Arrow batch per sub-space.
    ``passthrough`` columns (e.g. an IVF ``cell``) are carried through the
    kernel unchanged so the codes can be written cell-partitioned without a
    post-encode join.

    ``keep_qerr``: also emit the per-row reconstruction error
    ||x - decode(encode(x))|| under that name — the EP13 drift statistic
    for the frozen codebooks (operators/drift.py). It is free here: the
    argmin already computes every sub-space distance, the error is the
    sum of the chosen minima."""
    spark = corpus.sparkSession
    b_books = spark.sparkContext.broadcast(codebooks)
    m, k, dsub = codebooks.shape

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = b_books.value
        for pdf in batches:
            X = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            qerr = np.zeros(len(X), dtype=np.float64)
            for s in range(m):
                sub = X[:, s * dsub : (s + 1) * dsub]
                # (n, k) distances to this sub-space's centroids
                d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = np.argmin(d, axis=1)
                if keep_qerr:
                    qerr += d[np.arange(len(X)), codes[:, s]]
            out = {"item_id": pdf["_id"], "codes": list(codes.tolist())}
            if keep_qerr:
                out[keep_qerr] = np.sqrt(qerr)
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    keep = [F.col(item_id).alias("_id"), F.col(item_vec).alias("_vec")]
    keep += [F.col(c) for c in passthrough]
    src = corpus.select(*keep)
    dtypes = dict(corpus.dtypes)
    schema = f"item_id {dtypes[item_id]}, codes array<int>"
    if keep_qerr:
        schema += f", {keep_qerr} double"
    for c in passthrough:
        schema += f", {c} {dtypes[c]}"
    return src.mapInPandas(encode, schema=schema)


def pq_scorer(codebooks: np.ndarray) -> Scorer:
    """ADC scan: per query an m x k LUT of exact
    query-subvector-to-centroid distances (built once on the driver); a
    code row's distance is one LUT gather+sum per Arrow batch."""
    m, kcent, dsub = codebooks.shape

    def luts(Q):
        # LUT[q, s, c] = ||q_sub(s) - centroid(s, c)||^2  (exact, tiny)
        L = np.empty((len(Q), m, kcent), dtype=np.float64)
        for s in range(m):
            qsub = Q[:, s * dsub : (s + 1) * dsub]
            L[:, s, :] = ((qsub[:, None, :] - codebooks[s][None, :, :]) ** 2).sum(axis=2)
        return L

    def sqdist(L, codes):
        # D[q, n] = sum_s L[q, s, C[n, s]]
        C = np.array(codes.tolist(), dtype=np.int64)
        return L[:, np.arange(m), C].sum(axis=2)

    return kernel_scorer("adc_dist", luts, sqdist)


def pq_search(
    queries: DataFrame, encoded: DataFrame, codebooks: np.ndarray,
    k: int = 10, query_id: str = "query_id", query_vec: str = "query_vec",
) -> DataFrame:
    """ADC search over PQ codes. Returns (query_id, rank, item_id,
    adc_dist) — approximate distances; re-rank the short-list
    (pq_search_rerank) for production recall."""
    return approx_topk(
        queries, encoded, pq_scorer(codebooks), k, query_id, query_vec
    )


def pq_search_rerank(
    queries: DataFrame, corpus: DataFrame, encoded: DataFrame,
    codebooks: np.ndarray, k: int = 10, shortlist: int = 100,
    query_id: str = "query_id", query_vec: str = "query_vec",
    item_id: str = "item_id", item_vec: str = "embedding",
    n_corpus: int | None = None,
) -> DataFrame:
    """Production PQ pattern: ADC short-list over codes (compressed scan),
    then exact re-rank of only the short-listed vectors. Recall equals the
    short-list's coverage of the true top-k; the exact scan touches
    shortlist/n of the corpus. ``n_corpus`` gates the re-rank broadcast
    hint — see operators/hints.py."""
    return shortlist_search(
        queries, encoded, corpus, pq_scorer(codebooks), k, shortlist,
        query_id, query_vec, item_id, item_vec, n_corpus=n_corpus,
    )


def _ivf_encoder(codebooks, item_id, item_vec):
    return lambda df: pq_encode(
        df, codebooks, item_id=item_id, item_vec=item_vec,
        passthrough=("cell",),
    )


def write_ivfpq_codes(
    corpus_assigned: DataFrame, codebooks: np.ndarray, path: str,
    item_id: str = "item_id", item_vec: str = "embedding",
) -> None:
    """Encode an IVF-assigned corpus (must carry ``cell``) to PQ codes and
    persist them partitioned by cell — the IVF-PQ index layout (FAISS
    IVFPQ / SPANN-family storage). At 768-dim float32 this is
    n_probe/n_cells of the corpus x ~700x fewer bytes per row before any
    float vector is touched."""
    write_ivf_codes(_ivf_encoder(codebooks, item_id, item_vec)(corpus_assigned), path)


def ivfpq_search(
    queries: DataFrame, spark, codes_path: str, corpus_path: str,
    centroids: DataFrame, codebooks: np.ndarray, k: int = 10,
    n_probe: int = 4, shortlist: int = 100, query_id: str = "query_id",
    query_vec: str = "query_vec", item_id: str = "item_id",
    item_vec: str = "embedding", predicate: Column | str | None = None,
    n_corpus: int | None = None,
) -> DataFrame:
    """Composed IVF-PQ search — the production large-corpus configuration:
    coarse probe → ADC scan of only the probed cells' codes → exact
    re-rank against the same pruned directories. Full probe with
    shortlist >= corpus is exact — the metamorphic identity the tests
    pin.

    ``predicate`` is an optional filtered-ANN pre-filter (the vector-DB
    ``where=``), applied to the CODES scan before ADC scoring and to the
    re-rank vector fetch — the short-list is the top-``shortlist``
    ELIGIBLE rows, never a post-filter. Both applications see the id
    column under its NORMALIZED name ``item_id`` (the codes tables'
    write-time name); predicates over other metadata require the codes
    table written with those columns passed through.

    ``n_corpus`` gates the re-rank broadcast hint — see
    operators/hints.py."""
    return ivf_shortlist_search(
        queries, spark, codes_path, corpus_path, centroids,
        pq_scorer(codebooks), k, n_probe, shortlist, query_id, query_vec,
        item_id, item_vec, predicate=predicate, n_corpus=n_corpus,
    )
