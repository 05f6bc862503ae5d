"""Scalar quantization (SQ8) — int8-compressed approximate search.

The third compression point between raw floats and PQ: per-dimension affine
quantization ``code = round((x - vmin_d) / scale_d)`` with 256 levels. A
64-dim float32 vector (256 B) becomes 64 bytes — 4× smaller scans with far
better fidelity than PQ (max per-dim error = scale/2), which is why engines
(FAISS SQ8, Lucene/Elasticsearch int8_hnsw, Milvus SQ8) default to it
before reaching for PQ.

Spark-first shape:
- train: per-dimension min/max as ONE aggregate of 2×dim codegen
  expressions (map-side combined, no shuffle of vectors; at 100 TB this is
  a single cheap stats pass, or a seeded sample);
- encode: pure JVM-side HOF projection (``zip_with`` chains — no Python in
  the write path), codes stored as ``array<smallint>`` (Spark has no
  unsigned byte; 0..255 fits smallint, parquet dictionary/RLE shrinks it);
- search: asymmetric — the query stays float; codes are decoded
  ``x̂ = vmin + code·scale`` inside a numpy/BLAS mapInPandas kernel
  (gemm per Arrow batch, the operators/simjoin.py pattern) with per-batch
  partial top-k + one global window merge;
- rerank: exact L2 on the short-list only (same contract as
  pq_search_rerank).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .quantized import (
    Scorer,
    approx_topk,
    ivf_codes_upsert,
    ivf_shortlist_search,
    kernel_scorer,
    shortlist_search,
    write_ivf_codes,
)


def sq_train(
    corpus: DataFrame,
    item_vec: str = "embedding",
    dim: int | None = None,
    sample_fraction: float | None = None,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (vmin, scale) with scale = (vmax - vmin) / 255.

    One aggregate job of 2×dim min/max expressions — whole-stage codegen,
    map-side partial aggregation, only 2×dim doubles cross the wire.
    Constant dimensions get scale=0 and always encode/decode to vmin."""
    if dim is None:
        dim = len(corpus.select(item_vec).first()[0])
    if sample_fraction is not None and sample_fraction < 1.0:
        corpus = corpus.sample(
            withReplacement=False, fraction=sample_fraction, seed=seed
        )
    v = F.col(item_vec)
    aggs = [F.min(F.element_at(v, i + 1)).alias(f"mn{i}") for i in range(dim)]
    aggs += [F.max(F.element_at(v, i + 1)).alias(f"mx{i}") for i in range(dim)]
    row = corpus.agg(*aggs).first()
    vmin = np.array([row[f"mn{i}"] for i in range(dim)], dtype=np.float64)
    vmax = np.array([row[f"mx{i}"] for i in range(dim)], dtype=np.float64)
    return vmin, (vmax - vmin) / 255.0


def sq_encode(
    corpus: DataFrame,
    vmin: np.ndarray,
    scale: np.ndarray,
    item_id: str = "item_id",
    item_vec: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<smallint>[, passthrough...]) — pure codegen HOFs,
    no Python in the encode path. code = clip(round((x - vmin)/scale), 0,
    255); scale=0 dims encode to 0."""
    mn = F.lit([float(x) for x in vmin])
    sc = F.lit([float(x) for x in scale])
    shifted = F.zip_with(F.col(item_vec), mn, lambda x, m: x - m)
    codes = F.zip_with(
        shifted,
        sc,
        lambda d, s: F.least(
            F.greatest(
                F.when(s == 0.0, F.lit(0.0)).otherwise(F.round(d / s)),
                F.lit(0.0),
            ),
            F.lit(255.0),
        ).cast("smallint"),
    )
    keep = [F.col(item_id).alias("item_id"), codes.alias("codes")]
    keep += [F.col(c) for c in passthrough]
    return corpus.select(*keep)


def sq_holdout_qerr(
    corpus: DataFrame,
    dim: int,
    item_vec: str = "embedding",
    item_id: str = "id",
) -> tuple[float, int]:
    """(mean_qerr, n) — the OUT-OF-SAMPLE drift baseline for the affine
    quantizer (round 12). Params fit on the training rows have zero
    clamp exposure ON those rows (per-dim min/max are exact bounds of
    exactly that data), so an in-sample baseline under-prices the
    reconstruction error every fresh batch sees — measured on the drift
    canary: an in-distribution append scored ratio ~3.8 against the
    in-sample baseline (trigger 1.35) with no drift at all. Fix: fit
    SHADOW params on a deterministic 7/8 hash split and measure the
    held-out 1/8 under them — the fresh-row error estimate. The SERVED
    params still train on the full corpus; only the baseline statistic
    changes."""
    from ..functions.hashing import portable_hash64
    from .drift import mean_coarse_qerr

    split = (
        F.pmod(portable_hash64(F.col(item_id).cast("string")), F.lit(8)) == 0
    )
    hold = corpus.filter(split)
    fit = corpus.filter(~split)
    if hold.limit(1).count() == 0 or fit.limit(2).count() < 2:
        # degenerate tiny split: in-sample fallback (previous behavior)
        vmin, scale = sq_train(corpus, item_vec=item_vec, dim=dim)
        return mean_coarse_qerr(
            corpus.select(
                sq_recon_qerr(F.col(item_vec), vmin, scale).alias("_qerr")
            )
        )
    vmin, scale = sq_train(fit, item_vec=item_vec, dim=dim)
    return mean_coarse_qerr(
        hold.select(
            sq_recon_qerr(F.col(item_vec), vmin, scale).alias("_qerr")
        )
    )


def sq_recon_qerr(vec_col, vmin: np.ndarray, scale: np.ndarray):
    """L2 distance between a vector and its SQ8 decode — the EP13 drift
    statistic for the frozen int8 quantizer (operators/drift.py): inside
    the training box the error is bounded by scale/2 per dim, but a
    drifted vector outside the frozen [vmin, vmax] range CLIPS, so the
    error grows linearly with the drift and the batch-mean ratio fires
    the retrain trigger. Pure codegen HOFs, same arithmetic as
    sq_encode + decode."""
    mn = F.lit([float(x) for x in vmin])
    sc = F.lit([float(x) for x in scale])
    d1 = F.zip_with(vec_col.cast("array<double>"), mn, lambda x, m: x - m)
    errs = F.zip_with(
        d1,
        sc,
        lambda d, s: d - F.least(
            F.greatest(
                F.when(s == 0.0, F.lit(0.0)).otherwise(F.round(d / s)),
                F.lit(0.0),
            ),
            F.lit(255.0),
        ) * s,
    )
    return F.sqrt(F.aggregate(errs, F.lit(0.0), lambda a, e: a + e * e))


def sq_scorer(vmin: np.ndarray, scale: np.ndarray) -> Scorer:
    """Asymmetric SQ scan: codes decode to x̂ = vmin + code·scale inside
    the kernel, distances via one gemm per Arrow batch (||q||² − 2q·x̂ +
    ||x̂||², clipped at 0). The query stays float."""

    def sqdist(st, codes):
        q, qsq = st
        X = vmin[None, :] + np.array(codes.tolist(), dtype=np.float64) * scale[None, :]
        D = qsq - 2.0 * (q @ X.T) + (X * X).sum(axis=1)[None, :]
        return np.maximum(D, 0.0)

    return kernel_scorer(
        "sq_dist", lambda Q: (Q, (Q * Q).sum(axis=1)[:, None]), sqdist
    )


def sq_search(
    queries: DataFrame, encoded: DataFrame, vmin: np.ndarray,
    scale: np.ndarray, k: int = 10, query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """The approximate SQ ranking alone: (query_id, rank, item_id,
    sq_dist)."""
    return approx_topk(
        queries, encoded, sq_scorer(vmin, scale), k, query_id, query_vec
    )


def sq_search_rerank(
    queries: DataFrame, corpus: DataFrame, encoded: DataFrame,
    vmin: np.ndarray, scale: np.ndarray, k: int = 10, shortlist: int = 100,
    query_id: str = "query_id", query_vec: str = "query_vec",
    item_id: str = "item_id", item_vec: str = "embedding",
    n_corpus: int | None = None,
) -> DataFrame:
    """Compressed scan → exact re-rank of the short-list (the production
    pattern; operators/quantized.py). ``n_corpus`` (when the caller knows
    the corpus size, e.g. from a sidecar) gates the re-rank broadcast
    hint — see operators/hints.py."""
    return shortlist_search(
        queries, encoded, corpus, sq_scorer(vmin, scale), k, shortlist,
        query_id, query_vec, item_id, item_vec, n_corpus=n_corpus,
    )


def _ivf_encoder(vmin, scale, item_id, item_vec):
    return lambda df: sq_encode(
        df, vmin, scale, item_id=item_id, item_vec=item_vec,
        passthrough=("cell",),
    )


def write_ivfsq_codes(
    corpus_assigned: DataFrame, vmin: np.ndarray, scale: np.ndarray,
    path: str, item_id: str = "item_id", item_vec: str = "embedding",
) -> None:
    """Encode an IVF-assigned corpus (must carry ``cell``) to int8 codes
    and persist them partitioned by cell — the IVF-SQ layout (FAISS
    IVFScalarQuantizer): directory pruning from the coarse quantizer, 4×
    fewer bytes inside each directory, near-lossless fidelity (EP5)."""
    write_ivf_codes(
        _ivf_encoder(vmin, scale, item_id, item_vec)(corpus_assigned), path
    )


def ivfsq_codes_upsert(
    spark, corpus_path: str, codes_path: str, vmin: np.ndarray,
    scale: np.ndarray, cells: list[int], item_id: str = "item_id",
    item_vec: str = "embedding",
) -> None:
    """Re-encode the given cells of the IVF-SQ code table from the
    post-upsert corpus with the FROZEN affine params (the lockstep
    contract of operators/quantized.py::ivf_codes_upsert)."""
    ivf_codes_upsert(
        spark, corpus_path, codes_path,
        _ivf_encoder(vmin, scale, item_id, item_vec), cells,
    )


def ivfsq_search(
    queries: DataFrame, spark, codes_path: str, corpus_path: str,
    centroids: DataFrame, vmin: np.ndarray, scale: np.ndarray, k: int = 10,
    n_probe: int = 4, shortlist: int = 100, query_id: str = "query_id",
    query_vec: str = "query_vec", item_id: str = "item_id",
    item_vec: str = "embedding", n_corpus: int | None = None,
) -> DataFrame:
    """Composed IVF-SQ search (the EP5 'hot data' recipe): coarse probe →
    asymmetric int8 scan of only the probed cells' codes → exact re-rank
    against the same pruned directories. Full probe with shortlist ≥
    corpus is exact (tested). ``n_corpus`` gates the re-rank broadcast
    hint — see operators/hints.py."""
    return ivf_shortlist_search(
        queries, spark, codes_path, corpus_path, centroids,
        sq_scorer(vmin, scale), k, n_probe, shortlist, query_id, query_vec,
        item_id, item_vec, n_corpus=n_corpus,
    )
