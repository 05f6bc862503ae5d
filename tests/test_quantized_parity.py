"""Approximate-regime parity of the six compressed search paths.

The exact degenerations (shortlist >= n, full probe) and the recall
floors are pinned elsewhere; these pin the APPROXIMATE regime itself —
shortlist < n and n_probe < n_cells — against a seeded NumPy reference
of the one rule every bq/pq/sq path serves:

    decode codes → approximate distance → keep the top-``shortlist`` by
    (adist, item_id) among the rows the query may see (probed cells,
    predicate) → exact L2 re-rank → top-k by (dist, item_id).

item_id and rank must match exactly, dist to 1e-9.
"""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

K, SHORTLIST, N_CELLS, N_PROBE = 5, 20, 8, 3


@pytest.fixture(scope="module")
def ref(spark, embeddings):
    """Corpus + seeded fresh (non-member) queries, as Spark frames and as
    float64 NumPy arrays holding the same float32 values."""
    from vectordb_acc_and_speed_exp_spark.io.local import local_df

    rows = sorted(
        embeddings.select("vec_id", "embedding").collect(), key=lambda r: r.vec_id
    )
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    X = np.array([r.embedding for r in rows], dtype=np.float32)
    rng = np.random.default_rng(20261018)
    pick = rng.choice(len(X), size=6, replace=False)
    Q = (X[pick] + rng.normal(0.0, 0.05, size=(6, X.shape[1]))).astype(np.float32)
    qdf = local_df(
        spark,
        [(i, [float(x) for x in q]) for i, q in enumerate(Q)],
        "query_id bigint, query_vec array<float>",
    )
    return {
        "qdf": qdf,
        "corpus": embeddings,
        "ids": ids,
        "X": X.astype(np.float64),
        "Q": Q.astype(np.float64),
    }


@pytest.fixture(scope="module")
def ivf(spark, embeddings, tmp_path_factory):
    """An IVF layout over the corpus: (corpus_path, centroids, assigned,
    centroid matrix in cell order)."""
    from vectordb_acc_and_speed_exp_spark.operators.ann import (
        ivf_assign,
        kmeans_centroids,
        write_ivf_corpus,
    )

    root = tmp_path_factory.mktemp("parity_ivf")
    cents = kmeans_centroids(embeddings, n_cells=N_CELLS).cache()
    assigned = ivf_assign(embeddings, cents).cache()
    corpus_path = str(root / "corpus")
    write_ivf_corpus(assigned, corpus_path)
    crow = sorted(cents.collect(), key=lambda r: r.cell)
    C = np.array([r.centroid for r in crow], dtype=np.float64)
    return {
        "root": root,
        "corpus_path": corpus_path,
        "cents": cents,
        "assigned": assigned,
        "cells": np.array([r.cell for r in crow]),
        "C": C,
    }


def _reference(ref, adist, allowed=None, shortlist=SHORTLIST, k=K):
    """[(query_id, rank, item_id, dist)] of the shortlist → exact-rerank
    rule over a (n_queries, n_corpus) approximate-distance matrix whose
    columns follow ``ref["ids"]``; ``allowed`` is an optional boolean
    (n_queries, n_corpus) visibility mask."""
    ids, X, Q = ref["ids"], ref["X"], ref["Q"]
    out = []
    for qi in range(len(Q)):
        vis = np.flatnonzero(
            np.ones(len(ids), bool) if allowed is None else allowed[qi]
        )
        sl = vis[np.lexsort((ids[vis], adist[qi, vis]))][:shortlist]
        d = np.sqrt(((X[sl] - Q[qi]) ** 2).sum(axis=1))
        top = np.lexsort((ids[sl], d))[:k]
        out += [
            (qi, r + 1, int(ids[sl][j]), float(d[j])) for r, j in enumerate(top)
        ]
    return out


def _probe_mask(ref, ivf, item_cell):
    """Per-query visibility of each corpus row under N_PROBE nearest
    cells, ties broken by cell id (the exact_knn order)."""
    Q, C, cells = ref["Q"], ivf["C"], ivf["cells"]
    mask = np.zeros((len(Q), len(ref["ids"])), bool)
    for qi in range(len(Q)):
        d = np.sqrt(((C - Q[qi]) ** 2).sum(axis=1))
        probed = cells[np.lexsort((cells, d))][:N_PROBE]
        mask[qi] = np.isin(item_cell, probed)
    return mask


def _codes_by_id(rows, ref, field):
    at = {int(r.item_id): r for r in rows}
    return [at[int(i)][field] for i in ref["ids"]]


def _assert_rows(got_df, want):
    got = sorted(
        (int(r.query_id), int(r.rank), int(r.item_id), float(r.dist))
        for r in got_df.collect()
    )
    want = sorted(want)
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert abs(g[3] - w[3]) <= 1e-9, (g, w)


def _sq_adist(ref, vmin, scale, codes):
    Xh = vmin[None, :] + np.array(codes, dtype=np.float64) * scale[None, :]
    Q = ref["Q"]
    D = (Q * Q).sum(axis=1)[:, None] - 2.0 * (Q @ Xh.T) + (Xh * Xh).sum(axis=1)[None, :]
    return np.sqrt(np.maximum(D, 0.0))


def _pq_adist(ref, books, codes):
    m, _, dsub = books.shape
    Q = ref["Q"]
    L = np.stack(
        [
            ((Q[:, s * dsub:(s + 1) * dsub][:, None, :] - books[s][None]) ** 2).sum(axis=2)
            for s in range(m)
        ],
        axis=1,
    )
    C = np.array(codes, dtype=np.int64)
    return np.sqrt(L[:, np.arange(m), C].sum(axis=2))


def _bq_adist(ref, sums, n, lo, hi):
    from vectordb_acc_and_speed_exp_spark.operators.bq import bq_encode

    qc = sorted(
        bq_encode(ref["qdf"], sums, n, item_id="query_id", item_vec="query_vec")
        .collect(),
        key=lambda r: r.item_id,
    )
    return np.array(
        [
            [bin(q.code_lo ^ a).count("1") + bin(q.code_hi ^ b).count("1")
             for a, b in zip(lo, hi)]
            for q in qc
        ],
        dtype=np.float64,
    )


@pytest.fixture(scope="module")
def sq_params(embeddings):
    from vectordb_acc_and_speed_exp_spark.operators.sq import sq_train

    return sq_train(embeddings, item_vec="embedding")


@pytest.fixture(scope="module")
def pq_books(embeddings):
    from vectordb_acc_and_speed_exp_spark.operators.pq import pq_train

    return pq_train(embeddings, item_vec="embedding", m=8, k=16)


@pytest.fixture(scope="module")
def bq_params(embeddings):
    from vectordb_acc_and_speed_exp_spark.operators.bq import bq_train

    return bq_train(embeddings, item_vec="embedding")


def test_sq_flat_parity(ref, sq_params):
    from vectordb_acc_and_speed_exp_spark.operators.sq import (
        sq_encode,
        sq_search_rerank,
    )

    vmin, scale = sq_params
    enc = sq_encode(ref["corpus"], vmin, scale, item_id="vec_id").cache()
    adist = _sq_adist(ref, vmin, scale, _codes_by_id(enc.collect(), ref, "codes"))
    got = sq_search_rerank(
        ref["qdf"], ref["corpus"], enc, vmin, scale, k=K, shortlist=SHORTLIST,
        item_id="vec_id",
    )
    _assert_rows(got, _reference(ref, adist))


def test_pq_flat_parity(ref, pq_books):
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        pq_encode,
        pq_search_rerank,
    )

    enc = pq_encode(ref["corpus"], pq_books, item_id="vec_id").cache()
    adist = _pq_adist(ref, pq_books, _codes_by_id(enc.collect(), ref, "codes"))
    got = pq_search_rerank(
        ref["qdf"], ref["corpus"], enc, pq_books, k=K, shortlist=SHORTLIST,
        item_id="vec_id",
    )
    _assert_rows(got, _reference(ref, adist))


def test_bq_flat_parity(ref, bq_params):
    from vectordb_acc_and_speed_exp_spark.operators.bq import (
        bq_encode,
        bq_search_rerank,
    )

    sums, n = bq_params
    rows = bq_encode(ref["corpus"], sums, n, item_id="vec_id").collect()
    adist = _bq_adist(
        ref, sums, n,
        _codes_by_id(rows, ref, "code_lo"), _codes_by_id(rows, ref, "code_hi"),
    )
    got = bq_search_rerank(
        ref["qdf"], ref["corpus"], sums, n, k=K, shortlist=SHORTLIST,
        item_id="vec_id",
    )
    _assert_rows(got, _reference(ref, adist))


def test_ivfsq_parity(spark, ref, ivf, sq_params):
    from vectordb_acc_and_speed_exp_spark.operators.sq import (
        ivfsq_search,
        write_ivfsq_codes,
    )

    vmin, scale = sq_params
    codes_path = str(ivf["root"] / "sqcodes")
    write_ivfsq_codes(ivf["assigned"], vmin, scale, codes_path, item_id="vec_id")
    rows = spark.read.parquet(codes_path).collect()
    adist = _sq_adist(ref, vmin, scale, _codes_by_id(rows, ref, "codes"))
    mask = _probe_mask(ref, ivf, np.array(_codes_by_id(rows, ref, "cell")))
    got = ivfsq_search(
        ref["qdf"], spark, codes_path, ivf["corpus_path"], ivf["cents"],
        vmin, scale, k=K, n_probe=N_PROBE, shortlist=SHORTLIST,
        item_id="vec_id",
    )
    _assert_rows(got, _reference(ref, adist, mask))


def test_ivfpq_parity_with_predicate(spark, ref, ivf, pq_books):
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        ivfpq_search,
        write_ivfpq_codes,
    )

    codes_path = str(ivf["root"] / "pqcodes")
    write_ivfpq_codes(ivf["assigned"], pq_books, codes_path, item_id="vec_id")
    rows = spark.read.parquet(codes_path).collect()
    adist = _pq_adist(ref, pq_books, _codes_by_id(rows, ref, "codes"))
    mask = _probe_mask(ref, ivf, np.array(_codes_by_id(rows, ref, "cell")))
    kw = dict(k=K, n_probe=N_PROBE, shortlist=SHORTLIST, item_id="vec_id")
    got = ivfpq_search(
        ref["qdf"], spark, codes_path, ivf["corpus_path"], ivf["cents"],
        pq_books, **kw,
    )
    _assert_rows(got, _reference(ref, adist, mask))
    # where= pre-filter: the shortlist is the top ELIGIBLE rows
    even = (ref["ids"] % 2 == 0)[None, :]
    got = ivfpq_search(
        ref["qdf"], spark, codes_path, ivf["corpus_path"], ivf["cents"],
        pq_books, predicate=F.col("item_id") % 2 == 0, **kw,
    )
    _assert_rows(got, _reference(ref, adist, mask & even))


def test_ivfbq_parity(spark, ref, ivf, bq_params):
    from vectordb_acc_and_speed_exp_spark.operators.bq import (
        ivfbq_search,
        write_ivfbq_codes,
    )

    sums, n = bq_params
    codes_path = str(ivf["root"] / "bqcodes")
    write_ivfbq_codes(ivf["assigned"], sums, n, codes_path, item_id="vec_id")
    rows = spark.read.parquet(codes_path).collect()
    adist = _bq_adist(
        ref, sums, n,
        _codes_by_id(rows, ref, "code_lo"), _codes_by_id(rows, ref, "code_hi"),
    )
    mask = _probe_mask(ref, ivf, np.array(_codes_by_id(rows, ref, "cell")))
    got = ivfbq_search(
        ref["qdf"], spark, codes_path, ivf["corpus_path"], ivf["cents"],
        sums, n, k=K, n_probe=N_PROBE, shortlist=SHORTLIST, item_id="vec_id",
    )
    _assert_rows(got, _reference(ref, adist, mask))
