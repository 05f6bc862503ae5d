"""The shared rerank broadcast-hint gate (operators/hints.py, round 14).

The r13 driver read ann_sq_topk at 3.25 s in BOTH its runs with the
unconditional F.broadcast(cand) hint (a fixed, core-count-independent
cost) vs 1.13 s without; mtlsh already gated its hint on the sidecar's
corpus size. These pin the gate's contract: hint exactly when the corpus
is known large, results identical either way.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from vectordb_acc_and_speed_exp_spark.operators.hints import (
    BROADCAST_RERANK_MIN_CORPUS,
    broadcast_if_large,
)


def _has_hint(df) -> bool:
    # the analyzed logical plan keeps the ResolvedHint node
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def test_gate_fires_only_at_large_corpus(spark):
    df = spark.range(10).withColumnRenamed("id", "item_id")
    assert broadcast_if_large(df, None) is df
    assert broadcast_if_large(df, 0) is df
    assert broadcast_if_large(df, BROADCAST_RERANK_MIN_CORPUS - 1) is df
    assert _has_hint(broadcast_if_large(df, BROADCAST_RERANK_MIN_CORPUS))
    assert _has_hint(broadcast_if_large(df, 10**9))


def test_sq_rerank_results_identical_with_and_without_hint(
    spark, embeddings, query_set
):
    """sq_search_rerank(n_corpus=None) vs n_corpus=10**6 (hint forced):
    a join-strategy hint may never change results."""
    from vectordb_acc_and_speed_exp_spark.operators.sq import (
        sq_encode,
        sq_search_rerank,
        sq_train,
    )

    corpus = embeddings.filter(F.col("vec_id") < 300)
    vmin, scale = sq_train(corpus, item_vec="embedding")
    enc = sq_encode(corpus, vmin, scale, item_id="vec_id")
    a = sq_search_rerank(
        query_set, corpus, enc, vmin, scale, k=5, shortlist=50,
        item_id="vec_id",
    ).collect()
    b = sq_search_rerank(
        query_set, corpus, enc, vmin, scale, k=5, shortlist=50,
        item_id="vec_id", n_corpus=10**6,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _hint_count(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")


@pytest.fixture(scope="module")
def quant_store(spark, embeddings, tmp_path_factory):
    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    vs = VectorStore(spark, str(tmp_path_factory.mktemp("hintstore")), dim=64)
    vs.create_collection(
        "c",
        embeddings.select(F.col("vec_id").cast("string").alias("id"), "embedding"),
    )
    probe = [[float(x) for x in r.embedding] for r in embeddings.limit(2).collect()]
    return vs, probe


@pytest.mark.parametrize("mode", ["bq", "pq", "sq", "ivfbq", "ivfpq", "ivfsq"])
def test_facade_passes_corpus_size_to_rerank_gate(quant_store, monkeypatch, mode):
    """Every compressed facade mode hands the collection row count to the
    rerank broadcast gate: with the gate dialled down to 1 row the
    candidate side gains a ResolvedHint (on top of the always-broadcast
    query side), and the rows are those of the ungated run."""
    from vectordb_acc_and_speed_exp_spark.operators import hints

    vs, probe = quant_store
    kw = dict(query_vecs=probe, k=5, mode=mode, shortlist=30)
    if mode.startswith("ivf"):
        kw["n_probe"] = 2
    plain = vs.query("c", **kw)
    want = sorted(map(tuple, plain.collect()))
    monkeypatch.setattr(hints, "BROADCAST_RERANK_MIN_CORPUS", 1)
    gated = vs.query("c", **kw)
    assert _has_hint(gated)
    assert _hint_count(gated) == _hint_count(plain) + 1
    assert sorted(map(tuple, gated.collect())) == want
