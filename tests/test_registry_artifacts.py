"""Pins of the query registry's index artifacts on a private copy of the
small fixture (``sf_dir``, sf0.001).

The compressed ``ann_*`` entries must return exactly the rows of an inline
composition of the public operators at the budgets their
``*_serving._budget.json`` sidecars hold, over code tables equal to the ones
those operators encode:

- flat pq / sq / bq: ``pq_train(sample_fraction=0.5)`` / ``sq_train`` /
  ``bq_train`` on ``embeddings``, then ``*_search_rerank``;
- composed ivfpq / ivfsq / ivfbq: the SAME params, the registry's IVF
  layout encoded by ``write_ivf*_codes``, then ``ivf*_search``.

Also pinned: a warm second call rewrites no ``_DONE`` marker, a deleted
output of a multi-output build (``dedup_pairs``, ``shingle_sizes``) is
rebuilt, and every quantized code table and the IVF root carry an EP13
drift baseline (``_drift.json``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tools.check_oracle import canon

FLAT = ("ann_pq_topk", "ann_sq_topk", "ann_bq_tuned")
COMPOSED = ("ann_ivfpq_topk", "ann_ivfsq_topk", "ann_ivfbq_topk")


def _rows(df):
    return canon([tuple(r) for r in df.collect()], df.columns)


def _markers(root):
    return {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(os.path.join(root, "*._DONE"))
    }


@pytest.fixture(scope="module")
def reg(spark, sf_dir, tmp_path_factory):
    from vectordb_acc_and_speed_exp_spark.queries import load_all
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import _index_root

    sf = str(tmp_path_factory.mktemp("registry") / "sf")
    shutil.copytree(sf_dir, sf)
    root = _index_root(sf)
    shutil.rmtree(root, ignore_errors=True)
    registry = load_all()
    rows = {
        name: _rows(registry[name].fn(spark, sf))
        for name in (*FLAT, *COMPOSED)
    }
    yield {"sf": sf, "root": root, "registry": registry, "rows": rows}
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="module")
def inline(spark, reg):
    """Params and query set built from the public operators alone."""
    from vectordb_acc_and_speed_exp_spark.io import load_table
    from vectordb_acc_and_speed_exp_spark.operators.bq import bq_train
    from vectordb_acc_and_speed_exp_spark.operators.pq import pq_train
    from vectordb_acc_and_speed_exp_spark.operators.sq import sq_train

    emb = load_table(spark, reg["sf"], "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return {
        "emb": emb,
        "qs": qs,
        "books": pq_train(emb, m=8, k=16, sample_fraction=0.5),
        "sq": sq_train(emb, item_vec="embedding"),
        "bq": bq_train(emb, item_vec="embedding", dim=64),
    }


def _budget(reg, fam):
    with open(os.path.join(reg["root"], f"{fam}_serving._budget.json")) as fh:
        return json.load(fh)


def _topk(df, hamming=False):
    cols = ["query_id", "rank", "item_id", F.round("dist", 4).alias("dist_r")]
    if hamming:
        cols.append(F.col("hamming").cast("bigint").alias("hamming"))
    return df.select(*cols)


def _layout(spark, reg):
    from vectordb_acc_and_speed_exp_spark.io.relcache import read_layout

    corpus = os.path.join(reg["root"], "ivf_corpus")
    cents = read_layout(spark, os.path.join(reg["root"], "ivf_centroids"))
    return corpus, cents, read_layout(spark, corpus)


def test_flat_pq_rows_and_codes(spark, reg, inline):
    from vectordb_acc_and_speed_exp_spark.io.relcache import read_layout
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        pq_encode,
        pq_search_rerank,
    )

    emb, books = inline["emb"], inline["books"]
    enc = pq_encode(emb, books, item_id="vec_id")
    got = read_layout(spark, os.path.join(reg["root"], "pq_codes"))
    assert _rows(got.select("item_id", "codes")) == _rows(enc)
    want = pq_search_rerank(
        inline["qs"], emb, enc, books, k=10,
        shortlist=_budget(reg, "pq")["shortlist"], item_id="vec_id",
    )
    assert reg["rows"]["ann_pq_topk"] == _rows(_topk(want))


def test_flat_sq_rows_and_codes(spark, reg, inline):
    from vectordb_acc_and_speed_exp_spark.io.relcache import read_layout
    from vectordb_acc_and_speed_exp_spark.operators.sq import (
        sq_encode,
        sq_search_rerank,
    )

    emb, (vmin, scale) = inline["emb"], inline["sq"]
    enc = sq_encode(emb, vmin, scale, item_id="vec_id")
    got = read_layout(spark, os.path.join(reg["root"], "sq_codes"))
    assert _rows(got.select("item_id", "codes")) == _rows(enc)
    want = sq_search_rerank(
        inline["qs"], emb, enc, vmin, scale, k=10,
        shortlist=_budget(reg, "sq")["shortlist"], item_id="vec_id",
    )
    assert reg["rows"]["ann_sq_topk"] == _rows(_topk(want))


def test_flat_bq_rows(reg, inline):
    from vectordb_acc_and_speed_exp_spark.operators.bq import bq_search_rerank

    sums, n = inline["bq"]
    want = bq_search_rerank(
        inline["qs"], inline["emb"], sums, n, k=10,
        shortlist=_budget(reg, "bq")["shortlist"], item_id="vec_id",
    )
    assert reg["rows"]["ann_bq_tuned"] == _rows(_topk(want, hamming=True))


def test_composed_pq_rows_and_codes(spark, reg, inline, tmp_path):
    from vectordb_acc_and_speed_exp_spark.io.relcache import read_layout
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        ivfpq_search,
        write_ivfpq_codes,
    )

    corpus, cents, assigned = _layout(spark, reg)
    codes = str(tmp_path / "ivfpq_codes")
    write_ivfpq_codes(
        assigned.select("vec_id", "embedding", "cell"), inline["books"],
        codes, item_id="vec_id",
    )
    cols = ("item_id", "codes", "cell")
    got = read_layout(spark, os.path.join(reg["root"], "ivfpq_codes"))
    assert _rows(got.select(*cols)) == _rows(
        read_layout(spark, codes).select(*cols)
    )
    b = _budget(reg, "ivfpq")
    want = ivfpq_search(
        inline["qs"], spark, codes, corpus, cents, inline["books"], k=10,
        n_probe=b["n_probe"], shortlist=b["shortlist"], item_id="vec_id",
    )
    assert reg["rows"]["ann_ivfpq_topk"] == _rows(_topk(want))


def test_composed_sq_rows(spark, reg, inline, tmp_path):
    from vectordb_acc_and_speed_exp_spark.operators.sq import (
        ivfsq_search,
        write_ivfsq_codes,
    )

    corpus, cents, assigned = _layout(spark, reg)
    vmin, scale = inline["sq"]
    codes = str(tmp_path / "ivfsq_codes")
    write_ivfsq_codes(assigned, vmin, scale, codes, item_id="vec_id")
    b = _budget(reg, "ivfsq")
    want = ivfsq_search(
        inline["qs"], spark, codes, corpus, cents, vmin, scale, k=10,
        n_probe=b["n_probe"], shortlist=b["shortlist"], item_id="vec_id",
    )
    assert reg["rows"]["ann_ivfsq_topk"] == _rows(_topk(want))


def test_composed_bq_rows(spark, reg, inline, tmp_path):
    from vectordb_acc_and_speed_exp_spark.operators.bq import (
        ivfbq_search,
        write_ivfbq_codes,
    )

    corpus, cents, assigned = _layout(spark, reg)
    sums, n = inline["bq"]
    codes = str(tmp_path / "ivfbq_codes")
    write_ivfbq_codes(assigned, sums, n, codes, item_id="vec_id")
    b = _budget(reg, "ivfbq")
    want = ivfbq_search(
        inline["qs"], spark, codes, corpus, cents, sums, n, k=10,
        n_probe=b["n_probe"], shortlist=b["shortlist"], item_id="vec_id",
    )
    assert reg["rows"]["ann_ivfbq_topk"] == _rows(_topk(want))


def test_drift_baselines_present(reg):
    root = reg["root"]
    assert os.path.exists(os.path.join(root, "_drift.json"))
    for fam in ("pq", "sq", "ivfpq", "ivfsq", "ivfbq"):
        assert os.path.exists(os.path.join(root, f"{fam}_codes", "_drift.json"))


def test_warm_call_rewrites_no_marker(spark, reg):
    before = _markers(reg["root"])
    assert before
    for name in (*FLAT, *COMPOSED):
        assert _rows(reg["registry"][name].fn(spark, reg["sf"])) == (
            reg["rows"][name]
        )
    assert _markers(reg["root"]) == before


@pytest.mark.parametrize(
    "entry, key, output",
    [
        ("dedup_clusters", "dedup_clusters", "dedup_pairs"),
        ("ngram_jaccard_pairs", "ngram_plists", "shingle_sizes"),
    ],
)
def test_missing_output_rebuilds(spark, reg, entry, key, output):
    fn = reg["registry"][entry].fn
    rows = _rows(fn(spark, reg["sf"]))
    marker = os.path.join(reg["root"], f"{key}._DONE")
    built = os.stat(marker).st_mtime_ns
    shutil.rmtree(os.path.join(reg["root"], output))
    assert _rows(fn(spark, reg["sf"])) == rows
    assert os.path.exists(os.path.join(reg["root"], output))
    assert os.stat(marker).st_mtime_ns != built
