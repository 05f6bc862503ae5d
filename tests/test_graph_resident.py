"""Resident-shard graph search (operators/graphann.py::_graph_ann_files):
the written-index path must return exactly the rows the in-memory
``graph_ann`` returns over the same index read through Spark — fresh,
after shard upserts, and after the index is dropped and rebuilt at the
same path — and its per-worker shard cache must respect its byte bound
and key on file identity."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from vectordb_acc_and_speed_exp_spark.io.local import local_df
from vectordb_acc_and_speed_exp_spark.io.relcache import read_layout
from vectordb_acc_and_speed_exp_spark.operators import graphann
from vectordb_acc_and_speed_exp_spark.operators.graphann import (
    build_graph_index,
    graph_ann,
    graph_ann_cell_probed,
    graph_ann_pruned,
    graph_index_upsert,
    query_probe_map,
    write_graph_index,
)

DIM = 6


def _vectors(n: int, seed: int) -> np.ndarray:
    # a coarse integer grid plus exact duplicates: many queries see tied
    # distances, so the (dist, item_id) order is what decides the rows
    rng = np.random.default_rng(seed)
    V = rng.integers(-2, 3, size=(n, DIM)).astype(float)
    dup = min(20, n // 2)
    V[n // 2 : n // 2 + dup] = V[:dup]
    return V


def _frame(spark, V: np.ndarray, start: int = 0):
    return local_df(
        spark,
        [(start + i, v.tolist()) for i, v in enumerate(V)],
        "vec_id bigint, embedding array<double>",
    )


def _queries(spark, V: np.ndarray):
    return local_df(
        spark,
        [(i, v.tolist()) for i, v in enumerate(V)],
        "query_id bigint, query_vec array<double>",
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def corpus(spark):
    return _vectors(240, seed=5)


@pytest.fixture(scope="module")
def qdf(spark, corpus):
    # 12 corpus members (self-hits, duplicate ties) + 4 fresh grid points
    Q = np.vstack([corpus[::20], _vectors(4, seed=9)])
    return _queries(spark, Q)


def test_pruned_equals_inmemory_with_ties(spark, corpus, qdf, tmp_path):
    path = str(tmp_path / "idx")
    write_graph_index(
        build_graph_index(_frame(spark, corpus), n_shards=4, item_id="vec_id"),
        path,
    )
    got = _rows(graph_ann_pruned(qdf, spark, path, k=10))
    want = _rows(graph_ann(qdf, read_layout(spark, path), k=10))
    assert got == want
    assert len(got) == 16 * 10
    # the batch really has ties: some query's top-10 repeats a distance
    dists = {}
    for q, _, _, d in got:
        dists.setdefault(q, []).append(d)
    assert any(len(set(v)) < len(v) for v in dists.values())

    # upsert: new rows rebuild two shards; the resident path must see
    # the new files and keep serving the untouched ones
    late = _vectors(30, seed=7)
    rebuilt = graph_index_upsert(
        spark, path, _frame(spark, late, start=1000), n_shards=4,
        item_id="vec_id",
    )
    assert rebuilt
    got = _rows(graph_ann_pruned(qdf, spark, path, k=10))
    assert got == _rows(graph_ann(qdf, read_layout(spark, path), k=10))
    assert any(i >= 1000 for _, _, i, _ in got)


def test_cell_probed_partial_probe_equals_inmemory(spark, corpus, qdf, tmp_path):
    from vectordb_acc_and_speed_exp_spark.operators.ann import (
        ivf_assign,
        kmeans_centroids,
    )

    emb = _frame(spark, corpus)
    cents = kmeans_centroids(emb, n_cells=8)
    qdf = qdf.filter("query_id < 4")
    path = str(tmp_path / "cell_idx")
    write_graph_index(
        build_graph_index(
            ivf_assign(emb, cents), item_id="vec_id", shard_col="cell"
        ),
        path,
    )
    pm = query_probe_map(qdf, cents, n_probe=2)
    probed = sorted(set().union(*pm.values()))
    assert len(probed) < 8  # a partial probe: some shards are never read
    got = _rows(graph_ann_cell_probed(qdf, spark, path, cents, k=10, n_probe=2))
    idx = read_layout(spark, path).filter(F.col("shard").isin(probed))
    assert got == _rows(graph_ann(qdf, idx, k=10, probe_map=pm))


def test_facade_graph_equal_after_add_and_rebuild(spark, tmp_path):
    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    vs = VectorStore(spark, str(tmp_path / "store"), dim=DIM)
    V = _vectors(200, seed=11)
    docs = local_df(
        spark, [(str(i), v.tolist()) for i, v in enumerate(V)],
        "id string, embedding array<float>",
    )
    vs.create_collection("g", docs)
    probes = [V[3].tolist(), V[150].tolist(), [0.5] * DIM]
    qd = local_df(
        spark, [(i, v) for i, v in enumerate(probes)],
        "query_id bigint, query_vec array<float>",
    ).select("query_id", F.col("query_vec").cast("array<double>").alias("query_vec"))

    def check():
        got = _rows(vs.query("g", query_vecs=probes, k=5, mode="graph"))
        path = vs._graph_path("g")
        assert got == _rows(graph_ann(qd, read_layout(spark, path), k=5))
        return got

    check()
    extra = local_df(
        spark, [("new", [0.5] * DIM)], "id string, embedding array<float>"
    )
    vs.add("g", extra)  # graph shard upsert
    assert ("new", 0.0) in {(r[2], r[3]) for r in check() if r[0] == 2}
    vs.delete("g", ids=["new", "3"])  # drops every index
    assert not os.path.exists(vs._graph_path("g"))
    got = check()  # rebuilt at the same path
    assert not {"new", "3"} & {r[2] for r in got}
    vs._invalidate_indexes("g")
    check()


def _one_shard_index(spark, tmp_path, n_shards=3):
    path = str(tmp_path / "cache_idx")
    write_graph_index(
        build_graph_index(
            _frame(spark, _vectors(90, seed=3)), n_shards=n_shards,
            item_id="vec_id",
        ),
        path,
    )
    return path


def test_shard_cache_evicts_at_byte_bound(spark, tmp_path, monkeypatch):
    from collections import OrderedDict

    path = _one_shard_index(spark, tmp_path)
    files = graphann._shard_files(path)
    assert sorted(files) == [0, 1, 2]
    sizes = [graphann._graph_bytes(*graphann._read_shard(
        [f[0] for f in files[s]])) for s in (0, 1, 2)]
    cache = OrderedDict()
    monkeypatch.setattr(graphann, "_SHARD_CACHE", cache)
    bound = sizes[0] + max(sizes[1], sizes[2])  # any two fit, not three
    monkeypatch.setattr(graphann, "SHARD_CACHE_BYTES", bound)

    def used():
        return sum(e[3] for e in cache.values())

    graphann._resident_shard(files[0])
    graphann._resident_shard(files[1])
    assert list(cache) == [files[0], files[1]] and used() <= bound
    graphann._resident_shard(files[0])  # touch: shard 1 is now the LRU
    graphann._resident_shard(files[2])
    assert list(cache) == [files[0], files[2]] and used() <= bound

    # a shard larger than the whole bound is served but never kept
    monkeypatch.setattr(graphann, "SHARD_CACHE_BYTES", sizes[1] - 1)
    V, ids, _ = graphann._resident_shard(files[1])
    assert len(ids) and files[1] not in cache


def test_shard_cache_misses_on_changed_size_or_mtime(
    spark, tmp_path, monkeypatch
):
    from collections import OrderedDict

    monkeypatch.setattr(graphann, "_SHARD_CACHE", OrderedDict())
    path = _one_shard_index(spark, tmp_path, n_shards=1)
    (key,) = graphann._shard_files(path).values()
    first = graphann._resident_shard(key)
    assert graphann._resident_shard(key)[0] is first[0]  # a hit
    (fpath, size, mtime) = key[0]

    os.utime(fpath, ns=(mtime + 10**9, mtime + 10**9))
    (key2,) = graphann._shard_files(path).values()
    assert key2 != key and key2[0][1] == size
    second = graphann._resident_shard(key2)
    assert second[0] is not first[0]

    # same rows, different file size (no compression), old mtime restored
    pq.write_table(pq.read_table(fpath), fpath, compression="none")
    os.utime(fpath, ns=(mtime, mtime))
    (key3,) = graphann._shard_files(path).values()
    assert key3[0][2] == mtime and key3[0][1] != size
    third = graphann._resident_shard(key3)
    assert third[0] is not first[0] and third[0] is not second[0]
    for a, b in zip(first[:2], third[:2]):
        assert np.array_equal(a, b)


def test_collect_queries_cap_boundary(spark, monkeypatch):
    """The batch is collected in one bounded action: exactly cap rows
    pass, cap+1 raise the byte-cap error."""
    from vectordb_acc_and_speed_exp_spark.operators import simjoin

    dim = 4
    # three float64 query vectors
    monkeypatch.setattr(simjoin, "DEFAULT_BROADCAST_CAP_BYTES", 3 * dim * 8)

    def batch(n):
        return local_df(
            spark, [(i, [float(i)] * dim) for i in range(n)],
            "query_id bigint, query_vec array<double>",
        )

    got = graphann._collect_queries(batch(3), "query_id", "query_vec")
    assert [q for q, _ in got] == [0, 1, 2]
    assert all(v.dtype == np.float64 and v.shape == (dim,) for _, v in got)
    with pytest.raises(ValueError, match="query matrix"):
        graphann._collect_queries(batch(4), "query_id", "query_vec")
    assert graphann._collect_queries(batch(0), "query_id", "query_vec") == []
