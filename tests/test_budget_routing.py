"""Budget routing pins: which operator ``VectorStore.query()`` serves and
with which budget, for every approximate mode and every kind of
``target_recall=`` (met, unmet, 1.0, none), read from calibration
sidecars written here by hand.

Every curve sidecar is written in the persisted format before any query
runs, so no calibration may run: the calibration entry points raise, and
the last test checks that no sidecar was rewritten or added. The search
operators are replaced by recorders, so each case costs no Spark search.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

N = 300
K = 10


def _put(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh)


def _curve(d: dict) -> dict:
    return {str(b): float(r) for b, r in d.items()}


FLAT = {10: 0.5, 25: 0.7, 50: 0.82, 100: 0.9, 200: 0.96, 400: 0.98}
FLAT_K30 = {10: 0.5, 25: 0.86, 50: 0.9, 100: 0.95}
BINS = {
    "0.03": {10: 0.2, 100: 0.5, 400: 0.9},
    "0.10": {10: 0.3, 100: 0.7, 400: 0.95},
    "0.25": {10: 0.4, 25: 0.6, 50: 0.75, 100: 0.85, 200: 0.95},
    "0.50": {10: 0.5, 25: 0.7, 50: 0.82, 100: 0.9},
}
LSH = {0: 0.3, 1: 0.55, 2: 0.82, 3: 0.9, 4: 0.95, 5: 0.97, 6: 0.98}
LSH_LEGACY = {0: 0.4, 1: 0.85, 2: 0.9, 3: 0.95, 4: 0.97, 5: 0.98, 6: 1.0}
MTLSH = {8: 0.5, 16: 0.7, 32: 0.83, 64: 0.9, 128: 0.95}
GRAPH = {48: 0.7, 96: 0.86, 192: 0.93, 384: 0.97}
COMPOSED = {
    "0.80": {"n_probe": 6, "shortlist": 50},
    "0.85": {"n_probe": 8, "shortlist": 5},
    "0.99": {"n_probe": 17, "shortlist": 300},
}


def _sidecars(root: str) -> dict:
    """{path: (bytes, mtime_ns)} of every calibration sidecar."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".json") and (
                "curve" in f or "serving" in f or ".lsh_calib" in dirpath
            ):
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[p] = (fh.read(), os.stat(p).st_mtime_ns)
    return out


@pytest.fixture(scope="module")
def store(spark, embeddings, tmp_path_factory):
    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.operators.probetune import (
        CALIB_VERSION,
    )

    dim = len(embeddings.select("embedding").first()[0])
    root = str(tmp_path_factory.mktemp("routing"))
    vs = VectorStore(spark, root, dim=dim)
    rows = embeddings.filter(F.col("vec_id") < N).select(
        F.col("vec_id").cast("string").alias("id"),
        (F.col("vec_id") % 10).alias("label"),
        "embedding",
    )
    vs.create_collection("c", rows)
    vs.create_collection("legacy", rows)
    assert vs.count("c") == N
    vs._ensure_ivf_index("c")
    for fam in ("bq", "pq", "sq"):
        vs._ensure_codes("c", fam)
        vs._ensure_codes("c", fam, ivf=True)
    vs._ensure_graph_index("c")
    vs._ensure_mtlsh_index("c")
    with open(os.path.join(root, ".ivf_index", "c", "_meta.json")) as fh:
        n_cells = json.load(fh)["n_cells"]
    probe = {p: round(min(1.0, p / 12), 4) for p in range(1, n_cells + 1)}

    base = {"k": K, "calib": CALIB_VERSION, "n_corpus": N}
    ivf = os.path.join(root, ".ivf_index", "c")
    _put(os.path.join(ivf, "_probe_curve.json"),
         {**base, "n_sample": 32, "curve": _curve(probe)})
    for mode in ("ivfbq", "ivfpq", "ivfsq"):
        _put(os.path.join(ivf, f"_{mode}_serving.json"),
             {"targets": COMPOSED, "n_corpus": N, "calib": CALIB_VERSION,
              "curve": {}})
    for fam in ("bq", "pq", "sq"):
        froot = os.path.join(root, f".{fam}_index", "c")
        _put(os.path.join(froot, "_shortlist_curve.json"),
             {**base, "n_sample": 32, "curve": _curve(FLAT)})
    _put(os.path.join(root, ".pq_index", "c", "_shortlist_curve_k30.json"),
         {**base, "k": 30, "n_sample": 32, "curve": _curve(FLAT_K30)})
    _put(os.path.join(root, ".sq_index", "c",
                      "_filtered_shortlist_curve.json"),
         {**base, "bins": {f: _curve(c) for f, c in BINS.items()},
          "skipped_bins": []})
    _put(os.path.join(root, ".lsh_calib", "c", "k10.json"),
         {**base, "n_planes": 6, "curve": _curve(LSH)})
    _put(os.path.join(root, ".lsh_calib", "legacy.json"),
         {**base, "n_planes": 6, "curve": _curve(LSH_LEGACY)})
    _put(os.path.join(root, ".mtlsh_index", "c", "_budget_curve.json"),
         {**base, "curve": _curve(MTLSH)})
    _put(os.path.join(root, ".graph_index", "c", "_ef_curve.json"),
         {**base, "curve": _curve(GRAPH)})
    q = [[float(x) for x in embeddings.first().embedding]]
    return vs, q, n_cells, _sidecars(root)


@pytest.fixture
def served(store, spark, monkeypatch):
    """Replace the search operators with recorders and every calibration
    entry point with a failure; returns the list of (operator, budget)
    calls a query made."""
    from vectordb_acc_and_speed_exp_spark import api
    from vectordb_acc_and_speed_exp_spark.operators import (
        ann,
        filtered,
        graphann,
        mtlsh,
        probetune,
        quantized,
    )

    calls = []
    empty = spark.createDataFrame(
        [], "query_id bigint, rank int, item_id string, dist double"
    )

    def rec(op, budget):
        calls.append((op, budget))
        return empty

    monkeypatch.setattr(api, "exact_knn", lambda *a, **kw: rec("exact", None))
    monkeypatch.setattr(
        ann, "lsh_ann",
        lambda *a, n_probe_bits=2, **kw: rec("lsh", n_probe_bits),
    )
    monkeypatch.setattr(
        graphann, "graph_ann_pruned",
        lambda *a, ef_search=graphann.DEFAULT_EF_SEARCH, **kw: rec(
            "graph", ef_search
        ),
    )
    monkeypatch.setattr(
        mtlsh, "mt_lsh_ann_pruned",
        lambda *a, n_probe_buckets=None, **kw: rec("mtlsh", n_probe_buckets),
    )
    monkeypatch.setattr(
        quantized, "shortlist_search",
        lambda queries, codes, vecs, scorer, k, shortlist, **kw: rec(
            "flat", shortlist
        ),
    )
    monkeypatch.setattr(
        quantized, "ivf_shortlist_search",
        lambda *a, n_probe, shortlist, **kw: rec("ivf", (n_probe, shortlist)),
    )
    monkeypatch.setattr(
        filtered, "filtered_knn_auto",
        lambda *a, **kw: rec("auto", kw.get("min_probe")),
    )

    def calibration_ran(*a, **kw):
        raise AssertionError("a pre-written curve was recalibrated")

    for name in ("probe_recall_curve", "scorer_shortlist_curve",
                 "lsh_bits_recall_curve", "composed_serving_budget",
                 "calib_ground_truth"):
        monkeypatch.setattr(probetune, name, calibration_ran)
    monkeypatch.setattr(mtlsh, "mt_lsh_budget_curve", calibration_ran)
    return calls


def _serve(store, calls, mode, target, name="c", k=K, where=None):
    vs, q, _, _ = store
    del calls[:]
    vs.query(name, query_vecs=q, k=k, mode=mode, target_recall=target,
             where=where)
    assert len(calls) == 1, calls
    return calls[0]


# (mode, target, expected (operator, budget)); "full" stands for the
# composed full-probe pair (n_cells, n_corpus)
CASES = [
    # composed: the cached joint budget per target; 1.0 = full probe and
    # full re-rank without calibration; the shortlist floors at k
    *[(m, t, e) for m in ("ivfbq", "ivfpq", "ivfsq") for t, e in (
        (0.8, ("ivf", (6, 50))),
        (0.99, ("ivf", (17, 300))),
        (1.0, "full"),
        (None, ("ivf", (8, K))),
    )],
    # flat: smallest grid shortlist meeting the target, capped at n_corpus
    *[(m, t, e) for m in ("bq", "pq", "sq") for t, e in (
        (0.8, ("flat", 50)),
        (0.99, ("flat", N)),
        (1.0, ("flat", N)),
        (None, ("flat", 100)),
    )],
    ("pq", 0.97, ("flat", N)),  # grid point 400 capped at the corpus
    # lsh: a miss falls back to n_planes (every bucket), not to exact
    ("lsh", 0.8, ("lsh", 2)),
    ("lsh", 0.99, ("lsh", 6)),
    ("lsh", 1.0, ("lsh", 6)),
    ("lsh", None, ("lsh", 3)),
    # mtlsh and graph cannot certify exactness: miss and 1.0 reroute
    ("mtlsh", 0.8, ("mtlsh", 32)),
    ("mtlsh", 0.99, ("exact", None)),
    ("mtlsh", 1.0, ("exact", None)),
    ("mtlsh", None, ("mtlsh", None)),
    ("graph", 0.8, ("graph", 96)),
    ("graph", 0.99, ("exact", None)),
    ("graph", 1.0, ("exact", None)),
    ("graph", None, ("graph", 48)),
]


@pytest.mark.parametrize(
    "mode,target,expected", CASES,
    ids=[f"{m}-{t}" for m, t, _ in CASES],
)
def test_served_budget(store, served, mode, target, expected):
    if expected == "full":
        expected = ("ivf", (store[2], N))
    assert _serve(store, served, mode, target) == expected


def test_flat_shortlist_floors_at_k(store, served):
    # the k=30 curve certifies 0.8 and 0.85 at 25 < k: served at k
    assert _serve(store, served, "pq", 0.8, k=30) == ("flat", 30)
    assert _serve(store, served, "pq", None, k=30) == ("flat", 30)


def test_lsh_legacy_bare_sidecar_is_read(store, served):
    assert _serve(store, served, "lsh", 0.8, name="legacy") == ("lsh", 1)


def test_where_target_sq_binned_shortlist_or_exact(store, served):
    # 30% survivors: the 0.25 and 0.50 bins bracket it, the larger of
    # their shortlists serves
    assert _serve(store, served, "sq", 0.8, where="label < 3") == (
        "flat", 100
    )
    # 2% survivors, under the smallest bin: exact over survivors
    assert _serve(
        store, served, "sq", 0.8, where="cast(id as int) < 6"
    ) == ("exact", None)
    assert _serve(store, served, "sq", 1.0, where="label < 3") == (
        "exact", None
    )


def test_where_target_graph_routes_auto_with_probe_floor(store, served):
    n_cells = store[2]
    assert _serve(store, served, "graph", 0.8, where="label < 3") == (
        "auto", 10
    )
    assert _serve(store, served, "graph", 1.0, where="label < 3") == (
        "auto", n_cells
    )
    # untargeted where= graph: the chooser with no floor
    assert _serve(store, served, "graph", None, where="label < 3") == (
        "auto", None
    )


def test_target_and_explicit_budget_refused(store, served):
    vs, q, _, _ = store
    with pytest.raises(ValueError, match="not both"):
        vs.query("c", query_vecs=q, k=K, mode="pq", target_recall=0.8,
                 shortlist=50)
    with pytest.raises(ValueError, match="not both"):
        vs.query("c", query_vecs=q, k=K, mode="ivfpq", target_recall=0.8,
                 n_probe=3, where="label < 3")
    with pytest.raises(ValueError, match="does not apply"):
        vs.query("c", query_vecs=q, k=K, mode="exact", target_recall=0.8)


@pytest.mark.parametrize("target", [None, 0.8, 1.0])
@pytest.mark.parametrize("mode", ["bq", "pq", "sq", "ivfbq", "ivfpq", "ivfsq"])
def test_one_row_count_per_compressed_query(
    store, served, monkeypatch, mode, target
):
    # the collection's row count feeds the broadcast gate, the full
    # budget and the curve staleness check: read once per query, with
    # or without a recall target
    vs = store[0]
    counted = []
    nrows = vs._collection_nrows
    monkeypatch.setattr(
        vs, "_collection_nrows", lambda name: counted.append(name) or nrows(name)
    )
    _serve(store, served, mode, target)
    assert counted == ["c"]


def test_sidecars_read_not_rewritten(store):
    # runs last in this module: every case above only read the sidecars
    vs, _, _, before = store
    assert _sidecars(vs.root) == before
