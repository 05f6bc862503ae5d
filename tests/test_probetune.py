"""Probe autotuner (operators/probetune.py): the measured
recall-vs-probes curve must be a valid cumulative curve whose
predictions hold on fresh queries, and the facade's target_recall=
dial must route through it."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from vectordb_acc_and_speed_exp_spark.operators.probetune import (
    choose_budget,
    probe_recall_curve,
    read_probe_curve,
    write_probe_curve,
)


@pytest.fixture(scope="module")
def ivf(spark, sf_dir):
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _get_or_build_ivf,
    )

    return _get_or_build_ivf(spark, sf_dir)


def test_curve_is_cumulative_and_complete(spark, ivf):
    corpus_path, cents = ivf
    curve = probe_recall_curve(
        spark, corpus_path, cents, k=10, item_id="vec_id"
    )
    n_cells = cents.count()
    assert set(curve) == set(range(1, n_cells + 1))
    vals = [curve[p] for p in sorted(curve)]
    assert vals == sorted(vals)  # nondecreasing
    assert vals[-1] == 1.0  # full probe reaches every true neighbour
    assert 0.0 < vals[0] < 1.0  # probing 1 cell finds some, not all


def test_curve_predicts_fresh_query_recall(spark, embeddings, ivf):
    """The curve is calibrated on a hash-sample; its prediction must
    hold (within sampling tolerance) for a DIFFERENT query set run
    through the real probed search."""
    from vectordb_acc_and_speed_exp_spark.operators.ann import ivf_ann_pruned
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )

    corpus_path, cents = ivf
    curve = probe_recall_curve(
        spark, corpus_path, cents, k=10, item_id="vec_id"
    )
    qs = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    gt = exact_knn(qs, embeddings, k=10, item_id="vec_id").select(
        "query_id", "rank", "item_id"
    )
    p = choose_budget(curve, 0.85, max(curve))
    got = ivf_ann_pruned(
        spark=spark, queries=qs, corpus_path=corpus_path, centroids=cents,
        k=10, n_probe=p, item_id="vec_id",
    ).select("query_id", "rank", "item_id")
    r = mean_recall(recall_at_k(gt, got, k=10)).first().mean_recall
    assert r >= 0.85 - 0.25  # 5-query validation set: wide tolerance
    # and a bigger budget than the curve demands can only help
    assert p <= cents.count()


def test_choose_budget_semantics():
    curve = {1: 0.3, 2: 0.55, 3: 0.8, 4: 0.97, 5: 1.0, 6: 1.0}
    assert choose_budget(curve, 0.5, 6) == 2
    assert choose_budget(curve, 0.8, 6) == 3
    assert choose_budget(curve, 0.98, 6) == 5
    # sampled 1.0 at p=5 does NOT shortcut the guarantee: full probe
    assert choose_budget(curve, 1.0, 6) == 6
    assert choose_budget(curve, 0.0, 6) == 1
    # a shortlist grid point past the corpus is capped at it, and a
    # target no grid point meets falls back to the whole corpus
    grid = {10: 0.5, 100: 0.9, 400: 0.97}
    assert choose_budget(grid, 0.95, 300) == 300
    assert choose_budget(grid, 0.9, 300) == 100
    assert choose_budget(grid, 0.99, 300) == 300
    # full=None: no finite budget is exact — a miss and target >= 1
    # give None (the caller reroutes to the exact scan)
    assert choose_budget(grid, 0.9, None) == 100
    assert choose_budget(grid, 0.99, None) is None
    assert choose_budget(grid, 1.0, None) is None


def test_curve_sidecar_roundtrip(tmp_path):
    curve = {1: 0.25, 2: 0.5, 3: 1.0}
    write_probe_curve(str(tmp_path), curve, k=10, n_sample=32)
    assert read_probe_curve(str(tmp_path)) == curve
    assert read_probe_curve(str(tmp_path / "nowhere")) is None


def test_facade_target_recall_dial(spark, embeddings, tmp_path):
    """query(target_recall=...) builds the curve lazily, persists it,
    and serves at the chosen budget; target+explicit n_probe is an
    error; target on a non-probed mode is an error."""
    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "store"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    probe = [[float(x) for x in r.embedding]
             for r in embeddings.limit(2).collect()]
    res = vs.query("c", query_vecs=probe, k=5, mode="ivfbq",
                   target_recall=0.9).collect()
    assert {r.query_id for r in res} == {0, 1}
    # curves are keyed by the REQUESTED k (VERDICT r10 #1): k=5 writes a
    # _k5 sidecar; the bare name is reserved for the k=10 default
    assert os.path.exists(
        os.path.join(vs.root, ".ivf_index", "c", "_probe_curve_k5.json")
    )
    assert not os.path.exists(
        os.path.join(vs.root, ".ivf_index", "c", "_probe_curve.json")
    )
    with pytest.raises(ValueError, match="not both"):
        vs.query("c", query_vecs=probe, k=5, mode="ivfbq",
                 target_recall=0.9, n_probe=4)
    with pytest.raises(ValueError, match="does not apply"):
        vs.query("c", query_vecs=probe, k=5, mode="exact", target_recall=0.9)


@pytest.mark.slow
def test_target_recall_every_family_meets_08(spark, embeddings, tmp_path):
    """VERDICT r08 #4 done-criterion: target_recall=0.8 on EVERY
    approximate family serves at a measured budget whose realized recall
    on a fresh 5-query set clears the target minus sampling tolerance."""
    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "store8"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    qrows = (
        embeddings.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
    )
    probe = [[float(x) for x in r.embedding] for r in qrows]
    qs = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    gt = exact_knn(qs, embeddings, k=10, item_id="vec_id").select(
        "query_id", "rank", F.col("item_id").cast("string").alias("item_id")
    )
    for mode in ("ivfbq", "ivfpq", "ivfsq", "bq", "pq", "sq", "lsh",
                 "mtlsh", "graph"):
        res = vs.query(
            "c", query_vecs=probe, k=10, mode=mode, target_recall=0.8
        ).select("query_id", "rank", F.col("item_id").cast("string").alias("item_id"))
        r = mean_recall(recall_at_k(gt, res, k=10)).first().mean_recall
        # 5-query validation: allow ~2 sigma of binomial noise under the
        # calibrated target
        assert r >= 0.8 - 0.2, f"{mode}: target 0.8 served recall {r}"


@pytest.mark.slow
def test_default_budgets_are_measured(spark, embeddings, tmp_path):
    """No-knob facade queries serve at curve-chosen budgets: the flat
    families persist a shortlist curve beside their codes, the composed
    families persist a joint (n_probe, shortlist) sidecar at the IVF
    root — and the chosen defaults degrade gracefully to the corpus size
    when the curve cannot certify the target."""
    import json
    import os

    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "storedef"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    probe = [[float(x) for x in r.embedding]
             for r in embeddings.limit(1).collect()]
    assert vs.query("c", query_vecs=probe, k=5, mode="pq").count() == 5
    # k-keyed sidecar (VERDICT r10 #1): the k=5 default-budget query
    # calibrates AT k=5
    assert os.path.exists(
        os.path.join(vs.root, ".pq_index", "c", "_shortlist_curve_k5.json")
    )
    assert vs.query("c", query_vecs=probe, k=5, mode="ivfbq").count() == 5
    sidecar = os.path.join(vs.root, ".ivf_index", "c", "_ivfbq_serving.json")
    assert os.path.exists(sidecar)
    with open(sidecar) as fh:
        d = json.load(fh)
    (tgt,) = d["targets"].values()
    assert tgt["n_probe"] >= 1 and tgt["shortlist"] >= 5


@pytest.mark.slow
def test_curve_recalibrates_on_corpus_growth(spark, embeddings, tmp_path):
    """VERDICT r08 #3 done-criterion: doubling the corpus WITHOUT
    distribution drift refreshes the probe curve (fixed-probe recall
    decays with size, so the old curve is no longer evidence) and
    target_recall still meets its target on the grown collection."""
    import json

    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "growstore"), dim=dim)
    base = embeddings.filter(F.col("vec_id") < 220).select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    )
    vs.create_collection("c", base)
    probe = [[float(x) for x in r.embedding]
             for r in embeddings.filter(F.col("vec_id") < 2)
             .orderBy("vec_id").collect()]
    # k=10 throughout so both queries share ONE k-keyed sidecar — the
    # growth-triggered recalibration is what this test pins
    vs.query("c", query_vecs=probe, k=10, mode="ivfbq", target_recall=0.9)
    curve_path = os.path.join(vs.root, ".ivf_index", "c", "_probe_curve.json")
    with open(curve_path) as fh:
        n0 = json.load(fh)["n_corpus"]
    assert n0 == 220

    # same distribution, 2.3x the size: the add() absorbs cell-
    # incrementally (no invalidation), but the next target_recall query
    # must RE-CALIBRATE the curve at the new size
    grown = embeddings.filter(F.col("vec_id") >= 220).select(
        (F.col("vec_id") + 100000).cast("string").alias("id"), "embedding"
    )
    vs.add("c", grown)
    res = vs.query(
        "c", query_vecs=probe, k=10, mode="ivfbq", target_recall=0.85
    )
    with open(curve_path) as fh:
        meta = json.load(fh)
    assert meta["n_corpus"] > 2 * n0  # refreshed at the grown size
    # and the target still holds on the grown collection (2-query set:
    # wide tolerance, the guarantee is the re-measured curve)
    qs = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    gt = exact_knn(
        qs, vs.get("c").select("id", "embedding"), k=10, item_id="id"
    ).select("query_id", "rank", "item_id")
    got = res.select("query_id", "rank", "item_id")
    r = mean_recall(recall_at_k(gt, got, k=10)).first().mean_recall
    assert r >= 0.85 - 0.25


def test_lsh_calib_dropped_on_upsert_and_delete(spark, embeddings, tmp_path):
    """The lsh bits-curve sidecar is a pure function of the corpus and a
    FILE (not an index dir), so writes must drop it explicitly: upsert
    (replacement can shift the measured distribution) and full
    invalidation both remove it; add() keeps it (2x-growth staleness
    owns that path)."""
    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "lshc"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.filter(F.col("vec_id") < 100).select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    probe = [[float(x) for x in
              embeddings.filter(F.col("vec_id") == 0).first().embedding]]
    vs.query("c", query_vecs=probe, k=3, mode="lsh", target_recall=0.8)
    # per-collection subdir layout (ADVICE r11: flat name_k{k}.json made
    # exact invalidation impossible when a sibling collection's name ends
    # in a literal _k<digits>)
    calib = os.path.join(vs.root, ".lsh_calib", "c", "k3.json")
    assert os.path.exists(calib)
    vs.add(
        "c",
        embeddings.filter(
            (F.col("vec_id") >= 100) & (F.col("vec_id") < 120)
        ).select((F.col("vec_id") + 10_000).cast("string").alias("id"),
                 "embedding"),
    )
    assert os.path.exists(calib)  # append: growth check owns staleness
    vs.upsert(
        "c",
        embeddings.filter(F.col("vec_id") == 0).select(
            F.lit("0").alias("id"), "embedding"
        ),
    )
    assert not os.path.exists(calib)  # replacement drops it
    vs.query("c", query_vecs=probe, k=3, mode="lsh", target_recall=0.8)
    assert os.path.exists(calib)  # lazily re-measured
    vs.delete_collection("c")
    assert not os.path.exists(calib)


def test_lsh_calib_invalidation_is_collection_exact(
    spark, embeddings, tmp_path
):
    """ADVICE r11: invalidating collection 'c' must not sweep the
    sidecars of a sibling collection whose NAME ends in a literal
    _k<digits> ('c_k2') — under the flat layout the glob
    c_k[0-9]*.json deleted c_k2's bare sidecar and its k-keyed ones."""
    import os

    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "lshx"), dim=dim)
    rows = embeddings.filter(F.col("vec_id") < 80).select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    )
    vs.create_collection("c", rows)
    vs.create_collection("c_k2", rows)
    probe = [[float(x) for x in
              embeddings.filter(F.col("vec_id") == 0).first().embedding]]
    vs.query("c", query_vecs=probe, k=3, mode="lsh", target_recall=0.8)
    vs.query("c_k2", query_vecs=probe, k=3, mode="lsh", target_recall=0.8)
    vs.query("c_k2", query_vecs=probe, k=5, mode="lsh", target_recall=0.8)
    sib = [
        os.path.join(vs.root, ".lsh_calib", "c_k2", "k3.json"),
        os.path.join(vs.root, ".lsh_calib", "c_k2", "k5.json"),
    ]
    own = os.path.join(vs.root, ".lsh_calib", "c", "k3.json")
    for p in sib + [own]:
        assert os.path.exists(p), p
    vs.upsert(
        "c",
        embeddings.filter(F.col("vec_id") == 0).select(
            F.lit("0").alias("id"), "embedding"
        ),
    )
    assert not os.path.exists(own)  # own curve invalidated
    for p in sib:  # sibling curves untouched (the advice's failure case)
        assert os.path.exists(p), p


@pytest.mark.slow
def test_filtered_target_recall_flat_families(spark, embeddings, tmp_path):
    """VERDICT r09 Missing #1 done-criterion: where= + target_recall=0.8
    on the flat compressed families (bq/pq/sq) serves a shortlist from
    the SELECTIVITY-BINNED filtered curve, and the realized recall vs the
    filtered exact oracle clears the target minus 5-query sampling
    tolerance under a ~20% filter. tr >= 1 and a filter more selective
    than the smallest calibrated bin both reroute to
    exact-over-survivors (recall 1.0 structurally)."""
    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "storef"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.select(
            F.col("vec_id").cast("string").alias("id"), "embedding", "label"
        ),
    )
    qrows = (
        embeddings.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
    )
    probe = [[float(x) for x in r.embedding] for r in qrows]
    qs = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    where = "label < 2"  # ~20% survivors on the fixture
    survivors = embeddings.filter(F.expr(where))
    gt = exact_knn(qs, survivors, k=10, item_id="vec_id").select(
        "query_id", "rank", F.col("item_id").cast("string").alias("item_id")
    )
    for mode in ("bq", "pq", "sq"):
        res = vs.query(
            "c", query_vecs=probe, k=10, mode=mode, where=where,
            target_recall=0.8,
        ).select(
            "query_id", "rank",
            F.col("item_id").cast("string").alias("item_id"),
        )
        r = mean_recall(recall_at_k(gt, res, k=10)).first().mean_recall
        assert r >= 0.8 - 0.2, f"{mode}: filtered target 0.8 served {r}"
        # every hit satisfies the predicate
        assert res.join(
            survivors.select(
                F.col("vec_id").cast("string").alias("item_id")
            ),
            "item_id", "left_anti",
        ).count() == 0
    # the persisted sidecar carries the three calibrated bins
    import json
    import os

    for fam in ("bq", "pq", "sq"):
        with open(
            os.path.join(
                vs._qpaths("c", fam)[0], "_filtered_shortlist_curve.json"
            )
        ) as fh:
            bins = json.load(fh)["bins"]
        assert set(bins) == {"0.03", "0.10", "0.25", "0.50"}, fam
        for c in bins.values():  # each bin is a nondecreasing curve
            vals = [c[s] for s in sorted(c, key=int)]
            assert vals == sorted(vals)
    # tr >= 1 == filtered exact, bit-for-bit
    exact = vs.query(
        "c", query_vecs=probe, k=10, mode="exact", where=where
    ).collect()
    tr1 = vs.query(
        "c", query_vecs=probe, k=10, mode="pq", where=where,
        target_recall=1.0,
    ).collect()
    assert sorted((r.query_id, r.rank, r.item_id) for r in tr1) == sorted(
        (r.query_id, r.rank, r.item_id) for r in exact
    )
    # a ~3-5% filter is SERVED from the calibrated 0.03 bin (VERDICT r10
    # #7 — it used to reroute to exact-over-survivors, which at scale
    # still scans millions of survivors), and the served result matches
    # the filtered exact oracle at this scale (the chosen shortlist
    # covers the tiny survivor set)
    tiny = "label = 0 and cast(id as bigint) < 150"
    frac = vs._where_selectivity("c", tiny)
    assert 0.03 - 1e-9 <= frac < 0.10
    assert vs._resolve_filtered_shortlist("c", "sq", 10, 0.8, frac) is not None
    ex2 = vs.query(
        "c", query_vecs=probe, k=10, mode="exact", where=tiny
    ).collect()
    got2 = vs.query(
        "c", query_vecs=probe, k=10, mode="sq", where=tiny,
        target_recall=0.8,
    ).collect()
    assert sorted((r.query_id, r.rank, r.item_id) for r in got2) == sorted(
        (r.query_id, r.rank, r.item_id) for r in ex2
    )
    # BELOW the smallest calibrated bin (~2%): reroute to exact-over-
    # survivors — certain, and cheap exactly where it fires
    assert vs._resolve_filtered_shortlist("c", "sq", 10, 0.8, 0.02) is None
    sub = "cast(id as bigint) < 10"
    ex3 = vs.query(
        "c", query_vecs=probe, k=10, mode="exact", where=sub
    ).collect()
    got3 = vs.query(
        "c", query_vecs=probe, k=10, mode="sq", where=sub,
        target_recall=0.8,
    ).collect()
    assert sorted((r.query_id, r.rank, r.item_id) for r in got3) == sorted(
        (r.query_id, r.rank, r.item_id) for r in ex3
    )


@pytest.mark.slow
def test_k_keyed_calibration_meets_recall_at_requested_k(
    spark, embeddings, tmp_path
):
    """VERDICT r10 #1 done-criterion: ``query(k=25, target_recall=0.85)``
    serves a budget calibrated AT k=25 — one sidecar per (artifact, k) —
    and the realized recall@25 on a fresh query set clears the target
    minus sampling tolerance, on a flat (pq), a composed (ivfbq), and
    the graph family. A mismatched-k query never serves a stale-k
    budget: the k=10 and k=25 calls each write their OWN sidecar, and
    the composed serving table keys its entries by (target, k)."""
    import json
    import os

    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "storek25"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    # the 32-query eval size (VERDICT r11 #3): the old 8-query set
    # needed a 0.75 floor on an 0.85 promise; at 32 queries x 25 pairs
    # the binomial sigma is sqrt(0.85*0.15/800) ~ 0.013, so the floor
    # tightens to target - 2 sigma ~ 0.825
    from vectordb_acc_and_speed_exp_spark.operators.probetune import (
        calib_queries,
    )

    corpus = vs.get("c").select("id", "embedding")
    qrows = calib_queries(corpus, 32, item_id="id").collect()
    probe = [[float(x) for x in r.query_vec] for r in qrows]
    qdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(probe)],
        "query_id bigint, query_vec array<float>",
    )
    gt25 = exact_knn(qdf, corpus, k=25, item_id="id").select(
        "query_id", "rank", F.col("item_id").cast("string").alias("item_id")
    )
    # prime the k=10 sidecars first — the k=25 query below must NOT
    # reuse them (the stale-k budget the verdict forbids)
    for mode in ("pq", "ivfbq", "graph"):
        vs.query("c", query_vecs=probe[:1], k=10, mode=mode,
                 target_recall=0.85).count()
    for mode in ("pq", "ivfbq", "graph"):
        res = vs.query(
            "c", query_vecs=probe, k=25, mode=mode, target_recall=0.85
        ).select(
            "query_id", "rank",
            F.col("item_id").cast("string").alias("item_id"),
        )
        r = mean_recall(recall_at_k(gt25, res, k=25)).first().mean_recall
        assert r >= 0.85 - 0.025, f"{mode}: k=25 target 0.85 served {r}"
    # each k wrote its own sidecar (k=10 = bare name, k=25 = _k25)
    assert os.path.exists(
        os.path.join(vs.root, ".pq_index", "c", "_shortlist_curve.json")
    )
    assert os.path.exists(
        os.path.join(vs.root, ".pq_index", "c", "_shortlist_curve_k25.json")
    )
    assert os.path.exists(
        os.path.join(vs.root, ".graph_index", "c", "_ef_curve.json")
    )
    assert os.path.exists(
        os.path.join(vs.root, ".graph_index", "c", "_ef_curve_k25.json")
    )
    with open(
        os.path.join(vs.root, ".ivf_index", "c", "_ivfbq_serving.json")
    ) as fh:
        targets = json.load(fh)["targets"]
    assert "0.85" in targets and "0.85@k25" in targets
    # the k-keyed sidecars carry their k, so a hand-mismatched read is
    # structurally stale (curve_is_stale k check)
    with open(
        os.path.join(vs.root, ".pq_index", "c", "_shortlist_curve_k25.json")
    ) as fh:
        assert json.load(fh)["k"] == 25


def test_graph_curve_can_certify_above_k_minus_1_over_k(
    spark, embeddings, tmp_path
):
    """ADVICE r10 / CALIB v3 observable effect: calibration queries are
    corpus members, so before the result-side self-pair exclusion the
    beam's rank-1 slot was always the self hit and the measured graph
    curve was CAPPED at (k-1)/k = 0.9 — `curve[ef] >= 1.0` unreachable,
    any graph target in (0.9, 1.0] silently rerouted to exact even when
    the index would certify it for fresh queries. On the 500-row fixture
    a generous beam finds every fresh neighbour, so the v3 curve must
    now exceed 0.9, and a 0.95-target graph query must serve from the
    index (a measured ef), not reroute."""
    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "gcurve"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    probe = [[float(x) for x in embeddings.limit(1).first().embedding]]
    vs.query("c", query_vecs=probe, k=10, mode="graph", target_recall=0.95)
    curve = vs._curve("c", "graph", k=10)
    assert max(curve.values()) > 0.9, curve
    # and the 0.95 target resolves a finite measured beam
    assert any(r >= 0.95 for r in curve.values())


def test_sub_bin_reroute_by_survivor_count(spark, embeddings, tmp_path):
    """VERDICT r11 #4 mechanism, pinned deterministically: below the
    smallest calibrated bin the route keys on the survivor COUNT —
    under the exact-scan crossover budget it reroutes to exact (None);
    over it, an EXTRAPOLATED-conservative shortlist serves, fit from
    the two smallest measured bins (s(f) = s1*(f1/f)^alpha, alpha >= 0,
    rounded UP to the next calibrated grid point) and never reaching
    the survivor estimate (that would be the exact scan again)."""
    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "subbin"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.limit(50).select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    # hand-built bins: 0.03 certifies 0.85 at 400, 0.10 at 200 ->
    # alpha = ln(400/200)/ln(0.10/0.03) ~ 0.576; at frac=0.01,
    # s = 400*(3)^0.576 ~ 753 -> grid-up 800
    bins = {
        0.03: {200: 0.7, 400: 0.86, 800: 0.95},
        0.10: {100: 0.8, 200: 0.9, 400: 0.97},
        0.25: {100: 0.9, 200: 0.98},
        0.50: {50: 0.9, 100: 0.99},
    }
    vs._collection_nrows = lambda name: 1_000_000  # type: ignore
    # survivor estimate 10k <= measured 200k crossover -> exact reroute
    assert vs._extrapolated_filtered_shortlist(
        "c", "sq", 10, 0.85, 0.01, bins
    ) is None
    # the 100 TB regime: survivors past the budget -> served shortlist
    vs.FILTERED_EXACT_SURVIVOR_ROWS = 1_000
    s = vs._extrapolated_filtered_shortlist("c", "sq", 10, 0.85, 0.01, bins)
    assert s == 800, s
    # conservative floor: never below the smallest bin's own demand
    assert s >= 400
    # deeper sub-bin demands MORE, never less (alpha >= 0 direction)
    s2 = vs._extrapolated_filtered_shortlist("c", "sq", 10, 0.85, 0.005, bins)
    assert s2 >= s
    # a smallest bin that refuses to certify inside the grid -> exact
    # (the certified-correct answer, per the lam=1.5 study)
    refuse = dict(bins)
    refuse[0.03] = {200: 0.5, 400: 0.6, 800: 0.7}
    assert vs._extrapolated_filtered_shortlist(
        "c", "sq", 10, 0.85, 0.01, refuse
    ) is None
    # survivors under the smallest-bin sample floor on tiny collections:
    # fewer than two measured bins -> exact
    assert vs._extrapolated_filtered_shortlist(
        "c", "sq", 10, 0.85, 0.01, {0.5: bins[0.50]}
    ) is None


@pytest.mark.slow
def test_sub_bin_filtered_serves_at_1m_without_full_rerank(
    spark, embeddings, tmp_path
):
    """VERDICT r11 #4 done-criterion at the 1M-fixture scale: a ~1%
    filter + target_recall on a flat compressed family meets the target
    WITHOUT a full survivor re-rank once the survivor count exceeds the
    exact-scan budget, and a sub-budget filter still reroutes exact.

    The budget dial is lowered for the fixture (10k survivors sit under
    the measured 200k crossover on this box, where exact-over-survivors
    is genuinely the right call — the dial simulates the 100 TB regime
    the verdict names, where 1% of the corpus dwarfs any crossover)."""
    import pyspark.sql.functions as F  # noqa: F811

    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.experiments_scale import (
        expand_embeddings,
    )

    dim = len(embeddings.select("embedding").first()[0])
    big, _ = expand_embeddings(embeddings, 1_000_000, lam=0.6)
    big = big.select(
        F.col("vec_id").cast("string").alias("id"),
        F.col("embedding").cast("array<float>").alias("embedding"),
    )
    vs = VectorStore(spark, str(tmp_path / "m1"), dim=dim)
    vs.create_collection("c", big)
    where = "pmod(cast(id as bigint), 97) = 0"  # ~1.03% survivors
    frac = vs._where_selectivity("c", where)
    assert 0.008 <= frac <= 0.013, frac
    # default budget (measured 200k crossover): 10k survivors -> exact
    assert vs._resolve_filtered_shortlist("c", "pq", 10, 0.85, frac) is None
    # 100 TB regime dial: survivors exceed the budget -> served shortlist
    vs.FILTERED_EXACT_SURVIVOR_ROWS = 1_000
    s = vs._resolve_filtered_shortlist("c", "pq", 10, 0.85, frac)
    n_surv = int(round(frac * 1_000_000))
    assert s is not None and s < n_surv, (s, n_surv)  # no full re-rank
    qrows = embeddings.limit(8).select("embedding").collect()
    probe = [[float(x) for x in r.embedding] for r in qrows]
    served = vs.query(
        "c", query_vecs=probe, k=10, mode="pq", where=where,
        target_recall=0.85,
    ).select("query_id", "rank", "item_id")
    exact = vs.query(
        "c", query_vecs=probe, k=10, mode="exact", where=where
    ).select("query_id", "rank", "item_id")
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )

    r = mean_recall(recall_at_k(exact, served, k=10)).first().mean_recall
    # 8 queries x 10 pairs: ~1.5 sigma under the 0.85 target
    assert r >= 0.85 - 0.1, r
    # sub-budget case: a far more selective filter still reroutes exact
    tiny = "pmod(cast(id as bigint), 2000) = 0"  # ~500 survivors
    frac2 = vs._where_selectivity("c", tiny)
    assert vs._resolve_filtered_shortlist("c", "pq", 10, 0.85, frac2) is None


def test_tiny_collection_skips_unmeasurable_bins(spark, embeddings, tmp_path):
    """ADVICE r11: on a small collection the 0.03 (and 0.10) bin's hash
    sample holds fewer than k+1 rows — its ground truth is degenerate
    and publishing its all-1.0 fallback curve would certify the minimum
    grid shortlist to any real 3-10% filter. Those bins are SKIPPED
    (recorded in the sidecar so the bin-coverage check doesn't
    recalibrate forever), and a filter landing below the smallest
    MEASURED bin reroutes to exact-over-survivors."""
    import json
    import os

    from vectordb_acc_and_speed_exp_spark.api import VectorStore

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "tinybins"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.filter(F.col("vec_id") < 100).select(
            F.col("vec_id").cast("string").alias("id"),
            (F.col("vec_id") % 20).alias("label"),
            "embedding",
        ),
    )
    bins = vs._ensure_filtered_shortlist_curve("c", "sq", k=10)
    with open(
        os.path.join(vs._qpaths("c", "sq")[0], "_filtered_shortlist_curve.json")
    ) as fh:
        meta = json.load(fh)
    # at ~100 rows the 0.03 sample (~3 rows) and usually the 0.10 sample
    # (~10 rows) are under k+1 = 11: skipped, never published as curves
    assert "0.03" in meta["skipped_bins"], meta["skipped_bins"]
    assert set(meta["bins"]) | set(meta["skipped_bins"]) == {
        "0.03", "0.10", "0.25", "0.50"
    }
    for f in meta["skipped_bins"]:
        assert f not in meta["bins"]
    # a second call serves the sidecar (coverage check passes WITH the
    # skips — no eternal recalibration)
    mtime = os.path.getmtime(
        os.path.join(vs._qpaths("c", "sq")[0], "_filtered_shortlist_curve.json")
    )
    bins2 = vs._ensure_filtered_shortlist_curve("c", "sq", k=10)
    assert os.path.getmtime(
        os.path.join(vs._qpaths("c", "sq")[0], "_filtered_shortlist_curve.json")
    ) == mtime
    assert set(bins2) == set(bins)
    # a ~5% filter sits below the smallest MEASURED bin -> tiny survivor
    # set -> exact-over-survivors (None), never a degenerate budget
    probe = [[float(x) for x in r.embedding]
             for r in embeddings.limit(2).collect()]
    where = "label = 0 and cast(id as bigint) < 99"
    frac = vs._where_selectivity("c", where)
    assert frac < min(f for f in bins2 if f < 1.0)
    assert vs._resolve_filtered_shortlist("c", "sq", 10, 0.8, frac) is None
    got = vs.query(
        "c", query_vecs=probe, k=3, mode="sq", where=where, target_recall=0.8
    ).collect()
    exact = vs.query(
        "c", query_vecs=probe, k=3, mode="exact", where=where
    ).collect()
    assert sorted((r.query_id, r.rank, r.item_id) for r in got) == sorted(
        (r.query_id, r.rank, r.item_id) for r in exact
    )
