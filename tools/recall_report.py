"""Round-stamped ANN recall artifact: every ANN family at its fixed
serving budget vs the exact-kNN oracle — the accuracy half of the
reference's methodology (README.md:28-31: Recall@K of HNSW vs brute
force), regression-tracked per round like the latency bench
(VERDICT r07 #4).

Each family is evaluated through its REGISTRY entry — the same code,
index artifacts, and probe/shortlist budgets the driver benches — so a
recall regression here means the served path regressed, not a harness
twin.  Ground truth is exact L2 top-10 over the same 5-query set
(operators/knn.exact_knn, the reference's brute-force oracle
ACC:508-537).

Usage:
    SPARK_GRAFT_ROUND=8 python tools/recall_report.py            # sf0.1
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/recall_report.py

Writes RECALL_r{N}.json at the repo root (plus RECALL_latest.json) and
prints one JSON line.  tools/close_round.py runs this at every close.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

# registry entry -> short family label. Since round 9 the probe/shortlist
# budgets are MEASURED serving defaults (queries/pipeline.py
# _ivf_serving/_flat_serving/_composed_serving: each family's persisted
# calibration curve at probetune.DEFAULT_TARGET_RECALL (0.85) — VERDICT r08 #1), so the
# labels carry "tuned", not a literal budget. ann_bq_tuned replaces
# ann_bq_topk here because the latter pins shortlist=100 for its
# cross-engine hash oracle.
FAMILIES = {
    "ann_lsh_topk": "lsh_tuned",
    "mt_lsh_ann_topk": "mtlsh_tuned",
    "ann_ivf_topk": "ivf_tuned",
    "ann_pq_topk": "pq_tuned",
    "ann_sq_topk": "sq_tuned",
    "ann_ivfsq_topk": "ivfsq_tuned",
    "ann_ivfpq_topk": "ivfpq_tuned",
    "ann_bq_tuned": "bq_tuned",
    "ann_ivfbq_topk": "ivfbq_tuned",
    "graph_ann_topk": "graph_nsw",
    "graph_ivf_ann_topk": "graph_ivf_tuned",
}


def _gt_and_queries(spark, sf_dir: str):
    import pyspark.sql.functions as F

    from vectordb_acc_and_speed_exp_spark.io import load_table
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    gt = (
        exact_knn(qs, emb, k=10, item_id="vec_id")
        .select("query_id", "rank", "item_id")
        .cache()
    )
    gt.count()
    return emb, qs, gt


def _recall_of(gt, res) -> float:
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )

    r = mean_recall(
        recall_at_k(gt, res.select("query_id", "rank", "item_id"), k=10)
    ).first().mean_recall
    return round(float(r), 4)


def compute_recalls(spark, sf_dir: str) -> dict[str, float]:
    """{registry entry: mean recall@10 vs exact L2} at each family's
    SERVING budget — importable for the floor test
    (tests/test_recall_floors.py)."""
    from vectordb_acc_and_speed_exp_spark.queries import load_all

    registry = load_all()
    _, _, gt = _gt_and_queries(spark, sf_dir)
    out = {}
    for name in FAMILIES:
        out[name] = _recall_of(gt, registry[name].fn(spark, sf_dir))
    gt.unpersist()
    return out


def compute_recalls_calib(spark, sf_dir: str, n_sample: int = 32) -> dict:
    """Serving recall at the CALIBRATION sample size (VERDICT r09 #3):
    the legacy 5-query eval set measures ~0.10-0.14 BELOW a 32-query
    sample at mid-curve budgets (EP14's documented bias — tiny-sample
    noise, not a served-path property), so the round artifact now ALSO
    stamps each family on the same 32-query hash sample probetune
    calibrates with (probetune.calib_queries — deterministic, no RNG).
    Same served operators, same serving budgets as compute_recalls; only
    the query set differs."""
    import pyspark.sql.functions as F

    from vectordb_acc_and_speed_exp_spark.io import load_table
    from vectordb_acc_and_speed_exp_spark.operators.ann import (
        ivf_ann_pruned,
        lsh_ann,
    )
    from vectordb_acc_and_speed_exp_spark.operators.bq import (
        bq_search_rerank,
        ivfbq_search,
    )
    from vectordb_acc_and_speed_exp_spark.operators.graphann import (
        graph_ann_cell_probed,
        graph_ann_pruned,
    )
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.mtlsh import (
        mt_lsh_ann_pruned,
    )
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        ivfpq_search,
        pq_search_rerank,
    )
    from vectordb_acc_and_speed_exp_spark.operators.probetune import (
        calib_queries,
    )
    from vectordb_acc_and_speed_exp_spark.operators.sq import (
        ivfsq_search,
        sq_search_rerank,
    )
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _composed_serving,
        _flat_serving,
        _flat_codes,
        _get_or_build_cell_graph,
        _get_or_build_codes,
        _get_or_build_graph,
        _get_or_build_ivf,
        _get_or_build_mtlsh_index,
        _ivf_serving,
        _lsh_serving,
        _mtlsh_serving,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qs = calib_queries(emb, n_sample, item_id="vec_id")
    gt = (
        exact_knn(qs, emb, k=10, item_id="vec_id")
        .select("query_id", "rank", "item_id")
        .cache()
    )
    gt.count()

    corpus_path, cents = _get_or_build_ivf(spark, sf_dir)
    # the composed tables reuse the flat params
    enc_pq, pq_p = _flat_codes(spark, sf_dir, "pq")
    enc_sq, sq_p = _flat_codes(spark, sf_dir, "sq")
    enc_bq, bq_p = _flat_codes(spark, sf_dir, "bq")
    books, vmin, scale = pq_p["books"], sq_p["vmin"], sq_p["scale"]
    bsums, bn = bq_p["sums"], bq_p["n"]
    sq_c, pq_c, bq_c = (
        _get_or_build_codes(spark, sf_dir, f, ivf=True)[0]
        for f in ("sq", "pq", "bq")
    )
    gpath = _get_or_build_graph(spark, sf_dir)
    cgpath, gcents = _get_or_build_cell_graph(spark, sf_dir)
    mt_idx = _get_or_build_mtlsh_index(spark, sf_dir)
    ivf_b = _ivf_serving(spark, sf_dir)["n_probe"]
    pq_b = _flat_serving(spark, sf_dir, "pq")["shortlist"]
    sq_b = _flat_serving(spark, sf_dir, "sq")["shortlist"]
    bq_b = _flat_serving(spark, sf_dir, "bq")["shortlist"]
    ipq_b = _composed_serving(spark, sf_dir, "ivfpq")
    isq_b = _composed_serving(spark, sf_dir, "ivfsq")
    ibq_b = _composed_serving(spark, sf_dir, "ivfbq")
    lsh_b = _lsh_serving(spark, sf_dir)["n_probe_bits"]
    mt_b = _mtlsh_serving(spark, sf_dir)["n_probe_buckets"]

    fams = {
        "lsh_tuned": lambda: lsh_ann(
            qs, emb, k=10, n_probe_bits=lsh_b, item_id="vec_id"
        ),
        # a budget miss reroutes to the exact scan, as the entry does
        "mtlsh_tuned": lambda: exact_knn(
            qs, emb, k=10, item_id="vec_id"
        ) if mt_b is None else mt_lsh_ann_pruned(
            qs, spark, mt_idx, emb, k=10, n_probe_buckets=mt_b,
            item_id="vec_id",
        ),
        "ivf_tuned": lambda: ivf_ann_pruned(
            qs, spark, corpus_path, cents, k=10, n_probe=ivf_b,
            item_id="vec_id",
        ),
        "pq_tuned": lambda: pq_search_rerank(
            qs, emb, enc_pq, books, k=10, shortlist=pq_b, item_id="vec_id"
        ),
        "sq_tuned": lambda: sq_search_rerank(
            qs, emb, enc_sq, vmin, scale, k=10, shortlist=sq_b,
            item_id="vec_id",
        ),
        "bq_tuned": lambda: bq_search_rerank(
            qs, emb, bsums, bn, k=10, shortlist=bq_b, item_id="vec_id",
            encoded=enc_bq,
        ),
        "ivfsq_tuned": lambda: ivfsq_search(
            qs, spark, sq_c, corpus_path, cents, vmin, scale, k=10,
            n_probe=isq_b["n_probe"], shortlist=isq_b["shortlist"],
            item_id="vec_id",
        ),
        "ivfpq_tuned": lambda: ivfpq_search(
            qs, spark, pq_c, corpus_path, cents, books, k=10,
            n_probe=ipq_b["n_probe"], shortlist=ipq_b["shortlist"],
            item_id="vec_id",
        ),
        "ivfbq_tuned": lambda: ivfbq_search(
            qs, spark, bq_c, corpus_path, cents, bsums, bn, k=10,
            n_probe=ibq_b["n_probe"], shortlist=ibq_b["shortlist"],
            item_id="vec_id",
        ),
        "graph_nsw": lambda: graph_ann_pruned(qs, spark, gpath, k=10),
        "graph_ivf_tuned": lambda: graph_ann_cell_probed(
            qs, spark, cgpath, gcents, k=10, n_probe=ivf_b
        ),
    }
    out = {f: _recall_of(gt, th()) for f, th in fams.items()}
    gt.unpersist()
    return out


def compute_recalls_calib_k25(spark, sf_dir: str, n_sample: int = 32) -> dict:
    """Served recall@25 at the 32-query eval size for EVERY family
    (VERDICT r11 #3, extended): the k-keyed calibration contract (one
    sidecar per (artifact, k)) was pinned only by an 8-query unit test
    with a 0.75 floor on an 0.85 promise — this measures it at the size
    where the tolerance shrinks. Each budget-dialed family serves a
    budget calibrated AT k=25 (the pipeline serving helpers with k=25 —
    fresh ``*_serving_k25`` sidecars, never the k=10 ones); the two
    graph families serve the shipped default beam (their budget knob is
    ef, unchanged — consistent with families_calib's treatment), with
    graph_ivf probing the k=25-calibrated IVF budget."""
    import pyspark.sql.functions as F  # noqa: F401

    from vectordb_acc_and_speed_exp_spark.io import load_table
    from vectordb_acc_and_speed_exp_spark.operators.ann import (
        ivf_ann_pruned,
        lsh_ann,
    )
    from vectordb_acc_and_speed_exp_spark.operators.bq import (
        bq_search_rerank,
        ivfbq_search,
    )
    from vectordb_acc_and_speed_exp_spark.operators.graphann import (
        graph_ann_cell_probed,
        graph_ann_pruned,
    )
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.mtlsh import (
        mt_lsh_ann_pruned,
    )
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        ivfpq_search,
        pq_search_rerank,
    )
    from vectordb_acc_and_speed_exp_spark.operators.probetune import (
        calib_queries,
    )
    from vectordb_acc_and_speed_exp_spark.operators.recall import (
        mean_recall,
        recall_at_k,
    )
    from vectordb_acc_and_speed_exp_spark.operators.sq import (
        ivfsq_search,
        sq_search_rerank,
    )
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _composed_serving,
        _flat_serving,
        _flat_codes,
        _get_or_build_cell_graph,
        _get_or_build_codes,
        _get_or_build_graph,
        _get_or_build_ivf,
        _get_or_build_mtlsh_index,
        _ivf_serving,
        _lsh_serving,
        _mtlsh_serving,
    )

    k = 25
    emb = load_table(spark, sf_dir, "embeddings")
    qs = calib_queries(emb, n_sample, item_id="vec_id")
    gt = (
        exact_knn(qs, emb, k=k, item_id="vec_id")
        .select("query_id", "rank", "item_id")
        .cache()
    )
    gt.count()

    def _r(res) -> float:
        r = mean_recall(
            recall_at_k(gt, res.select("query_id", "rank", "item_id"), k=k)
        ).first().mean_recall
        return round(float(r), 4)

    corpus_path, cents = _get_or_build_ivf(spark, sf_dir)
    # the composed tables reuse the flat params
    enc_pq, pq_p = _flat_codes(spark, sf_dir, "pq")
    enc_sq, sq_p = _flat_codes(spark, sf_dir, "sq")
    enc_bq, bq_p = _flat_codes(spark, sf_dir, "bq")
    books, vmin, scale = pq_p["books"], sq_p["vmin"], sq_p["scale"]
    bsums, bn = bq_p["sums"], bq_p["n"]
    sq_c, pq_c, bq_c = (
        _get_or_build_codes(spark, sf_dir, f, ivf=True)[0]
        for f in ("sq", "pq", "bq")
    )
    gpath = _get_or_build_graph(spark, sf_dir)
    cgpath, gcents = _get_or_build_cell_graph(spark, sf_dir)
    mt_idx = _get_or_build_mtlsh_index(spark, sf_dir)
    ivf_b = _ivf_serving(spark, sf_dir, k=k)["n_probe"]
    pq_b = _flat_serving(spark, sf_dir, "pq", k=k)["shortlist"]
    sq_b = _flat_serving(spark, sf_dir, "sq", k=k)["shortlist"]
    bq_b = _flat_serving(spark, sf_dir, "bq", k=k)["shortlist"]
    ipq_b = _composed_serving(spark, sf_dir, "ivfpq", k=k)
    isq_b = _composed_serving(spark, sf_dir, "ivfsq", k=k)
    ibq_b = _composed_serving(spark, sf_dir, "ivfbq", k=k)
    lsh_b = _lsh_serving(spark, sf_dir, k=k)["n_probe_bits"]
    mt_b = _mtlsh_serving(spark, sf_dir, k=k)["n_probe_buckets"]

    fams = {
        "lsh_tuned": lambda: lsh_ann(
            qs, emb, k=k, n_probe_bits=lsh_b, item_id="vec_id"
        ),
        # a budget miss reroutes to the exact scan, as the entry does
        "mtlsh_tuned": lambda: exact_knn(
            qs, emb, k=k, item_id="vec_id"
        ) if mt_b is None else mt_lsh_ann_pruned(
            qs, spark, mt_idx, emb, k=k, n_probe_buckets=mt_b,
            item_id="vec_id",
        ),
        "ivf_tuned": lambda: ivf_ann_pruned(
            qs, spark, corpus_path, cents, k=k, n_probe=ivf_b,
            item_id="vec_id",
        ),
        "pq_tuned": lambda: pq_search_rerank(
            qs, emb, enc_pq, books, k=k, shortlist=pq_b, item_id="vec_id"
        ),
        "sq_tuned": lambda: sq_search_rerank(
            qs, emb, enc_sq, vmin, scale, k=k, shortlist=sq_b,
            item_id="vec_id",
        ),
        "bq_tuned": lambda: bq_search_rerank(
            qs, emb, bsums, bn, k=k, shortlist=bq_b, item_id="vec_id",
            encoded=enc_bq,
        ),
        "ivfsq_tuned": lambda: ivfsq_search(
            qs, spark, sq_c, corpus_path, cents, vmin, scale, k=k,
            n_probe=isq_b["n_probe"], shortlist=isq_b["shortlist"],
            item_id="vec_id",
        ),
        "ivfpq_tuned": lambda: ivfpq_search(
            qs, spark, pq_c, corpus_path, cents, books, k=k,
            n_probe=ipq_b["n_probe"], shortlist=ipq_b["shortlist"],
            item_id="vec_id",
        ),
        "ivfbq_tuned": lambda: ivfbq_search(
            qs, spark, bq_c, corpus_path, cents, bsums, bn, k=k,
            n_probe=ibq_b["n_probe"], shortlist=ibq_b["shortlist"],
            item_id="vec_id",
        ),
        "graph_nsw": lambda: graph_ann_pruned(qs, spark, gpath, k=k),
        "graph_ivf_tuned": lambda: graph_ann_cell_probed(
            qs, spark, cgpath, gcents, k=k, n_probe=ivf_b
        ),
    }
    out = {f: _r(th()) for f, th in fams.items()}
    gt.unpersist()
    return out


def drift_canary(spark, sf_dir: str) -> dict:
    """Falsifiable half of the close's EP13 drift gate (VERDICT r09 #2):
    the bench fixtures never upsert, so the gate that fails the close on
    retrain_recommended was structurally green every round — a gate that
    cannot fail is documentation. This runs BOTH controls through the
    SAME facade path every real artifact uses (drift baseline at build,
    O(batch) error accumulation on add):

    - negative control: an in-distribution batch must NOT fire,
    - positive control: a heavily shifted batch MUST fire.

    ``ok`` is False if either control misbehaves, and the close fails on
    it — so a silently broken trigger (or an over-eager one) trips the
    round, not just the unit suite. Tiny synthetic collection in a temp
    dir; never touches the bench artifacts."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.io import load_table
    from vectordb_acc_and_speed_exp_spark.operators.drift import (
        MIN_UPSERT_ROWS,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    base = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    )
    tmp = tempfile.mkdtemp(prefix="spark_graft_drift_canary_")
    try:
        vs = VectorStore(spark, tmp, dim=dim)
        vs.create_collection("canary", base)
        probe = [
            [float(x) for x in r.embedding] for r in emb.limit(1).collect()
        ]
        # build EVERY quantized family's artifact (each build writes its
        # drift baseline) BEFORE the in-distribution add, so the negative
        # control's facade add() routes through every family's drift
        # accumulator and the committed walk carries one LIVE row per
        # family with a write path (VERDICT r11 #6 — previously only
        # ivf + ivfbq had live rows; pq/sq/ivfsq/ivfpq were ratio=null
        # structure)
        for fam in ("ivfbq", "ivfpq", "ivfsq", "pq", "sq", "bq"):
            vs.query("canary", query_vecs=probe, k=5, mode=fam)
        indist = (
            emb.filter(
                (F.col("vec_id") >= 200)
                & (F.col("vec_id") < 200 + MIN_UPSERT_ROWS + 10)
            ).select(
                F.concat(F.lit("a"), F.col("vec_id").cast("string")).alias(
                    "id"
                ),
                "embedding",
            )
        )
        vs.add("canary", indist)
        st_neg = vs.drift_status("canary")
        # LIVE per-family rows (VERDICT r10 #2): the committed drift walk
        # below only sees the bench fixtures, which never upsert, so every
        # walk row had ratio=None/upsert_n=0 — structure, not evidence.
        # The canary's negative control IS a real facade upsert, so its
        # post-add family statuses (non-null ratio, upsert_n > 0, not
        # fired) are committed alongside the walk as live evidence that
        # production baselining works end-to-end.
        live = {
            fam: {
                "ratio": st.get("ratio"),
                "upsert_n": st.get("upsert_n"),
                "trigger_ratio": st.get("trigger_ratio"),
                "retrain_recommended": st.get("retrain_recommended"),
            }
            for fam, st in st_neg.get("families", {}).items()
            if st.get("ratio") is not None
        }
        drifted = emb.filter(F.col("vec_id") < MIN_UPSERT_ROWS + 30).select(
            F.concat(F.lit("d"), F.col("vec_id").cast("string")).alias("id"),
            F.transform(
                F.col("embedding"), lambda x: (x + F.lit(25.0)).cast("float")
            ).alias("embedding"),
        )
        vs.add("canary", drifted)
        st_pos = vs.drift_status("canary")
        neg_ok = not st_neg.get("retrain_recommended", True)
        pos_ok = bool(st_pos.get("retrain_recommended", False))
        return {
            "in_distribution": {
                "ratio": st_neg.get("ratio"),
                "fired": st_neg.get("retrain_recommended"),
            },
            "drifted": {
                "ratio": st_pos.get("ratio"),
                "fired": st_pos.get("retrain_recommended"),
            },
            "trigger_ratio": st_pos.get("trigger_ratio"),
            "ok": neg_ok and pos_ok,
            "live": live,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def compute_floor_recalls(spark, sf_dir: str) -> dict[str, float]:
    """Each family at its MATCHED floor budget — the budget an operator
    dials to meet the reference's recall on an unstructured corpus:
    cell-pruned families probe 8 of 16 cells (50% of directories — still
    a pruned scan), short-list families re-rank 400 candidates. The
    serving budgets in `compute_recalls` are the latency-priced points;
    these are the recall-priced points, and the close gate requires
    every family to clear the reference HNSW floor (0.70 @58k,
    BASELINE.md) HERE. On the synthetic corpus recall ≈ scan coverage
    (near-isotropic vectors — harder than the reference's clustered
    text embeddings), so serving-budget recall at 25% coverage sits in
    the 0.4-0.7 band by construction, not by regression; regressions at
    serving budgets are caught by the round-over-round comparison in
    close_round."""
    from vectordb_acc_and_speed_exp_spark.operators.ann import ivf_ann_pruned
    from vectordb_acc_and_speed_exp_spark.operators.bq import (
        bq_search_rerank,
        ivfbq_search,
    )
    from vectordb_acc_and_speed_exp_spark.operators.graphann import (
        graph_ann_cell_probed,
    )
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        ivfpq_search,
        pq_search_rerank,
    )
    from vectordb_acc_and_speed_exp_spark.operators.sq import ivfsq_search
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _flat_codes,
        _get_or_build_cell_graph,
        _get_or_build_codes,
        _get_or_build_ivf,
    )

    emb, qs, gt = _gt_and_queries(spark, sf_dir)
    out = {}

    cp, cents = _get_or_build_ivf(spark, sf_dir)
    out["ivf_8of16"] = _recall_of(
        gt, ivf_ann_pruned(qs, spark, cp, cents, k=10, n_probe=8, item_id="vec_id")
    )
    enc, pq_p = _flat_codes(spark, sf_dir, "pq")
    out["pq_short400"] = _recall_of(
        gt, pq_search_rerank(
            qs, emb, enc, pq_p["books"], k=10, shortlist=400, item_id="vec_id"
        )
    )
    enc, bq_p = _flat_codes(spark, sf_dir, "bq")
    out["bq_short400"] = _recall_of(
        gt, bq_search_rerank(
            qs, emb, bq_p["sums"], bq_p["n"], k=10, shortlist=400,
            item_id="vec_id", encoded=enc,
        )
    )
    codes_path, p = _get_or_build_codes(spark, sf_dir, "sq", ivf=True)
    out["ivfsq_8probe"] = _recall_of(
        gt,
        ivfsq_search(
            qs, spark, codes_path, cp, cents, p["vmin"], p["scale"],
            k=10, n_probe=8, shortlist=400, item_id="vec_id",
        ),
    )
    codes_path, p = _get_or_build_codes(spark, sf_dir, "pq", ivf=True)
    out["ivfpq_8probe"] = _recall_of(
        gt,
        ivfpq_search(
            qs, spark, codes_path, cp, cents, p["books"],
            k=10, n_probe=8, shortlist=400, item_id="vec_id",
        ),
    )
    codes_path, p = _get_or_build_codes(spark, sf_dir, "bq", ivf=True)
    out["ivfbq_8probe"] = _recall_of(
        gt,
        ivfbq_search(
            qs, spark, codes_path, cp, cents, p["sums"], p["n"],
            k=10, n_probe=8, shortlist=400, item_id="vec_id",
        ),
    )
    gpath, gcents = _get_or_build_cell_graph(spark, sf_dir)
    out["graph_ivf_8probe"] = _recall_of(
        gt, graph_ann_cell_probed(qs, spark, gpath, gcents, k=10, n_probe=8)
    )
    gt.unpersist()
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from vectordb_acc_and_speed_exp_spark.session import get_spark

    spark = get_spark("recall_report", cpus=cpus, shuffle_partitions=max(32, cpus))
    spark.sparkContext.setLogLevel("ERROR")

    recalls = compute_recalls(spark, sf_dir)
    recalls_calib = compute_recalls_calib(spark, sf_dir)
    recalls_calib_k25 = compute_recalls_calib_k25(spark, sf_dir)
    floors = compute_floor_recalls(spark, sf_dir)
    canary = drift_canary(spark, sf_dir)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
    round_no = (
        int(env_round)
        if env_round.isdigit()
        else len(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))) + 1
    )
    serving = {FAMILIES[n]: r for n, r in recalls.items()}
    # NAMING (VERDICT r11 #7): what the close GATES is families_calib
    # (the 32-query eval; close_round.py reads it + gate_input below) —
    # the 5-query column is informational (known ~0.10-0.14 low at
    # mid-curve budgets, EP14). The field previously named "gated"
    # carried the 5-query column, so the artifact's first reader
    # mis-inferred what gates; it is dual-written this round for
    # round-over-round continuity and dies in r13.
    informational_5q = dict(serving)
    # EP13 drift per maintained artifact (VERDICT r08 #5): every drift
    # baseline under the bench fixture root reports its ratio here, and
    # the close FAILS on any retrain_recommended — a silently-drifting
    # artifact trips the close before its recall does. (The fixtures are
    # rebuilt from a fingerprinted corpus, so ratios are None unless a
    # maintenance path upserted into them this round.)
    from vectordb_acc_and_speed_exp_spark.operators.drift import drift_status
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import _index_root

    root = _index_root(sf_dir)
    drift = {}
    for dirpath, _dirs, files in os.walk(root):
        if "_drift.json" in files:
            st = drift_status(dirpath)
            rel = os.path.relpath(dirpath, root)
            drift[rel if rel != "." else "ivf_root"] = {
                "ratio": st.get("ratio"),
                "upsert_n": st.get("upsert_n"),
                "trigger_ratio": st.get("trigger_ratio"),
                "retrain_recommended": st.get("retrain_recommended"),
            }
    # VERDICT r10 #2: the walk above covers fixtures that never upsert
    # (ratio=None by construction); the canary's in-distribution facade
    # add() contributes LIVE rows (upsert_n > 0, non-null ratio, must
    # not fire) so the committed artifact proves baselining works on a
    # real write path, not just that the files exist
    for fam, st in canary.get("live", {}).items():
        drift[f"live_upsert/{fam}"] = st

    from vectordb_acc_and_speed_exp_spark.operators.probetune import (
        CALIB_VERSION,
    )

    payload = {
        "metric": "ann_recall_at_10",
        "calib_version": CALIB_VERSION,
        "k": 10,
        "n_queries": 5,
        "gt": "exact_knn_l2",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "families": serving,
        "families_calib": recalls_calib,
        # served recall@25 at the same 32-query eval size, for the
        # three families the k-keying contract test covers (VERDICT r11
        # #3) — floor-gated by the close exactly like families_calib
        "families_calib_k25": recalls_calib_k25,
        # self-describing asymmetry note (VERDICT r12 #8): the two graph
        # families' k=25 rows are measured at the SHIPPED default beam
        # (their budget knob is ef, not a k-keyed sidecar), unlike the
        # nine budget-dialed families which serve fresh k=25-calibrated
        # budgets; graph_ivf's IVF stage does probe the k25-calibrated
        # n_probe.
        "families_calib_k25_beam": {
            "graph_nsw": "shipped",
            "graph_ivf_tuned": "shipped (ivf n_probe k25-calibrated)",
        },
        "n_queries_calib": 32,
        "floor_budget_families": floors,
        # what actually gates, by name (VERDICT r11 #7)
        "gate_input": "families_calib + families_calib_k25",
        "informational_5q": informational_5q,
        "entries": recalls,
        "drift": drift,
        "drift_canary": canary,
        # the reference's own HNSW degrades to ~0.70 at 58k docs
        # (BASELINE.md recall table) — the floor every family must beat
        # at matched budget
        "reference_hnsw_floor": 0.70,
        "min_family": min(informational_5q.values()),
    }
    for fname in (f"RECALL_r{round_no:02d}.json", "RECALL_latest.json"):
        try:
            with open(os.path.join(REPO, fname), "w") as fh:
                json.dump(payload, fh, indent=1)
        except OSError:
            pass
    print(json.dumps(payload))
    return 0


if __name__ == "__main__":
    sys.exit(main())
