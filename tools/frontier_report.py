"""Per-family latency-vs-recall frontier (VERDICT r08 #8).

The repo measures both halves — latency in BENCH_DETAIL, recall in
RECALL_r{N} + the persisted calibration curves — but never in one
artifact. This emits (family, budget, latency_s, recall) rows for a
budget grid per ANN family at sf0.1: the reference's own
speed-vs-accuracy story (its two experiments), told across EVERY family
so the serving-budget defaults (queries/pipeline.py, 0.85 target) are an
evidenced point ON a curve, not a policy.

Measurement discipline: each point is the SERVED path (the same
operators the registry entries call) on the same fixed 5-query set the
recall gate uses; latency is one warm run per point (plans and artifacts
warmed by a throwaway first point per family), recall is vs the exact-L2
top-10 oracle. Host CPU-steal can inflate latencies ~20% wholesale
(BENCH_NOTES discipline) — the frontier's value is the SHAPE per family,
which steal shifts but does not reorder.

Usage:
    SPARK_GRAFT_ROUND=9 python tools/frontier_report.py   # sf0.1
Writes FRONTIER_r{N}.json at the repo root (+ FRONTIER_latest.json) and
a CSV twin under experiment_results/.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def _recall_of(gt_pairs: set, res) -> float:
    got = {(r.query_id, r.item_id) for r in res}
    return round(len(gt_pairs & got) / len(gt_pairs), 4)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

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
        DEFAULT_EF_SEARCH,
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
    from vectordb_acc_and_speed_exp_spark.session import get_spark

    spark = get_spark("frontier", cpus=cpus, shuffle_partitions=max(32, cpus))
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    gt = {
        (r.query_id, r.item_id)
        for r in exact_knn(qs, emb, k=10, item_id="vec_id")
        .select("query_id", "item_id").collect()
    }

    corpus_path, cents = _get_or_build_ivf(spark, sf_dir)
    # the composed tables reuse the flat params
    enc_pq, pq_p = _flat_codes(spark, sf_dir, "pq")
    enc_sq, sq_p = _flat_codes(spark, sf_dir, "sq")
    enc_bq, bq_p = _flat_codes(spark, sf_dir, "bq")
    books, vmin, scale = pq_p["books"], sq_p["vmin"], sq_p["scale"]
    bsums, bn = bq_p["sums"], bq_p["n"]
    sq_codes, pq_codes, bq_codes = (
        _get_or_build_codes(spark, sf_dir, f, ivf=True)[0]
        for f in ("sq", "pq", "bq")
    )
    gpath, gcents = _get_or_build_cell_graph(spark, sf_dir)
    plain_gpath = _get_or_build_graph(spark, sf_dir)
    mt_idx = _get_or_build_mtlsh_index(spark, sf_dir)

    # (family, budget-label, thunk) — the thunk runs the SERVED path
    n_cells = cents.count()
    points = []
    for p in (2, 4, 8, 12, 16):
        points.append((
            "ivf", f"n_probe={p}",
            lambda p=p: ivf_ann_pruned(
                qs, spark, corpus_path, cents, k=10, n_probe=p, item_id="vec_id"
            ),
        ))
    for s in (50, 100, 400, 1600):
        points.append((
            "pq", f"shortlist={s}",
            lambda s=s: pq_search_rerank(
                qs, emb, enc_pq, books, k=10, shortlist=s, item_id="vec_id"
            ),
        ))
    for s in (10, 50, 200):
        points.append((
            "sq", f"shortlist={s}",
            lambda s=s: sq_search_rerank(
                qs, emb, enc_sq, vmin, scale, k=10, shortlist=s, item_id="vec_id"
            ),
        ))
    for s in (50, 100, 400, 1600):
        points.append((
            "bq", f"shortlist={s}",
            lambda s=s: bq_search_rerank(
                qs, emb, bsums, bn, k=10, shortlist=s, item_id="vec_id",
                encoded=enc_bq,
            ),
        ))
    for p in (4, 8, 16):
        points.append((
            "ivfsq", f"n_probe={p},shortlist=400",
            lambda p=p: ivfsq_search(
                qs, spark, sq_codes, corpus_path, cents, vmin, scale,
                k=10, n_probe=p, shortlist=400, item_id="vec_id",
            ),
        ))
        points.append((
            "ivfpq", f"n_probe={p},shortlist=400",
            lambda p=p: ivfpq_search(
                qs, spark, pq_codes, corpus_path, cents, books,
                k=10, n_probe=p, shortlist=400, item_id="vec_id",
            ),
        ))
        points.append((
            "ivfbq", f"n_probe={p},shortlist=400",
            lambda p=p: ivfbq_search(
                qs, spark, bq_codes, corpus_path, cents, bsums, bn,
                k=10, n_probe=p, shortlist=400, item_id="vec_id",
            ),
        ))
        points.append((
            "graph_ivf", f"n_probe={p}",
            lambda p=p: graph_ann_cell_probed(
                qs, spark, gpath, gcents, k=10, n_probe=p
            ),
        ))
    # plain NSW beam sweep (VERDICT r09 #6 — the 11th family's rows):
    # the ef dial the facade's target_recall= resolves via a measured
    # ef sweep (api.VectorStore._curve(name, "graph", k))
    for ef in (16, 32, 48, 96):
        points.append((
            "graph", f"ef={ef}",
            lambda ef=ef: graph_ann_pruned(
                qs, spark, plain_gpath, k=10, ef_search=ef
            ),
        ))
    for b in (1, 2, 3):
        points.append((
            "lsh", f"probe_bits={b}",
            lambda b=b: lsh_ann(
                qs, emb, k=10, n_probe_bits=b, item_id="vec_id"
            ),
        ))
    for bud in (32, 64, 128, 256):
        points.append((
            "mtlsh", f"budget={bud}",
            lambda bud=bud: mt_lsh_ann_pruned(
                qs, spark, mt_idx, emb, k=10, n_probe_buckets=bud,
                item_id="vec_id",
            ),
        ))

    warmed: set[str] = set()
    rows = []
    for fam, label, thunk in points:
        if fam not in warmed:  # warm plans/artifacts untimed per family
            thunk().count()
            warmed.add(fam)
        t0 = time.perf_counter()
        res = thunk().select("query_id", "item_id").collect()
        secs = round(time.perf_counter() - t0, 4)
        rows.append({
            "family": fam, "budget": label,
            "latency_s": secs, "recall_at_10": _recall_of(gt, res),
        })
        print(f"{fam:10s} {label:24s} {secs:7.3f}s  recall {rows[-1]['recall_at_10']:.2f}",
              flush=True)

    # the chosen serving defaults, marked on the curves
    serving = {
        "ivf": _ivf_serving(spark, sf_dir),
        "pq": _flat_serving(spark, sf_dir, "pq"),
        "sq": _flat_serving(spark, sf_dir, "sq"),
        "bq": _flat_serving(spark, sf_dir, "bq"),
        "ivfpq": _composed_serving(spark, sf_dir, "ivfpq"),
        "ivfsq": _composed_serving(spark, sf_dir, "ivfsq"),
        "ivfbq": _composed_serving(spark, sf_dir, "ivfbq"),
        "lsh": _lsh_serving(spark, sf_dir),
        "mtlsh": _mtlsh_serving(spark, sf_dir),
        "graph": {"ef_search": DEFAULT_EF_SEARCH},
    }
    chosen = {
        f: {
            k: v for k, v in d.items()
            if k in ("n_probe", "shortlist", "n_probe_bits",
                     "n_probe_buckets", "target", "ef_search")
        }
        for f, d in serving.items()
    }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
    round_no = (
        int(env_round)
        if env_round.isdigit()
        else len(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))) + 1
    )
    payload = {
        "metric": "latency_recall_frontier",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "k": 10,
        "n_queries": 5,
        "n_cells": int(n_cells),
        "rows": rows,
        "serving_defaults": chosen,
    }
    for fname in (f"FRONTIER_r{round_no:02d}.json", "FRONTIER_latest.json"):
        with open(os.path.join(REPO, fname), "w") as fh:
            json.dump(payload, fh, indent=1)
    os.makedirs(os.path.join(REPO, "experiment_results"), exist_ok=True)
    with open(
        os.path.join(REPO, "experiment_results", f"frontier_r{round_no:02d}.csv"),
        "w",
    ) as fh:
        fh.write("family,budget,latency_s,recall_at_10\n")
        for r in rows:
            fh.write(
                f"{r['family']},\"{r['budget']}\",{r['latency_s']},{r['recall_at_10']}\n"
            )
    print(json.dumps({"metric": "frontier", "n_points": len(rows),
                      "out": f"FRONTIER_r{round_no:02d}.json"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
