"""Benchmark entry point (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Query set: the flagship vector surface (exact kNN both metrics, LSH ANN,
recall eval), the dedup family, text analysis, and the relational/event
analytics — the same operators the correctness gate checks, at 10x the data.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "knn_exact_l2",
    "knn_exact_cosine",
    "recall_cosine_vs_l2",
    "ann_lsh_topk",
    # embedding_neardup_bucketed is gate-checked (equality proof vs brute
    # force) but not benched: at threshold 0.4 on an isotropic corpus ~78%
    # of ALL pairs collide in >=1 of the 96 tables, so the bucketed path
    # can't prune — its value is the driver-free shape (no n x dim matrix
    # on the driver) and high-threshold dedup, not low-threshold speed.
    "mt_lsh_ann_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "graph_ann_topk",
    "graph_ivf_ann_topk",
    "ann_ivfpq_topk",
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_customer",
    "events_hourly",
    "events_sessions",
    "text_quality",
    "lang_profile",
    "dedup_exact",
    "minhash_lsh_dup_pairs",
    "dedup_clusters",
    "curated_corpus",
    "purchase_click_asof",
    "purchase_window_surge",
    "sequence_packing",
    "corpus_split",
    "simhash",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "snapshot_stats",
    "knn_snapshot_sweep",
    "value_stats_by_type",
    "sales_cube",
    "purchase_attribution",
    "events_json_props",
    "label_centroids",
    "embed_documents_fake",
    "char_ngram_stats",
    "repetition_profile",
    "pii_scrub",
    "decontaminate",
    "token_importance_weights",
    "domain_rebalanced_sample",
    "embedding_dim_stats",
    "ann_sq_topk",
    "ann_ivfsq_topk",
    "mmr_rerank_topk",
    "knn_filtered_exact",
    "ann_ivf_filtered",
    "bm25_topk",
    "hybrid_rrf",
    "radius_search",
    "parent_doc_retrieval",
    "rerank_cross_encoder",
    "corpus_version_diff",
    "events_salted_join",
    "knn_graph",
    "events_hourly_anomalies",
    "shipping_priority",
    "top_event_paths",
    "embedding_dedup_clusters",
    # round-4 additions (appended — earlier entries keep their order so
    # round-over-round deltas stay mechanical)
    "eval_contamination_cosine",
    "embed_documents_md5",
    "ann_bq_topk",
    "maxsim_multivector_topk",
    "paragraph_dedup",
    "duplicated_ngram_spans",
    "gopher_quality_filter",
    "ann_ivfbq_topk",
    "jaccard_prefix_pairs",
    # round-5 additions (appended — earlier entries keep their order)
    "large_volume_orders",
    "supplier_part_variety",
    "nation_pair_trade",
    "local_supplier_volume",
    "client_facade_knn",
    "subword_tokenize_counts",
    "streaming_heavy_hitters",
    "frame_sample_manifest",
    "bpe_top_merges",
    "retrieval_eval_metrics",
    "rm3_expanded_search",
    # round-7 additions (appended — earlier entries keep their order)
    "streaming_quantiles",
    "streaming_distinct_users",
    "filtered_auto_exact_branch",
    "layout_clustered_scan",
    # incremental cluster maintenance: timed entry IS the maintenance cost
    # (3-wave fold of the verified pair set into a fresh artifact); the
    # pair MINING is amortized by the dedup_clusters warm-up above
    "dedup_clusters_incremental",
    # round-8 additions (appended — earlier entries keep their order)
    # metadata-filtered BM25 from the postings artifact: survivor
    # semi-join + eligible-set stats via the doclens sidecar (no text scan)
    "bm25_filtered_topk",
    # round-9 additions (appended — earlier entries keep their order)
    # flat BQ at the MEASURED serving shortlist (ann_bq_topk pins 100 for
    # its hash oracle; this is the recall-gated serving twin)
    "ann_bq_tuned",
]


def steal_probe() -> float:
    """Seconds to run a fixed, deterministic, CPU-bound NumPy kernel
    (~0.3 s on a quiet box) — the steal reference (VERDICT r11 #1).

    The host VM suffers intermittent CPU steal that inflates WHOLE bench
    runs 20-45% while load-average stays near zero; steal common to every
    run of a close is invisible to cross-run comparisons (BENCH_NOTES
    round 11). This probe is interleaved between bench entries: its
    wall-clock on a quiet box is a committed constant
    (PROBE_BASELINE.json, tools/calibrate_probe.py), so
    ``probe_sec / baseline`` measures the box's slowdown DURING the
    adjacent entry, and ``raw * baseline / probe_sec`` is the entry's
    steal-normalized time — comparable across runs taken in different
    load windows.

    Kernel choice: argsort + cumsum over a fixed pseudo-random array —
    single-threaded in NumPy (no BLAS threading variance), branchy and
    memory-streaming like real query execution, deterministic input (a
    multiplicative bit-mix, no RNG state)."""
    import numpy as np

    n = 800_000
    a = (np.arange(n, dtype=np.uint64) * np.uint64(2654435761)) % np.uint64(
        1 << 32
    )
    x0 = a.astype(np.float64)
    # two IDENTICAL passes, each timed; report 2x the faster one: steal
    # only ever inflates a pass, so min-of-passes is the lower-variance
    # estimate of the box's current speed (quiet-box spread measured
    # ~±10% on single passes, ~±4% on min-of-two)
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        order = np.argsort(x0, kind="stable")
        x = np.cumsum(x0[order]) % 1.0e9
        _sink = float(x[-1])  # fold to a scalar: no dead-code elimination
        best = min(best, time.perf_counter() - t0)
    return 2.0 * best


def read_cpu_ticks(path: str = "/proc/stat") -> dict | None:
    """Aggregate ``cpu`` line of /proc/stat as
    ``{"steal": s, "busy": b, "total": t}`` ticks, or None when the file
    is absent/malformed (non-Linux, masked procfs).

    ``steal`` is the hypervisor's involuntary-wait counter — the DIRECT
    signal for the in-entry steal bursts the bracketing probes cannot
    see (VERDICT r12 #1: both rejected r12 runs were in-entry bursts at
    quiet brackets). Guest ticks are already included in user time on
    modern kernels, so only the first 8 fields are summed."""
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith("cpu "):
                    vals = [int(x) for x in line.split()[1:]]
                    break
            else:
                return None
        # user nice system idle iowait irq softirq steal
        vals = (vals + [0] * 8)[:8]
        total = sum(vals)
        idle = vals[3] + vals[4]
        return {"steal": vals[7], "busy": total - idle, "total": total}
    except (OSError, ValueError):
        return None


def read_tree_ticks(root_pid: int | None = None, proc: str = "/proc") -> int | None:
    """utime+stime ticks summed over ``root_pid`` and every LIVE
    descendant — for the bench process that tree is python + the Spark
    JVM + its Python workers, i.e. everything the bench itself is
    entitled to burn. ``busy - tree`` over a window is then CPU consumed
    by processes that are NOT the bench (in-sandbox contention: another
    driver, the session harness, daemons) — the complement of /proc/stat
    steal, which only counts hypervisor-level theft.

    Caveat (documented, clamped by the caller): a descendant that EXITS
    inside a window takes its accumulated ticks out of the after-snapshot,
    under-counting the tree and over-counting "other" — Spark workers are
    session-lived so this is noise, not bias, at bench granularity."""
    if root_pid is None:
        root_pid = os.getpid()
    try:
        procs: dict[int, tuple[int, int]] = {}
        for d in os.listdir(proc):
            if not d.isdigit():
                continue
            try:
                with open(os.path.join(proc, d, "stat")) as fh:
                    s = fh.read()
                # comm (field 2) may contain spaces/parens — parse from
                # the LAST ')' per proc(5)
                rp = s.rindex(")")
                fields = s[rp + 2 :].split()
                ppid = int(fields[1])  # field 4
                ticks = int(fields[11]) + int(fields[12])  # utime+stime
            except (OSError, ValueError, IndexError):
                continue  # pid exited between listdir and read
            procs[int(d)] = (ppid, ticks)
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        total = 0
        stack = [root_pid]
        seen = set()
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            if p in procs:
                total += procs[p][1]
            stack.extend(children.get(p, []))
        return total
    except OSError:
        return None


def cpu_snapshot(
    stat_path: str = "/proc/stat", proc: str = "/proc"
) -> tuple[dict | None, int | None]:
    """(aggregate cpu ticks, bench-tree ticks) — bracket a timed entry
    with two of these and feed them to cpu_window_fracs."""
    return read_cpu_ticks(stat_path), read_tree_ticks(proc=proc)


def cpu_window_fracs(
    before: tuple[dict | None, int | None],
    after: tuple[dict | None, int | None],
) -> dict | None:
    """{"steal_frac", "other_busy_frac"} over a snapshot window, or None
    when either snapshot failed.

    - ``steal_frac``: hypervisor steal ticks / total ticks — prices
      in-entry steal bursts directly (the probe sees only brackets).
    - ``other_busy_frac``: (busy - bench-tree) ticks / total ticks —
      in-sandbox contention (another process burning the box's CPUs
      DURING the entry). Quiet-box envelope is small but non-zero
      (session harness + daemons); close_round's bound is calibrated
      above it (BENCH_NOTES round-13).
    Both clamped to [0, 1]; exited-descendant under-count clamps at 0."""
    (c0, t0), (c1, t1) = before, after
    if not c0 or not c1 or t0 is None or t1 is None:
        return None
    dt = c1["total"] - c0["total"]
    if dt <= 0:
        return None
    steal = max(0, c1["steal"] - c0["steal"])
    busy = max(0, c1["busy"] - c0["busy"])
    tree = max(0, t1 - t0)
    return {
        "steal_frac": round(min(steal / dt, 1.0), 4),
        "other_busy_frac": round(min(max(busy - tree, 0) / dt, 1.0), 4),
    }


def _baseline_version(repo_dir: str) -> int | None:
    """Calibration version of the committed probe baseline (None when
    absent) — stamps every bench artifact so cross-version normalized
    comparisons are detectable (VERDICT r12 #5)."""
    try:
        with open(os.path.join(repo_dir, "PROBE_BASELINE.json")) as fh:
            return int(json.load(fh).get("version", 1))
    except (OSError, ValueError, TypeError, json.JSONDecodeError):
        return None


def read_probe_baseline(repo_dir: str) -> tuple[float | None, str]:
    """(baseline_sec, source). The committed quiet-box constant when
    PROBE_BASELINE.json exists; (None, "absent") otherwise — the caller
    falls back to the run's own minimum probe, which is blind to steal
    common to the whole run (exactly the documented hole the committed
    baseline exists to close)."""
    p = os.path.join(repo_dir, "PROBE_BASELINE.json")
    try:
        with open(p) as fh:
            return float(json.load(fh)["probe_sec"]), "PROBE_BASELINE.json"
    except (OSError, KeyError, ValueError, TypeError, json.JSONDecodeError):
        # TypeError: "probe_sec": null / list / dict (ADVICE r12) — degrade
        # to the documented "absent" fallback instead of crashing at startup
        return None, "absent"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from vectordb_acc_and_speed_exp_spark.queries import load_all
    from vectordb_acc_and_speed_exp_spark.session import (
        default_parallelism,
        get_spark,
    )

    # SPARK_GRAFT_CPUS, else this host's CPUs (nproc)
    cpus = default_parallelism()

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=max(32, cpus))
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    # Warm-up (reference B1), untimed but PRICED (VERDICT r12 #7): every
    # amortized one-time cost is itself recorded in the ``builds``
    # section of BENCH_DETAIL, so the amortization claim is a number and
    # a build regression is visible round-over-round. (Builds persisted
    # under the fingerprinted index cache cost near-zero here when warm —
    # the recorded second IS the marginal cost this run paid.)
    builds: dict[str, float] = {}

    def _build(name: str, thunk) -> None:
        t0 = time.perf_counter()
        thunk()
        builds[name] = round(time.perf_counter() - t0, 4)

    # JVM/codegen path AND a pandas-UDF query (Python worker + Arrow
    # spin-up costs ~2 s once per session and belongs to neither query),
    # plus the index builds so the search-only entries time search, not
    # a one-off build.
    _build("warm_codegen", lambda: registry["knn_exact_l2"].fn(spark, sf_dir).count())
    _build("warm_lsh", lambda: registry["ann_lsh_topk"].fn(spark, sf_dir).count())
    _build("ivf_index", lambda: registry["ivf_build_stats"].fn(spark, sf_dir).count())
    # cluster-table build amortized like the index builds: the timed
    # dedup_clusters entry measures the serving path (artifact read);
    # the one-time mining cost is EP-documented (BENCH_NOTES round 4)
    _build("dedup_clusters", lambda: registry["dedup_clusters"].fn(spark, sf_dir).count())
    # banded minhash signature artifact (round 13: the signature build is
    # amortized like the shingles it derives from; the timed entry pays
    # collision + verify only)
    from vectordb_acc_and_speed_exp_spark.queries.textops import (
        _get_or_build_minhash_bands,
        _get_or_build_ngram_plists,
    )

    _build(
        "minhash_bands",
        lambda: _get_or_build_minhash_bands(spark, sf_dir).count(),
    )
    _build(
        "ngram_plists",
        lambda: _get_or_build_ngram_plists(spark, sf_dir)[0].count(),
    )
    _build("pq_index", lambda: registry["pq_build_stats"].fn(spark, sf_dir).count())
    _build("graph_index", lambda: registry["graph_build_stats"].fn(spark, sf_dir).count())
    _build("graph_ivf_index", lambda: registry["graph_ivf_ann_topk"].fn(spark, sf_dir).count())
    _build("ivfpq_index", lambda: registry["ivfpq_build_stats"].fn(spark, sf_dir).count())
    # IVF-BQ build (cell-partitioned packed codes) amortized like the rest
    _build("ivfbq_index", lambda: registry["ann_ivfbq_topk"].fn(spark, sf_dir).count())
    # lexical postings build (round-6 artifact) amortized like the rest:
    # the timed bm25/hybrid/rm3/eval entries measure the pruned serving
    # scans; the one-time tokenize+tf build is EP-documented (EP9)
    _build("postings", lambda: registry["bm25_topk"].fn(spark, sf_dir).count())
    # chunk-grained postings build (round-12: parent_doc_retrieval now
    # serves from it instead of tokenizing every chunk per execution)
    # amortized identically
    _build("chunk_postings", lambda: registry["parent_doc_retrieval"].fn(spark, sf_dir).count())
    # serving-budget calibration (round 9: budgets are measured, not
    # guessed) amortized like the index builds — one pass per (corpus,
    # family), persisted beside the artifacts; the timed entries then do
    # a dict lookup
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _composed_serving,
        _flat_serving,
        _ivf_serving,
        _lsh_serving,
        _mtlsh_serving,
    )

    _build("serving_ivf", lambda: _ivf_serving(spark, sf_dir))
    _build("serving_lsh", lambda: _lsh_serving(spark, sf_dir))
    _build("serving_mtlsh", lambda: _mtlsh_serving(spark, sf_dir))
    for fam in ("pq", "sq", "bq"):
        _build(f"serving_{fam}", lambda fam=fam: _flat_serving(spark, sf_dir, fam))
    for fam in ("ivfpq", "ivfsq", "ivfbq"):
        _build(f"serving_{fam}", lambda fam=fam: _composed_serving(spark, sf_dir, fam))

    here = os.path.dirname(os.path.abspath(__file__))
    baseline, baseline_src = read_probe_baseline(here)
    steal_probe()  # untimed warm (page-cache/allocator effects)

    timings: dict[str, float] = {}
    probes: dict[str, float] = {}
    cpu_fracs: dict[str, dict] = {}
    # each entry's steal estimate is the MIN of its two BRACKETING
    # probes (the probe after entry i doubles as the probe before entry
    # i+1 — zero extra cost): a single slow probe sample then taints
    # neither neighbor unless both its brackets are slow, which cuts
    # the quiet-box per-entry ratio tail without weakening the signal
    # (real steal windows span many entries and slow both brackets).
    # The probes are complemented by per-entry /proc/stat tick windows
    # (VERDICT r12 #1): steal_frac prices hypervisor bursts INSIDE the
    # entry (invisible at quiet brackets), other_busy_frac prices
    # in-sandbox contention the same way.
    state = {"prev_probe": steal_probe()}

    def timed(name: str, thunk, clear_cache: bool = False) -> None:
        snap0 = cpu_snapshot()
        t0 = time.perf_counter()
        thunk()
        timings[name] = round(time.perf_counter() - t0, 4)
        fr = cpu_window_fracs(snap0, cpu_snapshot())
        if fr is not None:
            cpu_fracs[name] = fr
        if clear_cache:
            # each registry entry is self-contained: drop its internal
            # persists so 60+ queries' caches don't accumulate in the
            # single local-mode heap (clearing OUTSIDE the timed window)
            spark.catalog.clearCache()
        p = steal_probe()
        probes[name] = round(min(state["prev_probe"], p), 4)
        state["prev_probe"] = p

    for name in HEADLINE:
        fn = registry[name].fn
        timed(name, lambda fn=fn: fn(spark, sf_dir).count(), clear_cache=True)

    # Brute-force throughput at BASELINE-comparable corpus size: the
    # embeddings table replicated 50x (deterministic id offsets) -> ~100k
    # vectors; 5-query batch, top-10, both kernels. BASELINE.md's BF column
    # is 4014 ms/query at 58k x 768-dim single-node NumPy.
    import pyspark.sql.functions as F

    from vectordb_acc_and_speed_exp_spark.io import load_table
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.operators.simjoin import cosine_knn_join

    emb = load_table(spark, sf_dir, "embeddings")

    def _replicated(df, factor: int, eps: float = 2.0e-3):
        """``factor`` copies of every base vector, each perturbed by a
        tiny deterministic jitter (eps ~= 2% of the mean |coordinate|;
        sin of a fixed integer mix — no RNG state). The replicas are
        DISTINCT points clustered tightly around their base vector, so
        bucket/cell occupancy statistics at 100k/1M are real rather than
        50-500 bit-identical copies sharing one signature/cell — the
        honest corpus for pruned-path scaling claims (round 13; the
        pre-r13 entries replicated without jitter, BENCH_NOTES).

        Partitioning (guide §2, measured this round): the base table is
        ONE parquet file -> one scan partition, and explode preserves
        partitioning, so every replicated corpus previously sat in a
        single partition — the timed bf/bq/mtlsh scans ran on ONE core
        of the box (bf codegen profiled at 5.7 s with 31 cores idle).
        Spread to the session's parallelism (scale-adaptive: follows
        $SPARK_GRAFT_CPUS through local[N], or the cluster's default),
        never a hard-coded count."""
        out = (
            df.withColumn(
                "r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
            )
            .select(
                (F.col("vec_id") * factor + F.col("r")).alias("vec_id"),
                # cast back to float: the jitter arithmetic promotes the
                # base table's float elements to double, silently DOUBLING
                # every downstream scan/cache/shuffle byte of the 100k/1M
                # corpora (guide §2.3 "narrower types"); the corpus is the
                # source of truth (ground truth is computed FROM it), so
                # float storage is consistent, and eps=2e-3 jitter is 4
                # orders of magnitude above float precision
                F.transform(
                    F.col("embedding"),
                    lambda x, i: x
                    + F.lit(eps)
                    * F.sin(
                        F.col("vec_id") * F.lit(12.9898)
                        + F.col("r") * F.lit(78.233)
                        + i.cast("double") * F.lit(37.719)
                    ),
                ).cast("array<float>").alias("embedding"),
            )
        )
        return out.repartition(
            df.sparkSession.sparkContext.defaultParallelism
        )

    big = _replicated(emb, 50).cache()
    _build("replicated100k_corpus", big.count)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    _build(
        "warm_bf_blas",
        lambda: cosine_knn_join(qs, big, k=10, item_id="vec_id", metric="l2").count(),
    )
    timed(
        "bf_replicated100k_5q_blas",
        lambda: cosine_knn_join(qs, big, k=10, item_id="vec_id", metric="l2").count(),
    )
    timed(
        "bf_replicated100k_5q_codegen",
        lambda: exact_knn(qs, big, k=10, item_id="vec_id").count(),
    )

    # Compressed-scan twin at the same scale: 1-bit codes, codegen Hamming
    # shortlist + exact re-rank — the 32x-fewer-bytes answer to the same
    # 5-query batch (recall ~0.9 at 58k per EP5; exact work is BASELINE's
    # 4014 ms/query single-node).
    from vectordb_acc_and_speed_exp_spark.operators.bq import (
        bq_search_rerank,
        bq_train,
    )

    from vectordb_acc_and_speed_exp_spark.operators.bq import bq_encode

    bsums, bn = bq_train(big, item_vec="embedding", dim=64)
    # serving shape: the code table is a persisted per-corpus-version
    # artifact (16 B/row); encode is untimed like the other index builds
    bcodes = bq_encode(big, bsums, bn, item_id="vec_id").cache()
    _build("bq_codes_100k", bcodes.count)
    _build(
        "warm_bq_100k",
        lambda: bq_search_rerank(
            qs, big, bsums, bn, k=10, shortlist=100, item_id="vec_id",
            encoded=bcodes,
        ).count(),
    )
    timed(
        "bq_replicated100k_5q",
        lambda: bq_search_rerank(
            qs, big, bsums, bn, k=10, shortlist=100, item_id="vec_id",
            encoded=bcodes,
        ).count(),
    )
    bcodes.unpersist()

    # Disk-index serving path at the same 100k scale: write the multi-table
    # LSH index once (untimed build), then time the partition-pruned search
    # — the actual 100 TB query shape (ids-only index scan + candidate-only
    # vector re-rank).
    import shutil
    import tempfile

    from vectordb_acc_and_speed_exp_spark.operators.mtlsh import (
        mt_lsh_ann_pruned,
        write_mt_lsh_index,
    )

    idx_dir = tempfile.mkdtemp(prefix="bench_mtlsh_") + "/idx"
    _build(
        "mtlsh_index_100k",
        lambda: write_mt_lsh_index(
            big.select("vec_id", "embedding"), idx_dir, item_id="vec_id"
        ),
    )
    args = dict(k=10, n_probe_buckets=256, item_id="vec_id", item_vec="embedding")
    _build(
        "warm_mtlsh_100k",
        lambda: mt_lsh_ann_pruned(qs, spark, idx_dir, big, **args).count(),
    )
    timed(
        "mtlsh_pruned_100k_5q",
        lambda: mt_lsh_ann_pruned(qs, spark, idx_dir, big, **args).count(),
    )

    # ---- scale family (VERDICT r12 #2): committed serve-path entries at
    # ~1M vectors, with 100k twins built identically, so BENCH_DETAIL
    # pins the 100k -> 1M scaling ratio round-over-round (SCALE.md is
    # generated from these by close_round). All artifacts build ONCE
    # into a fingerprinted cache (warm runs pay ~0, the builds section
    # prices the cold cost); the timed entries measure only the pruned
    # serving scans. The untimed recall harness below pins quality
    # (payload["scale"]; close_round floor-gates it at 0.70).
    import numpy as np

    from vectordb_acc_and_speed_exp_spark.operators.ann import (
        ivf_assign_blas,
        kmeans_centroids,
        write_ivf_corpus,
    )
    from vectordb_acc_and_speed_exp_spark.operators.pq import (
        ivfpq_search,
        pq_train,
        write_ivfpq_codes,
    )
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _build_is_fresh,
        _index_root,
        _mark_built,
        _source_fingerprint,
    )

    n_base = emb.count()
    factor_1m = max(1, (1_000_000 + n_base - 1) // n_base)
    broot = os.path.join(_index_root(sf_dir), "bench_scale")
    # v3: replicated corpora are repartitioned to the session parallelism
    # (corpus_flat becomes N files instead of 1) — rebuild so the serve
    # scans read the parallel layout, not the old single-file one
    # v4: replica embeddings stored as array<float> (the jitter transform
    # had silently promoted them to double — 2x the bytes of every scan)
    fp = _source_fingerprint(sf_dir) + f"|x{factor_1m}|jit2e-3|v4"
    # n_cells grows ~sqrt(n) (the IVF sizing rule). n_probe is the
    # FILTERED width: at ~1% eligibility a query's true eligible
    # neighbors scatter far beyond its nearest cells, so the probe
    # widens with selectivity (the same physics api.py's filtered
    # chooser prices) — measured at the r13 sf0.1 build: 8/64 probes
    # read 0.58 recall at 100k, 24/64 reads 0.84 (coverage-limited:
    # shortlist 800 ≈ exact-over-probed moved it only to 0.86). pq_k is
    # the ADC precision, sized to the corpus: with k=16 codebooks the
    # 1M point read 0.64 at shortlist 200 and needed 1000 to reach 1.0
    # (PQ rank noise grows with the candidate pool); k=64 codebooks
    # reach 1.0 at shortlist 400 — precision is a BUILD-time cost, so
    # the serve-time shortlist stays flat at 10x data while the probed
    # fraction halves (37.5% -> 18.75%): the sublinear design under
    # test.
    scale_cfg = {
        "100k": {"factor": 50, "n_cells": 64, "n_probe": 24,
                 "shortlist": 400, "pq_k": 16},
        "1m": {"factor": factor_1m, "n_cells": 256, "n_probe": 48,
               "shortlist": 400, "pq_k": 64},
    }
    FILTER_PRED = "item_id % 100 = 0"  # ~1% eligible, uniform over cells

    def _materialize(tag: str) -> None:
        cfg = scale_cfg[tag]
        root = os.path.join(broot, tag)
        done = os.path.join(root, "._DONE")
        if _build_is_fresh(done, fp):
            return
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        src = big if cfg["factor"] == 50 else _replicated(emb, cfg["factor"])
        src.write.mode("overwrite").parquet(os.path.join(root, "corpus_flat"))
        corpus = spark.read.parquet(os.path.join(root, "corpus_flat"))
        n_total = n_base * cfg["factor"]
        cents = kmeans_centroids(
            corpus, cfg["n_cells"],
            sample_fraction=min(1.0, 50_000 / n_total),
        )
        cents.write.mode("overwrite").parquet(os.path.join(root, "centroids"))
        cents = spark.read.parquet(os.path.join(root, "centroids"))
        # BLAS assignment (no shuffle/expansion) + one-file-per-cell
        # layout: the shapes that survive 1M rows x 256 cells
        assigned = ivf_assign_blas(corpus, cents).repartition("cell")
        write_ivf_corpus(assigned, os.path.join(root, "ivf_corpus"))
        # codebooks train on the base table: same distribution, and at
        # 100 TB codebook quality saturates on a sample anyway; k is
        # sized to the corpus (see scale_cfg)
        books = pq_train(emb, m=8, k=cfg["pq_k"])
        np.save(os.path.join(root, "pq_books.npy"), books)
        write_ivfpq_codes(
            assigned, books, os.path.join(root, "pqcodes"), item_id="vec_id"
        )
        if tag == "1m":
            write_mt_lsh_index(
                corpus.select("vec_id", "embedding"),
                os.path.join(root, "mtlsh_idx"), item_id="vec_id",
            )
        # exact ground truth for the 5-query batch, full and filtered —
        # computed once at build time, read by every run's recall check
        cosine_knn_join(
            qs, corpus, k=10, item_id="vec_id", metric="l2"
        ).write.mode("overwrite").parquet(os.path.join(root, "gt_full"))
        cosine_knn_join(
            qs, corpus.filter("vec_id % 100 = 0"), k=10,
            item_id="vec_id", metric="l2",
        ).write.mode("overwrite").parquet(os.path.join(root, "gt_filtered"))
        _mark_built(done, fp)

    for tag in scale_cfg:
        _build(f"scale_{tag}_artifacts", lambda tag=tag: _materialize(tag))

    def _mean_recall_vs(gt_path: str, res_df) -> float:
        gt: dict = {}
        for r in spark.read.parquet(gt_path).collect():
            gt.setdefault(r.query_id, set()).add(r.item_id)
        got: dict = {}
        for r in res_df.select("query_id", "item_id").collect():
            got.setdefault(r.query_id, set()).add(r.item_id)
        return round(
            sum(
                len(ids & got.get(q, set())) / len(ids)
                for q, ids in gt.items()
            ) / max(len(gt), 1),
            4,
        )

    scale_info: dict = {"factor_1m": factor_1m, "filter": FILTER_PRED}
    for tag, cfg in scale_cfg.items():
        root = os.path.join(broot, tag)
        cents = spark.read.parquet(os.path.join(root, "centroids"))
        books = np.load(os.path.join(root, "pq_books.npy"))
        serve = lambda tag=tag, cfg=cfg, root=root, cents=cents, books=books: (
            ivfpq_search(
                qs, spark, os.path.join(root, "pqcodes"),
                os.path.join(root, "ivf_corpus"), cents, books,
                k=10, n_probe=cfg["n_probe"], shortlist=cfg["shortlist"],
                item_id="vec_id", predicate=FILTER_PRED,
                n_corpus=n_base * cfg["factor"],
            )
        )
        _build(f"warm_ivfpq_filtered_{tag}", lambda serve=serve: serve().count())
        timed(f"ivfpq_filtered_{tag}_5q", lambda serve=serve: serve().count())
        scale_info[f"ivfpq_filtered_{tag}_recall10"] = _mean_recall_vs(
            os.path.join(root, "gt_filtered"), serve()
        )
    root1m = os.path.join(broot, "1m")
    corpus_1m = spark.read.parquet(os.path.join(root1m, "corpus_flat"))
    mt_idx_1m = os.path.join(root1m, "mtlsh_idx")
    serve_mt = lambda: mt_lsh_ann_pruned(
        qs, spark, mt_idx_1m, corpus_1m, **args
    )
    _build("warm_mtlsh_1m", lambda: serve_mt().count())
    timed("mtlsh_pruned_1m_5q", lambda: serve_mt().count())
    scale_info["mtlsh_1m_recall10"] = _mean_recall_vs(
        os.path.join(root1m, "gt_full"), serve_mt()
    )
    # the 100k mtlsh twin's recall against its same-style ground truth
    # (the timed entry's exact serve path, index still on disk here)
    scale_info["mtlsh_100k_recall10"] = _mean_recall_vs(
        os.path.join(broot, "100k", "gt_full"),
        mt_lsh_ann_pruned(qs, spark, idx_dir, big, **args),
    )
    shutil.rmtree(os.path.dirname(idx_dir), ignore_errors=True)
    big.unpersist()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Steal normalization (VERDICT r11 #1): with a committed quiet-box
    # baseline, each entry's raw time is divided by the slowdown the
    # adjacent probe measured — steal common to every run of a close
    # (invisible to cross-run comparisons) shows up here as
    # probe_ratio > 1 and is divided OUT of the normalized values.
    # Without the committed file, fall back to this run's own minimum
    # probe (weaker: blind to whole-run steal; "source" says which).
    if baseline is None and probes:
        baseline = min(probes.values())
        baseline_src = "run-min"
    ratios = {
        n: round(p / baseline, 4) for n, p in probes.items()
    } if baseline else {}
    # Divisor clamped at 1.0 (ADVICE r12): a probe FASTER than the
    # committed baseline minimum (box quicker than at calibration) would
    # otherwise INFLATE the "steal-normalized" time above the raw
    # measurement — steal can only ever slow a run, so normalization only
    # ever removes slowdown.
    normalized = {
        n: round(t / max(ratios.get(n, 1.0), 1.0), 4)
        for n, t in timings.items()
    }
    import statistics

    payload = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "probe": {
            "baseline_sec": round(baseline, 4) if baseline else None,
            # baseline version (VERDICT r12 #5): normalized values are
            # comparable only within one calibration version
            "baseline_version": _baseline_version(here),
            "source": baseline_src,
            "per_entry_sec": probes,
            "per_entry_ratio": ratios,
            "median_ratio": (
                round(statistics.median(ratios.values()), 4)
                if ratios else None
            ),
            # per-entry /proc/stat tick windows (VERDICT r12 #1): the
            # probes bracket entries and miss bursts INSIDE them — these
            # price the inside directly. steal_frac = hypervisor steal;
            # other_busy_frac = in-sandbox CPU burned by processes
            # outside the bench's own tree. close_round rejects
            # individual bursty samples before its composite backstop.
            "per_entry_steal_frac": {
                n: fr["steal_frac"] for n, fr in cpu_fracs.items()
            },
            "per_entry_other_busy_frac": {
                n: fr["other_busy_frac"] for n, fr in cpu_fracs.items()
            },
        },
        # one-time amortized costs this run actually paid (VERDICT r12
        # #7): warm-cache builds record near-zero, cold builds record
        # their true wall cost — the amortization claim, as numbers
        "builds": builds,
        # scale-family recall harness (VERDICT r12 #2): quality of the
        # 100k/1M serve paths vs exact ground truth, untimed;
        # close_round floor-gates these at 0.70 and writes SCALE.md
        "scale": scale_info,
        "queries_normalized": normalized,
        "normalized_total": round(sum(normalized.values()), 4),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Self-contained artifact: the driver captures only a byte-bounded tail
    # of stdout, which head-truncated BENCH_r04's metric line (the first
    # three query entries were lost).  Write the full payload to
    # BENCH_DETAIL_r{N}.json alongside the printed line; round number =
    # next driver round, inferred the same way the registry rotation does.
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    # Round number: explicit SPARK_GRAFT_ROUND env wins (the unambiguous
    # path — set it when running by hand); fall back to counting
    # CORRECTNESS files, which is off by one depending on whether the
    # driver already wrote this round's file — so ALSO refresh a
    # fixed-name latest twin; consumers wanting "the most recent bench"
    # read that one unambiguously. (ADVICE round 5)
    env_round = os.environ.get("SPARK_GRAFT_ROUND", "")
    round_no = (
        int(env_round)
        if env_round.isdigit()
        else len(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))) + 1
    )
    detail = os.path.join(here, f"BENCH_DETAIL_r{round_no:02d}.json")
    try:
        with open(detail, "w") as fh:
            json.dump(payload, fh, indent=1)
        with open(os.path.join(here, "BENCH_DETAIL_latest.json"), "w") as fh:
            json.dump(payload, fh, indent=1)
    except OSError:
        pass  # read-only checkout: the printed line is still the contract
    # The driver records only a 2,000-char TAIL of stdout; a full 90+-entry
    # queries map is ~2.9k chars, so BENCH_r04..r07 recorded head-truncated
    # (unparseable) metric lines.  Print a line that is guaranteed to fit:
    # totals + a queries map filled in HEADLINE order only while the
    # serialized line stays under budget, plus n_queries and a pointer at
    # the detail file holding every entry.  (VERDICT r07 #1.)  The driver
    # contract needs per-query seconds in THIS line (it re-runs the bench
    # at a lower core count and compares per-query scaling), so the map
    # must carry every entry that fits — never fewer than previous rounds
    # (an r13 draft printed {} per the r12 blemish note; reverted because
    # the driver's per-query scaling measurement reads this line, and
    # emptying the map removes every existing entry from the contract).
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": "sec",
        # the steal-normalized headline (VERDICT r11 #1): what a quiet
        # box would have measured, per the interleaved probe kernel
        "normalized_total": payload["normalized_total"],
        "probe_median_ratio": payload["probe"]["median_ratio"],
        "queries": {},
        "n_queries": len(timings),
        "detail": os.path.basename(detail),
        "sf": payload["sf"],
    }
    budget = 1800  # < 2000-char tail, with margin for driver framing
    for name, secs in timings.items():
        compact["queries"][name] = secs
        if len(json.dumps(compact)) > budget:
            # over budget: drop THIS entry but keep scanning — a single
            # long name early in HEADLINE order must not truncate the
            # map when later, shorter entries still fit (ADVICE r13)
            del compact["queries"][name]
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
