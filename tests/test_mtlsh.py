"""Multi-table query-directed LSH (V3 high-recall path).

Evaluated the reference's way: recall vs the exact oracle (the reference's
HNSW holds recall@10 ~0.84 mean across collection sizes, BASELINE.md).
Floors sit just under values measured on the fixed (corpus, seed) pair —
the operator is fully deterministic, so these are regression floors, not
flaky statistical bounds.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from vectordb_acc_and_speed_exp_spark.operators import mtlsh
from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
from vectordb_acc_and_speed_exp_spark.operators.recall import mean_recall, recall_at_k


@pytest.fixture(scope="module")
def ground_truth(query_set, embeddings):
    return exact_knn(query_set, embeddings, k=10, item_id="vec_id").cache()


def _recall(gt, ann):
    return mean_recall(recall_at_k(gt, ann, k=10)).first().mean_recall


def test_auto_planes_tracks_corpus_size():
    assert mtlsh._auto_planes(500) == 6
    assert mtlsh._auto_planes(2000) == 8
    assert mtlsh._auto_planes(100_000) == 14
    assert mtlsh._auto_planes(10**9) == 16  # clamped
    assert mtlsh._auto_planes(0) == 4  # clamped low, no log(0)


def test_full_budget_is_exact(query_set, embeddings, ground_truth):
    """Probing every bucket of every table makes mt-LSH exact — the
    recall-1.0 metamorphic check (flip pool covers all b bits, budget
    covers all L * 2^b buckets)."""
    ann = mtlsh.multitable_lsh_ann(
        query_set,
        embeddings,
        k=10,
        n_planes=4,
        n_tables=8,
        n_probe_buckets=8 * 16,
        flip_pool=4,
        max_flips=4,
        item_id="vec_id",
        item_vec="embedding",
    )
    assert _recall(ground_truth, ann) == 1.0


def test_recall_floor_and_budget_monotonicity(query_set, embeddings, ground_truth):
    """Measured at 500 docs (auto b=6, L=32): 0.94 recall at budget 64
    (64% scanned), 1.00 at 128. Query-directed probing must dominate the
    single-table 3-bit multiprobe (0.88 at 66% scanned, test_ann.py)."""
    shallow = mtlsh.multitable_lsh_ann(
        query_set, embeddings, k=10, n_probe_buckets=64,
        item_id="vec_id", item_vec="embedding",
    )
    r64 = _recall(ground_truth, shallow)
    assert r64 >= 0.9, f"mt-LSH recall@10 (budget 64) too low: {r64}"
    deeper = mtlsh.multitable_lsh_ann(
        query_set, embeddings, k=10, n_probe_buckets=128,
        item_id="vec_id", item_vec="embedding",
    )
    r128 = _recall(ground_truth, deeper)
    assert r128 >= r64, "recall must not decrease with probe budget"


def test_self_match_survives_any_budget(query_set, embeddings):
    """Cost-0 probe is the query's own bucket in every table, so a query
    vector that exists in the corpus always finds itself at rank 1."""
    ann = mtlsh.multitable_lsh_ann(
        query_set, embeddings, k=10, n_probe_buckets=32,
        item_id="vec_id", item_vec="embedding",
    )
    top1 = {r.query_id: (r.item_id, r.dist) for r in ann.filter(F.col("rank") == 1).collect()}
    assert all(item == q and dist == 0.0 for q, (item, dist) in top1.items())


def test_candidates_grow_with_budget(query_set, embeddings):
    c64 = mtlsh.mt_lsh_candidates(
        query_set, embeddings, n_probe_buckets=64, item_id="vec_id", item_vec="embedding"
    )
    c128 = mtlsh.mt_lsh_candidates(
        query_set, embeddings, n_probe_buckets=128, item_id="vec_id", item_vec="embedding"
    )
    n64, n128 = c64.count(), c128.count()
    assert 0 < n64 <= n128
    # candidate ids are real corpus ids
    assert c64.join(embeddings, c64.item_id == embeddings.vec_id, "left_anti").count() == 0


def test_deterministic(query_set, embeddings):
    a = mtlsh.multitable_lsh_ann(
        query_set, embeddings, k=10, n_probe_buckets=64,
        item_id="vec_id", item_vec="embedding",
    ).collect()
    b = mtlsh.multitable_lsh_ann(
        query_set, embeddings, k=10, n_probe_buckets=64,
        item_id="vec_id", item_vec="embedding",
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pruned_storage_matches_inmemory(spark, query_set, embeddings, tmp_path):
    """Disk index (partitioned by table, bucket-sorted, meta sidecar) must
    return exactly the in-memory result, and the layout must really be
    partitioned so probes prune directories."""
    path = str(tmp_path / "mtlsh_idx")
    meta = mtlsh.write_mt_lsh_index(
        embeddings.select("vec_id", "embedding"), path, item_id="vec_id"
    )
    assert meta == mtlsh.read_mt_lsh_meta(path)
    assert meta["n_planes"] == 6 and meta["dim"] == 64  # auto-resolved

    mem = mtlsh.multitable_lsh_ann(
        query_set, embeddings, k=10, n_probe_buckets=64,
        item_id="vec_id", item_vec="embedding",
    )
    disk = mtlsh.mt_lsh_ann_pruned(
        query_set, spark, path, embeddings, k=10, n_probe_buckets=64,
        item_id="vec_id", item_vec="embedding",
    )
    assert sorted((r.query_id, r.rank, r.item_id) for r in mem.collect()) == sorted(
        (r.query_id, r.rank, r.item_id) for r in disk.collect()
    )
    assert len([d for d in os.listdir(path) if d.startswith("table=")]) == meta["n_tables"]


@pytest.mark.slow
def test_incremental_append_equals_full_rebuild(spark, query_set, embeddings, tmp_path):
    """Round-10 write contract (VERDICT r09 #1): the plane matrix is
    corpus-independent (seeded, regenerated from meta), so signatures
    appended with mt_lsh_signatures_upsert are bit-identical to the rows a
    full rebuild would compute — the incrementally grown index must return
    EXACTLY the rebuilt index's results at any budget, while the append
    itself touches O(batch) rows and leaves prior files untouched."""
    base = embeddings.select("vec_id", "embedding").filter(F.col("vec_id") < 300)
    rest1 = embeddings.select("vec_id", "embedding").filter(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 400)
    )
    rest2 = embeddings.select("vec_id", "embedding").filter(F.col("vec_id") >= 400)
    n_all = embeddings.count()

    inc = str(tmp_path / "inc_idx")
    meta = mtlsh.write_mt_lsh_index(base, inc, item_id="vec_id")
    t0 = os.path.join(inc, "table=0")
    before = {
        f: os.path.getmtime(os.path.join(t0, f))
        for f in os.listdir(t0) if f.endswith(".parquet")
    }
    mtlsh.mt_lsh_signatures_upsert(spark, inc, rest1, item_id="vec_id")
    mtlsh.mt_lsh_signatures_upsert(spark, inc, rest2, item_id="vec_id")
    after = {
        f: os.path.getmtime(os.path.join(t0, f))
        for f in os.listdir(t0) if f.endswith(".parquet")
    }
    # O(batch) pin: every pre-append file survives untouched; the two
    # appends only ADDED files
    for f, m in before.items():
        assert f in after and after[f] == m
    assert len(after) > len(before)
    m2 = mtlsh.read_mt_lsh_meta(inc)
    assert m2["gen"] == 2 and m2["n_corpus"] == 300  # build-time base

    # full rebuild at the SAME frozen plane count (n_corpus differs only
    # in bookkeeping — planes depend on (dim, n_planes, n_tables, seed))
    reb = str(tmp_path / "reb_idx")
    mtlsh.write_mt_lsh_index(
        embeddings.select("vec_id", "embedding"), reb,
        n_planes=meta["n_planes"], item_id="vec_id",
    )
    for budget in (32, 128):
        got_inc = mtlsh.mt_lsh_ann_pruned(
            query_set, spark, inc, embeddings, k=10,
            n_probe_buckets=budget, item_id="vec_id",
        )
        got_reb = mtlsh.mt_lsh_ann_pruned(
            query_set, spark, reb, embeddings, k=10,
            n_probe_buckets=budget, item_id="vec_id",
        )
        assert sorted(
            (r.query_id, r.rank, r.item_id) for r in got_inc.collect()
        ) == sorted(
            (r.query_id, r.rank, r.item_id) for r in got_reb.collect()
        ), budget

    # compaction rewrites every table dir, preserves the row set
    # (one gen per id here -- nothing superseded), restores one bucket-
    # sorted file per table, and the served results are unchanged
    n_rows_pre = spark.read.parquet(inc).count()
    assert n_rows_pre == n_all * meta["n_tables"]
    done = mtlsh.compact_mt_lsh_index(spark, inc)
    assert done == meta["n_tables"]
    assert spark.read.parquet(inc).count() == n_rows_pre
    got_post = mtlsh.mt_lsh_ann_pruned(
        query_set, spark, inc, embeddings, k=10,
        n_probe_buckets=64, item_id="vec_id",
    )
    got_reb64 = mtlsh.mt_lsh_ann_pruned(
        query_set, spark, reb, embeddings, k=10,
        n_probe_buckets=64, item_id="vec_id",
    )
    assert sorted(
        (r.query_id, r.rank, r.item_id) for r in got_post.collect()
    ) == sorted(
        (r.query_id, r.rank, r.item_id) for r in got_reb64.collect()
    )


def test_compact_keeps_live_bucket_on_gen_collision(spark, embeddings, tmp_path):
    """Crash path: a batch appends at gen g, the crash eats the meta bump,
    and the NEXT batch reuses g — so a replaced id can carry two distinct
    buckets at the same max gen. Compaction must keep a SUPERSET that
    includes the live vector's bucket in every table (stale rows cost scan
    bytes, never answers); a single-row tiebreak could drop the live
    bucket and open a recall hole."""
    import json

    base = embeddings.select("vec_id", "embedding").filter(F.col("vec_id") < 100)
    idx = str(tmp_path / "coll_idx")
    meta = mtlsh.write_mt_lsh_index(base, idx, item_id="vec_id")

    v1 = embeddings.filter(F.col("vec_id") == 200).select(
        F.lit(5000).cast("long").alias("vec_id"), "embedding"
    )
    v2 = embeddings.filter(F.col("vec_id") == 300).select(
        F.lit(5000).cast("long").alias("vec_id"), "embedding"
    )
    mtlsh.mt_lsh_signatures_upsert(spark, idx, v1, item_id="vec_id")
    # simulate the crash window: append landed, meta bump lost
    mp = os.path.join(idx, "_mtlsh_meta.json")
    with open(mp) as fh:
        m = json.load(fh)
    m["gen"] -= 1
    with open(mp, "w") as fh:
        json.dump(m, fh)
    mtlsh.mt_lsh_signatures_upsert(spark, idx, v2, item_id="vec_id")

    planes = mtlsh.mt_planes(
        meta["dim"], meta["n_planes"], meta["n_tables"], meta["seed"]
    )
    live = {
        (r.table, r.bucket)
        for r in mtlsh.corpus_signatures(
            v2, planes, meta["n_tables"], meta["n_planes"], item_id="vec_id"
        ).collect()
    }
    mtlsh.compact_mt_lsh_index(spark, idx)
    kept = {
        (r.table, r.bucket)
        for r in spark.read.parquet(idx)
        .filter(F.col("item_id") == 5000)
        .collect()
    }
    assert live <= kept  # every live bucket survives compaction


@pytest.mark.slow
def test_auto_compaction_bounds_read_amplification(
    spark, embeddings, tmp_path, monkeypatch
):
    """VERDICT r10 #6 done-criterion: WITHOUT any explicit optimize()
    call, read amplification across N facade add() batches stays bounded
    — past AUTO_COMPACT_APPENDS appends since the last compaction the
    next write compacts the mt-LSH index inline (one bucket-sorted file
    per table again, compacted_gen watermark stamped), and the flat code
    tables compact their codes dir past _CODES_AUTO_COMPACT_FILES files.
    Served results stay correct throughout (query returns k rows of
    current ids)."""
    from vectordb_acc_and_speed_exp_spark import api as api_mod
    from vectordb_acc_and_speed_exp_spark.api import VectorStore
    from vectordb_acc_and_speed_exp_spark.operators import mtlsh as mtl

    monkeypatch.setattr(mtl, "AUTO_COMPACT_APPENDS", 2)
    monkeypatch.setattr(api_mod.VectorStore, "_CODES_AUTO_COMPACT_FILES", 2)

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path / "autocomp"), dim=dim)
    vs.create_collection(
        "c",
        embeddings.filter(F.col("vec_id") < 200).select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    probe = [[float(x) for x in embeddings.limit(1).first().embedding]]
    # build both append-mode artifacts lazily
    assert vs.query("c", query_vecs=probe, k=5, mode="mtlsh").count() == 5
    assert vs.query("c", query_vecs=probe, k=5, mode="bq").count() == 5
    mtp = vs._mtlsh_path("c")
    bq_codes = os.path.join(vs._qpaths("c", "bq")[0], "codes")

    def n_files(d):
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    for i in range(3):
        lo, hi = 200 + i * 20, 200 + (i + 1) * 20
        vs.add(
            "c",
            embeddings.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ).select(F.col("vec_id").cast("string").alias("id"), "embedding"),
        )
        # bounded at every point in the walk, not just the end: the
        # thresholds are 2, so no table dir ever exceeds 3 files and the
        # codes dir never exceeds threshold + one fresh append
        assert n_files(os.path.join(mtp, "table=0")) <= 3
        assert n_files(bq_codes) <= 4

    meta = mtl.read_mt_lsh_meta(mtp)
    # at least one inline compaction ran: the watermark moved off 0 and
    # trails gen by less than the (patched) threshold
    assert meta.get("compacted_gen", 0) > 0
    assert meta["gen"] - meta["compacted_gen"] < 2
    # and the maintained artifacts still serve correct results
    res = vs.query("c", query_vecs=probe, k=5, mode="mtlsh").collect()
    assert len(res) == 5
    ids = {r.id for r in vs.get("c").select("id").collect()}
    assert all(r.item_id in ids for r in res)
    assert vs.query("c", query_vecs=probe, k=5, mode="bq").count() == 5


def test_query_probe_plan_matches_reference_loop():
    """The round-14 vectorized probe-plan enumeration must be
    BIT-identical (same tuples, same float cost bits, same order) to the
    per-(table, flip-set) python loop it replaced — including the
    (cost, table, bid) sort order and the budget truncation point."""
    import itertools

    import numpy as np

    def reference(qids, qvecs, planes, n_tables, n_planes, budget,
                  flip_pool=10, max_flips=5):
        pw = 1 << np.arange(n_planes)
        flip_pool = min(flip_pool, n_planes)
        max_flips = min(max_flips, flip_pool)
        flip_sets = [
            list(s)
            for r in range(0, max_flips + 1)
            for s in itertools.combinations(range(flip_pool), r)
        ]
        rows = []
        for qid, qv in zip(qids, qvecs):
            proj = qv @ planes.T
            per_q = []
            for t in range(n_tables):
                m = np.abs(proj[t * n_planes : (t + 1) * n_planes])
                bits = proj[t * n_planes : (t + 1) * n_planes] >= 0
                base = int(bits @ pw)
                order = np.argsort(m, kind="stable")[:flip_pool]
                ms = m[order]
                for S in flip_sets:
                    bid = base
                    for i in S:
                        bid ^= int(pw[order[i]])
                    per_q.append((float(ms[S].sum()) if S else 0.0, t, bid))
            per_q.sort()
            rows.extend(
                (qid, t, bid, cost) for cost, t, bid in per_q[:budget]
            )
        return rows

    rng = np.random.default_rng(7)
    for L, b, nq, budget, fp, mf in [
        (32, 4, 5, 256, 10, 5),   # the sf0.1 serving shape
        (32, 14, 5, 256, 10, 5),  # the 1M-scale shape (wide buckets)
        (8, 4, 3, 64, 4, 4),      # pool == planes (full flip cover)
        (16, 8, 1, 1, 10, 5),     # budget 1: truncation at the tie edge
    ]:
        planes = mtlsh.mt_planes(64, b, L, 42)
        qv = rng.normal(size=(nq, 64))
        a = reference(list(range(nq)), qv, planes, L, b, budget, fp, mf)
        c = mtlsh.query_probe_plan(
            list(range(nq)), qv, planes, L, b, budget,
            flip_pool=fp, max_flips=mf,
        )
        assert len(a) == len(c)
        for x, y in zip(a, c):
            assert x[:3] == y[:3]
            # float bit equality, not approx — the probe order must be
            # reproducible against the loop to the bit
            import struct
            assert struct.pack("<d", x[3]) == struct.pack("<d", y[3])


def test_query_probe_plan_refuses_more_than_8_flips():
    """The bit-identity argument above holds only up to 8 simultaneous
    flips; past it the enumeration refuses instead of drifting."""
    import numpy as np

    planes = mtlsh.mt_planes(64, 12, 2, 42)
    qv = np.random.default_rng(3).normal(size=(1, 64))
    assert mtlsh.query_probe_plan(
        [0], qv, planes, 2, 12, 4, flip_pool=10, max_flips=8
    )
    with pytest.raises(ValueError, match="max_flips=9"):
        mtlsh.query_probe_plan(
            [0], qv, planes, 2, 12, 4, flip_pool=10, max_flips=9
        )


def test_fresh_index_bucket_range_slices_disjoint_and_serve_equal(
    spark, embeddings, query_set, tmp_path
):
    """Round-14 layout: the fresh write range-partitions on (table,
    bucket) so each file in a table dir owns a disjoint bucket range
    (the invariant compact_mt_lsh_index restores) — row-group/file
    min/max pruning works from the first write. Force multiple slices
    per table with a tiny target size, assert per-file bucket ranges
    are disjoint within each table dir, and the served results equal
    the single-slice layout's."""
    import os

    base = embeddings.filter(F.col("vec_id") < 300).select(
        "vec_id", "embedding"
    )
    multi = str(tmp_path / "idx_multi")
    single = str(tmp_path / "idx_single")
    mtlsh.write_mt_lsh_index(
        base, multi, n_planes=4, n_tables=4, item_id="vec_id",
        target_slice_bytes=4_000,  # forces many range slices
    )
    mtlsh.write_mt_lsh_index(
        base, single, n_planes=4, n_tables=4, item_id="vec_id",
    )
    # at least one table dir carries >1 file, and within every table dir
    # the per-file [min, max] bucket ranges do not overlap
    multi_seen = False
    for t in range(4):
        d = os.path.join(multi, f"table={t}")
        files = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
        if len(files) > 1:
            multi_seen = True
        ranges = []
        for f in files:
            row = spark.read.parquet(f).agg(
                F.min("bucket"), F.max("bucket")
            ).first()
            if row[0] is not None:
                ranges.append((row[0], row[1]))
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"overlapping bucket ranges in table={t}"
    assert multi_seen, "tiny target_slice_bytes produced no multi-file table"
    a = mtlsh.mt_lsh_ann_pruned(
        query_set, spark, multi, base, k=5, n_probe_buckets=32,
        item_id="vec_id",
    ).collect()
    b = mtlsh.mt_lsh_ann_pruned(
        query_set, spark, single, base, k=5, n_probe_buckets=32,
        item_id="vec_id",
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
