"""VectorStore serve contract on a tiny store: every vector mode of
query() returns the documented (query_id, rank, item_id, dist) columns; a
warm query runs a pinned number of Spark jobs, so an unused read or a
driver round trip cannot come back into the serve path unnoticed; and
get(), which serves the session-cached collection relation, sees every
write."""

from __future__ import annotations

import numpy as np
import pytest

from vectordb_acc_and_speed_exp_spark.api import VectorStore
from vectordb_acc_and_speed_exp_spark.io.local import local_df

DIM = 8
COLUMNS = ["query_id", "rank", "item_id", "dist"]
# explicit budgets: no calibration pass, so the test stays small
BUDGETS = {
    "exact": {}, "blas": {}, "lsh": {}, "graph": {},
    "bq": {"shortlist": 30}, "pq": {"shortlist": 30}, "sq": {"shortlist": 30},
    "ivfbq": {"shortlist": 30, "n_probe": 4},
    "ivfpq": {"shortlist": 30, "n_probe": 4},
    "ivfsq": {"shortlist": 30, "n_probe": 4},
}


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory):
    rng = np.random.default_rng(17)
    V = rng.standard_normal((160, DIM)).astype(np.float32)
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("contract")), dim=DIM)
    vs.create_collection(
        "t",
        local_df(
            spark, [(str(i), v.tolist()) for i, v in enumerate(V)],
            "id string, embedding array<float>",
        ),
    )
    return vs, [V[7].tolist(), (V[40] + 0.01).tolist()]


@pytest.mark.parametrize("mode", list(BUDGETS))
def test_query_returns_documented_columns(tiny, mode):
    vs, probes = tiny
    res = vs.query("t", query_vecs=probes, k=5, mode=mode, **BUDGETS[mode])
    assert res.columns == COLUMNS
    rows = res.collect()
    assert len(rows) == 2 * 5
    assert {r.item_id for r in rows if r.query_id == 0 and r.rank == 1} == {"7"}


# Spark jobs of one warm query(...).collect(), measured on this store:
# exact — the kNN plan's own jobs over the cached collection relation
# (was 4 when get() re-inferred the parquet schema on every call);
# graph — the one search task (was 6: schema inference, count() of the
# query batch, and the index scan + shuffle by shard).
WARM_JOBS = {"exact": 3, "graph": 1}


@pytest.mark.parametrize("mode", list(WARM_JOBS))
def test_warm_query_job_budget(spark, tiny, mode):
    vs, probes = tiny
    sc = spark.sparkContext
    vs.query("t", query_vecs=probes, k=5, mode=mode).collect()  # warm
    group = f"job-budget-{mode}"
    sc.setJobGroup(group, group)
    try:
        vs.query("t", query_vecs=probes, k=5, mode=mode).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == WARM_JOBS[mode], (mode, len(jobs))


def test_get_sees_every_write(spark, tmp_path):
    """get() reads through relcache.read_layout: each write path must
    change the collection's layout signature, so the next get() plans over
    the written files instead of a cached relation of the old ones."""
    from vectordb_acc_and_speed_exp_spark.io.relcache import layout_sig

    vs = VectorStore(spark, str(tmp_path / "fresh"), dim=DIM)

    def rows(ids):
        return local_df(
            spark, [(i, [float(len(i))] * DIM) for i in ids],
            "id string, embedding array<float>",
        )

    vs.create_collection("c", rows(["a", "b", "c"]))
    path = vs._path("c")
    steps = [
        (lambda: vs.add("c", rows(["d"])), {"a", "b", "c", "d"}),
        (lambda: vs.upsert("c", rows(["a", "e"])), {"a", "b", "c", "d", "e"}),
        (lambda: vs.delete("c", ids=["b"]), {"a", "c", "d", "e"}),
        (lambda: vs.delete("c", where="id = 'c'"), {"a", "d", "e"}),
        (lambda: vs.optimize("c"), {"a", "d", "e"}),
        (lambda: vs.create_collection("c", rows(["z"])), {"z"}),
    ]
    assert {r.id for r in vs.get("c").collect()} == {"a", "b", "c"}
    for write, want in steps:
        before = layout_sig(path)
        write()
        assert layout_sig(path) != before
        assert {r.id for r in vs.get("c").collect()} == want
        assert vs.count("c") == len(want)
