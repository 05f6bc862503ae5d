"""``serve`` workload: read-only top-10 search through the VectorStore facade.

Set-up writes seeded unit vectors as one collection with
``create_collection``, issues one first ``query()`` per family, which builds
that family's artifact and measures its serving budget (the path a user
hits), then warm queries. The timed op is one ``query(query_vecs=[v], k=10)``
of a held-out vector, cycling exact -> graph: the scan and the graph class.
The hashing family (mtlsh) is left out: its first query alone (signatures
plus budget calibration, ~11 s) and its ~1.2 s op would halve the samples a
run's time allows.

Every answer is checked against a NumPy brute-force oracle over the stored
vectors: exact answers must equal the oracle's top-10 under the facade's
(dist, string id) order; ANN answers must hold 10 distinct collection ids
whose reported distances equal the true L2 within 1e-4.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

import inputs
import probe

FAMILIES = ("exact", "graph")
K = 10
DIST_TOL = 1e-4
SIZES = {
    # corpus rows, and checked warm cycles after the first query of every
    # family and a JVM GC; a fresh JVM's cycle time still falls over its
    # first several cycles
    "full": {"n_corpus": 4000, "warm": 4},
    "tiny": {"n_corpus": 400, "warm": 1},
}
N_QUERY_POOL = 512


class Serve:
    name = "serve"

    def __init__(self, spark, seed: int, size: str, workdir: str) -> None:
        self.spark, self.seed = spark, seed
        self.size = SIZES[size]
        self.root = os.path.join(workdir, "store")
        self.build_s: dict[str, float] = {}
        self.recalls: list[float] = []
        self.wrong_outside = 0

    # -- set-up ----------------------------------------------------------
    def setup_corpus(self) -> None:
        from vectordb_acc_and_speed_exp_spark.api import VectorStore

        corpus = inputs.corpus_vectors(self.seed, self.size["n_corpus"])
        docs = self.spark.createDataFrame(
            pd.DataFrame(
                {"id": [str(i) for i in range(len(corpus))], "embedding": list(corpus)}
            ),
            "id string, embedding array<float>",
        )
        self.store = VectorStore(self.spark, self.root, dim=inputs.DIM)
        self.store.create_collection(self.name, docs)
        # the oracle reads what the program stored, with no Spark job
        t = ds.dataset(os.path.join(self.root, self.name), format="parquet")
        t = t.to_table(columns=["id", "embedding"])
        self.ids = np.array(t.column("id").to_pylist(), dtype=object)
        self.pos = {i: j for j, i in enumerate(self.ids.tolist())}
        self.mat = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        if len(self.ids) != self.size["n_corpus"] or len(self.pos) != len(
            self.ids
        ):
            raise RuntimeError("serve corpus does not hold the expected rows")
        self.queries = inputs.query_vectors(self.seed, corpus, N_QUERY_POOL)

    def warm(self) -> None:
        """First query per family (artifact build + budget), a JVM GC, then
        warm cycles so the timed window starts with every cache filled.
        Warm answers are checked like the window's and count towards the
        recall; they use the far end of the query pool, which the window
        does not reach."""
        first = {}
        for fam in FAMILIES:
            t = time.perf_counter()
            self._query(fam, self.queries[-1])
            first[fam] = time.perf_counter() - t
        probe.request_gc(self.spark)
        warm = dict.fromkeys(FAMILIES, 0.0)
        for r in range(self.size["warm"]):
            for fam in FAMILIES:
                rec = self.op(N_QUERY_POOL - 2 - r, fam)
                self.wrong_outside += not rec["ok"]
                warm[fam] += rec["ms"] / 1000.0 / self.size["warm"]
        self.build_s = {fam: first[fam] - warm[fam] for fam in FAMILIES}

    # -- timed op ----------------------------------------------------------
    def kinds(self) -> tuple[str, ...]:
        return FAMILIES

    def _query(self, fam: str, v: np.ndarray):
        return self.store.query(
            self.name, query_vecs=[v.tolist()], k=K, mode=fam
        ).collect()

    def op(self, i: int, fam: str) -> dict:
        v = self.queries[i % N_QUERY_POOL]
        t0 = time.perf_counter()
        df = self.store.query(self.name, query_vecs=[v.tolist()], k=K, mode=fam)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        ok, recall = self.check(fam, v, rows)
        if ok and fam != "exact":
            self.recalls.append(recall)
        return {
            "ms": (t2 - t0) * 1000.0,
            "call_ms": (t1 - t0) * 1000.0,
            "ok": ok,
            "recall": recall,
        }

    def oracle(self, v: np.ndarray) -> tuple[list[str], np.ndarray]:
        d = np.sqrt(((self.mat - v.astype(np.float64)) ** 2).sum(axis=1))
        order = np.lexsort((self.ids, d))[:K]
        return self.ids[order].tolist(), d

    def check(self, fam: str, v: np.ndarray, rows) -> tuple[bool, float | None]:
        """(answer is valid, its recall@10 against the oracle)."""
        truth, d = self.oracle(v)
        got = [r.item_id for r in sorted(rows, key=lambda r: r.rank)]
        if len(got) != K or len(set(got)) != K or not set(got) <= self.pos.keys():
            return False, None
        for r in rows:
            if abs(r.dist - d[self.pos[r.item_id]]) > DIST_TOL:
                return False, None
        recall = len(set(got) & set(truth)) / K
        return (got == truth if fam == "exact" else True), recall

    def verify(self, ops) -> tuple[float, int, int]:
        """(mean recall@10 over every valid ANN answer of the warm cycles
        and the window, how many, invalid warm answers)."""
        return sum(self.recalls) / len(self.recalls), len(self.recalls), self.wrong_outside
