"""``curate`` workload: the LLM-data curation stages of the query registry.

Set-up writes a seeded ``documents`` table and runs every stage a few times;
the first round builds the corpus artifacts the stages share (shingles,
n-gram posting lists), the rest warm the JVM, the last after a full GC. The
timed op is one registered stage run to completion, cycling the two dedup
joins: the n-gram Jaccard self-join and the train/test n-gram
decontamination join. The cheap per-document stages (text_quality,
paragraph_dedup) are left out: their time is mostly Spark's per-query
planning, which the joins pay too. After the window, outside timing, each
stage's DuckDB oracle from the registry runs once and every op's output must
equal it as an order-insensitive multiset of normalized rows, the comparison
``tools/check_oracle.py`` makes.
"""

from __future__ import annotations

import os
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import probe

STAGES = ("ngram_jaccard_pairs", "decontaminate")
SIZES = {
    # documents, untimed rounds over every stage before the window
    "full": {"n_docs": 1000, "warm_rounds": 4},
    "tiny": {"n_docs": 120, "warm_rounds": 1},
}


def _canonical(rows, cols) -> tuple[tuple[str, ...], list[tuple]]:
    from tools.check_oracle import canon

    return tuple(sorted(cols)), canon(rows, list(cols))


class Curate:
    name = "curate"

    def __init__(self, spark, seed: int, size: str, workdir: str) -> None:
        self.spark, self.seed = spark, seed
        self.size = SIZES[size]
        self.sf_dir = os.path.join(workdir, "sf")

    def setup_corpus(self) -> None:
        from vectordb_acc_and_speed_exp_spark.queries import load_all

        os.makedirs(self.sf_dir)
        docs = inputs.documents(self.seed, self.size["n_docs"])
        pq.write_table(
            pa.Table.from_pandas(docs, preserve_index=False),
            os.path.join(self.sf_dir, "documents.parquet"),
        )
        registry = load_all()
        self.fns = {s: registry[s].fn for s in STAGES}
        self.oracles = {s: registry[s].oracle for s in STAGES}

    def warm(self) -> None:
        """Untimed rounds; a JVM GC before the last one."""
        for r in range(self.size["warm_rounds"]):
            if r == self.size["warm_rounds"] - 1:
                probe.request_gc(self.spark)
            for s in STAGES:
                self._run(s)

    def kinds(self) -> tuple[str, ...]:
        return STAGES

    def _run(self, stage: str):
        df = self.fns[stage](self.spark, self.sf_dir)
        rows = df.collect()
        # stages persist multi-consumer frames; drop them so cached data
        # never carries from one op into the next
        self.spark.catalog.clearCache()
        return df.columns, rows

    def op(self, i: int, stage: str) -> dict:
        t0 = time.perf_counter()
        cols, rows = self._run(stage)
        ms = (time.perf_counter() - t0) * 1000.0
        return {"ms": ms, "ok": True, "out": _canonical([tuple(r) for r in rows], cols)}

    def verify(self, ops) -> tuple[float, int, int]:
        """Runs each stage's DuckDB oracle once and marks every op whose
        output differs from it as failed. Returns (share of oracle rows
        present in the ops' outputs, ops checked, 0)."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(self.sf_dir, 'documents.parquet')}'"
            )
            want = {}
            for s in STAGES:
                rel = con.sql(self.oracles[s])
                want[s] = _canonical(rel.fetchall(), rel.columns)
        finally:
            con.close()
        found = total = checked = 0
        for o in ops:
            got = o.pop("out", None)
            if got is None:
                continue
            cols, rows = want[o["kind"]]
            checked += 1
            total += len(rows)
            o["ok"] = got == (cols, rows)
            if got[0] == cols:
                found += sum((Counter(got[1]) & Counter(rows)).values())
        return (found / total if total else 1.0), checked, 0
