"""The one search skeleton of the compressed families (bq / pq / sq).

Every flat and IVF search path of the three quantizers serves the same
rule:

    approximate scan → top-``shortlist`` by (adist, item_id)
    → broadcast_if_large(candidates, n_corpus) → exact L2
    → top-k by (dist, item_id)

A family contributes only its :class:`Scorer` — the approximate-distance
scan over its code table. pq and sq score inside a float64 NumPy kernel
(``mapInPandas``: ADC LUT gather / decode + gemm per Arrow batch, the
operators/simjoin.py pattern) with a per-batch partial top-``shortlist``;
bq scores in pure JVM codegen (``crossJoin`` + ``bit_count`` Hamming, no
Python in the scan). Everything else — the coarse-probe head of the IVF
layouts, the shortlist window, the broadcast gate, the exact re-rank and
the cell-partitioned code writes — lives here once.

The family table (``_quantizers``) and the code-table build
(``write_code_table`` / ``load_params``) live here too: the facade's
per-collection tables and the query registry's per-fixture tables are
built by the same encode → write → drift baseline → params commit.

The partial top-``shortlist`` a kernel batch emits keeps every row tied
with its last kept distance, so the global window sees a superset of the
true (adist, item_id) top-``shortlist`` and ties at the boundary break by
item_id exactly as the window orders them.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..io.relcache import read_layout


class Scorer(NamedTuple):
    """A family's approximate-distance scan.

    ``score(queries, codes, allowed=None, limit=None, keep=())`` takes
    (query_id, query_vec) queries and a code table carrying ``item_id``
    (and ``cell`` on the IVF layouts) and returns (query_id, item_id,
    <adist>, *keep). ``allowed`` maps each query_id to the cells it may
    see (strict IVF semantics); ``limit`` lets a scan drop rows that can
    never reach that rank (a hint — scans may ignore it). ``carry`` names
    scan columns every search result keeps (bq's ``hamming``)."""

    adist: str
    score: Callable[..., DataFrame]
    carry: tuple[str, ...] = ()


def kernel_scorer(
    adist: str,
    prep: Callable[[np.ndarray], object],
    sqdist: Callable[[object, pd.Series], np.ndarray],
) -> Scorer:
    """Scorer for the NumPy-kernel families: ``prep(Q)`` builds the
    per-query state once on the driver (broadcast with the query ids),
    ``sqdist(state, codes)`` returns one Arrow batch's (n_queries,
    n_rows) squared approximate distances; the scan emits their sqrt."""

    def score(queries, codes, allowed=None, limit=None, keep=()):
        qrows = queries.select("query_id", "query_vec").collect()
        qids = np.array([r.query_id for r in qrows])
        state = prep(np.array([r.query_vec for r in qrows], dtype=np.float64))
        allow = None if allowed is None else {
            q: np.array(cs) for q, cs in allowed.items()
        }
        b = queries.sparkSession.sparkContext.broadcast((qids, state, allow))

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qi, st, al = b.value
            for pdf in batches:
                if len(pdf) == 0 or len(qi) == 0:
                    continue
                D = np.sqrt(sqdist(st, pdf["codes"]))
                out_q, out_r, out_d = [], [], []
                for j, qid in enumerate(qi):
                    rows = (
                        np.arange(len(pdf)) if al is None else np.flatnonzero(
                            np.isin(pdf["cell"].to_numpy(), al.get(qid, ()))
                        )
                    )
                    d = D[j, rows]
                    if limit is not None and limit < len(d):
                        cut = d <= np.partition(d, limit - 1)[limit - 1]
                        rows, d = rows[cut], d[cut]
                    out_q.append(np.full(len(rows), qid))
                    out_r.append(rows)
                    out_d.append(d)
                r = np.concatenate(out_r)
                if len(r):
                    out = {"query_id": np.concatenate(out_q),
                           "item_id": pdf["item_id"].to_numpy()[r],
                           adist: np.concatenate(out_d)}
                    out.update({c: pdf[c].to_numpy()[r] for c in keep})
                    yield pd.DataFrame(out)

        t = dict(codes.dtypes)
        schema = ", ".join(
            [f"query_id {dict(queries.dtypes)['query_id']}",
             f"item_id {t['item_id']}", f"{adist} double"]
            + [f"{c} {t[c]}" for c in keep]
        )
        return codes.mapInPandas(scan, schema=schema)

    return Scorer(adist, score)


def std_queries(queries: DataFrame, query_id: str, query_vec: str) -> DataFrame:
    return queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("query_vec")
    )


def approx_topk(
    queries: DataFrame, codes: DataFrame, scorer: Scorer, k: int,
    query_id: str = "query_id", query_vec: str = "query_vec",
) -> DataFrame:
    """(query_id, rank, item_id, <adist>): the approximate ranking alone,
    no re-rank."""
    w = Window.partitionBy("query_id").orderBy(
        F.asc(scorer.adist), F.asc("item_id")
    )
    return (
        scorer.score(std_queries(queries, query_id, query_vec), codes, limit=k)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", scorer.adist)
    )


def shortlist_search(
    queries: DataFrame, codes: DataFrame, vecs: DataFrame, scorer: Scorer,
    k: int, shortlist: int, query_id: str = "query_id",
    query_vec: str = "query_vec", item_id: str = "item_id",
    item_vec: str = "embedding", n_corpus: int | None = None,
    allowed: dict | None = None, predicate: Column | str | None = None,
) -> DataFrame:
    """The skeleton: score ``codes``, keep each query's top-``shortlist``
    by (adist, item_id), re-rank those ids against ``vecs`` by exact L2,
    return (query_id, rank, item_id, dist, *scorer.carry) ranked 1..k by
    (dist, item_id).

    ``predicate`` (the vector-DB ``where=``) filters the code scan BEFORE
    scoring and the re-rank vectors — the shortlist is the top ELIGIBLE
    rows, never a post-filter. Both see the id column as ``item_id``.
    ``n_corpus`` gates the re-rank broadcast hint (operators/hints.py)."""
    from ..functions.vector import l2_dist
    from .hints import broadcast_if_large

    q = std_queries(queries, query_id, query_vec)
    carry = scorer.carry
    if predicate is not None:
        # survivors-only scoring: eligibility lands in the JVM scan, so
        # ineligible rows never reach a Python kernel
        codes = codes.filter(predicate)
    wsl = Window.partitionBy("query_id").orderBy(
        F.asc(scorer.adist), F.asc("item_id")
    )
    cand = (
        scorer.score(q, codes, allowed=allowed, limit=shortlist)
        .withColumn("_rn", F.row_number().over(wsl))
        .filter(F.col("_rn") <= shortlist)
        .select("query_id", "item_id", *carry)
    )
    vecs = vecs.select(
        F.col(item_id).alias("item_id"), F.col(item_vec).alias("_cvec")
    )
    if predicate is not None:
        vecs = vecs.filter(predicate)
    qv = q.select("query_id", F.col("query_vec").alias("_qvec"))
    scored = (
        # shortlist candidates are serving-bounded (queries x shortlist);
        # at large corpus sizes broadcast them so the exact re-rank is a
        # BroadcastHashJoin over the vector scan instead of a
        # SortMergeJoin that shuffles every corpus vector to attach a
        # tiny id list (guide §3.1/§8); at small sizes the planner
        # already broadcasts and forcing the computed subtree through a
        # driver collect costs a fixed roundtrip (VERDICT r13 #1)
        broadcast_if_large(cand, n_corpus).join(vecs, "item_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "item_id", *carry,
            l2_dist(F.col("_qvec"), F.col("_cvec")).alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "dist", *carry)
    )


def probe_cells(
    queries: DataFrame, centroids: DataFrame, n_probe: int
) -> tuple[list, dict]:
    """The IVF coarse-probe head: each (query_id, query_vec) query's
    ``n_probe`` nearest cells (centroid kNN, driver-resolved). Returns
    (sorted union of probed cells, {query_id: sorted cells})."""
    from .knn import exact_knn

    rows = exact_knn(
        queries, centroids, k=n_probe, item_id="cell", item_vec="centroid"
    ).select("query_id", F.col("item_id").alias("cell")).collect()
    allowed: dict = {}
    for r in rows:
        allowed.setdefault(r.query_id, []).append(r.cell)
    return (
        sorted({r.cell for r in rows}),
        {q: sorted(cs) for q, cs in allowed.items()},
    )


def ivf_shortlist_search(
    queries: DataFrame, spark, codes_path: str, corpus_path: str,
    centroids: DataFrame, scorer: Scorer, k: int, n_probe: int,
    shortlist: int, query_id: str = "query_id", query_vec: str = "query_vec",
    item_id: str = "item_id", item_vec: str = "embedding",
    predicate: Column | str | None = None, n_corpus: int | None = None,
) -> DataFrame:
    """The skeleton over a cell-partitioned layout: the probed cells
    become a ``cell IN (...)`` partition filter on BOTH the code scan and
    the re-rank vector fetch, and per-query cell lists keep strict IVF
    semantics (a row is scored only for queries that probed its cell).
    Full probe with shortlist >= corpus is exact k-NN."""
    q = std_queries(queries, query_id, query_vec)
    probed, allowed = probe_cells(q, centroids, n_probe)
    in_probed = F.col("cell").isin(probed)
    return shortlist_search(
        q, read_layout(spark, codes_path).filter(in_probed),
        read_layout(spark, corpus_path).filter(in_probed), scorer, k,
        shortlist, item_id=item_id, item_vec=item_vec, n_corpus=n_corpus,
        allowed=allowed, predicate=predicate,
    )


def write_ivf_codes(encoded: DataFrame, path: str) -> None:
    """Persist a code table (carrying ``cell``) partitioned by cell — the
    composed IVF layout: the coarse quantizer prunes directories, the
    fine quantizer shrinks the bytes scanned inside each one."""
    encoded.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_codes_upsert(
    spark, corpus_path: str, codes_path: str,
    encode: Callable[[DataFrame], DataFrame], cells: list[int],
) -> None:
    """Refresh a derived IVF code table for the given cells after the base
    IVF corpus was upserted: re-encode exactly those cells from the
    post-upsert corpus (partition-pruned scan) with the FROZEN quantizer
    (``encode`` passes ``cell`` through) and dynamic-partition-overwrite
    the matching code directories.

    Keeps the codes layout a pure function of the corpus layout — the
    exactly-once property of ivf_index_upsert extends to the compressed
    index, and a replayed batch converges to the same code bytes.
    Quantizer params intentionally do not move (re-training = offline
    rebuild, same contract as the centroids). Cost is f/n of a full
    re-encode for f touched cells."""
    if not cells:
        return
    from .ann import drop_empty_cell_dirs

    fresh = read_layout(spark, corpus_path).filter(F.col("cell").isin(list(cells)))
    (
        encode(fresh)
        .repartition("cell")
        # the encoders normalize the id column to "item_id" whatever the
        # caller's name is — sort by the post-rename name
        .sortWithinPartitions("item_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(codes_path)
    )
    present = {r.cell for r in fresh.select("cell").distinct().collect()}
    drop_empty_cell_dirs(codes_path, set(cells) - present)


# -- the family table ------------------------------------------------------
class _Quantizer(NamedTuple):
    """What a caller needs of one compressed family beyond the shared
    skeleton; ``params`` is a dict. Code tables key rows by an ``id``
    column (``item_id`` in the written codes).

    - ``fit(corpus, dim)`` trains the frozen params (pq's also takes
      ``sample_fraction``: its books may train on a seeded sample);
    - ``encode(df, params, passthrough=(), qerr=False)`` emits the codes,
      plus each row's reconstruction error as ``_qerr`` when ``qerr``;
    - ``baseline(corpus, params, dim)`` is the EP13 drift baseline
      (None = the in-sample mean of ``_qerr``);
    - ``to_meta(params)`` gives the JSON sidecar and the ``.npy`` array
      (or None), ``from_meta(meta, npy_path)`` reads them back;
    - ``can_recon(params)``: the params carry what ``_qerr`` needs;
    - ``qerr_in_codes``: the FLAT code table keeps the ``_qerr`` column.
    """

    fit: Callable
    encode: Callable
    to_meta: Callable
    from_meta: Callable
    scorer: Callable
    baseline: Callable | None = None
    can_recon: Callable = lambda p: True
    qerr_in_codes: bool = False


@functools.cache
def _quantizers() -> dict[str, _Quantizer]:
    """The bq / pq / sq family table. The family modules import lazily:
    the exact and graph routes never load them."""
    from . import bq, pq, sq

    def with_recon(encode, recon):
        # codegen families: the recon column rides the encode as a
        # passthrough, so one projection yields codes and error
        def enc(df, p, passthrough=(), qerr=False):
            if qerr:
                df = df.withColumn("_qerr", recon(F.col("embedding"), p))
                passthrough = (*passthrough, "_qerr")
            return encode(df, p, passthrough)

        return enc

    def bq_fit(corpus, dim):
        sums, n = bq.bq_train(corpus, item_vec="embedding", dim=dim)
        lo, hi = bq.bq_side_means(corpus, sums, n, item_vec="embedding")
        return {"sums": sums, "n": n, "lo": lo, "hi": hi}

    def pq_fit(corpus, dim, sample_fraction=None):
        return {"books": pq.pq_train(
            corpus, item_vec="embedding", m=8 if dim % 8 == 0 else 4, k=16,
            sample_fraction=sample_fraction,
        )}

    def sq_fit(corpus, dim):
        vmin, scale = sq.sq_train(corpus, item_vec="embedding", dim=dim)
        return {"vmin": vmin, "scale": scale}

    def floats(a):
        return [float(x) for x in a]

    def array_or_none(m, key):
        return np.array(m[key]) if key in m else None

    return {
        "bq": _Quantizer(
            fit=bq_fit,
            encode=with_recon(
                lambda df, p, pt: bq.bq_encode(
                    df, p["sums"], p["n"], item_id="id", passthrough=pt
                ),
                lambda v, p: bq.bq_recon_qerr(
                    v, p["sums"], p["n"], p["lo"], p["hi"]
                ),
            ),
            to_meta=lambda p: (
                {"sums": [int(x) for x in p["sums"]], "n": p["n"],
                 "lo": floats(p["lo"]), "hi": floats(p["hi"])},
                None,
            ),
            from_meta=lambda m, npy: {
                "sums": np.array(m["sums"], dtype=np.int64),
                "n": int(m["n"]),
                "lo": array_or_none(m, "lo"),
                "hi": array_or_none(m, "hi"),
            },
            scorer=lambda p: bq.bq_scorer(p["sums"], p["n"]),
            # sidecars written before the side means existed cannot
            # reconstruct, so they record no drift
            can_recon=lambda p: p["lo"] is not None,
        ),
        "pq": _Quantizer(
            fit=pq_fit,
            encode=lambda df, p, passthrough=(), qerr=False: pq.pq_encode(
                df, p["books"], item_id="id", passthrough=passthrough,
                keep_qerr="_qerr" if qerr else None,
            ),
            to_meta=lambda p: (
                {"m": len(p["books"]), "k": len(p["books"][0])}, p["books"]
            ),
            from_meta=lambda m, npy: {"books": np.load(npy)},
            scorer=lambda p: pq.pq_scorer(p["books"]),
            qerr_in_codes=True,
        ),
        "sq": _Quantizer(
            fit=sq_fit,
            encode=with_recon(
                lambda df, p, pt: sq.sq_encode(
                    df, p["vmin"], p["scale"], item_id="id", passthrough=pt
                ),
                lambda v, p: sq.sq_recon_qerr(v, p["vmin"], p["scale"]),
            ),
            to_meta=lambda p: (
                {"vmin": floats(p["vmin"]), "scale": floats(p["scale"])},
                None,
            ),
            from_meta=lambda m, npy: {
                "vmin": np.array(m["vmin"], dtype=np.float64),
                "scale": np.array(m["scale"], dtype=np.float64),
            },
            scorer=lambda p: sq.sq_scorer(p["vmin"], p["scale"]),
            # OUT-OF-SAMPLE baseline (sq_holdout_qerr): training rows
            # never clamp under params fit on exactly them, so an
            # in-sample baseline fires on in-distribution appends
            baseline=lambda corpus, p, dim: sq.sq_holdout_qerr(corpus, dim),
        ),
    }


def write_code_table(
    q: _Quantizer, p: dict, corpus: DataFrame, codes: str, meta: str,
    npy: str, drift_root: str, dim: int, ivf: bool = False,
) -> None:
    """Encode ``corpus`` (rows keyed by ``id``; ``cell`` on the IVF
    layout) under the frozen params ``p`` and write the code table —
    cell-partitioned when ``ivf`` — then its EP13 drift baseline at
    ``drift_root``, then the params sidecar ``meta`` (+ ``npy``). The
    meta is the commit point, written last: a table whose meta exists
    is complete."""
    from .drift import mean_coarse_qerr, write_drift_baseline

    keep_qerr = q.qerr_in_codes and not ivf
    enc = q.encode(corpus, p, ("cell",) if ivf else (), keep_qerr)
    if ivf:
        write_ivf_codes(enc, codes)
    else:
        enc.write.mode("overwrite").parquet(codes)
    if keep_qerr:  # the encode already measured every row
        base = mean_coarse_qerr(corpus.sparkSession.read.parquet(codes))
    elif q.baseline is not None:
        base = q.baseline(corpus, p, dim)
    else:
        base = mean_coarse_qerr(q.encode(corpus, p, (), True))
    write_drift_baseline(drift_root, *base)
    js, arr = q.to_meta(p)
    if arr is not None:
        np.save(npy, arr)
    with open(meta, "w") as f:
        json.dump(js, f)


def load_params(q: _Quantizer, meta: str, npy: str) -> dict:
    """The frozen params a ``write_code_table`` committed."""
    with open(meta) as f:
        return q.from_meta(json.load(f), npy)
