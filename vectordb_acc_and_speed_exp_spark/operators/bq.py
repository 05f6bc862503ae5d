"""Binary quantization (BQ) — 1-bit-per-dimension compressed search.

The most aggressive compression point in the raw → SQ8 → PQ → BQ ladder:
each dimension collapses to its sign against a per-dimension threshold (the
corpus mean), so a 64-dim float32 vector (256 B) becomes 8 bytes — a 32×
smaller scan. Production engines ship exactly this shape (Qdrant/Weaviate
binary quantization, FAISS `IndexBinaryFlat` + refine): Hamming-distance
shortlist over packed bit codes, then an exact re-rank of the shortlist
against the raw vectors.

What makes BQ special in THIS engine: the entire production path is
hash-oracle-able, not just a full-fidelity degeneration. Thresholding,
packing, Hamming, and the re-rank are all exact-integer or
id-tie-broken-deterministic, so the `ann_bq_topk` gate entry compares the
REAL approximate query bit-for-bit against DuckDB replaying the same
arithmetic — the only ANN family whose fast path (not merely its
degeneration) is provably identical across engines.

Determinism contract (the repo-wide exact-grid trick):
- scores are computed on ``s_i = CAST(round(x_i * 1e6) AS BIGINT)`` — the
  scaled-integer grid used by embedding_dim_stats et al.;
- the per-dim threshold is the corpus mean ON THE GRID, compared without
  division: bit set iff ``s_i * n > sum_d`` (both exact BIGINTs, so
  shuffle/summation order can never flip a boundary bit);
- codes pack dims 1..32 into ``code_lo`` and 33..64 into ``code_hi`` (two
  non-negative BIGINTs — avoids the sign bit of a single 64-bit word so the
  same literals work in Spark and DuckDB without overflow games);
- Hamming = ``bit_count(xor(lo,lo')) + bit_count(xor(hi,hi'))`` — JVM-side
  codegen in Spark, identical builtins in DuckDB.

Scale shape (100 TB): the train pass is one map-side-combined aggregate of
64 BIGINT sums (nothing but 64 longs crosses the wire); encode is a pure
codegen projection (8 B/row output — the whole 100 TB corpus compresses to
~3 GB of codes per billion rows, small enough to cache in RAM across the
cluster); the scan is shuffle-free with a per-query partial top-k, and the
re-rank touches only ``shortlist`` rows per query.

Reference anchor: this extends chromadb_acc_experiment.py:508-537 (exact
L2 oracle + recall harness) with the compressed-scan family the reference
delegates to hnswlib; see also EP5_COMPRESSION.md for where BQ sits on the
bytes/recall curve vs SQ8 and PQ.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quantized import (
    Scorer,
    ivf_codes_upsert,
    ivf_shortlist_search,
    shortlist_search,
    write_ivf_codes,
)

GRID = 1_000_000  # the repo-wide exact-int grid (1e-6 resolution)


def _scaled(v: Column) -> Column:
    """array<bigint> of round(x * 1e6) — exact grid, order-independent."""
    return F.transform(
        v.cast("array<double>"),
        lambda x: F.round(x * F.lit(float(GRID))).cast("bigint"),
    )


def bq_train(
    corpus: DataFrame,
    item_vec: str = "embedding",
    dim: int | None = None,
) -> tuple[np.ndarray, int]:
    """Per-dimension scaled-int sums + row count (the mean threshold in
    exact-comparison form: bit_d(x) = [s_d(x) * n > sums_d]).

    ONE aggregate job of 64 codegen SUM expressions over the scaled array —
    map-side partial aggregation; only 64 longs + a count reach the driver.
    """
    if dim is None:
        head = corpus.select(item_vec).first()
        if head is None or head[0] is None:
            raise ValueError(
                "bq_train: corpus is empty or its first vector is NULL"
            )
        dim = len(head[0])
    if not 2 <= dim <= 64 or dim % 2:
        raise ValueError(
            f"bq_train: dim={dim} unsupported — codes pack into two 32-bit "
            "words, so dim must be even and <= 64 (wider embeddings need "
            "more words; see bq_encode)"
        )
    # posexplode + groupBy(pos) instead of a 64-expression-wide aggregate:
    # the wide form is semantically identical but generates a codegen unit
    # whose compile time dwarfs the scan (measured 2.7 s vs 0.4 s at sf0.1);
    # the explode shape is one narrow map-side-combined shuffle of 64 longs
    # per partition — the same plan bq_build_stats uses.
    rows = (
        corpus.select(F.posexplode(_scaled(F.col(item_vec))).alias("pos", "s"))
        .groupBy("pos")
        .agg(
            F.sum("s").alias("sum_s"),
            # count("s") not count(*): a NULL array element would be skipped
            # by sum but counted by count(*), silently biasing the mean —
            # counting non-null s makes the ragged check below catch it
            F.count("s").alias("n"),
            F.max(F.abs(F.col("s"))).alias("max_abs_s"),
        )
        .collect()
    )
    by_pos = {r.pos: r for r in rows}
    if len(by_pos) < dim:
        raise ValueError(
            f"bq_train: corpus is empty or vectors are shorter than dim={dim}"
        )
    # ragged / wider-than-dim corpora give per-dim sums that cover fewer
    # rows than the n used in the encode compare s_i*n > sum_d — refuse
    # rather than silently bias the thresholds
    if max(by_pos) >= dim:
        raise ValueError(
            f"bq_train: corpus has vectors wider than dim={dim} "
            f"(saw position {max(by_pos)}) — pass the true dim or slice"
        )
    # positions can be individually absent even when len(by_pos) == dim is
    # impossible to falsify by count alone (e.g. mixed shorter+wider
    # corpora); check membership explicitly so the ragged loop below can
    # never raise a bare KeyError instead of the diagnostic
    missing = set(range(dim)) - by_pos.keys()
    if missing:
        raise ValueError(
            f"bq_train: corpus is empty or vectors are shorter than "
            f"dim={dim} (no values at positions {sorted(missing)[:8]})"
        )
    n0 = int(by_pos[0].n)
    ragged = {i: int(by_pos[i].n) for i in range(dim) if int(by_pos[i].n) != n0}
    if ragged:
        raise ValueError(
            f"bq_train: ragged corpus — per-dim row counts differ from "
            f"n={n0} at positions {sorted(ragged)[:8]} (NULL elements or "
            "heterogeneous vector lengths)"
        )
    # true overflow bound for the encode compare: the largest |s_i| observed
    # anywhere times n must fit BIGINT, else non-ANSI Spark wraps silently
    # and flips code bits (bq_encode's heuristic guard only covers ~100x
    # the mean magnitude)
    max_abs = max(int(by_pos[i].max_abs_s) for i in range(dim))
    if max_abs * n0 > (1 << 62):
        raise ValueError(
            f"bq_train: max|s_i|*n = {max_abs}*{n0} exceeds 2^62 — the "
            "encode compare s_i*n > sum_d would overflow BIGINT; rescale "
            "the embeddings or shrink the grid"
        )
    return (
        np.array([by_pos[i].sum_s for i in range(dim)], dtype=np.int64),
        n0,
    )


def bq_encode(
    df: DataFrame,
    sums: np.ndarray,
    n: int,
    item_id: str = "item_id",
    item_vec: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(item_id, code_lo, code_hi[, passthrough...]) — pure codegen HOFs.

    bit i set iff scaled[i] * n > sums[i] (exact BIGINT compare — no FP
    boundary anywhere). dims 1..32 → code_lo, 33..64 → code_hi, bit (i-1)
    resp. (i-33).

    Range contract (checked): dim must be even and <= 64 (the two-word
    layout; a 384-dim SBERT corpus needs 12 words — extend the pack list
    before lifting this). The threshold product ``s_i * n`` must fit
    BIGINT: with |x| <= 10 (|s_i| <= 1e8) that bounds n at ~9e10 rows; a
    guard raises instead of letting non-ANSI Spark wrap negative and
    silently flip bits.
    """
    dim = len(sums)
    if not 2 <= dim <= 64 or dim % 2:
        raise ValueError(
            f"bq_encode: dim={dim} unsupported — the packed layout is two "
            "32-bit words (dim even, <= 64)"
        )
    # |s_i| is unknown here without a data pass, but |sums_d| >= the mean
    # magnitude; bound the product with the observed threshold scale plus
    # two orders of headroom for outlier elements.
    worst = (int(np.max(np.abs(sums))) // max(n, 1) + 1) * 100
    if worst * n > (1 << 62):
        raise ValueError(
            "bq_encode: s_i * n may overflow BIGINT at this corpus size — "
            "rescale the embeddings or shrink the grid before encoding"
        )
    half = dim // 2
    # two-phase select: materialize the scaled array once per row; the two
    # pack() expressions then index it 64 times without re-rounding it 64
    # times (no CSE inside HOF lambdas — measured 4.9 s -> sub-second for
    # the gate query at sf0.1)
    df = df.select(
        F.col(item_id),
        *[F.col(c) for c in passthrough],
        _scaled(F.col(item_vec)).alias("_sv"),
    )
    sv = F.col("_sv")
    thr = F.lit([int(x) for x in sums])
    nn = F.lit(int(n))

    def pack(lo_idx: int, hi_idx: int) -> Column:
        # bit weight 2^(i-lo): F.shiftleft needs a literal int shift, so use
        # pow() — exact in double for shifts < 53, ours max out at 31
        return F.aggregate(
            F.transform(
                F.sequence(F.lit(lo_idx), F.lit(hi_idx)),
                lambda i: F.when(
                    F.get(sv, i - 1) * nn > F.get(thr, i - 1),
                    F.pow(F.lit(2.0), (i - F.lit(lo_idx)).cast("double")).cast(
                        "bigint"
                    ),
                ).otherwise(F.lit(0).cast("bigint")),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc.bitwiseOR(x),
        )

    keep = [
        F.col(item_id).alias("item_id"),
        pack(1, half).alias("code_lo"),
        pack(half + 1, dim).alias("code_hi"),
    ]
    keep += [F.col(c) for c in passthrough]
    return df.select(*keep)


def hamming(lo_a: Column, hi_a: Column, lo_b: Column, hi_b: Column) -> Column:
    """Hamming distance between two packed codes — pure codegen bit ops."""
    return F.bit_count(lo_a.bitwiseXOR(lo_b)) + F.bit_count(hi_a.bitwiseXOR(hi_b))


def bq_side_means(
    corpus: DataFrame,
    sums: np.ndarray,
    n: int,
    item_vec: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension training mean of the values on each side of the
    frozen threshold — the 1-bit quantizer's reconstruction points
    (decode(bit) = the bit's side mean), which give BQ a real
    reconstruction error for the EP13 drift statistic. One
    posexplode aggregate (the bq_train plan shape). A side with no
    training values (constant dims) reconstructs to the threshold."""
    thr = sums.astype(np.float64) / (max(n, 1) * GRID)
    t = F.lit([float(x) for x in thr])
    rows = (
        corpus.select(
            F.posexplode(F.col(item_vec).cast("array<double>")).alias(
                "pos", "x"
            )
        )
        .withColumn("hi", (F.col("x") > F.get(t, F.col("pos"))).cast("int"))
        .groupBy("pos", "hi")
        .agg(F.avg("x").alias("m"))
        .collect()
    )
    lo = thr.copy()
    hi = thr.copy()
    for r in rows:
        (hi if r.hi else lo)[r.pos] = r.m
    return lo, hi


def bq_recon_qerr(
    vec_col: Column, sums: np.ndarray, n: int, lo: np.ndarray, hi: np.ndarray
) -> Column:
    """||x - decode(encode(x))|| under the frozen thresholds and side
    means (:func:`bq_side_means`) — the EP13 drift statistic for the
    1-bit quantizer: a shifted batch lands far from BOTH side means, so
    the batch-mean error grows with the drift and the ratio trigger
    fires. Pure codegen HOFs (no Python)."""
    thr = sums.astype(np.float64) / (max(n, 1) * GRID)
    t = F.lit([float(x) for x in thr])
    lo_l = F.lit([float(x) for x in lo])
    hi_l = F.lit([float(x) for x in hi])
    v = vec_col.cast("array<double>")
    pick = F.zip_with(
        v, t, lambda x, th: F.when(x > th, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    hi_part = F.zip_with(pick, hi_l, lambda p, h: p * h)
    lo_part = F.zip_with(pick, lo_l, lambda p, l: (F.lit(1.0) - p) * l)
    recon = F.zip_with(hi_part, lo_part, lambda a, b: a + b)
    errs = F.zip_with(v, recon, lambda x, r: x - r)
    return F.sqrt(F.aggregate(errs, F.lit(0.0), lambda a, e: a + e * e))



def bq_scorer(sums: np.ndarray, n: int) -> Scorer:
    """Hamming scan over packed codes, entirely in whole-stage codegen:
    the encoded queries broadcast into a ``crossJoin`` and ``bit_count``
    of the xor'd words scores every row — no Python anywhere. On the IVF
    layouts each query row carries its allowed-cell array and an
    ``array_contains`` filter enforces strict IVF semantics. Integer
    distances: the (hamming, item_id) shortlist is deterministic."""

    def score(queries, codes, allowed=None, limit=None, keep=()):
        qside = bq_encode(
            queries, sums, n, item_id="query_id", item_vec="query_vec"
        ).select(
            F.col("item_id").alias("query_id"),
            F.col("code_lo").alias("q_lo"),
            F.col("code_hi").alias("q_hi"),
        )
        if allowed is not None:
            qid_t = dict(queries.dtypes)["query_id"]
            rows = list(allowed.items())
            ddl = f"query_id {qid_t}, cells array<int>"
            if qid_t in ("bigint", "long", "int", "integer", "double", "string"):
                from ..io.local import local_df

                allow_df = local_df(queries.sparkSession, rows, ddl)
            else:
                allow_df = queries.sparkSession.createDataFrame(rows, ddl)
            qside = qside.join(allow_df, "query_id")
        scored = codes.crossJoin(F.broadcast(qside))
        if allowed is not None:
            scored = scored.filter(
                F.array_contains(F.col("cells"), F.col("cell").cast("int"))
            )
        return scored.select(
            "query_id", "item_id",
            hamming(
                F.col("q_lo"), F.col("q_hi"), F.col("code_lo"), F.col("code_hi")
            ).alias("hamming"),
            *keep,
        )

    return Scorer("hamming", score, carry=("hamming",))


def bq_search_rerank(
    queries: DataFrame, corpus: DataFrame, sums: np.ndarray, n: int,
    k: int = 10, shortlist: int = 100, query_id: str = "query_id",
    query_vec: str = "query_vec", item_id: str = "item_id",
    item_vec: str = "embedding", encoded: DataFrame | None = None,
) -> DataFrame:
    """The production BQ path: Hamming shortlist over packed codes → exact
    L2 re-rank of the shortlist. Returns (query_id, rank, item_id, dist,
    hamming), rank 1..k by (dist, item_id).

    Both stages are deterministic (integer Hamming with id tie-break; the
    re-rank inherits exact_knn's (dist, id) ordering) so the WHOLE
    approximate query hash-matches an external SQL replay. shortlist ≥
    corpus degenerates to exact k-NN (tested). The training count ``n``
    (= the corpus size) gates the re-rank broadcast hint.

    ``encoded``: a pre-built (item_id, code_lo, code_hi) table — the
    serving shape (codes are encoded once per corpus version and
    persisted, like every other index artifact); omitted = encode inline
    (the one-shot/gate shape). Codes are a pure function of (corpus,
    sums, n), so both shapes return identical results (tested).
    """
    if encoded is None:
        encoded = bq_encode(corpus, sums, n, item_id=item_id, item_vec=item_vec)
    return shortlist_search(
        queries, encoded, corpus, bq_scorer(sums, n), k, shortlist,
        query_id, query_vec, item_id, item_vec, n_corpus=n,
    )


def _ivf_encoder(sums, n, item_id, item_vec):
    return lambda df: bq_encode(
        df, sums, n, item_id=item_id, item_vec=item_vec, passthrough=("cell",)
    )


def write_ivfbq_codes(
    corpus_assigned: DataFrame, sums: np.ndarray, n: int, path: str,
    item_id: str = "item_id", item_vec: str = "embedding",
) -> None:
    """Encode an IVF-assigned corpus (must carry ``cell``) to packed bit
    codes and persist them partitioned by cell — the IVF-BQ layout
    (FAISS IndexBinaryIVF): directory pruning from the coarse quantizer ×
    32× fewer bytes inside each directory. 16 B/row payload (two longs);
    the whole composed index for 10⁹ vectors is ~16 GB."""
    write_ivf_codes(_ivf_encoder(sums, n, item_id, item_vec)(corpus_assigned), path)


def ivfbq_codes_upsert(
    spark, corpus_path: str, codes_path: str, sums: np.ndarray, n: int,
    cells: list[int], item_id: str = "item_id", item_vec: str = "embedding",
) -> None:
    """Re-encode the given cells of the IVF-BQ code table from the
    post-upsert corpus with the FROZEN thresholds (the lockstep contract
    of operators/quantized.py::ivf_codes_upsert)."""
    ivf_codes_upsert(
        spark, corpus_path, codes_path,
        _ivf_encoder(sums, n, item_id, item_vec), cells,
    )


def ivfbq_search(
    queries: DataFrame, spark, codes_path: str, corpus_path: str,
    centroids: DataFrame, sums: np.ndarray, n: int, k: int = 10,
    n_probe: int = 4, shortlist: int = 100, query_id: str = "query_id",
    query_vec: str = "query_vec", item_id: str = "item_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """Composed IVF-BQ search — the only composed ANN layout with NO
    Python anywhere in the scan: coarse probe → codegen Hamming scan of
    only the probed cells' packed codes → exact re-rank against the same
    pruned directories. Returns (query_id, rank, item_id, dist, hamming).
    Full probe + shortlist ≥ corpus degenerates to exact k-NN (tested —
    the same metamorphic identity as IVF-SQ/IVF-PQ)."""
    return ivf_shortlist_search(
        queries, spark, codes_path, corpus_path, centroids,
        bq_scorer(sums, n), k, n_probe, shortlist, query_id, query_vec,
        item_id, item_vec, n_corpus=n,
    )
