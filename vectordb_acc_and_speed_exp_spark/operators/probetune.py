"""Recall-targeted probe budgets: the FAISS-autotune dial, measured.

Every IVF-family serving path takes an ``n_probe`` budget; round 8's
recall artifact showed what a hardcoded budget costs — 4-of-16 probes
is recall 0.48 on the sf0.1 corpus while 8 probes is 0.74. Production
engines tune this against a recall SLO (FAISS ``AutoTuneCriterion``,
Milvus/pgvector probe guidance); this module gives the engine the same
dial from a MEASURED curve instead of a guess.

The whole recall-vs-probes curve costs ONE calibration pass, not one
search per probe count: for each (query, true-neighbor) pair, the
neighbor is reachable at probe budget p iff the rank of the neighbor's
cell in the query's centroid ordering is <= p. So:

    gt            = exact top-k over the corpus for a deterministic
                    hash-sample of corpus vectors as queries
    cell_rank     = rank of each cell in each query's centroid order
    recall(p)     = fraction of gt pairs with cell_rank <= p

— a corpus scan (the exact kNN) + two broadcast joins, and the ENTIRE
curve falls out of one cumulative histogram. The curve is exact for
plain IVF candidate coverage; composed layouts (IVF-PQ/SQ/BQ) add a
short-list quantization loss on top, bounded by their re-rank coverage
(EP5), so the curve is the recall CEILING a probe budget buys — the
right planning number.

Persisted beside the centroids (``_probe_curve.json``, commitproto
publish) at build time; ``choose_budget(curve, target, full)`` picks
the smallest budget whose measured recall meets the target — the one
rule every curve in this module serves through. ``target >= 1``
always returns ``full`` (every cell) — sampled calibration can measure
1.0 before full probe, but only full probe GUARANTEES it (that identity
is what the oracled facade degeneration pins). The curve is a pure
function of the frozen quantizer + corpus snapshot; upserts do not
recompute it — distribution change is the drift tracker's job
(operators/drift.py), and the rebuild it triggers refreshes the curve
with everything else.

At 100 TB: calibration cost is one exact kNN of n_sample queries
(n_sample=32 default — the curve estimates a corpus-wide fraction, so
error ~ 1/sqrt(n_sample * k)) amortized into the build; serve-time
choose_budget is a dict lookup.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..io.relcache import read_layout
from .ann import LSH_N_PLANES, LSH_SEED
from .knn import exact_knn

CURVE_FILE = "_probe_curve.json"
SHORTLIST_FILE = "_shortlist_curve.json"
DEFAULT_N_SAMPLE = 32
# The default SERVING target (VERDICT r08 #1): the reference's own HNSW
# measures ~0.70 recall@10 at its largest corpus (BASELINE.md), so 0.70
# is the floor a default budget must clear on FRESH queries. The target
# carries a 0.15 margin because both sides of the comparison are small
# samples: the calibration curve is measured on 32 queries x k pairs
# (one-sigma binomial error ~ 0.05-0.06) and any fresh evaluation set is
# itself noisy — the recall gate's 5-query set measured ~0.10-0.14 BELOW
# the 32-query calibration at every mid-curve budget (sf0.1, r09:
# curve 0.83 @ 7 probes vs eval 0.68; curve 0.87 @ 8 vs eval 0.74), a
# ~2.5-sigma-hard query draw that a 0.80 target does not absorb. Part of
# that gap was the calibration's own self-pair inflation (~(1-r)/k —
# removed in CALIB_VERSION 2, calib_ground_truth), which shifts curves
# DOWN toward the eval numbers and budgets correspondingly up; the 0.85
# target is kept as the sampling-noise cushion. It keeps every family's
# measured EVAL recall at or above 0.74 while still pruning 40-50% of
# the scan at the IVF families.
DEFAULT_TARGET_RECALL = 0.85
# Calibration-methodology version: bumped whenever the measured-curve
# SEMANTICS change (v2 = the self-pair exclusion on the GROUND-TRUTH side
# — curves measured before it are inflated by ~(1-r)/k and must not keep
# choosing budgets; v3 = the symmetric exclusion on the RANKED/result
# side — queries are corpus members, so the self hit (distance 0) was
# still consuming rank 1 in every rank-based curve, capping the
# measurable recall at (k-1)/k and shifting every curve one rank
# conservative, ADVICE r10).
# curve_is_stale treats any persisted sidecar with a different (or
# missing) version as stale, so a methodology change recalibrates every
# artifact exactly once instead of serving evidence measured under the
# old contract.
CALIB_VERSION = 3
# Shortlist budgets are calibrated on this grid (curve size stays O(grid),
# not O(corpus)); choose_budget falls back to the full corpus when no
# grid point meets the target. The 6400/12800 points exist for large or
# adversarial corpora (and the survivor-restricted filtered bins over
# them) where 3200 candidates genuinely can't certify 0.85 — without
# them the chooser jumps straight from 3200 to a full-corpus re-rank
# (measured on the 1M jittered fixture, VERDICT r10 #7 study).
SHORTLIST_GRID = (10, 25, 50, 100, 200, 400, 800, 1600, 3200, 6400, 12800)
# Size-aware staleness (VERDICT r08 #3): fixed-budget recall decays as the
# corpus grows (the reference's own recall-vs-size curve), so a curve
# calibrated at n_corpus rows stops being evidence once the collection
# more than doubles — recalibrate even with zero distribution drift.
CURVE_STALE_GROWTH = 2.0


def calib_queries(
    corpus: DataFrame,
    n_sample: int = DEFAULT_N_SAMPLE,
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """(query_id, query_vec) calibration sample: a deterministic
    hash-ordered sample of corpus vectors — stable across partitionings
    and sessions, no RNG state (shared by every curve in this module)."""
    return (
        corpus.select(
            F.col(item_id).alias("query_id"), F.col(item_vec).alias("query_vec")
        )
        .orderBy(portable_hash64(F.col("query_id").cast("string")), "query_id")
        .limit(n_sample)
    )


def probe_recall_curve(
    spark: SparkSession,
    corpus_path: str,
    centroids: DataFrame,
    k: int = 10,
    n_sample: int = DEFAULT_N_SAMPLE,
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> dict[int, float]:
    """{n_probe: recall@k ceiling} for every probe count 1..n_cells,
    from one calibration pass (module docstring)."""
    corpus = read_layout(spark, corpus_path)
    n_cells = centroids.count()
    qs, gt = _calib_gt(corpus, k, n_sample, item_id, item_vec)
    cells = corpus.select(F.col(item_id).alias("item_id"), "cell")
    qcell_rank = exact_knn(
        qs, centroids, k=n_cells, item_id="cell", item_vec="centroid"
    ).select(
        "query_id", F.col("item_id").alias("cell"),
        F.col("rank").alias("cell_rank"),
    )
    hist = (
        gt.join(cells, "item_id")
        .join(qcell_rank, ["query_id", "cell"])
        .groupBy("cell_rank")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = sum(r.n for r in hist)
    by_rank = {int(r.cell_rank): int(r.n) for r in hist}
    curve, cum = {}, 0
    for p in range(1, n_cells + 1):
        cum += by_rank.get(p, 0)
        curve[p] = round(cum / total, 4) if total else 1.0
    return curve


def write_probe_curve(
    index_root: str,
    curve: dict[int, float],
    k: int,
    n_sample: int,
    n_corpus: int | None = None,
    fname: str = CURVE_FILE,
    extra: dict | None = None,
) -> None:
    """Persist a calibration curve beside the artifact (commitproto
    publish). ``n_corpus`` — the corpus size the curve was measured at —
    is what :func:`curve_is_stale` compares against (VERDICT r08 #3)."""
    from ..io.commitproto import publish_marker

    payload = {
        "k": int(k),
        "n_sample": int(n_sample),
        "calib": CALIB_VERSION,
        "curve": {str(p): float(r) for p, r in curve.items()},
    }
    if n_corpus is not None:
        payload["n_corpus"] = int(n_corpus)
    if extra:
        payload.update(extra)
    publish_marker(os.path.join(index_root, fname), payload)


def read_probe_curve(
    index_root: str, fname: str = CURVE_FILE
) -> dict[int, float] | None:
    meta = read_curve_meta(index_root, fname)
    if meta is None:
        return None
    return {int(k): float(v) for k, v in meta["curve"].items()}


def read_curve_meta(index_root: str, fname: str = CURVE_FILE) -> dict | None:
    """The full persisted calibration payload (curve + k/n_sample/
    n_corpus + any family extras), or None when absent."""
    p = os.path.join(index_root, fname)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def curve_is_stale(
    meta: dict | None, current_n: int, k: int | None = None
) -> bool:
    """Size-aware invalidation (VERDICT r08 #3): a curve calibrated at
    ``n_corpus`` rows is stale once the collection grows past
    CURVE_STALE_GROWTH × that size — fixed-budget recall decays with
    corpus size even with zero distribution drift, so the old curve's
    recall numbers are no longer evidence. Curves written before this
    field existed (no n_corpus) are treated as stale so they
    re-calibrate once and gain the field.

    ``k`` (VERDICT r10 #1): when given, a sidecar calibrated at a
    DIFFERENT k is stale — recall@10 says nothing certifiable about
    recall@25 (larger k reaches deeper ranks), so a mismatched-k curve
    must never choose a budget. Callers key sidecar FILES by k, so this
    check only fires on pre-k-keyed sidecars and hand-edited files —
    but it is the contract that makes "never serve a stale-k budget"
    structural rather than a path-naming convention."""
    if meta is None:
        return True
    if meta.get("calib") != CALIB_VERSION:
        # measured under an older calibration contract (e.g. pre-self-
        # pair-exclusion): the numbers are not evidence for this code
        return True
    if k is not None and int(meta.get("k", -1)) != int(k):
        return True
    n0 = meta.get("n_corpus")
    if n0 is None:
        return True
    return current_n > CURVE_STALE_GROWTH * int(n0)


def choose_budget(
    curve: dict[int, float], target: float, full: int | None
) -> int | None:
    """The one budget rule: the smallest measured budget whose recall
    meets ``target`` (capped at ``full``), else ``full``.

    ``full`` is the budget that GUARANTEES an exact answer — every cell,
    the whole corpus, every LSH bucket — and ``target >= 1`` always gets
    it: the sampled curve may reach 1.0 earlier, but only ``full`` proves
    it (the identity the oracled facade degeneration pins). ``None``
    means no finite budget of the structure is exact (the mt-LSH flip
    pool, the degree-capped graph): the caller reroutes to the exact
    scan."""
    if target >= 1.0:
        return full
    for b in sorted(curve):
        if curve[b] >= target:
            return b if full is None else min(b, full)
    return full


# -- shortlist calibration (VERDICT r08 #1): the cell-rank trick, --------
# -- extended to re-rank budgets -----------------------------------------
#
# A shortlist-family search (bq/pq/sq and the composed IVF twins) finds a
# true neighbor iff the neighbor's RANK in approximate-distance order is
# <= shortlist. So, exactly like the probe curve, the whole
# recall-vs-shortlist curve costs ONE pass: rank every corpus item per
# calibration query by the family's approximate distance (the same
# scan the serve path runs, truncated at max(grid)), join the exact-kNN
# ground truth, and the curve is one cumulative histogram of the hit
# ranks. For the composed layouts the ranking is computed over only the
# cells a given probe budget reaches, so the measured curve carries the
# JOINT probe+quantization loss at that budget — the number a serving
# default must actually clear.


def shortlist_recall_curve(
    scored: DataFrame,
    gt: DataFrame,
    grid: tuple[int, ...] = SHORTLIST_GRID,
    adist: str = "adist",
    item_id: str = "item_id",
) -> dict[int, float]:
    """{shortlist: recall@k} from a (query_id, item_id, <adist>) frame of
    approximate distances and an exact ground-truth (query_id, item_id)
    pair set. Rank ties break by item_id — the same total order every
    serve path uses, so the curve measures exactly the served ranking.

    CALIB v3: the query's own corpus row is dropped from the RANKED side
    (mirroring calib_ground_truth's gt-side exclusion) — calibration
    queries are corpus members, so the self hit (distance 0, rank 1)
    would consume a rank in every curve, cap the measurable recall at
    (k-1)/k, and shift every budget one rank conservative; fresh queries
    have no self row, so the symmetric exclusion is what measures THEIR
    recall (ADVICE r10)."""
    grid = tuple(sorted(int(s) for s in grid))
    w = Window.partitionBy("query_id").orderBy(
        F.asc(adist), F.asc(item_id)
    )
    ranked = (
        scored.filter(F.col(item_id) != F.col("query_id"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= grid[-1])
        .select("query_id", item_id, "_rn")
    )
    # one recall-histogram contract for every shortlist curve builder
    # (_curve_from_ranked joins on the canonical "item_id" name)
    if item_id != "item_id":
        ranked = ranked.withColumnRenamed(item_id, "item_id")
    gtn = gt.select("query_id", F.col(item_id).alias("item_id"))
    return _curve_from_ranked(ranked, gtn, grid)


def calib_ground_truth(
    corpus: DataFrame,
    k: int = 10,
    n_sample: int = DEFAULT_N_SAMPLE,
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """(qs, gt) for curve calibration, both eagerly checkpointed; gt has
    (query_id, item_id, rank) with ranks 1..k.

    Calibration queries are corpus MEMBERS, so a naive exact-kNN ground
    truth contains each query's self-pair (rank 1, distance 0) — a hit
    every family reaches at any budget, inflating every measured curve
    by ~(1-r)/k and under-delivering on fresh queries. The ground truth
    therefore fetches k+1 and DROPS the self-pair, re-ranking the top k
    real neighbors — the recall a fresh query would actually see.

    The checkpoint matters for cost: gt's lineage is a full-corpus
    broadcast cross-join; every curve builder consumes it at least twice
    (hits join + denominator count), and the composed two-attempt loop
    up to four times — materializing the <= n_sample*(k+1) rows once
    replaces repeated corpus scans."""
    qs = calib_queries(
        corpus, n_sample, item_id=item_id, item_vec=item_vec
    ).localCheckpoint(eager=True)
    gt = (
        exact_knn(qs, corpus, k=k + 1, item_id=item_id, item_vec=item_vec)
        .filter(F.col("item_id") != F.col("query_id"))
        .withColumn(
            "_gtrn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("rank")
            ),
        )
        .filter(F.col("_gtrn") <= k)
        .select("query_id", "item_id", F.col("_gtrn").alias("rank"))
        .localCheckpoint(eager=True)
    )
    return qs, gt


def _calib_gt(
    corpus: DataFrame, k: int, n_sample: int, item_id: str, item_vec: str
) -> tuple[DataFrame, DataFrame]:
    qs, gt = calib_ground_truth(
        corpus, k, n_sample, item_id=item_id, item_vec=item_vec
    )
    return qs, gt.select("query_id", "item_id")


def scorer_shortlist_curve(
    corpus: DataFrame,
    encoded: DataFrame,
    scorer,
    k: int = 10,
    n_sample: int = DEFAULT_N_SAMPLE,
    grid: tuple[int, ...] = SHORTLIST_GRID,
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> dict[int, float]:
    """Measured recall-vs-shortlist of a flat code family: the family's
    own serve-path scan (an operators/quantized.py Scorer) ranks the
    persisted codes, truncated at max(grid) + 1 (one spare rank for the
    dropped self hit), vs the exact-kNN ground truth — one pass."""
    qs, gt = _calib_gt(corpus, k, n_sample, item_id, item_vec)
    scored = scorer.score(qs, encoded, limit=max(grid) + 1).select(
        "query_id", "item_id",
        F.col(scorer.adist).cast("double").alias("adist"),
    )
    return shortlist_recall_curve(scored, gt, grid)


def _curve_from_ranked(
    ranked: DataFrame, gt: DataFrame, grid: tuple[int, ...]
) -> dict[int, float]:
    grid = tuple(sorted(int(s) for s in grid))
    hits = [
        r._rn
        for r in ranked.join(gt, ["query_id", "item_id"]).select("_rn").collect()
    ]
    total = gt.count()
    if not total:
        return {s: 1.0 for s in grid}
    return {
        s: round(sum(1 for h in hits if h <= s) / total, 4) for s in grid
    }


# -- composed (IVF x quantizer) joint budgets -----------------------------


def _joint_curve(
    scored_with_cell: DataFrame,
    qcells: DataFrame,
    gt: DataFrame,
    grid: tuple[int, ...],
) -> dict[int, float]:
    """Recall-vs-shortlist of a composed layout AT a given probe budget:
    ranks are computed over only the items whose cell the query probes
    (``qcells`` = the (query_id, cell) probe plan the caller already
    computed — re-deriving it here would re-run the centroid kNN), so
    the curve carries the joint probe+quantization loss — a ground
    truth neighbor outside every probed cell can never reach any rank
    and correctly counts as a miss at every shortlist."""
    probed = scored_with_cell.join(qcells, ["query_id", "cell"]).select(
        "query_id", "item_id", "adist"
    )
    return shortlist_recall_curve(probed, gt, grid)


def composed_scored(spark: SparkSession, codes_path: str, scorer):
    """``scored_fn`` for :func:`composed_serving_budget`: the family's
    serve-path scan (an operators/quantized.py Scorer) over the persisted
    cell-partitioned codes of the given cells, cell carried along."""

    def scored(qs: DataFrame, cells) -> DataFrame:
        codes = read_layout(spark, codes_path).filter(F.col("cell").isin(cells))
        return scorer.score(qs, codes, keep=("cell",)).select(
            "query_id", "item_id", "cell",
            F.col(scorer.adist).cast("double").alias("adist"),
        )

    return scored


def composed_serving_budget(
    spark: SparkSession,
    corpus_path: str,
    centroids: DataFrame,
    scored_fn,
    target_recall: float = DEFAULT_TARGET_RECALL,
    k: int = 10,
    n_sample: int = DEFAULT_N_SAMPLE,
    grid: tuple[int, ...] = SHORTLIST_GRID,
    item_id: str = "item_id",
    item_vec: str = "embedding",
    probe_curve: dict[int, float] | None = None,
) -> dict:
    """Measured (n_probe, shortlist) serving default for a composed
    IVF-quantizer layout (VERDICT r08 #1).

    ``scored_fn(qs, probed_cells) -> (query_id, item_id, cell, adist)``
    scores the calibration queries against the persisted codes of the
    given cells with the family's approximate distance — the same scan
    the serve path runs.

    Procedure: the probe ceiling bounds any joint recall, so pick the
    smallest probe budget whose CEILING clears the target (plus a small
    margin for quantization loss), measure the joint shortlist curve at
    that budget, and choose the smallest grid shortlist meeting the
    target; if quantization loss eats the margin, escalate the probe
    budget once and re-measure. Two calibration passes worst-case; the
    result is persisted by the caller, so serve-time cost is a dict
    lookup."""
    corpus = read_layout(spark, corpus_path)
    qs, gt = _calib_gt(corpus, k, n_sample, item_id, item_vec)
    if probe_curve is None:
        probe_curve = probe_recall_curve(
            spark, corpus_path, centroids, k=k, n_sample=n_sample,
            item_id=item_id, item_vec=item_vec,
        )
    n_cells = max(probe_curve)

    def probe_for(margin: float) -> int:
        # the margin is a cushion for quantization loss, not an exactness
        # request: capped below 1.0 so target + margin never takes
        # choose_budget's full-probe guarantee branch (a REAL target >= 1
        # never reaches this calibration)
        return choose_budget(
            probe_curve, min(target_recall + margin, 0.9999), n_cells
        )

    p = probe_for(0.03)
    for attempt in range(2):
        qcells = exact_knn(
            qs, centroids, k=p, item_id="cell", item_vec="centroid"
        ).select("query_id", F.col("item_id").alias("cell"))
        probed_cells = sorted(
            r.cell for r in qcells.select("cell").distinct().collect()
        )
        scored = scored_fn(qs, probed_cells)
        curve = _joint_curve(scored, qcells, gt, grid)
        if max(curve.values()) >= target_recall or p >= n_cells:
            break
        p = min(n_cells, max(p + 1, probe_for(0.10)))
    n_corpus = corpus.count()
    s = choose_budget(curve, target_recall, n_corpus)
    return {
        "n_probe": int(p),
        "shortlist": int(s),
        "curve": curve,
        "n_corpus": int(n_corpus),
        "target": float(target_recall),
    }


def lsh_bits_recall_curve(
    corpus: DataFrame,
    dim: int,
    n_planes: int = LSH_N_PLANES,
    seed: int = LSH_SEED,
    k: int = 10,
    n_sample: int = DEFAULT_N_SAMPLE,
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> dict[int, float]:
    """{probe_bits: recall@k} for sign-LSH multiprobe: a true neighbour
    is reachable at probe depth b iff its signature differs from the
    query's in <= b bits — the cell-rank trick with buckets in place of
    cells, one signature pass + a Hamming histogram. b = n_planes probes
    every bucket (the candidate set IS the corpus), so that endpoint is
    structurally exact, not just sampled-1.0."""
    from .ann import _hyperplanes, signature_buckets

    qs, gt = _calib_gt(corpus, k, n_sample, item_id, item_vec)
    planes = _hyperplanes(dim, n_planes, seed)
    qsig = signature_buckets(
        qs.select("query_id", "query_vec"), planes, "query_vec", "qsig"
    ).select("query_id", "qsig")
    csig = signature_buckets(
        corpus.select(F.col(item_id).alias("item_id"), F.col(item_vec)),
        planes, item_vec, "csig",
    ).select("item_id", "csig")
    hist = (
        gt.join(csig, "item_id")
        .join(F.broadcast(qsig), "query_id")
        .select(
            F.bit_count(
                F.col("qsig").bitwiseXOR(F.col("csig")).cast("bigint")
            ).alias("hd")
        )
        .groupBy("hd").count().collect()
    )
    total = sum(r["count"] for r in hist)
    if not total:
        # consistent with every other curve builder's degenerate-input
        # fallback: an empty ground truth certifies nothing is missed,
        # and b = n_planes IS structurally exact (docstring) — an
        # all-zeros curve here would force max probe depth downstream
        return {b: 1.0 for b in range(0, n_planes + 1)}
    by_hd = {int(r.hd): int(r["count"]) for r in hist}
    curve, cum = {}, 0
    for b in range(0, n_planes + 1):
        cum += by_hd.get(b, 0)
        curve[b] = round(cum / total, 4)
    return curve
