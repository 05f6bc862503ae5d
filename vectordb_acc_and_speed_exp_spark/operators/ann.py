"""Approximate nearest-neighbour search (reference V3: ChromaDB HNSW query,
chromadb_speed_experiment.py:474-477, chromadb_acc_experiment.py:622-628).

Spark has no HNSW; two scale paths, both recall-evaluated against the exact
oracle (operators/knn.py) by operators/recall.py — mirroring the reference's
own methodology (brute force as ground truth, README.md:28-31):

1. **LSH (random hyperplane signs)** — built-in expressions only. Project
   every vector onto ``n_planes`` fixed pseudo-random hyperplanes (seeded,
   derived per-dimension from a hash — no model fit, fully deterministic);
   the sign pattern buckets the corpus. Query probes its own bucket plus
   multi-probe neighbours (1-bit flips). Candidate set → exact re-rank.
   At 100 TB: bucket id is a narrow shuffle key; corpus can be written
   bucketed-by(signature) so probes become partition-pruned scans.

2. **IVF (inverted file)** — k-means-style coarse quantizer. Centroids are
   computed with MLlib KMeans (seeded) or supplied; every vector is assigned
   to its nearest centroid (one broadcast join); a query scans only the
   ``n_probe`` nearest cells. At 100 TB the corpus is *written partitioned
   by cell id*, so a query touches n_probe/n_cells of the data — this is the
   honest Spark analogue of an ANN index.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..io.relcache import read_layout

from ..functions.vector import l2_dist
from .knn import exact_knn

# The sign-LSH geometry (hyperplane count, plane seed) of lsh_ann and the
# bucket-partitioned lsh index: the recall-vs-probe-bits calibration
# (probetune.lsh_bits_recall_curve) prices exactly this pair, so both
# read it from here — a curve can never price a different index.
LSH_N_PLANES = 6
LSH_SEED = 42


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    splitmix-style integer hash — stable across runs/machines, no numpy)."""

    def h(x: int) -> int:
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 & (2**64 - 1)
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB & (2**64 - 1)
        return (x ^ (x >> 31)) & (2**64 - 1)

    planes = []
    for p in range(n_planes):
        vec = []
        for d in range(0, dim, 2):
            u1 = (h(seed * 1_000_003 + p * 10_007 + d) % (2**53)) / 2**53
            u2 = (h(seed * 1_000_003 + p * 10_007 + d + 1) % (2**53)) / 2**53
            r = math.sqrt(-2.0 * math.log(u1 + 1e-18))
            vec.append(r * math.cos(2 * math.pi * u2))
            if d + 1 < dim:
                vec.append(r * math.sin(2 * math.pi * u2))
        n = math.sqrt(sum(x * x for x in vec)) or 1.0
        planes.append([x / n for x in vec])
    return planes


def _signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bit-packed sign signature of the vector against each hyperplane."""
    bits = []
    for i, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(float(x)) for x in plane])
        d = F.aggregate(
            F.zip_with(vec_col.cast("array<double>"), plane_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("int")


def signature_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append the bit-packed sign signature as ``bucket_col`` — the
    vectorized twin of the ``_signature`` expression: per Arrow batch ONE
    float64 gemm against the (b × dim) plane matrix replaces b interpreted
    HOF dot-product folds per row (VERDICT r1 next-round #5; the
    simjoin.py kernel pattern). Both paths compute the same float64 dots;
    they could disagree only on a |dot| ≲ 1e-13 knife-edge, which the
    cross-path equality test (pruned-storage == in-memory) guards."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    P = np.array(planes, dtype=np.float64)
    pw = (1 << np.arange(P.shape[0])).astype(np.int64)
    # copy the field list: .add() would mutate the DataFrame's cached schema
    schema = StructType(
        list(df.schema.fields) + [StructField(bucket_col, IntegerType())]
    )

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            pdf[bucket_col] = (((V @ P.T) >= 0) @ pw).astype(np.int32)
            yield pdf

    return df.mapInPandas(kern, schema)


def lsh_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_planes: int = LSH_N_PLANES,
    n_probe_bits: int = 2,
    dim: int = 64,
    seed: int = LSH_SEED,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """Sign-LSH ANN: bucket corpus by signature; probe the query's bucket and
    every bucket within ``n_probe_bits`` bit-flips; exact re-rank candidates.
    Returns (query_id, rank, item_id, dist). Signatures on both sides use
    the vectorized kernel (one gemm per Arrow batch)."""
    import itertools

    planes = _hyperplanes(dim, n_planes, seed)
    c = signature_buckets(
        corpus.select(
            F.col(item_id).alias("item_id"), F.col(item_vec).alias("_ivec")
        ),
        planes,
        "_ivec",
        bucket_col="bucket",
    )
    # multi-probe set: the query signature with every subset of up to
    # n_probe_bits bits flipped (probe fraction = sum_{r<=b} C(n,r) / 2^n)
    q0 = signature_buckets(
        queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")
        ),
        planes,
        "_qvec",
        bucket_col="sig",
    )
    probes = [F.col("sig")]
    for r in range(1, n_probe_bits + 1):
        for bits in itertools.combinations(range(n_planes), r):
            mask = 0
            for b in bits:
                mask |= 1 << b
            probes.append(F.expr(f"int(sig ^ {mask})"))
    q = q0.select(
        "query_id", "_qvec", F.explode(F.array(*probes)).alias("bucket")
    ).dropDuplicates(["query_id", "bucket"])
    cand = q.join(c, "bucket").select(
        "query_id",
        "item_id",
        l2_dist(F.col("_qvec"), F.col("_ivec")).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "dist")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    item_vec: str = "embedding",
    centroid_id: str = "cell",
    centroid_vec: str = "centroid",
    keep_dist: str | None = None,
) -> DataFrame:
    """Assign every corpus row to its nearest centroid (broadcast join +
    window min). Output: corpus columns + ``cell``. At scale, write the
    result partitioned by cell so searches prune.

    ``keep_dist`` names an output column carrying each row's distance to
    its assigned centroid — the coarse quantization error the drift
    tracker aggregates (operators/drift.py); the assignment join computes
    it anyway, so keeping it is free."""
    w = Window.partitionBy(F.col("_row")).orderBy(F.asc("_cdist"), F.asc(centroid_id))
    assigned = (
        corpus.withColumn("_row", F.monotonically_increasing_id())
        .crossJoin(F.broadcast(centroids))
        .withColumn("_cdist", l2_dist(F.col(item_vec), F.col(centroid_vec)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", centroid_vec, "_row")
    )
    if keep_dist is not None:
        return assigned.withColumnRenamed("_cdist", keep_dist)
    return assigned.drop("_cdist")


def ivf_assign_blas(
    corpus: DataFrame,
    centroids: DataFrame,
    item_vec: str = "embedding",
    centroid_id: str = "cell",
    centroid_vec: str = "centroid",
    keep_dist: str | None = None,
) -> DataFrame:
    """BLAS twin of :func:`ivf_assign` for LARGE corpora: the centroid
    matrix broadcasts (n_cells x dim — always tiny) and the corpus
    STREAMS through one Arrow-batched gemm + argmin per batch. Zero
    shuffle and zero row expansion, vs ivf_assign's crossJoin + window,
    which materializes n x n_cells rows through a shuffle — fine at
    collection scale, ~256M-row pathology at 1M x 256 (measured at the
    round-13 scale-bench build). Same output contract: corpus columns +
    ``cell`` (+ ``keep_dist`` distance), nearest centroid by L2 with
    ties to the smallest cell id.

    Near-tie caveat: distances come from the EXPANDED form ||v||² −
    2v·c + ||c||², which loses low-order bits to cancellation, while
    ivf_assign takes the direct sum of squared differences. When a
    vector sits (to within that rounding) equidistant from two
    centroids the two paths can pick different cells, so "same (id →
    cell) map as ivf_assign" is an empirical fact (checked at sf0.001,
    sf0.01 and sf0.1), not a guarantee — and a divergent row shifts the
    build's ``keep_dist`` drift baseline slightly. Both cells are
    equally near, so IVF search semantics hold either way."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    rows = centroids.orderBy(F.asc(centroid_id)).collect()
    C = np.array([r[centroid_vec] for r in rows], dtype=np.float64)
    ids = np.array([r[centroid_id] for r in rows], dtype=np.int64)
    b = spark.sparkContext.broadcast((C, (C * C).sum(axis=1), ids))

    out_cols = corpus.columns
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in corpus.schema]
    schema_parts.append(f"{centroid_id} int")
    if keep_dist is not None:
        schema_parts.append(f"`{keep_dist}` double")

    def assign(batches):
        Cm, c2, cell_ids = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[item_vec].tolist(), dtype=np.float64)
            # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2; argmin row-wise.
            # np.argmin returns the FIRST min index and cells are sorted
            # ascending — the ivf_assign tie-break (asc cell) exactly.
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ Cm.T) + c2[None, :]
            pick = np.argmin(d2, axis=1)
            res = pdf[out_cols].copy()
            res[centroid_id] = cell_ids[pick].astype("int32")
            if keep_dist is not None:
                res[keep_dist] = np.sqrt(
                    np.maximum(d2[np.arange(len(pick)), pick], 0.0)
                )
            yield res

    return corpus.mapInPandas(assign, schema=", ".join(schema_parts))


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int,
    item_vec: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Coarse-quantizer centroids via MLlib KMeans (seeded → deterministic).
    Returns (cell int, centroid array<double>).

    ``sample_fraction`` trains on a seeded sample — at 100 TB the coarse
    quantizer needs ~256 points per cell, not the corpus: training is a
    BUILD-time job on a sample, never part of the search path (the gate
    entries build once via queries/pipeline._get_or_build_ivf and search
    the written layout)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    src = corpus
    if sample_fraction is not None and sample_fraction < 1.0:
        src = corpus.sample(withReplacement=False, fraction=sample_fraction, seed=seed)
    vecs = src.select(array_to_vector(F.col(item_vec)).alias("features"))
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(vecs)
    spark = corpus.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    return spark.createDataFrame(rows, "cell int, centroid array<double>")


def ivf_ann(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """IVF search: find each query's n_probe nearest cells, scan only those
    cells, exact re-rank. ``corpus_assigned`` must carry a ``cell`` column
    (from ivf_assign, ideally as a partition column of a written table)."""
    qcells = exact_knn(
        queries,
        centroids,
        k=n_probe,
        query_id=query_id,
        query_vec=query_vec,
        item_id="cell",
        item_vec="centroid",
    ).select(F.col("query_id"), F.col("item_id").alias("cell"))
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")
    ).join(qcells, "query_id")
    # q is queries x n_probe rows (tiny); broadcast it so the cell join
    # streams the (pruned) corpus through a BroadcastHashJoin instead of
    # shuffling corpus vectors by cell (guide §3.1/§8)
    cand = F.broadcast(q).join(corpus_assigned, "cell").select(
        "query_id",
        F.col(item_id).alias("item_id"),
        l2_dist(F.col("_qvec"), F.col(item_vec)).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "dist")
    )


def write_ivf_corpus(corpus_assigned: DataFrame, path: str) -> None:
    """Persist an IVF-assigned corpus partitioned by cell — the storage
    layout that turns ANN probing into parquet partition pruning: a query
    touching n_probe of n_cells reads only those directories. This is the
    Spark-native analogue of an ANN index structure (SURVEY.md §4: the
    HNSW replacement strategy)."""
    corpus_assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    from ..io.relcache import assert_layout_depth

    assert_layout_depth(path, "ivf corpus")


def ivf_index_upsert(
    spark,
    corpus_path: str,
    new_rows: DataFrame,
    centroids: DataFrame,
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> list[int]:
    """Incremental maintenance of a written IVF layout: assign new (or
    changed) rows with the index's EXISTING centroids and rewrite only the
    cell directories they land in (dynamic partition overwrite — every
    other cell is untouched bytes). Returns the rewritten cell ids.

    Rows whose id already exists REPLACE the old rows — including when the
    id's embedding changed enough to land in a DIFFERENT cell: the rewrite
    set is the union of the cells the new vectors land in and the cells
    that currently hold any upserted id (found via a column-pruned
    (id, cell) scan semi-joined against the broadcast micro-batch id set),
    so no stale twin can survive in an untouched directory. That keeps the
    layout a pure function of the final row set, which makes a replayed
    micro-batch converge to the same layout — at-least-once delivery is
    exactly-once for this sink, the streaming/index_maintenance.py
    contract. Centroids intentionally do NOT move here: re-training is an
    offline build job (kmeans_centroids on a fresh sample + full
    write_ivf_corpus); serving-time assignment drift is the standard
    IVF operational model (FAISS add() does the same). WHEN that offline
    rebuild is due is measured, not guessed (EP13): if the artifact root
    (the corpus path's parent) carries a ``_drift.json`` baseline, each
    batch's mean coarse quantization error — computed from the assignment
    join this upsert already performs — folds into the running drift
    ratio (operators/drift.py; ratio > trigger ⇒ retrain_recommended).
    Artifacts without a baseline behave exactly as before.

    At 100 TB: a micro-batch touching f of n_cells directories costs f/n
    of a full rebuild plus one two-column id scan for the stale-cell
    lookup (amortizable with an id→cell sidecar table if even that scan
    matters), and the rewrite parallelizes per cell."""
    import os as _os

    from .drift import drift_path, mean_coarse_qerr, record_batch_qerr

    # keep ALL of new_rows' columns — the layout may carry metadata
    # (e.g. the label column filtered ANN pushes down on)
    track = _os.path.exists(drift_path(_os.path.dirname(corpus_path)))
    assigned = ivf_assign(
        new_rows, centroids, item_vec=item_vec,
        keep_dist="_qerr" if track else None,
    )
    if track:
        m, n = mean_coarse_qerr(assigned, "_qerr")
        record_batch_qerr(_os.path.dirname(corpus_path), m, n)
        assigned = assigned.drop("_qerr")
    new_ids = assigned.select(item_id).distinct()
    stale_cells = (
        read_layout(spark, corpus_path)
        .select(item_id, "cell")
        .join(F.broadcast(new_ids), item_id, "left_semi")
        .select("cell")
        .distinct()
    )
    affected = sorted(
        {r.cell for r in assigned.select("cell").distinct().collect()}
        | {r.cell for r in stale_cells.collect()}
    )
    # localCheckpoint breaks lineage to corpus_path so the dynamic
    # overwrite isn't a read-from/write-to-same-path conflict
    old = (
        read_layout(spark, corpus_path)
        .filter(F.col("cell").isin(affected))
        .join(assigned.select(item_id), item_id, "left_anti")
        .localCheckpoint(eager=True)
    )
    final = old.unionByName(assigned)
    (
        final.repartition("cell")
        .sortWithinPartitions(item_id)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(corpus_path)
    )
    # dynamic overwrite only rewrites partitions PRESENT in the output: a
    # cell left empty by the upsert (its only rows moved elsewhere) writes
    # nothing, so its stale directory must be dropped explicitly
    present = {r.cell for r in final.select("cell").distinct().collect()}
    drop_empty_cell_dirs(corpus_path, set(affected) - present)
    return [int(c) for c in affected]


def ivf_cell_split(
    spark,
    corpus_path: str,
    centroids: DataFrame,
    cell: int,
    n_subcells: int = 2,
    seed: int = 42,
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> tuple[DataFrame, list[int]]:
    """Split one over-full IVF cell in place — the incremental REBALANCE a
    drifting corpus needs between offline re-trains (the FAISS-world
    analogue is a full retrain; a partitioned lakehouse layout can do
    better because cells are directories).

    Local KMeans over ONLY the split cell's rows (a partition-pruned
    scan) trains ``n_subcells`` sub-centroids; the cell's rows are
    rewritten under FRESH cell ids (max_cell+1..), the old directory is
    removed, and the centroid table drops the split cell's row and gains
    the sub-centroid rows. Every other directory is untouched bytes, so
    the cost is O(split cell), not O(index).

    Returns (new_centroids DataFrame, new cell ids). Search correctness
    is layout-closure again: the rewritten layout + returned centroid
    table describe exactly the same row set, so a full probe equals the
    pre-split full probe bit-for-bit (tested), and pruned probes improve
    because occupancy halves."""
    import os
    import shutil

    old_rows = (
        read_layout(spark, corpus_path)
        .filter(F.col("cell") == cell)
        .drop("cell")
        .localCheckpoint(eager=True)
    )
    n_in_cell = old_rows.count()
    if n_in_cell == 0:
        raise ValueError(f"cell {cell} is empty or absent")
    max_cell = centroids.agg(F.max("cell")).first()[0]
    sub = kmeans_centroids(
        old_rows, n_cells=min(n_subcells, n_in_cell), item_vec=item_vec, seed=seed
    )
    # remap sub-cell ids 0..k-1 onto fresh global ids max_cell+1..
    sub = sub.select(
        (F.col("cell") + F.lit(int(max_cell) + 1)).alias("cell"), "centroid"
    )
    assigned = ivf_assign(old_rows, sub, item_vec=item_vec)
    (
        assigned.repartition("cell")
        .sortWithinPartitions(item_id)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(corpus_path)
    )
    old_dir = os.path.join(corpus_path, f"cell={cell}")
    if os.path.isdir(old_dir):
        shutil.rmtree(old_dir)
    new_cents = centroids.filter(F.col("cell") != cell).unionByName(sub)
    new_ids = sorted(
        int(r.cell) for r in assigned.select("cell").distinct().collect()
    )
    return new_cents, new_ids


def drop_empty_cell_dirs(path: str, cells) -> None:
    """Remove ``cell=<c>`` directories whose cell was rewritten to empty by
    a dynamic-partition-overwrite upsert (local-filesystem layouts; on an
    object store this is a prefix delete)."""
    import os
    import shutil

    for c in cells:
        d = os.path.join(path, f"cell={c}")
        if os.path.isdir(d):
            shutil.rmtree(d)


def ivf_ann_pruned(
    queries: DataFrame,
    spark,
    corpus_path: str,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    item_id: str = "item_id",
    item_vec: str = "embedding",
    predicate: Column | str | None = None,
) -> DataFrame:
    """IVF search against a cell-partitioned corpus on disk. The probed
    cell set is resolved first (tiny centroid kNN), then pushed into the
    scan as a partition filter — `.explain` shows PartitionFilters with
    `cell IN (...)` and only n_probe directories are read.

    ``predicate`` is an optional metadata filter (filtered ANN, the
    vector-DB ``where=`` clause) applied as a PRE-filter: it lands on the
    pruned scan itself (``PushedFilters`` in the plan, next to the
    partition filter), so candidates are restricted *before* any distance
    is computed and the returned top-k is exactly the top-k of the
    filtered corpus within the probed cells — never fewer than k survivors
    post-hoc, the failure mode of post-filtering."""
    from pyspark.sql import functions as F

    qcells = exact_knn(
        queries,
        centroids,
        k=n_probe,
        query_id=query_id,
        query_vec=query_vec,
        item_id="cell",
        item_vec="centroid",
    ).select(F.col("query_id"), F.col("item_id").alias("cell"))
    probed = sorted({r.cell for r in qcells.collect()})
    corpus = read_layout(spark, corpus_path).filter(F.col("cell").isin(probed))
    if predicate is not None:
        corpus = corpus.filter(predicate)
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")
    ).join(qcells, "query_id")
    # broadcast the probe side for the same reason as ivf_ann_topk above
    cand = F.broadcast(q).join(corpus, "cell").select(
        "query_id",
        F.col(item_id).alias("item_id"),
        l2_dist(F.col("_qvec"), F.col(item_vec)).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "dist")
    )


def write_lsh_corpus(
    corpus: DataFrame,
    path: str,
    n_planes: int = LSH_N_PLANES,
    dim: int = 64,
    seed: int = LSH_SEED,
    item_vec: str = "embedding",
) -> None:
    """Persist the corpus partitioned by LSH bucket (sign signature) — the
    storage twin of write_ivf_corpus: multiprobe reads become partition-
    pruned scans over the probed bucket directories."""
    planes = _hyperplanes(dim, n_planes, seed)
    corpus.withColumn("bucket", _signature(F.col(item_vec), planes)).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)


def lsh_ann_pruned(
    queries: DataFrame,
    spark,
    corpus_path: str,
    k: int = 10,
    n_planes: int = LSH_N_PLANES,
    n_probe_bits: int = 2,
    dim: int = 64,
    seed: int = LSH_SEED,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    item_id: str = "item_id",
    item_vec: str = "embedding",
) -> DataFrame:
    """Multiprobe LSH against a bucket-partitioned corpus on disk: resolve
    the probe set driver-side (tiny), push `bucket IN (...)` into the scan
    (partition pruning), exact re-rank the candidates."""
    import itertools

    planes = _hyperplanes(dim, n_planes, seed)
    q0 = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("_qvec"),
        _signature(F.col(query_vec), planes).alias("sig"),
    )
    probes = [F.col("sig")]
    for r in range(1, n_probe_bits + 1):
        for bits in itertools.combinations(range(n_planes), r):
            mask = 0
            for b in bits:
                mask |= 1 << b
            probes.append(F.expr(f"int(sig ^ {mask})"))
    q = q0.select(
        "query_id", "_qvec", F.explode(F.array(*probes)).alias("bucket")
    ).dropDuplicates(["query_id", "bucket"])
    probed = sorted({r.bucket for r in q.select("bucket").distinct().collect()})
    corpus = read_layout(spark, corpus_path).filter(F.col("bucket").isin(probed))
    # broadcast the probe side (queries x probed buckets — tiny) so the
    # pruned corpus scan is never shuffled (guide §3.1/§8)
    cand = F.broadcast(q).join(corpus, "bucket").select(
        "query_id",
        F.col(item_id).alias("item_id"),
        l2_dist(F.col("_qvec"), F.col(item_vec)).alias("dist"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "dist")
    )
