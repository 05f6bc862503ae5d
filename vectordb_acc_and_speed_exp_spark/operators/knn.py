"""Exact k-NN search (reference V2/V4: brute-force L2 + top-k,
chromadb_acc_experiment.py:508-537).

Spark-first shape: the query set is tiny (the reference uses 5 fixed NL
queries, chromadb_speed_experiment.py:651-657) so it is **broadcast**; the
corpus scan is one shuffle-free pass computing the distance expression inside
whole-stage codegen; top-k per query is a window ``row_number`` over
(distance, id) — with AQE this is a partial top-k per partition followed by a
k-row-per-query shuffle, never a full sort of the corpus.

At 100 TB the plan is: parquet scan (column-pruned to id+vector) →
BroadcastNestedLoopJoin against the 5-row query table → codegen distance →
per-partition rank pre-filter → final per-query top-k. No large shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine_sim, dot, l2_dist

METRICS = {
    "l2": lambda q, v, dim=None: l2_dist(q, v, dim=dim),
    # cosine *distance* so that smaller-is-closer holds for every metric
    "cosine": lambda q, v, dim=None: 1.0 - cosine_sim(q, v, dim=dim),
    # max inner product (MIPS) as negated dot so smaller-is-closer holds —
    # the third metric of the production trio (pgvector <#>, FAISS
    # METRIC_INNER_PRODUCT, ChromaDB hnsw:space=ip)
    "ip": lambda q, v, dim=None: -dot(q, v, dim=dim),
}


def exact_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    metric: str = "l2",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    item_id: str = "item_id",
    item_vec: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbours for every query.

    Returns (query_id, rank, item_id, dist) with rank 1..k ascending by
    (dist, item_id) — the deterministic version of the reference's
    ``np.argsort(distances)[:top_k]`` (chromadb_acc_experiment.py:534; ties
    there fall to argsort stability, here to the id tie-break).

    ``dim``: opt-in unrolled distance kernel for large corpus scans
    (functions.vector docstring — bit-identical, ~2.5-4x per-row win, but
    seconds of fixed planning cost per query, so only for scans big
    enough to amortize it; leave None for default/small corpora).
    """
    if metric not in METRICS:
        raise ValueError(f"unknown metric {metric!r}; one of {sorted(METRICS)}")
    dist = METRICS[metric](
        F.col("q." + query_vec), F.col("c." + item_vec), dim=dim
    )
    scored = (
        corpus.alias("c")
        .crossJoin(F.broadcast(queries.alias("q")))
        .select(
            F.col("q." + query_id).alias("query_id"),
            F.col("c." + item_id).alias("item_id"),
            dist.alias("dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "dist")
    )
