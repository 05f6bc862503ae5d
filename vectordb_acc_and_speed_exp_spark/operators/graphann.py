"""Partition-local graph ANN (NSW) — the Spark answer to the reference's
HNSW index (chromadb_acc_experiment.py:622-628 uses ChromaDB's in-process
HNSW; SURVEY.md §7 phase 5 names "partition-local graph index + global
top-k merge" as the parity path).

A monolithic HNSW cannot exist on a 1000-executor cluster — the graph
would have to fit one machine. The distributed form is scatter-gather:

- **shard** the corpus into P partitions (hash of id — or reuse IVF cells
  for locality);
- **build** one navigable-small-world graph PER SHARD with
  ``applyInPandas`` (each group builds independently, in parallel, with
  numpy — no driver involvement, no cross-shard edges);
- **search** a WRITTEN index (``graph_ann_pruned``,
  ``graph_ann_cell_probed``) without reading it through Spark: the driver
  lists the shard part files (path, size, mtime_ns — O(files) stats, the
  ``relcache.layout_sig`` discipline; the cell-probed path keeps only the
  probed shards) and ships that list, plus the query batch, to ONE
  ``mapInPandas`` task. The Python worker keeps parsed shards (vectors,
  ids, adjacency) resident in a byte-bounded LRU keyed by file identity
  and reads a shard with pyarrow only on a miss. Part files are
  immutable and every write (upsert, rebuild) lands new UUID-named
  files, so a key hit is the same bytes. No index row crosses Spark, no
  shuffle runs, and the query pays one Python task;
- **search** an in-memory index DataFrame (``graph_ann``) with the same
  per-shard beam-search function, as ``applyInPandas`` per shard;
- **merge** with one global (dist, item_id) window top-k over P*k tiny
  rows (no shuffle on the one-task path: its output is one partition).

Why one task: a Python task has a fixed cost. On Python 3.11 each task's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, and each of
the worker's 16 zip importers re-reads ``pyspark.zip``'s directory: 170-275
ms of the ~300 ms of worker CPU a no-op ``mapInPandas`` task costs (4-core
VM, Spark 4.1.2 ``local[4]``, workers reused). Measured there at 4,000 × 64
in 8 shards, warm: the shards packed into 4 tasks cost 1,283 ms of worker
CPU per query, in one task 285-317 ms, while the beam searches over all 8
shards take ~14 ms and a cache miss re-parses the whole index in ~60 ms.
So the shards go into the fewest tasks — one — until a batch's search
time outweighs a task's fixed cost.

Per-query work is P * O(ef * M * log(n/P)) distance evaluations instead
of O(n): the graph prunes within a shard the way HNSW prunes globally,
and shards add a fan-out factor that buys embarrassing parallelism and
incremental build (re-build only the shard whose data changed).

The single-layer NSW (Malkov et al. 2014 — HNSW's layer-0) is used
instead of the hierarchical variant: shard sizes (n/P) are small enough
that the hierarchy's log-factor entry-point descent buys little, and the
flat structure keeps the build deterministic and the adjacency a plain
(node, neighbors) table that parquet stores naturally.

Determinism: insertion in ascending id order, fixed entry point (first
node), float64 distances with id tie-breaks — same corpus + params =>
bit-identical graph and results on any partitioning, and on either
search path.
"""

from __future__ import annotations

import heapq
import os
import sys
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.relcache import read_layout

DEFAULT_M = 12  # edges added per insert (degree cap = 2*M)
DEFAULT_EF_BUILD = 48
DEFAULT_EF_SEARCH = 48
DEFAULT_N_SHARDS = 8


def _nsw_search(
    V: np.ndarray, adj: list[np.ndarray], q: np.ndarray, ef: int, entry: int
) -> tuple[list[tuple[float, int]], int]:
    """Greedy beam search over the (partial) graph; returns (up to ``ef``
    (dist, node) pairs sorted ascending, number of nodes visited).
    Deterministic: ties broken by node id via the heap tuple order."""
    d0 = float(np.linalg.norm(V[entry] - q))
    visited = {entry}
    cand: list[tuple[float, int]] = [(d0, entry)]  # min-heap on (dist, id)
    best: list[tuple[float, int]] = [(-d0, entry)]  # max-heap via negation
    while cand:
        d, u = heapq.heappop(cand)
        if -best[0][0] < d and len(best) >= ef:
            break
        nbrs = [v for v in adj[u] if v not in visited]
        if not nbrs:
            continue
        visited.update(nbrs)
        dists = np.linalg.norm(V[nbrs] - q, axis=1)
        for dv, v in zip(dists.tolist(), nbrs):
            if len(best) < ef or dv < -best[0][0]:
                heapq.heappush(cand, (dv, v))
                heapq.heappush(best, (-dv, v))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted((-nd, v) for nd, v in best), len(visited)


def build_nsw(
    V: np.ndarray, M: int = DEFAULT_M, ef_build: int = DEFAULT_EF_BUILD
) -> list[np.ndarray]:
    """Build a single-layer NSW over rows of V (insert in row order, connect
    each new node to its M nearest found by beam search, cap degree at 2M
    by keeping the closest)."""
    n = len(V)
    adj: list[np.ndarray] = [np.empty(0, dtype=np.int64) for _ in range(n)]
    if n <= 1:
        return adj
    deg_cap = 2 * M
    for i in range(1, n):
        found, _ = _nsw_search(V, adj, V[i], ef_build, entry=0)
        nbrs = [v for _, v in found[:M]]
        adj[i] = np.array(sorted(nbrs), dtype=np.int64)
        for v in nbrs:
            merged = np.append(adj[v], i)
            if len(merged) > deg_cap:
                d = np.linalg.norm(V[merged] - V[v], axis=1)
                # keep the deg_cap closest, id tie-break for determinism
                order = np.lexsort((merged, d))[:deg_cap]
                merged = merged[order]
            adj[v] = np.sort(merged)
    return adj


def build_graph_index(
    corpus: DataFrame,
    n_shards: int = DEFAULT_N_SHARDS,
    M: int = DEFAULT_M,
    ef_build: int = DEFAULT_EF_BUILD,
    item_id: str = "item_id",
    item_vec: str = "embedding",
    shard_col: str | None = None,
) -> DataFrame:
    """(shard, item_id, embedding, neighbors array<id type>) — one NSW per
    shard, built in parallel with applyInPandas; ``neighbors`` holds item
    ids (not positions), so the table is self-contained and joinable.

    Shard = crc32(id) % n_shards — deterministic and partition-independent.
    Pass ``shard_col`` (e.g. the ``cell`` from ivf_assign) to shard by
    CLUSTER instead of by hash: hash shards force a full scatter at search
    time, cluster shards make shards prunable (see graph_ann_cell_probed —
    the SPANN-style composition of IVF partition pruning with graph
    search). At scale, persist with ``write_graph_index`` (partitioned by
    shard)."""
    id_t = dict(corpus.dtypes)[item_id]
    shard_expr = (
        (F.crc32(F.col(item_id).cast("string")) % n_shards)
        if shard_col is None
        else F.col(shard_col).cast("bigint")
    )
    src = corpus.select(
        F.col(item_id).alias("item_id"),
        F.col(item_vec).cast("array<double>").alias("embedding"),
        shard_expr.alias("shard"),
    )
    return _build_sharded(src, id_t, M=M, ef_build=ef_build)


def _build_sharded(
    src: DataFrame, id_t: str, M: int = DEFAULT_M, ef_build: int = DEFAULT_EF_BUILD
) -> DataFrame:
    """One NSW per shard of a (item_id, embedding, shard) frame. Rows are
    sorted by item_id before insertion, so a shard's graph depends only on
    its row SET — rebuilding a shard from the same rows is bit-identical
    regardless of arrival order (the property graph_index_upsert relies
    on)."""

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("item_id").reset_index(drop=True)
        V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        adj = build_nsw(V, M=M, ef_build=ef_build)
        ids = pdf["item_id"].to_numpy()
        return pd.DataFrame(
            {
                "shard": pdf["shard"],
                "item_id": ids,
                "embedding": pdf["embedding"],
                "neighbors": [ids[a].tolist() for a in adj],
            }
        )

    return src.groupBy("shard").applyInPandas(
        build_shard,
        schema=f"shard bigint, item_id {id_t}, embedding array<double>, "
        f"neighbors array<{id_t}>",
    )


def _collect_queries(
    queries: "DataFrame", query_id: str, query_vec: str
) -> list[tuple]:
    """Collect the query batch for shipping to the search task, guarded
    byte-true the same way simjoin guards its corpus collect: the
    admissible batch size depends on dim, not just rows. One bounded
    action after a one-row probe for dim — ``first()`` + ``limit(cap_rows
    + 1).collect()`` — so the driver never holds more than the cap plus
    one row, and a driver-local (VALUES) batch runs no Spark job at all
    (a ``count()`` there costs two). Past the cap, split the query batch —
    the corpus side never reaches the driver in any graph path."""
    from .simjoin import DEFAULT_BROADCAST_CAP_BYTES, _check_matrix_bytes

    qsel = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qv")
    )
    head = qsel.select("_qv").first()
    if head is None:
        return []
    dim = len(head[0])
    cap_rows = DEFAULT_BROADCAST_CAP_BYTES // (8 * max(dim, 1))
    rows = qsel.limit(cap_rows + 1).collect()
    _check_matrix_bytes(len(rows), dim, DEFAULT_BROADCAST_CAP_BYTES, "query")
    return [(r._qid, np.array(r._qv, dtype=np.float64)) for r in rows]


def _shard_graph(
    ids: np.ndarray, V: np.ndarray, nbr_ids: np.ndarray, nbr_lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """One shard's rows (ids, vectors, flattened neighbor ids and per-row
    neighbor counts, any order) -> (V, ids, adj) in ascending-id order,
    the node order the shard's graph was built in; adj holds node
    positions."""
    order = np.argsort(ids, kind="stable")
    ids, V = ids[order], V[order]
    pos = pd.Index(ids).get_indexer(nbr_ids).astype(np.int64, copy=False)
    if (pos < 0).any():
        raise ValueError("graph shard has a neighbor id that is not a node")
    starts = np.concatenate(([0], np.cumsum(nbr_lens)))
    adj = [pos[starts[r] : starts[r + 1]] for r in order]
    return V, ids, adj


def _beam_searches(shard, V, adj, queries, probe_map, ef):
    """(qid, found, n_visited) of the beam search of every query that
    probes ``shard`` (all of them when ``probe_map`` is None)."""
    if not len(V):
        return
    for qid, qv in queries:
        if probe_map is not None and shard not in probe_map.get(qid, ()):
            continue
        found, n_visited = _nsw_search(V, adj, qv, ef, entry=0)
        yield qid, found, n_visited


def _search_shard(shard, V, ids, adj, queries, probe_map, k, ef) -> pd.DataFrame:
    """(query_id, item_id, dist): each probing query's local top-k in one
    shard — the one search-and-emit step of both search paths."""
    out_q, out_i, out_d = [], [], []
    for qid, found, _ in _beam_searches(shard, V, adj, queries, probe_map, ef):
        for d, p in found[:k]:
            out_q.append(qid)
            out_i.append(ids[p])
            out_d.append(d)
    return pd.DataFrame({"query_id": out_q, "item_id": out_i, "dist": out_d})


def _pdf_graph(pdf: pd.DataFrame):
    """``_shard_graph`` of an index DataFrame's Arrow group."""
    nbrs = pdf["neighbors"]
    return _shard_graph(
        pdf["item_id"].to_numpy(),
        np.array(pdf["embedding"].tolist(), dtype=np.float64),
        np.concatenate([np.asarray(a) for a in nbrs]),
        np.array([len(a) for a in nbrs], dtype=np.int64),
    )


def _global_topk(local: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        local.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "dist")
    )


def graph_ann(
    queries: DataFrame,
    index: DataFrame,
    k: int = 10,
    ef_search: int = DEFAULT_EF_SEARCH,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    probe_map: dict | None = None,
) -> DataFrame:
    """Scatter-gather ANN over an in-memory graph index DataFrame: every
    shard runs the beam search for every query (applyInPandas per shard,
    queries shipped in the function), emits its local top-k, and one
    global window merges P*k rows. With ``probe_map`` ({query_id -> set of
    shard ids}), each shard only searches the queries that probe it — the
    gather side of cell-pruned search (graph_ann_cell_probed prunes the
    scatter side too). A written index is served by graph_ann_pruned
    instead, which reads no index row through Spark.
    Returns (query_id, rank, item_id, dist)."""
    qs = _collect_queries(queries, query_id, query_vec)
    qid_t = dict(queries.dtypes)[query_id]

    def search_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        V, ids, adj = _pdf_graph(pdf)
        shard = int(pdf["shard"].iloc[0])
        return _search_shard(shard, V, ids, adj, qs, probe_map, k, ef_search)

    iid_t = dict(index.dtypes)["item_id"]
    local = index.groupBy("shard").applyInPandas(
        search_shard, schema=f"query_id {qid_t}, item_id {iid_t}, dist double"
    )
    return _global_topk(local, k)


def graph_ann_visited_stats(
    queries: DataFrame,
    index: DataFrame,
    ef_search: int = DEFAULT_EF_SEARCH,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    probe_map: dict | None = None,
) -> DataFrame:
    """(query_id, shard, n_visited, shard_size) — how many nodes the beam
    actually touched per (query, shard): the graph path's analogue of the
    LSH scanned fraction (sum(n_visited)/sum(shard_size) per query).
    With ``probe_map``, stats cover only the probed (query, shard) pairs.
    Runs the same deterministic search, instrumented."""
    qs = _collect_queries(queries, query_id, query_vec)
    qid_t = dict(queries.dtypes)[query_id]

    def stat_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        V, ids, adj = _pdf_graph(pdf)
        shard = int(pdf["shard"].iloc[0])
        rows = [
            (qid, shard, n_visited, len(ids))
            for qid, _, n_visited in _beam_searches(
                shard, V, adj, qs, probe_map, ef_search
            )
        ]
        return pd.DataFrame(
            rows, columns=["query_id", "shard", "n_visited", "shard_size"]
        )

    return index.groupBy("shard").applyInPandas(
        stat_shard,
        schema=f"query_id {qid_t}, shard bigint, n_visited bigint, "
        "shard_size bigint",
    )


# -- resident shards: the written-index search path ---------------------------
# Byte bound on the parsed shards ONE Python worker keeps resident (vectors,
# ids, adjacency), enforced before insert by evicting least-recently-used
# shards; a shard larger than the bound is searched but not kept. Worst case
# on an executor: this bound × its Python workers (one per concurrently
# running Python task, at most its task slots). A worker Spark retires
# (idle, crashed) takes its cache with it; the next task re-reads.
SHARD_CACHE_BYTES = 256 << 20
# (path, size, mtime_ns) of each part file of a shard -> (V, ids, adj, bytes)
_SHARD_CACHE: OrderedDict = OrderedDict()


def _shard_files(index_path: str) -> dict[int, tuple]:
    """{shard -> ((path, size, mtime_ns), ...)} of a written index's part
    files — one scandir per shard directory and one stat per file,
    skipping the ``_``/``.``-prefixed names Spark's reader skips."""
    out: dict[int, list] = {}
    with os.scandir(index_path) as it:
        for d in it:
            if not (d.name.startswith("shard=") and d.is_dir()):
                continue
            files = out.setdefault(int(d.name[len("shard=") :]), [])
            with os.scandir(d.path) as sub:
                for f in sub:
                    if f.name.startswith(("_", ".")) or not f.is_file():
                        continue
                    st = f.stat()
                    files.append((f.path, st.st_size, st.st_mtime_ns))
    return {s: tuple(sorted(f)) for s, f in sorted(out.items()) if f}


def _read_shard(paths) -> tuple[np.ndarray, np.ndarray, list[np.ndarray]]:
    """Parse one shard's part files with pyarrow into (V, ids, adj)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pa.concat_tables(
        pq.read_table(p, columns=["item_id", "embedding", "neighbors"])
        for p in paths
    )
    emb, nbrs = t.column("embedding"), t.column("neighbors")
    flat = np.asarray(pc.list_flatten(emb).to_numpy(), dtype=np.float64)
    return _shard_graph(
        t.column("item_id").to_numpy(),
        flat.reshape(t.num_rows, -1),
        pc.list_flatten(nbrs).to_numpy(zero_copy_only=False),
        pc.list_value_length(nbrs).to_numpy(zero_copy_only=False),
    )


def _graph_bytes(V, ids, adj) -> int:
    """Resident bytes of a parsed shard: arrays, the adjacency views'
    headers, and the id objects when ids are strings."""
    n = V.nbytes + ids.nbytes + sum(a.nbytes + sys.getsizeof(a) for a in adj)
    if ids.dtype == object:
        n += sum(sys.getsizeof(i) for i in ids)
    return n


def _resident_shard(files: tuple):
    """(V, ids, adj) of the shard whose part files are ``files``: from this
    worker's cache, else parsed and cached within SHARD_CACHE_BYTES."""
    hit = _SHARD_CACHE.pop(files, None)
    if hit is None:
        V, ids, adj = _read_shard([f[0] for f in files])
        hit = (V, ids, adj, _graph_bytes(V, ids, adj))
        if hit[3] > SHARD_CACHE_BYTES:
            return hit[:3]
        used = sum(e[3] for e in _SHARD_CACHE.values())
        while _SHARD_CACHE and used + hit[3] > SHARD_CACHE_BYTES:
            used -= _SHARD_CACHE.popitem(last=False)[1][3]
    _SHARD_CACHE[files] = hit
    return hit[:3]


def _graph_ann_files(
    queries: DataFrame,
    spark: SparkSession,
    index_path: str,
    k: int,
    ef_search: int,
    query_id: str,
    query_vec: str,
    probe_map: dict | None = None,
    shards=None,
) -> DataFrame:
    """Search a written index's shards (``shards``: those ids only) in one
    Python task over the driver-listed file list; see the module
    docstring. Rows equal graph_ann over read_layout(index_path)."""
    from pyspark.sql.pandas.types import from_arrow_type

    from ..io.local import local_df

    listed = _shard_files(index_path)
    if listed:
        import pyarrow.parquet as pq

        first = next(iter(listed.values()))[0][0]
        iid_t = from_arrow_type(
            pq.read_schema(first).field("item_id").type
        ).simpleString()
    else:
        iid_t = dict(read_layout(spark, index_path).dtypes)["item_id"]
    qs = _collect_queries(queries, query_id, query_vec)
    qid_t = dict(queries.dtypes)[query_id]
    files = {
        s: f for s, f in listed.items() if shards is None or s in shards
    }

    def search(batches):
        for pdf in batches:
            for s in pdf["shard"].tolist():
                V, ids, adj = _resident_shard(files[s])
                yield _search_shard(s, V, ids, adj, qs, probe_map, k, ef_search)

    shard_list = local_df(spark, [(s,) for s in files], "shard bigint")
    # coalesce(1): one task (see the module docstring), and a single
    # output partition, so the window merge below plans no Exchange
    local = shard_list.coalesce(1).mapInPandas(
        search, schema=f"query_id {qid_t}, item_id {iid_t}, dist double"
    )
    return _global_topk(local, k)


def write_graph_index(index: DataFrame, path: str) -> None:
    """Persist the graph shard-partitioned: searches read every shard (the
    scatter is by design), but a shard rebuild rewrites one directory, and
    shard-parallel reads map 1:1 onto executors."""
    (
        index.repartition("shard")
        .sortWithinPartitions("item_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def graph_index_upsert(
    spark: SparkSession,
    index_path: str,
    new_rows: DataFrame,
    n_shards: int = DEFAULT_N_SHARDS,
    M: int = DEFAULT_M,
    ef_build: int = DEFAULT_EF_BUILD,
    item_id: str = "item_id",
    item_vec: str = "embedding",
    shard_col: str | None = None,
) -> list[int]:
    """Incremental maintenance of a written graph index: new (or changed)
    rows rebuild ONLY the shards they land in; every other shard directory
    is untouched bytes. Returns the rebuilt shard ids.

    Because _build_sharded sorts by item_id before inserting, a rebuilt
    shard is bit-identical to what a from-scratch build of the full corpus
    would produce for that shard — upsert(build(A), B) == build(A ∪ B)
    exactly (tested). Rows in ``new_rows`` whose item_id already exists
    REPLACE the old rows (same id ⇒ same shard, so the replacement is
    complete).

    Pass the same sharding the index was built with: ``n_shards`` for hash
    shards, or ``shard_col`` when ``new_rows`` carries a cell assignment
    (ivf_assign with the index's centroids). The write uses dynamic
    partition overwrite — only the rebuilt ``shard=`` directories are
    replaced. At 100 TB this is the ingest path: a micro-batch touching
    f of P shards costs f/P of a full rebuild, embarrassingly parallel."""
    id_t = dict(new_rows.dtypes)[item_id]
    shard_expr = (
        (F.crc32(F.col(item_id).cast("string")) % n_shards)
        if shard_col is None
        else F.col(shard_col).cast("bigint")
    )
    src = new_rows.select(
        F.col(item_id).alias("item_id"),
        F.col(item_vec).cast("array<double>").alias("embedding"),
        shard_expr.alias("shard"),
    )
    affected = sorted(r.shard for r in src.select("shard").distinct().collect())
    # localCheckpoint breaks the lineage back to index_path so the dynamic
    # overwrite below isn't a read-from/write-to-same-path conflict
    old = (
        read_layout(spark, index_path)
        .filter(F.col("shard").isin(affected))
        .select("item_id", "embedding", F.col("shard").cast("bigint").alias("shard"))
        .join(src.select("item_id"), "item_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    rebuilt = _build_sharded(old.unionByName(src), id_t, M=M, ef_build=ef_build)
    (
        rebuilt.repartition("shard")
        .sortWithinPartitions("item_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(index_path)
    )
    return [int(s) for s in affected]


def graph_ann_pruned(
    queries: DataFrame,
    spark: SparkSession,
    index_path: str,
    k: int = 10,
    ef_search: int = DEFAULT_EF_SEARCH,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Search a written graph index: resident shards in one Python task,
    no index row read through Spark (see the module docstring)."""
    return _graph_ann_files(
        queries, spark, index_path, k, ef_search, query_id, query_vec
    )


def query_probe_map(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> dict:
    """{query_id -> set of cell/shard ids}: each query's n_probe nearest
    coarse-quantizer cells (tiny centroid kNN — n_cells rows per query,
    centroids broadcast). The collected map is O(n_queries × n_probe) —
    bytes, independent of corpus size."""
    from .knn import exact_knn

    qcells = exact_knn(
        queries,
        centroids,
        k=n_probe,
        query_id=query_id,
        query_vec=query_vec,
        item_id="cell",
        item_vec="centroid",
    ).select("query_id", F.col("item_id").alias("shard"))
    probe_map: dict = {}
    for r in qcells.collect():
        probe_map.setdefault(r.query_id, set()).add(int(r.shard))
    return probe_map


def graph_ann_cell_probed(
    queries: DataFrame,
    spark: SparkSession,
    index_path: str,
    centroids: DataFrame,
    k: int = 10,
    ef_search: int = DEFAULT_EF_SEARCH,
    n_probe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """SPANN-style cell-pruned graph search: the index was built with
    shard = IVF cell (build_graph_index(shard_col="cell")), so a query
    needs only its n_probe nearest cells — resolved by a tiny centroid
    kNN — so only those shards' files are listed for the search task (the
    others are never read or kept resident), and each probed shard runs
    the beam search for exactly the queries that probe it.

    This composes the two pruning mechanisms: IVF partition pruning cuts
    WHICH shards are touched (n_probe/n_cells of the data), the graph cuts
    how much of each touched shard is VISITED (ef·M·log(n/P), not n/P).
    At 1000 executors the hash-sharded scatter-gather touches all 1000
    graphs per query; this path touches n_probe of them."""
    probe_map = query_probe_map(
        queries, centroids, n_probe, query_id=query_id, query_vec=query_vec
    )
    probed = set().union(*probe_map.values()) if probe_map else set()
    return _graph_ann_files(
        queries, spark, index_path, k, ef_search, query_id, query_vec,
        probe_map=probe_map, shards=probed,
    )
