"""Vector-search query surface (SURVEY.md §2.3 V2/V4/V5/V7).

The query set mirrors the reference's 5 fixed queries
(chromadb_speed_experiment.py:651-657): the embeddings rows with vec_id < 5,
broadcast against the corpus. Distances are computed in double and rounded
to 4 dp on both engines only in the *emitted* column; ranking happens on the
unrounded value with an id tie-break (the deterministic form of
np.argsort stability, chromadb_acc_experiment.py:534).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from ..io import load_table
from ..io.local import local_df
from ..operators.knn import exact_knn
from . import register

_QUERY_SET_SQL = (
    "SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv "
    "FROM embeddings WHERE vec_id < 5"
)
_L2_SQL = "sqrt(list_sum(list_transform(range(1, 65), i -> (qv[i] - ev[i]) ^ 2)))"
_DOT_SQL = "list_sum(list_transform(range(1, 65), i -> qv[i] * ev[i]))"
_NORM = "sqrt(list_sum(list_transform(range(1, 65), i -> {v}[i] * {v}[i])))"
_COS_SQL = (
    f"({_DOT_SQL}) / (({_NORM.format(v='qv')}) * ({_NORM.format(v='ev')}))"
)


def _query_set(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


# --------------------------------------------------------------------------
# V2+V4: exact brute-force k-NN, L2 (the reference's golden oracle,
# chromadb_acc_experiment.py:508-537).
# --------------------------------------------------------------------------
@register(
    "knn_exact_l2",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, item_id) AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 10
""",
)
def knn_exact_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = exact_knn(_query_set(spark, sf_dir), emb, k=10, metric="l2", item_id="vec_id")
    return res.select(
        "query_id", "rank", "item_id", F.round("dist", 4).alias("dist_r")
    )


# --------------------------------------------------------------------------
# S8 client facade under the hard gate: the SAME search as knn_exact_l2 but
# routed end-to-end through the VectorStore surface (create_collection ->
# parquet collection -> query(mode="exact", query_vecs=...)) — proving the
# facade adds no semantic drift (id round-trip through string, float32
# vector round-trip through the driver, query_id-by-position remap).
# Oracle = knn_exact_l2's SQL verbatim.
# --------------------------------------------------------------------------
@register(
    "client_facade_knn",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, CAST(item_id AS VARCHAR)) AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 10
""",
    doc="VectorStore facade (api.py) under the hard gate: collection "
    "round-trip + query(mode='exact') must equal knn_exact_l2 bit-for-bit; "
    "the oracle tie-breaks equal distances LEXICOGRAPHICALLY because the "
    "facade's ids are strings (ChromaDB semantics) — with duplicate "
    "embeddings a numeric tie-break would diverge ('10' < '2')",
)
def client_facade_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..api import VectorStore

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="facade_gate_")
    try:
        store = VectorStore(spark, root, dim=64)
        store.create_collection(
            "corpus",
            emb.select(
                F.col("vec_id").cast("string").alias("id"), F.col("embedding")
            ),
        )
        # facade query_id = position in the input list; collect the 5-vector
        # query set (bounded) ordered by vec_id and remap position -> vec_id
        # afterwards so the output keys match the oracle even if ids were
        # non-contiguous
        qrows = (
            emb.filter(F.col("vec_id") < 5)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        res = store.query(
            "corpus",
            query_vecs=[[float(x) for x in r.embedding] for r in qrows],
            k=10,
            mode="exact",
        )
        qmap = local_df(spark, 
            [(i, int(r.vec_id)) for i, r in enumerate(qrows)],
            "pos bigint, query_id bigint",
        )
        out = (
            res.withColumnRenamed("query_id", "pos")
            .join(F.broadcast(qmap), "pos")
            .select(
                "query_id",
                "rank",
                F.col("item_id").cast("bigint").alias("item_id"),
                F.round("dist", 4).alias("dist_r"),
            )
        )
        # materialize before dropping the temp collection the plan reads
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# S8 + EP8: the facade's where= served by mode="auto" (the measured
# filtered-search chooser, operators/filtered.py) under the hard gate. At
# test SF the chooser's honest decision is the exact branch (corpus below
# EXACT_CROSSOVER_N), which is SQL-expressible — so this entry gate-proves
# the whole route: collection round-trip -> lazily built per-collection IVF
# layout -> selectivity probe -> exact-over-survivors plan.
# --------------------------------------------------------------------------
@register(
    "client_facade_filtered_auto",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
  WHERE e.label < 3
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, CAST(item_id AS VARCHAR)) AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 10
""",
    doc="VectorStore.query(where='label < 3', mode='auto') must equal the "
    "filtered exact kNN bit-for-bit (string-id tie-break, the facade "
    "convention): the chooser picks exact-over-survivors below the "
    "measured crossover and the predicate pushes into the IVF layout scan",
)
def client_facade_filtered_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_filtered_roundtrip(
        spark, sf_dir, "facade_auto_gate_", mode="auto", where="label < 3"
    )


def _facade_filtered_roundtrip(
    spark: SparkSession, sf_dir: str, prefix: str, **query_kwargs
) -> DataFrame:
    """Shared harness for the filtered facade gate entries: collection
    round-trip (id + embedding + label metadata) -> store.query(k=10,
    **kwargs) -> position->vec_id remap."""
    import shutil
    import tempfile

    from ..api import VectorStore

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        store = VectorStore(spark, root, dim=64)
        store.create_collection(
            "corpus",
            emb.select(
                F.col("vec_id").cast("string").alias("id"),
                F.col("embedding"),
                F.col("label"),
            ),
        )
        qrows = (
            emb.filter(F.col("vec_id") < 5)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        res = store.query(
            "corpus",
            query_vecs=[[float(x) for x in r.embedding] for r in qrows],
            k=10,
            **query_kwargs,
        )
        qmap = local_df(spark,
            [(i, int(r.vec_id)) for i, r in enumerate(qrows)],
            "pos bigint, query_id bigint",
        )
        out = (
            res.withColumnRenamed("query_id", "pos")
            .join(F.broadcast(qmap), "pos")
            .select(
                "query_id",
                "rank",
                F.col("item_id").cast("bigint").alias("item_id"),
                F.round("dist", 4).alias("dist_r"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "client_facade_filtered_tr1",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
  WHERE e.label < 3
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, CAST(item_id AS VARCHAR)) AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 10
""",
    doc="VectorStore.query(mode='ivfbq', where='label < 3', "
    "target_recall=1.0): the filtered recall dial at its provable fixed "
    "point — the target routes through the EP8 chooser as a full-probe "
    "floor from the measured curve, which the chooser always serves as "
    "exact-over-survivors == filtered exact kNN bit-for-bit (round 9: "
    "where+target used to be refused; now the curve floor and the "
    "selectivity widening compose)",
)
def client_facade_filtered_tr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_filtered_roundtrip(
        spark, sf_dir, "facade_ftr1_", mode="ivfbq", where="label < 3",
        target_recall=1.0,
    )


# --------------------------------------------------------------------------
# Round 10 (VERDICT r09 Missing #1): where= + target_recall= on the FLAT
# compressed families. tr < 1 serves a shortlist from the selectivity-
# binned filtered curve (api._ensure_filtered_shortlist_curve, read by
# probetune.choose_budget); these
# entries pin the tr >= 1 fixed point — exact-over-survivors == filtered
# exact kNN bit-for-bit — for each family, so the dial's guarantee is
# hash-oracled on the same route a real "compressed collection + metadata
# filter + recall target" call takes.
# --------------------------------------------------------------------------
_FACADE_FILTERED_EXACT_SQL = f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
  WHERE e.label < 3
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, CAST(item_id AS VARCHAR)) AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 10
"""


@register(
    "client_facade_pq_filtered_tr1",
    oracle=_FACADE_FILTERED_EXACT_SQL,
    doc="VectorStore.query(mode='pq', where='label < 3', "
    "target_recall=1.0): the flat-PQ filtered recall dial at its provable "
    "fixed point — tr >= 1 reroutes to exact-over-survivors == filtered "
    "exact kNN bit-for-bit (round 9 refused where+target on flat "
    "families; round 10 serves tr < 1 from the selectivity-binned "
    "filtered shortlist curve)",
)
def client_facade_pq_filtered_tr1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _facade_filtered_roundtrip(
        spark, sf_dir, "facade_pqftr1_", mode="pq", where="label < 3",
        target_recall=1.0,
    )


@register(
    "client_facade_sq_filtered_tr1",
    oracle=_FACADE_FILTERED_EXACT_SQL,
    doc="VectorStore.query(mode='sq', where='label < 3', "
    "target_recall=1.0): flat-SQ filtered dial fixed point — "
    "exact-over-survivors identity (see client_facade_pq_filtered_tr1)",
)
def client_facade_sq_filtered_tr1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _facade_filtered_roundtrip(
        spark, sf_dir, "facade_sqftr1_", mode="sq", where="label < 3",
        target_recall=1.0,
    )


@register(
    "client_facade_bq_filtered_tr1",
    oracle=_FACADE_FILTERED_EXACT_SQL,
    doc="VectorStore.query(mode='bq', where='label < 3', "
    "target_recall=1.0): flat-BQ filtered dial fixed point — "
    "exact-over-survivors identity (see client_facade_pq_filtered_tr1)",
)
def client_facade_bq_filtered_tr1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _facade_filtered_roundtrip(
        spark, sf_dir, "facade_bqftr1_", mode="bq", where="label < 3",
        target_recall=1.0,
    )


# --------------------------------------------------------------------------
# S8 + V3: the round-7 facade gap — PQ/SQ/IVF-PQ served through the client
# surface (VERDICT r07 #7). Each mode gets ONE oracled degeneration: budgets
# widened to the exact identity (shortlist >= corpus; ivfpq additionally
# probes every cell), so the whole facade route — collection round-trip,
# lazily built per-collection code artifacts, ADC scan, exact re-rank —
# hash-checks against the brute-force L2 oracle with the facade's
# string-id tie-break. The ANN-budget behavior of the same operators is
# covered by the ann_{pq,sq,ivfpq}_topk rows-only entries + recall floors.
# --------------------------------------------------------------------------
_FACADE_EXACT_SQL = f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist, CAST(item_id AS VARCHAR)) AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 10
"""


def _facade_exact_roundtrip(
    spark: SparkSession, sf_dir: str, prefix: str, **query_kwargs
) -> DataFrame:
    """Shared harness for the facade degeneration entries: collection
    round-trip -> store.query(k=10 unless overridden, shortlist=corpus,
    **kwargs) -> position->vec_id remap -> (query_id, rank,
    item_id bigint, dist_r)."""
    import shutil
    import tempfile

    from ..api import VectorStore

    k = int(query_kwargs.pop("k", 10))

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        store = VectorStore(spark, root, dim=64)
        store.create_collection(
            "corpus",
            emb.select(
                F.col("vec_id").cast("string").alias("id"), F.col("embedding")
            ),
        )
        n = emb.count()
        qrows = (
            emb.filter(F.col("vec_id") < 5)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        # target_recall= resolves every budget itself (explicit budgets
        # alongside it are refused); tr=1.0 sets shortlist to the corpus
        # internally, so the exact identity holds without passing it here
        if "target_recall" not in query_kwargs:
            query_kwargs = dict(query_kwargs, shortlist=n)
        res = store.query(
            "corpus",
            query_vecs=[[float(x) for x in r.embedding] for r in qrows],
            k=k,
            **query_kwargs,
        )
        qmap = local_df(
            spark,
            [(i, int(r.vec_id)) for i, r in enumerate(qrows)],
            "pos bigint, query_id bigint",
        )
        out = (
            res.withColumnRenamed("query_id", "pos")
            .join(F.broadcast(qmap), "pos")
            .select(
                "query_id",
                "rank",
                F.col("item_id").cast("bigint").alias("item_id"),
                F.round("dist", 4).alias("dist_r"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "client_facade_pq_fullrerank",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='pq', shortlist=corpus): the lazily-built "
    "per-collection PQ code artifact + ADC scan + exact re-rank must equal "
    "exact kNN bit-for-bit when the short-list covers everything — "
    "gate-proves the facade's persisted codebook/code round-trip",
)
def client_facade_pq_fullrerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(spark, sf_dir, "facade_pq_", mode="pq")


@register(
    "client_facade_sq_fullrerank",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='sq', shortlist=corpus): persisted int8 "
    "codes + per-dimension (vmin, scale) params round-trip through JSON "
    "exactly; full-shortlist re-rank == exact kNN",
)
def client_facade_sq_fullrerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(spark, sf_dir, "facade_sq_", mode="sq")


@register(
    "client_facade_ivfpq_fullprobe",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='ivfpq', n_probe=all, shortlist=corpus): "
    "coarse probe of every cell + full-shortlist ADC + exact re-rank == "
    "exact kNN — gate-proves the cell-partitioned facade code layout",
)
def client_facade_ivfpq_fullprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_ivfpq_", mode="ivfpq", n_probe=10**6
    )


@register(
    "client_facade_ivfsq_fullprobe",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='ivfsq', n_probe=all, shortlist=corpus): "
    "coarse probe of every cell + full-shortlist int8 decode scan + "
    "exact re-rank == exact kNN — gate-proves the facade's "
    "cell-partitioned IVF-SQ code layout (round 9: the mode joins the "
    "facade; the registry operator was already oracled via "
    "ann_ivfsq_fullprobe)",
)
def client_facade_ivfsq_fullprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_ivfsq_", mode="ivfsq", n_probe=10**6
    )


@register(
    "client_facade_target_recall1",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='ivfbq', target_recall=1.0, shortlist="
    "corpus): the probe autotuner (operators/probetune.py — n_probe from "
    "the collection's measured recall-vs-probes curve) at its provable "
    "fixed point: target 1.0 must choose full probe, and full probe + "
    "full shortlist == exact kNN — gate-proves the curve build, the "
    "persisted-sidecar round-trip, and the chooser end-to-end",
)
def client_facade_target_recall1(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_tr1_", mode="ivfbq", target_recall=1.0
    )


# target_recall=1.0 on every remaining approximate family (VERDICT r08
# #4): one oracled degeneration each. For pq/sq/bq the dial must resolve
# shortlist = corpus (full re-rank == exact, structurally guaranteed);
# for lsh it must resolve probe bits = n_planes (every one of the 2^b
# buckets probed ⇒ the candidate set IS the corpus); for mtlsh and graph
# the index structures cannot certify recall 1.0 (finite flip pool /
# degree-capped adjacency), so the dial's contract is a REROUTE to the
# exact scan — these two entries gate-prove the policy, while the index
# paths' own exactness is proven by mt_lsh_fullbudget and
# graph_ann_fullbeam.
@register(
    "client_facade_tr1_k25",
    oracle=_FACADE_EXACT_SQL.replace("rank <= 10", "rank <= 25"),
    doc="VectorStore.query(mode='ivfbq', target_recall=1.0, k=25): the "
    "recall dial at a NON-DEFAULT k (round 11 — serving calibration is "
    "keyed by the requested k; VERDICT r10 #1). tr=1.0 must resolve "
    "full probe + a corpus-sized shortlist FOR k=25 and return the "
    "exact top-25 bit-for-bit — gate-proves that k threads through the "
    "facade's budget resolution end-to-end, never clamped to the k=10 "
    "default (the measured-recall half, recall@25 >= target at tr < 1, "
    "is pinned in tests/test_probetune.py)",
)
def client_facade_tr1_k25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_tr1k25_", mode="ivfbq", target_recall=1.0,
        k=25,
    )


@register(
    "client_facade_pq_tr1",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='pq', target_recall=1.0): the shortlist "
    "dial at its provable fixed point — target 1.0 must resolve a "
    "corpus-sized re-rank, == exact kNN (no explicit budget passed)",
)
def client_facade_pq_tr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_pqtr1_", mode="pq", target_recall=1.0
    )


@register(
    "client_facade_sq_tr1",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='sq', target_recall=1.0) == exact kNN "
    "(corpus-sized re-rank resolved by the dial, not the caller)",
)
def client_facade_sq_tr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_sqtr1_", mode="sq", target_recall=1.0
    )


@register(
    "client_facade_bq_tr1",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='bq', target_recall=1.0) == exact kNN "
    "(corpus-sized Hamming shortlist resolved by the dial)",
)
def client_facade_bq_tr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_bqtr1_", mode="bq", target_recall=1.0
    )


@register(
    "client_facade_lsh_tr1",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='lsh', target_recall=1.0): probe bits "
    "resolve to n_planes, so every signature bucket is probed and the "
    "candidate set is the whole corpus — == exact kNN, structurally "
    "guaranteed (not just sampled-curve 1.0)",
)
def client_facade_lsh_tr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_lshtr1_", mode="lsh", target_recall=1.0
    )


@register(
    "client_facade_mtlsh_tr1",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='mtlsh', target_recall=1.0): the dial's "
    "exact-reroute contract — no finite flip-pool budget certifies 1.0, "
    "so the facade must serve the exact scan, == exact kNN",
)
def client_facade_mtlsh_tr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_mttr1_", mode="mtlsh", target_recall=1.0
    )


@register(
    "client_facade_graph_tr1",
    oracle=_FACADE_EXACT_SQL,
    doc="VectorStore.query(mode='graph', target_recall=1.0): the dial's "
    "exact-reroute contract — the degree-capped NSW cannot certify 1.0 "
    "at any beam width, so the facade must serve the exact scan",
)
def client_facade_graph_tr1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _facade_exact_roundtrip(
        spark, sf_dir, "facade_gtr1_", mode="graph", target_recall=1.0
    )


# --------------------------------------------------------------------------
# V2 cosine variant (similarity ranking; emitted as similarity, ranked by
# 1 - sim internally).
# --------------------------------------------------------------------------
@register(
    "knn_exact_cosine",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), sims AS (
  SELECT query_id, item_id, 1.0 - ({_COS_SQL}) AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, item_id) AS rank
  FROM sims
)
SELECT query_id, rank, item_id, round(1.0 - dist, 4) AS cos_sim_r
FROM ranked WHERE rank <= 10
""",
)
def knn_exact_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = exact_knn(
        _query_set(spark, sf_dir), emb, k=10, metric="cosine", item_id="vec_id"
    )
    return res.select(
        "query_id", "rank", "item_id", F.round(1.0 - F.col("dist"), 4).alias("cos_sim_r")
    )


# --------------------------------------------------------------------------
# V5: Recall@K evaluator, exercised on two deterministic rankings (cosine
# top-k evaluated against the L2 ground truth). The definition matches
# chromadb_acc_experiment.py:553-562 exactly: truncate both to k, intersect
# id sets, divide by |ground truth|.
# --------------------------------------------------------------------------
@register(
    "recall_cosine_vs_l2",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), both_d AS (
  SELECT query_id, item_id, {_L2_SQL} AS l2, 1.0 - ({_COS_SQL}) AS cosd FROM scored
), gt AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id ORDER BY l2, item_id) AS rank
  FROM both_d
), ret AS (
  SELECT query_id, item_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosd, item_id) AS rank
  FROM both_d
)
SELECT g.query_id,
       count(r.item_id) * 1.0 / count(*) AS recall
FROM (SELECT * FROM gt WHERE rank <= 10) g
LEFT JOIN (SELECT * FROM ret WHERE rank <= 10) r
  ON g.query_id = r.query_id AND g.item_id = r.item_id
GROUP BY g.query_id
""",
)
def recall_cosine_vs_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single corpus pass: both distances in one projection (like the oracle's
    # both_d CTE), two row_number windows over the SAME query_id exchange,
    # then recall as a conditional aggregate — no second scan, no join.
    # Because both rankings score the same (query, item) rows, the top-k set
    # intersection is exactly "gt_rank <= k AND ret_rank <= k".
    from pyspark.sql import Window

    from ..functions.vector import cosine_sim, l2_dist

    k = 10
    emb = load_table(spark, sf_dir, "embeddings")
    qs = _query_set(spark, sf_dir)
    scored = emb.alias("c").crossJoin(F.broadcast(qs.alias("q"))).select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.vec_id").alias("item_id"),
        l2_dist(F.col("q.query_vec"), F.col("c.embedding")).alias("l2"),
        (1.0 - cosine_sim(F.col("q.query_vec"), F.col("c.embedding"))).alias("cosd"),
    )
    wg = Window.partitionBy("query_id").orderBy(F.asc("l2"), F.asc("item_id"))
    wr = Window.partitionBy("query_id").orderBy(F.asc("cosd"), F.asc("item_id"))
    ranked = scored.select(
        "query_id",
        F.row_number().over(wg).alias("gt_rank"),
        F.row_number().over(wr).alias("ret_rank"),
    )
    hit = (F.col("gt_rank") <= k) & (F.col("ret_rank") <= k)
    return ranked.groupBy("query_id").agg(
        (
            F.sum(F.when(hit, 1).otherwise(0)).cast("double")
            / F.sum(F.when(F.col("gt_rank") <= k, 1).otherwise(0))
        ).alias("recall")
    )


# --------------------------------------------------------------------------
# Filtered vector search: top-3 per (query, label) — predicate + vector
# ranking combined, the "metadata where-clause" surface ChromaDB exposes on
# query() and the scale pattern for partition-pruned ANN.
# --------------------------------------------------------------------------
@register(
    "knn_per_label",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.label, e.vec_id AS item_id,
         CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), dists AS (
  SELECT query_id, label, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, label, item_id, dist,
         row_number() OVER (PARTITION BY query_id, label ORDER BY dist, item_id) AS rank
  FROM dists
)
SELECT query_id, label, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 3
""",
)
def knn_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..functions.vector import l2_dist

    emb = load_table(spark, sf_dir, "embeddings")
    qs = _query_set(spark, sf_dir, n=3)
    scored = emb.alias("c").crossJoin(F.broadcast(qs.alias("q"))).select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.label").alias("label"),
        F.col("c.vec_id").alias("item_id"),
        l2_dist(F.col("q.query_vec"), F.col("c.embedding")).alias("dist"),
    )
    w = Window.partitionBy("query_id", "label").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "label", "rank", "item_id", F.round("dist", 4).alias("dist_r"))
    )


# --------------------------------------------------------------------------
# Filtered exact kNN: the vector-DB `where=` clause (metadata predicate +
# top-k). Pre-filter semantics: the predicate restricts the corpus BEFORE
# ranking, so exactly k results come from the eligible set. Doubles as the
# ground truth for the filtered-ANN query (ann_ivf_filtered).
# --------------------------------------------------------------------------
_FILTER_SQL = "label < 3"


def _filtered_exact_oracle(filter_sql: str) -> str:
    """The filtered exact-kNN oracle, parametrized on the predicate —
    shared by knn_filtered_exact and the filtered-auto chooser
    degenerations (queries/pipeline.py), which must hash against the
    exact answer of a DIFFERENT selectivity."""
    return f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev,
         q.qv
  FROM embeddings e CROSS JOIN q
  WHERE e.{filter_sql}
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, item_id) AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 10
"""


@register(
    "knn_filtered_exact",
    oracle=_filtered_exact_oracle(_FILTER_SQL),
    doc="metadata-filtered exact kNN (pre-filter: predicate before ranking, "
    "pushed into the scan)",
)
def knn_filtered_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(_FILTER_SQL)
    res = exact_knn(_query_set(spark, sf_dir), emb, k=10, metric="l2", item_id="vec_id")
    return res.select(
        "query_id", "rank", "item_id", F.round("dist", 4).alias("dist_r")
    )


# --------------------------------------------------------------------------
# V7 [EXT]: embedding-space near-duplicate pairs (cosine threshold self-join).
# Brute-force pair join here (the corpus side is broadcast-size at test SF);
# the LSH-bucketed scale path is embedding_neardup_bucketed below — same
# oracle, so the gate hash-match PROVES the bucketed composition returns
# the identical pair set.
# --------------------------------------------------------------------------
_NEARDUP_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS cos_sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos_sim, 4) AS cos_sim_r
FROM pairs WHERE cos_sim >= 0.4
"""


@register("embedding_neardup_pairs", oracle=_NEARDUP_ORACLE)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.simjoin import cosine_self_join

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_self_join(emb, id_col="vec_id", vec_col="embedding", threshold=0.4)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim_r"))


@register(
    "embedding_neardup_bucketed",
    oracle=_NEARDUP_ORACLE,
    doc="LSH-bucketed near-dup pairs (b=4, L=64 sign tables -> candidate "
    "equi-join on (table, bucket) -> exact cosine on candidates only) — "
    "the fully-distributed scale path past the broadcast cap; same oracle "
    "as embedding_neardup_pairs, so hash-match == equality with brute force",
)
def embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.simjoin import cosine_self_join_bucketed

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_self_join_bucketed(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4
    )
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim_r"))


# --------------------------------------------------------------------------
# Embedding-level eval-set contamination: the semantic twin of the 8-gram
# `decontaminate` scan. Split the corpus train/eval by a stable seeded
# hash (membership a pure function of the id — same discipline as
# corpus_split) and report every (train, eval) pair whose cosine clears
# the near-dup threshold: paraphrased leaks that n-gram overlap misses.
# At 100 TB the pair mining runs through the LSH-bucketed twin with the
# split carried as a passthrough column; the gate entry uses the
# brute-force pair set so the oracle is exact.
# --------------------------------------------------------------------------
_CONTAM_SEED = 7
_CONTAM_T = 0.45


@register(
    "eval_contamination_cosine",
    oracle=None,  # built below (needs the seeded-hash SQL helper)
    doc="embedding-space train/eval contamination pairs: stable 90/10 "
    "hash split, (train_id, eval_id) pairs with cosine >= 0.45 — the "
    "semantic decontamination scan; oracled against a brute-force "
    "cross-split cosine join",
)
def eval_contamination_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import portable_hash64_seeded
    from ..operators.simjoin import cosine_self_join

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_self_join(
        emb, id_col="vec_id", vec_col="embedding", threshold=_CONTAM_T
    )
    is_train = (
        portable_hash64_seeded(F.col("vec_id").cast("string"), _CONTAM_SEED) % 10 < 9
    )
    s = emb.select("vec_id", is_train.alias("is_train"))
    p = (
        pairs.join(
            s.select(F.col("vec_id").alias("id_a"), F.col("is_train").alias("a_train")),
            "id_a",
        )
        .join(
            s.select(F.col("vec_id").alias("id_b"), F.col("is_train").alias("b_train")),
            "id_b",
        )
        .filter(F.col("a_train") != F.col("b_train"))
    )
    return p.select(
        F.when(F.col("a_train"), F.col("id_a")).otherwise(F.col("id_b")).alias("train_id"),
        F.when(F.col("a_train"), F.col("id_b")).otherwise(F.col("id_a")).alias("eval_id"),
        F.round("cos_sim", 4).alias("cos_sim_r"),
    )


def _contamination_oracle() -> str:
    from ..functions.hashing import portable_hash64_seeded_sql

    h = portable_hash64_seeded_sql("CAST(vec_id AS VARCHAR)", _CONTAM_SEED)
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         ({h}) % 10 < 9 AS is_train
  FROM embeddings
),
pairs AS (
  SELECT t.vec_id AS train_id, x.vec_id AS eval_id,
         list_sum(list_transform(range(1, 65), i -> t.v[i] * x.v[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> t.v[i] * t.v[i])))
              * sqrt(list_sum(list_transform(range(1, 65), i -> x.v[i] * x.v[i])))) AS cos_sim
  FROM e t JOIN e x ON t.is_train AND NOT x.is_train
)
SELECT train_id, eval_id, round(cos_sim, 4) AS cos_sim_r
FROM pairs WHERE cos_sim >= {_CONTAM_T}
"""


def _attach_contamination_oracle() -> None:
    from . import REGISTRY, QuerySpec

    spec = REGISTRY["eval_contamination_cosine"]
    REGISTRY["eval_contamination_cosine"] = QuerySpec(
        fn=spec.fn, oracle=_contamination_oracle(), doc=spec.doc
    )


# --------------------------------------------------------------------------
# The reference's central experiment shape in ONE job: exact top-k per
# query per cumulative snapshot (56 collections → one ladder-tagged scan;
# distance computed once per (query, item) pair, reused by every snapshot
# that contains the item — vs the reference's per-collection re-scan,
# chromadb_speed_experiment.py:438-442).
# --------------------------------------------------------------------------
@register(
    "knn_snapshot_sweep",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), tagged AS (
  SELECT d.query_id, d.item_id, d.dist, l.snapshot_size
  FROM dists d JOIN (SELECT unnest([100, 300, 500]) AS snapshot_size) l
    ON d.item_id < l.snapshot_size
), ranked AS (
  SELECT query_id, snapshot_size, item_id, dist,
         row_number() OVER (PARTITION BY query_id, snapshot_size
                            ORDER BY dist, item_id) AS rank
  FROM tagged
)
SELECT query_id, snapshot_size, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 3
""",
)
def knn_snapshot_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ..functions.vector import l2_dist

    emb = load_table(spark, sf_dir, "embeddings")
    qs = _query_set(spark, sf_dir, n=3)
    ladder = local_df(spark, [(100,), (300,), (500,)], "snapshot_size int")
    scored = emb.alias("c").crossJoin(F.broadcast(qs.alias("q"))).select(
        F.col("q.query_id").alias("query_id"),
        F.col("c.vec_id").alias("item_id"),
        l2_dist(F.col("q.query_vec"), F.col("c.embedding")).alias("dist"),
    )
    tagged = scored.join(
        F.broadcast(ladder), F.col("item_id") < F.col("snapshot_size")
    )
    w = Window.partitionBy("query_id", "snapshot_size").orderBy(
        F.asc("dist"), F.asc("item_id")
    )
    return (
        tagged.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "snapshot_size", "rank", "item_id",
            F.round("dist", 4).alias("dist_r"),
        )
    )


# --------------------------------------------------------------------------
# Per-dimension corpus statistics ([EXT]): the normalization profile an
# embedding pipeline computes before whitening / scaling — mean, std, min,
# max per coordinate. Values are scaled to 1e6 ints per element before
# any cross-partition aggregation so the sums are shuffle-order-exact
# (float sums are not associative; integer sums are). Mean/min/max are
# EMITTED on the scaled-int grid too: a 1e6-scaled value divided back out
# terminates at 6 decimals, which makes round(·, 4) hit exact half-way
# ties constantly — and Spark rounds the shortest decimal repr while
# DuckDB rounds the binary double, so ties diverge. floor() has no ties.
# std is an irrational (sqrt), so round(4) is safe there. At sf0.1 the
# scaled squares peak ~1e15 per partial sum — inside bigint; at 1e9+ rows
# the square-sum column should move to DECIMAL(38,0), noted for scale.
# --------------------------------------------------------------------------
@register(
    "embedding_dim_stats",
    oracle="""
WITH e AS (
  SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS s
  FROM embeddings
)
SELECT dim, count(*) AS n,
       CAST(floor(sum(s) * 1.0 / count(*)) AS BIGINT) AS mean_s6,
       round(sqrt((sum(s * s) * 1.0 / count(*)
              - (sum(s) * 1.0 / count(*)) ^ 2) / 1e12), 4) AS std_r,
       min(s) AS min_s6,
       max(s) AS max_s6
FROM e GROUP BY dim
""",
    doc="per-dimension embedding normalization stats (mean/std/min/max) "
    "on 1e6-scaled ints — population std via the sum-of-squares identity, "
    "deterministic under any partitioning; mean/min/max stay on the "
    "int grid (µ-units) to dodge terminating-decimal rounding ties",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dim_stats_frame(load_table(spark, sf_dir, "embeddings"))


def _dim_stats_frame(emb: DataFrame) -> DataFrame:
    """Core of ``embedding_dim_stats`` over any frame with an
    array ``embedding`` column — exposed for crafted-vector tests."""
    e = emb.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("s"),
    )
    n = F.count(F.lit(1))
    mean = F.sum("s") * 1.0 / n
    # decimal(38,0) accumulator for s*s (see embedding_outliers): the
    # BIGINT sum wraps past ~1e5 rows/dim while DuckDB's widens to HUGEINT
    var = (
        F.sum((F.col("s") * F.col("s")).cast("decimal(38,0)")).cast("double") / n
        - mean * mean
    ) / 1e12
    return e.groupBy("dim").agg(
        n.alias("n"),
        F.floor(mean).cast("bigint").alias("mean_s6"),
        F.round(F.sqrt(var), 4).alias("std_r"),
        F.min("s").alias("min_s6"),
        F.max("s").alias("max_s6"),
    )


# --------------------------------------------------------------------------
# kNN graph construction: every vector's top-3 neighbours (self excluded) —
# the input of graph clustering / kNN-graph ANN builds / dedup blocking.
# Locally the query side is the whole corpus (broadcast is byte-capped by
# the operators' guards); at 100 TB the same result composes from the
# LSH-bucketed candidate join (cosine_self_join_bucketed) + per-bucket
# top-k — the bucket-then-verify discipline documented in SCALE.md.
# --------------------------------------------------------------------------
@register(
    "knn_graph",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev,
         q.qv
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
), dists AS (
  SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored
), ranked AS (
  SELECT query_id, item_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, item_id)
           AS rank
  FROM dists
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r
FROM ranked WHERE rank <= 3
""",
    doc="kNN graph (top-3 per vector, self excluded): the clustering / "
    "graph-ANN-build primitive; corpus-as-queries locally, bucketed "
    "composition at scale",
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.simjoin import cosine_knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # corpus-wide query set = 4M+ distance pairs: that's gemm work, not
    # per-row HOF work (42 s -> ~2 s at sf0.1). The kernel's byte cap
    # governs the broadcast; past it, compose from the bucketed self-join.
    res = cosine_knn_join(qs, emb, k=4, metric="l2", item_id="vec_id")
    # drop the self-match (always rank 1 at dist 0) and re-rank 1..3
    out = res.filter(F.col("item_id") != F.col("query_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("item_id"))
    return (
        out.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("query_id", "rank", "item_id", F.round("dist", 4).alias("dist_r"))
    )


# --------------------------------------------------------------------------
# Embedding-space duplicate clusters: connected components over the cosine
# near-dup pair graph — the same cluster-resolution operator dedup_clusters
# runs on the TEXT near-dup graph, composed here over the EMBEDDING one
# (semantic dedup: keep one doc per embedding-cluster). Oracle: the same
# recursive-CTE closure over the brute-force pair SQL.
# --------------------------------------------------------------------------
_EMB_CLUSTERS_ORACLE = (
    "WITH RECURSIVE "
    + _NEARDUP_ORACLE.strip().removeprefix("WITH ").rsplit("SELECT id_a, id_b,", 1)[0]
    + """,
dup AS (SELECT id_a, id_b FROM pairs WHERE cos_sim >= 0.45),
edges AS (
  SELECT id_a AS u, id_b AS v FROM dup
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM dup
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u
)
SELECT u AS vec_id,
       LEAST(u, MIN(v)) AS cluster_id,
       CAST(u = LEAST(u, MIN(v)) AS INT) AS is_canonical
FROM reach GROUP BY u
"""
)


@register(
    "embedding_dedup_clusters",
    oracle=_EMB_CLUSTERS_ORACLE,
    doc="semantic dedup: connected components (min-label propagation + "
    "pointer jumping) over the cosine>=0.45 near-dup pair graph (0.45: "
    "real near-dup territory on this corpus — 0.4 admits background-level "
    "similarity and chains half the corpus together); canonical = min id per "
    "cluster — the embedding twin of dedup_clusters, same CC operator",
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components
    from ..operators.simjoin import cosine_self_join

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_self_join(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.45
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("vec_id"),
        F.col("cluster_id"),
        (F.col("node") == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


# --------------------------------------------------------------------------
# Binary quantization ([EXT]: Qdrant/Weaviate BQ, FAISS IndexBinaryFlat +
# refine): 1 bit per dimension against the per-dim corpus mean, Hamming
# shortlist over packed 2×32-bit codes, exact re-rank. Everything happens
# on the exact-int grid (threshold compare s_i*n > Σs_i — no FP boundary),
# so unlike every other ANN family the PRODUCTION approximate path is
# hash-oracled directly, not via a full-fidelity degeneration.
# --------------------------------------------------------------------------
_BQ_CODES_SQL = """
sc AS (
  SELECT vec_id AS item_id, CAST(embedding AS DOUBLE[]) AS ev,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(round(x * 1000000) AS BIGINT)) AS sv
  FROM embeddings
),
dims AS (
  SELECT i, CAST(sum(sv[i]) AS BIGINT) AS s
  FROM sc, range(1, 65) t(i) GROUP BY i
),
st AS (
  SELECT (SELECT count(*) FROM sc) AS n,
         (SELECT list(s ORDER BY i) FROM dims) AS thr
)"""


@register(
    "bq_build_stats",
    oracle="""
WITH e AS (
  SELECT CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS s
  FROM embeddings
), st AS (
  SELECT dim, CAST(sum(s) AS BIGINT) AS thr_sum, count(*) AS n
  FROM e GROUP BY dim
)
SELECT st.dim, st.thr_sum, st.n,
       CAST(sum(CASE WHEN e.s * st.n > st.thr_sum THEN 1 ELSE 0 END)
            AS BIGINT) AS bits_set
FROM e JOIN st USING (dim)
GROUP BY st.dim, st.thr_sum, st.n
""",
    doc="binary-quantization build profile: per-dim scaled-int threshold "
    "sum and the resulting bit balance (mean-split => bits_set ~ n/2); the "
    "train pass is one 64-sum aggregate, the balance audit one more scan",
)
def bq_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("s"),
    )
    st = e.groupBy("dim").agg(
        F.sum("s").alias("thr_sum"), F.count(F.lit(1)).alias("n")
    )
    return (
        e.join(F.broadcast(st), "dim")
        .groupBy("dim", "thr_sum", "n")
        .agg(
            F.sum(
                (F.col("s") * F.col("n") > F.col("thr_sum")).cast("int")
            ).cast("bigint").alias("bits_set")
        )
    )


@register(
    "ann_bq_topk",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
{_BQ_CODES_SQL},
codes AS (
  SELECT item_id, ev,
    CAST(list_sum(list_transform(range(1, 33),
      i -> CASE WHEN sv[i] * st.n > st.thr[i]
                THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS BIGINT)
      AS c_lo,
    CAST(list_sum(list_transform(range(33, 65),
      i -> CASE WHEN sv[i] * st.n > st.thr[i]
                THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END)) AS BIGINT)
      AS c_hi
  FROM sc, st
),
qcodes AS (
  SELECT query_id, qv,
    CAST(list_sum(list_transform(range(1, 33),
      i -> CASE WHEN CAST(round(qv[i] * 1000000) AS BIGINT) * st.n > st.thr[i]
                THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS BIGINT)
      AS q_lo,
    CAST(list_sum(list_transform(range(33, 65),
      i -> CASE WHEN CAST(round(qv[i] * 1000000) AS BIGINT) * st.n > st.thr[i]
                THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END)) AS BIGINT)
      AS q_hi
  FROM q, st
),
ham AS (
  SELECT qc.query_id, c.item_id, qc.qv, c.ev,
         bit_count(xor(qc.q_lo, c.c_lo)) + bit_count(xor(qc.q_hi, c.c_hi))
           AS hamming
  FROM codes c CROSS JOIN qcodes qc
),
cand AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming, item_id) AS rn
  FROM ham
),
rer AS (
  SELECT query_id, item_id, hamming, {_L2_SQL} AS dist
  FROM cand WHERE rn <= 100
),
ranked AS (
  SELECT query_id, item_id, hamming, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, item_id)
           AS rank
  FROM rer
)
SELECT query_id, rank, item_id, round(dist, 4) AS dist_r,
       CAST(hamming AS BIGINT) AS hamming
FROM ranked WHERE rank <= 10
""",
    doc="binary-quantization ANN, the PRODUCTION path hash-oracled (not a "
    "degeneration): 1-bit/dim mean-threshold codes packed into 2x32-bit "
    "words, codegen Hamming (bit_count+xor) shortlist of 100, exact L2 "
    "re-rank to top-10 — 32x fewer scan bytes, all on the exact-int grid. "
    "shortlist=100 is PINNED here because the DuckDB oracle replays that "
    "literal; the measured serving default lives in ann_bq_tuned",
)
def ann_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bq import bq_search_rerank
    from .pipeline import _flat_codes

    emb = load_table(spark, sf_dir, "embeddings")
    enc, p = _flat_codes(spark, sf_dir, "bq")
    res = bq_search_rerank(
        _query_set(spark, sf_dir), emb, p["sums"], p["n"], k=10,
        shortlist=100, item_id="vec_id", encoded=enc,
    )
    return res.select(
        "query_id", "rank", "item_id",
        F.round("dist", 4).alias("dist_r"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )

_attach_contamination_oracle()


# --------------------------------------------------------------------------
# V2 inner-product variant ([EXT]): max-inner-product search (MIPS) — the
# third metric of the production trio (pgvector `<#>`, FAISS
# METRIC_INNER_PRODUCT, ChromaDB hnsw:space=ip). Ranked on the negated dot
# so smaller-is-closer holds across METRICS; emitted as the dot product.
# --------------------------------------------------------------------------
@register(
    "knn_exact_ip",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
), dots AS (
  SELECT query_id, item_id, {_DOT_SQL} AS dp FROM scored
), ranked AS (
  SELECT query_id, item_id, dp,
         row_number() OVER (PARTITION BY query_id ORDER BY dp DESC, item_id)
           AS rank
  FROM dots
)
SELECT query_id, rank, item_id, round(dp, 4) AS dot_r
FROM ranked WHERE rank <= 10
""",
    doc="exact max-inner-product (MIPS) top-10 — negated-dot ordering with "
    "id tie-break; same broadcast + codegen-HOF scan as knn_exact_l2",
)
def knn_exact_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    res = exact_knn(
        _query_set(spark, sf_dir), emb, k=10, metric="ip", item_id="vec_id"
    )
    return res.select(
        "query_id", "rank", "item_id",
        F.round(-F.col("dist"), 4).alias("dot_r"),
    )


# --------------------------------------------------------------------------
# Embedding outlier scan ([EXT]: embedding hygiene — catch degenerate /
# corrupted vectors before they poison an index or a dedup threshold).
# Per-dim mean/std come from the same exact-int machinery as
# embedding_dim_stats; a vector's outlier score is its max |z| across
# dims. All doubles derive from identical exact-int sums on both engines,
# so comparisons and round(4) agree bit-for-bit.
# --------------------------------------------------------------------------
@register(
    "embedding_outliers",
    oracle="""
WITH e AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS s
  FROM embeddings
), st AS (
  SELECT dim,
         sum(s) * 1.0 / count(*) AS mu,
         sqrt(sum(s * s) * 1.0 / count(*)
              - (sum(s) * 1.0 / count(*)) ^ 2) AS sigma
  FROM e GROUP BY dim
), z AS (
  SELECT e.vec_id,
         abs((e.s - st.mu) / st.sigma) AS az
  FROM e JOIN st USING (dim) WHERE st.sigma > 0
)
SELECT vec_id,
       round(max(az), 4) AS max_z_r,
       CAST(sum(CASE WHEN az > 2.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dims_over
FROM z GROUP BY vec_id
""",
    doc="embedding hygiene: per-vector max |z| across dims (stats on the "
    "exact-int grid => identical doubles both engines); n_dims_over counts "
    "|z| > 2.5 — the corrupted-vector screen run before index builds",
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("s"),
    )
    n = F.count(F.lit(1))
    mu = F.sum("s") * 1.0 / n
    # s*s ~ 1e14 per element (|x| <= 10 => |s| <= 1e7): the per-element
    # product fits BIGINT but its SUM wraps past ~1e5 rows/dim in non-ANSI
    # Spark while DuckDB promotes to HUGEINT.  Accumulate in decimal(38,0)
    # — exact like HUGEINT — then the * 1.0 conversion to double rounds
    # the identical integer on both engines.
    sum_sq = F.sum((F.col("s") * F.col("s")).cast("decimal(38,0)"))
    st = e.groupBy("dim").agg(
        mu.alias("mu"),
        F.sqrt(
            sum_sq.cast("double") / n - mu * mu
        ).alias("sigma"),
    )
    z = (
        e.join(F.broadcast(st), "dim")
        .filter(F.col("sigma") > 0)
        .select(
            "vec_id", F.abs((F.col("s") - F.col("mu")) / F.col("sigma")).alias("az")
        )
    )
    return z.groupBy("vec_id").agg(
        F.round(F.max("az"), 4).alias("max_z_r"),
        F.sum((F.col("az") > 2.5).cast("int")).cast("bigint").alias("n_dims_over"),
    )


# --------------------------------------------------------------------------
# Contrastive training pairs ([EXT]: the DPR / sentence-transformers
# training-data operator): for each query vector, emit positives (exact
# cosine top-3, self excluded), hard negatives (the next ranks 4..8 — near
# misses, the pairs that sharpen a bi-encoder), and random negatives
# (5 per query, drawn by deterministic md5 order over (query, item) so the
# "random" sample is reproducible and hash-oracle-able), excluding self
# and anything ranked in the top-8. One broadcast cosine scan feeds all
# three roles; the md5 ranking is a second window over the same frame.
# --------------------------------------------------------------------------
@register(
    "contrastive_pairs",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id,
         CAST(e.embedding AS DOUBLE[]) AS ev, q.qv
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
), sims AS (
  SELECT query_id, item_id, 1.0 - ({_COS_SQL}) AS cosd FROM scored
), ranked AS (
  SELECT query_id, item_id, cosd,
         row_number() OVER (PARTITION BY query_id ORDER BY cosd, item_id)
           AS sim_rank,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY md5(query_id || '_' || item_id), item_id)
           AS rnd_rank
  FROM sims
),
roles AS (
  SELECT query_id, item_id, 'positive' AS role, sim_rank AS role_rank
  FROM ranked WHERE sim_rank <= 3
  UNION ALL
  SELECT query_id, item_id, 'hard_negative' AS role, sim_rank - 3 AS role_rank
  FROM ranked WHERE sim_rank BETWEEN 4 AND 8
  UNION ALL
  SELECT query_id, item_id, 'random_negative' AS role,
         row_number() OVER (PARTITION BY query_id ORDER BY rnd_rank)
           AS role_rank
  FROM ranked WHERE sim_rank > 8
  QUALIFY role_rank <= 5
)
SELECT query_id, role, CAST(role_rank AS BIGINT) AS role_rank, item_id
FROM roles
""",
    doc="DPR-style contrastive pair mining: positives = cosine top-3 (self "
    "excluded), hard negatives = ranks 4-8, random negatives = 5 by "
    "deterministic md5 order excluding the top-8 — one broadcast cosine "
    "scan, two windows, reproducible sampling",
)
def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.vector import cosine_sim

    emb = load_table(spark, sf_dir, "embeddings")
    qs = _query_set(spark, sf_dir)
    scored = (
        emb.alias("c")
        .crossJoin(F.broadcast(qs.alias("q")))
        .filter(F.col("c.vec_id") != F.col("q.query_id"))
        .select(
            F.col("q.query_id").alias("query_id"),
            F.col("c.vec_id").alias("item_id"),
            (1.0 - cosine_sim(F.col("q.query_vec"), F.col("c.embedding"))).alias(
                "cosd"
            ),
        )
    )
    wsim = Window.partitionBy("query_id").orderBy(F.asc("cosd"), F.asc("item_id"))
    wrnd = Window.partitionBy("query_id").orderBy(
        F.md5(F.concat_ws("_", F.col("query_id"), F.col("item_id"))),
        F.asc("item_id"),
    )
    ranked = scored.select(
        "query_id",
        "item_id",
        F.row_number().over(wsim).alias("sim_rank"),
        F.row_number().over(wrnd).alias("rnd_rank"),
    )
    pos = ranked.filter(F.col("sim_rank") <= 3).select(
        "query_id",
        F.lit("positive").alias("role"),
        F.col("sim_rank").cast("bigint").alias("role_rank"),
        "item_id",
    )
    hard = ranked.filter(F.col("sim_rank").between(4, 8)).select(
        "query_id",
        F.lit("hard_negative").alias("role"),
        (F.col("sim_rank") - 3).cast("bigint").alias("role_rank"),
        "item_id",
    )
    wrole = Window.partitionBy("query_id").orderBy(F.asc("rnd_rank"))
    rand = (
        ranked.filter(F.col("sim_rank") > 8)
        .withColumn("role_rank", F.row_number().over(wrole).cast("bigint"))
        .filter(F.col("role_rank") <= 5)
        .select(
            "query_id",
            F.lit("random_negative").alias("role"),
            "role_rank",
            "item_id",
        )
    )
    return pos.unionAll(hard).unionAll(rand)
