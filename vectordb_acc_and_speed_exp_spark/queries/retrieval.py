"""Retrieval-quality query surface: BM25 lexical ranking, hybrid
lexical+dense fusion (reciprocal-rank fusion), radius search, and
parent-document retrieval.

The reference is a pure-vector retrieval benchmark (ChromaDB top-k,
chromadb_speed_experiment.py:651-657); production retrieval over the same
corpus adds a lexical channel and fusion — these queries provide that
surface Spark-first, all of it oracle-checkable relational algebra.

Scale notes (100 TB):
- BM25 serves from a MATERIALIZED inverted index (operators/postings.py,
  built once per corpus version via ``_get_or_build_postings``): the
  per-query scan prunes to the query terms' hash buckets (partition
  filter) and reads pre-counted (term, doc_id, tf, dl) rows — no corpus
  text is tokenized at serve time, for any query in this module's lexical
  family. df and (n_docs, avgdl) come from the vocab-sized / 1-row side
  tables. The inline tokenize path survives in operators/bm25.py for
  ad-hoc frames; both paths share one scoring core and are hash-proven
  equal.
- Per-(query,doc) BM25 contributions are summed as exact scaled integers
  (repo convention) so shuffle order can never change a bit.
- RRF fusion is a full-outer join of two tiny top-k lists (k ≤ 50 per
  query) — driver-sized, broadcast-joined.
- Radius search is the same single corpus pass as exact kNN with the
  range predicate applied before the (tiny) emit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from ..io.local import local_df
from . import register
from .textops import _TOKENS_SQL
from .vector import _COS_SQL, _L2_SQL, _QUERY_SET_SQL

# Fixed query set: 5 multi-term queries over the corpus vocabulary, aligned
# with the dense query ids (embeddings vec_id < 5) so the hybrid query can
# fuse both channels per query_id. One out-of-vocabulary term ("shuffle")
# exercises the df=0 path (no postings -> contributes nothing).
_BM25_QUERIES: list[tuple[int, tuple[str, ...]]] = [
    (0, ("spark", "join", "window")),
    (1, ("fast", "scan", "dup")),
    (2, ("slow", "query", "sort")),
    (3, ("hash", "group", "merge")),
    (4, ("vector", "stream", "shuffle")),
]
_K1, _B = 1.2, 0.75
_RRF_K = 60

_QT_VALUES_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _BM25_QUERIES for t in ts
)

# Shared CTE prefix: query terms, postings (tf), doc lengths, corpus stats,
# and exact scaled-integer BM25 contributions. ln() in double + one final
# round mirrors the tfidf_top_terms precedent that hash-passes across
# engines; the sum over terms runs on bigints so order cannot matter.
_QT_SQL = (
    f"SELECT CAST(query_id AS BIGINT) AS query_id, term "
    f"FROM (VALUES {_QT_VALUES_SQL}) AS v(query_id, term)"
)

_BM25_CONTRIB_SQL = f"""
qt AS ({_QT_SQL}),
tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
        WHERE length(trim(text)) > 0),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, term
),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(round(
           ln(1.0 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf * ({_K1} + 1.0))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))
           * 1000000) AS BIGINT) AS c6
  FROM qt
  JOIN tf ON qt.term = tf.term
  JOIN dft ON tf.term = dft.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
),
bm25 AS (
  SELECT query_id, doc_id, sum(c6) AS s6 FROM contrib
  GROUP BY query_id, doc_id
)
"""


def _get_or_build_postings(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the lexical inverted index once per corpus version and
    share it across every lexical consumer (bm25_topk, hybrid_rrf,
    rm3_expanded_search, retrieval_eval_metrics): the tokenize ->
    tf/df/dl/stats derivation runs a single time; every later execution is
    a bucket-pruned postings scan. Same fingerprint-invalidation +
    build/serve discipline as the ANN code tables (queries/pipeline.py)
    and dedup clusters (queries/textops.py)."""
    from ..operators.postings import write_postings_index
    from .pipeline import _build_once

    def build(path):
        write_postings_index(load_table(spark, sf_dir, "documents"), path)

    # ":v2" = bucketed terms/stats sidecar layout (round 7) — version the
    # fingerprint so artifacts written by older code rebuild, not misread
    return _build_once(
        sf_dir, "lexical_postings", ("lexical_postings",), build,
        table="documents", version=":v2",
    )[0]


def _get_or_build_chunk_postings(spark: SparkSession, sf_dir: str) -> str:
    """Chunk-grained postings artifact for small-to-big retrieval
    (VERDICT r11 #8 root cause): parent_doc_retrieval used to tokenize
    every document's chunk substrings INSIDE the timed query — the one
    lexical entry still paying a corpus text scan per execution. The
    doc-level build/serve split (operators/postings.py) applies
    unchanged at chunk grain: the postings "doc" key is the composite
    ``{doc_id}#{chunk_id}`` string (doc_id is int64, so the round-trip
    is exact), dl/df/n_docs/avgdl become exactly the chunk-level
    statistics BM25-at-chunk-granularity needs, and the shared scoring
    core keeps every value bit-identical to the inline derivation (the
    entry's hash oracle pins it). The empty-chunk filter matches the
    inline path (and the oracle's ``trim(chunk) != ''``) so the chunk
    universe is identical."""
    from ..operators.postings import write_postings_index
    from .pipeline import _build_once

    def build(path):
        d = load_table(spark, sf_dir, "documents")
        k_max = F.greatest(
            F.ceil((F.length("text") - _PCHUNK) * 1.0 / _PSTRIDE), F.lit(0)
        ).cast("bigint")
        chunks = (
            d.withColumn(
                "chunk_id",
                F.explode(F.sequence(F.lit(0).cast("bigint"), k_max)),
            )
            .select(
                F.concat_ws(
                    "#",
                    F.col("doc_id").cast("string"),
                    F.col("chunk_id").cast("string"),
                ).alias("doc_id"),
                F.expr(
                    f"substring(text, CAST(chunk_id * {_PSTRIDE} + 1 AS INT),"
                    f" {_PCHUNK})"
                ).alias("text"),
            )
            .filter(F.trim(F.col("text")) != "")
        )
        write_postings_index(chunks, path)

    return _build_once(
        sf_dir, "chunk_postings", ("chunk_postings",), build,
        table="documents", version=f":v1:{_PCHUNK}x{_PSTRIDE}",
    )[0]


def _query_terms_frame(spark: SparkSession) -> DataFrame:
    return local_df(
        spark,
        [(qid, t) for qid, ts in _BM25_QUERIES for t in ts],
        "query_id long, term string",
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, s6) — BM25 score × 1e6 as an exact bigint,
    served from the materialized postings artifact (bit-identical to the
    inline tokenize path; the scoring core is shared in operators/bm25.py)."""
    from ..operators.bm25 import bm25_scores_indexed

    path = _get_or_build_postings(spark, sf_dir)
    return bm25_scores_indexed(
        spark, path, _query_terms_frame(spark), k1=_K1, b=_B
    )


def _topk(scored: DataFrame, order, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(*order)
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


# --------------------------------------------------------------------------
# BM25 top-k: the lexical retrieval channel on its own.
# --------------------------------------------------------------------------
@register(
    "bm25_topk",
    oracle=f"""
WITH {_BM25_CONTRIB_SQL},
ranked AS (
  SELECT query_id, doc_id, s6,
         row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id)
           AS rank
  FROM bm25
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       round(s6 / 1000000.0, 4) AS bm25_r
FROM ranked WHERE rank <= 10
""",
    doc="Okapi BM25 (k1=1.2, b=0.75) top-10 per query; query-term postings "
    "only past the scan; exact scaled-int contribution sums",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _bm25_scored(spark, sf_dir)
    return _topk(scored, [F.desc("s6"), F.asc("doc_id")], 10).select(
        "query_id",
        "rank",
        "doc_id",
        F.round(F.col("s6") / 1_000_000.0, 4).alias("bm25_r"),
    )


# --------------------------------------------------------------------------
# Metadata-FILTERED BM25, served from the same postings artifact (round 8,
# VERDICT r07 #2): the survivor set semi-joins into the pruned postings
# scan and df/n_docs/avgdl recompute over the eligible docs only (the
# doclens sidecar) — no corpus-text scan. The oracle folds the predicate
# into the token stream, which makes every downstream statistic filtered
# the same way.
# --------------------------------------------------------------------------
_BM25_FILTER_PRED_SQL = "doc_id % 3 <> 0"
_BM25_CONTRIB_FILTERED_SQL = _BM25_CONTRIB_SQL.replace(
    "WHERE length(trim(text)) > 0",
    f"WHERE length(trim(text)) > 0 AND {_BM25_FILTER_PRED_SQL}",
)


@register(
    "bm25_filtered_topk",
    oracle=f"""
WITH {_BM25_CONTRIB_FILTERED_SQL},
ranked AS (
  SELECT query_id, doc_id, s6,
         row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id)
           AS rank
  FROM bm25
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       round(s6 / 1000000.0, 4) AS bm25_r
FROM ranked WHERE rank <= 10
""",
    doc="BM25 top-10 over the eligible subset (doc_id % 3 != 0) served "
    "from the postings artifact: survivor semi-join into the pruned "
    "postings scan, df/n_docs/avgdl recomputed over survivors via the "
    "O(docs) doclens sidecar — bit-identical to tokenizing the filtered "
    "corpus, with no text scan in the plan",
)
def bm25_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bm25 import bm25_topk_indexed_filtered

    path = _get_or_build_postings(spark, sf_dir)
    survivors = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 != 0)
        .select("doc_id")
    )
    res = bm25_topk_indexed_filtered(
        spark, path, _query_terms_frame(spark), survivors, k=10, k1=_K1, b=_B
    )
    return res.select(
        "query_id",
        "rank",
        "doc_id",
        F.round(F.col("s6") / 1_000_000.0, 4).alias("bm25_r"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the BM25 channel with the
# dense cosine channel (dense query = embeddings vec_id == query_id, dense
# candidates = docs that have an embedding, doc_id == vec_id). RRF is the
# standard score-free fusion: sum of 1/(60+rank) over channels.
# --------------------------------------------------------------------------
@register(
    "hybrid_rrf",
    oracle=f"""
WITH {_BM25_CONTRIB_SQL},
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id)
           AS rank
  FROM bm25
),
q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS doc_id, CAST(e.embedding AS DOUBLE[]) AS ev,
         q.qv
  FROM embeddings e CROSS JOIN q
),
dsims AS (
  SELECT query_id, doc_id, 1.0 - ({_COS_SQL}) AS dist FROM scored
),
den AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, doc_id)
           AS rank
  FROM dsims
),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         COALESCE(1.0 / ({_RRF_K} + l.rank), 0.0)
           + COALESCE(1.0 / ({_RRF_K} + d.rank), 0.0) AS rrf
  FROM (SELECT * FROM lex WHERE rank <= 50) l
  FULL OUTER JOIN (SELECT * FROM den WHERE rank <= 50) d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
),
ranked AS (
  SELECT query_id, doc_id, rrf,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id)
           AS rank
  FROM fused
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       round(rrf, 6) AS rrf_r
FROM ranked WHERE rank <= 10
""",
    doc="reciprocal-rank fusion (k=60) of BM25 top-50 and exact-cosine "
    "top-50; rank reciprocals are exact IEEE divisions on both engines",
)
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn import exact_knn
    from .vector import _query_set

    lex = _topk(
        _bm25_scored(spark, sf_dir), [F.desc("s6"), F.asc("doc_id")], 50
    ).select("query_id", F.col("doc_id"), F.col("rank").alias("lex_rank"))
    den = (
        exact_knn(
            _query_set(spark, sf_dir),
            load_table(spark, sf_dir, "embeddings"),
            k=50,
            metric="cosine",
            item_id="vec_id",
        )
        .select(
            "query_id",
            F.col("item_id").alias("doc_id"),
            F.col("rank").alias("den_rank"),
        )
    )
    from ..operators.bm25 import rrf_fuse

    # one fusion implementation for the operator surface AND this gate
    # entry, so a tie-break or arithmetic fix can never drift between them
    fused = rrf_fuse(
        lex.withColumnRenamed("lex_rank", "rank"),
        den.withColumnRenamed("den_rank", "rank"),
        k=10,
        rrf_k=_RRF_K,
    )
    return fused.select(
        "query_id", "rank", "doc_id", F.round("rrf", 6).alias("rrf_r")
    )


# --------------------------------------------------------------------------
# Radius (range) search: all neighbors within a fixed L2 radius — the
# range-query dual of top-k (ChromaDB exposes only top-k; range search is
# the standard companion, e.g. for dedup thresholds). Same single corpus
# pass as exact kNN; the range predicate prunes before the emit.
# --------------------------------------------------------------------------
_RADIUS = 1.2


@register(
    "radius_search",
    oracle=f"""
WITH q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS item_id, CAST(e.embedding AS DOUBLE[]) AS ev,
         q.qv
  FROM embeddings e CROSS JOIN q
),
dists AS (SELECT query_id, item_id, {_L2_SQL} AS dist FROM scored)
SELECT query_id, item_id, round(dist, 4) AS dist_r
FROM dists WHERE dist <= {_RADIUS} AND item_id != query_id
""",
    doc=f"all neighbors within L2 radius {_RADIUS} (≈1% of corpus per "
    "query); one corpus pass, predicate before emit",
)
def radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import l2_dist
    from .vector import _query_set

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_set(spark, sf_dir)
    return (
        emb.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            F.col("vec_id").alias("item_id"),
            l2_dist(F.col("query_vec"), F.col("embedding")).alias("dist"),
        )
        .filter((F.col("dist") <= _RADIUS) & (F.col("item_id") != F.col("query_id")))
        .select("query_id", "item_id", F.round("dist", 4).alias("dist_r"))
    )


# --------------------------------------------------------------------------
# Cross-encoder re-rank of the BM25 short-list — the retrieve→rerank
# two-stage stack. Rows-only (the scorer is a model swap point: real
# CrossEncoder when importable, deterministic lexical fake otherwise —
# the embed_documents_fake precedent).
# --------------------------------------------------------------------------
@register(
    "rerank_cross_encoder",
    oracle=f"""
WITH {_BM25_CONTRIB_SQL},
shortlist AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id) AS r
    FROM bm25
  ) WHERE r <= 20
),
qtx(query_id, qtext) AS (VALUES {", ".join(f"({qid}, '{' '.join(ts)}')" for qid, ts in _BM25_QUERIES)}),
pairtok AS (
  SELECT s.query_id, s.doc_id,
         list_distinct(list_filter(string_split_regex(lower(q.qtext), '\\s+'), x -> x != '')) AS qs,
         list_distinct(list_filter(string_split_regex(lower(d.text), '\\s+'), x -> x != '')) AS ds
  FROM shortlist s
  JOIN qtx q USING (query_id)
  JOIN documents d USING (doc_id)
),
ce AS (
  SELECT query_id, doc_id,
         CASE WHEN len(qs) = 0 OR len(ds) = 0 THEN 0.0
              ELSE (len(list_intersect(qs, ds)) * 1.0
                    / (len(qs) + len(ds) - len(list_intersect(qs, ds))))
                   * ln(1.0 + least(len(ds), 256))
         END AS ce_score
  FROM pairtok
),
rr AS (
  SELECT query_id, doc_id, ce_score,
         row_number() OVER (PARTITION BY query_id ORDER BY ce_score DESC, doc_id) AS rank
  FROM ce
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       round(ce_score, 4) AS ce_score_r
FROM rr WHERE rank <= 10
""",
    doc="two-stage retrieval: BM25 top-20 short-list → cross-encoder "
    "pair scoring (Iterator pandas_udf; the deterministic lexical fake "
    "— token-set Jaccard × log-length prior — is replayed verbatim by "
    "the DuckDB oracle, so the whole retrieve→rerank pipeline is "
    "HASH-checked; a real CrossEncoder swaps in via model_path) → "
    "top-10; per-query work is |short-list| model calls, never corpus "
    "work",
)
def rerank_cross_encoder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.crossencoder import cross_encoder_rerank

    d = load_table(spark, sf_dir, "documents")
    qtexts = local_df(
        spark,
        [(qid, " ".join(ts)) for qid, ts in _BM25_QUERIES],
        "query_id long, query_text string",
    )
    cand = (
        _topk(_bm25_scored(spark, sf_dir), [F.desc("s6"), F.asc("doc_id")], 20)
        .select("query_id", "doc_id")
        .join(F.broadcast(qtexts), "query_id")
        .join(d.select("doc_id", F.col("text").alias("doc_text")), "doc_id")
    )
    res = cross_encoder_rerank(
        cand, k=10, item_id="doc_id", query_text="query_text",
        doc_text="doc_text",
    )
    return res.select(
        "query_id",
        F.col("ce_rank").alias("rank"),
        F.col("item_id").alias("doc_id"),
        F.round("ce_score", 4).alias("ce_score_r"),
    )


# --------------------------------------------------------------------------
# Parent-document retrieval: score at chunk granularity, return parent
# documents (max chunk score per parent — the "small-to-big" retrieval
# pattern). Chunks are the deterministic fixed windows of chunk_documents;
# each chunk is BM25-scored against the query terms with the PARENT corpus
# statistics (chunk-level tf/dl, corpus-level df/avgdl over chunks).
# --------------------------------------------------------------------------
_PCHUNK, _PSTRIDE = 200, 150


@register(
    "parent_doc_retrieval",
    oracle=f"""
WITH qt AS ({_QT_SQL}),
ck AS (
  SELECT doc_id, text,
         unnest(generate_series(0, CAST(greatest(ceil((len(text) - {_PCHUNK})
           * 1.0 / {_PSTRIDE}), 0) AS BIGINT))) AS chunk_id
  FROM documents
),
chunks AS (
  SELECT doc_id, chunk_id,
         substring(text, CAST(chunk_id * {_PSTRIDE} + 1 AS INT), {_PCHUNK})
           AS chunk
  FROM ck
),
tok AS (
  SELECT doc_id, chunk_id,
         unnest(string_split(lower(regexp_replace(trim(chunk), '\\s+', ' ', 'g')), ' '))
           AS term
  FROM chunks WHERE trim(chunk) != ''
),
dl AS (SELECT doc_id, chunk_id, count(*) AS dl FROM tok GROUP BY doc_id, chunk_id),
stats AS (SELECT count(*) AS n_chunks, sum(dl) * 1.0 / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, chunk_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, chunk_id, term
),
dft AS (SELECT term, count(DISTINCT (doc_id, chunk_id)) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT qt.query_id, tf.doc_id, tf.chunk_id,
         CAST(round(
           ln(1.0 + (s.n_chunks - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf * ({_K1} + 1.0))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))
           * 1000000) AS BIGINT) AS c6
  FROM qt
  JOIN tf ON qt.term = tf.term
  JOIN dft ON tf.term = dft.term
  JOIN dl ON tf.doc_id = dl.doc_id AND tf.chunk_id = dl.chunk_id
  CROSS JOIN stats s
),
chunk_scores AS (
  SELECT query_id, doc_id, chunk_id, sum(c6) AS s6 FROM contrib
  GROUP BY query_id, doc_id, chunk_id
),
parent AS (
  SELECT query_id, doc_id, max(s6) AS best6, count(*) AS n_hit_chunks
  FROM chunk_scores GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, best6, n_hit_chunks,
         row_number() OVER (PARTITION BY query_id ORDER BY best6 DESC, doc_id)
           AS rank
  FROM parent
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       round(best6 / 1000000.0, 4) AS best_chunk_bm25_r, n_hit_chunks
FROM ranked WHERE rank <= 10
""",
    doc="small-to-big retrieval: BM25 at chunk granularity served from "
    "the chunk-grained postings artifact (bucket-pruned scan, no corpus "
    "text at serve time), max-score rollup to the parent document, "
    "top-10 parents per query",
)
def parent_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bm25 import bm25_scores_indexed

    # chunk-level BM25 from the materialized chunk postings (build once
    # per corpus version; VERDICT r11 #8 — the inline path tokenized
    # every chunk per execution). The shared scoring core + identical
    # chunk statistics keep s6 bit-identical to the inline derivation;
    # the hash oracle (unchanged SQL above) proves it per run.
    path = _get_or_build_chunk_postings(spark, sf_dir)
    qt = _query_terms_frame(spark)
    scores = bm25_scores_indexed(spark, path, qt, k1=_K1, b=_B)
    parent = (
        scores.select(
            "query_id",
            F.split(F.col("doc_id"), "#").getItem(0).cast("bigint").alias(
                "doc_id"
            ),
            "s6",
        )
        .groupBy("query_id", "doc_id")
        .agg(F.max("s6").alias("best6"), F.count(F.lit(1)).alias("n_hit_chunks"))
    )
    return _topk(parent, [F.desc("best6"), F.asc("doc_id")], 10).select(
        "query_id",
        "rank",
        "doc_id",
        F.round(F.col("best6") / 1_000_000.0, 4).alias("best_chunk_bm25_r"),
        "n_hit_chunks",
    )


# --------------------------------------------------------------------------
# Multi-vector (ColBERT-style) late interaction ([EXT]): docs carry MANY
# vectors; score = sum over query tokens of the best doc-token cosine
# (MaxSim). Multi-vector structure is synthesized deterministically from
# the embeddings table: doc d = vectors with vec_id//8 == d (8 tokens per
# doc), query q = vectors with vec_id//5 == q over vec_id < 15 (3 queries
# x 5 tokens). Per-token maxima land on the exact 1e6 int grid before the
# sum, so the whole operator hash-matches (see operators/multivector.py).
# --------------------------------------------------------------------------
@register(
    "maxsim_multivector_topk",
    oracle=f"""
WITH qt AS (
  SELECT CAST(vec_id // 5 AS BIGINT) AS qid, vec_id AS qtok,
         CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 15
),
dt AS (
  SELECT CAST(vec_id // 8 AS BIGINT) AS doc_id,
         CAST(embedding AS DOUBLE[]) AS ev
  FROM embeddings
),
pair AS (
  SELECT qid, qtok, doc_id, {_COS_SQL} AS cos
  FROM qt CROSS JOIN dt
),
best AS (
  SELECT qid, qtok, doc_id, CAST(round(max(cos) * 1000000) AS BIGINT) AS m
  FROM pair GROUP BY qid, qtok, doc_id
),
score AS (
  SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS score_s6
  FROM best GROUP BY qid, doc_id
),
ranked AS (
  SELECT qid, doc_id, score_s6,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score_s6 DESC, doc_id) AS rank
  FROM score
)
SELECT qid, rank, doc_id, score_s6 FROM ranked WHERE rank <= 10
""",
    doc="ColBERT-style MaxSim late interaction, fully hash-oracled: "
    "3 multi-token queries (5 vectors each) against multi-vector docs "
    "(8 vectors each); per-query-token max cosine on the exact 1e6 grid, "
    "summed as bigints; exchanges carry only reduced per-qtoken rows, "
    "query tokens broadcast",
)
def maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multivector import maxsim_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qt = emb.filter(F.col("vec_id") < 15).select(
        F.floor(F.col("vec_id") / 5).cast("bigint").alias("qid"),
        F.col("vec_id").alias("qtok"),
        F.col("embedding").alias("qv"),
    )
    dt = emb.select(
        F.floor(F.col("vec_id") / 8).cast("bigint").alias("doc_id"),
        F.col("vec_id").alias("dtok"),
        F.col("embedding").alias("ev"),
    )
    return maxsim_topk(qt, dt, k=10)


# --------------------------------------------------------------------------
# Embedding pooling ([EXT]: the chunk-vectors -> doc-vector reduction every
# multi-vector store needs when serving single-vector consumers; SBERT
# itself is mean-pooling over token vectors). Mean on the exact 1e6 int
# grid (floor of the scaled sum / count — no float-sum order dependence),
# max as exact scaled ints. Emits the pooled vectors as bigint arrays so
# the hash compare is bit-exact.
# Scale: one (doc) shuffle of scaled-int arrays; zip_with-based partial
# aggregation would push the element-wise sum map-side via treeAggregate —
# here the explode+groupBy(doc, dim) shape gets map-side combine for free.
# --------------------------------------------------------------------------
@register(
    "embedding_pooling",
    oracle="""
WITH e AS (
  SELECT CAST(vec_id // 8 AS BIGINT) AS doc_id,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS dim,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS s
  FROM embeddings
),
pooled AS (
  SELECT doc_id, dim,
         CAST(floor(sum(s) * 1.0 / count(*)) AS BIGINT) AS mean_s6,
         max(s) AS max_s6
  FROM e GROUP BY doc_id, dim
)
SELECT doc_id,
       md5(array_to_string(list(CAST(mean_s6 AS VARCHAR) ORDER BY dim), ',')) AS mean_md5,
       md5(array_to_string(list(CAST(max_s6 AS VARCHAR) ORDER BY dim), ',')) AS max_md5
FROM pooled GROUP BY doc_id
""",
    doc="mean/max pooling of multi-vector docs (8 member vectors each) to "
    "single doc vectors on the exact 1e6 grid — emitted as md5 digests of "
    "the dim-ordered bigint lists (no array columns in oracled outputs), "
    "bit-exact under any shuffle order",
)
def embedding_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.floor(F.col("vec_id") / 8).cast("bigint").alias("doc_id"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("v").cast("double") * 1000000).cast("bigint").alias("s"),
    )
    pooled = e.groupBy("doc_id", "dim").agg(
        F.floor(F.sum("s") * 1.0 / F.count(F.lit(1))).cast("bigint").alias("mean_s6"),
        F.max("s").alias("max_s6"),
    )
    return pooled.groupBy("doc_id").agg(
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mean_s6"))),
                    lambda x: x["mean_s6"].cast("string"),
                ),
            )
        ).alias("mean_md5"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "max_s6"))),
                    lambda x: x["max_s6"].cast("string"),
                ),
            )
        ).alias("max_md5"),
    )


# --------------------------------------------------------------------------
# Retrieval-quality evaluation ([EXT]: the metrics layer every retrieval
# stack ships — MRR, NDCG@10, precision@10; Järvelin & Kekäläinen 2002 for
# NDCG): judge the BM25 lexical ranking against the dense exact-cosine
# top-10 as graded ground truth (relevance = 11 - dense rank).
#
# Determinism: the NDCG rank discounts 1/log2(rank+1) are precomputed ONCE
# as exact integer literals (floor(1e9/log2(i+1)), the same constants
# inlined in both engines), so DCG is a pure bigint dot product — no
# transcendental function ever runs inside either engine and summation
# order cannot matter. MRR on the 1e6 grid, one exact division.
# Scale: two already-scale-right top-10 rankings joined on (query, doc) —
# metric cost is O(k) per query.
# --------------------------------------------------------------------------
_NDCG_DISC = {
    1: 1000000000, 2: 630929753, 3: 500000000, 4: 430676558,
    5: 386852807, 6: 356207187, 7: 333333333, 8: 315464876,
    9: 301029995, 10: 289064826,
}
_IDCG_S = sum((11 - j) * d for j, d in _NDCG_DISC.items())
_DISC_SQL = (
    "CASE rank "
    + " ".join(f"WHEN {i} THEN {d}" for i, d in _NDCG_DISC.items())
    + " ELSE 0 END"
)


@register(
    "retrieval_eval_metrics",
    oracle=f"""
WITH {_BM25_CONTRIB_SQL},
lex AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id)
           AS rank
  FROM bm25
),
q AS ({_QUERY_SET_SQL}),
scored AS (
  SELECT q.query_id, e.vec_id AS doc_id, CAST(e.embedding AS DOUBLE[]) AS ev,
         q.qv
  FROM embeddings e CROSS JOIN q
),
dsims AS (
  SELECT query_id, doc_id, 1.0 - ({_COS_SQL}) AS dist FROM scored
),
gt AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist, doc_id)
           AS gt_rank
  FROM dsims
  QUALIFY gt_rank <= 10
),
graded AS (
  SELECT l.query_id, l.rank,
         COALESCE(11 - g.gt_rank, 0) AS rel,
         {_DISC_SQL} AS disc
  FROM (SELECT * FROM lex WHERE rank <= 10) l
  LEFT JOIN gt g ON g.query_id = l.query_id AND g.doc_id = l.doc_id
)
SELECT query_id,
       CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(coalesce(min(CASE WHEN rel > 0 THEN rank END), 0) AS BIGINT)
         AS first_hit_rank,
       CAST(coalesce(floor(1000000.0
                     / min(CASE WHEN rel > 0 THEN rank END)), 0) AS BIGINT)
         AS mrr_s6,
       CAST(sum(CAST(rel AS BIGINT) * disc) AS BIGINT) AS dcg_s,
       CAST(sum(CAST(rel AS BIGINT) * disc) AS BIGINT) * 1000000
         // {_IDCG_S} AS ndcg_s6
FROM graded GROUP BY query_id
""",
    doc="MRR / NDCG@10 / precision@10 of BM25 against the dense cosine "
    "top-10 as graded ground truth; log2 discounts inlined as exact "
    "integer literals in both engines so DCG is a bigint dot product",
)
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.knn import exact_knn
    from .vector import _query_set

    lex = _topk(
        _bm25_scored(spark, sf_dir), [F.desc("s6"), F.asc("doc_id")], 10
    ).select("query_id", "doc_id", "rank")
    gt = exact_knn(
        _query_set(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        k=10,
        metric="cosine",
        item_id="vec_id",
    ).select(
        "query_id",
        F.col("item_id").alias("doc_id"),
        F.col("rank").alias("gt_rank"),
    )
    disc = F.coalesce(
        F.element_at(
            F.create_map(
                *[
                    F.lit(v)
                    for i, d in _NDCG_DISC.items()
                    for v in (i, d)
                ]
            ),
            F.col("rank").cast("int"),
        ),
        F.lit(0),
    )
    graded = (
        lex.join(F.broadcast(gt), ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "rank",
            F.coalesce(F.lit(11) - F.col("gt_rank"), F.lit(0)).alias("rel"),
            disc.cast("bigint").alias("disc"),
        )
    )
    hit_rank = F.min(F.when(F.col("rel") > 0, F.col("rank")))
    return graded.groupBy("query_id").agg(
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        F.coalesce(hit_rank, F.lit(0)).cast("bigint").alias("first_hit_rank"),
        # floor() on BOTH engines: a bare double->bigint cast truncates in
        # Spark but rounds in DuckDB (diverges at first_hit_rank 3/6/7/9)
        F.coalesce(F.floor(F.lit(1000000.0) / hit_rank), F.lit(0))
        .cast("bigint")
        .alias("mrr_s6"),
        F.sum(F.col("rel").cast("bigint") * F.col("disc"))
        .cast("bigint")
        .alias("dcg_s"),
        # NDCG on the exact 1e6 integer grid (package convention,
        # queries/__init__.py): bigint floor-division is bit-identical
        # across engines, unlike a 6-dp double round (ADVICE round 5)
        F.expr(
            f"CAST(sum(CAST(rel AS BIGINT) * disc) AS BIGINT) * 1000000"
            f" div {_IDCG_S}"
        ).alias("ndcg_s6"),
    )


# --------------------------------------------------------------------------
# RM3-style pseudo-relevance feedback ([EXT]: Lavrenko & Croft 2001
# relevance models / the Anserini RM3 default — the standard query-
# expansion stage): first-pass BM25 top-10 per query is the feedback set;
# the top-5 feedback terms by total term frequency (excluding original
# query terms and corpus-half stopwords, ties by term) join the query at
# weight 0.4; the second weighted BM25 pass re-ranks.
#
# Determinism: expansion selection is pure integer counting with total
# tie-breaks; the weighted pass multiplies the exact 1e6-grid
# contributions by integer weights with floor division, so both passes
# stay order-free bigint sums.
# Scale: the feedback set is k docs per query (bounded); expansion mining
# reads the doc-bucketed forward index for exactly those docs, the df
# guard reads the vocab-sized terms table, and both BM25 passes serve from
# the bucket-pruned inverted index — zero corpus-text scans per execution.
# --------------------------------------------------------------------------
_RM3_N_FB = 10
_RM3_N_EXP = 5
_RM3_W6 = 400_000  # expansion-term weight on the 1e6 grid (0.4)


@register(
    "rm3_expanded_search",
    oracle=f"""
WITH {_BM25_CONTRIB_SQL},
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id)
             AS rank
    FROM bm25
  ) WHERE rank <= {_RM3_N_FB}
),
cand AS (
  SELECT fb.query_id, tok.term, count(*) AS tf_fb
  FROM tok JOIN fb ON tok.doc_id = fb.doc_id
  GROUP BY fb.query_id, tok.term
),
cdf AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok
  WHERE term IN (SELECT DISTINCT term FROM cand)
  GROUP BY term
),
exp AS (
  SELECT query_id, term FROM (
    SELECT c.query_id, c.term,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY c.tf_fb DESC, c.term) AS r
    FROM cand c
    JOIN cdf ON c.term = cdf.term
    CROSS JOIN stats s
    WHERE cdf.df * 2 <= s.n_docs
      AND NOT EXISTS (SELECT 1 FROM qt
                      WHERE qt.query_id = c.query_id AND qt.term = c.term)
  ) WHERE r <= {_RM3_N_EXP}
),
qt2 AS (
  SELECT query_id, term, CAST(1000000 AS BIGINT) AS w6 FROM qt
  UNION ALL
  SELECT query_id, term, CAST({_RM3_W6} AS BIGINT) AS w6 FROM exp
),
tf2 AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT DISTINCT term FROM qt2)
  GROUP BY doc_id, term
),
dft2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
contrib2 AS (
  SELECT qt2.query_id, tf2.doc_id,
         (CAST(round(
           ln(1.0 + (s.n_docs - dft2.df + 0.5) / (dft2.df + 0.5))
           * (tf2.tf * ({_K1} + 1.0))
           / (tf2.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))
           * 1000000) AS BIGINT) * qt2.w6) // 1000000 AS c6
  FROM qt2
  JOIN tf2 ON qt2.term = tf2.term
  JOIN dft2 ON tf2.term = dft2.term
  JOIN dl ON tf2.doc_id = dl.doc_id
  CROSS JOIN stats s
),
bm25_2 AS (
  SELECT query_id, doc_id, sum(c6) AS s6 FROM contrib2
  GROUP BY query_id, doc_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id,
       round(s6 / 1000000.0, 4) AS rm3_r
FROM (
  SELECT query_id, doc_id, s6,
         row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id)
           AS rank
  FROM bm25_2
) WHERE rank <= 10
""",
    doc="RM3 pseudo-relevance feedback: BM25 top-10 feedback docs -> top-5 "
    "expansion terms by feedback tf (df-guarded, original terms excluded) "
    "at weight 0.4 -> weighted second BM25 pass; all arithmetic on exact "
    "integer grids with floor division",
)
def rm3_expanded_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bm25 import bm25_scores_indexed
    from ..operators.postings import corpus_stats, doc_postings, term_df

    path = _get_or_build_postings(spark, sf_dir)
    qt = _query_terms_frame(spark)
    fb = _topk(
        bm25_scores_indexed(spark, path, qt, k1=_K1, b=_B),
        [F.desc("s6"), F.asc("doc_id")],
        _RM3_N_FB,
    ).select("query_id", "doc_id")

    # the feedback set is n_queries * k rows by construction — collect it
    # so (a) the forward-index scan prunes to the feedback docs' buckets
    # driver-side and (b) the expansion subtree is never recomputed by the
    # second pass (the round-5 checkpoint discipline, now via a local frame)
    fb_rows = fb.collect()
    fb_ids = sorted({int(r.doc_id) for r in fb_rows})
    fb_local = local_df(
        spark,
        [(int(r.query_id), int(r.doc_id)) for r in fb_rows],
        "query_id long, doc_id long",
    )
    # expansion mining reads the doc-bucketed FORWARD index — pre-counted
    # (doc, term, tf) rows for exactly the feedback docs; no raw-text
    # tokenize anywhere in this query anymore
    cand = (
        doc_postings(spark, path, fb_ids)
        .join(F.broadcast(fb_local), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("tf_fb"))
    )
    # the df guard reads the vocab-sized terms table — this used to be the
    # single remaining full corpus tokenize pass
    cdf = term_df(spark, path).join(
        F.broadcast(cand.select("term").distinct()), "term", "leftsemi"
    )
    n_docs = int(corpus_stats(spark, path).first()["n_docs"])
    w_exp = Window.partitionBy("query_id").orderBy(
        F.desc("tf_fb"), F.asc("term")
    )
    exp_rows = (
        cand.join(F.broadcast(cdf), "term")
        .filter(F.col("df") * 2 <= F.lit(n_docs))
        .join(F.broadcast(qt), ["query_id", "term"], "left_anti")
        .withColumn("r", F.row_number().over(w_exp))
        .filter(F.col("r") <= _RM3_N_EXP)
        .select("query_id", "term")
        .collect()
    )
    exp = local_df(
        spark,
        [(int(r.query_id), r.term) for r in exp_rows],
        "query_id long, term string",
    )
    qt2 = qt.withColumn("w6", F.lit(1_000_000).cast("bigint")).union(
        exp.withColumn("w6", F.lit(_RM3_W6).cast("bigint"))
    )
    second = bm25_scores_indexed(spark, path, qt2, k1=_K1, b=_B, weight_col="w6")
    return _topk(second, [F.desc("s6"), F.asc("doc_id")], 10).select(
        "query_id",
        "rank",
        "doc_id",
        F.round(F.col("s6") / 1_000_000.0, 4).alias("rm3_r"),
    )
