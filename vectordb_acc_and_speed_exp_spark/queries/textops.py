"""Text-analysis + deduplication surface over the ``documents`` table
(north-star LLM-pipeline operators; reference string ops X1-X6 plus the
near-dup family: exact hash, MinHash+LSH, SimHash, n-gram Jaccard).

Hash functions are the portable md5-derived 60-bit integers from
``functions.hashing`` so every signature is bit-identical in the DuckDB
oracle. Hot pure-Spark paths would use xxhash64 instead (see
operators/dedup.py); the portable family is the verifiable one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from ..functions.text import norm_text, punct_ratio, token_count, tokens
from ..io import load_table
from ..io.local import local_df
from . import REGISTRY, register

# DuckDB-side equivalents of functions/text.py (kept adjacent for parity).
_NORM_SQL = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"
_HASH_SQL = "CAST(('0x' || substring(md5({e}), 1, 15)) AS BIGINT)"


# --------------------------------------------------------------------------
# Per-document quality metrics: token count, punctuation ratio, mean token
# length — the "quality scoring" operator of a training-data pipeline.
# --------------------------------------------------------------------------
@register(
    "text_quality",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0 / len(text)
         END AS p_ratio
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(round(p_ratio * 1000000.0) AS BIGINT) AS punct_ratio_s6,
       CASE WHEN len(trim(text)) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(round((len(replace(trim(text), ' ', '')) * 1.0
                             / greatest(n_tokens, 1)) * 1000000.0) AS BIGINT)
       END AS avg_token_len_s6,
       CASE WHEN n_tokens >= 20 AND p_ratio < 0.1 THEN 1 ELSE 0 END AS is_quality
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # two-phase select so the tokenizer/regex run once per row, not once
    # per referencing expression
    staged = d.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        punct_ratio(F.col("text")).alias("p_ratio"),
        F.trim(F.col("text")).alias("trimmed"),
    )
    avg_tok = (
        F.length(F.replace(F.col("trimmed"), F.lit(" "), F.lit(""))).cast("double")
        / F.greatest(F.col("n_tokens"), F.lit(1))
    )
    return staged.select(
        "doc_id",
        "lang",
        "n_tokens",
        # small-integer ratios (punct chars / chars, chars / tokens) —
        # tie-prone at any decimal grid (audit flagged 5 half-ties at
        # dp=4); 1e6 integer grid per queries/__init__.py conventions
        F.round(F.col("p_ratio") * 1_000_000.0)
        .cast("bigint")
        .alias("punct_ratio_s6"),
        F.when(F.length("trimmed") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.round(avg_tok * 1_000_000.0).cast("bigint"))
        .alias("avg_token_len_s6"),
        F.when((F.col("n_tokens") >= 20) & (F.col("p_ratio") < 0.1), 1)
        .otherwise(0)
        .alias("is_quality"),
    )


# --------------------------------------------------------------------------
# Corpus profile by language: exact integer sums keep the doubles
# bit-deterministic across shuffle orders.
# --------------------------------------------------------------------------
@register(
    "lang_profile",
    oracle=f"""
WITH t AS (
  SELECT lang, n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       sum(n_chars) * 1.0 / count(*) AS avg_chars,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       sum(n_tokens) * 1.0 / count(*) AS avg_tokens
FROM t GROUP BY lang
""",
)
def lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", "n_chars", token_count(F.col("text")).alias("n_tokens"))
    cnt = F.count(F.lit(1))
    return t.groupBy("lang").agg(
        cnt.alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars") * 1.0 / cnt).alias("avg_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens") * 1.0 / cnt).alias("avg_tokens"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting: md5 of the canonical text form.
# --------------------------------------------------------------------------
@register(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fingerprint"))


# --------------------------------------------------------------------------
# Exact deduplication: group by content hash, keep groups of size > 1.
# The 100 TB path: hash-shuffle on the fingerprint only (never the text).
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=f"""
SELECT md5({_NORM_SQL}) AS fingerprint,
       count(*) AS n_dups,
       min(doc_id) AS keeper_doc_id
FROM documents
GROUP BY 1 HAVING count(*) > 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# MinHash signatures: 16 seeded hash-family members over distinct word
# 3-gram shingles; signature element = min hash per seed. One narrow shuffle
# on (doc_id, seed).
# --------------------------------------------------------------------------
_N_HASHES = 16
_BAND_SIZE = 4
_SHINGLES_SQL = f"""
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len({_TOKENS_SQL}) - 2, 1) + 1),
           i -> array_to_string(list_slice({_TOKENS_SQL}, i, i + 2), ' ')
         ))) AS sh
  FROM documents
"""
# array_to_string(list_slice(...)) is the exact DuckDB twin of Spark's
# concat_ws(' ', slice(toks, i, 3)): a <3-token doc yields one partial
# shingle of all its tokens on BOTH engines (the earlier `t[i]||' '||t[i+1]`
# form NULL-propagated out-of-range indexes and silently dropped short docs).
# affine minhash family over one base hash (mirrors operators/dedup.py::
# _minhash_from_shingles exactly — see its docstring for the constants)
_MINHASH_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
based AS (
  SELECT doc_id, {_HASH_SQL.format(e="sh")} % 1073741824 AS h30 FROM sh
),
seeded AS (
  SELECT doc_id, seed.range AS seed,
         min((CAST(((1103515245 * seed.range + 12345) % 1073741824) | 1 AS BIGINT) * h30
              + (12345 * seed.range + 1103515245) % 1073741824) % 2147483647) AS minhash
  FROM based, range(0, {_N_HASHES}) seed
  GROUP BY doc_id, seed.range
)
"""


@register(
    "minhash_signatures",
    oracle=_MINHASH_SQL + "SELECT doc_id, seed, minhash FROM seeded",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_signatures_df

    d = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures_df(d, "doc_id", "text", n_hashes=_N_HASHES)
    return sig.select("doc_id", F.col("seed").cast("bigint").alias("seed"), "minhash")


# --------------------------------------------------------------------------
# MinHash-LSH near-dup pairs: band the 16-element signature into 4 bands of
# 4, bucket-join on (band, band-signature), verify candidates with true
# Jaccard over the shingle sets, keep pairs >= 0.5. This is the full
# shingle→minhash→band→bucket-join→verify pipeline, all relational.
# --------------------------------------------------------------------------
def _get_or_build_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus' 3-word shingle table (doc_id, sh — distinct per doc,
    the _shingle_table contract), MATERIALIZED once per corpus
    fingerprint and shared by every pair query over it (minhash /
    prefix-jaccard / ngram-jaccard / containment). This is the 100 TB
    shape SCALE.md describes: the gram table is an artifact a pipeline
    builds once, not a tokenize pass each query re-pays — at bench scale
    it replaces ~0.8 s of tokenize+shingle per entry with a column-pruned
    parquet read."""
    from ..operators.dedup import _shingle_table
    from .pipeline import _build_once

    def build(path):
        _shingle_table(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ).write.mode("overwrite").parquet(path)

    path = _build_once(
        sf_dir, "shingles3", ("shingles3",), build, table="documents"
    )[0]
    return spark.read.parquet(path)


def _get_or_build_ngram_plists(spark: SparkSession, sf_dir: str):
    """(plists, sizes) for ngram_jaccard_pairs (VERDICT r12 #6): the
    df-capped posting-list table (sh, sorted doc ids at _DF_CAP) and the
    per-doc shingle counts, both pure functions of the corpus,
    MATERIALIZED once per fingerprint beside the shingles. The timed
    entry then pays pair expansion + count + jaccard only."""
    from .pipeline import _build_once

    def build(ppath, spath):
        sh = _get_or_build_shingles(spark, sf_dir)
        rare = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= _DF_CAP)
            .select("sh")
        )
        (
            sh.join(rare, "sh")
            .groupBy("sh")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .write.mode("overwrite")
            .parquet(ppath)
        )
        sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("sz")
        ).write.mode("overwrite").parquet(spath)

    ppath, spath = _build_once(
        sf_dir, "ngram_plists", ("ngram_plists", "shingle_sizes"), build,
        table="documents", version=f"|cap{_DF_CAP}",
    )
    return spark.read.parquet(ppath), spark.read.parquet(spath)


def _get_or_build_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus' banded MinHash signature table (doc_id, band, sig at
    the registry's _N_HASHES/_BAND_SIZE), MATERIALIZED once per corpus
    fingerprint beside the shingles (VERDICT r12 #6 — the
    parent_doc_retrieval pattern): signatures are a pure function of the
    shingle table, so the minhash+banding pass is build-once work every
    pair query was re-paying per execution. Consumers: the
    minhash_lsh_dup_pairs serve path (collision + verify only at query
    time)."""
    from ..operators.dedup import _band_table, _minhash_from_shingles
    from .pipeline import _build_once

    def build(path):
        _band_table(
            _minhash_from_shingles(
                _get_or_build_shingles(spark, sf_dir), _N_HASHES
            ),
            _BAND_SIZE,
        ).write.mode("overwrite").parquet(path)

    path = _build_once(
        sf_dir, "minhash_bands", ("minhash_bands",), build,
        table="documents", version=f"|h{_N_HASHES}b{_BAND_SIZE}",
    )[0]
    return spark.read.parquet(path)



@register(
    "minhash_lsh_dup_pairs",
    oracle=_MINHASH_SQL
    + f""",
bands AS (
  SELECT doc_id, seed // {_BAND_SIZE} AS band,
         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed) AS sig
  FROM seeded GROUP BY doc_id, seed // {_BAND_SIZE}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
   AND a.doc_id < b.doc_id
),
shs AS (SELECT doc_id, list(sh) AS s FROM ({_SHINGLES_SQL}) GROUP BY doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(x.s, y.s)) * 1.0
           / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jaccard
  FROM cand c JOIN shs x ON c.id_a = x.doc_id JOIN shs y ON c.id_b = y.doc_id
)
SELECT id_a, id_b, round(jaccard, 4) AS jaccard_r
FROM verified WHERE jaccard >= 0.5
""",
)
def minhash_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        n_hashes=_N_HASHES,
        band_size=_BAND_SIZE,
        jaccard_threshold=0.5,
        shingles=_get_or_build_shingles(spark, sf_dir),
        bands=_get_or_build_minhash_bands(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Signature-only variant: same band-collision candidates, but "verified"
# with the signature-agreement Jaccard estimator (matching slots / 16)
# instead of exact shingle Jaccard. This is the EXACT computation the
# incremental streaming index performs per micro-batch
# (streaming/dedup_maintenance.py) — old docs exist only as signatures
# there — so gating it here ties the streaming verify step to DuckDB.
# --------------------------------------------------------------------------
@register(
    "minhash_est_pairs",
    oracle=_MINHASH_SQL
    + f""",
bands AS (
  SELECT doc_id, seed // {_BAND_SIZE} AS band,
         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed) AS sig
  FROM seeded GROUP BY doc_id, seed // {_BAND_SIZE}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) * 1.0
           / {_N_HASHES} AS est
  FROM cand c
  JOIN seeded sa ON sa.doc_id = c.id_a
  JOIN seeded sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, round(est, 4) AS est_jaccard_r FROM est WHERE est >= 0.5
""",
    doc="near-dup pairs verified by the signature-agreement estimator "
    "(the streaming incremental index's verify step, which retains only "
    "signatures for old docs) — band collisions + matching-slot fraction",
)
def minhash_est_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        _band_collisions,
        _band_table,
        minhash_signatures_df,
        signature_estimate,
    )

    sig = minhash_signatures_df(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n_hashes=_N_HASHES,
    ).persist()
    # self-join consumes bands twice; unpersisted it rebuilds the band
    # aggregation per side (the double-recompute minhash_lsh_pairs
    # measured and persists against)
    bands = _band_table(sig, _BAND_SIZE).persist()
    from ..operators.dedup import materialize_and_release

    est = signature_estimate(
        _band_collisions(bands, bands), sig, sig, _N_HASHES
    )
    return materialize_and_release(
        est.filter(F.col("est_jaccard_r") >= 0.5), sig, bands
    )


# --------------------------------------------------------------------------
# Duplicate-cluster resolution: the step AFTER pair mining — connected
# components over the near-dup pair graph, canonical doc = min id per
# cluster. Spark side is iterative min-label propagation (driver sees only
# a per-round changed-count); the oracle expresses the same fixpoint as a
# DuckDB recursive CTE (transitive closure → min reachable id).
# --------------------------------------------------------------------------
# shared CTE prefix (shingles ... verified pairs ... transitive closure);
# reused verbatim by curated_corpus below
_DEDUP_CLUSTERS_CTES = (
    REGISTRY["minhash_lsh_dup_pairs"].oracle.replace(
        "WITH sh AS", "WITH RECURSIVE sh AS", 1
    ).rsplit("SELECT id_a, id_b,", 1)[0]
    + """,
pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
"""
)

_DEDUP_CLUSTERS_ORACLE = (
    _DEDUP_CLUSTERS_CTES
    + """
SELECT u AS doc_id,
       LEAST(u, MIN(v)) AS cluster_id,
       CAST(u = LEAST(u, MIN(v)) AS INT) AS is_canonical
FROM reach GROUP BY u
"""
)


def _corpus_long_docs(spark: SparkSession, sf_dir: str) -> bool:
    """True iff any document's raw text can exceed SKEW_CHUNK_TOKENS
    tokens (checked via the same 2*chunk-1 char guard the stream uses) —
    computed ONCE per corpus version and memoized beside the other index
    artifacts, so per-query plans only pay chunked_token_stream's
    defensive two-branch shape (a second full text scan per execution)
    when a long document actually exists. One max(length(text)) pass per
    corpus version amortizes across every later query; same
    fingerprint-invalidation discipline as the postings/cluster builds."""
    import json
    import os

    from ..functions.text import SKEW_CHUNK_TOKENS
    from .pipeline import _index_root, _source_fingerprint

    guard = 2 * SKEW_CHUNK_TOKENS - 1
    root = _index_root(sf_dir)
    memo = os.path.join(root, "text_maxlen.json")
    fp = _source_fingerprint(sf_dir, table="documents")
    try:
        with open(memo) as fh:
            j = json.load(fh)
        if j.get("fp") == fp and j.get("guard") == guard:
            return bool(j["long"])
    except (OSError, ValueError, KeyError):
        pass
    mx = (
        load_table(spark, sf_dir, "documents")
        .agg(F.max(F.length("text")))
        .first()[0]
        or 0
    )
    os.makedirs(root, exist_ok=True)
    with open(memo + ".tmp", "w") as fh:
        json.dump({"fp": fp, "guard": guard, "long": mx > guard}, fh)
    os.replace(memo + ".tmp", memo)
    return mx > guard


def _get_or_build_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the near-dup cluster table (doc_id, cluster_id,
    is_canonical) once per corpus and share it between every consumer
    (dedup_clusters, curated_corpus): pair mining + connected components
    run a single time, later calls are a parquet scan. This is the 100 TB
    operational shape — clusters are a maintained artifact, not something
    each downstream query re-mines (same _get_or_build discipline as the
    ANN index builds in queries/pipeline.py)."""
    from ..operators.dedup import connected_components, minhash_lsh_pairs
    from .pipeline import _build_once

    def build(path, pairs_path):
        pairs = minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"),
            id_col="doc_id",
            text_col="text",
            n_hashes=_N_HASHES,
            band_size=_BAND_SIZE,
            jaccard_threshold=0.5,
            shingles=_get_or_build_shingles(spark, sf_dir),
        )
        # the verified pair table is itself a maintained artifact: the
        # mining pass produces it anyway, and provenance consumers
        # (source_overlap_matrix) otherwise re-mine the whole pipeline
        pairs.select("id_a", "id_b").write.mode("overwrite").parquet(
            pairs_path
        )
        cc = connected_components(spark.read.parquet(pairs_path))
        cc.select(
            F.col("node").alias("doc_id"),
            F.col("cluster_id"),
            (F.col("node") == F.col("cluster_id")).cast("int").alias("is_canonical"),
        ).write.mode("overwrite").parquet(path)

    # a marker written before the pairs artifact existed (or a manually
    # deleted artifact) rebuilds BOTH outputs
    path = _build_once(
        sf_dir, "dedup_clusters", ("dedup_clusters", "dedup_pairs"), build,
        table="documents",
    )[0]
    return spark.read.parquet(path)


def _get_or_build_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified MinHash-LSH pair table (id_a, id_b at jaccard >= 0.5),
    materialized by the same build as the cluster table."""
    import os

    from .pipeline import _index_root

    _get_or_build_clusters(spark, sf_dir)  # ensures both artifacts exist
    return spark.read.parquet(os.path.join(_index_root(sf_dir), "dedup_pairs"))


@register(
    "dedup_clusters",
    oracle=_DEDUP_CLUSTERS_ORACLE,
    doc="connected components over the MinHash-LSH near-dup pair graph — "
    "min-label propagation (diameter rounds, one narrow shuffle each) vs "
    "a recursive-CTE closure oracle; canonical doc = min id per cluster; "
    "materialized once and shared with curated_corpus",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _get_or_build_clusters(spark, sf_dir)


@register(
    "dedup_clusters_incremental",
    oracle=_DEDUP_CLUSTERS_ORACLE,
    doc="the INCREMENTALLY MAINTAINED cluster artifact "
    "(operators/dedup_clusters.py): the verified pair set arrives in "
    "two waves, the second folded in by clusters_upsert (driver "
    "union-find on the batch's CONTRACTED cluster graph + touched-bucket "
    "rewrite — never a full-graph CC after the first wave); the final "
    "table must equal the one-shot closure, so the oracle is "
    "dedup_clusters' recursive CTE verbatim (deeper merge chains — four "
    "batches, any order — are pinned in tests/test_cluster_maintenance)",
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.dedup_clusters import clusters_upsert, serve_clusters

    pairs = _get_or_build_pairs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="cluster_inc_gate_")
    try:
        path = f"{root}/clusters"
        # deterministic 2-way arrival split; waves cross-reference nodes
        # from each other, so the second upsert exercises real merges
        # n_buckets is a layout knob like shuffle partitions: 8 fits the
        # gate-scale pair graph (hundreds of pairs); production picks by
        # expected cluster count
        for w in range(2):
            clusters_upsert(
                spark,
                path,
                pairs.filter(F.pmod(F.col("id_a") + F.col("id_b"), F.lit(2)) == w),
                n_buckets=8,
                batch_key=str(w),
            )
        # materialize before the temp artifact the plan reads is dropped
        return serve_clusters(spark, path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# End-to-end curation: the whole cleaning funnel in one plan — quality
# gate (text_quality's rule) AND near-dup removal keeping one canonical
# doc per cluster — rolled up per lang. This is the query a pipeline runs
# LAST, and it composes two already-oracled stages, so its oracle is the
# same composition: quality CTE + the recursive-closure CTEs + an anti
# NOT IN on the non-canonical set.
# --------------------------------------------------------------------------
_CURATED_ORACLE = (
    _DEDUP_CLUSTERS_CTES
    + """,
dropped AS (
  SELECT u FROM reach GROUP BY u HAVING u != LEAST(u, MIN(v))
),
q AS (
  SELECT doc_id, lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0 / len(text)
         END AS p_ratio
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM q
WHERE n_tokens >= 20 AND p_ratio < 0.1
  AND doc_id NOT IN (SELECT u FROM dropped)
GROUP BY lang
"""
)


@register(
    "curated_corpus",
    oracle=_CURATED_ORACLE,
    doc="end-to-end curation funnel: quality gate + near-dup removal "
    "(keep the canonical doc per cluster) -> per-lang doc/token counts; "
    "composes text_quality and dedup_clusters in one plan",
)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    quality = REGISTRY["text_quality"].fn(spark, sf_dir)
    non_canonical = (
        _get_or_build_clusters(spark, sf_dir)
        .filter(F.col("is_canonical") == 0)
        .select("doc_id")
    )
    return (
        quality.filter(F.col("is_quality") == 1)
        .join(non_canonical, "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# --------------------------------------------------------------------------
# SimHash: 60-bit fingerprint from distinct tokens; bit j of the fingerprint
# is set iff the sum over tokens of (2*bit_j(hash(tok)) - 1) is positive.
# --------------------------------------------------------------------------
@register(
    "simhash",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    WHERE length(trim(text)) > 0
  )
),
bits AS (
  SELECT doc_id, j.range AS j,
         sum(CASE WHEN ({_HASH_SQL.format(e="tok")} >> CAST(j.range AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tok, range(0, 60) j
  GROUP BY doc_id, j.range
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_fingerprints

    return simhash_fingerprints(
        load_table(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup join without MinHash: inverted index on shingles
# with a document-frequency cap (stop-shingle removal — the standard trick
# that keeps the candidate blow-up bounded at scale), then exact Jaccard.
# --------------------------------------------------------------------------
_DF_CAP = 50


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
rare AS (
  SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {_DF_CAP}
),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  JOIN rare r ON a.sh = r.sh
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id_a, c.id_b,
       round(c.n_common * 1.0 / (sa.sz + sb.sz - c.n_common), 4) AS jaccard_r
FROM common c JOIN sizes sa ON c.id_a = sa.doc_id JOIN sizes sb ON c.id_b = sb.doc_id
WHERE c.n_common * 1.0 / (sa.sz + sb.sz - c.n_common) >= 0.3
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_join

    plists, sizes = _get_or_build_ngram_plists(spark, sf_dir)
    return ngram_jaccard_join(
        load_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=0.3,
        df_cap=_DF_CAP,
        plists=plists,
        sizes=sizes,
    )


# --------------------------------------------------------------------------
# Language identification by stopword-lexicon voting (n-gram-free heuristic
# that is exactly expressible in SQL — the production version would be a
# character-n-gram model behind the same interface).
# --------------------------------------------------------------------------
_LEXICON = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "que", "pour", "dans"],
    "es": ["el", "la", "los", "que", "es", "para", "con", "una"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}


def _lexicon_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, ws in _LEXICON.items() for w in ws
    )
    return f"(VALUES {rows}) AS lex(lex_lang, word)"


@register(
    "lang_id_votes",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
             WHERE length(trim(text)) > 0),
votes AS (
  SELECT t.doc_id, lex.lex_lang, count(*) AS n_hits
  FROM tok t JOIN {_lexicon_values_sql()} ON t.tok = lex.word
  GROUP BY t.doc_id, lex.lex_lang
),
best AS (
  SELECT doc_id, lex_lang, n_hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, lex_lang) AS rn
  FROM votes
)
SELECT b.doc_id, b.lex_lang AS predicted_lang, b.n_hits, d.lang AS actual_lang,
       CASE WHEN b.lex_lang = d.lang THEN 1 ELSE 0 END AS is_correct
FROM best b JOIN documents d ON b.doc_id = d.doc_id
WHERE b.rn = 1
""",
)
def lang_id_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    lex = local_df(d.sparkSession, 
        [(lang, w) for lang, ws in _LEXICON.items() for w in ws],
        "lex_lang string, word string",
    )
    tok = d.select("doc_id", F.explode(tokens(norm_text(F.col("text")))).alias("tok"))
    votes = (
        tok.join(F.broadcast(lex), tok.tok == lex.word)
        .groupBy("doc_id", "lex_lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("lex_lang"))
    best = votes.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("lex_lang").alias("predicted_lang"),
        "n_hits",
        F.col("lang").alias("actual_lang"),
        F.when(F.col("lex_lang") == F.col("lang"), 1).otherwise(0).alias("is_correct"),
    )


# --------------------------------------------------------------------------
# BPE-ish regex token counting (north-star text analysis: whitespace tokens
# vs subword-ish regex tokens — alpha runs, digit runs, single symbols).
# --------------------------------------------------------------------------
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "bpe_token_stats",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_ws_tokens,
         len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens
  FROM documents
)
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       CASE WHEN n_ws_tokens = 0 THEN 0.0
            ELSE round(n_bpe_tokens * 1.0 / n_ws_tokens, 4) END AS bpe_per_word_r
FROM t
""",
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )
    return staged.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.when(F.col("n_ws_tokens") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_bpe_tokens") * 1.0 / F.col("n_ws_tokens"), 4))
        .alias("bpe_per_word_r"),
    )


# --------------------------------------------------------------------------
# Scalar string-function coverage (reference X2-X5: translate, concat,
# split-index, regexp number extraction — download_arxiv.py:46,56-57,
# create_collections.py:180-196).
# --------------------------------------------------------------------------
@register(
    "source_normalize",
    oracle=r"""
SELECT doc_id,
       CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) AS src_num,
       upper(translate(source, 'src', 'SRC')) AS src_upper,
       concat(lang, '-', lpad(regexp_extract(source, '(\d+)', 1), 4, '0')) AS corpus_tag,
       string_split_regex(trim(text), '\s+')[1] AS first_word,
       split_part(source, 'c', 1) AS src_prefix
FROM documents
""",
)
def source_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    num = F.regexp_extract(F.col("source"), r"(\d+)", 1)
    return d.select(
        "doc_id",
        num.cast("int").alias("src_num"),
        F.upper(F.translate(F.col("source"), "src", "SRC")).alias("src_upper"),
        F.concat(F.col("lang"), F.lit("-"), F.lpad(num, 4, "0")).alias("corpus_tag"),
        F.split(F.trim(F.col("text")), r"\s+").getItem(0).alias("first_word"),
        F.split(F.col("source"), "c").getItem(0).alias("src_prefix"),
    )


# --------------------------------------------------------------------------
# SimHash near-dup pairs: pigeonhole blocking on 4 x 15-bit chunks, exact
# Hamming verify — the full simhash dedup pipeline, oracle-checked.
# --------------------------------------------------------------------------
_SIMHASH_BASE_SQL = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    WHERE length(trim(text)) > 0
  )
),
bits AS (
  SELECT doc_id, j.range AS j,
         sum(CASE WHEN ({_HASH_SQL.format(e="tok")} >> CAST(j.range AS INTEGER)) & 1 = 1
                  THEN 1 ELSE -1 END) AS s
  FROM tok, range(0, 60) j
  GROUP BY doc_id, j.range
),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""


@register(
    "simhash_neardup",
    oracle=_SIMHASH_BASE_SQL
    + """,
chunks AS (
  SELECT doc_id, simhash, c.range AS chunk,
         (simhash >> CAST(c.range * 15 AS INTEGER)) & 32767 AS chunk_val
  FROM fp, range(0, 4) c
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, a.simhash AS sh_a,
                  b.doc_id AS id_b, b.simhash AS sh_b
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 2
""",
    doc="simhash is candidate GENERATION here: distinct-token simhash over a "
    "small shared vocabulary collides aggressively (hamming 0 != identical "
    "text), so downstream must jaccard-verify — see minhash_lsh_dup_pairs",
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_neardup_pairs

    return simhash_neardup_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=2
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document — classic text analytics as pure relational
# algebra (tf = in-doc count, idf = ln((N+1)/(df+1)) + 1, smooth), no MLlib
# fit state, so the whole thing is oracle-checkable.
# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
             WHERE length(trim(text)) > 0),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents
     WHERE length(trim(text)) > 0),
scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (ln((n.n_docs + 1) * 1.0 / (df.df + 1)) + 1.0) AS score
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, round(score, 4) AS score_r
FROM ranked WHERE rank <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = d.select("doc_id", F.explode(tokens(norm_text(F.col("text")))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) * 1.0 / (F.col("df") + 1)) + 1.0)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", F.round("score", 4).alias("score_r"))
    )


# --------------------------------------------------------------------------
# Character n-gram profile (the char-shingle dedup feature space).
# --------------------------------------------------------------------------
@register(
    "char_ngram_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(nt) - 4, 1) + 1),
           i -> substring(nt, CAST(i AS INTEGER), 5)
         )) AS gs,
         len(nt) AS n_chars_norm
  FROM t
)
SELECT doc_id, n_chars_norm,
       CAST(len(gs) AS BIGINT) AS n_distinct_5grams,
       CAST(round(len(gs) * 1000000.0 / greatest(n_chars_norm - 4, 1))
            AS BIGINT) AS uniqueness_s6
FROM grams
""",
)
def char_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import ngram_shingles

    d = load_table(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        F.length(norm_text(F.col("text"))).alias("n_chars_norm"),
        F.array_distinct(ngram_shingles(F.col("text"), 5)).alias("gs"),
    )
    return staged.select(
        "doc_id",
        "n_chars_norm",
        F.size("gs").cast("bigint").alias("n_distinct_5grams"),
        # ratio of small integers — tie-by-construction at any decimal
        # grid (audit flagged 3 exact half-ties at dp=4); the 1e6 integer
        # grid is engine-stable because both engines round the SAME
        # double half-away-from-zero (queries/__init__.py conventions)
        F.round(
            F.size("gs") * 1_000_000.0
            / F.greatest(F.col("n_chars_norm") - 4, F.lit(1))
        )
        .cast("bigint")
        .alias("uniqueness_s6"),
    )


# --------------------------------------------------------------------------
# Polynomial rolling-hash fingerprint (north-star "document fingerprinting
# (rolling hash)"): fold over the normalized character stream,
# h = (h * 257 + code) mod (2^31 - 1). Left-to-right fold is identical in
# both engines (Spark aggregate / DuckDB list_reduce), so exact-verified.
# Unlike md5 it supports incremental/windowed updates at ingest time.
# --------------------------------------------------------------------------
@register(
    "rolling_hash_fingerprint",
    oracle=f"""
WITH t AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents)
SELECT doc_id,
       CASE WHEN len(nt) = 0 THEN 0
            ELSE list_reduce(
              list_prepend(CAST(0 AS BIGINT), list_transform(
                range(1, len(nt) + 1),
                i -> CAST(ascii(substring(nt, CAST(i AS INTEGER), 1)) AS BIGINT))),
              (acc, c) -> (acc * 257 + c) % 2147483647)
       END AS rolling_hash
FROM t
""",
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    nt = norm_text(F.col("text"))
    staged = d.select("doc_id", F.split(nt, "").alias("chars"))
    h = F.aggregate(
        F.transform(F.col("chars"), lambda c: F.ascii(c).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 257 + c) % 2147483647,
    )
    return staged.select(
        "doc_id",
        F.when(F.size("chars") == 0, F.lit(0).cast("bigint"))
        .otherwise(h)
        .alias("rolling_hash"),
    )


# --------------------------------------------------------------------------
# Repetition profile: duplicate n-gram fraction per document (the Gopher-
# rules repetition signal — high duplicate-n-gram mass means boilerplate /
# degenerate text). Strict n-grams; fraction = 1 - distinct/total over
# n-gram occurrences; docs shorter than n tokens score 0. Pure HOF
# codegen — the token array is materialized once and both n-gram arrays
# derive from it inside one projection.
# --------------------------------------------------------------------------
def _strict_ngrams_col(toks, n: int):
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _dup_frac_col(grams):
    # ratio of small integers — tie-by-construction at any decimal grid
    # (audit flagged 2 exact half-ties at dp=4); the 1e6 integer grid is
    # engine-stable: both engines compute the identical double and round
    # it half-away-from-zero at the integer boundary
    return F.when(
        F.size(grams) > 0,
        F.round(
            (
                1.0
                - F.size(F.array_distinct(grams)).cast("double")
                / F.size(grams)
            )
            * 1_000_000.0
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))


def _strict_ngrams_sql(n: int) -> str:
    return (
        f"CASE WHEN len(t) >= {n} THEN list_transform("
        f"generate_series(1, len(t) - {n - 1}), "
        f"i -> list_aggregate(t[i:i+{n - 1}], 'string_agg', ' ')) "
        f"ELSE [] END"
    )


_DUP_FRAC_SQL = (
    "CASE WHEN len({g}) > 0 THEN "
    "CAST(round((1.0 - len(list_distinct({g})) * 1.0 / len({g})) "
    "* 1000000.0) AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END"
)


@register(
    "repetition_profile",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
           WHERE length(trim(text)) > 0),
g AS (
  SELECT doc_id, len(t) AS n_tokens,
         {_strict_ngrams_sql(2)} AS g2,
         {_strict_ngrams_sql(3)} AS g3
  FROM t
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       {_DUP_FRAC_SQL.format(g="g2")} AS dup_2gram_s6,
       {_DUP_FRAC_SQL.format(g="g3")} AS dup_3gram_s6,
       CASE WHEN {_DUP_FRAC_SQL.format(g="g3")} > 50000 THEN 1 ELSE 0 END
         AS is_repetitive
FROM g
""",
    doc="Gopher-style repetition signal: duplicate 2-/3-gram occurrence "
    "fraction per doc (1e6 integer grid), strict n-grams, flag at "
    "dup_3gram_s6 > 50000 (= 5%)",
)
def repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    staged = d.select(
        "doc_id", tokens(norm_text(F.col("text"))).alias("t")
    ).select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        _strict_ngrams_col(F.col("t"), 2).alias("g2"),
        _strict_ngrams_col(F.col("t"), 3).alias("g3"),
    )
    d3 = _dup_frac_col(F.col("g3"))
    return staged.select(
        "doc_id",
        "n_tokens",
        _dup_frac_col(F.col("g2")).alias("dup_2gram_s6"),
        d3.alias("dup_3gram_s6"),
        F.when(d3 > 50000, 1).otherwise(0).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# PII scrub: regex redaction of emails / phone-like / IP-like substrings
# with per-doc redaction counts and a signature of the scrubbed text. The
# synthetic corpus contains no PII, so the query deterministically injects
# PII-shaped suffixes (a pure function of doc_id, computed identically in
# both engines) and then scrubs them — the *redaction machinery* is what's
# hash-verified. Patterns stay in the Java-regex ∩ RE2 common subset.
# --------------------------------------------------------------------------
_PAT_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PAT_PHONE = r"\b555-[0-9]{4}\b"
_PAT_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_INJECT_SQL = """
  text
  || CASE WHEN doc_id % 3 = 0
          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
          ELSE '' END
  || CASE WHEN doc_id % 5 = 0
          THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          ELSE '' END
  || CASE WHEN doc_id % 7 = 0
          THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
               || CAST(doc_id % 250 AS VARCHAR)
          ELSE '' END
"""


@register(
    "pii_scrub",
    oracle=f"""
WITH inj AS (SELECT doc_id, ({_INJECT_SQL}) AS raw FROM documents),
red AS (
  SELECT doc_id, raw,
         regexp_replace(regexp_replace(regexp_replace(raw,
           '{_PAT_EMAIL}', '<EMAIL>', 'g'),
           '{_PAT_PHONE}', '<PHONE>', 'g'),
           '{_PAT_IP}', '<IP>', 'g') AS redacted
  FROM inj
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_PAT_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PAT_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(raw, '{_PAT_IP}')) AS BIGINT) AS n_ips,
       CAST(len(redacted) AS BIGINT) AS redacted_len,
       substring(md5(redacted), 1, 16) AS redacted_sig
FROM red
""",
    doc="regex PII scrub (email/phone/IP -> typed placeholders) with "
    "per-doc counts; PII is injected as a pure function of doc_id since "
    "the synthetic corpus has none — redaction output is hash-verified",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    frag = lambda mod, col: F.when(  # noqa: E731
        F.col("doc_id") % mod == 0, col
    ).otherwise(F.lit(""))
    raw = F.concat(
        F.col("text"),
        frag(
            3,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ),
        frag(
            5,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ),
        frag(
            7,
            F.concat(
                F.lit(" host 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 250).cast("string"),
            ),
        ),
    )
    staged = d.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PAT_EMAIL, "<EMAIL>"),
            _PAT_PHONE,
            "<PHONE>",
        ),
        _PAT_IP,
        "<IP>",
    )
    staged = staged.select("doc_id", "raw", redacted.alias("redacted"))
    return staged.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(_PAT_EMAIL))
        .cast("bigint")
        .alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PAT_PHONE))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_count(F.col("raw"), F.lit(_PAT_IP))
        .cast("bigint")
        .alias("n_ips"),
        F.length("redacted").cast("bigint").alias("redacted_len"),
        F.substring(F.md5("redacted"), 1, 16).alias("redacted_sig"),
    )


# --------------------------------------------------------------------------
# Bigram-LM fluency score — the perplexity-filter stage of a training-data
# pipeline (CCNet/Gopher-style), self-trained so it needs no external
# model: add-1-smoothed bigram log-probabilities with counts from the
# corpus itself, per-doc mean floored onto a 1e6 grid. Gibberish and
# boilerplate-repetition docs score low; the whole computation is three
# hash aggregates + one broadcast-joined scoring pass (no model, no UDF),
# and the oracle replays it verbatim.
# --------------------------------------------------------------------------
@register(
    "bigram_lm_scores",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents
           WHERE length(trim(text)) > 0),
tok AS (SELECT doc_id, unnest(ts) AS w FROM toks),
uni AS (SELECT w AS w1, count(*) AS c1 FROM tok GROUP BY w),
voc AS (SELECT count(*) AS v FROM uni),
bg AS (
  SELECT doc_id, ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2
  FROM (
    SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
    FROM toks WHERE len(ts) >= 2
  )
),
cb AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
scored AS (
  SELECT bg.doc_id,
         CAST(round(ln((cb.c2 + 1.0) / (uni.c1 + voc.v)) * 1000000)
              AS BIGINT) AS lp6
  FROM bg JOIN cb USING (w1, w2) JOIN uni USING (w1) CROSS JOIN voc
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(floor(sum(lp6) * 1.0 / count(*)) AS BIGINT) AS lm_s6
FROM scored GROUP BY doc_id
""",
    doc="self-trained add-1 bigram LM fluency score per doc (the "
    "perplexity-filter pipeline stage): corpus bigram/unigram counts, "
    "mean log-probability on a 1e6 floor grid. Scale shape: hash "
    "aggregates for the count tables, scoring joins shuffle on the "
    "token keys (the standard LM-training shuffle — count tables are "
    "corpus-vocabulary-sized, only the scalar vocab count broadcasts); "
    "no model, no Python",
)
def bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = d.select("doc_id", tokens(norm_text(F.col("text"))).alias("ts"))
    tok = toks.select("doc_id", F.explode("ts").alias("w"))
    uni = tok.groupBy(F.col("w").alias("w1")).agg(F.count(F.lit(1)).alias("c1"))
    voc = uni.agg(F.count(F.lit(1)).alias("v"))
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 1), "
                    "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bg.join(cb, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            # each log term lands on the 1e6 grid BEFORE the sum — a raw
            # double sum is partition-order dependent (the one spot in
            # this file that violated the repo invariant; the other
            # log-based queries already round per-term)
            F.round(
                F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))
                * 1000000
            )
            .cast("bigint")
            .alias("lp6"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.floor(F.sum("lp6") * 1.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("lm_s6"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage / OOV profile — the tokenizer-training prep metric:
# fix the top-K corpus vocabulary by frequency (deterministic tie-break on
# the token string) and report each document's out-of-vocabulary token
# fraction on a 1e6 floor grid. High-OOV docs are the ones a fixed
# tokenizer will shred into bytes; pipelines gate or re-route them.
# Scale shape: one token-count aggregate, top-K via window (vocabulary-
# sized, not corpus-sized), broadcast vocab membership onto one token
# pass.
# --------------------------------------------------------------------------
_VOCAB_K = 2000


@register(
    "vocab_coverage",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS w
             FROM documents WHERE len(trim(text)) > 0),
cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
vocab AS (
  SELECT w FROM (
    SELECT w, row_number() OVER (ORDER BY c DESC, w) AS r FROM cnt
  ) WHERE r <= {_VOCAB_K}
)
SELECT tok.doc_id, count(*) AS n_toks,
       CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       CAST(floor(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1000000.0
                  / count(*)) AS BIGINT) AS oov_s6
FROM tok LEFT JOIN vocab v USING (w)
GROUP BY tok.doc_id
""",
    doc="top-{} corpus vocabulary (freq desc, token tie-break) + per-doc "
    "OOV token fraction on a 1e6 floor grid — the tokenizer-prep "
    "coverage metric; vocab is broadcast-size, corpus scanned once".format(
        _VOCAB_K
    ),
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(tokens(norm_text(F.col("text")))).alias("w"))
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.orderBy(F.desc("c"), F.asc("w"))
    vocab = (
        cnt.withColumn("r", F.row_number().over(w_rank))
        .filter(F.col("r") <= _VOCAB_K)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    joined = tok.join(F.broadcast(vocab), "w", "left")
    oov = F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        oov.cast("bigint").alias("n_oov"),
        F.floor(oov * 1000000.0 / F.count(F.lit(1))).cast("bigint").alias("oov_s6"),
    )


# --------------------------------------------------------------------------
# Paragraph-level dedup ([EXT]: the CCNet / RefinedWeb sub-document dedup
# stage): documents are segmented into deterministic 12-token blocks
# ("pseudo-paragraphs" — the synthetic corpus has no newline structure, so
# segmentation is positional), every block whose normalized text already
# appeared earlier in (doc_id, block_idx) order is dropped, and each doc is
# reassembled from its surviving blocks. Emits per-doc block counts plus
# the md5 of the reassembled text, which hash-proves the reassembly —
# dedup at finer-than-document granularity, the stage that removes
# boilerplate repeated across pages that document-level MinHash misses.
#
# Scale shape: one explode of the token stream (the same width as every
# other shingle stage), ONE shuffle on the block hash for first-occurrence
# ranking, one (doc_id) rollup. No joins, no driver state; keep-first is a
# pure function of the global (doc_id, block_idx) order so the result is
# stable under any partitioning.
# --------------------------------------------------------------------------
@register(
    "paragraph_dedup",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE length(trim(text)) > 0
),
tok AS (
  SELECT doc_id,
         CAST(generate_subscripts(toks, 1) AS BIGINT) - 1 AS pos,
         unnest(toks) AS w
  FROM t
),
blocks AS (
  SELECT doc_id, pos // 12 AS block_idx,
         string_agg(w, ' ' ORDER BY pos) AS btext
  FROM tok GROUP BY doc_id, pos // 12
),
firsts AS (
  SELECT doc_id, block_idx, btext,
         row_number() OVER (PARTITION BY md5(btext)
                            ORDER BY doc_id, block_idx) AS rn
  FROM blocks
)
SELECT doc_id,
       count(*) AS n_blocks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN btext END, ' '
                               ORDER BY block_idx), '')) AS dedup_md5
FROM firsts GROUP BY doc_id
""",
    doc="CCNet-style paragraph (12-token block) dedup: keep the first "
    "occurrence of every block in (doc_id, block_idx) order, reassemble "
    "docs from surviving blocks; md5 of the reassembled text hash-proves "
    "the reassembly; one block-hash shuffle + one doc rollup",
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _paragraph_dedup_frame(load_table(spark, sf_dir, "documents"))


def _paragraph_dedup_frame(d: DataFrame, block_tokens: int = 12) -> DataFrame:
    """Core of ``paragraph_dedup`` over any (doc_id, text) frame —
    exposed for crafted-duplication tests."""
    from pyspark.sql import Window

    toks = tokens(norm_text(F.col("text")))
    blocks = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(
                            F.size("toks") / F.lit(float(block_tokens))
                        ).cast("int")
                        - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("toks"),
                            i * block_tokens + 1,
                            block_tokens,
                        ),
                        " ",
                    ),
                )
            ).alias("block_idx", "btext"),
        )
        .select("doc_id", F.col("block_idx").cast("bigint").alias("block_idx"), "btext")
    )
    w = Window.partitionBy(F.md5("btext")).orderBy("doc_id", "block_idx")
    flagged = blocks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("block_idx", "btext")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum((F.col("rn") == 1).cast("int")).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["btext"],
                ),
                " ",
            )
        ).alias("dedup_md5"),
    )


# --------------------------------------------------------------------------
# Cross-document duplicated-span profile ([EXT]: the word-8-gram overlap
# measure of "Deduplicating Training Data Makes Language Models Better" —
# Lee et al. 2022 — applied as a per-doc score). repetition_profile is the
# INTRA-doc Gopher rule; this is its CROSS-doc twin: for every document,
# the fraction of its 8-gram occurrences that also appear in at least one
# OTHER document. High scores mark templated / boilerplate docs that
# survive document-level dedup.
# Scale: only md5 hashes shuffle (never text); gram->doc-count is one
# map-side-combinable aggregate; the join back is hash-partitioned on the
# gram. Emitted fraction on the exact 1e6 grid (floor — no rounding ties).
# --------------------------------------------------------------------------
@register(
    "duplicated_ngram_spans",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE length(trim(text)) > 0
),
g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(toks) - 7, 1) + 1),
           i -> md5(array_to_string(list_slice(toks, i, i + 7), ' '))
         )) AS gh
  FROM t
),
docs_per AS (
  SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh
)
SELECT doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       CAST(floor(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000.0
                  / count(*)) AS BIGINT) AS dup_s6
FROM g JOIN docs_per USING (gh)
GROUP BY doc_id
""",
    doc="cross-doc duplicated 8-gram fraction per doc (Lee et al. 2022 "
    "span-dedup measure): gram occurrences whose hash appears in >1 "
    "distinct doc; hash-only shuffles, exact-int emitted fraction",
)
def duplicated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import chunked_token_stream, word_shingles_from_tokens

    d = load_table(spark, sf_dir, "documents")
    # chunked_token_stream(overlap=7) bounds the per-task shingle explode
    # under doc-length skew: a monster doc's 8-gram starts split exactly
    # across redistributed slices (multiset unchanged — the oracle still
    # shingles the whole doc in one pass)
    from ..io import spread_small_scan

    # md5-per-8-gram runs in the SCAN stage here; a one-row-group corpus
    # file would hash every gram on one core (spread_small_scan is a no-op
    # once the scan has real partitions — measured +0.6 s single-threaded)
    g = (
        chunked_token_stream(
            spread_small_scan(d.filter(F.length(F.trim("text")) > 0)),
            overlap=7,
            long_docs_possible=_corpus_long_docs(spark, sf_dir),
        )
        .select(
            "doc_id",
            F.explode(
                word_shingles_from_tokens(F.col("toks"), 8)
            ).alias("sh"),
        )
        .select("doc_id", F.md5("sh").alias("gh"))
    )
    # g feeds both the gram->doc-count aggregate and the join back; without
    # a persist the tokenize+shingle pass (the expensive part) runs twice.
    # At 100 TB this is the materialized gram table SCALE.md describes.
    g = g.persist()
    from ..operators.dedup import materialize_and_release

    docs_per = g.groupBy("gh").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    dup = (F.col("nd") > 1).cast("int")
    return materialize_and_release(
        g.join(docs_per, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(dup).cast("bigint").alias("n_dup"),
            F.floor(
                F.sum(dup) * 1000000.0 / F.count(F.lit(1))
            ).cast("bigint").alias("dup_s6"),
        ),
        g,
    )


# --------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join ([EXT]: the PPJoin family — Xiao et
# al. 2008): identical OUTPUT to the brute-force shingle self-join (the
# oracle below IS the brute force), but candidates come only from
# collisions inside rare-first canonical-order prefixes of length
# |X| - ceil(t|X|) + 1 — the prefix-filter theorem guarantees no
# qualifying pair is missed. The exact-answer twin of MinHash-LSH.
# --------------------------------------------------------------------------
@register(
    "jaccard_prefix_pairs",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id_a, c.id_b,
       round(c.n_common * 1.0 / (sa.sz + sb.sz - c.n_common), 4) AS jaccard_r
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE c.n_common * 1.0 / (sa.sz + sb.sz - c.n_common) >= 0.3
""",
    doc="PPJoin-style prefix-filtered exact Jaccard pairs (threshold 0.3): "
    "hash-matches the BRUTE-FORCE oracle while indexing only rare-first "
    "prefixes — the lossless candidate-pruning twin of MinHash-LSH",
)
def jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import prefix_jaccard_join

    return prefix_jaccard_join(
        load_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        threshold=0.3,
        shingles=_get_or_build_shingles(spark, sf_dir),
    )


# --------------------------------------------------------------------------
# Entropy / lexical-diversity profile ([EXT]: the gibberish screen —
# low char entropy = repeated filler, low type-token ratio = copy-paste).
# Entropy terms use log2 of exact integer counts; each term is rounded to
# the 1e6 grid before the sum (the bm25/tfidf ln precedent: identical int
# inputs => last-ulp-identical doubles => identical rounded terms on both
# engines), so the aggregate is shuffle-order-exact.
#   H = log2(n) - (1/n) * sum_c cnt_c*log2(cnt_c)  over chars c
# --------------------------------------------------------------------------
@register(
    "text_entropy_stats",
    oracle=f"""
WITH chars AS (
  SELECT doc_id, unnest(string_split_regex({_NORM_SQL}, '')) AS ch
  FROM documents WHERE length(trim(text)) > 0
),
cc AS (
  SELECT doc_id, ch, count(*) AS cnt FROM chars
  WHERE ch != '' GROUP BY doc_id, ch
),
ent AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_chars,
         CAST(sum(CAST(round(cnt * log2(cnt) * 1000000) AS BIGINT))
              AS BIGINT) AS plogp_s6
  FROM cc GROUP BY doc_id
),
tok AS (
  SELECT doc_id,
         count(*) AS n_toks,
         count(DISTINCT w) AS n_types
  FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS w
        FROM documents WHERE length(trim(text)) > 0) GROUP BY doc_id
)
SELECT e.doc_id,
       e.n_chars,
       round(log2(e.n_chars) - e.plogp_s6 / 1000000.0 / e.n_chars, 4)
         AS char_entropy_r,
       CAST(t.n_types AS BIGINT) AS n_types,
       CAST(floor(t.n_types * 1000000.0 / t.n_toks) AS BIGINT)
         AS type_token_s6
FROM ent e JOIN tok t USING (doc_id)
""",
    doc="gibberish/diversity screen: per-doc character Shannon entropy "
    "(log2-of-int terms on the 1e6 grid => shuffle-order-exact) and "
    "type-token ratio — low entropy flags filler, low TTR flags "
    "copy-paste",
)
def text_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    chars = d.select(
        "doc_id",
        F.explode(F.split(norm_text(F.col("text")), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    cc = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    ent = cc.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_chars"),
        F.sum(
            F.round(F.col("cnt") * F.log2("cnt") * 1000000).cast("bigint")
        ).cast("bigint").alias("plogp_s6"),
    )
    tok = (
        d.select("doc_id", F.explode(tokens(norm_text(F.col("text")))).alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.countDistinct("w").cast("bigint").alias("n_types"),
        )
    )
    return ent.join(tok, "doc_id").select(
        "doc_id",
        "n_chars",
        F.round(
            F.log2("n_chars") - F.col("plogp_s6") / 1000000.0 / F.col("n_chars"),
            4,
        ).alias("char_entropy_r"),
        "n_types",
        F.floor(F.col("n_types") * 1000000.0 / F.col("n_toks"))
        .cast("bigint")
        .alias("type_token_s6"),
    )


# --------------------------------------------------------------------------
# Quality-aware canonical selection ([EXT]): the OTHER dedup keeper
# policy. min-id canonicals (dedup_clusters) are stable but arbitrary;
# production pipelines keep the BEST member per near-dup cluster —
# longest (token count), id tie-break. Composes the materialized cluster
# artifact with a token-count pass; the oracle recomputes the closure
# (recursive CTE) and the same argmax window.
# --------------------------------------------------------------------------
@register(
    "canonical_best_quality",
    oracle=_DEDUP_CLUSTERS_CTES
    + f""",
members AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u
),
toks AS (
  SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
                      ELSE len({_TOKENS_SQL}) END AS n_tokens
  FROM documents
),
ranked AS (
  SELECT m.cluster_id, m.doc_id, t.n_tokens,
         row_number() OVER (PARTITION BY m.cluster_id
                            ORDER BY t.n_tokens DESC, m.doc_id) AS rnk,
         count(*) OVER (PARTITION BY m.cluster_id) AS n_members
  FROM members m JOIN toks t USING (doc_id)
)
SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS best_doc_id, CAST(n_tokens AS BIGINT) AS best_n_tokens
FROM ranked WHERE rnk = 1
""",
    doc="quality-aware dedup keeper: per near-dup cluster, keep the "
    "longest member (token count, id tie-break) — the production "
    "alternative to min-id canonicals; composes the materialized cluster "
    "artifact with one token-count pass",
)
def canonical_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    clusters = _get_or_build_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    m = clusters.select("doc_id", "cluster_id").join(toks, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    return (
        m.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("rnk") == 1)
        .select(
            "cluster_id",
            "n_members",
            F.col("doc_id").alias("best_doc_id"),
            F.col("n_tokens").alias("best_n_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints ([EXT]: Schleimer/Wilkerson/Aiken 2003 — the MOSS
# algorithm): from each sliding window of w=4 consecutive word-3-gram
# hashes, select the minimum (rightmost on ties); the selected set is a
# position-aware fingerprint with guaranteed coverage (any shared run of
# w+2 tokens yields a shared fingerprint) at ~2/(w+1) density — the
# plagiarism/near-copy detector that drops straight into the pair-join
# machinery. Ties are resolved arithmetically: key = h40*65536 - pos, so
# min(key) = (min h, then MAX pos) — one deterministic bigint window min
# on both engines, no argmin tie ambiguity.
# --------------------------------------------------------------------------
@register(
    "winnowing_fingerprints",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE len({_TOKENS_SQL}) >= 3
),
gs AS (
  SELECT doc_id, len(toks) - 2 AS n_grams,
         unnest(list_transform(range(1, len(toks) - 1),
           i -> {{'p': i - 1,
                 'h': ({_HASH_SQL.format(
                     e="array_to_string(list_slice(toks, i, i + 2), ' ')"
                 )}) % 1099511627776}})) AS u
  FROM t
),
g AS (
  SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         CAST(u['p'] AS BIGINT) AS pos, u['h'] AS h40
  FROM gs
),
keys AS (
  SELECT doc_id, pos, n_grams,
         min(h40 * 65536 - pos) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
         ) AS wkey
  FROM g
),
sel AS (
  SELECT DISTINCT doc_id, n_grams, wkey
  FROM keys WHERE pos <= greatest(n_grams - 4, 0)
)
SELECT doc_id,
       CAST(max(n_grams) AS BIGINT) AS n_grams,
       count(*) AS n_selected,
       md5(string_agg(CAST(wkey AS VARCHAR), ','
                      ORDER BY CAST(wkey AS VARCHAR))) AS digest
FROM sel GROUP BY doc_id
""",
    doc="MOSS winnowing (w=4 over word-3-gram hashes): rightmost-min "
    "selection via one arithmetic bigint window min (h40*65536 - pos); "
    "emits per-doc fingerprint count + digest of the selected set — "
    "guaranteed-coverage near-copy fingerprints at ~2/(w+1) density",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sel = (
        _winnowing_keys_frame(d)
        .select("doc_id", "n_grams", "wkey")
        .distinct()
    )
    return sel.groupBy("doc_id").agg(
        F.max("n_grams").alias("n_grams"),
        F.count(F.lit(1)).alias("n_selected"),
        F.md5(
            F.array_join(
                F.array_sort(F.collect_list(F.col("wkey").cast("string"))),
                ",",
            )
        ).alias("digest"),
    )




def _winnowing_keys_frame(d: DataFrame, w: int = 4, k: int = 3) -> DataFrame:
    """(doc_id, pos, n_grams, wkey) for every VALID window start — the
    single winnowing core (tokenize → k-gram h40 → arithmetic window min →
    tail filter) consumed by the digest query, the fingerprint frame, and
    the pair join, so a selection-rule fix can never drift between them."""
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash64
    from ..functions.text import word_shingles_from_tokens

    toked = d.select(
        "doc_id", tokens(norm_text(F.col("text"))).alias("toks")
    ).filter(F.size("toks") >= k)
    g = toked.select(
        "doc_id",
        (F.size("toks") - (k - 1)).cast("bigint").alias("n_grams"),
        F.posexplode(word_shingles_from_tokens(F.col("toks"), k)).alias(
            "pos", "sh"
        ),
    ).select(
        "doc_id",
        "n_grams",
        F.col("pos").cast("bigint").alias("pos"),
        (portable_hash64(F.col("sh")) % F.lit(1 << 40)).alias("h40"),
    )
    wf = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    return g.select(
        "doc_id",
        "pos",
        "n_grams",
        F.min(F.col("h40") * 65536 - F.col("pos")).over(wf).alias("wkey"),
    ).filter(F.col("pos") <= F.greatest(F.col("n_grams") - w, F.lit(0)))


def _winnowing_fp_frame(d: DataFrame, w: int = 4, k: int = 3) -> DataFrame:
    """Distinct (doc_id, h40) winnowing fingerprints — hash recovered from
    the arithmetic key by INTEGER division (wkey ~ h40*2^16 ~ 2^56 exceeds
    double's exact range, so float floor((wkey+65535)/65536) recovers H
    plus/minus 1 depending on pos — caught by the hypothesis
    detection-guarantee test; `div` stays on exact bigints)."""
    return (
        _winnowing_keys_frame(d, w, k)
        .select(
            "doc_id",
            F.expr("(wkey + 65535) div 65536").cast("bigint").alias("h40"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# Near-copy pair detection over winnowing fingerprints: the MOSS join.
# Matching is on the HASH (position recovered out of the arithmetic key:
# h40 = floor((wkey + 65535) / 65536), exact for pos in [0, 65535]); docs
# sharing >= 2 distinct selected fingerprints are near-copy candidates.
# The fingerprint index is ~2/(w+1) the density of the full shingle
# inverted index — winnowing IS the index-size/coverage trade. df-capped
# like ngram_jaccard_pairs (identically on both engines).
# --------------------------------------------------------------------------
@register(
    "winnowing_nearcopy_pairs",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE len({_TOKENS_SQL}) >= 3
),
gs AS (
  SELECT doc_id, len(toks) - 2 AS n_grams,
         unnest(list_transform(range(1, len(toks) - 1),
           i -> {{'p': i - 1,
                 'h': ({_HASH_SQL.format(
                     e="array_to_string(list_slice(toks, i, i + 2), ' ')"
                 )}) % 1099511627776}})) AS u
  FROM t
),
g AS (
  SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         CAST(u['p'] AS BIGINT) AS pos, u['h'] AS h40
  FROM gs
),
keys AS (
  SELECT doc_id, pos, n_grams,
         min(h40 * 65536 - pos) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
         ) AS wkey
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id,
         CAST((wkey + 65535) // 65536 AS BIGINT) AS h40
  FROM keys WHERE pos <= greatest(n_grams - 4, 0)
),
rare AS (
  SELECT h40 FROM fp GROUP BY h40 HAVING count(*) <= {_DF_CAP}
),
capped AS (SELECT fp.* FROM fp JOIN rare USING (h40))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(*) AS n_shared
FROM capped a JOIN capped b
  ON a.h40 = b.h40 AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
""",
    doc="MOSS near-copy join: docs sharing >= 2 distinct winnowing "
    "fingerprints (hash recovered from the arithmetic key), df-capped "
    "inverted index at ~2/(w+1) the density of the full shingle index",
)
def winnowing_nearcopy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = _winnowing_fp_frame(d)
    rare = fp.groupBy("h40").agg(F.count(F.lit(1)).alias("_df")).filter(
        F.col("_df") <= _DF_CAP
    ).select("h40")
    capped = fp.join(rare, "h40")
    return (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.h40") == F.col("b.h40"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


# --------------------------------------------------------------------------
# Containment pairs ([EXT]: the ASYMMETRIC near-dup relation — Broder's
# containment c(A,B) = |A∩B|/|A|. A short doc quoted inside a long one
# scores c ~ 1 while Jaccard stays low (size mismatch), so containment is
# the subset/quotation detector symmetric dedup misses; Dolma/CCNet-style
# pipelines run both). Same df-capped inverted index as
# ngram_jaccard_pairs; emits both directions on the exact 1e6 grid with
# floor (no rounding ties), keeping pairs where either direction >= 0.6.
# --------------------------------------------------------------------------
@register(
    "containment_pairs",
    oracle=f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
rare AS (
  SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {_DF_CAP}
),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  JOIN rare r ON a.sh = r.sh
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id_a, c.id_b, CAST(c.n_common AS BIGINT) AS n_common,
       CAST(floor(c.n_common * 1000000.0 / sa.sz) AS BIGINT) AS cont_a_s6,
       CAST(floor(c.n_common * 1000000.0 / sb.sz) AS BIGINT) AS cont_b_s6
FROM common c
JOIN sizes sa ON c.id_a = sa.doc_id
JOIN sizes sb ON c.id_b = sb.doc_id
WHERE c.n_common * 1000000 >= 600000 * sa.sz
   OR c.n_common * 1000000 >= 600000 * sb.sz
""",
    doc="asymmetric containment pairs (Broder c(A,B)=|A∩B|/|A| >= 0.6 in "
    "either direction): the quote/subset detector symmetric Jaccard "
    "misses; df-capped inverted index, exact-int threshold compare, "
    "fractions on the 1e6 floor grid",
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    shingles = _get_or_build_shingles(spark, sf_dir).persist()
    rare = (
        shingles.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= _DF_CAP)
        .select("sh")
    )
    capped = shingles.join(rare, "sh")
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    common = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    from ..operators.dedup import materialize_and_release

    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb"))
    return materialize_and_release(
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(
            (F.col("n_common") * 1000000 >= 600000 * F.col("sa"))
            | (F.col("n_common") * 1000000 >= 600000 * F.col("sb"))
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.floor(F.col("n_common") * 1000000.0 / F.col("sa"))
            .cast("bigint")
            .alias("cont_a_s6"),
            F.floor(F.col("n_common") * 1000000.0 / F.col("sb"))
            .cast("bigint")
            .alias("cont_b_s6"),
        ),
        shingles,
    )


# --------------------------------------------------------------------------
# Cross-source overlap matrix ([EXT]: dedup provenance analytics — when a
# pipeline ingests multiple crawls/sources, WHICH sources duplicate WHICH
# tells you what to drop wholesale). Near-dup pairs (the verified
# MinHash-LSH set at jaccard >= 0.5) joined to both sides' source labels,
# rolled up into an unordered source-pair matrix with pair and distinct-
# doc counts. Oracle composes the already-verified pairs CTEs.
# --------------------------------------------------------------------------
_PAIRS_CTES = (
    REGISTRY["minhash_lsh_dup_pairs"].oracle.rsplit("SELECT id_a, id_b,", 1)[0]
    + """,
pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5)
"""
)


@register(
    "source_overlap_matrix",
    oracle=_PAIRS_CTES
    + """
SELECT least(da.source, db.source) AS source_x,
       greatest(da.source, db.source) AS source_y,
       count(*) AS n_pairs,
       CAST(count(DISTINCT p.id_a) + count(DISTINCT p.id_b) AS BIGINT)
         AS n_docs_involved
FROM pairs p
JOIN documents da ON p.id_a = da.doc_id
JOIN documents db ON p.id_b = db.doc_id
GROUP BY 1, 2
""",
    doc="dedup provenance: near-dup pair counts per unordered source pair "
    "(which crawls duplicate which) — verified MinHash-LSH pairs joined "
    "to both sides' source labels; the drop-this-source-wholesale signal",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # read the materialized pair artifact (built once with the cluster
    # table) instead of re-mining the LSH pipeline per consumer
    pairs = _get_or_build_pairs(spark, sf_dir)
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    labeled = pairs.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    return (
        labeled.select(
            F.least("_sa", "_sb").alias("source_x"),
            F.greatest("_sa", "_sb").alias("source_y"),
            "id_a",
            "id_b",
        )
        .groupBy("source_x", "source_y")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.countDistinct("id_a") + F.countDistinct("id_b")
            ).cast("bigint").alias("n_docs_involved"),
        )
    )


# --------------------------------------------------------------------------
# BPE merge-step pair counting ([EXT]: the inner loop of tokenizer
# TRAINING — Sennrich et al. 2016 get_stats): word-frequency table, words
# split into character symbols, adjacent-pair counts weighted by word
# frequency, top-20 merge candidates by (count desc, pair asc). Full BPE
# iterates this step applying the winning merge; one counting round is the
# SQL-expressible core (adjacent pairs as 2-char substrings — overlapping
# occurrences counted, matching the classic algorithm).
# Scale: the word-frequency aggregate shuffles words once (vocabulary-
# sized, not corpus-sized); pair explode runs over the VOCABULARY (each
# distinct word once, weighted), so a 100 TB corpus costs one word count
# plus a vocab-sized pair aggregate.
# --------------------------------------------------------------------------
@register(
    "bpe_top_merges",
    oracle="""
WITH words AS (
  SELECT unnest(string_split_regex(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ')) AS w
  FROM documents WHERE trim(text) != ''
),
wf AS (
  SELECT w, count(*) AS freq FROM words WHERE len(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
  FROM wf, unnest(range(1, len(w))) AS t(i)
),
agg AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
  FROM pairs GROUP BY pair
)
SELECT pair, cnt FROM agg ORDER BY cnt DESC, pair LIMIT 20
""",
    doc="BPE tokenizer-training merge step (Sennrich get_stats): word-freq "
    "table -> adjacent char-pair counts weighted by frequency -> top-20 "
    "merge candidates; pair explode runs over the vocabulary, not the "
    "corpus",
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(tokens(norm_text(F.col("text")))).alias("w")
    ).filter(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Greedy subword tokenization ([EXT]: the APPLY step of a trained subword
# tokenizer — WordPiece-style maximal munch, Schuster & Nakajima 2012 /
# Devlin et al. 2018 inference): a corpus-derived vocabulary (every single
# character + the top-200 char n-grams n in 2..4 by weighted frequency,
# ties broken by gram) tokenizes every word by repeatedly taking the
# LONGEST vocabulary prefix at the cursor. Completes the tokenizer story:
# bpe_token_stats (counting) -> bpe_top_merges (training step) -> this
# (inference).
#
# Scale: tokenization runs over the VOCABULARY of distinct words (weighted
# by frequency), not the corpus. The vocab is broadcast-joined (four
# prefix-length probes), the greedy walk is an aggregate HOF over a
# per-word pos->token map column (<= 20 entries), and no data ever reaches
# the driver — at 100 TB this is one word-count shuffle plus
# vocabulary-sized work. The walk is sequential per word by definition
# (each step's cursor depends on the previous match) but words are
# independent rows, so parallelism is unaffected.
# --------------------------------------------------------------------------
@register(
    "subword_tokenize_counts",
    oracle=r"""
WITH RECURSIVE
words AS (
  SELECT w, count(*) AS freq, len(w) AS n FROM (
    SELECT unnest(string_split_regex(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS w
    FROM documents WHERE trim(text) != ''
  ) WHERE len(w) BETWEEN 2 AND 20
  GROUP BY w, len(w)
),
grams AS (
  SELECT g, CAST(sum(freq) AS BIGINT) AS cnt FROM (
    SELECT substring(w, CAST(i AS INTEGER), CAST(L AS INTEGER)) AS g, freq
    FROM words, unnest(range(1, n + 1)) t(i), unnest(range(1, 5)) u(L)
    WHERE i + L - 1 <= n
  ) GROUP BY g
),
vocab AS (
  SELECT g FROM grams WHERE len(g) = 1
  UNION
  SELECT g FROM (SELECT g FROM grams WHERE len(g) >= 2 ORDER BY cnt DESC, g LIMIT 200)
),
posn AS (
  SELECT w, CAST(i AS BIGINT) AS pos,
         substring(w, CAST(i AS INTEGER), 4) AS s4,
         substring(w, CAST(i AS INTEGER), 3) AS s3,
         substring(w, CAST(i AS INTEGER), 2) AS s2,
         substring(w, CAST(i AS INTEGER), 1) AS s1
  FROM words, unnest(range(1, n + 1)) t(i)
),
match AS (
  SELECT posn.w, posn.pos, coalesce(v4.g, v3.g, v2.g, v1.g) AS tok
  FROM posn
  LEFT JOIN vocab v4 ON v4.g = posn.s4
  LEFT JOIN vocab v3 ON v3.g = posn.s3
  LEFT JOIN vocab v2 ON v2.g = posn.s2
  LEFT JOIN vocab v1 ON v1.g = posn.s1
),
walk AS (
  SELECT w, freq, CAST(1 AS BIGINT) AS pos FROM words
  UNION ALL
  SELECT walk.w, walk.freq, walk.pos + len(m.tok)
  FROM walk JOIN match m ON m.w = walk.w AND m.pos = walk.pos
)
SELECT m.tok AS token, CAST(sum(walk.freq) AS BIGINT) AS cnt
FROM walk JOIN match m ON m.w = walk.w AND m.pos = walk.pos
GROUP BY m.tok
ORDER BY cnt DESC, token
LIMIT 50
""",
    doc="WordPiece-style greedy maximal-munch tokenization with a "
    "corpus-derived vocab (all single chars + top-200 n-grams, n<=4): "
    "top-50 subword tokens by frequency-weighted usage; Spark walks a "
    "per-word pos->token map with an aggregate HOF (no driver collect), "
    "the oracle replays the identical walk as a recursive CTE",
)
def subword_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import chunked_token_stream

    d = load_table(spark, sf_dir, "documents")
    # skew-bounded token stream: the only corpus-sized explode in this
    # query; everything after operates on the distinct-word table
    words = (
        chunked_token_stream(
            d, long_docs_possible=_corpus_long_docs(spark, sf_dir)
        )
        .select(F.explode("toks").alias("w"))
        .filter(F.length("w").between(2, 20))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # candidate grams n=1..4, frequency-weighted; positions via one HOF
    grams = (
        words.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), i -> "
                    "filter(transform(sequence(1, 4), L -> "
                    "IF(i + L - 1 <= length(w), substring(w, i, L), NULL)), "
                    "x -> x IS NOT NULL)))"
                )
            ).alias("g"),
            "freq",
        )
        .groupBy("g")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    singles = grams.filter(F.length("g") == 1).select("g")
    top = (
        grams.filter(F.length("g") >= 2)
        .orderBy(F.desc("cnt"), "g")
        .limit(200)
        .select("g")
    )
    vocab = singles.union(top).distinct()

    # per (word, position): the longest vocab prefix starting there —
    # four broadcast probes, longest wins
    posn = words.select(
        "w",
        F.explode(F.sequence(F.lit(1), F.length("w"))).alias("pos"),
    ).select(
        "w",
        F.col("pos").cast("bigint").alias("pos"),
        *[
            F.expr(f"substring(w, pos, {L})").alias(f"s{L}")
            for L in (4, 3, 2, 1)
        ],
    )
    m = posn
    for L in (4, 3, 2, 1):
        v = F.broadcast(vocab.withColumnRenamed("g", f"g{L}"))
        m = m.join(v, m[f"s{L}"] == v[f"g{L}"], "left")
    match = m.select(
        "w", "pos", F.coalesce("g4", "g3", "g2", "g1").alias("tok")
    )

    # greedy walk: pos->token map per word (<= 20 entries), cursor jumps by
    # the matched token's length; sequence(1, len) upper-bounds the steps
    permap = match.groupBy("w").agg(
        F.map_from_entries(F.collect_list(F.struct("pos", "tok"))).alias("pm")
    )
    toks = (
        words.join(permap, "w")
        .select(
            "freq",
            F.explode(
                F.expr(
                    "aggregate(sequence(1, length(w)), "
                    "named_struct('pos', CAST(1 AS BIGINT), "
                    "             'toks', CAST(array() AS array<string>)), "
                    "(acc, i) -> IF(i != acc.pos, acc, named_struct("
                    "  'pos', acc.pos + length(try_element_at(pm, acc.pos)), "
                    "  'toks', array_append(acc.toks, try_element_at(pm, acc.pos)))), "
                    "acc -> acc.toks)"
                )
            ).alias("token"),
        )
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(50)
    )
