"""Dataset-curation gate queries: deterministic sampling, hash-based
train/val/test split, and sequence packing — the assembly steps of a
training-data pipeline once cleaning/dedup is done.

All three are pure relational plans (no Python in the hot path) and all
three use the portable md5-derived hash (functions/hashing.py) so DuckDB
computes bit-identical buckets: Spark's own ``hash``/``rand`` would not
cross the engine boundary, and a hash-keyed split is the only split that
stays stable when the corpus is re-partitioned, re-ordered, or appended
to — the property a 100 TB pipeline actually needs (membership of a doc
never depends on what else is in the batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import (
    portable_hash64,
    portable_hash64_seeded,
    portable_hash64_seeded_sql,
    portable_hash64_sql,
)
from ..functions.text import norm_text, token_count, tokens
from ..io import load_table
from . import register

_SEED = 42
_K_PER_STRATUM = 20
_PACK_BUDGET = 2048

_HASH_SQL = portable_hash64_seeded_sql("CAST(doc_id AS VARCHAR)", _SEED)
# identical token-count formulation to textops.text_quality
_NTOK_SQL = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END"
)
# identical normalized-token formulation to textops (functions/text.py parity)
_NORM_SQL = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"


@register(
    "stratified_sample",
    oracle=f"""
WITH ranked AS (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY {_HASH_SQL}, doc_id)
           AS sample_rank
  FROM documents
)
SELECT lang, doc_id, n_chars, sample_rank
FROM ranked WHERE sample_rank <= {_K_PER_STRATUM}
""",
    doc="deterministic stratified sample: top-k docs per lang by seeded "
    "portable hash — reproducible across engines, partitionings, and "
    "re-runs (no rand())",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    h = portable_hash64_seeded(F.col("doc_id").cast("string"), _SEED)
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (
        d.withColumn("sample_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("sample_rank") <= _K_PER_STRATUM)
        .select("lang", "doc_id", "n_chars", "sample_rank")
    )


@register(
    "corpus_split",
    oracle=f"""
WITH b AS (
  SELECT lang, n_chars,
         CASE WHEN ({_HASH_SQL}) % 100 < 80 THEN 'train'
              WHEN ({_HASH_SQL}) % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY split, lang
""",
    doc="hash-based 80/10/10 train/val/test split: membership is a pure "
    "function of doc_id, so appends never reshuffle existing assignments",
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash64_seeded(F.col("doc_id").cast("string"), _SEED) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_CHUNK = 500
_STRIDE = 400


@register(
    "chunk_documents",
    oracle=f"""
SELECT doc_id, k AS chunk_id,
       k * {_STRIDE} + 1 AS chunk_start,
       substring(text, CAST(k * {_STRIDE} + 1 AS INT), {_CHUNK}) AS chunk,
       len(substring(text, CAST(k * {_STRIDE} + 1 AS INT), {_CHUNK})) AS chunk_len
FROM documents,
     unnest(generate_series(0,
       CAST(greatest(floor((n_chars - 1) / {_STRIDE}.0), 0) AS BIGINT))) t(k)
""",
    doc="overlapping fixed-window chunking ({}-char chunks, {}-char "
    "stride) with 1-based char offsets — the context-window prep step; "
    "pure explode+substring, rows stay with their doc partition".format(
        _CHUNK, _STRIDE
    ),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # empty docs still yield one (empty) chunk: greatest(..., 0) — DuckDB's
    # generate_series(0,-1) is empty but Spark's sequence(0,-1) DESCENDS
    k_max = F.greatest(
        F.floor((F.col("n_chars") - 1) / F.lit(_STRIDE)), F.lit(0)
    ).cast("bigint")
    return (
        d.withColumn("chunk_id", F.explode(F.sequence(F.lit(0).cast("bigint"), k_max)))
        .withColumn("chunk_start", F.col("chunk_id") * _STRIDE + 1)
        .withColumn(
            "chunk",
            F.expr(f"substring(text, CAST(chunk_start AS INT), {_CHUNK})"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "chunk_start",
            "chunk",
            F.length("chunk").cast("bigint").alias("chunk_len"),
        )
    )


@register(
    "sequence_packing",
    oracle=f"""
WITH t AS (
  SELECT source, doc_id, {_NTOK_SQL} AS n_tokens FROM documents
),
c AS (
  SELECT source, n_tokens,
         COALESCE(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM t
)
SELECT source, CAST(floor(cum_before / {_PACK_BUDGET}) AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
       CAST(round(CAST(sum(n_tokens) AS BIGINT) * 1000000.0 / {_PACK_BUDGET})
            AS BIGINT) AS fill_s6
FROM c GROUP BY source, bin_id
""",
    doc="sequence packing (concat-and-chunk): docs stream per source shard "
    "in doc_id order, each starts in the bin where its cumulative token "
    "offset lands; windows are per-source so no global sort at scale",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return (
        c.withColumn(
            "bin_id",
            F.floor(F.col("cum_before") / F.lit(_PACK_BUDGET)).cast("bigint"),
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            # small-integer ratio — tie-prone at any decimal grid (audit
            # flagged 1 exact half-tie at dp=4); 1e6 integer grid per the
            # queries/__init__.py conventions
            F.round(F.sum("n_tokens") * 1_000_000.0 / F.lit(float(_PACK_BUDGET)))
            .cast("bigint")
            .alias("fill_s6"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: which train-split documents share long n-gram
# runs with the held-out test split (the GPT-3-style 8-gram collision
# check). Strict 8-grams only (no partial shingles — both engines emit
# nothing for docs under 8 tokens), distinct per doc, joined on the
# portable 60-bit gram hash. A doc-frequency cap on the train side drops
# stop-grams before the join — the same bounded-blowup guard as
# ngram_jaccard_pairs — so the join fan-out is capped per gram at scale.
# --------------------------------------------------------------------------
_DECON_N = 8
_DECON_MIN_SHARED = 10
_DECON_DF_CAP = 100

_DECON_GRAMS_SQL = f"""
  SELECT doc_id, split, gh FROM (
    SELECT doc_id, split,
           {portable_hash64_sql("gram")} AS gh
    FROM (
      SELECT doc_id, split,
             unnest(list_transform(
               generate_series(1, len(t) - {_DECON_N - 1}),
               i -> list_aggregate(t[i:i+{_DECON_N - 1}], 'string_agg', ' ')
             )) AS gram
      FROM (
        SELECT doc_id,
               CASE WHEN ({_HASH_SQL}) % 100 < 80 THEN 'train'
                    WHEN ({_HASH_SQL}) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split,
               {_TOKENS_SQL} AS t
        FROM documents
      ) WHERE len(t) >= {_DECON_N} AND split <> 'val'
    )
  ) GROUP BY ALL
"""


@register(
    "decontaminate",
    oracle=f"""
WITH g AS ({_DECON_GRAMS_SQL}),
tr AS (
  SELECT doc_id, gh FROM g WHERE split = 'train'
  QUALIFY count(*) OVER (PARTITION BY gh) <= {_DECON_DF_CAP}
),
te AS (SELECT doc_id AS test_doc_id, gh FROM g WHERE split = 'test'),
tot AS (SELECT test_doc_id, count(*) AS n_test_grams FROM te GROUP BY 1),
j AS (
  SELECT tr.doc_id AS train_doc_id, te.test_doc_id, count(*) AS n_shared
  FROM tr JOIN te USING (gh) GROUP BY 1, 2
)
SELECT j.train_doc_id, j.test_doc_id, j.n_shared,
       round(j.n_shared * 1.0 / tot.n_test_grams, 4) AS contam_r
FROM j JOIN tot USING (test_doc_id)
WHERE j.n_shared >= {_DECON_MIN_SHARED}
""",
    doc="train/test 8-gram collision decontamination: distinct strict "
    "8-grams per doc, df-capped on the train side, hash-keyed join — "
    "flags train docs that leak held-out content",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash64_seeded(F.col("doc_id").cast("string"), _SEED) % 100
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return _decontaminate_frame(d.withColumn("split", split))


def _decontaminate_frame(d: DataFrame) -> DataFrame:
    """Core of ``decontaminate`` over a frame with (doc_id, text, split) —
    split is precomputed so tests can pin membership explicitly."""
    from ..io import spread_small_scan

    # the split != 'val' filter goes BELOW the repartition: spread_small_scan
    # blocks scan-level pushdown for anything above it (its own contract),
    # and this is the one pushdown-eligible predicate here (ADVICE r10)
    toks = spread_small_scan(d.filter(F.col("split") != "val")).select(
        "doc_id", "split", tokens(norm_text(F.col("text"))).alias("t")
    ).filter(F.size("t") >= _DECON_N)
    gram_hashes = F.transform(
        F.sequence(F.lit(0), F.size("t") - _DECON_N),
        lambda i: portable_hash64(
            F.concat_ws(" ", F.slice(F.col("t"), i + 1, _DECON_N))
        ),
    )
    # distinct (doc, gram-hash) pairs feed three consumers (train side,
    # test side, per-test-doc totals) — persist so the explode runs once.
    # Dedup happens PER DOC inside the row (array_distinct over the hashed
    # grams): each doc occupies one input row, so per-doc distinct equals
    # the oracle's global (doc_id, split, gh) GROUP BY — without shuffling
    # the full gram table through a corpus-wide distinct.
    g = (
        toks.select(
            "doc_id",
            "split",
            F.explode(F.array_distinct(gram_hashes)).alias("gh"),
        )
        .persist()
    )
    te = g.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc_id"), "gh"
    )
    tot = te.groupBy("test_doc_id").agg(F.count(F.lit(1)).alias("n_test_grams"))
    # Posting-list shape (round 14, guide §2.3/§2.4 — the same reshape
    # dedup's _band_collisions uses): ONE groupBy(gh) builds per-split
    # id lists, the df cap is size(train list) <= CAP (identical to the
    # count window over train rows it replaces), and the train x test
    # pair expansion runs in codegen off the grouped row. This folds the
    # old window-on-gh exchange AND the tr-join-te exchange into the one
    # groupBy(gh) shuffle: 3 gram-sized exchanges -> 1 (pairs still
    # shuffle once into the count). Lists are bounded: train by the cap,
    # test by the held-out set's df for that gram.
    per_gh = (
        g.groupBy("gh")
        .agg(
            F.collect_list(
                F.when(F.col("split") == "train", F.col("doc_id"))
            ).alias("tr_ids"),
            F.collect_list(
                F.when(F.col("split") == "test", F.col("doc_id"))
            ).alias("te_ids"),
        )
        .filter(
            (F.size("tr_ids") > 0)
            & (F.size("tr_ids") <= _DECON_DF_CAP)
            & (F.size("te_ids") > 0)
        )
    )
    j = (
        per_gh.select(
            F.explode("tr_ids").alias("train_doc_id"), "te_ids"
        )
        .select("train_doc_id", F.explode("te_ids").alias("test_doc_id"))
        .groupBy("train_doc_id", "test_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _DECON_MIN_SHARED)
    )
    return j.join(tot, "test_doc_id").select(
        "train_doc_id",
        "test_doc_id",
        "n_shared",
        F.round(F.col("n_shared") * 1.0 / F.col("n_test_grams"), 4).alias(
            "contam_r"
        ),
    )


# --------------------------------------------------------------------------
# Domain mixing: temperature-scaled sampling weights per source shard
# (the multinomial-alpha rebalancing step of multi-source pretraining —
# alpha < 1 upweights small domains). Pure relational: one groupBy to a
# handful of rows, then unpartitioned window sums over that tiny frame
# (post-aggregation, so the single-partition window is a few rows, never
# the corpus).
# --------------------------------------------------------------------------
_MIX_ALPHA = 0.3


@register(
    "source_mix_weights",
    oracle=f"""
WITH t AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum({_NTOK_SQL}) AS BIGINT) AS total_tokens
  FROM documents GROUP BY source
),
p AS (
  SELECT *, total_tokens * 1.0 / sum(total_tokens) OVER () AS p_raw,
         pow(total_tokens * 1.0 / sum(total_tokens) OVER (), {_MIX_ALPHA}) AS w_raw
  FROM t
)
SELECT source, n_docs, total_tokens,
       round(p_raw, 4) AS p_r,
       round(w_raw / sum(w_raw) OVER (), 4) AS w_r,
       round((w_raw / sum(w_raw) OVER ()) / p_raw, 4) AS boost_r
FROM p
""",
    doc="temperature-based source mixing weights (alpha={}) — natural "
    "share p, alpha-scaled sampling weight w, and the implied "
    "upsampling boost per source".format(_MIX_ALPHA),
)
def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    t = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    w_all = Window.partitionBy()
    p_raw = F.col("total_tokens") * 1.0 / F.sum("total_tokens").over(w_all)
    p = t.withColumn("p_raw", p_raw).withColumn(
        "w_raw", F.pow(F.col("p_raw"), F.lit(_MIX_ALPHA))
    )
    w_norm = F.col("w_raw") / F.sum("w_raw").over(w_all)
    return p.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round("p_raw", 4).alias("p_r"),
        F.round(w_norm, 4).alias("w_r"),
        F.round(w_norm / F.col("p_raw"), 4).alias("boost_r"),
    )


# --------------------------------------------------------------------------
# Temperature-rebalanced corpus materialization: the resampling step that
# turns source_mix_weights into an actual kept-document set. Per-source
# keep rate (in basis points, floor — floor has no rounding ties) targets
# TARGET of total tokens redistributed by the alpha-scaled weights; a doc
# survives iff its seeded portable hash lands under the rate. The big
# side is touched once: scan -> broadcast-join the ~|sources|-row rate
# frame -> hash filter. No shuffle of the corpus, membership independent
# of partitioning/append order — the 100 TB shape.
# --------------------------------------------------------------------------
_RESAMPLE_TARGET = 0.5
_RESAMPLE_SEED = 7
_KEEP_HASH_SQL = portable_hash64_seeded_sql(
    "CAST(doc_id AS VARCHAR)", _RESAMPLE_SEED
)

_RATES_SQL = f"""
  SELECT source, CAST(least(10000, floor(
           10000 * {_RESAMPLE_TARGET}
           * (w_raw / sum(w_raw) OVER ()) / p_raw)) AS BIGINT) AS rate_bp
  FROM (
    SELECT source,
           total_tokens * 1.0 / sum(total_tokens) OVER () AS p_raw,
           pow(total_tokens * 1.0 / sum(total_tokens) OVER (),
               {_MIX_ALPHA}) AS w_raw
    FROM (
      SELECT source, CAST(sum({_NTOK_SQL}) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    )
  )
"""


@register(
    "domain_rebalanced_sample",
    oracle=f"""
WITH rates AS ({_RATES_SQL})
SELECT d.doc_id, d.source, r.rate_bp
FROM documents d JOIN rates r USING (source)
WHERE ({_KEEP_HASH_SQL}) % 10000 < r.rate_bp
""",
    doc="materialize the temperature-rebalanced corpus: per-source keep "
    "rate (basis points) from the alpha-mix weights, deterministic "
    "hash-Bernoulli per doc, broadcast-joined — one corpus scan, no "
    "corpus shuffle",
)
def domain_rebalanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rebalance_frame(load_table(spark, sf_dir, "documents"))


def _rebalance_frame(d: DataFrame) -> DataFrame:
    """Core of ``domain_rebalanced_sample`` over any (doc_id, text, source)
    frame — exposed so tests can pin the rate formula on crafted mixes."""
    t = d.select(
        "source", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    ).groupBy("source").agg(F.sum("n_tokens").alias("total_tokens"))
    w_all = Window.partitionBy()
    p_raw = F.col("total_tokens") * 1.0 / F.sum("total_tokens").over(w_all)
    w = t.withColumn("p_raw", p_raw).withColumn(
        "w_raw", F.pow(F.col("p_raw"), F.lit(_MIX_ALPHA))
    )
    rate = F.least(
        F.lit(10000).cast("bigint"),
        F.floor(
            10000
            * _RESAMPLE_TARGET
            * (F.col("w_raw") / F.sum("w_raw").over(w_all))
            / F.col("p_raw")
        ),
    )
    rates = w.select("source", rate.cast("bigint").alias("rate_bp"))
    keep_h = (
        portable_hash64_seeded(F.col("doc_id").cast("string"), _RESAMPLE_SEED)
        % 10000
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(keep_h < F.col("rate_bp"))
        .select("doc_id", "source", "rate_bp")
    )


# --------------------------------------------------------------------------
# Token-level importance weighting (the DSIR-style data-selection signal,
# linear-ratio form): score each document by the mean relative-frequency
# boost of its tokens in a target slice (lang = 'en') vs the whole
# corpus. boost(t) = freq_target(t) / freq_corpus(t), computed entirely
# on exact integer counts (cnt * N products stay < 2^53 so the double
# division is bit-identical across engines) and floored onto a 1e6 grid
# per *token type* before the per-doc sum — integer sums are
# shuffle-order-exact. One token explode feeds corpus counts, target
# counts, and the per-doc rollup (persisted); the vocab-level boost
# frame is broadcast back onto the token stream. At 100 TB the count
# products overflow the double-exact range — move the ratio to log-space
# (the DSIR formulation) or DECIMAL; noted here.
# --------------------------------------------------------------------------
_IMP_TARGET_LANG = "en"


@register(
    "token_importance_weights",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS tok
  FROM documents WHERE len(trim(text)) > 0
),
corpus AS (SELECT tok, count(*) AS cnt_c FROM tok GROUP BY tok),
target AS (SELECT tok, count(*) AS cnt_t FROM tok
           WHERE lang = '{_IMP_TARGET_LANG}' GROUP BY tok),
totals AS (
  SELECT (SELECT sum(cnt_c) FROM corpus) AS n_c,
         (SELECT coalesce(sum(cnt_t), 0) FROM target) AS n_t
),
boost AS (
  SELECT c.tok,
         CAST(floor(1000000.0 * coalesce(t.cnt_t, 0) * tt.n_c
                    / (c.cnt_c * tt.n_t)) AS BIGINT) AS b6
  FROM corpus c LEFT JOIN target t USING (tok) CROSS JOIN totals tt
)
SELECT tok.doc_id, tok.lang, count(*) AS n_toks,
       CAST(floor(sum(b.b6) * 1.0 / count(*)) AS BIGINT) AS imp_s6
FROM tok JOIN boost b USING (tok)
GROUP BY tok.doc_id, tok.lang
""",
    doc="DSIR-style importance weights (linear-ratio form): per-doc mean "
    "token boost freq_target/freq_corpus on a 1e6 int grid, target = "
    "lang-'{}' slice; exact-int arithmetic end to end".format(
        _IMP_TARGET_LANG
    ),
)
def token_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _importance_frame(load_table(spark, sf_dir, "documents"))


def _importance_frame(d: DataFrame) -> DataFrame:
    """Core of ``token_importance_weights`` over any (doc_id, text, lang)
    frame — exposed so tests can pin the boost arithmetic exactly."""
    tok = (
        d.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id", "lang", F.explode(tokens(norm_text(F.col("text")))).alias("tok")
        )
        .persist()
    )
    corpus = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt_c"))
    target = (
        tok.filter(F.col("lang") == _IMP_TARGET_LANG)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    totals = corpus.agg(F.sum("cnt_c").alias("n_c")).crossJoin(
        target.agg(F.coalesce(F.sum("cnt_t"), F.lit(0)).alias("n_t"))
    )
    boost = (
        corpus.join(target, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "tok",
            F.floor(
                1000000.0
                * F.coalesce(F.col("cnt_t"), F.lit(0))
                * F.col("n_c")
                / (F.col("cnt_c") * F.col("n_t"))
            )
            .cast("bigint")
            .alias("b6"),
        )
    )
    return (
        tok.join(F.broadcast(boost), "tok")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.floor(F.sum("b6") * 1.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("imp_s6"),
        )
    )


# --------------------------------------------------------------------------
# Corpus-version diff (data versioning without a table format): given two
# corpus versions, classify every doc as added / removed / changed by
# content fingerprint — the incremental-reprocessing primitive (only
# 'added'+'changed' docs re-enter the pipeline; 'removed' ids tombstone).
# Versions are synthesized deterministically from the one documents table:
# v1 = docs with doc_id % 41 != 0 (some docs don't exist yet);
# v2 = docs with doc_id % 43 != 0 (some v1 docs were deleted), text
#      revised for doc_id % 37 == 0 — all three statuses occur.
# One full-outer join on doc_id, fingerprints compared only on the overlap.
# At 100 TB: fingerprints are 32-byte md5s computed in the scan projection,
# the join shuffles (id, fingerprint) pairs — never text.
# --------------------------------------------------------------------------
_V1_FP_SQL = f"md5({{norm}})".format(norm="lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))")
_V2_TEXT_SQL = "CASE WHEN doc_id % 37 = 0 THEN text || ' rev2' ELSE text END"


@register(
    "corpus_version_diff",
    oracle=f"""
WITH v1 AS (
  SELECT doc_id, {_V1_FP_SQL} AS fp FROM documents WHERE doc_id % 41 != 0
),
v2 AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim({_V2_TEXT_SQL}), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 43 != 0
),
j AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         v1.fp AS fp1, v2.fp AS fp2
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT doc_id,
       CASE WHEN fp1 IS NULL THEN 'added'
            WHEN fp2 IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM j
WHERE fp1 IS NULL OR fp2 IS NULL OR fp1 != fp2
""",
    doc="corpus-version diff by content fingerprint: added/removed/changed "
    "via one full-outer join of (id, md5) pairs — text never shuffles",
)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import norm_text

    d = load_table(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 41 != 0).select(
        "doc_id", F.md5(norm_text(F.col("text"))).alias("fp1")
    )
    v2_text = F.when(
        F.col("doc_id") % 37 == 0, F.concat(F.col("text"), F.lit(" rev2"))
    ).otherwise(F.col("text"))
    v2 = d.filter(F.col("doc_id") % 43 != 0).select(
        "doc_id", F.md5(norm_text(v2_text)).alias("fp2")
    )
    j = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp1").isNull(), F.lit("added"))
        .when(F.col("fp2").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(
            F.col("fp1").isNull()
            | F.col("fp2").isNull()
            | (F.col("fp1") != F.col("fp2"))
        )
        .select("doc_id", status.alias("status"))
    )


# --------------------------------------------------------------------------
# The capstone composition: the manifest of the FINAL kept training set.
# kept(doc) = train-split(doc) ∧ quality(doc) ∧ canonical-under-near-dup(doc)
#             ∧ ¬leaks-test-content(doc) — i.e. every cleaning stage the
# pipeline defines (hash split, text_quality rule, MinHash-LSH cluster
# dedup, 8-gram decontamination) applied together, rolled up per
# (lang, source). Each stage is independently oracled elsewhere; this
# entry hash-proves they COMPOSE identically across engines (the oracle
# is the literal SQL composition of the four stages' CTEs).
# --------------------------------------------------------------------------
@register(
    "training_manifest",
    oracle=None,  # composed oracle attached below (needs textops' CTEs)
    doc="final kept-training-set manifest per (lang, source): train "
    "split ∧ quality gate ∧ near-dup canonical ∧ not decontaminated-out "
    "— the four independently-oracled cleaning stages composed in one "
    "plan and hash-proven to compose identically in SQL",
)
def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import REGISTRY
    from .textops import _get_or_build_clusters

    d = load_table(spark, sf_dir, "documents")
    bucket = portable_hash64_seeded(F.col("doc_id").cast("string"), _SEED) % 100
    quality = REGISTRY["text_quality"].fn(spark, sf_dir)
    dropped = (
        _get_or_build_clusters(spark, sf_dir)
        .filter(F.col("is_canonical") == 0)
        .select("doc_id")
    )
    contaminated = (
        REGISTRY["decontaminate"].fn(spark, sf_dir)
        .select(F.col("train_doc_id").alias("doc_id"))
        .distinct()
    )
    base = d.select("doc_id", "source").withColumn("_train", bucket < 80)
    kept = (
        quality.filter(F.col("is_quality") == 1)
        .join(base, "doc_id")
        .filter(F.col("_train"))
        .join(dropped, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def _attach_training_manifest_oracle() -> None:
    from . import REGISTRY, QuerySpec
    from .textops import _DEDUP_CLUSTERS_CTES

    sql = (
        _DEDUP_CLUSTERS_CTES
        + f""",
dropped AS (
  SELECT u FROM reach GROUP BY u HAVING u != LEAST(u, MIN(v))
),
g AS ({_DECON_GRAMS_SQL}),
tr AS (
  SELECT doc_id, gh FROM g WHERE split = 'train'
  QUALIFY count(*) OVER (PARTITION BY gh) <= {_DECON_DF_CAP}
),
te AS (SELECT doc_id AS test_doc_id, gh FROM g WHERE split = 'test'),
j AS (
  SELECT tr.doc_id AS train_doc_id, te.test_doc_id, count(*) AS n_shared
  FROM tr JOIN te USING (gh) GROUP BY 1, 2
),
contaminated AS (
  SELECT DISTINCT train_doc_id AS doc_id FROM j
  WHERE n_shared >= {_DECON_MIN_SHARED}
),
q AS (
  SELECT doc_id, lang, source,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         CASE WHEN len(text) = 0 THEN 0.0
              ELSE len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) * 1.0 / len(text)
         END AS p_ratio,
         ({_HASH_SQL}) % 100 < 80 AS is_train
  FROM documents
)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM q
WHERE is_train AND n_tokens >= 20 AND p_ratio < 0.1
  AND doc_id NOT IN (SELECT u FROM dropped)
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
GROUP BY lang, source
"""
    )
    spec = REGISTRY["training_manifest"]
    REGISTRY["training_manifest"] = QuerySpec(fn=spec.fn, oracle=sql, doc=spec.doc)


_attach_training_manifest_oracle()


# --------------------------------------------------------------------------
# Gopher-style composite quality filter ([EXT]: Rae et al. 2021 §A1.1 /
# the FineWeb re-implementation): the classic rule battery as per-rule
# flags plus the composite verdict, so downstream can audit WHICH rule
# killed a doc (the operational requirement the single is_quality bit of
# text_quality doesn't meet). Rules, adapted to this corpus' scale:
#   r_len    20 <= n_tokens <= 1000
#   r_wordlen 3 <= mean token chars <= 10  (on the 1e6 grid, floor)
#   r_stop   >= 2 distinct stopwords from a fixed 10-word list
#   r_alpha  >= 80% of tokens contain an alphabetic character
# All ratios on exact-int grids; comparisons have no FP boundary.
# Scale: one token explode -> one (doc_id) rollup; the stopword list is a
# literal, never a join.
# --------------------------------------------------------------------------
_STOPWORDS = (
    "the", "a", "of", "to", "and", "in", "is", "on", "for", "it",
)
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@register(
    "gopher_quality_filter",
    oracle=f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
  WHERE length(trim(text)) > 0
),
tok AS (SELECT doc_id, unnest(toks) AS w FROM t),
agg AS (
  SELECT doc_id,
         count(*) AS n_tokens,
         CAST(sum(len(w)) AS BIGINT) AS sum_chars,
         CAST(count(DISTINCT CASE WHEN w IN {_SW_SQL} THEN w END) AS BIGINT)
           AS n_stop,
         CAST(sum(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END)
              AS BIGINT) AS n_alpha
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(n_tokens BETWEEN 20 AND 1000 AS INT) AS r_len,
       CAST(sum_chars * 1000000 >= 3000000 * n_tokens
            AND sum_chars * 1000000 <= 10000000 * n_tokens AS INT)
         AS r_wordlen,
       CAST(n_stop >= 2 AS INT) AS r_stop,
       CAST(n_alpha * 1000000 >= 800000 * n_tokens AS INT) AS r_alpha,
       CAST(n_tokens BETWEEN 20 AND 1000
            AND sum_chars * 1000000 >= 3000000 * n_tokens
            AND sum_chars * 1000000 <= 10000000 * n_tokens
            AND n_stop >= 2
            AND n_alpha * 1000000 >= 800000 * n_tokens AS INT) AS passes
FROM agg
""",
    doc="Gopher rule battery as auditable per-rule flags (length, mean "
    "word length, stopword presence, alphabetic fraction) + composite "
    "verdict; exact-int ratio comparisons, one explode + one rollup",
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import norm_text, tokens

    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(tokens(norm_text(F.col("text")))).alias("w"))
    )
    agg = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("w")).cast("bigint").alias("sum_chars"),
        F.countDistinct(
            F.when(F.col("w").isin(*_STOPWORDS), F.col("w"))
        ).cast("bigint").alias("n_stop"),
        F.sum(
            F.col("w").rlike("[a-z]").cast("int")
        ).cast("bigint").alias("n_alpha"),
    )
    r_len = F.col("n_tokens").between(20, 1000)
    r_wl = (F.col("sum_chars") * 1000000 >= 3000000 * F.col("n_tokens")) & (
        F.col("sum_chars") * 1000000 <= 10000000 * F.col("n_tokens")
    )
    r_stop = F.col("n_stop") >= 2
    r_alpha = F.col("n_alpha") * 1000000 >= 800000 * F.col("n_tokens")
    return agg.select(
        "doc_id",
        "n_tokens",
        r_len.cast("int").alias("r_len"),
        r_wl.cast("int").alias("r_wordlen"),
        r_stop.cast("int").alias("r_stop"),
        r_alpha.cast("int").alias("r_alpha"),
        (r_len & r_wl & r_stop & r_alpha).cast("int").alias("passes"),
    )


# --------------------------------------------------------------------------
# Sequence-length histogram ([EXT]): the token-count distribution that
# sizes packing windows, context budgets, and batch shapes. Fixed-width
# 16-token bins (integer division — no log-scale FP boundary). One
# tokenize pass, one tiny rollup.
# --------------------------------------------------------------------------
@register(
    "length_histogram",
    oracle=f"""
WITH t AS (
  SELECT CASE WHEN trim(text) = '' THEN 0
              ELSE len({_TOKENS_SQL}) END AS n_tokens
  FROM documents
)
SELECT (n_tokens // 16) * 16 AS bucket_lo,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(n_tokens) AS min_tokens,
       max(n_tokens) AS max_tokens
FROM t GROUP BY 1
""",
    doc="token-count distribution in fixed 16-token bins (sizes packing "
    "windows / context budgets); integer-division bucketing, no FP",
)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    t = d.select(token_count(F.col("text")).cast("bigint").alias("n_tokens"))
    return (
        t.select(
            ((F.col("n_tokens") / 16).cast("bigint") * 16).alias("bucket_lo"),
            "n_tokens",
        )
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Physical-layout maintenance (io/catalog.py optimize_layout): rewrite a
# copy of the corpus range-clustered on (lang, source), then answer a
# metadata-filtered rollup FROM THE CLUSTERED COPY. The oracle reads the
# original table, so the hash compare proves the rewrite lossless — while
# the Spark plan demonstrates the 100 TB point: the pushed lang predicate
# meets tight per-file min/max stats and skips every file outside the
# lang range (a pruned scan where the unclustered layout reads all bytes).
# Build is idempotent per sf_dir via the registry's one artifact cycle
# (pipeline._build_once), as the ANN index builds are.
# --------------------------------------------------------------------------
def _get_or_build_clustered_documents(spark: SparkSession, sf_dir: str) -> str:
    from ..io.catalog import optimize_layout
    from .pipeline import _build_once

    def build(path):
        # small target so even the toy SFs produce a multi-file clustered
        # layout (at real scale the 128 MB default applies)
        load_table(spark, sf_dir, "documents").write.mode("overwrite").parquet(
            path
        )
        optimize_layout(
            spark, path, ["lang", "source"], target_bytes_per_file=64 << 10
        )

    return _build_once(
        sf_dir, "clustered_documents", ("clustered_documents",), build,
        table="documents",
    )[0]


@register(
    "layout_clustered_scan",
    oracle="""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM documents
WHERE lang = 'de'
GROUP BY source
""",
    doc="metadata-filtered rollup served from a range-clustered rewrite of "
    "the corpus (optimize_layout by lang,source): pushed predicate + tight "
    "per-file stats = pruned scan; oracle reads the ORIGINAL table, so "
    "equality proves the layout rewrite lossless",
)
def layout_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _get_or_build_clustered_documents(spark, sf_dir)
    d = spark.read.parquet(path)
    return (
        d.filter(F.col("lang") == "de")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
        )
    )
