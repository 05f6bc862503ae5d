"""Semantics tests for the LLM-pipeline curation queries added after the
dedup family: repetition profiling, PII scrubbing, decontamination, and
source mixing. Crafted micro-corpora pin the exact definitions; the
sf0.001 gate queries are exercised end-to-end by tools/check_oracle.py."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


class TestRepetitionProfile:
    def test_degenerate_doc_flagged(self, spark, tmp_path):
        from vectordb_acc_and_speed_exp_spark.queries.textops import (
            _dup_frac_col,
            _strict_ngrams_col,
        )
        from vectordb_acc_and_speed_exp_spark.functions.text import (
            norm_text,
            tokens,
        )

        rows = [
            (0, "a b a b a b a b", "en", "s", 15),  # pure 2-cycle
            (1, "one two three four five six", "en", "s", 27),  # all distinct
            (2, "x", "en", "s", 1),  # shorter than n
            (3, "", "en", "s", 0),  # empty
        ]
        d = _docs(spark, rows).select(
            "doc_id", tokens(norm_text(F.col("text"))).alias("t")
        )
        out = {
            r["doc_id"]: r
            for r in d.select(
                "doc_id",
                _dup_frac_col(_strict_ngrams_col(F.col("t"), 2)).alias("d2"),
                _dup_frac_col(_strict_ngrams_col(F.col("t"), 3)).alias("d3"),
            ).collect()
        }
        # "a b a b a b a b": 7 bigrams, 2 distinct -> (1 - 2/7) on the
        # 1e6 integer grid
        assert out[0]["d2"] == round((1 - 2 / 7) * 1_000_000)
        # 6 trigrams, 2 distinct -> 1 - 2/6
        assert out[0]["d3"] == round((1 - 2 / 6) * 1_000_000)
        assert out[1]["d2"] == 0 and out[1]["d3"] == 0
        assert out[2]["d2"] == 0  # < n tokens: no grams, frac 0
        assert out[3]["d2"] == 0

    def test_gate_query_runs(self, spark, sf_dir):
        from vectordb_acc_and_speed_exp_spark.queries import load_all

        df = load_all()["repetition_profile"].fn(spark, sf_dir)
        rows = df.collect()
        assert len(rows) > 0
        assert all(0 <= r["dup_2gram_s6"] <= 1_000_000 for r in rows)


class TestPiiScrub:
    def test_redaction_patterns(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.textops import (
            _PAT_EMAIL,
            _PAT_IP,
            _PAT_PHONE,
        )

        df = spark.createDataFrame(
            [
                ("mail bob.smith+x@corp.example.org end", 1, 0, 0),
                ("call 555-0142 or 555-9999 now", 0, 2, 0),
                ("node 192.168.1.250 up", 0, 0, 1),
                ("no pii here 1234-555", 0, 0, 0),
            ],
            "text string, e int, p int, i int",
        )
        got = df.select(
            F.regexp_count("text", F.lit(_PAT_EMAIL)).alias("e2"),
            F.regexp_count("text", F.lit(_PAT_PHONE)).alias("p2"),
            F.regexp_count("text", F.lit(_PAT_IP)).alias("i2"),
            "e",
            "p",
            "i",
        ).collect()
        for r in got:
            assert (r["e2"], r["p2"], r["i2"]) == (r["e"], r["p"], r["i"])

    def test_redacted_text_has_no_pii_left(self, spark, sf_dir):
        from vectordb_acc_and_speed_exp_spark.queries import load_all

        # recompute the redacted text shape: counts on the scrubbed output
        # of the gate query's own injection must be zero for every doc
        from vectordb_acc_and_speed_exp_spark.io import load_table
        from vectordb_acc_and_speed_exp_spark.queries.textops import (
            _PAT_EMAIL,
            _PAT_IP,
            _PAT_PHONE,
        )

        df = load_all()["pii_scrub"].fn(spark, sf_dir)
        assert df.filter("n_emails = 0 AND doc_id % 3 = 0").count() == 0
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert df.count() == n_docs
        # signature column is a 16-hex prefix
        bad = df.filter(~F.col("redacted_sig").rlike("^[0-9a-f]{16}$")).count()
        assert bad == 0


class TestDecontaminate:
    def test_planted_leak_is_found(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.curation import (
            _decontaminate_frame,
        )

        words = [f"w{i}" for i in range(40)]
        leak = " ".join(words)  # 40 tokens shared verbatim
        other = " ".join(f"z{i}" for i in range(40))
        # doc_ids chosen so the seeded split puts 2 in train, 900 in test
        # (checked via the same hash function inside the query); instead of
        # guessing, build the frame with an explicit split override.
        d = spark.createDataFrame(
            [(1, leak, "train"), (2, other, "train"), (3, leak + " tail0", "test")],
            "doc_id bigint, text string, split string",
        )
        out = _decontaminate_frame(d).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["train_doc_id"], r["test_doc_id"]) == (1, 3)
        # train doc 1 contains 33 of the test doc's 34 distinct 8-grams
        assert r["n_shared"] == 33
        assert r["contam_r"] == pytest.approx(33 / 34, abs=1e-4)

    def test_short_docs_produce_no_grams(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.curation import (
            _decontaminate_frame,
        )

        d = spark.createDataFrame(
            [(1, "a b c d e f g", "train"), (2, "a b c d e f g", "test")],
            "doc_id bigint, text string, split string",
        )
        assert _decontaminate_frame(d).count() == 0


class TestSourceMixWeights:
    def test_temperature_flattens(self, spark, sf_dir):
        from vectordb_acc_and_speed_exp_spark.queries import load_all

        rows = load_all()["source_mix_weights"].fn(spark, sf_dir).collect()
        assert abs(sum(r["w_r"] for r in rows) - 1.0) < 1e-2
        # alpha < 1 compresses the spread: every small source is boosted,
        # every large source damped, and ordering by weight preserves
        # ordering by natural share
        big = max(rows, key=lambda r: r["p_r"])
        small = min(rows, key=lambda r: r["p_r"])
        assert big["boost_r"] <= 1.0 + 1e-9 <= small["boost_r"]
        assert (big["w_r"] - small["w_r"]) <= (big["p_r"] - small["p_r"])


class TestConversionFunnel:
    def test_ordered_semantics(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.relational import (
            _funnel_frame,
        )

        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def ts(m):
            return t0 + dt.timedelta(minutes=m)

        rows = [
            # u1: full ordered funnel
            ("u1", "signup", ts(0)),
            ("u1", "view", ts(1)),
            ("u1", "purchase", ts(2)),
            # u2: purchase BEFORE view -> counts only through step 2
            ("u2", "signup", ts(0)),
            ("u2", "purchase", ts(1)),
            ("u2", "view", ts(2)),
            # u3: no signup -> counts nowhere
            ("u3", "view", ts(0)),
            ("u3", "purchase", ts(1)),
        ]
        e = spark.createDataFrame(rows, "user_id string, event_type string, ts timestamp")
        r = _funnel_frame(e).collect()[0]
        assert (r["n_signup"], r["n_signup_view"], r["n_signup_view_purchase"]) == (
            2,
            2,
            1,
        )
        assert r["conversion_r"] == pytest.approx(0.5, abs=1e-9)


class TestEmbeddingDimStats:
    def test_crafted_vectors(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.vector import (
            _dim_stats_frame,
        )

        emb = spark.createDataFrame(
            [(0, [1.0, -2.0]), (1, [3.0, -4.0])],
            "vec_id bigint, embedding array<float>",
        )
        out = {r["dim"]: r for r in _dim_stats_frame(emb).collect()}
        # dim 1: values 1e6, 3e6 -> mean 2e6, pop std 1.0, min/max exact
        assert out[1]["mean_s6"] == 2_000_000
        assert out[1]["std_r"] == pytest.approx(1.0, abs=1e-4)
        assert (out[1]["min_s6"], out[1]["max_s6"]) == (1_000_000, 3_000_000)
        # dim 2: values -2e6, -4e6 -> mean -3e6 (floor exact on negatives)
        assert out[2]["mean_s6"] == -3_000_000
        assert (out[2]["min_s6"], out[2]["max_s6"]) == (-4_000_000, -2_000_000)

    def test_gate_query_shape(self, spark, sf_dir):
        from vectordb_acc_and_speed_exp_spark.queries import load_all

        rows = load_all()["embedding_dim_stats"].fn(spark, sf_dir).collect()
        assert len(rows) == 64  # one row per coordinate
        assert all(r["std_r"] >= 0.0 for r in rows)
        assert all(r["min_s6"] <= r["mean_s6"] <= r["max_s6"] for r in rows)


class TestDomainRebalancedSample:
    def test_small_source_upweighted(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.curation import (
            _rebalance_frame,
        )

        # 'big' has 9x the token mass of 'small'; alpha=0.3 compresses the
        # gap, so small's keep rate must exceed big's
        rows = [(i, "tok " * 9, "en", "big", 36) for i in range(90)] + [
            (i, "tok " * 9, "en", "small", 36) for i in range(90, 100)
        ]
        d = _docs(spark, rows)
        out = _rebalance_frame(d)
        rates = {
            r["source"]: r["rate_bp"]
            for r in out.select("source", "rate_bp").distinct().collect()
        }
        assert rates["small"] > rates["big"]
        # rate formula pinned: p_small=0.1, w ~ p^0.3 normalized
        p_s, p_b = 0.1, 0.9
        w_s, w_b = p_s**0.3, p_b**0.3
        exp_s = min(10000, int(10000 * 0.5 * (w_s / (w_s + w_b)) / p_s))
        exp_b = min(10000, int(10000 * 0.5 * (w_b / (w_b + w_s)) / p_b))
        assert rates == {"small": exp_s, "big": exp_b}

    def test_membership_stable_under_append(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.curation import (
            _rebalance_frame,
        )

        rows = [(i, "tok " * 9, "en", f"src{i % 2}", 36) for i in range(80)]
        base = _docs(spark, rows)
        kept_before = {
            r["doc_id"]
            for r in _rebalance_frame(base).collect()
        }
        # appending docs to an EXISTING source at the same mix keeps the
        # rates identical, so prior members never flip (hash membership)
        extra = _docs(spark, [(i, "tok " * 9, "en", f"src{i % 2}", 36) for i in range(80, 120)])
        kept_after = {
            r["doc_id"]
            for r in _rebalance_frame(base.unionByName(extra)).collect()
        }
        assert kept_before <= kept_after


class TestTokenImportanceWeights:
    def test_boost_arithmetic(self, spark):
        from vectordb_acc_and_speed_exp_spark.queries.curation import (
            _importance_frame,
        )

        rows = [
            (1, "hello hello world", "en", "s", 17),
            (2, "bonjour monde hello", "fr", "s", 19),
        ]
        out = {
            r["doc_id"]: r for r in _importance_frame(_docs(spark, rows)).collect()
        }
        # corpus: hello=3, world=1, bonjour=1, monde=1 (N_c=6); target(en):
        # hello=2, world=1 (N_t=3). boost(hello)=(2*6)/(3*3)=4/3,
        # boost(world)=(1*6)/(1*3)=2, boost(bonjour)=boost(monde)=0.
        b_hello = (1_000_000 * 2 * 6) // (3 * 3)
        b_world = (1_000_000 * 1 * 6) // (1 * 3)
        assert out[1]["imp_s6"] == (2 * b_hello + b_world) // 3
        assert out[2]["imp_s6"] == b_hello // 3  # bonjour+monde contribute 0
        assert out[1]["imp_s6"] > out[2]["imp_s6"]

    def test_gate_target_docs_score_higher_on_average(self, spark, sf_dir):
        from vectordb_acc_and_speed_exp_spark.queries import load_all

        rows = load_all()["token_importance_weights"].fn(spark, sf_dir).collect()
        en = [r["imp_s6"] for r in rows if r["lang"] == "en"]
        rest = [r["imp_s6"] for r in rows if r["lang"] != "en"]
        assert en and rest
        assert sum(en) / len(en) > sum(rest) / len(rest)


def test_index_cache_invalidates_on_source_change(spark, tmp_path):
    """_get_or_build artifacts are keyed by a stat fingerprint of the
    source table: same bytes -> cache hit, changed source at the same
    path -> silent rebuild (stale-index protection)."""
    import os
    import shutil

    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _get_or_build_codes,
        _index_root,
    )

    sf_dir = str(tmp_path / "sf_copy")
    os.makedirs(sf_dir)
    src = "/root/testdata/sf0.001/embeddings.parquet"
    dst = os.path.join(sf_dir, "embeddings.parquet")
    (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    shutil.rmtree(_index_root(sf_dir), ignore_errors=True)

    _get_or_build_codes(spark, sf_dir, "sq")
    done = os.path.join(_index_root(sf_dir), "sq._DONE")
    fp1 = open(done).read()
    marker_mtime = os.path.getmtime(done)

    # unchanged source: cache hit, marker untouched
    _get_or_build_codes(spark, sf_dir, "sq")
    assert open(done).read() == fp1
    assert os.path.getmtime(done) == marker_mtime

    # "regenerated" source (new mtime): fingerprint differs -> rebuild
    if os.path.isdir(dst):
        for f in os.listdir(dst):
            os.utime(os.path.join(dst, f))
    else:
        os.utime(dst)
    _get_or_build_codes(spark, sf_dir, "sq")
    assert open(done).read() != fp1
    shutil.rmtree(_index_root(sf_dir), ignore_errors=True)


def test_deleted_code_table_rebuilds(spark, sf_dir, tmp_path):
    """A fresh marker does not cover a missing output: deleting the pq
    code table rebuilds it, with the same rows."""
    import os
    import shutil

    from vectordb_acc_and_speed_exp_spark.queries import load_all
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import _index_root

    src, sf_dir = sf_dir, str(tmp_path / "sf_copy")
    os.makedirs(sf_dir)
    shutil.copy(
        os.path.join(src, "embeddings.parquet"),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    root = _index_root(sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    stats = load_all()["pq_build_stats"].fn
    try:
        before = sorted(stats(spark, sf_dir).collect())
        shutil.rmtree(os.path.join(root, "pq_codes"))
        assert sorted(stats(spark, sf_dir).collect()) == before
        assert os.path.exists(os.path.join(root, "pq_codes", "_drift.json"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_mtlsh_entry_miss_reroutes_to_exact(
    spark, sf_dir, tmp_path, monkeypatch
):
    """No grid budget meeting the target stores a null budget, and the
    entry serves the exact scan: no bucket budget certifies the target."""
    import json
    import os
    import shutil
    from collections import namedtuple

    from vectordb_acc_and_speed_exp_spark.io import load_table
    from vectordb_acc_and_speed_exp_spark.operators import mtlsh, probetune
    from vectordb_acc_and_speed_exp_spark.operators.knn import exact_knn
    from vectordb_acc_and_speed_exp_spark.queries.pipeline import (
        _index_root,
        _query_set,
        mt_lsh_ann_topk,
    )

    src, sf_dir = sf_dir, str(tmp_path / "sf_copy")
    os.makedirs(sf_dir)
    shutil.copy(
        os.path.join(src, "embeddings.parquet"),
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    root = _index_root(sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    point = namedtuple("point", "budget mean_recall")

    class Missing:
        def collect(self):
            return [point(b, 0.5) for b in (16, 32, 64, 128, 256)]

    monkeypatch.setattr(
        probetune, "calib_ground_truth", lambda *a, **kw: (None, None)
    )
    monkeypatch.setattr(mtlsh, "mt_lsh_budget_curve", lambda *a, **kw: Missing())
    try:
        got = sorted(map(tuple, mt_lsh_ann_topk(spark, sf_dir).collect()))
        with open(os.path.join(root, "mtlsh_serving._budget.json")) as fh:
            assert json.load(fh)["n_probe_buckets"] is None
        emb = load_table(spark, sf_dir, "embeddings")
        want = exact_knn(_query_set(spark, sf_dir), emb, k=10, item_id="vec_id")
        assert got == sorted(
            map(tuple, want.select(
                "query_id", "rank", "item_id", F.round("dist", 4)
            ).collect())
        )
        assert not os.path.exists(os.path.join(root, "mtlsh_index"))
    finally:
        shutil.rmtree(root, ignore_errors=True)


class TestBpeTopMerges:
    """BPE merge-step pair counting (Sennrich get_stats): the Spark query
    must equal a pure-Python reference of the classic algorithm — word-freq
    table, adjacent 2-char pairs weighted by frequency, overlapping
    occurrences counted, top-20 by (count desc, pair asc)."""

    @staticmethod
    def _python_reference(texts, k=20):
        import re
        from collections import Counter

        wf: Counter = Counter()
        for t in texts:
            norm = re.sub(r"\s+", " ", t.strip()).lower()
            if not norm:
                continue
            for w in norm.split(" "):
                if len(w) >= 2:
                    wf[w] += 1
        pairs: Counter = Counter()
        for w, f in wf.items():
            for i in range(len(w) - 1):
                pairs[w[i : i + 2]] += f
        top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return top

    def test_matches_python_reference_on_sf0001(self, spark, sf_dir, documents):
        from vectordb_acc_and_speed_exp_spark.queries.textops import bpe_top_merges

        got = [(r.pair, r.cnt) for r in bpe_top_merges(spark, sf_dir).collect()]
        texts = [r.text for r in documents.select("text").collect()]
        assert got == self._python_reference(texts)

    def test_overlapping_pairs_counted(self, spark, tmp_path, monkeypatch):
        """'aaa' contributes aa twice (overlap), weighted by word freq."""
        import os

        d = _docs(
            spark,
            [
                (1, "aaa aaa ab", "en", "s", 9),
                (2, "  AAA\tab ", "en", "s", 8),
            ],
        )
        out_dir = os.path.join(str(tmp_path), "documents.parquet")
        d.write.parquet(out_dir)
        from vectordb_acc_and_speed_exp_spark.queries.textops import bpe_top_merges

        got = [(r.pair, r.cnt) for r in bpe_top_merges(spark, str(tmp_path)).collect()]
        # wf: aaa->3, ab->2 ; pairs: aa -> 2*3=6, ab -> 2
        assert got == [("aa", 6), ("ab", 2)]


class TestSubwordTokenize:
    """Greedy maximal-munch tokenizer (WordPiece inference): Spark query ==
    pure-Python reference of the same algorithm — vocab = all single chars
    + top-200 n-grams (n<=4) by (weighted count desc, gram asc), cursor
    takes the longest vocab prefix each step."""

    @staticmethod
    def _python_reference(texts, top_grams=200, k=50):
        import re
        from collections import Counter

        wf: Counter = Counter()
        for t in texts:
            norm = re.sub(r"\s+", " ", t.strip()).lower()
            if not norm:
                continue
            for w in norm.split(" "):
                if 2 <= len(w) <= 20:
                    wf[w] += 1
        grams: Counter = Counter()
        for w, f in wf.items():
            for i in range(len(w)):
                for L in range(1, 5):
                    if i + L <= len(w):
                        grams[w[i : i + L]] += f
        vocab = {g for g in grams if len(g) == 1}
        vocab |= {
            g
            for g, _ in sorted(
                ((g, c) for g, c in grams.items() if len(g) >= 2),
                key=lambda kv: (-kv[1], kv[0]),
            )[:top_grams]
        }
        tok_counts: Counter = Counter()
        for w, f in wf.items():
            pos = 0
            while pos < len(w):
                for L in (4, 3, 2, 1):
                    cand = w[pos : pos + L]
                    if cand in vocab:
                        tok_counts[cand] += f
                        pos += len(cand)
                        break
        return sorted(tok_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def test_matches_python_reference_on_sf0001(self, spark, sf_dir, documents):
        from vectordb_acc_and_speed_exp_spark.queries.textops import (
            subword_tokenize_counts,
        )

        got = [
            (r.token, r.cnt)
            for r in subword_tokenize_counts(spark, sf_dir).collect()
        ]
        texts = [r.text for r in documents.select("text").collect()]
        assert got == self._python_reference(texts)

    def test_crafted_corpus_greedy_not_optimal(self, spark, tmp_path):
        """Maximal munch is greedy, not globally optimal: with
        'abab'-heavy words the walk takes the longest prefix even when a
        different split would use fewer tokens downstream."""
        import os

        d = _docs(
            spark,
            [(1, "abab ababx abab", "en", "s", 15), (2, "xy xy abab", "en", "s", 10)],
        )
        d.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
        from vectordb_acc_and_speed_exp_spark.queries.textops import (
            subword_tokenize_counts,
        )

        got = [
            (r.token, r.cnt)
            for r in subword_tokenize_counts(spark, str(tmp_path)).collect()
        ]
        assert got == self._python_reference(
            ["abab ababx abab", "xy xy abab"]
        )
        # every word got fully consumed: total chars in == sum(len(tok)*cnt)
        assert sum(len(t) * c for t, c in got) == sum(
            len(w) for w in ["abab", "ababx", "abab", "xy", "xy", "abab"]
        )
