"""VectorStore facade: the ChromaDB-client-shaped round-trip
(create → add → count → query → delete), every mode agreeing on top-1."""

from __future__ import annotations

import pytest

from vectordb_acc_and_speed_exp_spark.api import VectorStore


@pytest.fixture(scope="module")
def store(spark, documents, tmp_path_factory):
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("store")), dim=16)
    docs = documents.limit(100).selectExpr("cast(doc_id as string) as id", "text")
    vs.create_collection("papers", docs)
    return vs


def test_catalog_roundtrip(store, spark, documents):
    assert store.list_collections() == ["papers"]
    assert store.count("papers") == 100
    extra = documents.limit(120).subtract(documents.limit(100)).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.add("papers", extra)
    assert store.count("papers") == 120
    assert "embedding" in store.get("papers").columns


def test_query_by_text_finds_itself(store, documents):
    probe = documents.limit(3).collect()
    texts = [r.text for r in probe]
    res = store.query("papers", query_texts=texts, k=5, mode="exact").collect()
    top1 = {r.query_id: r for r in res if r.rank == 1}
    for qid, row in top1.items():
        assert row.item_id == str(probe[qid].doc_id)
        assert row.dist < 1e-6  # same text -> same fake embedding


@pytest.mark.slow
def test_query_modes_agree_on_top1(store, documents):
    texts = [documents.limit(1).first().text]
    tops = {}
    for mode in ("exact", "blas", "lsh", "graph", "bq", "mtlsh", "ivfbq"):
        r = store.query("papers", query_texts=texts, k=3, mode=mode).collect()
        tops[mode] = [x.item_id for x in sorted(r, key=lambda x: x.rank)][0]
    assert len(set(tops.values())) == 1, tops


def test_graph_index_incremental_add(store, documents):
    """A graph query builds the index lazily; add() must keep it fresh
    via shard upsert — a doc added AFTER the build is found as its own
    top-1 without any rebuild-from-scratch."""
    import os

    # trigger the lazy build ourselves: this test must not depend on an
    # earlier (now slow-tier) test having issued the first graph query
    store.query(
        "papers",
        query_texts=[documents.limit(1).first().text],
        k=1,
        mode="graph",
    ).collect()
    idx_dir = os.path.join(store.root, ".graph_index", "papers")
    assert os.path.exists(idx_dir)  # built lazily by the graph query
    assert store.list_collections() == ["papers"]  # dot-dir hidden
    extra = documents.limit(140).subtract(documents.limit(120)).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.add("papers", extra)
    assert store.count("papers") == 140
    probe = extra.limit(1).collect()[0]
    r = store.query("papers", query_texts=[probe.text], k=3, mode="graph").collect()
    top1 = [x for x in r if x.rank == 1][0]
    assert top1.item_id == probe.id and top1.dist < 1e-6


def test_query_where_prefilter(store, documents):
    """where= restricts the eligible set BEFORE ranking: every hit
    satisfies the predicate and equals exact search on the filtered
    corpus; graph mode re-plans to the same answer."""
    probe = documents.limit(2).collect()
    texts = [r.text for r in probe]
    pred = "cast(id as bigint) % 2 = 0"
    got = store.query("papers", query_texts=texts, k=5, where=pred).collect()
    assert got
    for r in got:
        assert int(r.item_id) % 2 == 0
    g = store.query(
        "papers", query_texts=texts, k=5, where=pred, mode="graph"
    ).collect()
    assert sorted((r.query_id, r.rank, r.item_id) for r in g) == sorted(
        (r.query_id, r.rank, r.item_id) for r in got
    )


def test_query_mmr_mode(store, documents):
    probe = documents.limit(2).collect()
    res = store.query(
        "papers", query_texts=[r.text for r in probe], k=5, mode="mmr"
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        # rank 1 = pure relevance = the identical-text document
        assert rows[0].item_id == str(probe[qid].doc_id)

def test_query_hybrid_mode(store, documents):
    """Hybrid = BM25 ⊕ dense RRF: a doc matching the query text exactly
    tops the dense channel and scores high lexically, so it wins the
    fusion; every rrf is bounded by 2/(60+1)."""
    probe = documents.limit(2).collect()
    res = store.query(
        "papers", query_texts=[r.text for r in probe], k=5, mode="hybrid"
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        # the identical-text doc tops the dense channel and scores high
        # lexically -> it wins the fusion; rrf is bounded by 2/(60+1)
        assert rows[0].item_id == str(probe[qid].doc_id)
        for r in rows:
            assert 0.0 < r.rrf <= 2.0 / 61.0 + 1e-9
        scores = [r.rrf for r in rows]
        assert scores == sorted(scores, reverse=True)

def test_query_hybrid_respects_where(store, documents):
    """where= composes with hybrid: both channels search only the
    filtered corpus — AND the lexical channel serves from the postings
    artifact (survivor semi-join), never a corpus-text tokenize (no
    Generate/explode in the serve plan; doclens read for eligible-set
    stats — VERDICT r07 #2)."""
    probe = documents.limit(1).collect()
    pred = "cast(id as bigint) % 2 = 0"
    df = store.query(
        "papers", query_texts=[probe[0].text], k=5, mode="hybrid", where=pred
    )
    spark = df.sparkSession
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "explode" not in plan.lower()  # no inline tokenize anywhere
    assert "doclens" in plan  # filtered stats from the artifact sidecar
    res = df.collect()
    assert res
    for r in res:
        assert int(r.item_id) % 2 == 0

@pytest.mark.slow
def test_upsert_replaces_and_inserts(store, spark, documents):
    """ChromaDB collection.upsert parity: existing ids replaced (count
    unchanged), new ids appended, and a live graph index stays fresh."""
    n0 = store.count("papers")
    # replace an existing id with new text + add one brand-new id
    row = store.get("papers").limit(1).collect()[0]
    docs = spark.createDataFrame(
        [(row.id, "replacement text for upsert"), ("999999", "brand new doc")],
        "id string, text string",
    )
    store.query("papers", query_texts=["warm graph"], k=1, mode="graph")  # build idx
    store.upsert("papers", docs)
    assert store.count("papers") == n0 + 1
    got = store.get("papers").filter(f"id = '{row.id}'").collect()
    assert len(got) == 1 and got[0].text == "replacement text for upsert"
    # graph index was upserted in place and still serves the new id:
    # querying with the new doc's text must return it as top-1 (the fake
    # encoder embeds identical text identically)
    top = store.query("papers", query_texts=["brand new doc"], k=1, mode="graph")
    assert top.collect()[0].item_id == "999999"


def test_delete_ids_removes_rows(store):
    n0 = store.count("papers")
    # "999999" exists only when the (slow-tier) upsert test ran first;
    # fall back to any live id so this test is order-independent
    have = store.get("papers").filter("id = '999999'").count()
    victim = "999999" if have else store.get("papers").limit(1).first().id
    store.delete("papers", [victim])
    assert store.count("papers") == n0 - 1
    assert store.get("papers").filter(f"id = '{victim}'").count() == 0
    # graph mode still works (index dropped, lazily rebuilt post-delete)
    res = store.query("papers", query_texts=["anything"], k=3, mode="graph")
    assert res.count() == 3


def test_delete_where_and_get_filters(store):
    """delete(where=) removes by metadata predicate; get(ids/where/limit)
    narrows the read the ChromaDB way."""
    import pyspark.sql.functions as F

    n0 = store.count("papers")
    some_id = store.peek("papers", 1).first().id
    assert store.get("papers", ids=[some_id]).count() == 1
    assert store.get("papers", limit=5).count() == 5
    doomed = store.get("papers", where=f"id = '{some_id}'")
    assert doomed.count() == 1
    store.delete("papers", where=f"id = '{some_id}'")
    assert store.count("papers") == n0 - 1
    assert store.get("papers", ids=[some_id]).count() == 0
    with pytest.raises(ValueError):
        store.delete("papers")


def test_query_validation_and_delete(store, spark):
    with pytest.raises(ValueError):
        store.query("papers")
    with pytest.raises(ValueError):
        store.query("papers", query_texts=["a"], query_vecs=[[0.0] * 16])
    with pytest.raises(ValueError):
        store._path("../escape")
    store.delete_collection("papers")
    assert store.list_collections() == []



def test_add_rejects_duplicate_ids(spark, documents, tmp_path_factory):
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("dupstore")), dim=16)
    docs = documents.limit(10).selectExpr("cast(doc_id as string) as id", "text")
    vs.create_collection("c", docs)
    with pytest.raises(ValueError, match="already exist"):
        vs.add("c", docs.limit(3))
    dup_batch = spark.createDataFrame(
        [("x1", "a"), ("x1", "b")], "id string, text string"
    )
    with pytest.raises(ValueError, match="within the batch"):
        vs.add("c", dup_batch)
    assert vs.count("c") == 10  # nothing partially applied


def test_upsert_collapses_duplicate_ids_last_wins_deterministic(
    spark, documents, tmp_path_factory
):
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("upstore")), dim=16)
    docs = documents.limit(5).selectExpr("cast(doc_id as string) as id", "text")
    vs.create_collection("c", docs)
    batch = spark.createDataFrame(
        [("u1", "aaa"), ("u1", "zzz")], "id string, text string"
    )
    vs.upsert("c", batch)
    rows = vs.get("c", ids=["u1"]).collect()
    assert len(rows) == 1
    # deterministic collapse: max over the non-id struct => 'zzz'
    assert rows[0].text == "zzz"


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path_factory):
    """Rows where the WHERE predicate evaluates NULL must survive a
    metadata delete (NULL != matched)."""
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("nullstore")), dim=16)
    docs = spark.createDataFrame(
        [("a", "t1", 1990), ("b", "t2", None), ("c", "t3", 2001)],
        "id string, text string, year int",
    )
    vs.create_collection("c", docs)
    vs.delete("c", where="year < 2000")
    kept = sorted(r.id for r in vs.get("c").collect())
    assert kept == ["b", "c"]  # NULL-year row b survives


def test_bq_codes_incremental_on_add_invalidated_on_upsert(
    spark, documents, tmp_path_factory
):
    """Round-9 contract (VERDICT r08 #2): add() absorbs into the flat
    code table with the FROZEN quantizer (O(batch) encode, artifact
    survives, appended rows served); upsert() still invalidates — a
    replaced row's old codes can't be patched out of a flat table."""
    import os

    vs = VectorStore(spark, str(tmp_path_factory.mktemp("bqstore")), dim=16)
    docs = documents.limit(30).selectExpr("cast(doc_id as string) as id", "text")
    vs.create_collection("c", docs)
    probe = docs.limit(1).first()
    r1 = vs.query("c", query_texts=[probe.text], k=3, mode="bq").collect()
    assert os.path.exists(vs._qpaths("c", "bq")[0])  # artifact built
    assert r1[0].item_id == probe.id
    extra = documents.limit(40).subtract(documents.limit(30)).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    vs.add("c", extra)
    # artifact SURVIVED the append and serves the appended rows
    assert os.path.exists(os.path.join(vs._qpaths("c", "bq")[0], "_meta.json"))
    new_probe = extra.limit(1).first()
    r2 = vs.query(
        "c", query_texts=[new_probe.text], k=3, mode="bq", shortlist=1000
    ).collect()
    assert r2[0].item_id == new_probe.id
    # upsert (replacement) cannot be absorbed: invalidate + lazy rebuild
    vs.upsert(
        "c",
        spark.createDataFrame([(probe.id, "replaced text")], "id string, text string"),
    )
    assert not os.path.exists(vs._qpaths("c", "bq")[0])
    r3 = vs.query("c", query_texts=["replaced text"], k=3, mode="bq").collect()
    assert r3[0].item_id == probe.id


def test_auto_mode_requires_where_and_matches_exact(store, spark, documents):
    """mode='auto' is the EP8 filtered-search chooser: without where it
    refuses; with where at test scale it picks the exact branch and must
    equal exact search over the filtered corpus (same rows, same ranks)."""
    vs_docs = documents.limit(60).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("autocol", vs_docs)
    probe = vs_docs.limit(2).collect()
    texts = [r.text for r in probe]
    with pytest.raises(ValueError, match="auto"):
        store.query("autocol", query_texts=texts, k=3, mode="auto")
    pred = "cast(id as bigint) % 2 = 0"
    a = store.query(
        "autocol", query_texts=texts, k=5, mode="auto", where=pred
    ).collect()
    e = store.query(
        "autocol", query_texts=texts, k=5, mode="exact", where=pred
    ).collect()
    assert sorted((r.query_id, r.rank, r.item_id) for r in a) == sorted(
        (r.query_id, r.rank, r.item_id) for r in e
    )
    # forced IVF branch (chooser knobs): still k rows, all survivors
    f = store.query(
        "autocol", query_texts=texts, k=5, mode="auto", where=pred,
        auto_opts={"exact_crossover_n": 0, "prune_win_frac": 1.1},
    ).collect()
    assert len(f) == 10 and all(int(r.item_id) % 2 == 0 for r in f)
    store.delete_collection("autocol")


def test_where_reroutes_index_modes_to_auto(store, spark, documents):
    """where= + graph/mtlsh/ivfbq re-plans through the chooser: at test
    scale all three must return the exact filtered answer."""
    vs_docs = documents.limit(60).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("wherecol", vs_docs)
    texts = [vs_docs.limit(1).first().text]
    pred = "cast(id as bigint) % 2 = 0"
    want = sorted(
        (r.query_id, r.rank, r.item_id)
        for r in store.query(
            "wherecol", query_texts=texts, k=5, mode="exact", where=pred
        ).collect()
    )
    for mode in ("graph", "mtlsh", "ivfbq"):
        got = sorted(
            (r.query_id, r.rank, r.item_id)
            for r in store.query(
                "wherecol", query_texts=texts, k=5, mode=mode, where=pred
            ).collect()
        )
        assert got == want, mode
    store.delete_collection("wherecol")


@pytest.mark.slow
def test_hybrid_artifact_equals_inline_and_stays_fresh(
    store, spark, documents
):
    """Unfiltered hybrid serves BM25 from the collection's postings
    artifact; an always-true where must give bit-identical results through
    the FILTERED artifact path (survivor-restricted stats == sidecar
    stats when everyone survives), and the artifact stays fresh through
    add() and upsert() without a rebuild (postings_upsert maintains the
    buckets) — on both the filtered and unfiltered serve paths."""
    import os

    vs_docs = documents.limit(50).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("hybcol", vs_docs)
    texts = [vs_docs.limit(1).first().text, "spark join window"]
    art = store.query("hybcol", query_texts=texts, k=5, mode="hybrid").collect()
    meta = os.path.join(store.root, ".postings_index", "hybcol", "_META.json")
    assert os.path.exists(meta)  # artifact built lazily by the query
    inline = store.query(
        "hybcol", query_texts=texts, k=5, mode="hybrid", where="true"
    ).collect()
    assert sorted(tuple(r) for r in art) == sorted(tuple(r) for r in inline)

    # add(): a brand-new doc must win its own text query via the artifact
    store.add(
        "hybcol",
        spark.createDataFrame(
            [("fresh1", "zzqq unique freshness probe")], "id string, text string"
        ),
    )
    assert os.path.exists(meta)  # maintained, not invalidated
    r = store.query(
        "hybcol", query_texts=["zzqq unique freshness probe"], k=3,
        mode="hybrid",
    ).collect()
    assert [x.item_id for x in r if x.rank == 1] == ["fresh1"]
    # the FILTERED hybrid path reads the same maintained artifact: a
    # where= that admits the fresh doc must surface it immediately
    rf = store.query(
        "hybcol", query_texts=["zzqq unique freshness probe"], k=3,
        mode="hybrid", where="id = 'fresh1' or length(id) < 4",
    ).collect()
    assert [x.item_id for x in rf if x.rank == 1] == ["fresh1"]

    # upsert(): replacing the doc's text must evict its old terms
    store.upsert(
        "hybcol",
        spark.createDataFrame(
            [("fresh1", "totally different words now")], "id string, text string"
        ),
    )
    r2 = store.query(
        "hybcol", query_texts=["totally different words now"], k=3,
        mode="hybrid",
    ).collect()
    assert [x.item_id for x in r2 if x.rank == 1] == ["fresh1"]
    # the OLD unique term is gone from the artifact (stale-posting check)
    from vectordb_acc_and_speed_exp_spark.operators.postings import (
        query_term_postings,
    )

    idx = os.path.join(store.root, ".postings_index", "hybcol")
    assert query_term_postings(spark, idx, ["zzqq"]).count() == 0
    store.delete_collection("hybcol")


@pytest.mark.slow
def test_torn_freshen_marker_forces_index_rebuild(store, spark, documents):
    """ADVICE r07 (medium): a crash mid-_freshen_indexes leaves torn
    incremental artifacts (e.g. postings layout written, forward layout
    not) with no micro-batch redelivery to converge them. A leftover
    facade intent marker must make the next add() DROP the incrementally
    maintained indexes — lazy rebuild from the landed collection rows is
    correct by construction — instead of upserting into torn state."""
    import os

    vs_docs = documents.limit(30).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("torncol", vs_docs)
    store.query("torncol", query_texts=["warm"], k=1, mode="hybrid")
    idx_meta = os.path.join(
        store.root, ".postings_index", "torncol", "_META.json"
    )
    assert os.path.exists(idx_meta)
    # simulate the crash: a marker left over from a dead freshen
    ip = store._freshen_intent_path("torncol")
    os.makedirs(os.path.dirname(ip), exist_ok=True)
    with open(ip, "w") as fh:
        fh.write("{}")
    store.add(
        "torncol",
        spark.createDataFrame(
            [("t1", "zznew torn probe")], "id string, text string"
        ),
    )
    assert not os.path.exists(ip)  # marker consumed by the heal + freshen
    # the possibly-torn postings artifact was dropped, and the next hybrid
    # query rebuilds it lazily INCLUDING the new row
    r = store.query(
        "torncol", query_texts=["zznew torn probe"], k=1, mode="hybrid"
    ).collect()
    assert r[0].item_id == "t1"
    store.delete_collection("torncol")


@pytest.mark.slow
def test_ivfbq_and_mtlsh_freshness_after_add(store, spark, documents):
    """The scale-star modes stay correct across add(): IVF-BQ absorbs the
    batch cell-incrementally (codes re-encoded for touched cells only);
    mt-LSH absorbs it with an O(batch) frozen-plane signature append
    (VERDICT r09 #1 — until round 10 it was invalidate-and-full-rebuild)
    — both must find a doc added after the first build as its own top-1
    with the artifact SURVIVING the add."""
    import os

    vs_docs = documents.limit(40).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("starcol", vs_docs)
    probe = vs_docs.limit(1).first()
    for mode in ("ivfbq", "mtlsh"):
        r = store.query("starcol", query_texts=[probe.text], k=3, mode=mode)
        assert r.collect()[0].item_id == probe.id
    ivf_meta = os.path.join(store.root, ".ivf_index", "starcol", "_meta.json")
    mtlsh_meta = os.path.join(
        store.root, ".mtlsh_index", "starcol", "_mtlsh_meta.json"
    )
    assert os.path.exists(ivf_meta) and os.path.exists(mtlsh_meta)
    store.add(
        "starcol",
        spark.createDataFrame(
            [("star9", "unmistakable star probe text")], "id string, text string"
        ),
    )
    assert os.path.exists(ivf_meta)  # absorbed incrementally
    assert os.path.exists(mtlsh_meta)  # absorbed incrementally too (r10)
    for mode in ("ivfbq", "mtlsh"):
        r = store.query(
            "starcol", query_texts=["unmistakable star probe text"], k=3,
            mode=mode,
        ).collect()
        assert r[0].item_id == "star9", mode
    store.delete_collection("starcol")


@pytest.mark.slow
def test_pq_sq_ivfpq_facade_modes_and_freshness(store, spark, documents):
    """VERDICT r07 #7: the remaining index families exposed through the
    facade. Each mode serves from a persisted per-collection artifact;
    after add(), IVF-PQ absorbs the batch cell-incrementally (codes
    re-encoded for touched cells only, frozen codebooks) and — since
    round 9 (VERDICT r08 #2) — the flat pq/sq code tables ALSO absorb
    it (O(batch) encode with frozen params, drift-tracked) instead of
    invalidating; all three must find a doc added after the first build
    as its own top-1."""
    import os

    vs_docs = documents.limit(40).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("qcol", vs_docs)
    probe = vs_docs.limit(1).first()
    for mode in ("pq", "sq", "ivfpq"):
        r = store.query("qcol", query_texts=[probe.text], k=3, mode=mode)
        assert r.collect()[0].item_id == probe.id, mode
    pq_dir = os.path.join(store.root, ".pq_index", "qcol")
    sq_dir = os.path.join(store.root, ".sq_index", "qcol")
    ivfpq_meta = os.path.join(store.root, ".ivf_index", "qcol", "_pq_meta.json")
    assert os.path.exists(pq_dir) and os.path.exists(sq_dir)
    assert os.path.exists(ivfpq_meta)
    store.add(
        "qcol",
        spark.createDataFrame(
            [("q9", "unmistakable quantizer probe text")],
            "id string, text string",
        ),
    )
    assert os.path.exists(ivfpq_meta)  # absorbed cell-incrementally
    # flat code tables absorbed the batch too (frozen-quantizer append)
    assert os.path.exists(os.path.join(pq_dir, "_meta.json"))
    assert os.path.exists(os.path.join(sq_dir, "_meta.json"))
    for mode in ("pq", "sq", "ivfpq"):
        r = store.query(
            "qcol", query_texts=["unmistakable quantizer probe text"], k=3,
            mode=mode,
        ).collect()
        assert r[0].item_id == "q9", mode
    # upsert(): replacement text must rank under its NEW embedding in the
    # incrementally maintained ivfpq layout (same id ⇒ same-or-moved cell,
    # both rewritten) and in the lazily rebuilt flat codes
    store.upsert(
        "qcol",
        spark.createDataFrame(
            [("q9", "completely different replacement probe")],
            "id string, text string",
        ),
    )
    for mode in ("pq", "sq", "ivfpq"):
        r = store.query(
            "qcol", query_texts=["completely different replacement probe"],
            k=3, mode=mode,
        ).collect()
        assert r[0].item_id == "q9", mode
    store.delete_collection("qcol")


def test_filtered_compressed_modes_use_artifact_and_match_exact(
    store, spark, documents
):
    """where= + bq/pq/sq serves from the persisted full-collection code
    artifact with a survivor semi-join — no per-query quantizer
    re-train/re-encode (the round-7 corpus-sized serve job) — and with a
    survivor-covering shortlist each equals the filtered exact kNN
    (strict pre-filter semantics through the code scan)."""
    import os

    vs_docs = documents.limit(60).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("fqcol", vs_docs)
    probe = vs_docs.limit(1).first()
    pred = "cast(id as bigint) % 2 = 0"
    n_surv = store.get("fqcol").filter(pred).count()
    want = sorted(
        (r.query_id, r.rank, r.item_id)
        for r in store.query(
            "fqcol", query_texts=[probe.text], k=5, mode="exact", where=pred
        ).collect()
    )
    for mode, art in (("bq", ".bq_index"), ("pq", ".pq_index"),
                      ("sq", ".sq_index")):
        got = sorted(
            (r.query_id, r.rank, r.item_id)
            for r in store.query(
                "fqcol", query_texts=[probe.text], k=5, mode=mode,
                where=pred, shortlist=n_surv,
            ).collect()
        )
        assert got == want, mode
        # the filtered query built/used the persisted artifact (the old
        # inline path never materialized one)
        assert os.path.exists(os.path.join(store.root, art, "fqcol")), mode
    store.delete_collection("fqcol")


def test_optimize_compacts_then_clusters_collection(
    spark, documents, tmp_path_factory
):
    """VectorStore.optimize: plain call compacts micro-batch file litter;
    cluster_by rewrites the layout for scan-time pruning. Both are
    content-identical (rows AND query answers unchanged) and leave the
    lazily built indexes valid."""
    import glob

    vs = VectorStore(spark, str(tmp_path_factory.mktemp("optstore")), dim=16)
    base = documents.limit(60).selectExpr("cast(doc_id as string) as id", "text")
    vs.create_collection("papers", base.filter("id % 3 = 0"))
    for rem in (1, 2):  # litter: per-add file sets
        vs.add("papers", base.filter(f"id % 3 = {rem}"))
    want = sorted(map(tuple, vs.get("papers").select("id", "text").collect()))
    probe = vs.get("papers").limit(1).collect()[0]
    vs.query("papers", query_texts=["warm"], k=1, mode="graph")  # build idx

    n_b, n_a = vs.optimize("papers")
    assert n_a <= n_b
    files_compacted = len(glob.glob(vs._path("papers") + "/*.parquet"))
    assert files_compacted == n_a
    assert (
        sorted(map(tuple, vs.get("papers").select("id", "text").collect()))
        == want
    )

    vs.optimize("papers", cluster_by=["id"])
    assert (
        sorted(map(tuple, vs.get("papers").select("id", "text").collect()))
        == want
    )
    # the graph index survived both rewrites (content unchanged => valid)
    top = vs.query("papers", query_texts=[probe.text], k=1, mode="graph")
    assert top.collect()[0].item_id == probe.id
    vs.delete_collection("papers")


def test_crashed_optimize_invisible_to_catalog_and_healed_on_read(
    spark, documents, tmp_path_factory
):
    """A crash between optimize()'s two renames leaves the data only at
    <name>._pre_compact: list_collections must not surface staging dirs
    as phantom collections, and the next get()/count() must roll the
    collection back instead of raising PATH_NOT_FOUND."""
    import os

    vs = VectorStore(spark, str(tmp_path_factory.mktemp("healstore")), dim=16)
    docs = documents.limit(30).selectExpr("cast(doc_id as string) as id", "text")
    vs.create_collection("papers", docs)
    want = sorted(map(tuple, vs.get("papers").select("id", "text").collect()))

    # simulate the mid-swap crash state plus a stale staging dir
    os.rename(vs._path("papers"), vs._path("papers") + "._pre_compact")
    os.makedirs(vs._path("papers") + "._compact_staged")
    assert vs.list_collections() == []  # absent, but no phantom entries

    assert sorted(
        map(tuple, vs.get("papers").select("id", "text").collect())
    ) == want  # read path healed the rollback
    assert vs.list_collections() == ["papers"]
    vs.delete_collection("papers")
    assert not os.path.exists(vs._path("papers") + "._compact_staged")


@pytest.mark.slow
def test_near_duplicates_maintained_through_add(
    spark, documents, tmp_path_factory
):
    """The facade's corpus-hygiene surface: clusters come from a
    maintained artifact that add() folds forward (incremental == a fresh
    store built from the same final corpus), and upsert() invalidates it
    (replacement can split a cluster)."""
    import os

    import pyspark.sql.functions as F

    base = documents.limit(40).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    # clone of one doc inside the initial corpus, a second clone added
    # later, so the add() must MERGE into the existing cluster
    row0 = base.first()
    clone = spark.createDataFrame(
        [("z_clone1", row0.text)], "id string, text string"
    )
    clone2 = spark.createDataFrame(
        [("z_clone2", row0.text)], "id string, text string"
    )

    vs = VectorStore(spark, str(tmp_path_factory.mktemp("dstore")), dim=16)
    vs.create_collection("corpus", base.unionByName(clone))
    lbl1 = {r.id: r.cluster_id for r in vs.near_duplicates("corpus").collect()}
    assert lbl1["z_clone1"] == lbl1[row0.id]

    vs.add("corpus", clone2)  # folds batch 1 into the maintained artifact
    nd2 = {
        (r.id, r.cluster_id, r.is_canonical)
        for r in vs.near_duplicates("corpus").collect()
    }
    lbl2 = {i: c for i, c, _ in nd2}
    assert lbl2["z_clone2"] == lbl2[row0.id]
    assert ("z_clone2", lbl2["z_clone2"], 0) in nd2  # 'z…' is never the min

    # incremental state == a fresh store over the same final corpus
    vs2 = VectorStore(spark, str(tmp_path_factory.mktemp("dstore2")), dim=16)
    vs2.create_collection(
        "corpus", base.unionByName(clone).unionByName(clone2)
    )
    assert nd2 == {
        (r.id, r.cluster_id, r.is_canonical)
        for r in vs2.near_duplicates("corpus").collect()
    }

    # replacement invalidates; the lazy rebuild reflects the new text
    assert os.path.exists(vs._dedup_path("corpus"))
    vs.upsert(
        "corpus",
        spark.createDataFrame(
            [("z_clone2", "entirely different text about nothing at all")],
            "id string, text string",
        ),
    )
    assert not os.path.exists(vs._dedup_path("corpus"))
    lbl3 = {r.id: r.cluster_id for r in vs.near_duplicates("corpus").collect()}
    assert lbl3["z_clone1"] == lbl3[row0.id]
    assert "z_clone2" not in lbl3
    vs.delete_collection("corpus")


def test_torn_freshen_marker_heals_on_first_query(store, spark, documents):
    """ADVICE r08 (read-side half of the crash contract): a marker left
    by a dead freshen must be consumed by the FIRST query, not the next
    write — queries between a crash and the next add() were the window
    still serving torn artifacts."""
    import os

    vs_docs = documents.limit(20).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("tornq", vs_docs)
    store.query("tornq", query_texts=["warm"], k=1, mode="hybrid")
    idx_meta = os.path.join(store.root, ".postings_index", "tornq", "_META.json")
    assert os.path.exists(idx_meta)
    ip = store._freshen_intent_path("tornq")
    os.makedirs(os.path.dirname(ip), exist_ok=True)
    with open(ip, "w") as fh:
        fh.write("{}")
    # a READ heals: marker consumed, possibly-torn artifact dropped and
    # lazily rebuilt from the durable collection rows within this call
    r = store.query("tornq", query_texts=["warm"], k=1, mode="hybrid").collect()
    assert not os.path.exists(ip)
    assert len(r) == 1
    assert os.path.exists(idx_meta)  # rebuilt lazily inside the query
    store.delete_collection("tornq")


@pytest.mark.slow
def test_target_recall_with_where_routes_through_chooser(
    store, documents
):
    """Round 9 (ADVICE r08, resolved the other way): where= + a recall
    target on the auto-routable modes threads the measured curve's probe
    budget into the filtered chooser as a floor (never silently dropped).
    Round 10: the flat compressed modes SERVE too (selectivity-binned
    filtered shortlist curve, VERDICT r09 Missing #1 — here the unit-frac
    filter brackets at the unfiltered bin); only the modes with no recall
    dial at all (exact/blas/mmr/hybrid) still refuse."""
    import pytest as _pytest

    docs = documents.limit(30).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    store.create_collection("trwcol", docs)
    res = store.query(
        "trwcol", query_texts=["warm"], k=3, mode="ivfbq",
        target_recall=1.0, where="id is not null",
    ).collect()  # exact-over-survivors: full-probe floor >= prune cap
    assert len(res) == 3
    res2 = store.query(
        "trwcol", query_texts=["warm"], k=3, mode="pq",
        target_recall=0.9, where="id is not null",
    ).collect()  # round 10: served from the filtered shortlist curve
    assert len(res2) == 3
    res3 = store.query(
        "trwcol", query_texts=["warm"], k=3, mode="lsh",
        target_recall=0.9, where="id is not null",
    ).collect()  # lsh re-plans to the chooser with the curve floor
    assert len(res3) == 3
    with _pytest.raises(ValueError, match="filtered-chooser"):
        store.query(
            "trwcol", query_texts=["x"], mode="mmr",
            target_recall=0.9, where="id is not null",
        )
    store.delete_collection("trwcol")


def test_filtered_chooser_min_probe_floor():
    """The curve floor composes with the selectivity widening: it can
    only RAISE the probe budget, and at every cell it degrades the plan
    to exact-over-survivors."""
    from vectordb_acc_and_speed_exp_spark.operators.filtered import (
        choose_filtered_strategy,
    )

    base = dict(n_corpus=1_000_000, n_survivors=500_000, n_cells=256)
    s0, p0 = choose_filtered_strategy(**base)
    assert s0 == "ivf_prefilter"
    s1, p1 = choose_filtered_strategy(**base, min_probe=p0 + 6)
    assert (s1, p1) == ("ivf_prefilter", p0 + 6)  # floor raises it
    s2, _ = choose_filtered_strategy(**base, min_probe=256)
    assert s2 == "exact"  # target 1.0: full-probe floor ⇒ exact branch
    # a floor below the widening changes nothing
    assert choose_filtered_strategy(**base, min_probe=1) == (s0, p0)


@pytest.mark.slow
def test_mtlsh_incremental_add_upsert_compaction_staleness(
    spark, documents, tmp_path_factory
):
    """Round-10 write contract for mt-LSH (VERDICT r09 #1, the last
    corpus-sized write-path job): add() and upsert() absorb into the
    signature index with an O(batch) frozen-plane append (artifact
    survives, prior files untouched); upsert leaves the replaced id's
    stale rows behind (correctness-safe: exact re-rank + the new
    signatures ARE appended) until optimize() compacts them out; and the
    2x-growth staleness rule rebuilds the index so _auto_planes re-sizes
    (the curve_is_stale discipline applied to the artifact itself)."""
    import json
    import os

    vs = VectorStore(spark, str(tmp_path_factory.mktemp("mtstore")), dim=16)
    docs = documents.limit(40).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    vs.create_collection("c", docs)
    probe = docs.limit(1).first()
    r1 = vs.query("c", query_texts=[probe.text], k=3, mode="mtlsh").collect()
    assert r1[0].item_id == probe.id
    idx = vs._mtlsh_path("c")
    mp = os.path.join(idx, "_mtlsh_meta.json")
    with open(mp) as f:
        meta0 = json.load(f)
    assert meta0["gen"] == 0 and meta0["n_corpus"] == 40
    t0 = os.path.join(idx, "table=0")
    before = {
        f: os.path.getmtime(os.path.join(t0, f))
        for f in os.listdir(t0) if f.endswith(".parquet")
    }
    # three incremental batches (stay under the 2x staleness threshold)
    for lo, hi in ((40, 45), (45, 50), (50, 55)):
        extra = documents.limit(hi).subtract(documents.limit(lo)).selectExpr(
            "cast(doc_id as string) as id", "text"
        )
        vs.add("c", extra)
    with open(mp) as f:
        meta1 = json.load(f)
    assert meta1["gen"] == 3  # one appended generation per batch
    after = {
        f: os.path.getmtime(os.path.join(t0, f))
        for f in os.listdir(t0) if f.endswith(".parquet")
    }
    for f, m in before.items():  # O(batch) pin: old files untouched
        assert f in after and after[f] == m
    assert len(after) > len(before)
    # a doc from the LAST batch is served through the pruned path
    new_probe = (
        documents.limit(55).subtract(documents.limit(50))
        .selectExpr("cast(doc_id as string) as id", "text").first()
    )
    r2 = vs.query("c", query_texts=[new_probe.text], k=3, mode="mtlsh").collect()
    assert r2[0].item_id == new_probe.id
    # upsert: artifact survives, replaced id found under its NEW text
    vs.upsert(
        "c",
        spark.createDataFrame(
            [(probe.id, "entirely replaced probe text")],
            "id string, text string",
        ),
    )
    assert os.path.exists(mp)
    r3 = vs.query(
        "c", query_texts=["entirely replaced probe text"], k=3, mode="mtlsh"
    ).collect()
    assert r3[0].item_id == probe.id
    # superseded rows present pre-compaction, gone after optimize()
    L = meta1["n_tables"]
    assert spark.read.parquet(idx).count() == 56 * L  # 55 ids + 1 stale gen
    vs.optimize("c")
    sig = spark.read.parquet(idx)
    assert sig.count() == 55 * L
    assert (
        sig.groupBy("item_id", "table").count().filter("count > 1").count()
        == 0
    )
    r4 = vs.query(
        "c", query_texts=["entirely replaced probe text"], k=3, mode="mtlsh"
    ).collect()
    assert r4[0].item_id == probe.id
    # 2x growth: the NEXT mtlsh query rebuilds with a re-derived plane
    # count and fresh bookkeeping
    grow = documents.limit(150).subtract(documents.limit(55)).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    vs.add("c", grow)
    vs.query("c", query_texts=[probe.text], k=3, mode="mtlsh").collect()
    with open(mp) as f:
        meta2 = json.load(f)
    assert meta2["gen"] == 0 and meta2["n_corpus"] == 150


def test_where_selectivity_memo_invalidates_on_replace(store, documents):
    """The filtered recall dial reads a memoized survivor fraction; the
    memo is keyed on the LAYOUT SIGNATURE, not the row count — a
    pure-replace upsert (same ids, same count, different metadata) must
    re-measure, or the dial serves the OLD selectivity and silently
    misses its target."""
    docs = documents.limit(20).selectExpr(
        "cast(doc_id as string) as id", "text",
        "cast(doc_id % 2 as int) as label",
    )
    store.create_collection("selmemo", docs)
    f1 = store._where_selectivity("selmemo", "label = 0")
    assert abs(f1 - 0.5) < 1e-9
    flipped = docs.selectExpr("id", "text", "cast(1 as int) as label")
    store.upsert("selmemo", flipped)  # same ids, same row count
    f2 = store._where_selectivity("selmemo", "label = 0")
    assert f2 == 0.0
    store.delete_collection("selmemo")


def test_crashed_codes_compaction_healed_on_read_and_append(
    spark, embeddings, tmp_path_factory
):
    """Flat code tables are auto-compacted by the staged-swap rewrite
    (round 11): a crash between its two renames leaves the codes dir
    absent with the full table at codes._pre_compact. BOTH consumers
    must roll back first — a serve-path read (else PATH_NOT_FOUND), and
    a _freshen_indexes append (else the append would CREATE a codes dir
    holding only the new batch while the full table sits in the backup:
    silent data loss)."""
    import os

    import pyspark.sql.functions as F

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("codesheal")), dim=dim)
    vs.create_collection(
        "c",
        embeddings.filter(F.col("vec_id") < 150).select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    probe = [[float(x) for x in embeddings.limit(1).first().embedding]]
    assert vs.query("c", query_vecs=probe, k=5, mode="bq").count() == 5
    codes = os.path.join(vs._qpaths("c", "bq")[0], "codes")
    n_rows = spark.read.parquet(codes).count()

    # crash window before a READ: serve must heal and see the full table
    os.rename(codes, codes + "._pre_compact")
    assert vs.query("c", query_vecs=probe, k=5, mode="bq").count() == 5
    assert spark.read.parquet(codes).count() == n_rows

    # crash window before an APPEND: add() must heal, then append
    os.rename(codes, codes + "._pre_compact")
    batch = embeddings.filter(
        (F.col("vec_id") >= 150) & (F.col("vec_id") < 170)
    ).select(F.col("vec_id").cast("string").alias("id"), "embedding")
    vs.add("c", batch)
    assert spark.read.parquet(codes).count() == n_rows + 20
    assert not os.path.exists(codes + "._pre_compact")
    assert vs.query("c", query_vecs=probe, k=5, mode="bq").count() == 5


def test_defer_maintenance_accrues_debt_and_optimize_clears_it(
    spark, embeddings, tmp_path_factory
):
    """VERDICT r11 #5: ``add(defer_maintenance=True)`` must never pay the
    inline auto-compaction stall — file counts keep GROWING past the
    threshold — while the debt stays visible via maintenance_due(), and
    one optimize() clears it (codes back to one file, due=False) with
    served results unchanged."""
    import os

    import pyspark.sql.functions as F

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(
        spark, str(tmp_path_factory.mktemp("defer")), dim=dim
    )
    vs.create_collection(
        "c",
        embeddings.filter(F.col("vec_id") < 60).select(
            F.col("vec_id").cast("string").alias("id"), "embedding"
        ),
    )
    probe = [[float(x) for x in r.embedding]
             for r in embeddings.limit(1).collect()]
    vs.query("c", query_vecs=probe, k=3, mode="sq", shortlist=20)  # build
    vs._CODES_AUTO_COMPACT_FILES = 3  # fast-forward the threshold
    codes = os.path.join(vs._qpaths("c", "sq")[0], "codes")
    counts = [vs._codes_file_count(codes)]
    for i in range(4):
        batch = embeddings.filter(
            (F.col("vec_id") >= 60 + 5 * i) & (F.col("vec_id") < 65 + 5 * i)
        ).select(F.col("vec_id").cast("string").alias("id"), "embedding")
        vs.add("c", batch, defer_maintenance=True)
        counts.append(vs._codes_file_count(codes))
    # never stalled: the file count only ever grew (an inline compaction
    # would have collapsed it to 1 somewhere past the threshold)
    assert counts == sorted(counts) and counts[-1] > 3, counts
    due = vs.maintenance_due("c")
    assert due["due"] and due["codes"]["sq"]["due"]
    assert due["codes"]["sq"]["files"] == counts[-1]
    # optimize() clears the debt...
    vs.optimize("c")
    due2 = vs.maintenance_due("c")
    assert not due2["due"] and due2["codes"]["sq"]["files"] == 1
    # ...and the served path is unchanged: full-shortlist SQ == exact
    got = vs.query("c", query_vecs=probe, k=5, mode="sq", shortlist=100)
    exact = vs.query("c", query_vecs=probe, k=5, mode="exact")
    assert sorted((r.rank, r.item_id) for r in got.collect()) == sorted(
        (r.rank, r.item_id) for r in exact.collect()
    )
    # the inline default still engages on a non-deferred add
    batch = embeddings.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 205)
    ).select(F.col("vec_id").cast("string").alias("id"), "embedding")
    vs.add("c", batch)  # 2 files < threshold 3: appends, no compact
    vs.add("c", batch.select(
        F.concat(F.lit("x"), F.col("id")).alias("id"), "embedding"
    ))
    vs.add("c", batch.select(
        F.concat(F.lit("y"), F.col("id")).alias("id"), "embedding"
    ))
    assert vs._codes_file_count(codes) < 4  # inline compaction re-engaged


@pytest.mark.slow
def test_defer_maintenance_graph_and_ivf_surfaces(
    spark, embeddings, tmp_path_factory
):
    """VERDICT r12 #4: the deferral valve covers the graph and IVF
    surfaces too. Deferred adds never rebuild a shard or rewrite a cell
    (strictly append-only on disk), the debt is visible on every index
    surface maintenance_due() reports, serves stay COMPLETE while
    deferred (graph merges its pending buffer; IVF reads the appended
    cell files), and one optimize() clears everything."""
    import os

    import pyspark.sql.functions as F

    dim = len(embeddings.select("embedding").first()[0])
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("defer_gi")), dim=dim)
    base = embeddings.filter(F.col("vec_id") < 60).select(
        F.col("vec_id").cast("string").alias("id"), "embedding"
    )
    vs.create_collection("c", base)
    probe = [[float(x) for x in r.embedding]
             for r in embeddings.limit(1).collect()]
    vs.query("c", query_vecs=probe, k=3, mode="graph")  # build graph index
    vs.query("c", query_vecs=probe, k=3, mode="ivfbq", shortlist=20)  # ivf
    vs._CODES_AUTO_COMPACT_FILES = 2  # fast-forward the debt threshold

    def tree(path):
        out = {}
        for dp, _dn, fn in os.walk(path):
            for f in fn:
                if f.endswith(".parquet"):
                    out.setdefault(os.path.relpath(dp, path), set()).add(f)
        return out

    gpath = vs._graph_path("c")
    corpus = os.path.join(vs._ivf_path("c"), "corpus")
    shards_before = tree(gpath)
    cells_before = tree(corpus)

    for lo in (60, 65, 70):
        batch = embeddings.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 5)
        ).select(F.col("vec_id").cast("string").alias("id"), "embedding")
        vs.add("c", batch, defer_maintenance=True)

    # never stalled: every pre-existing shard file is untouched (a
    # rebuild would replace them) and every pre-existing cell file is
    # still present (a rewrite would replace them) — growth is strictly
    # appended files
    shards_after = tree(gpath)
    for d, files in shards_before.items():
        if os.path.basename(d).startswith("shard="):
            assert shards_after.get(d) == files, f"shard {d} was rebuilt"
    cells_after = tree(corpus)
    for d, files in cells_before.items():
        assert files <= cells_after.get(d, set()), f"cell {d} was rewritten"
    assert sum(map(len, cells_after.values())) > sum(
        map(len, cells_before.values())
    )

    due = vs.maintenance_due("c")
    assert {"mtlsh", "codes", "graph", "ivf"} <= set(due)
    assert due["graph"]["pending_files"] > 0 and due["graph"]["due"]
    assert due["ivf"]["corpus"]["due"] and due["ivf"]["bqcodes"]["due"]
    assert due["due"]

    # serves stay complete while deferred: querying AT a deferred row's
    # vector returns that row — graph via the pending-buffer merge,
    # IVF-BQ via the appended cell files at a structurally exact budget
    nv = [[
        float(x)
        for x in embeddings.filter(F.col("vec_id") == 72).first().embedding
    ]]
    assert vs.query(
        "c", query_vecs=nv, k=1, mode="graph"
    ).first().item_id == "72"
    got = vs.query(
        "c", query_vecs=nv, k=1, mode="ivfbq", n_probe=1024, shortlist=10000
    )
    assert got.first().item_id == "72"

    # one optimize() clears every surface...
    vs.optimize("c")
    due2 = vs.maintenance_due("c")
    assert not due2["due"]
    assert due2["graph"]["pending_files"] == 0
    assert due2["ivf"]["corpus"]["files"] == due2["ivf"]["corpus"]["cells"]
    # ...and the folded/compacted indexes still serve the new rows
    assert vs.query(
        "c", query_vecs=nv, k=1, mode="graph"
    ).first().item_id == "72"
    assert vs.query(
        "c", query_vecs=nv, k=1, mode="ivfbq", n_probe=1024, shortlist=10000
    ).first().item_id == "72"
