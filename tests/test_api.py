"""gensim-shaped facade (gensim_spark.api): surface parity against the
pure-python oracles — a reference call site ports line-for-line."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import docs_df
from tests.oracle import PyBM25, PyDictionary, py_topk


def test_dictionary_surface(spark, common_texts, tmp_path):
    from gensim_spark import api

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    odict = PyDictionary(common_texts)

    assert len(dct) == len(odict.token2id)
    assert dct.token2id == odict.token2id
    assert dct.dfs == odict.dfs
    assert dct.cfs == odict.cfs
    assert dct.num_docs == odict.num_docs

    bow = {(r["doc_id"], r["term_id"]): r["tf"]
           for r in dct.doc2bow(docs).collect()}
    for i, doc in enumerate(common_texts):
        for t, f in odict.doc2bow(doc):
            assert bow[(i, t)] == f

    # maintenance chain returns new dictionaries
    top = dct.most_common(3)
    ranked = sorted(odict.cfs.items(), key=lambda p: (-p[1], p[0]))[:3]
    id2tok = {v: k for k, v in odict.token2id.items()}
    assert top == [(id2tok[t], c) for t, c in ranked]

    smaller = dct.filter_n_most_frequent(2)
    assert len(smaller) == len(dct) - 2

    patched = dct.patch_with_special_tokens({"<pad>": 0})
    p2id = patched.token2id
    assert p2id["<pad>"] == 0
    assert len(patched) == len(dct) + 1

    # save/load round trip
    path = str(tmp_path / "dict.tsv")
    dct.save_as_text(path)
    loaded = api.Dictionary.load_from_text(spark, path)
    assert loaded.token2id == dct.token2id
    assert loaded.num_docs == dct.num_docs


def test_bm25_and_similarity_surface(spark, common_texts):
    from gensim_spark import api

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    bow = dct.doc2bow(docs)
    model = api.OkapiBM25Model(dictionary=dct)
    weighted = model[bow]

    odict = PyDictionary(common_texts)
    omodel = PyBM25(dictionary=odict)
    oc = [omodel.transform(odict.doc2bow(d)) for d in common_texts]
    got = {(r["doc_id"], r["term_id"]): r["weight"]
           for r in weighted.collect()}
    for i, vec in enumerate(oc):
        for t, w in vec:
            assert got[(i, t)] == pytest.approx(w, rel=1e-12)

    index = api.SparseMatrixSimilarity(weighted, num_best=5)
    res = index.query_text(spark, dct, {0: "graph user"})
    want = py_topk(oc, [odict.token2id["graph"], odict.token2id["user"]], 5)
    by_rank = [r["doc_id"] for r in
               sorted(res.collect(), key=lambda r: r["rank"])]
    assert by_rank == [d for d, _ in want]

    # the corpus-fit path carries the avgdl quirk
    model2 = api.LuceneBM25Model(corpus=bow)
    assert model2.stats.avgdl == pytest.approx(
        odict.num_nnz / odict.num_docs)


def test_sharded_similarity_surface(spark, common_texts, tmp_path):
    from gensim_spark import api

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    weighted = api.OkapiBM25Model(dictionary=dct)[dct.doc2bow(docs)]
    sim = api.Similarity(str(tmp_path / "shards"), weighted, num_best=5,
                         shardsize=4)
    odict = PyDictionary(common_texts)
    omodel = PyBM25(dictionary=odict)
    oc = [omodel.transform(odict.doc2bow(d)) for d in common_texts]
    q = {0: {odict.token2id["graph"]: 1.0, odict.token2id["user"]: 1.0}}
    got = [r["doc_id"] for r in
           sorted(sim[q].collect(), key=lambda r: r["rank"])]
    want = py_topk(oc, list(q[0]), 5)
    assert got == [d for d, _ in want]


def test_phrases_surface(spark):
    from gensim_spark import api

    sentences = [["new", "york", "city"], ["new", "york", "times"],
                 ["visit", "new", "york"]] * 2
    df = docs_df(spark, sentences)
    # new_york scores exactly 1.0 here and detection is strictly
    # score > threshold (phrases.py:686-688) — threshold must sit below it
    ph = api.Phrases(df, min_count=2, threshold=0.5)
    exported = {r["phrase"] for r in ph.export_phrases().collect()}
    assert "new_york" in exported
    frozen = ph.freeze()
    assert "new_york" in frozen.phrasegrams
    merged = {r["doc_id"]: r["tokens"] for r in frozen[df].collect()}
    assert merged[0][0] == "new_york"
    # Phraser alias exists (phrases.py:793)
    assert api.Phraser is api.FrozenPhrases


def test_tfidf_facade_matches_operator(spark, common_texts):
    from gensim_spark import api
    from gensim_spark.operators import tfidf as TF

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    bow = dct.doc2bow(docs)
    got = {(r["doc_id"], r["term_id"]): r["weight"]
           for r in api.TfidfModel(dct, smartirs="nfc")[bow].collect()}
    want = {(r["doc_id"], r["term_id"]): r["weight"]
            for r in TF.tfidf_postings(
                bow, dct.df.select("term_id", "df"),
                dct.num_docs, smartirs="nfc").collect()}
    assert got == want


def test_num_best_sweep_reference_golden(spark, common_texts):
    """gensim test_similarities.py:60-99 (test_full/test_num_best): cosine
    sims of CORPUS[0] against the l2-normalized common corpus are exactly
    {0: 0.99999994, 2: 0.28867513, 3: 0.23570226, 1: 0.23570226}; the
    num_best sweep [None, 0, 1, 9, 1000] clips to the top |score| rows,
    order among equal scores compared order-insensitively (the reference
    compares via sparse2full for the same reason)."""
    import math

    from pyspark.sql import functions as F

    from gensim_spark import api
    from gensim_spark.operators import tfidf as TF
    from gensim_spark.operators import topk as T

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    bow = dct.doc2bow(docs).select(
        "doc_id", "term_id", F.col("tf").cast("double").alias("weight"))
    weighted = TF.normalize_postings(bow, "l2").cache()

    t2i = dct.token2id
    qw = 1.0 / math.sqrt(3.0)  # normalized CORPUS[0]: 3 terms, tf 1 each
    qids = [t2i[t] for t in ("human", "interface", "computer")]
    qdf = T.query_terms_df(spark, {0: qids},
                           weights={0: {t: qw for t in qids}})

    expected = {0: 0.99999994, 2: 0.28867513, 3: 0.23570226, 1: 0.23570226}
    ranked_scores = sorted(expected.values(), reverse=True)

    for num_best in [None, 0, 1, 9, 1000]:
        index = api.SparseMatrixSimilarity(weighted, num_best=num_best)
        rows = sorted(index[qdf].collect(), key=lambda r: r["rank"])
        n = len(expected) if num_best is None else min(num_best, len(expected))
        assert len(rows) == n, f"num_best={num_best}"
        # scores match the golden ranking; doc sets match per score tier
        got_scores = [r["score"] for r in rows]
        assert got_scores == pytest.approx(ranked_scores[:n], abs=1e-6)
        for r in rows:
            assert r["score"] == pytest.approx(expected[r["doc_id"]], abs=1e-6)
    weighted.unpersist()


def test_dictionary_build_and_filter_reference_goldens(spark, common_texts):
    """gensim test_corpora_dictionary.py:95-127 (test_build/test_merge/
    test_filter): df multiset {2:8, 3:4} over 12 terms; merge of the two
    half-corpus dictionaries covers the full key set; filter_extremes
    (no_below=2, no_above=1.0, keep_n=4) keeps dfs {3,3,3,3} / cfs {4,3,3,3}."""
    from gensim_spark import api

    d = api.Dictionary(docs_df(spark, common_texts))
    assert sorted(d.dfs.keys()) == list(range(12))
    assert sorted(d.dfs.values()) == [2] * 8 + [3] * 4
    assert sorted(d.token2id.keys()) == sorted([
        "computer", "eps", "graph", "human", "interface",
        "minors", "response", "survey", "system", "time", "trees", "user"])
    assert sorted(d.token2id.values()) == list(range(12))

    f = api.Dictionary(docs_df(spark, common_texts[:3]))
    g = api.Dictionary(docs_df(spark, common_texts[3:]))
    merged = f.merge_with(g)
    assert sorted(merged.token2id.keys()) == sorted(d.token2id.keys())

    kept = d.filter_extremes(no_below=2, no_above=1.0, keep_n=4)
    assert sorted(kept.dfs.values()) == [3, 3, 3, 3]
    assert sorted(kept.cfs.values()) == [3, 3, 3, 4]
    assert sorted(kept.token2id.values()) == list(range(4))


def test_dictionary_driver_collect_guard(spark, common_texts):
    """The dict-materializing compat properties refuse to collect a vocab
    above MAX_DRIVER_VOCAB and point at the distributed .df surface."""
    from gensim_spark import api

    dct = api.Dictionary(docs_df(spark, common_texts))
    dct.MAX_DRIVER_VOCAB = 5  # instance override simulates a huge vocab
    for prop in ("token2id", "dfs", "cfs"):
        with pytest.raises(ValueError, match=r"\.df"):
            getattr(dct, prop)
    # raising the limit restores the compat surface
    dct.MAX_DRIVER_VOCAB = 10**9
    assert dct.token2id["computer"] >= 0


def test_similarity_add_documents(spark, common_texts, tmp_path):
    """Snapshot-store add_documents: new docs enter fresh shards as one
    atomic snapshot; queries over the grown index equal a one-shot build
    of the full corpus; mid-shard ids are rejected; a rebuild into the
    same prefix replaces the store."""
    from pyspark.sql import functions as F

    from gensim_spark import api

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    weighted = api.OkapiBM25Model(dictionary=dct)[dct.doc2bow(docs)]
    first = weighted.filter("doc_id < 4")
    rest = weighted.filter("doc_id >= 4")

    sim = api.Similarity(str(tmp_path / "g"), first, num_best=5,
                         shardsize=4)
    # doc 4 starts shard 1 (shardsize 4) — exactly the boundary
    sim.add_documents(rest)
    token2id = {r["token"]: r["term_id"] for r in dct.df.collect()}
    q = {0: {token2id["graph"]: 1.0, token2id["user"]: 1.0}}

    def answer(s):
        return [(r["doc_id"], r["score"]) for r in
                sorted(s[q].collect(), key=lambda r: r["rank"])]

    got = answer(sim)
    one_shot = api.Similarity(str(tmp_path / "full"), weighted, num_best=5,
                              shardsize=4)
    assert got == answer(one_shot)

    # violating the shard boundary is an error, not silent data loss
    with pytest.raises(ValueError, match="shard boundary"):
        sim.add_documents(weighted.filter("doc_id = 2"))
    # a rebuild into an existing prefix replaces the store: it answers
    # exactly like a build of the new corpus into a fresh prefix
    rebuilt = api.Similarity(str(tmp_path / "full"), first, num_best=5,
                             shardsize=4)
    fresh = api.Similarity(str(tmp_path / "first"), first, num_best=5,
                           shardsize=4)
    assert answer(rebuilt) == answer(fresh) != got
