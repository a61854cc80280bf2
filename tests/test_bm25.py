"""M2: BM25 weighting vs oracle — all 3 variants, both fit paths.

Mirrors gensim/test/test_bm25model.py expectations (FIXTURES.md §3a): the
fixture's 'cat' term has df=N → negative Okapi idf → exercises the ε-clamp.
"""

import math

import pytest

from tests.conftest import docs_df
from tests.oracle import PyBM25, PyDictionary
from tests.refload import requires_reference


@pytest.fixture(scope="module")
def fixture(spark, bm25_docs):
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import vocab as V

    df = docs_df(spark, bm25_docs)
    vocab = V.build_vocab(df).cache()
    postings = B.doc2bow_postings(df, vocab).cache()
    oracle_dict = PyDictionary(bm25_docs)
    return df, vocab, postings, oracle_dict


def spark_weights(postings, stats):
    from gensim_spark.operators import bm25 as M

    return {
        (r["doc_id"], r["term_id"]): r["weight"]
        for r in M.weight_postings(postings, stats).collect()
    }


def oracle_weights(texts, model, odict):
    out = {}
    for i, doc in enumerate(texts):
        for t, w in model.transform(odict.doc2bow(doc)):
            out[(i, t)] = w
    return out


@pytest.mark.parametrize("variant", ["okapi", "lucene", "atire"])
def test_dictionary_fit_path(fixture, bm25_docs, variant):
    from gensim_spark.operators import bm25 as M

    _, vocab, postings, odict = fixture
    stats = M.fit_from_vocab(vocab, odict.num_docs, variant=variant)
    model = PyBM25(variant=variant, dictionary=odict)
    assert stats.avgdl == pytest.approx(model.avgdl)
    got, want = spark_weights(postings, stats), oracle_weights(bm25_docs, model, odict)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


@pytest.mark.parametrize("variant", ["okapi", "lucene", "atire"])
def test_corpus_fit_path(fixture, bm25_docs, variant):
    from gensim_spark.operators import bm25 as M

    _, _, postings, odict = fixture
    stats = M.fit_from_postings(postings, variant=variant)
    corpus = [odict.doc2bow(d) for d in bm25_docs]
    model = PyBM25(variant=variant, corpus=corpus)
    # corpus-path avgdl counts DISTINCT terms per doc (bm25model.py:69)
    assert stats.avgdl == pytest.approx(model.avgdl)
    got, want = spark_weights(postings, stats), oracle_weights(bm25_docs, model, odict)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_avgdl_paths_differ_on_repeated_tokens(spark, common_texts):
    """common_texts doc3 = [system, human, system, eps] → positions≠distinct,
    so the two fit paths disagree (SURVEY.md §7.0 item 1)."""
    from gensim_spark.operators import bm25 as M
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import vocab as V

    df = docs_df(spark, common_texts)
    vocab = V.build_vocab(df)
    postings = B.doc2bow_postings(df, vocab)
    odict = PyDictionary(common_texts)
    dict_stats = M.fit_from_vocab(vocab, odict.num_docs)
    corp_stats = M.fit_from_postings(postings)
    assert dict_stats.avgdl == pytest.approx(PyBM25(dictionary=odict).avgdl)
    corpus = [odict.doc2bow(d) for d in common_texts]
    assert corp_stats.avgdl == pytest.approx(PyBM25(corpus=corpus).avgdl)
    assert abs(dict_stats.avgdl - corp_stats.avgdl) > 1e-9


def test_okapi_epsilon_clamp_analytic(fixture, bm25_docs):
    """Recompute the fixture's idfs by hand (test_bm25model.py style)."""
    from gensim_spark.operators import bm25 as M

    _, vocab, _, odict = fixture
    n = odict.num_docs
    raw = {t: math.log(n - df + 0.5) - math.log(df + 0.5)
           for t, df in odict.dfs.items()}
    avg = sum(raw.values()) / len(raw)
    want = {t: (0.25 * avg if v < 0 else v) for t, v in raw.items()}
    cat_id = odict.token2id["cat"]
    assert raw[cat_id] < 0  # df == num_docs → negative idf → clamped
    stats = M.fit_from_vocab(vocab, n, variant="okapi")
    got = {r["term_id"]: r["idf"] for r in stats.idfs.collect()}
    for t in want:
        assert got[t] == pytest.approx(want[t], rel=1e-12)


def test_zero_idf_scores_zero(spark, fixture):
    """idfs.get(t) or 0.0 quirk (bm25model.py:130): Atire idf of df==N term is
    exactly ln(N)-ln(N)=0 → weight exactly 0."""
    from gensim_spark.operators import bm25 as M

    _, vocab, postings, odict = fixture
    stats = M.fit_from_postings(postings, variant="atire")
    cat_id = odict.token2id["cat"]
    w = {
        (r["doc_id"], r["term_id"]): r["weight"]
        for r in M.weight_postings(postings, stats).collect()
    }
    assert all(w[(d, t)] == 0.0 for (d, t) in w if t == cat_id)


def _load_reference_bm25():
    """Live oracle: the reference's own bm25model.py (tests/refload.py)."""
    from tests.refload import load_reference_module

    return load_reference_module("models/bm25model.py", "ref_bm25model")


@requires_reference("models/bm25model.py")
@pytest.mark.parametrize("variant", ["okapi", "lucene", "atire"])
def test_live_reference_weight_parity(spark, common_texts, variant):
    """North-rule evidence against the LIVE reference (not fixtures): fit
    the reference's corpus path and ours on the same bows under the same
    ids, compare every (doc, term) weight."""
    from gensim_spark.operators import bm25 as M
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import vocab as V

    ref = _load_reference_bm25()
    cls = {"okapi": ref.OkapiBM25Model, "lucene": ref.LuceneBM25Model,
           "atire": ref.AtireBM25Model}[variant]

    docs = docs_df(spark, common_texts)
    vocab = V.build_vocab(docs)
    postings = B.doc2bow_postings(docs, vocab).cache()
    bows = {}
    for r in postings.collect():
        bows.setdefault(r["doc_id"], []).append(
            (int(r["term_id"]), int(r["tf"])))
    corpus = [sorted(bows[d]) for d in sorted(bows)]

    model = cls(corpus=corpus)
    want = {}
    for d, bow_d in zip(sorted(bows), corpus):
        for t, w in model[bow_d]:
            want[(d, t)] = w

    stats = M.fit_from_postings(postings, variant=variant)
    got = {(r["doc_id"], r["term_id"]): r["weight"]
           for r in M.weight_postings(postings, stats).collect()}
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-12), key
