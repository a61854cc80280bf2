"""SMART-IRS variants, pivoted norm, NormModel, phrases scorers, and the
remaining vocab maintenance ops — formula-oracle tests."""

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import docs_df
from tests.oracle import PyDictionary
from tests.refload import requires_reference


def _postings_and_dfs(spark, texts):
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import vocab as V

    df = docs_df(spark, texts)
    vocab = V.build_vocab(df)
    postings = B.doc2bow_postings(df, vocab)
    return postings, vocab.select("term_id", "df"), PyDictionary(texts)


def _py_tfidf(odict, texts, smartirs, pivot=None, slope=0.25, eps=1e-12):
    """Independent SMART implementation from tfidfmodel.py:153-208,495-543."""
    w_tf, w_df, w_n = smartirs
    if w_tf == "t":
        w_tf = "n"
    n = odict.num_docs
    out = {}
    for i, doc in enumerate(texts):
        bow = odict.doc2bow(doc)
        tfs = {t: f for t, f in bow}
        max_tf = max(tfs.values())
        mean_tf = sum(tfs.values()) / len(tfs)
        vec = {}
        for t, f in bow:
            if w_tf == "n":
                local = float(f)
            elif w_tf == "l":
                local = 1 + math.log2(f)
            elif w_tf == "d":
                local = 1 + math.log2(1 + math.log2(f))
            elif w_tf == "a":
                local = 0.5 + 0.5 * f / max_tf
            elif w_tf == "L":
                local = (1 + math.log2(f)) / (1 + math.log2(mean_tf))
            elif w_tf == "b":
                local = 1.0 if f else 0.0
            df = odict.dfs[t]
            if w_df in ("n", "x"):
                glob = 1.0
            elif w_df == "f":
                glob = math.log2(n / df)
            elif w_df == "t":
                glob = math.log2((n + 1.0) / df)
            elif w_df == "p":
                glob = max(0.0, math.log2((n - df) / df))
            if abs(glob) > eps:
                vec[t] = local * glob
        if pivot is None:
            if w_n == "c":
                norm = math.sqrt(sum(v * v for v in vec.values()))
                if norm > 0:
                    vec = {t: v / norm for t, v in vec.items()}
            # 'n'/'u'/'b' without pivot: unnormalized (tfidfmodel.py:512)
        else:
            if w_n == "u":
                old_norm = float(sum(1 for v in vec.values() if v != 0))
            elif w_n == "b":
                id2tok = {v: k for k, v in odict.token2id.items()}
                old_norm = sum(f * (len(id2tok[t]) + 1.0) for t, f in bow)
            else:
                old_norm = math.sqrt(sum(v * v for v in vec.values()))
            pn = (1 - slope) * pivot + slope * old_norm
            vec = {t: v / pn for t, v in vec.items()}
        for t, v in vec.items():
            if abs(v) > eps:  # second eps drop, tfidfmodel.py:536-541
                out[(i, t)] = v
    return out


@pytest.mark.parametrize("smartirs", ["nfc", "bnn", "lfc", "dtn", "afc",
                                      "Lpc", "ntc"])
def test_smartirs_variants(spark, common_texts, smartirs):
    from gensim_spark.operators import tfidf as TF

    postings, dfs, odict = _postings_and_dfs(spark, common_texts)
    got = {
        (r["doc_id"], r["term_id"]): r["weight"]
        for r in TF.tfidf_postings(postings, dfs, odict.num_docs,
                                   smartirs=smartirs).collect()
    }
    want = _py_tfidf(odict, common_texts, smartirs)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), (smartirs, k)


def _term_lens_df(spark, odict):
    return spark.createDataFrame(
        [(tid, len(tok)) for tok, tid in odict.token2id.items()],
        "term_id long, term_len int",
    )


@pytest.mark.parametrize("smartirs", ["nfu", "nfb", "nfc"])
def test_pivoted_normalization(spark, common_texts, smartirs):
    """Pivoted norm per scheme: 'u' unique norm, 'b' char-length norm, 'c' L2
    (tfidfmodel.py:512-543), slope default 0.25."""
    from gensim_spark.operators import tfidf as TF

    postings, dfs, odict = _postings_and_dfs(spark, common_texts)
    lens = _term_lens_df(spark, odict)
    if smartirs[2] == "b":
        cfs = spark.createDataFrame(
            sorted(odict.cfs.items()), "term_id long, cf long")
        pivot = TF.auto_pivot_b(cfs, lens, odict.num_docs)
    else:
        pivot = TF.auto_pivot_u(odict.num_nnz, odict.num_docs)
    got = {
        (r["doc_id"], r["term_id"]): r["weight"]
        for r in TF.tfidf_postings(postings, dfs, odict.num_docs,
                                   smartirs=smartirs, pivot=pivot,
                                   term_lens=lens).collect()
    }
    want = _py_tfidf(odict, common_texts, smartirs, pivot=pivot)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_unpivoted_ub_is_unnormalized_and_eps_drop(spark, common_texts):
    """'u'/'b' with pivot=None fall back to no normalization
    (tfidfmodel.py:512), and near-zero weights are dropped post-norm."""
    from gensim_spark.operators import tfidf as TF

    postings, dfs, odict = _postings_and_dfs(spark, common_texts)
    got_u = {
        (r["doc_id"], r["term_id"]): r["weight"]
        for r in TF.tfidf_postings(postings, dfs, odict.num_docs,
                                   smartirs="nfu").collect()
    }
    want = _py_tfidf(odict, common_texts, "nfn")
    assert set(got_u) == set(want)
    for k in want:
        assert got_u[k] == pytest.approx(want[k], rel=1e-12)


@pytest.mark.parametrize("norm", ["l1", "l2", "unique"])
def test_norm_model(spark, common_texts, norm):
    from gensim_spark.operators import tfidf as TF

    postings, _, odict = _postings_and_dfs(spark, common_texts)
    weighted = postings.select(
        "doc_id", "term_id", F.col("tf").cast("double").alias("weight")
    )
    got = {
        (r["doc_id"], r["term_id"]): r["weight"]
        for r in TF.normalize_postings(weighted, norm=norm).collect()
    }
    for i, doc in enumerate(common_texts):
        bow = odict.doc2bow(doc)
        if norm == "l1":
            length = float(sum(abs(v) for _, v in bow))
        elif norm == "l2":
            length = math.sqrt(sum(v * v for _, v in bow))
        else:
            length = float(len(bow))
        for t, v in bow:
            assert got[(i, t)] == pytest.approx(v / length, rel=1e-12)


def test_phrases_scorers(spark):
    from gensim_spark.operators import phrases as PH

    texts = [["new", "york", "city"], ["new", "york", "times"],
             ["york", "city", "hall"], ["new", "york"]] * 3
    df = docs_df(spark, texts)
    uni = {}
    bi = {}
    for doc in texts:
        for w in doc:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(doc, doc[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    # len(vocab) in the reference includes both unigram and bigram keys
    # (phrases.py:685-687)
    vocab_len = len(uni) + len(bi)
    corpus_words = sum(uni.values())
    min_count = 2
    got = {
        (r["word_a"], r["word_b"]): (r["bigram_count"], r["score"])
        for r in PH.scored_bigrams(df, min_count=min_count).collect()
    }
    for (a, b), cnt in bi.items():
        if cnt < min_count:
            assert (a, b) not in got
            continue
        want = (cnt - min_count) * vocab_len / (uni[a] * uni[b])
        assert got[(a, b)][1] == pytest.approx(want, rel=1e-12)
    npmi = {
        (r["word_a"], r["word_b"]): r["score"]
        for r in PH.scored_bigrams(df, min_count=min_count,
                                   scoring="npmi").collect()
    }
    for (a, b), cnt in bi.items():
        if cnt < min_count:
            continue
        pa, pb, pab = (uni[a] / corpus_words, uni[b] / corpus_words,
                       cnt / corpus_words)
        want = math.log(pab / (pa * pb)) / -math.log(pab)
        assert npmi[(a, b)] == pytest.approx(want, rel=1e-12)


# gensim/test/test_phrases.py:497-543 CommonTermsPhrasesData
_CONN_SENTENCES = [
    ["human", "interface", "with", "computer"],
    ["survey", "of", "user", "computer", "system", "lack", "of", "interest"],
    ["eps", "user", "interface", "system"],
    ["system", "and", "human", "system", "eps"],
    ["user", "lack", "of", "interest"],
    ["trees"],
    ["graph", "of", "trees"],
    ["data", "and", "graph", "of", "trees"],
    ["data", "and", "graph", "survey"],
    ["data", "and", "graph", "survey", "for", "human", "interface"],
]
_CONN_WORDS = frozenset({"of", "and", "for"})


def test_find_phrases_connector_words(spark):
    """Golden from test_phrases.py:472-483 test_find_phrases: the greedy
    corpus scan suppresses 'graph survey' ('data and graph' eats 'graph')."""
    from gensim_spark.operators import phrases as PH

    df = docs_df(spark, _CONN_SENTENCES)
    got = {
        r["phrase"]
        for r in PH.find_phrases(df, threshold=1.0, min_count=1,
                                 connector_words=_CONN_WORDS,
                                 delimiter=" ").collect()
    }
    assert got == {"human interface", "graph of trees", "data and graph",
                   "lack of interest"}


def test_export_phrases_no_connectors_golden(spark):
    """Golden from test_phrases.py:485-496 test_export_phrases (no
    connector words → plain adjacent bigrams)."""
    from gensim_spark.operators import phrases as PH

    df = docs_df(spark, _CONN_SENTENCES)
    got = {
        r["phrase"]
        for r in PH.export_phrases(df, threshold=1.0, min_count=1,
                                   delimiter=" ").collect()
    }
    assert got == {"and graph", "data and", "graph of", "graph survey",
                   "human interface", "lack of", "of interest", "of trees"}


def test_connector_scoring_default_and_npmi(spark):
    """Scores replicate _learn_vocab counts + original/npmi scorers
    (test_phrases.py:509-543)."""
    from gensim_spark.operators import phrases as PH

    # pure-python _learn_vocab replica (phrases.py:589-600)
    vocab = {}
    total_words = 0
    for sent in _CONN_SENTENCES:
        start, between = None, []
        for w in sent:
            if w not in _CONN_WORDS:
                vocab[w] = vocab.get(w, 0) + 1
                if start is not None:
                    key = "_".join([start] + between + [w])
                    vocab[key] = vocab.get(key, 0) + 1
                start, between = w, []
            elif start is not None:
                between.append(w)
            total_words += 1
    df = docs_df(spark, _CONN_SENTENCES)
    got = {
        r["phrase"]: r["score"]
        for r in PH.scored_bigrams(df, min_count=1,
                                   connector_words=_CONN_WORDS).collect()
    }
    lv = float(len(vocab))
    for phrase in ("data_and_graph", "human_interface"):
        parts = phrase.split("_")
        a, b = parts[0], parts[-1]
        want = (vocab[phrase] - 1) / vocab[a] / vocab[b] * lv
        assert got[phrase] == pytest.approx(want, rel=1e-12)
    npmi = {
        r["phrase"]: r["score"]
        for r in PH.scored_bigrams(df, min_count=1, scoring="npmi",
                                   connector_words=_CONN_WORDS).collect()
    }
    # goldens from test_phrases.py:540-543 (set compare, as in the reference)
    assert {round(npmi["data_and_graph"], 3),
            round(npmi["human_interface"], 3)} == {0.74, 0.894}


def test_apply_phrases_connector_words(spark):
    """analyze_sentence goldens (test_phrases.py:62-91)."""
    from gensim_spark.operators import phrases as PH

    conn = frozenset({"a", "the", "with", "of"})
    phrases = {"simple_sentence", "sentence_many", "many_possible",
               "possible_bigrams", "sentence_with_many",
               "many_of_the_possible"}
    cases = [
        (["a", "simple", "sentence", "many", "the", "possible", "bigrams"],
         ["a", "simple_sentence", "many", "the", "possible_bigrams"]),
        (["sentence", "with", "many", "possible", "bigrams"],
         ["sentence_with_many", "possible_bigrams"]),
        (["a", "simple", "sentence", "with", "many", "of", "the",
          "possible", "bigrams", "with"],
         ["a", "simple_sentence", "with", "many_of_the_possible",
          "bigrams", "with"]),
    ]
    df = docs_df(spark, [c[0] for c in cases])
    out = {r["doc_id"]: r["tokens"]
           for r in PH.apply_phrases(df, phrases,
                                     connector_words=conn).collect()}
    for i, (_, want) in enumerate(cases):
        assert out[i] == want, i
    # no phrases → sentence passes through (test_phrases.py:35-41)
    plain = docs_df(spark, [["a", "simple", "sentence", "with", "no",
                             "bigram", "but", "common", "terms"]])
    got = PH.apply_phrases(plain, set(), connector_words=conn).collect()
    assert got[0]["tokens"] == ["a", "simple", "sentence", "with", "no",
                                "bigram", "but", "common", "terms"]


def test_filter_n_most_frequent(spark, common_texts):
    from gensim_spark.operators import vocab as V

    df = docs_df(spark, common_texts)
    vocab = V.build_vocab(df)
    odict = PyDictionary(common_texts)
    out = V.filter_n_most_frequent(vocab, 3)
    # reference: drop top-3 by (df desc, id asc), compactify by old-id order
    ranked = sorted(odict.dfs.items(), key=lambda p: (-p[1], p[0]))
    dropped = {t for t, _ in ranked[:3]}
    kept_old = sorted(t for t in odict.dfs if t not in dropped)
    remap = {old: new for new, old in enumerate(kept_old)}
    id2tok = {v: k for k, v in odict.token2id.items()}
    want = {id2tok[old]: new for old, new in remap.items()}
    got = {r["token"]: r["term_id"] for r in out.collect()}
    assert got == want


def test_vocab_transform(spark, common_texts):
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import tfidf as TF
    from gensim_spark.operators import vocab as V

    df = docs_df(spark, common_texts)
    vocab = V.build_vocab(df)
    postings = B.doc2bow_postings(df, vocab)
    id_map = spark.createDataFrame(
        [(0, 100), (1, 200)], "old_id long, new_id long"
    )
    out = TF.vocab_transform(postings, id_map)
    ids = {r["term_id"] for r in out.select("term_id").distinct().collect()}
    assert ids <= {100, 200}
    n_in = postings.filter(F.col("term_id").isin([0, 1])).count()
    assert out.count() == n_in


def _load_reference_tfidf():
    """Live oracle: the reference's own tfidfmodel.py (tests/refload.py)."""
    from tests.refload import load_reference_module

    return load_reference_module("models/tfidfmodel.py", "ref_tfidfmodel")


@requires_reference("models/tfidfmodel.py")
@pytest.mark.parametrize("smartirs,pivot", [
    ("nfc", None), ("lfc", None), ("bnn", None), ("dtc", None),
    ("Ltc", None), ("npc", None), ("nfu", 10.0), ("nfn", None),
])
def test_live_reference_tfidf_parity(spark, common_texts, smartirs, pivot):
    """LIVE-reference SMART-IRS parity: the reference TfidfModel fit on the
    same bows under the same ids; every surviving (doc, term) weight equal
    to 1e-12, and the same positions dropped."""
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import tfidf as TF
    from gensim_spark.operators import vocab as V

    ref = _load_reference_tfidf()
    docs = docs_df(spark, common_texts)
    vocab = V.build_vocab(docs)
    postings = B.doc2bow_postings(docs, vocab).cache()
    bows = {}
    for r in postings.collect():
        bows.setdefault(r["doc_id"], []).append(
            (int(r["term_id"]), int(r["tf"])))
    corpus = [sorted(bows[d]) for d in sorted(bows)]

    model = ref.TfidfModel(corpus=corpus, smartirs=smartirs, pivot=pivot)
    want = {}
    for d, bow_d in zip(sorted(bows), corpus):
        for t, w in model[bow_d]:
            want[(d, t)] = w

    dfs = vocab.select("term_id", "df")
    got = {(r["doc_id"], r["term_id"]): r["weight"]
           for r in TF.tfidf_postings(postings, dfs, len(corpus),
                                      smartirs=smartirs,
                                      pivot=pivot).collect()}
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-12), key


@requires_reference("models/tfidfmodel.py")
def test_live_reference_smartirs_full_grid(spark, common_texts):
    """LIVE-reference parity over the ENTIRE SMART-IRS grid — all 96
    b/n/a/l/d/L × n/f/t/p × n/c/u/b combinations against the reference's
    own tfidfmodel.py on the same bows (VERDICT r4 #7: the dispatch
    covered the grid but only 7 combos were formula-tested). One corpus,
    one postings frame, 96 fitted models: every surviving (doc, term)
    weight equal to 1e-12 and the same eps-dropped positions.

    Pivot handling mirrors the reference's constructor resolution
    (tfidfmodel.py:391-406): 'n'/'c' stay unpivoted; 'u' auto-derives
    pivot = num_nnz/num_docs from the corpus (we read the resolved
    ``model.pivot`` back); 'b' needs the dictionary's term char lengths —
    the reference crashes on corpus-only init there, so both sides get
    the dictionary-derived char pivot Σ cf·(len+1)/num_docs explicitly
    plus the term_lens map (apply-time old_norm, tfidfmodel.py:523)."""
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import tfidf as TF
    from gensim_spark.operators import vocab as V

    ref = _load_reference_tfidf()
    docs = docs_df(spark, common_texts)
    vocab = V.build_vocab(docs).cache()
    postings = B.doc2bow_postings(docs, vocab).cache()
    bows = {}
    for r in postings.collect():
        bows.setdefault(r["doc_id"], []).append(
            (int(r["term_id"]), int(r["tf"])))
    corpus = [sorted(bows[d]) for d in sorted(bows)]
    num_docs = len(corpus)

    dfs = vocab.select("term_id", "df")
    lens_rows = [(int(r["term_id"]), len(r["token"]))
                 for r in vocab.collect()]
    term_lens = spark.createDataFrame(lens_rows,
                                      "term_id long, term_len int")
    lens_map = dict(lens_rows)
    cfs = {}
    for bow in corpus:
        for t, f in bow:
            cfs[t] = cfs.get(t, 0) + f
    char_pivot = sum(cfs[t] * (lens_map[t] + 1.0) for t in cfs) / num_docs

    checked = 0
    for w_tf in "bnaldL":
        for w_df in "nftp":
            for w_n in "ncub":
                s = w_tf + w_df + w_n
                if w_n == "b":
                    model = ref.TfidfModel(corpus=corpus, smartirs=s,
                                           pivot=char_pivot)
                    model.term_lens = lens_map
                    pivot, lens_arg = char_pivot, term_lens
                else:
                    model = ref.TfidfModel(corpus=corpus, smartirs=s)
                    pivot, lens_arg = model.pivot, None
                want = {(d, t): w
                        for d, bow_d in zip(sorted(bows), corpus)
                        for t, w in model[bow_d]}
                got = {(r["doc_id"], r["term_id"]): r["weight"]
                       for r in TF.tfidf_postings(
                           postings, dfs, num_docs, smartirs=s,
                           pivot=pivot, term_lens=lens_arg).collect()}
                assert set(got) == set(want), s
                for key in want:
                    assert got[key] == pytest.approx(want[key],
                                                     abs=1e-12), (s, key)
                checked += 1
    assert checked == 96


@requires_reference("models/logentropy_model.py")
@pytest.mark.parametrize("normalize", [True, False])
def test_live_reference_logentropy_parity(spark, common_texts, normalize):
    """LIVE LogEntropyModel parity (logentropy_model.py run standalone)."""
    from tests.refload import load_reference_module

    from gensim_spark.operators import bow as B
    from gensim_spark.operators import tfidf as TF
    from gensim_spark.operators import vocab as V

    ref = load_reference_module("models/logentropy_model.py", "ref_logent")
    docs = docs_df(spark, common_texts)
    vocab = V.build_vocab(docs)
    postings = B.doc2bow_postings(docs, vocab).cache()
    bows = {}
    for r in postings.collect():
        bows.setdefault(r["doc_id"], []).append(
            (int(r["term_id"]), int(r["tf"])))
    corpus = [sorted(bows[d]) for d in sorted(bows)]

    model = ref.LogEntropyModel(corpus, normalize=normalize)
    want = {(d, t): w for d, bow_d in zip(sorted(bows), corpus)
            for t, w in model[bow_d]}
    got = {(r["doc_id"], r["term_id"]): r["weight"]
           for r in TF.log_entropy_postings(postings,
                                            normalize=normalize).collect()}
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-12), key


@requires_reference("models/normmodel.py")
@pytest.mark.parametrize("norm", ["l1", "l2", "unique"])
def test_live_reference_normmodel_parity(spark, common_texts, norm):
    """LIVE NormModel parity (normmodel.py run standalone) for all three
    norms over the raw tf postings."""
    from tests.refload import load_reference_module

    from gensim_spark.operators import bow as B
    from gensim_spark.operators import tfidf as TF
    from gensim_spark.operators import vocab as V

    ref = load_reference_module("models/normmodel.py", "ref_norm")
    docs = docs_df(spark, common_texts)
    vocab = V.build_vocab(docs)
    postings = B.doc2bow_postings(docs, vocab) \
        .select("doc_id", "term_id",
                F.col("tf").cast("double").alias("weight")).cache()
    bows = {}
    for r in postings.collect():
        bows.setdefault(r["doc_id"], []).append(
            (int(r["term_id"]), float(r["weight"])))
    corpus = [sorted(bows[d]) for d in sorted(bows)]

    model = ref.NormModel(norm=norm)
    want = {(d, t): w for d, bow_d in zip(sorted(bows), corpus)
            for t, w in model.normalize(bow_d)}
    got = {(r["doc_id"], r["term_id"]): r["weight"]
           for r in TF.normalize_postings(postings, norm=norm).collect()}
    assert set(got) == set(want)
    for key in want:
        assert got[key] == pytest.approx(want[key], abs=1e-12), key


@requires_reference("models/phrases.py")
@pytest.mark.parametrize("scoring,conn", [
    ("default", frozenset()),
    ("npmi", frozenset()),
    ("default", frozenset({"of", "the"})),
])
def test_live_reference_phrases_parity(spark, scoring, conn):
    """LIVE Phrases oracle (models/phrases.py run standalone):
    export_phrases scores and the frozen transform compared per sentence."""
    from tests.refload import load_reference_module

    from gensim_spark.operators import phrases as PH

    ref = load_reference_module("models/phrases.py", "ref_phrases")
    texts = [["new", "york", "city"], ["new", "york", "times"],
             ["york", "city", "hall"], ["new", "york"],
             ["bank", "of", "america"], ["bank", "of", "america"],
             ["bank", "of", "england"], ["the", "bank"]] * 3
    min_count, threshold = 2, (0.5 if scoring == "npmi" else 10.0)

    model = ref.Phrases(texts, min_count=min_count, threshold=threshold,
                        scoring=scoring, connector_words=conn)
    want = dict(model.export_phrases())

    df = docs_df(spark, texts)
    got = {r["phrase"]: r["score"]
           for r in PH.export_phrases(df, threshold=threshold,
                                      min_count=min_count, scoring=scoring,
                                      connector_words=conn).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k

    frozen = ref.FrozenPhrases(model)
    merged = {r["doc_id"]: list(r["tokens"])
              for r in PH.apply_phrases(df, set(got),
                                        connector_words=conn).collect()}
    for i, doc in enumerate(texts):
        assert merged[i] == frozen[doc], (i, doc)
