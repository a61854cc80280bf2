"""LDA (operators/lda.py) vs a driver-side numpy replica of the reference.

Three layers of checks:

1. the special functions against closed-form identities (ψ(1) = −γ,
   ψ′(1) = π²/6, recurrences, ln Γ at half-integers);
2. ``infer_doc`` against an *independent* transcription of the reference's
   per-document update (ldamodel.py:697-734) written inline here;
3. the distributed fit (corpus_bow → mapInPandas E-step → packed-long
   hash-agg → driver blend) against a sequential numpy replica of the
   reference's batch ``update`` flow (ldamodel.py:855-1083) run over the
   same per-document seeds — λ must agree to float tolerance, under any
   repartitioning of the input.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gensim_spark.functions import special as S
from gensim_spark.operators import lda as L
from tests.conftest import docs_df

K = 4


# ---------- 1. special functions ----------

def test_digamma_identities():
    eg = S.EULER_GAMMA
    assert S.digamma(1.0) == pytest.approx(-eg, abs=1e-10)
    assert S.digamma(0.5) == pytest.approx(-eg - 2 * np.log(2), abs=1e-10)
    x = np.array([0.07, 0.9, 2.5, 17.0, 400.0])
    assert S.digamma(x + 1) == pytest.approx(S.digamma(x) + 1 / x, abs=1e-10)


def test_digamma_nan_entry_leaves_others_exact():
    """One NaN must not skip the recurrence for the finite entries."""
    got = S.digamma(np.array([np.nan, 0.5, 3.0]))
    assert np.isnan(got[0])
    assert got[1] == S.digamma(0.5)
    assert got[2] == S.digamma(3.0)
    assert np.isnan(S.digamma(np.array([np.nan, np.nan]))).all()


def test_trigamma_identities():
    assert S.trigamma(1.0) == pytest.approx(np.pi ** 2 / 6, abs=1e-10)
    assert S.trigamma(0.5) == pytest.approx(np.pi ** 2 / 2, abs=1e-9)
    x = np.array([0.2, 1.3, 6.5, 90.0])
    assert S.trigamma(x + 1) == pytest.approx(S.trigamma(x) - 1 / x ** 2,
                                              abs=1e-10)


def test_gammaln_identities():
    assert S.gammaln(1.0) == pytest.approx(0.0, abs=1e-12)
    assert S.gammaln(2.0) == pytest.approx(0.0, abs=1e-12)
    assert S.gammaln(0.5) == pytest.approx(0.5 * np.log(np.pi), abs=1e-12)
    assert S.gammaln(5.0) == pytest.approx(np.log(24.0), abs=1e-10)
    x = np.array([0.03, 0.7, 3.3, 250.0])
    assert S.gammaln(x + 1) == pytest.approx(S.gammaln(x) + np.log(x),
                                             abs=1e-9)


def test_logsumexp_and_dirichlet_expectation():
    x = np.array([[1.0, 2.0, 3.0], [800.0, 801.0, 799.0]])
    want0 = np.log(np.exp(x[0]).sum())
    assert S.logsumexp(x)[0] == pytest.approx(want0, abs=1e-12)
    assert S.logsumexp(x)[1] == pytest.approx(
        801.0 + np.log(np.exp(-1.0) + 1 + np.exp(-2.0)), abs=1e-12)
    a = np.random.RandomState(3).gamma(100.0, 0.01, (5, 7))
    de = S.dirichlet_expectation(a)
    for r in range(5):
        assert de[r] == pytest.approx(
            S.digamma(a[r]) - S.digamma(a[r].sum()), abs=1e-12)


# ---------- 2. infer_doc vs an independent transcription ----------

def _inline_inference(ids, cts, gammad, exp_elogbeta, alpha, iterations, thr):
    """Literal transcription of ldamodel.py:697-734, independent of
    operators/lda.py internals."""
    eps = np.finfo(np.float64).eps
    Elogthetad = S.digamma(gammad) - S.digamma(np.sum(gammad))
    expElogthetad = np.exp(Elogthetad)
    expElogbetad = exp_elogbeta[:, ids]
    phinorm = np.dot(expElogthetad, expElogbetad) + eps
    for _ in range(iterations):
        lastgamma = gammad
        gammad = alpha + expElogthetad * np.dot(cts / phinorm, expElogbetad.T)
        Elogthetad = S.digamma(gammad) - S.digamma(np.sum(gammad))
        expElogthetad = np.exp(Elogthetad)
        phinorm = np.dot(expElogthetad, expElogbetad) + eps
        if np.mean(np.abs(gammad - lastgamma)) < thr:
            break
    return gammad, expElogthetad, phinorm


def test_infer_doc_matches_inline_transcription():
    rs = np.random.RandomState(11)
    V, iters, thr = 30, 50, 0.001
    eeb = np.exp(S.dirichlet_expectation(rs.gamma(100.0, 0.01, (K, V))))
    alpha = np.full(K, 1.0 / K)
    for trial in range(20):
        nnz = rs.randint(1, 9)
        ids = rs.choice(V, size=nnz, replace=False).astype(np.int64)
        cts = rs.randint(1, 5, size=nnz).astype(np.float64)
        g0 = rs.gamma(100.0, 0.01, K)
        got = L.infer_doc(ids, cts, g0.copy(), eeb, alpha, iters, thr)
        want = _inline_inference(ids, cts, g0.copy(), eeb, alpha, iters, thr)
        for a, b in zip(got, want):
            assert a == pytest.approx(b, rel=1e-12), f"trial {trial}"


# ---------- 3. distributed fit vs sequential replica ----------

def _ref_batch_lda(corpus, num_topics, num_terms, passes=1, seed=13,
                   decay=0.5, offset=1.0, iterations=50, thr=0.001,
                   chunksize=2000, optimize_alpha=False):
    """Sequential replica of the reference's batch ``update`` flow
    (ldamodel.py:855-1083 with update_every=0): per-pass full E-step then
    one blend M-step, same per-(doc, pass) seeds as the distributed code."""
    k, v = num_topics, num_terms
    alpha = np.full(k, 1.0 / k)
    eta = np.full(v, 1.0 / k)
    rs = np.random.RandomState(seed)
    sstats = rs.gamma(100.0, 0.01, (k, v))
    exp_eb = np.exp(S.dirichlet_expectation(sstats))
    numdocs = len(corpus)
    num_updates = 0
    for pass_ in range(passes):
        rho = pow(offset + pass_ + num_updates / chunksize, -decay)
        other = np.zeros((k, v))
        elogtheta_sum = np.zeros(k)
        for d, doc in enumerate(corpus):
            ids = np.array([t for t, _ in doc], dtype=np.int64)
            cts = np.array([c for _, c in doc], dtype=np.float64)
            g0 = L.init_gamma(seed, pass_, d, k)
            gammad, exp_th, phinorm = L.infer_doc(ids, cts, g0, exp_eb,
                                                  alpha, iterations, thr)
            other[:, ids] += np.outer(exp_th, cts / phinorm)
            elogtheta_sum += S.dirichlet_expectation(gammad)
        other *= exp_eb
        if optimize_alpha:
            alpha = L.update_dir_prior(alpha, numdocs,
                                       elogtheta_sum / numdocs, rho)
        sstats = (1.0 - rho) * sstats + rho * other   # numdocs == lencorpus
        exp_eb = np.exp(S.dirichlet_expectation(eta + sstats))
        if pass_ == 0:
            num_updates += numdocs                    # ldamodel.py:1081-1083
    return eta + sstats, alpha


def _bow_corpus(texts):
    """(corpus as list-of-(id, tf) in doc order, vocab size) — ids assigned
    first-come like the test Dictionary would, but any fixed mapping works
    since both sides share it."""
    token2id = {}
    corpus = []
    for toks in texts:
        counts = {}
        for t in toks:
            if t not in token2id:
                token2id[t] = len(token2id)
            counts[token2id[t]] = counts.get(token2id[t], 0) + 1
        corpus.append(sorted(counts.items()))
    return corpus, len(token2id)


@pytest.fixture(scope="module")
def lda_fixture(spark, common_texts):
    corpus, v = _bow_corpus(common_texts)
    rows = [(d, t, int(c)) for d, doc in enumerate(corpus) for t, c in doc]
    postings = spark.createDataFrame(rows, "doc_id long, term_id long, tf long")
    return corpus, v, postings


def test_lambda_matches_replica_one_pass(lda_fixture):
    corpus, v, postings = lda_fixture
    model = L.lda_fit(postings, num_topics=K, num_terms=v, passes=1,
                      random_seed=13)
    lam_ref, _ = _ref_batch_lda(corpus, K, v, passes=1, seed=13)
    assert model.get_lambda() == pytest.approx(lam_ref, rel=1e-9, abs=1e-9)


def test_lambda_matches_replica_multi_pass_and_partitioning(lda_fixture):
    corpus, v, postings = lda_fixture
    lam_ref, _ = _ref_batch_lda(corpus, K, v, passes=3, seed=7)
    for nparts in (1, 5):
        model = L.lda_fit(postings.repartition(nparts), num_topics=K,
                          num_terms=v, passes=3, random_seed=7)
        assert model.get_lambda() == pytest.approx(lam_ref, rel=1e-8,
                                                   abs=1e-8), nparts


def _ref_online_lda(corpus, num_topics, num_terms, passes=1, n_chunks=3,
                    seed=13, decay=0.5, offset=1.0, iterations=50, thr=0.001):
    """Sequential replica of the online (update_every=1) flow
    (ldamodel.py:936-1048) with the same doc_id % n_chunks mini-batching
    and per-(doc, update) seeds as lda_fit_online."""
    k, v = num_topics, num_terms
    alpha = np.full(k, 1.0 / k)
    eta = np.full(v, 1.0 / k)
    rs = np.random.RandomState(seed)
    sstats = rs.gamma(100.0, 0.01, (k, v))
    exp_eb = np.exp(S.dirichlet_expectation(sstats))
    lencorpus = len(corpus)
    chunksize = max(1, -(-lencorpus // n_chunks))
    numdocs = lencorpus
    num_updates = 0
    for pass_ in range(passes):
        for chunk_no in range(n_chunks):
            members = [d for d in range(lencorpus) if d % n_chunks == chunk_no]
            rho = pow(offset + pass_ + num_updates / chunksize, -decay)
            other = np.zeros((k, v))
            for d in members:
                ids = np.array([t for t, _ in corpus[d]], dtype=np.int64)
                cts = np.array([c for _, c in corpus[d]], dtype=np.float64)
                g0 = L.init_gamma(seed, pass_ * n_chunks + chunk_no, d, k)
                _, exp_th, phinorm = L.infer_doc(ids, cts, g0, exp_eb,
                                                 alpha, iterations, thr)
                other[:, ids] += np.outer(exp_th, cts / phinorm)
            other *= exp_eb
            # blend: self-side stretch 1, other stretched numdocs/len(chunk)
            scale = 1.0 if len(members) in (0, numdocs) else numdocs / len(members)
            sstats = (1.0 - rho) * sstats + rho * scale * other
            exp_eb = np.exp(S.dirichlet_expectation(eta + sstats))
            if pass_ == 0:
                num_updates += len(members)           # ldamodel.py:1081-1083
    return eta + sstats


def test_online_mode_matches_replica(lda_fixture):
    corpus, v, postings = lda_fixture
    lam_ref = _ref_online_lda(corpus, K, v, passes=2, n_chunks=3, seed=13)
    model = L.lda_fit_online(postings, num_topics=K, num_terms=v, passes=2,
                             update_chunks=3, random_seed=13)
    assert model.get_lambda() == pytest.approx(lam_ref, rel=1e-8, abs=1e-8)


def test_alpha_auto_matches_replica(lda_fixture):
    corpus, v, postings = lda_fixture
    model = L.lda_fit(postings, num_topics=K, num_terms=v, passes=2,
                      random_seed=13, alpha="auto")
    lam_ref, alpha_ref = _ref_batch_lda(corpus, K, v, passes=2, seed=13,
                                        optimize_alpha=True)
    assert model.alpha == pytest.approx(alpha_ref, rel=1e-8)
    assert model.get_lambda() == pytest.approx(lam_ref, rel=1e-8, abs=1e-8)


def test_asymmetric_alpha_prior():
    a, is_auto = L._init_prior("asymmetric", "alpha", 4, 10)
    want = 1.0 / (np.arange(4) + 2.0)
    want /= want.sum()
    assert not is_auto
    assert a == pytest.approx(want)
    assert L._init_prior("symmetric", "eta", 4, 10)[0] == pytest.approx(
        np.full(10, 0.25))


def test_doc_topics_theta_and_filter(lda_fixture, spark):
    corpus, v, postings = lda_fixture
    model = L.lda_fit(postings, num_topics=K, num_terms=v, passes=2,
                      random_seed=13)
    out = L.doc_topics(postings, model, minimum_probability=0.0).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["probability"])
    assert set(by_doc) == set(range(len(corpus)))
    for d, ps in by_doc.items():
        assert sum(ps) == pytest.approx(1.0, abs=1e-9)
    # replica θ for one doc through the same seed stream
    exp_eb = model.exp_elogbeta
    d = 3
    ids = np.array([t for t, _ in corpus[d]], dtype=np.int64)
    cts = np.array([c for _, c in corpus[d]], dtype=np.float64)
    g0 = L.init_gamma(model.random_seed, -1, d, K)
    gammad, _, _ = L.infer_doc(ids, cts, g0, exp_eb, model.alpha,
                               model.iterations, model.gamma_threshold)
    theta = np.sort(gammad / gammad.sum())
    assert np.sort(by_doc[d]) == pytest.approx(theta, rel=1e-9)
    # minimum_probability drops sub-threshold rows
    filt = L.doc_topics(postings, model, minimum_probability=0.3).collect()
    assert all(r["probability"] >= 0.3 for r in filt)
    assert 0 < len(filt) < len(out)


def test_bound_improves_with_training(lda_fixture):
    corpus, v, postings = lda_fixture
    m1 = L.lda_fit(postings, num_topics=K, num_terms=v, passes=1,
                   random_seed=13)
    m8 = L.lda_fit(postings, num_topics=K, num_terms=v, passes=8,
                   random_seed=13)
    b1 = L.bound(postings, m1)
    b8 = L.bound(postings, m8)
    assert np.isfinite(b1) and np.isfinite(b8)
    assert b8 > b1
    # per-word bound in a sane range (log-prob per token)
    lp = L.log_perplexity(postings, m8)
    n_tokens = sum(c for doc in corpus for _, c in doc)
    assert lp == pytest.approx(b8 / n_tokens)
    assert -20 < lp < 0


def test_topic_recovery_on_planted_corpus(spark):
    """Three disjoint planted topics over 30 terms: after a few passes each
    planted block must dominate some fitted topic's mass."""
    rs = np.random.RandomState(5)
    blocks = [list(range(0, 10)), list(range(10, 20)), list(range(20, 30))]
    rows = []
    for d in range(120):
        block = blocks[d % 3]
        terms = rs.choice(block, size=8, replace=True)
        counts = {}
        for t in terms:
            counts[int(t)] = counts.get(int(t), 0) + 1
        rows.extend((d, t, c) for t, c in sorted(counts.items()))
    postings = spark.createDataFrame(rows, "doc_id long, term_id long, tf long")
    model = L.lda_fit(postings, num_topics=3, num_terms=30, passes=12,
                      random_seed=1)
    probs = model.get_topics()
    covered = set()
    for b_i, block in enumerate(blocks):
        mass = probs[:, block].sum(axis=1)          # per-topic mass on block
        top = int(np.argmax(mass))
        assert mass[top] > 0.9, f"block {b_i} best mass {mass[top]}"
        covered.add(top)
    assert covered == {0, 1, 2}                     # bijective block↔topic


def test_api_facade_matches_operator(lda_fixture, spark, common_texts):
    """api.LdaModel is a thin veneer over lda_fit/doc_topics — same λ and
    same document-topic rows for the same seed."""
    from gensim_spark import api

    corpus, v, postings = lda_fixture
    direct = L.lda_fit(postings, num_topics=K, num_terms=v, passes=2,
                       random_seed=13)
    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    bow = dct.doc2bow(docs)
    facade = api.LdaModel(bow, id2word=dct, num_topics=K, passes=2,
                          random_state=13)
    assert facade.get_topics().shape == (K, len(dct))
    got = {(r["doc_id"], r["topic_id"]): r["probability"]
           for r in facade[bow].collect()}
    # same seed + same algorithm ⇒ same θ regardless of the id assignment
    # order (the Dictionary's ids differ from _bow_corpus's, so compare
    # θ multisets per doc, which are id-invariant)
    want = {(r["doc_id"], r["topic_id"]): r["probability"]
            for r in L.doc_topics(bow, facade.model).collect()}
    assert got == want
    top = facade.show_topic(0, topn=3)
    assert len(top) == 3 and all(isinstance(t, str) for t, _ in top)
    assert facade.log_perplexity(bow) < 0
    # convenience delegations: get_term_topics / top_topics / diff
    tt = facade.get_term_topics(0, minimum_probability=0.0)
    assert tt and all(0 <= k < K for k, _ in tt)
    ranked = facade.top_topics(measure="u_mass", topn=3, postings=bow,
                               num_docs=dct.num_docs)
    assert len(ranked) == K
    scores = [s for _, s in ranked]
    assert scores == sorted(scores, reverse=True)
    assert all(isinstance(w, str) for (_, w) in ranked[0][0])
    mat, ann = facade.diff(facade, num_words=5, n_ann_terms=3)
    import numpy as np
    np.testing.assert_allclose(np.diag(mat), 0.0, atol=1e-9)


def test_topics_df_and_show_topic(lda_fixture, spark, common_texts):
    corpus, v, postings = lda_fixture
    model = L.lda_fit(postings, num_topics=K, num_terms=v, passes=2,
                      random_seed=13)
    tdf = L.topics_df(spark, model).collect()
    assert len(tdf) == K * v
    per_topic = {}
    for r in tdf:
        per_topic[r["topic_id"]] = per_topic.get(r["topic_id"], 0.0) + r["prob"]
    for t in range(K):
        assert per_topic[t] == pytest.approx(1.0, abs=1e-9)
    # show_topic returns the argmax terms in order
    token2id = {}
    for toks in common_texts:
        for t in toks:
            token2id.setdefault(t, len(token2id))
    vocab = spark.createDataFrame(
        [(i, t) for t, i in token2id.items()], "term_id long, token string")
    top = L.show_topic(model, vocab, topic_id=0, topn=3).collect()
    row = model.get_topics()[0]
    want_ids = np.argsort(-row)[:3]
    id2token = {i: t for t, i in token2id.items()}
    assert [r["token"] for r in top] == [id2token[i] for i in want_ids]
    assert [r["prob"] for r in top] == pytest.approx(row[want_ids])


def test_doc_gamma_is_artifact_form_of_doc_topics(lda_fixture, spark):
    corpus, v, postings = lda_fixture
    model = L.lda_fit(postings, num_topics=K, num_terms=v, passes=2,
                      random_seed=13)
    gamma = {(r["doc_id"], r["topic_id"]): r["gamma"]
             for r in L.doc_gamma(postings, model).collect()}
    assert len(gamma) == len(corpus) * K
    # relational tail θ = γ/Σγ + filter reproduces doc_topics exactly
    sums = {}
    for (d, _), g in gamma.items():
        sums[d] = sums.get(d, 0.0) + g
    want = {(d, t): g / sums[d] for (d, t), g in gamma.items()
            if g / sums[d] >= max(model.minimum_probability, 1e-8)}
    got = {(r["doc_id"], r["topic_id"]): r["probability"]
           for r in L.doc_topics(postings, model).collect()}
    assert set(got) == set(want)
    for key in got:
        assert got[key] == pytest.approx(want[key], rel=1e-12)
