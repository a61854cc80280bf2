"""DTM / LdaSeqModel: finite-difference pin of the obs gradient, CG
convergence, Kalman-chain invariants, the slice-boundary quirk,
Spark-vs-driver M-step identity, and planted-topic recovery."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from gensim_spark.operators import ldaseq as LS


def update_obs_driver(chain, sstats, totals):
    """Sequential word sweep (the reference's update_obs): the oracle the
    library's Spark word sweep must match solve for solve."""
    roles = LS._word_roles(sstats)
    var_row = chain.variance[0]
    fwd_var_row = chain.fwd_variance[0]
    for w in range(chain.vocab_len):
        if roles[w] == "skip":
            continue
        counts = np.zeros(chain.num_time_slices) if roles[w] == "zero" \
            else sstats[w]
        chain.obs[w] = LS._solve_word(
            chain.obs[w], counts, totals, var_row, fwd_var_row,
            chain.zeta, chain.obs_variance, chain.chain_variance)
    chain.compute_post_mean()
    chain.update_zeta()
    return chain.obs, chain.zeta


def _chain(T=4, W=6, seed=0):
    rng = np.random.default_rng(seed)
    ch = LS.Sslm(W, T)
    sstats = rng.uniform(0.5, 8.0, size=(W, T))
    ch.counts_init(0.5, 0.005, sstats.sum(axis=1))
    return ch, sstats


def test_gradient_matches_finite_differences():
    ch, sstats = _chain()
    totals = sstats.sum(axis=0)
    w = 2
    x = ch.obs[w] + np.linspace(-0.2, 0.3, ch.num_time_slices)
    args = (sstats[w], totals, ch.variance[0], ch.fwd_variance[0],
            ch.zeta, ch.obs_variance, ch.chain_variance)
    # forward variance: the exact-gradient fix of the reference's
    # compute_mean_deriv slip (see _mean_deriv_mtx docstring)
    dm = LS._mean_deriv_mtx(ch.fwd_variance[0], ch.obs_variance,
                            ch.chain_variance, ch.num_time_slices)
    got = LS._word_gradient(x, *args, dm)
    eps = 1e-6
    for t in range(ch.num_time_slices):
        e = np.zeros_like(x)
        e[t] = eps
        fd = (LS._word_objective(x + e, *args)
              - LS._word_objective(x - e, *args)) / (2 * eps)
        assert got[t] == pytest.approx(fd, rel=1e-4, abs=1e-6)


def test_cg_minimizes_word_objective():
    ch, sstats = _chain(seed=3)
    totals = sstats.sum(axis=0)
    args = (sstats[1], totals, ch.variance[0], ch.fwd_variance[0],
            ch.zeta, ch.obs_variance, ch.chain_variance)
    x0 = ch.obs[1]
    f0 = LS._word_objective(x0, *args)
    sol = LS._solve_word(x0, *args)
    assert LS._word_objective(sol, *args) <= f0
    dm = LS._mean_deriv_mtx(ch.variance[0], ch.obs_variance,
                            ch.chain_variance, ch.num_time_slices)
    assert np.max(np.abs(LS._word_gradient(sol, *args, dm))) < 0.05


def test_sslm_fit_increases_bound_driver():
    ch, sstats = _chain(T=3, W=8, seed=5)
    totals = sstats.sum(axis=0)
    before = ch.compute_bound(sstats, totals)
    after = ch.fit(sstats, update_obs_driver)
    assert after > before
    # e_log_prob are log-probabilities of a normalized-ish measure
    assert np.isfinite(ch.e_log_prob).all()


def test_counts_init_invariants():
    ch, _ = _chain()
    # every time column of obs starts at the same transformed counts
    assert np.allclose(ch.obs, ch.obs[:, [0]])
    assert (ch.zeta > 0).all()
    np.testing.assert_allclose(
        ch.e_log_prob, ch.mean[:, 1:] - np.log(ch.zeta)[np.newaxis, :])
    # variance recursions are word-independent — rows identical
    assert np.allclose(ch.variance, ch.variance[[0]])


def test_time_from_slices_boundary_quirk():
    # reference inferDTMseq uses `doc_index > cumsum[time]` so the doc AT
    # each boundary stays in the earlier slice (ldaseqmodel.py:415-424)
    assert LS.time_from_slices([2, 4, 3]) == [0, 0, 0, 1, 1, 1, 1, 2, 2]


def _planted(spark, n_docs=24, vocab=10, slices=2):
    rng = np.random.default_rng(7)
    rows, times = [], []
    for d in range(n_docs):
        topic = d % 2
        base = 0 if topic == 0 else vocab // 2
        ids = sorted({int(base + rng.integers(vocab // 2))
                      for _ in range(4)})
        for t in ids:
            rows.append((d, t, float(rng.integers(1, 4))))
        times.append((d, d * slices // n_docs))
    postings = spark.createDataFrame(
        rows, "doc_id long, term_id long, tf double")
    doc_times = spark.createDataFrame(times, "doc_id long, time long")
    return postings, doc_times


def test_fit_recovers_topics_and_matches_driver_mstep(spark, monkeypatch):
    postings, doc_times = _planted(spark)
    kw = dict(num_topics=2, num_terms=10, num_time_slices=2, passes=3,
              em_min_iter=1, em_max_iter=2, lda_inference_max_iter=10,
              random_seed=13)
    m = LS.ldaseq_fit(postings, doc_times, **kw)
    # per-slice topics split the vocabulary
    for t in range(2):
        topics = m.topics_at(t)
        tops = topics.argmax(axis=1)
        halves = sorted(int(tops[k]) // 5 for k in range(2))
        assert halves == [0, 1]
        np.testing.assert_allclose(topics.sum(axis=1), 1.0)
    # doc gammas load on the doc's planted topic
    g = {r["doc_id"]: np.asarray(r["gamma"])
         for r in m.gammas.collect()}
    assert len(g) == 24
    topic_of_even = np.argmax(sum(g[d] for d in range(0, 24, 2)))
    topic_of_odd = np.argmax(sum(g[d] for d in range(1, 24, 2)))
    assert topic_of_even != topic_of_odd
    # the Spark per-word CG sweep is solve-for-solve identical to the
    # sequential driver sweep
    monkeypatch.setattr(LS, "make_update_obs_spark",
                        lambda spark: update_obs_driver)
    m2 = LS.ldaseq_fit(postings, doc_times, **kw)
    for k in range(2):
        np.testing.assert_allclose(m.topic_chains[k].obs,
                                   m2.topic_chains[k].obs, atol=0)
        np.testing.assert_allclose(m.topic_chains[k].e_log_prob,
                                   m2.topic_chains[k].e_log_prob, atol=0)


def test_estep_sstats_mass(spark):
    postings, doc_times = _planted(spark, n_docs=10)
    from gensim_spark.operators.lda import corpus_bow

    model = LS.LdaSeqModel(2, 10, 2)
    rng = np.random.default_rng(1)
    for ch in model.topic_chains:
        ch.counts_init(0.5, 0.005, rng.uniform(1, 5, size=10))
    docs = corpus_bow(postings).join(doc_times, "doc_id")
    bound, sstats, gammas = LS._estep(docs, model, 10)
    total_cts = postings.agg(F.sum("tf")).collect()[0][0]
    assert sstats.sum() == pytest.approx(total_cts)   # φ rows sum to 1
    assert np.isfinite(bound)
    assert gammas.count() == 10


def test_missing_time_row_raises(spark):
    import pytest as _pytest

    from gensim_spark.operators.ldaseq import ldaseq_fit

    postings = spark.createDataFrame(
        [(0, 0, 2.0), (1, 1, 1.0)], "doc_id long, term_id long, tf double")
    times = spark.createDataFrame([(0, 0)], "doc_id long, time int")
    with _pytest.raises(ValueError, match="no doc_times"):
        ldaseq_fit(postings, times, num_topics=2, passes=1,
                   em_min_iter=1, em_max_iter=1)
