"""LDA's lockstep E-step kernel (``lda.infer_batch``) against the
per-document variational loop it replaced, kept here as the reference.

Two properties:

1. every document's γ matches the reference loop to rel 1e-12, and so do
   its expElogθ and φnorm up to one per-document factor (below);
2. every document's result is **bit-identical** whether it runs alone,
   inside a batch, or across any cut of the batch into slices — the
   property the fit's partition-independence rests on.

The factor: expElogθ = exp(ψ(γ) − ψ(Σγ)), so ψ(Σγ) scales all of a
document's expElogθ and φnorm alike and cancels in γ's update.
``special.digamma`` sums its asymptotic series from x ≥ 6, where the first
omitted term is 691/(32760·x¹²) ≈ 1e-11, and the recurrence count that
brings x there changes where x crosses an integer. With α = 1/K,
Σγ ≈ 1 + (tokens in the document) sits within ulps of an integer, so for a
document of five or fewer tokens two summation orders of the same Σγ can
land on both sides of that step (seen: Σγ = 3 − 4e-16 vs 3 − 9e-16, ψ 7.3e-12
apart). The factor is held to 2e-11 and the shape under it to 1e-12. Each
component's tolerance is also scaled by 1/γ_k where γ_k < 1: a relative
change r in γ_k moves ψ(γ_k) by about r/γ_k.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gensim_spark.functions.special import (
    dirichlet_expectation,
    mean_absolute_difference,
)
from gensim_spark.operators import lda as L


def reference_infer_doc(ids, cts, gammad, exp_elogbeta, alpha, iterations,
                        gamma_threshold):
    """The per-document loop the E-step ran before the lockstep kernel
    (ldamodel.py:697-734) → (γ, expElogθ, φnorm, iterations run)."""
    eps = np.finfo(np.float64).eps
    elogthetad = dirichlet_expectation(gammad)
    expelogthetad = np.exp(elogthetad)
    eebd = exp_elogbeta[:, ids]
    phinorm = expelogthetad @ eebd + eps
    ran = 0
    for _ in range(iterations):
        ran += 1
        lastgamma = gammad
        gammad = alpha + expelogthetad * ((cts / phinorm) @ eebd.T)
        elogthetad = dirichlet_expectation(gammad)
        expelogthetad = np.exp(elogthetad)
        phinorm = expelogthetad @ eebd + eps
        if mean_absolute_difference(gammad, lastgamma) < gamma_threshold:
            break
    return gammad, expelogthetad, phinorm, ran


def _problem(seed, k, v, lens, sym_alpha=True, max_ct=20):
    """A random model and batch: (ids, cts, lens, γ₀ rows, expElogβ, α)."""
    rs = np.random.RandomState(seed)
    eeb = np.exp(dirichlet_expectation(rs.gamma(100.0, 0.01, (k, v))))
    alpha = np.full(k, 1.0 / k) if sym_alpha else rs.uniform(0.01, 2.0, k)
    lens = np.minimum(np.asarray(lens, dtype=np.int64), v)
    ids = np.concatenate(
        [np.sort(rs.choice(v, n, replace=False)) for n in lens]
        + [np.empty(0)]).astype(np.int64)
    cts = rs.randint(1, max_ct, ids.size).astype(np.float64)
    g0 = rs.gamma(100.0, 0.01, (lens.size, k))
    return ids, cts, lens, g0, eeb, alpha


def _cut(ids, cts, lens, a, b):
    """Documents a..b-1 of a concatenated batch → (ids, cts, lens)."""
    offs = np.concatenate(([0], np.cumsum(lens)))
    return ids[offs[a]:offs[b]], cts[offs[a]:offs[b]], lens[a:b]


def _docs(ids, cts, lens):
    offs = np.concatenate(([0], np.cumsum(lens)))
    return [(ids[offs[d]:offs[d + 1]], cts[offs[d]:offs[d + 1]],
             slice(offs[d], offs[d + 1])) for d in range(lens.size)]


def _assert_matches_reference(ids, cts, lens, g0, eeb, alpha, iters, thr):
    g, e, pn = L.infer_batch(ids, cts, lens, g0, eeb, alpha, iters, thr)
    ran = []
    for d, (di, dc, sl) in enumerate(_docs(ids, cts, lens)):
        rg, re, rp, n = reference_infer_doc(di, dc, g0[d], eeb, alpha,
                                            iters, thr)
        np.testing.assert_allclose(g[d], rg, rtol=1e-12, atol=0)
        scale = e[d].sum() / re.sum()                 # exp(ψ(Σγ_ref) − ψ(Σγ))
        assert abs(scale - 1.0) < 2e-11
        amp = max(1.0, 1.0 / rg.min())
        np.testing.assert_allclose(e[d] / scale, re, rtol=1e-12 * amp, atol=0)
        np.testing.assert_allclose(pn[sl] / scale, rp, rtol=1e-12 * amp,
                                   atol=0)
        ran.append(n)
    return g, e, pn, ran


def _assert_cut_invariant(ids, cts, lens, g0, eeb, alpha, iters, thr, cuts):
    """Running the batch whole, one document at a time, or in the slices
    ``cuts`` gives the same bits."""
    whole = L.infer_batch(ids, cts, lens, g0, eeb, alpha, iters, thr)
    for bounds in ([0, *cuts, lens.size], list(range(lens.size + 1))):
        parts = [L.infer_batch(*_cut(ids, cts, lens, a, b), g0[a:b], eeb,
                               alpha, iters, thr)
                 for a, b in zip(bounds[:-1], bounds[1:]) if b > a]
        for got, want in zip(zip(*parts), whole):
            assert np.array_equal(np.concatenate(got), want)


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), k=st.integers(1, 10),
       v=st.integers(1, 60), lens=st.lists(st.integers(0, 60), min_size=1,
                                           max_size=12),
       iters=st.sampled_from([0, 1, 2, 7, 50]),
       thr=st.sampled_from([0.0, 0.001, 0.1, 5.0]),
       sym_alpha=st.booleans(), data=st.data())
def test_kernel_matches_reference_and_is_cut_invariant(
        seed, k, v, lens, iters, thr, sym_alpha, data):
    prob = _problem(seed, k, v, lens, sym_alpha)
    _assert_matches_reference(*prob, iters, thr)
    cuts = sorted(data.draw(st.sets(st.integers(1, max(1, len(lens) - 1)),
                                    max_size=len(lens))))
    _assert_cut_invariant(*prob, iters, thr, [c for c in cuts
                                              if c < len(lens)])


def test_documents_stopping_at_different_iterations():
    """A large threshold stops short documents after a few iterations while
    long ones iterate on; each keeps its own stop iteration's values."""
    ids, cts, lens, g0, eeb, alpha = _problem(
        3, 6, 200, [1, 150, 3, 0, 80, 2, 120, 1], max_ct=40)
    _, _, _, ran = _assert_matches_reference(ids, cts, lens, g0, eeb, alpha,
                                             50, 0.05)
    assert len(set(ran)) >= 3, ran
    _assert_cut_invariant(ids, cts, lens, g0, eeb, alpha, 50, 0.05, [2, 5])


def test_edge_documents():
    ids, cts, lens, g0, eeb, alpha = _problem(5, 4, 30, [0, 1, 7, 0])
    for iters in (0, 1, 50):
        g, e, pn, _ = _assert_matches_reference(ids, cts, lens, g0, eeb,
                                                alpha, iters, 0.001)
        _assert_cut_invariant(ids, cts, lens, g0, eeb, alpha, iters, 0.001,
                              [1, 3])
    # zero-term document: γ = α after one update, as the reference's loop
    g, _, pn = L.infer_batch(ids, cts, lens, g0, eeb, alpha, 50, 0.001)
    assert np.array_equal(g[0], alpha) and np.array_equal(g[3], alpha)
    assert pn.size == ids.size
    # iterations=0 returns the initial draw untouched
    g, e, _ = L.infer_batch(ids, cts, lens, g0, eeb, alpha, 0, 0.001)
    assert np.array_equal(g, g0)
    assert np.array_equal(e, np.exp(dirichlet_expectation(g0)))
    # infer_doc is the one-document kernel
    d = _docs(ids, cts, lens)[2]
    one = L.infer_doc(d[0], d[1], g0[2], eeb, alpha, 50, 0.001)
    whole = L.infer_batch(ids, cts, lens, g0, eeb, alpha, 50, 0.001)
    assert np.array_equal(one[0], whole[0][2])
    assert np.array_equal(one[2], whole[2][d[2]])
    # an empty batch
    g, e, pn = L.infer_batch([], [], [], np.empty((0, 4)), eeb, alpha, 50,
                             0.001)
    assert g.shape == e.shape == (0, 4) and pn.shape == (0,)


def _bow_batch(doc_ids, ids, cts, lens):
    offs = pa.array(np.concatenate(([0], np.cumsum(lens))).astype(np.int32))
    return pa.RecordBatch.from_arrays(
        [pa.array(doc_ids, pa.int64()),
         pa.ListArray.from_arrays(offs, pa.array(ids, pa.int64())),
         pa.ListArray.from_arrays(offs, pa.array(cts, pa.float64()))],
        names=["doc_id", "ids", "cts"])


def test_slices_cover_whole_documents_within_budget(monkeypatch):
    ids, cts, lens, _, eeb, alpha = _problem(7, 4, 40, [3, 0, 9, 40, 1, 5])
    doc_ids = np.arange(100, 100 + lens.size)
    batch = _bow_batch(doc_ids, ids, cts, lens)
    # a sliced Arrow batch (non-zero offset into its list values)
    batches = [batch.slice(0, 2), batch.slice(2)]
    results = {}
    for budget in (1, 4 * 10, L._SLICE_ELEMS):
        monkeypatch.setattr(L, "_SLICE_ELEMS", budget)
        slices = list(L._bow_slices(batches, 4))
        assert np.array_equal(np.concatenate([s[0] for s in slices]), doc_ids)
        assert np.array_equal(np.concatenate([s[1] for s in slices]), ids)
        assert np.array_equal(np.concatenate([s[2] for s in slices]), cts)
        for s in slices:
            assert s[3].size == 1 or s[3].sum() * 4 <= budget
        results[budget] = [np.concatenate(x) for x in zip(*(
            s[4:] for s in L._infer_slices(batches, eeb, alpha, 50, 0.001,
                                           13, 0)))]
    assert len(list(L._bow_slices(batches, 4))) == 2
    first = results[1]
    for got in results.values():
        for a, b in zip(got, first):
            assert np.array_equal(a, b)


def test_partition_sstats_match_dense_accumulation(monkeypatch):
    """Per-term bincount partials, merged early or only at the end, equal
    the per-document dense ``sstats[:, ids] += outer(expElogθ, cts/φnorm)``
    over the terms present."""
    k, v = 5, 40
    ids, cts, lens, _, eeb, alpha = _problem(11, k, v, [4, 0, 30, 12, 1, 25,
                                                        7, 40, 2])
    batches = [_bow_batch(np.arange(4), *_cut(ids, cts, lens, 0, 4)),
               _bow_batch(np.arange(4, 9), *_cut(ids, cts, lens, 4, 9))]
    dense, elog_sum = np.zeros((k, v)), np.zeros(k)
    for s in L._infer_slices(batches, eeb, alpha, 50, 0.001, 13, 0):
        for (di, dc, sl), g, e in zip(_docs(*s[1:4]), s[4], s[5]):
            dense[:, di] += np.outer(e, dc / s[6][sl])
            elog_sum += dirichlet_expectation(g)
    present = np.unique(ids)
    for budget in (k, 8 * k, L._SLICE_ELEMS):
        monkeypatch.setattr(L, "_SLICE_ELEMS", budget)
        terms, vals, got_elog, ndocs = L._partition_sstats(
            L._infer_slices(batches, eeb, alpha, 50, 0.001, 13, 0), k)
        assert np.array_equal(terms, present) and ndocs == lens.size
        np.testing.assert_allclose(vals, dense[:, present], rtol=1e-13)
        np.testing.assert_allclose(got_elog, elog_sum, rtol=1e-13)
    empty = L._partition_sstats(iter(()), k)
    assert empty[0].size == 0 and empty[1].shape == (k, 0) and empty[3] == 0


def test_spark_gamma_independent_of_batching(spark):
    rs = np.random.RandomState(2)
    rows = [(d, int(t), int(rs.randint(1, 5)))
            for d in range(60)
            for t in rs.choice(50, rs.randint(1, 30), replace=False)]
    postings = spark.createDataFrame(rows, "doc_id long, term_id long, tf long")
    model = L.lda_fit(postings, num_topics=5, passes=2, random_seed=3)
    want = sorted(L.doc_gamma(postings, model).collect())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = sorted(L.doc_gamma(postings.repartition(7), model).collect())
    finally:
        spark.conf.set(key, old)
    assert got == want
    theta = {}
    for r in want:
        theta.setdefault(r["doc_id"], []).append(r["gamma"])
    rows = L.doc_topics(postings, model, minimum_probability=0.0).collect()
    for r in rows:
        g = theta[r["doc_id"]]
        assert r["probability"] == g[r["topic_id"]] / np.sum(g)


def test_lda_fit_empty_postings_raises(spark):
    empty = spark.createDataFrame([], "doc_id long, term_id long, tf long")
    with pytest.raises(ValueError, match="empty corpus"):
        L.lda_fit(empty, num_topics=3)
    with pytest.raises(ValueError, match="empty corpus"):
        L.lda_fit_online(empty, num_topics=3)
