"""LdaSeqModel — Dynamic Topic Model (Blei & Lafferty) on Spark.

Reference: ``gensim.models.ldaseqmodel`` (itself a port of blei-lab/dtm):
- one state-space language model (sslm) per topic: a variational Kalman
  smoother over the word-distribution natural parameters β_{t,w}, with
  variational observations ``obs`` (V×T), smoothed posterior mean/variance
  (V×(T+1)), and the ζ parameter per slice (ldaseqmodel.py:691-930);
- E-step: per-document LDA posterior against the slice's expected
  log-probabilities (LdaPost.fit_lda_post, ldaseqmodel.py:1366-1498:
  γ ← α + Σφ·count, log φ ← Ψ(γ) + E[log β], logaddexp normalize,
  per-doc likelihood convergence on |Δlhood|/(lhood·total));
- M-step: per word, minimize the obs objective ``f_obs``/``df_obs`` with
  CG (ldaseqmodel.py:1048-1245, 1574-1700) under fixed ζ, then refresh
  ζ and the expected log probs; 2 sslm iterations with a bound check;
- EM loop with bound-based convergence and the reference's
  inference-iteration escalation schedule (fit_lda_seq,
  ldaseqmodel.py:222-311).

Quirks replicated exactly: the OBS_NORM_CUTOFF flow where
only the FIRST low-count word (scan order) gets a zero-counts solve and
later low-count words keep their obs untouched (ldaseqmodel.py:1089-1118),
the ``doc_index > cumsum`` slice-boundary off-by-one in
``time_from_slices`` (ldaseqmodel.py:421), and the init pipeline
(normalize, +1/W, renormalize, log — sslm_counts_init:905-910).

Spark shape:
- the chains (K × a few V×(T+1) matrices) are vocab×time-bounded and
  driver-resident — the reference's own memory model;
- the E-step is embarrassingly parallel (every document's posterior is
  re-initialized per EM iteration): one ``mapInPandas`` per iteration over
  (doc_id, ids, cts, time) rows with the K×V×T expected-log-prob broadcast,
  emitting per-partition dict-combined packed sufficient statistics
  (≤ |terms·T·K| rows per task, never per-document) + per-partition bound
  partials + per-doc γ rows;
- the M-step's per-word CG solves are independent given ζ (the coupling
  parameter is updated AFTER the word sweep), so ``update_obs`` fans the
  V solves out as one Arrow-batched ``mapInPandas`` per (topic, sslm
  iteration) and collects only the V×T obs matrix back.

Deviations (documented, test-pinned): scipy's fmin_cg line search is
replaced by functions/optim.py's PR+ CG (same gtol stopping rule —
iterates differ, optimum pinned by gradient checks); the obs gradient uses
the FORWARD variance where the reference's compute_mean_deriv slip feeds
the smoothed one (see _mean_deriv_mtx — the exact-gradient fix, FD-pinned);
the initial LDA fit ('gensim' initialize) is the distributed lda_fit with
its per-doc seeded γ init.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensim_spark.functions.optim import minimize_cg
from gensim_spark.functions.special import digamma, gammaln

_INIT_VARIANCE_CONST = 1000.0
_INIT_MULT = 1000.0
_OBS_NORM_CUTOFF = 2.0
_CG_GTOL = 1e-3          # fmin_cg gtol (ldaseqmodel.py:1078)
_SSLM_FIT_THRESHOLD = 1e-6
_SSLM_MAX_ITER = 2
_LDA_INFERENCE_CONVERGED = 1e-8


def time_from_slices(time_slice) -> list:
    """Per-document time indices from slice sizes, replicating the
    reference's ``doc_index > cumsum[time]`` boundary quirk
    (inferDTMseq, ldaseqmodel.py:415-424): the first document AT each
    cumulative boundary still belongs to the earlier slice."""
    cum = np.cumsum(np.asarray(time_slice))
    out = []
    time = 0
    for doc_index in range(int(cum[-1])):
        if doc_index > cum[time]:
            time += 1
        out.append(time)
    return out


# --- sslm: per-topic variational Kalman chain (driver-resident) --------------

class Sslm:
    """State-space language model for one topic (ldaseqmodel.py:691-930),
    vectorized across words (the reference loops per word; the Kalman
    coefficients are word-independent so the recursions batch)."""

    def __init__(self, vocab_len: int, num_time_slices: int,
                 obs_variance: float = 0.5, chain_variance: float = 0.005):
        self.vocab_len = vocab_len
        self.num_time_slices = num_time_slices
        self.obs_variance = obs_variance
        self.chain_variance = chain_variance
        self.obs = np.zeros((vocab_len, num_time_slices))
        self.e_log_prob = np.zeros((vocab_len, num_time_slices))
        self.mean = np.zeros((vocab_len, num_time_slices + 1))
        self.fwd_mean = np.zeros((vocab_len, num_time_slices + 1))
        self.variance = np.zeros((vocab_len, num_time_slices + 1))
        self.fwd_variance = np.zeros((vocab_len, num_time_slices + 1))
        self.zeta = np.zeros(num_time_slices)

    # the variance recursions carry no word-dependent input — one row
    # serves every word (compute_post_variance, ldaseqmodel.py:747-809)
    def compute_post_variance(self):
        T = self.num_time_slices
        cv, ov = self.chain_variance, self.obs_variance
        fwd = np.zeros(T + 1)
        fwd[0] = cv * _INIT_VARIANCE_CONST
        for t in range(1, T + 1):
            c = ov / (fwd[t - 1] + cv + ov) if ov else 0.0
            fwd[t] = c * (fwd[t - 1] + cv)
        var = np.zeros(T + 1)
        var[T] = fwd[T]
        for t in range(T - 1, -1, -1):
            c = (fwd[t] / (fwd[t] + cv)) ** 2 if fwd[t] > 0.0 else 0.0
            var[t] = c * (var[t + 1] - cv) + (1 - c) * fwd[t]
        self.variance = np.tile(var, (self.vocab_len, 1))
        self.fwd_variance = np.tile(fwd, (self.vocab_len, 1))

    def compute_post_mean(self):
        """Vectorized across words (compute_post_mean,
        ldaseqmodel.py:810-865)."""
        m, fm = _post_mean_rows(self.obs, self.fwd_variance[0],
                                self.obs_variance, self.chain_variance)
        self.mean, self.fwd_mean = m, fm

    def update_zeta(self):
        self.zeta = np.exp(self.mean[:, 1:]
                           + self.variance[:, 1:] / 2).sum(axis=0)
        return self.zeta

    def compute_expected_log_prob(self):
        self.e_log_prob = self.mean[:, 1:] - np.log(self.zeta)[np.newaxis, :]
        return self.e_log_prob

    def counts_init(self, obs_variance, chain_variance, sstats):
        """sslm_counts_init (ldaseqmodel.py:883-921)."""
        W = self.vocab_len
        T = self.num_time_slices
        log_norm = np.array(sstats, dtype=np.float64)
        log_norm /= log_norm.sum()
        log_norm += 1.0 / W
        log_norm /= log_norm.sum()
        log_norm = np.log(log_norm)
        self.obs = np.repeat(log_norm, T).reshape(W, T)
        self.obs_variance = obs_variance
        self.chain_variance = chain_variance
        self.compute_post_variance()
        self.compute_post_mean()
        self.update_zeta()
        self.compute_expected_log_prob()

    def compute_bound(self, sstats, totals):
        """compute_bound (ldaseqmodel.py:982-1046), vectorized."""
        T = self.num_time_slices
        cv = self.chain_variance
        self.compute_post_mean()
        self.update_zeta()
        val = (self.variance[:, 0] - self.variance[:, T]).sum() / 2 * cv
        m = self.mean
        v = self.variance
        for t in range(1, T + 1):
            term_1 = (np.power(m[:, t] - m[:, t - 1], 2) / (2 * cv)
                      - v[:, t] / cv - np.log(cv)).sum()
            term_2 = float(sstats[:, t - 1] @ m[:, t])
            ent = np.log(v[:, t]).sum() / 2
            term_3 = -totals[t - 1] * np.log(self.zeta[t - 1])
            val += term_2 + term_3 + ent - term_1
        return val

    def fit(self, sstats, update_obs_fn):
        """fit_sslm (ldaseqmodel.py:923-981): M-step for one topic;
        ``update_obs_fn(self, sstats, totals)`` performs the word sweep."""
        self.compute_post_variance()
        totals = sstats.sum(axis=0)
        bound = self.compute_bound(sstats, totals)
        converged = _SSLM_FIT_THRESHOLD + 1
        iter_ = 0
        while converged > _SSLM_FIT_THRESHOLD and iter_ < _SSLM_MAX_ITER:
            iter_ += 1
            old_bound = bound
            self.obs, self.zeta = update_obs_fn(self, sstats, totals)
            bound = self.compute_bound(sstats, totals)
            converged = np.fabs((bound - old_bound) / old_bound)
        self.e_log_prob = self.compute_expected_log_prob()
        return bound


def _post_mean_rows(obs, fwd_variance_row, obs_variance, chain_variance):
    """Smoothed/forward means for a (W, T) obs block given the shared
    forward-variance row — the exact recursions of compute_post_mean."""
    W, T = obs.shape
    fm = np.zeros((W, T + 1))
    for t in range(1, T + 1):
        c = obs_variance / (fwd_variance_row[t - 1] + chain_variance
                            + obs_variance)
        fm[:, t] = c * fm[:, t - 1] + (1 - c) * obs[:, t - 1]
    m = np.zeros((W, T + 1))
    m[:, T] = fm[:, T]
    for t in range(T - 1, -1, -1):
        c = 0.0 if chain_variance == 0.0 else \
            chain_variance / (fwd_variance_row[t] + chain_variance)
        m[:, t] = c * fm[:, t] + (1 - c) * m[:, t + 1]
    return m, fm


def _mean_deriv_mtx(variance_row, obs_variance, chain_variance, T):
    """d mean / d obs for every (time, t) pair — compute_mean_deriv
    (ldaseqmodel.py:1124-1172). DELIBERATE DEVIATION: the reference feeds
    the SMOOTHED variance where the forward variance belongs
    (ldaseqmodel.py:1148 reads ``fwd_variance = self.variance[word]``),
    which makes its analytic gradient disagree with finite differences of
    its own objective; this port passes the FORWARD variance so the
    gradient is exact (pinned by tests/test_ldaseq.py's FD check) and CG
    converges to the true optimum of the same f_obs."""
    mtx = np.zeros((T, T + 1))
    for time in range(T):
        deriv = mtx[time]
        for t in range(1, T + 1):
            w = obs_variance / (variance_row[t - 1] + chain_variance
                                + obs_variance) if obs_variance > 0 else 0.0
            val = w * deriv[t - 1]
            if time == t - 1:
                val += 1 - w
            deriv[t] = val
        for t in range(T - 1, -1, -1):
            w = 0.0 if chain_variance == 0.0 else \
                chain_variance / (variance_row[t] + chain_variance)
            deriv[t] = w * deriv[t] + (1 - w) * deriv[t + 1]
    return mtx


def _word_objective(x, w_counts, totals, variance_row, fwd_variance_row,
                    zeta, obs_variance, chain_variance):
    """f_obs for one word (ldaseqmodel.py:1574-1640)."""
    T = len(x)
    m, _ = _post_mean_rows(x[np.newaxis, :], fwd_variance_row,
                           obs_variance, chain_variance)
    mean = m[0]
    term1 = float(np.sum((mean[1:] - mean[:-1]) ** 2))
    term2 = float(np.sum(
        w_counts * mean[1:]
        - totals * np.exp(mean[1:] + variance_row[1:] / 2) / zeta))
    if chain_variance > 0.0:
        term1 = -(term1 / (2 * chain_variance)) \
            - mean[0] * mean[0] / (2 * _INIT_MULT * chain_variance)
    else:
        term1 = 0.0
    return -(term1 + term2)


def _word_gradient(x, w_counts, totals, variance_row, fwd_variance_row,
                   zeta, obs_variance, chain_variance, mean_deriv_mtx):
    """−df_obs for one word (compute_obs_deriv, ldaseqmodel.py:1174-1245)."""
    T = len(x)
    m, _ = _post_mean_rows(x[np.newaxis, :], fwd_variance_row,
                           obs_variance, chain_variance)
    mean = m[0]
    temp = np.exp(mean[1:] + variance_row[1:] / 2)
    deriv = np.zeros(T)
    dm = mean_deriv_mtx
    for t in range(T):
        md = dm[t]
        term1 = float(np.sum((mean[1:] - mean[:-1]) * (md[1:] - md[:-1])))
        term2 = float(np.sum((w_counts - totals * temp / zeta) * md[1:]))
        if chain_variance:
            term1 = -(term1 / chain_variance) \
                - mean[0] * md[0] / (_INIT_MULT * chain_variance)
        else:
            term1 = 0.0
        deriv[t] = term1 + term2
    return -deriv       # f_obs is the negated bound — gradient negates too


def _solve_word(x0, w_counts, totals, variance_row, fwd_variance_row,
                zeta, obs_variance, chain_variance):
    dm = _mean_deriv_mtx(fwd_variance_row, obs_variance, chain_variance,
                         len(x0))
    args = (w_counts, totals, variance_row, fwd_variance_row, zeta,
            obs_variance, chain_variance)
    return minimize_cg(lambda x: _word_objective(x, *args),
                       lambda x: _word_gradient(x, *args, dm),
                       x0, gtol=_CG_GTOL)


def _word_roles(sstats):
    """OBS_NORM_CUTOFF semantics (update_obs, ldaseqmodel.py:1085-1118):
    per word → 'own' (optimize with its counts), 'zero' (the FIRST
    low-norm word in scan order: optimize with zeroed counts), or 'skip'
    (later low-norm words keep their obs)."""
    norms = np.sqrt((sstats ** 2).sum(axis=1))
    low = norms < _OBS_NORM_CUTOFF
    roles = np.where(low, "skip", "own").astype(object)
    lows = np.nonzero(low)[0]
    if len(lows):
        roles[lows[0]] = "zero"
    return roles


def make_update_obs_spark(spark, arrow_batch: int = 256):
    """Distributed word sweep: the per-word CG solves are independent
    given ζ (updated only after the sweep), so they fan out as one
    Arrow-batched mapInPandas; only the V×T obs matrix returns."""
    def update(chain: Sslm, sstats, totals):
        roles = _word_roles(sstats)
        todo = [w for w in range(chain.vocab_len) if roles[w] != "skip"]
        rows = [(int(w), [float(x) for x in chain.obs[w]],
                 [0.0] * chain.num_time_slices if roles[w] == "zero"
                 else [float(x) for x in sstats[w]]) for w in todo]
        df = spark.createDataFrame(
            rows, "w long, x0 array<double>, counts array<double>")
        bc = spark.sparkContext.broadcast(
            (totals, chain.variance[0], chain.fwd_variance[0], chain.zeta,
             chain.obs_variance, chain.chain_variance))

        def gen(batches):
            import pandas as pd

            tot, var_row, fwd_var_row, zeta, ov, cv = bc.value
            for pdf in batches:
                out_w, out_obs = [], []
                for w, x0, counts in zip(pdf["w"], pdf["x0"],
                                         pdf["counts"]):
                    sol = _solve_word(np.asarray(x0),
                                      np.asarray(counts), tot, var_row,
                                      fwd_var_row, zeta, ov, cv)
                    out_w.append(w)
                    out_obs.append(list(sol))
                yield pd.DataFrame({"w": out_w, "obs": out_obs})

        got = df.repartition(max(1, len(rows) // arrow_batch + 1)) \
            .mapInPandas(gen, "w long, obs array<double>").collect()
        bc.destroy()
        for r in got:
            chain.obs[r["w"]] = np.asarray(r["obs"])
        chain.compute_post_mean()
        chain.update_zeta()
        return chain.obs, chain.zeta
    return update


# --- per-document posterior (LdaPost) -----------------------------------------

def fit_lda_post(ids, cts, topics_slice, alphas, lda_inference_max_iter=25):
    """One document's posterior (LdaPost.fit_lda_post,
    ldaseqmodel.py:1366-1498): returns (gamma, phi n×K, lhood)."""
    K = topics_slice.shape[1]
    total = float(cts.sum())
    gamma = np.full(K, alphas[0] + total / K)
    n = len(ids)
    phi = np.full((n, K), 1.0 / K)
    log_phi = np.log(phi)

    def lhood_fn():
        gamma_sum = gamma.sum()
        lhood = gammaln(alphas.sum()) - gammaln(gamma_sum)
        digsum = digamma(gamma_sum)
        for k in range(K):
            e_log_theta_k = digamma(gamma[k]) - digsum
            term = (alphas[k] - gamma[k]) * e_log_theta_k \
                + gammaln(gamma[k]) - gammaln(alphas[k])
            mask = phi[:, k] > 0
            term += float(np.sum(
                cts[mask] * phi[mask, k]
                * (e_log_theta_k + topics_slice[ids[mask], k]
                   - log_phi[mask, k])))
            lhood += term
        return lhood

    def update_gamma():
        return alphas + phi.T @ cts

    def update_phi():
        dig = digamma(gamma)
        lp = dig[np.newaxis, :] + topics_slice[ids]
        v = lp[:, 0].copy()
        for i in range(1, K):
            v = np.logaddexp(v, lp[:, i])
        lp = lp - v[:, np.newaxis]
        return np.exp(lp), lp

    lhood = lhood_fn()
    iter_ = 1
    lhood_old = lhood            # first iteration (ldaseqmodel.py:1461-1481)
    gamma = update_gamma()
    phi, log_phi = update_phi()
    lhood = lhood_fn()
    converged = np.fabs((lhood_old - lhood) / (lhood_old * total))
    while converged > _LDA_INFERENCE_CONVERGED and \
            iter_ <= lda_inference_max_iter:
        iter_ += 1
        lhood_old = lhood
        gamma = update_gamma()
        phi, log_phi = update_phi()
        lhood = lhood_fn()
        converged = np.fabs((lhood_old - lhood) / (lhood_old * total))
    return gamma, phi, lhood


# --- the full model -------------------------------------------------------------

class LdaSeqModel:
    """Fitted DTM: K Sslm chains + per-document γ DataFrame."""

    def __init__(self, num_topics: int, vocab_len: int,
                 num_time_slices: int, alphas: float = 0.01,
                 obs_variance: float = 0.5, chain_variance: float = 0.005):
        self.num_topics = num_topics
        self.vocab_len = vocab_len
        self.num_time_slices = num_time_slices
        self.alphas = np.full(num_topics, alphas)
        self.obs_variance = obs_variance
        self.chain_variance = chain_variance
        self.topic_chains = [Sslm(vocab_len, num_time_slices,
                                  obs_variance, chain_variance)
                             for _ in range(num_topics)]
        self.gammas = None      # (doc_id, gamma) DataFrame after fit

    def topics_at(self, time: int) -> np.ndarray:
        """Row-normalized topic-word probabilities at one slice
        (print_topics/dtm_vis normalization)."""
        out = np.empty((self.num_topics, self.vocab_len))
        for k, chain in enumerate(self.topic_chains):
            p = np.exp(chain.e_log_prob[:, time])
            out[k] = p / p.sum()
        return out

    def _elogprob_tensor(self) -> np.ndarray:
        """(K, V, T) expected log probs for the E-step broadcast."""
        return np.stack([c.e_log_prob for c in self.topic_chains])


def ldaseq_fit(postings: DataFrame, doc_times: DataFrame, num_topics: int,
               num_terms: int | None = None, num_time_slices: int | None = None,
               alphas: float = 0.01, obs_variance: float = 0.5,
               chain_variance: float = 0.005, passes: int = 10,
               lda_inference_max_iter: int = 25, em_min_iter: int = 6,
               em_max_iter: int = 20, random_seed: int = 13) -> LdaSeqModel:
    """Fit over (doc_id, term_id, tf) postings + (doc_id, time) slice
    assignments (use :func:`time_from_slices` to reproduce the reference's
    slice-counting quirk). 'gensim' initialization: a distributed LDA fit
    seeds the chains (ldaseqmodel.py:175-188)."""
    from gensim_spark.operators.lda import corpus_bow, infer_dim, lda_fit

    spark = postings.sparkSession
    if num_terms is None:
        num_terms = infer_dim(postings, "term_id")
    if num_time_slices is None:
        num_time_slices = infer_dim(doc_times, "time", "doc_times table")

    lda0 = lda_fit(postings, num_topics=num_topics, num_terms=num_terms,
                   passes=passes, alpha=np.full(num_topics, alphas),
                   random_seed=random_seed)
    init_sstats = lda0.sstats.T       # (V, K), ldaseqmodel.py:186

    model = LdaSeqModel(num_topics, num_terms, num_time_slices, alphas,
                        obs_variance, chain_variance)
    for k, chain in enumerate(model.topic_chains):
        chain.counts_init(obs_variance, chain_variance, init_sstats[:, k])

    docs = (corpus_bow(postings).join(doc_times, "doc_id", "left")).cache()
    n_docs = docs.count()
    # an inner join would silently drop corpus docs with no slice row;
    # the reference's corpus/time_slice lengths must agree — fail loudly
    orphan = docs.filter(F.col("time").isNull()).select("doc_id").first()
    if orphan is not None:
        docs.unpersist()
        raise ValueError(
            f"document {orphan['doc_id']} has postings but no doc_times "
            "row — time slices must cover the whole corpus")
    update_obs_fn = make_update_obs_spark(spark)

    LDASQE_EM_THRESHOLD = 1e-4
    LOWER_ITER, ITER_MULT_LOW, MAX_ITER = 10, 2, 500
    bound = 0.0
    convergence = LDASQE_EM_THRESHOLD + 1
    iter_ = 0
    while iter_ < em_min_iter or (convergence > LDASQE_EM_THRESHOLD
                                  and iter_ <= em_max_iter):
        old_bound = bound
        bound, sstats_kvt, gammas = _estep(docs, model,
                                           lda_inference_max_iter)
        model.gammas = gammas
        topic_bound = 0.0
        for k, chain in enumerate(model.topic_chains):
            topic_bound += chain.fit(sstats_kvt[k], update_obs_fn)
        bound += topic_bound
        if (bound - old_bound) < 0:
            if lda_inference_max_iter < LOWER_ITER:
                lda_inference_max_iter *= ITER_MULT_LOW
        convergence = np.fabs((bound - old_bound) / old_bound) \
            if old_bound != 0 else LDASQE_EM_THRESHOLD + 1
        if convergence < LDASQE_EM_THRESHOLD:
            lda_inference_max_iter = MAX_ITER
            convergence = 1.0
        iter_ += 1
    docs.unpersist()
    model.n_docs = n_docs
    return model


def _estep(docs: DataFrame, model: LdaSeqModel,
           lda_inference_max_iter: int):
    """One distributed E-step: per-doc posterior vs the doc's slice,
    emitting dict-combined packed sstats (i = (term·T + time)·K + topic),
    the bound partial (i = −1), and per-doc γ rows (i = −2−doc_id… no:
    γ rides its own mapInPandas column output)."""
    spark = docs.sparkSession
    K, V, T = model.num_topics, model.vocab_len, model.num_time_slices
    bc = spark.sparkContext.broadcast(
        (model._elogprob_tensor(), model.alphas, lda_inference_max_iter))

    def gen(batches):
        import pandas as pd

        elog, alphas, max_iter = bc.value
        acc: dict = {}
        bound = 0.0
        g_ids, g_rows = [], []
        for pdf in batches:
            for doc_id, ids, cts, time in zip(pdf["doc_id"], pdf["ids"],
                                              pdf["cts"], pdf["time"]):
                ids = np.asarray(ids, dtype=np.int64)
                cts = np.asarray(cts, dtype=np.float64)
                topics_slice = elog[:, :, int(time)].T     # (V, K)
                gamma, phi, lhood = fit_lda_post(
                    ids, cts, topics_slice, alphas, max_iter)
                bound += lhood
                g_ids.append(int(doc_id))
                g_rows.append(list(gamma))
                contrib = phi * cts[:, np.newaxis]        # (n, K)
                # one dict op + one vectorized K-add per posting (a scalar
                # key per topic costs K dict ops per posting); the packed
                # wire format below is unchanged
                for j, term in enumerate(ids):
                    base = int(term) * T + int(time)
                    row = acc.get(base)
                    if row is None:
                        acc[base] = contrib[j].copy()
                    else:
                        row += contrib[j]
        if acc:
            keys = np.fromiter(acc.keys(), dtype=np.int64, count=len(acc))
            vals = np.stack(list(acc.values()))
            out_i = list((keys[:, None] * K +
                          np.arange(K)[None, :]).ravel())
            out_v = list(vals.ravel())
        else:
            out_i, out_v = [], []
        out_i += [-1]
        out_v += [bound]
        out_g = [None] * len(out_i)
        out_d = [-1] * len(out_i)
        # γ rows ride along with i = -2 and the doc id in d
        out_i += [-2] * len(g_ids)
        out_v += [0.0] * len(g_ids)
        out_g += g_rows
        out_d += g_ids
        yield pd.DataFrame({"i": out_i, "v": out_v, "g": out_g,
                            "d": out_d})

    out = docs.mapInPandas(
        gen, "i long, v double, g array<double>, d long").cache()
    stats = (out.filter(F.col("i") >= 0)
             .groupBy("i").agg(F.sum("v").alias("v")).collect())
    bound = out.filter(F.col("i") == -1).agg(
        F.sum("v").alias("b")).collect()[0]["b"]
    gammas = out.filter(F.col("i") == -2).select(
        F.col("d").alias("doc_id"), F.col("g").alias("gamma")) \
        .localCheckpoint(eager=True)
    out.unpersist()
    bc.destroy()
    sstats = np.zeros((K, V, T))
    for r in stats:
        i = r["i"]
        k = i % K
        rest = i // K
        t = rest % T
        term = rest // T
        sstats[k, term, t] = r["v"]
    return float(bound), sstats, gammas
