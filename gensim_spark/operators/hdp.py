"""Hierarchical Dirichlet Process — online variational inference on Spark.

Reference: ``gensim.models.hdpmodel.HdpModel`` — Wang, Paisley, Blei (2011)
"Online Variational Inference for the Hierarchical Dirichlet Process",
exactly as the reference implements it:

* two-level stick-breaking truncation: T top-level (corpus) sticks, K
  second-level (document) sticks (hdpmodel.py:295-389);
* λ initialised as ``Gamma(1,1)·D·100/(T·W) − η`` draws from a seeded
  RandomState (hdpmodel.py:367);
* per-document coordinate ascent on (var_phi, phi, v) with the reference's
  warm-up quirk kept: the stick terms join the var_phi/phi updates only from
  iteration 3 (hdpmodel.py:622-643), convergence on relative likelihood
  change (hdpmodel.py:670);
* chunk-level stochastic update with rate ρ_t = scale·(τ+t)^(−κ), optimal
  topic reordering by λ mass, and top-level stick refresh
  (hdpmodel.py:685-733);
* ``hdp_to_lda`` / ``suggested_lda_model`` expected-stick α plus normalised
  β (hdpmodel.py:877-917), and test-corpus evaluation through the plain LDA
  E-step (hdpmodel.py:97-140, 919-953).

Spark shape — the per-document E-step is embarrassingly parallel given
(Elogβ, Elogsticks); the model is the only global:

1. documents are ``corpus_bow`` rows (sorted id/count arrays) with a chunk
   id ``doc_id // chunksize`` — the reference's sequential ``grouper``
   becomes doc-id ranges, identical for the reference's own consecutive ids;
2. each chunk broadcasts Elogβ (T×W, driver-resident exactly like the
   reference) and runs one ``mapInPandas``; workers fold their partition's
   β sufficient statistics into a term-keyed dict and emit packed
   ``(i = term·T + topic, v)`` longs — the shuffle carries
   ≤ |terms-in-partition|·T rows per task, never per-document data, and is
   map-side combined by the ``groupBy(i).sum``; the T stick statistics, the
   likelihood score and counts ride the same job as negative ids;
3. the driver applies the ρ-blended λ update between chunks.

Deviation from the reference (documented): the reference defers the
``(1−ρ)`` decay of untouched λ columns through an ``m_r``/``m_timestamp``
log (hdpmodel.py:549-554, 735-747) — a sequential-sparsity trick with no
semantic content.  Here λ decays eagerly every update; the algebra is
identical and the driver cost is O(T·W) per chunk, the same as the
reference's own ``update_expectations``.  Σλ is still carried by the
reference's recurrence (hdpmodel.py:685-725), not summed from the eagerly
decayed λ: at the default ``var_converge`` a document's iteration count
can turn on 1-ulp differences in E[log β].  The warm-up iterations 0–2
repeat the same likelihood in exact arithmetic, so the sign of a rounding
residual decides whether the document stops, and a recomputed Σλ differs
from the carried one by such an ulp after the first chunk.

Scale: one job per chunk; model broadcast is O(T·W) like the reference's
worker memory; vocab is bounded by ``filter_extremes`` upstream exactly as
the reference advises.  At 10^12 documents ``chunksize`` becomes
corpus-fraction-sized (D/n_chunks), so the chunk loop stays O(passes), not
O(D/256).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gensim_spark.functions.special import (
    digamma,
    dirichlet_expectation,
    gammaln,
    mean_absolute_difference,
)
from gensim_spark.operators.lda import LdaModel, corpus_bow, infer_dim

MEANCHANGETHRESH = 1e-5   # hdpmodel.py:68
RHOT_BOUND = 0.0          # hdpmodel.py:69


def expect_log_sticks(sticks: np.ndarray) -> np.ndarray:
    """E[log π] under stick-breaking Beta(sticks[0], sticks[1])
    (hdpmodel.py:72-94)."""
    dig_sum = digamma(np.sum(sticks, 0))
    elog_w = digamma(sticks[0]) - dig_sum
    elog_1w = digamma(sticks[1]) - dig_sum
    n = len(sticks[0]) + 1
    elogsticks = np.zeros(n)
    elogsticks[: n - 1] = elog_w
    elogsticks[1:] += np.cumsum(elog_1w)
    return elogsticks


def ret_log_normalize_vec(vec: np.ndarray):
    """Row-wise log-normalisation with the reference's overflow shift
    (gensim/matutils.py:672-692, axis=1 and 1-D forms)."""
    log_max = 100.0
    if vec.ndim == 1:
        max_val = np.max(vec)
        log_shift = log_max - np.log(len(vec) + 1.0) - max_val
        tot = np.sum(np.exp(vec + log_shift))
        log_norm = np.log(tot) - log_shift
        return vec - log_norm, log_norm
    max_val = np.max(vec, 1)
    log_shift = log_max - np.log(vec.shape[1] + 1.0) - max_val
    tot = np.sum(np.exp(vec + log_shift[:, np.newaxis]), 1)
    log_norm = np.log(tot) - log_shift
    return vec - log_norm[:, np.newaxis], log_norm


def lda_e_step(ids: np.ndarray, cts: np.ndarray, alpha: np.ndarray,
               beta: np.ndarray, max_iter: int = 100):
    """Single-document LDA E-step used for post-training inference
    (hdpmodel.py:97-140): returns (likelihood, γ_d)."""
    gamma = np.ones(len(alpha))
    expelogtheta = np.exp(dirichlet_expectation(gamma))
    betad = beta[:, ids]
    phinorm = expelogtheta @ betad + 1e-100
    counts = np.asarray(cts, dtype=np.float64)
    elogtheta = dirichlet_expectation(gamma)
    for _ in range(max_iter):
        lastgamma = gamma
        gamma = alpha + expelogtheta * ((counts / phinorm) @ betad.T)
        elogtheta = dirichlet_expectation(gamma)
        expelogtheta = np.exp(elogtheta)
        phinorm = expelogtheta @ betad + 1e-100
        if mean_absolute_difference(gamma, lastgamma) < MEANCHANGETHRESH:
            break
    likelihood = float(np.sum(counts * np.log(phinorm)))
    likelihood += float(np.sum((alpha - gamma) * elogtheta))
    likelihood += float(np.sum(gammaln(gamma) - gammaln(alpha)))
    likelihood += float(gammaln(np.sum(alpha)) - gammaln(np.sum(gamma)))
    return likelihood, gamma


def doc_e_step(ids: np.ndarray, cts: np.ndarray, elogbeta_doc: np.ndarray,
               elogsticks_1st: np.ndarray, m_alpha: float, m_K: int,
               var_converge: float, max_iter: int = 100):
    """Per-document two-level coordinate ascent (hdpmodel.py:579-683).

    Returns ``(likelihood, var_phi (K,T), beta_contrib (T,nnz))`` where
    ``beta_contrib = var_phiᵀ · (phiᵀ · counts)`` is the document's addend to
    the chunk's ``m_var_beta_ss`` columns for ``ids``.
    """
    counts = np.asarray(cts, dtype=np.float64)
    v = np.zeros((2, m_K - 1))
    v[0] = 1.0
    v[1] = m_alpha
    phi = np.ones((len(ids), m_K)) / m_K

    likelihood = 0.0
    old_likelihood = -1e200
    converge = 1.0
    elogsticks_2nd = None
    it = 0
    while it < max_iter and (converge < 0.0 or converge > var_converge):
        # var_phi — sticks join only from iteration 3 (hdpmodel.py:626-633)
        var_phi = phi.T @ (elogbeta_doc * counts).T
        if it >= 3:
            var_phi = var_phi + elogsticks_1st
        log_var_phi, _ = ret_log_normalize_vec(var_phi)
        var_phi = np.exp(log_var_phi)

        # phi (hdpmodel.py:636-643)
        phi = (var_phi @ elogbeta_doc).T
        if it >= 3:
            phi = phi + elogsticks_2nd
        log_phi, _ = ret_log_normalize_vec(phi)
        phi = np.exp(log_phi)

        # v (hdpmodel.py:646-650)
        phi_all = phi * counts[:, np.newaxis]
        v[0] = 1.0 + np.sum(phi_all[:, : m_K - 1], 0)
        phi_cum = np.flipud(np.sum(phi_all[:, 1:], 0))
        v[1] = m_alpha + np.flipud(np.cumsum(phi_cum))
        elogsticks_2nd = expect_log_sticks(v)

        # likelihood (hdpmodel.py:652-668)
        likelihood = float(np.sum((elogsticks_1st - log_var_phi) * var_phi))
        likelihood += (m_K - 1) * np.log(m_alpha)
        dig_sum = digamma(np.sum(v, 0))
        likelihood += float(np.sum(
            (np.array([1.0, m_alpha])[:, np.newaxis] - v)
            * (digamma(v) - dig_sum)))
        likelihood -= float(np.sum(gammaln(np.sum(v, 0))) - np.sum(gammaln(v)))
        likelihood += float(np.sum((elogsticks_2nd - log_phi) * phi))
        likelihood += float(np.sum(phi.T * (var_phi @ (elogbeta_doc * counts))))

        converge = (likelihood - old_likelihood) / abs(old_likelihood)
        old_likelihood = likelihood
        it += 1

    beta_contrib = var_phi.T @ (phi.T * counts)
    return likelihood, var_phi, beta_contrib


class HdpModel:
    """Driver-resident online-HDP state (hdpmodel.py:295-389 attributes,
    eager λ decay — see module docstring)."""

    def __init__(self, num_terms: int, num_docs: int,
                 kappa: float = 1.0, tau: float = 64.0,
                 K: int = 15, T: int = 150, alpha: float = 1.0,
                 gamma: float = 1.0, eta: float = 0.01, scale: float = 1.0,
                 var_converge: float = 0.0001, random_seed: int = 13):
        self.m_W = int(num_terms)
        self.m_D = int(num_docs)
        self.m_T = int(T)
        self.m_K = int(K)
        self.m_alpha = float(alpha)
        self.m_gamma = float(gamma)
        self.m_eta = float(eta)
        self.m_tau = float(tau) + 1.0                # hdpmodel.py:371
        self.m_kappa = float(kappa)
        self.m_scale = float(scale)
        self.m_var_converge = float(var_converge)
        self.random_seed = int(random_seed)

        self.m_var_sticks = np.zeros((2, self.m_T - 1))
        self.m_var_sticks[0] = 1.0
        self.m_var_sticks[1] = np.arange(self.m_T - 1, 0, -1)
        self.m_varphi_ss = np.zeros(self.m_T)

        rs = np.random.RandomState(self.random_seed)
        self.m_lambda = (rs.gamma(1.0, 1.0, (self.m_T, self.m_W))
                         * self.m_D * 100.0 / (self.m_T * self.m_W)
                         - self.m_eta)               # hdpmodel.py:367
        self.m_lambda_sum = np.sum(self.m_lambda, axis=1)
        self.m_updatect = 0
        self.m_num_docs_processed = 0
        self.lda_alpha: np.ndarray | None = None
        self.lda_beta: np.ndarray | None = None

    def elogbeta(self) -> np.ndarray:
        """E[log β] from the current λ (hdpmodel.py:552-554, full-width)."""
        return (digamma(self.m_eta + self.m_lambda)
                - digamma(self.m_W * self.m_eta
                          + self.m_lambda_sum)[:, np.newaxis])

    def update_lambda(self, sticks_ss: np.ndarray, beta_ss: np.ndarray,
                      chunksize: int, word_list: np.ndarray,
                      opt_o: bool = True):
        """ρ-blended stochastic update + stick refresh (hdpmodel.py:685-725);
        λ decays eagerly across all columns (see module docstring).

        Σλ follows the reference's recurrence
        ``(1−ρ)·Σλ + ρ·D·Σ_w β_ss[:, w] / chunksize`` over the chunk's word
        columns; it is not recomputed from the eagerly decayed λ.  The two
        agree in exact arithmetic but not to the last bit, and E[log β]
        (hence the next chunk's E-step) reads Σλ."""
        rhot = self.m_scale * pow(self.m_tau + self.m_updatect, -self.m_kappa)
        if rhot < RHOT_BOUND:
            rhot = RHOT_BOUND
        self.m_lambda *= 1.0 - rhot
        self.m_lambda[:, word_list] += \
            rhot * self.m_D * beta_ss / chunksize
        self.m_lambda_sum = (1.0 - rhot) * self.m_lambda_sum \
            + rhot * self.m_D * np.sum(beta_ss, axis=1) / chunksize
        self.m_updatect += 1
        self.m_varphi_ss = (1.0 - rhot) * self.m_varphi_ss \
            + rhot * sticks_ss * self.m_D / chunksize
        if opt_o:
            self.optimal_ordering()
        self.m_var_sticks[0] = self.m_varphi_ss[: self.m_T - 1] + 1.0
        var_phi_sum = np.flipud(self.m_varphi_ss[1:])
        self.m_var_sticks[1] = np.flipud(np.cumsum(var_phi_sum)) + self.m_gamma

    def optimal_ordering(self):
        """Reorder topics by λ mass (hdpmodel.py:727-733)."""
        idx = np.argsort(-self.m_lambda_sum, kind="stable")
        self.m_varphi_ss = self.m_varphi_ss[idx]
        self.m_lambda = self.m_lambda[idx, :]
        self.m_lambda_sum = self.m_lambda_sum[idx]

    def hdp_to_lda(self):
        """Expected-stick α and normalised β (hdpmodel.py:877-899)."""
        sticks = self.m_var_sticks[0] / (self.m_var_sticks[0]
                                         + self.m_var_sticks[1])
        alpha = np.zeros(self.m_T)
        left = 1.0
        for i in range(self.m_T - 1):
            alpha[i] = sticks[i] * left
            left -= alpha[i]
        alpha[self.m_T - 1] = left
        alpha *= self.m_alpha
        beta = (self.m_lambda + self.m_eta) / (
            self.m_W * self.m_eta + self.m_lambda_sum[:, np.newaxis])
        return alpha, beta

    def finalize(self):
        """Freeze the (lda_alpha, lda_beta) inference surface
        (hdpmodel.py:473-477)."""
        self.lda_alpha, self.lda_beta = self.hdp_to_lda()

    def get_topics(self) -> np.ndarray:
        """Row-normalised topic-term matrix (hdpmodel.py:787-797)."""
        _, beta = self.hdp_to_lda()
        return beta

    def show_topic(self, topic_id: int, topn: int = 20):
        """Top-n (term_id, prob) for one topic (hdpmodel.py:749-785)."""
        topic = self.get_topics()[topic_id]
        idx = np.argsort(-topic, kind="stable")[:topn]
        return [(int(t), float(topic[t])) for t in idx]

    def suggested_lda_model(self) -> LdaModel:
        """Closest LdaModel: num_topics=T, expElogβ := β
        (hdpmodel.py:901-917)."""
        alpha, beta = self.hdp_to_lda()
        ldam = LdaModel(self.m_T, self.m_W, alpha=alpha,
                        random_seed=self.random_seed)
        ldam.exp_elogbeta = beta.copy()
        return ldam


def _chunk_estep(docs_chunk: DataFrame, model: HdpModel) -> tuple:
    """One distributed chunk E-step: returns
    (sticks_ss (T,), beta_ss (T, W) dense on the driver, word_list,
    likelihood, word_count, ndocs).

    Packed ``(i = term·T + topic, v)`` partials, map-side combined; the T
    stick statistics and the scalar score/counts ride as negative ids.
    """
    T, K = model.m_T, model.m_K
    m_alpha, var_converge = model.m_alpha, model.m_var_converge
    sc = docs_chunk.sparkSession.sparkContext
    bc_elogbeta = sc.broadcast(model.elogbeta())
    bc_sticks = sc.broadcast(expect_log_sticks(model.m_var_sticks))

    def gen(batches):
        import pandas as pd

        elogbeta = bc_elogbeta.value
        elogsticks_1st = bc_sticks.value
        acc: dict[int, np.ndarray] = {}
        sticks_ss = np.zeros(T)
        score = 0.0
        count = 0.0
        ndocs = 0
        for pdf in batches:
            for ids_l, cts_l in zip(pdf["ids"], pdf["cts"]):
                ids = np.asarray(ids_l, dtype=np.int64)
                if len(ids) == 0:
                    continue
                cts = np.asarray(cts_l, dtype=np.float64)
                lik, var_phi, beta_contrib = doc_e_step(
                    ids, cts, elogbeta[:, ids], elogsticks_1st,
                    m_alpha, K, var_converge)
                sticks_ss += np.sum(var_phi, 0)       # hdpmodel.py:680
                for j, t in enumerate(ids):           # hdpmodel.py:681
                    vec = acc.get(int(t))
                    if vec is None:
                        acc[int(t)] = beta_contrib[:, j].copy()
                    else:
                        vec += beta_contrib[:, j]
                score += lik
                count += float(np.sum(cts))
                ndocs += 1
        n_terms = len(acc)
        i_out = np.empty(n_terms * T + T + 3, dtype=np.int64)
        v_out = np.empty(n_terms * T + T + 3, dtype=np.float64)
        pos = 0
        for t in sorted(acc):
            i_out[pos:pos + T] = np.int64(t) * T + np.arange(T)
            v_out[pos:pos + T] = acc[t]
            pos += T
        i_out[pos:pos + T] = -(np.arange(T) + 1)      # stick stats
        v_out[pos:pos + T] = sticks_ss
        i_out[pos + T] = -(T + 1)
        v_out[pos + T] = score
        i_out[pos + T + 1] = -(T + 2)
        v_out[pos + T + 1] = count
        i_out[pos + T + 2] = -(T + 3)
        v_out[pos + T + 2] = float(ndocs)
        yield pd.DataFrame({"i": i_out, "v": v_out})

    rows = (docs_chunk.mapInPandas(gen, "i long, v double")
            .groupBy("i").agg(F.sum("v").alias("v")).collect())
    sticks_ss = np.zeros(T)
    beta_ss = np.zeros((T, model.m_W))
    score = count = ndocs = 0.0
    for r in rows:
        i, val = r["i"], r["v"]
        if i >= 0:
            beta_ss[i % T, i // T] = val
        elif i == -(T + 1):
            score = val
        elif i == -(T + 2):
            count = val
        elif i == -(T + 3):
            ndocs = val
        else:
            sticks_ss[-i - 1] = val
    word_list = np.where(beta_ss.any(axis=0))[0]
    bc_elogbeta.destroy()
    bc_sticks.destroy()
    return sticks_ss, beta_ss, word_list, score, count, int(ndocs)


def hdp_fit(postings: DataFrame, num_terms: int | None = None,
            chunksize: int = 256, max_chunks: int | None = None,
            **model_kwargs) -> HdpModel:
    """Online HDP over ``(doc_id, term_id, tf)`` postings
    (hdpmodel.py:450-577 update/update_chunk semantics).

    Chunks are ``doc_id // chunksize`` ranges — the reference's sequential
    ``grouper`` for its own consecutive ids.  ``max_chunks`` wraps around the
    corpus for extra stochastic updates exactly like the reference.
    """
    if num_terms is None:
        num_terms = infer_dim(postings, "term_id")
    docs = (corpus_bow(postings)
            .withColumn("chunk", (F.col("doc_id") / chunksize)
                        .cast("long"))
            .cache())
    agg = docs.agg(F.count("*").alias("n"),
                   F.max("chunk").alias("mx")).first()
    n_docs, n_chunks = agg["n"], int(agg["mx"]) + 1
    model = HdpModel(num_terms=num_terms, num_docs=n_docs, **model_kwargs)

    n_updates = n_chunks if max_chunks is None else int(max_chunks)
    for u in range(n_updates):
        c = u % n_chunks
        chunk_df = docs.where(F.col("chunk") == c).select("ids", "cts")
        sticks_ss, beta_ss, word_list, _, _, ndocs = _chunk_estep(
            chunk_df, model)
        if ndocs == 0:
            continue
        model.update_lambda(sticks_ss, beta_ss[:, word_list], ndocs,
                            word_list, opt_o=True)
        model.m_num_docs_processed += ndocs
    docs.unpersist()
    model.finalize()
    return model


def hdp_doc_topics(postings: DataFrame, model: HdpModel,
                   eps: float = 0.01) -> DataFrame:
    """Per-document topic distribution through the frozen LDA surface
    (hdpmodel.py:391-448 inference/__getitem__): rows
    ``(doc_id, topic, prob)`` with topics below ``eps`` dropped."""
    if model.lda_alpha is None or model.lda_beta is None:
        raise RuntimeError("model must be trained to perform inference")
    sc = postings.sparkSession.sparkContext
    bc = sc.broadcast((model.lda_alpha, model.lda_beta))
    docs = corpus_bow(postings)

    def gen(batches):
        import pandas as pd

        alpha, beta = bc.value
        for pdf in batches:
            out_doc, out_topic, out_prob = [], [], []
            for doc_id, ids_l, cts_l in zip(pdf["doc_id"], pdf["ids"],
                                            pdf["cts"]):
                ids = np.asarray(ids_l, dtype=np.int64)
                if len(ids) == 0:
                    continue
                cts = np.asarray(cts_l, dtype=np.float64)
                _, gamma = lda_e_step(ids, cts, alpha, beta)
                s = gamma.sum()
                if s == 0:
                    continue
                dist = gamma / s
                for t in np.where(dist >= eps)[0]:
                    out_doc.append(int(doc_id))
                    out_topic.append(int(t))
                    out_prob.append(float(dist[t]))
            yield pd.DataFrame({"doc_id": out_doc, "topic": out_topic,
                                "prob": out_prob})

    return docs.mapInPandas(gen, "doc_id long, topic int, prob double")


def topics_df(spark: SparkSession, model: HdpModel) -> DataFrame:
    """The full (topic, term_id, prob) matrix as a DataFrame — the
    relational query surface over the trained artifact."""
    import pandas as pd

    beta = model.get_topics()
    t, w = beta.shape
    # vectorized Arrow path — T×W Python tuples (150 topics × a real
    # vocabulary) would be driver-resident PyObject soup
    pdf = pd.DataFrame({
        "topic": np.repeat(np.arange(t, dtype=np.int32), w),
        "term_id": np.tile(np.arange(w, dtype=np.int32), t),
        "prob": beta.astype(np.float64).ravel()})
    return spark.createDataFrame(pdf, "topic int, term_id int, prob double")


def evaluate_test_corpus(postings: DataFrame, model: HdpModel) -> float:
    """Σ per-document LDA-E-step likelihood on held-out postings
    (hdpmodel.py:919-953), distributed as one scalar agg."""
    if model.lda_alpha is None or model.lda_beta is None:
        model.finalize()
    sc = postings.sparkSession.sparkContext
    bc = sc.broadcast((model.lda_alpha, model.lda_beta))
    docs = corpus_bow(postings)

    def gen(batches):
        import pandas as pd

        alpha, beta = bc.value
        score = 0.0
        for pdf in batches:
            for ids_l, cts_l in zip(pdf["ids"], pdf["cts"]):
                ids = np.asarray(ids_l, dtype=np.int64)
                if len(ids) == 0:
                    continue
                cts = np.asarray(cts_l, dtype=np.float64)
                lik, _ = lda_e_step(ids, cts, alpha, beta)
                score += lik
        yield pd.DataFrame({"score": [score]})

    total = (docs.mapInPandas(gen, "score double")
             .agg(F.sum("score").alias("s")).first()["s"])
    return float(total or 0.0)
