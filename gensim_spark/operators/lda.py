"""Latent Dirichlet Allocation — online/batch variational Bayes on Spark.

Reference: ``gensim.models.ldamodel.LdaModel`` — Hoffman, Blei, Bach (2010)
"Online Learning for Latent Dirichlet Allocation" exactly as the reference
implements it:

* priors via ``init_dir_prior`` — 'symmetric' 1/K, 'asymmetric'
  1/(k+√K) normalized, 'auto' (optimized by Newton updates), scalars and
  arrays (ldamodel.py:528-609);
* λ initialised as Gamma(100, 1/100) draws and — reference quirk kept —
  the initial expElogβ computed from the raw sstats *without* adding η
  (ldamodel.py:510-512);
* per-document E-step with the Lee & Seung implicit-φ update, ``iterations``
  cap and ``gamma_threshold`` mean-absolute-change stop (ldamodel.py:644-748);
* M-step blending sstats with rate ρ = (τ₀ + pass + t)^(−κ)
  (LdaState.blend ldamodel.py:201-238, rho() ldamodel.py:968-969,
  do_mstep ldamodel.py:1050-1083);
* ELBO ``bound`` / ``log_perplexity`` term-for-term (ldamodel.py:1085-1145),
  α optimization by Huang's Newton step (update_dir_prior ldamodel.py:114-151).

Spark shape — the E-step is embarrassingly parallel and the model is the
only global:

1. the BoW corpus is one ``groupBy(doc_id)`` of the postings (the lists are
   ``sort_array``-ed so per-document float reductions are order-exact and
   independent of partitioning); the fit caches it, and one aggregate over
   the cache both builds it and yields the document count and (when not
   given) the vocabulary width;
2. each pass broadcasts expElogβ (K×V — the model, driver-resident exactly
   as in the reference) and runs one ``mapInArrow`` over the documents.
   Each Arrow batch is cut on document boundaries into slices whose
   pairs × K working arrays fit ``_SLICE_ELEMS``, and :func:`infer_batch`
   runs every document of a slice through the variational iterations in
   lockstep. The slice's sufficient statistics are summed per term with
   ``np.unique`` and one ``np.bincount`` per topic, and each task emits its
   partition's statistics once, as packed ``(i = term·K + topic, v)`` rows
   over the terms present — the shuffle carries ≤ |terms-in-partition|·K
   rows per task, never per-document data, and is map-side combined by the
   ``groupBy(i).sum``;
3. the driver collects the reduced partials through Arrow (``toPandas``),
   scatters them into K×V with numpy and applies the blend M-step.

Determinism: the reference draws each document's initial γ from a shared
sequential RandomState (ldamodel.py:678), which has no distributed
equivalent — here every (document, update) pair gets its own counter-mixed
seed. Every step of :func:`infer_batch` is row-wise, so a document's γ is
bit-identical whether it runs alone, in any batch or in any slice
(``tests/test_lda_batch.py`` pins this), and results are stable under any
partitioning or execution order up to the order of the cross-document
sums (the tests' numpy replica uses the same seeds). dtype is float64
(the reference defaults to float32) for stable cross-partition reductions.

Scale: one job per (pass, statistic); model broadcast is O(K·V) like the
reference's own worker memory (gensim/models/lda_worker.py); vocab size is
bounded by ``filter_extremes`` upstream exactly as the reference advises.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensim_spark.functions.special import (
    digamma,
    dirichlet_expectation,
    gammaln,
    logsumexp,
    trigamma,
)

_GAMMA_SHAPE = 100.0  # ldamodel.py:511,678 — Gamma(100, 1/100) init draws


def doc_seed(base_seed: int, update_no: int, doc_id: int) -> int:
    """Counter-mixed per-(document, update) RNG seed — the distributed
    replacement for the reference's sequential ``random_state`` draws."""
    h = (int(doc_id) * 2654435761 + int(update_no) * 976369 + int(base_seed) * 31) & 0xFFFFFFFF
    return h


def init_gamma(base_seed: int, update_no: int, doc_id: int, num_topics: int) -> np.ndarray:
    """The document's initial γ draw (ldamodel.py:678 semantics, per-doc RNG)."""
    return init_gammas(base_seed, update_no, [doc_id], num_topics)[0]


def init_gammas(base_seed: int, update_no: int, doc_ids,
                num_topics: int) -> np.ndarray:
    """:func:`init_gamma` for each of ``doc_ids`` → (B, K). One RandomState
    is re-seeded per document: ``seed`` resets the whole legacy state (the
    cached Gaussian too), so each row equals a fresh ``RandomState`` draw."""
    rs = np.random.RandomState()
    out = np.empty((len(doc_ids), int(num_topics)))
    for row, doc_id in enumerate(doc_ids):
        rs.seed(doc_seed(base_seed, update_no, doc_id))
        out[row] = rs.gamma(_GAMMA_SHAPE, 1.0 / _GAMMA_SHAPE, int(num_topics))
    return out


def _phinorm(expelogtheta: np.ndarray, lens: np.ndarray,
             eebd: np.ndarray) -> np.ndarray:
    """φnorm per pair (without ε): Σₖ expElogθ[doc, k]·expElogβ[k, term],
    summed over k in order, so a pair's value never depends on the others.
    ``lens`` are the pairs per document (pairs in document order)."""
    et = np.ascontiguousarray(expelogtheta.T)
    acc = np.repeat(et[0], lens) * eebd[0]
    for k in range(1, eebd.shape[0]):
        acc += np.repeat(et[k], lens) * eebd[k]
    return acc


def infer_batch(ids: np.ndarray, cts: np.ndarray, lens: np.ndarray,
                gamma: np.ndarray, exp_elogbeta: np.ndarray,
                alpha: np.ndarray, iterations: int, gamma_threshold: float):
    """Variational inference (ldamodel.py:697-734) for a batch of documents
    in lockstep: the implicit-φ Lee & Seung update, ``iterations`` cap and
    per-document ``gamma_threshold`` stop.

    ``ids``/``cts`` are the documents' (term, count) pairs concatenated in
    document order, ``lens`` the pairs per document and ``gamma`` the
    (B, K) initial γ rows. Returns (γ (B, K), expElogθ (B, K), φnorm per
    pair). A document that meets the threshold keeps that iteration's
    values while the others iterate on. Every step works per document or
    per pair (φnorm as an in-order product-sum over topics, γ as a
    per-document segment sum, ψ elementwise), so a document's result does
    not depend on the batch it runs in.
    """
    eps = np.finfo(np.float64).eps
    ids = np.asarray(ids, dtype=np.int64)
    cts = np.asarray(cts, dtype=np.float64)
    lens = np.asarray(lens, dtype=np.int64)
    out_g = np.array(gamma, dtype=np.float64, ndmin=2)
    out_e = np.exp(dirichlet_expectation(out_g))
    eebd = exp_elogbeta[:, ids]                        # (K, P)
    out_pn = _phinorm(out_e, lens, eebd) + eps
    if iterations <= 0 or lens.size == 0:
        return out_g, out_e, out_pn
    # the working set: the rows still iterating plus any that stopped
    # since the last compaction (``live`` marks the former)
    rows, pairs = np.arange(lens.size), np.arange(ids.size)
    g, e, pn, c = out_g, out_e, out_pn, cts
    live = np.ones(lens.size, dtype=bool)

    def store(m):
        pm = np.repeat(m, lens)
        out_g[rows[m]] = g[m]
        out_e[rows[m]] = e[m]
        out_pn[pairs[pm]] = pn[pm]

    for _ in range(iterations):
        nz = lens > 0
        seg = np.zeros_like(g)
        if nz.any():
            # np.add.reduceat gives a zero-length segment the element at
            # its offset, so only the non-empty documents are reduced
            starts = (np.cumsum(lens) - lens)[nz]
            seg[nz] = np.add.reduceat(eebd * (c / pn), starts, axis=1).T
        lastg = g
        g = alpha + e * seg
        e = np.exp(dirichlet_expectation(g))
        pn = _phinorm(e, lens, eebd) + eps
        done = live & (np.mean(np.abs(g - lastg), axis=1) < gamma_threshold)
        if not done.any():
            continue
        store(done)
        live &= ~done
        if not live.any():
            return out_g, out_e, out_pn
        if 2 * int(lens[live].sum()) <= pn.size:       # drop the stopped rows
            pm = np.repeat(live, lens)
            eebd, c, pn, pairs = eebd[:, pm], c[pm], pn[pm], pairs[pm]
            g, e, rows, lens = g[live], e[live], rows[live], lens[live]
            live = np.ones(lens.size, dtype=bool)
    store(live)
    return out_g, out_e, out_pn


def infer_doc(ids: np.ndarray, cts: np.ndarray, gammad: np.ndarray,
              exp_elogbeta: np.ndarray, alpha: np.ndarray,
              iterations: int, gamma_threshold: float):
    """One document's variational inference (ldamodel.py:697-734): returns
    (γ_d, expElogθ_d, φ-normaliser) — a one-document :func:`infer_batch`."""
    g, e, pn = infer_batch(ids, cts, [len(ids)], gammad, exp_elogbeta,
                           alpha, iterations, gamma_threshold)
    return g[0], e[0], pn


# One slice's (pairs × K) float64 working arrays hold at most this many
# elements (32 MiB); Arrow batches are cut on document boundaries to fit.
_SLICE_ELEMS = 1 << 22


def _bow_slices(batches, k: int, extra: tuple = (), doc_extra: tuple = ()):
    """Arrow batches of ``corpus_bow`` rows → (doc_ids, ids, cts, lens)
    slices of whole documents, each within ``_SLICE_ELEMS`` pairs × K (a
    larger document is a slice of its own). ``doc_ids`` is None for rows
    without a ``doc_id`` column. ``extra`` names further per-posting
    columns (one list per document, aligned with ``ids``) and
    ``doc_extra`` per-document list columns of one width; each slice
    carries them after ``lens`` as (postings,) and (documents, width)
    arrays."""
    import pyarrow.compute as pc

    cap = max(1, _SLICE_ELEMS // k)
    for batch in batches:
        n = batch.num_rows
        if n == 0:
            continue
        doc_ids = (batch.column("doc_id").to_numpy().astype(np.int64)
                   if "doc_id" in batch.schema.names else None)
        lens = pc.list_value_length(batch.column("ids")).to_numpy().astype(np.int64)
        ids = batch.column("ids").flatten().to_numpy().astype(np.int64)
        cts = batch.column("cts").flatten().to_numpy().astype(np.float64)
        cols = [batch.column(c).flatten().to_numpy() for c in extra]
        rows = [batch.column(c).flatten().to_numpy().reshape(n, -1)
                for c in doc_extra]
        offs = np.concatenate(([0], np.cumsum(lens)))
        lo = 0
        while lo < n:
            hi = int(np.searchsorted(offs, offs[lo] + cap, side="right")) - 1
            hi = max(hi, lo + 1)
            a, b = offs[lo], offs[hi]
            yield (None if doc_ids is None else doc_ids[lo:hi],
                   ids[a:b], cts[a:b], lens[lo:hi],
                   *[x[a:b] for x in cols], *[x[lo:hi] for x in rows])
            lo = hi


def _infer_slices(batches, exp_elogbeta, alpha, iterations, gamma_threshold,
                  seed, update_no):
    """Fresh inference over Arrow batches of ``corpus_bow`` rows: per slice
    (doc_ids, ids, cts, lens, γ, expElogθ, φnorm), every document's initial
    γ drawn from its own (document, update) seed."""
    k = exp_elogbeta.shape[0]
    for doc_ids, ids, cts, lens in _bow_slices(batches, k):
        g0 = init_gammas(seed, update_no, doc_ids, k)
        yield (doc_ids, ids, cts, lens) + infer_batch(
            ids, cts, lens, g0, exp_elogbeta, alpha, iterations,
            gamma_threshold)


def update_dir_prior(prior: np.ndarray, n: float, logphat: np.ndarray,
                     rho: float) -> np.ndarray:
    """Huang's Newton step for a Dirichlet prior (ldamodel.py:114-151)."""
    gradf = n * (digamma(np.sum(prior)) - digamma(prior) + logphat)
    c = n * trigamma(np.sum(prior))
    q = -n * trigamma(prior)
    b = np.sum(gradf / q) / (1.0 / c + np.sum(1.0 / q))
    dprior = -(gradf - b) / q
    updated = rho * dprior + prior
    return updated if np.all(updated > 0) else prior


def _init_prior(prior, name: str, num_topics: int, num_terms: int):
    """init_dir_prior (ldamodel.py:528-609) → (vector, is_auto)."""
    shape = num_topics if name == "alpha" else num_terms
    if prior is None:
        prior = "symmetric"
    is_auto = False
    if isinstance(prior, str):
        if prior == "symmetric":
            vec = np.full(shape, 1.0 / num_topics)
        elif prior == "asymmetric":
            if name != "alpha":
                raise ValueError("'asymmetric' is only defined for alpha")
            vec = 1.0 / (np.arange(shape) + np.sqrt(num_topics))
            vec /= vec.sum()
        elif prior == "auto":
            is_auto = True
            vec = np.full(shape, 1.0 / num_topics)
        else:
            raise ValueError(f"unknown prior {prior!r} for {name}")
    elif np.ndim(prior) == 0:
        vec = np.full(shape, float(prior))
    else:
        vec = np.asarray(prior, dtype=np.float64)
        if vec.shape != (shape,):
            raise ValueError(f"{name} shape {vec.shape} != ({shape},)")
    return vec.astype(np.float64), is_auto


class LdaModel:
    """The fitted model state — driver-resident λ exactly like the
    reference's ``LdaModel``/``LdaState`` pair; all corpus-sized work is
    delegated to the module functions that take DataFrames."""

    def __init__(self, num_topics: int, num_terms: int,
                 alpha="symmetric", eta=None,
                 decay: float = 0.5, offset: float = 1.0,
                 iterations: int = 50, gamma_threshold: float = 0.001,
                 minimum_probability: float = 0.01,
                 random_seed: int = 13, chunksize: int = 2000):
        self.num_topics = int(num_topics)
        self.num_terms = int(num_terms)
        self.decay = float(decay)
        self.offset = float(offset)
        self.iterations = int(iterations)
        self.gamma_threshold = float(gamma_threshold)
        self.minimum_probability = float(minimum_probability)
        self.random_seed = int(random_seed)
        self.chunksize = int(chunksize)
        self.alpha, self.optimize_alpha = _init_prior(
            alpha, "alpha", self.num_topics, self.num_terms)
        self.eta, self.optimize_eta = _init_prior(
            eta, "eta", self.num_topics, self.num_terms)
        rs = np.random.RandomState(self.random_seed)
        # ldamodel.py:510-512 — sstats ~ Gamma(100, 1/100); initial
        # expElogbeta from the raw sstats (not eta + sstats: reference quirk)
        self.sstats = rs.gamma(_GAMMA_SHAPE, 1.0 / _GAMMA_SHAPE,
                               (self.num_topics, self.num_terms))
        self.exp_elogbeta = np.exp(dirichlet_expectation(self.sstats))
        self.numdocs = 0
        self.num_updates = 0

    # --- LdaState surface (ldamodel.py:154-283) ---

    def get_lambda(self) -> np.ndarray:
        return self.eta + self.sstats

    def get_elogbeta(self) -> np.ndarray:
        return dirichlet_expectation(self.get_lambda())

    def get_topics(self) -> np.ndarray:
        """Row-normalised topic-term probabilities (ldamodel.py:1221-1239)."""
        lam = self.get_lambda()
        return lam / lam.sum(axis=1)[:, np.newaxis]

    def blend(self, rhot: float, other_sstats: np.ndarray, other_numdocs: int):
        """LdaState.blend (ldamodel.py:201-238), targetsize = self.numdocs."""
        targetsize = self.numdocs
        # self-side stretch is targetsize/self.numdocs == 1 with targetsize=None
        self.sstats *= (1.0 - rhot)
        if other_numdocs == 0 or targetsize == other_numdocs:
            scale = 1.0
        else:
            scale = 1.0 * targetsize / other_numdocs
        self.sstats += rhot * scale * other_sstats

    def do_mstep(self, rho: float, other_sstats: np.ndarray,
                 other_numdocs: int, extra_pass: bool = False):
        """do_mstep + sync_state (ldamodel.py:1050-1083, 624-637)."""
        self.blend(rho, other_sstats, other_numdocs)
        self.exp_elogbeta = np.exp(self.get_elogbeta())
        if not extra_pass:
            self.num_updates += other_numdocs

    def rho(self, pass_: int) -> float:
        """ρ_t = (τ₀ + pass + t)^(−κ) (ldamodel.py:968-969)."""
        return pow(self.offset + pass_ + self.num_updates / self.chunksize,
                   -self.decay)


def _empty_dims(col: str, what: str) -> ValueError:
    return ValueError(f"cannot infer dimensions from an empty {what} "
                      f"(no rows carry a {col})")


def infer_dim(df: DataFrame, col: str, what: str = "corpus") -> int:
    """``max(col) + 1`` with a clear error on an empty input — a NULL max
    would otherwise surface as ``NoneType + int`` deep inside a fit."""
    m = df.agg(F.max(col).alias("m")).first()["m"]
    if m is None:
        raise _empty_dims(col, what)
    return int(m) + 1


def corpus_bow(postings: DataFrame, value_col: str | None = None) -> DataFrame:
    """(doc_id, term_id, value) postings → one row per document with
    parallel id/value arrays sorted by term id, ``(doc_id, ids, cts)`` — the
    unit the topic models' Arrow batches consume. ``cts`` carries
    ``value_col`` as double (default: ``tf`` when present, else
    ``weight``)."""
    tf_col = value_col or ("tf" if "tf" in postings.columns else "weight")
    pairs = F.sort_array(F.collect_list(F.struct("term_id", F.col(tf_col).alias("tf"))))
    return (postings.groupBy("doc_id").agg(pairs.alias("bow"))
            .select(
                "doc_id",
                F.transform("bow", lambda x: x["term_id"]).alias("ids"),
                F.transform("bow", lambda x: x["tf"].cast("double")).alias("cts"),
            ))


def _cached_bow(docs: DataFrame, num_terms: int | None) -> tuple:
    """Cache ``corpus_bow`` rows with one aggregate that builds the cache
    and reads off the document count and, when ``num_terms`` is None, the
    vocabulary width (max term id + 1) → (docs, lencorpus, num_terms)."""
    docs = docs.cache()
    row = docs.agg(F.count(F.lit(1)).alias("n"),
                   F.max(F.array_max("ids")).alias("m")).first()
    if num_terms is None:
        if row["m"] is None:
            docs.unpersist()
            raise _empty_dims("term_id", "corpus")
        num_terms = int(row["m"]) + 1
    return docs, int(row["n"]), num_terms


def _merge_term_sums(parts, k: int) -> tuple:
    """[(terms, (K, |terms|) sums)] → one (terms, sums) over their union."""
    terms, inv = np.unique(np.concatenate([t for t, _ in parts]),
                           return_inverse=True)
    vals = np.hstack([x for _, x in parts])
    return terms, np.stack([np.bincount(inv, weights=vals[t],
                                        minlength=terms.size)
                            for t in range(k)])


def _partition_sstats(slices, k: int) -> tuple:
    """One task's E-step statistics from its inferred slices → (terms
    present, (K, |terms|) sstats partials, Σ_d Elogθ_d, document count).
    Each slice is summed per term with ``np.unique`` and one ``np.bincount``
    per topic; slice partials are merged once they outgrow ``_SLICE_ELEMS``,
    so no dense K×V array is ever built."""
    parts = [(np.empty(0, np.int64), np.empty((k, 0)))]
    pending = 0
    elogtheta_sum = np.zeros(k)
    ndocs = 0
    for _, ids, cts, lens, g, e, pn in slices:
        # sstats[:, ids] += outer(expElogθ_d, cts/φnorm)  (ldamodel.py:734)
        terms, inv = np.unique(ids, return_inverse=True)
        w = cts / pn
        parts.append((terms, np.stack([
            np.bincount(inv, weights=np.repeat(e[:, t], lens) * w,
                        minlength=terms.size)
            for t in range(k)])))
        pending += terms.size
        if pending * k > _SLICE_ELEMS:
            parts = [_merge_term_sums(parts, k)]
            pending = 0
        elogtheta_sum += np.sum(dirichlet_expectation(g), axis=0)
        ndocs += lens.size
    return (*_merge_term_sums(parts, k), elogtheta_sum, ndocs)


def _estep(docs: DataFrame, model: LdaModel, update_no: int) -> tuple:
    """One distributed E-step: returns (sstats K×V, logphat Σ Elogθ, ndocs).

    Emits per-partition ``(i = term·K + topic, v)`` partials over the terms
    present; negative ``i`` carries the α-optimisation statistics (Σ_d
    Elogθ_d and the document count) so everything rides one job.
    """
    k, v = model.num_topics, model.num_terms
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(model.exp_elogbeta)
    alpha = model.alpha
    iters, thr = model.iterations, model.gamma_threshold
    seed = model.random_seed

    def gen(batches):
        import pyarrow as pa

        terms, vals, elogtheta_sum, ndocs = _partition_sstats(_infer_slices(
            batches, bc.value, alpha, iters, thr, seed, update_no), k)
        i_out = np.concatenate([
            (terms[:, None] * k + np.arange(k)).ravel(),
            -(np.arange(k + 1) + 1)])                 # Σ Elogθ rows, doc count
        v_out = np.concatenate([vals.T.ravel(), elogtheta_sum, [float(ndocs)]])
        yield pa.RecordBatch.from_arrays(
            [pa.array(i_out, pa.int64()), pa.array(v_out, pa.float64())],
            names=["i", "v"])

    pdf = (docs.mapInArrow(gen, "i long, v double")
           .groupBy("i").agg(F.sum("v").alias("v")).toPandas())
    i, val = pdf["i"].to_numpy(), pdf["v"].to_numpy()
    pos = i >= 0
    sstats = np.zeros((k, v))
    sstats[i[pos] % k, i[pos] // k] = val[pos]
    neg, nval = -i[~pos] - 1, val[~pos]
    elogtheta_sum = np.zeros(k)
    elogtheta_sum[neg[neg < k]] = nval[neg < k]
    ndocs = float(nval[neg == k].sum())
    sstats *= model.exp_elogbeta                      # ldamodel.py:744
    return sstats, elogtheta_sum, ndocs


def lda_fit(postings: DataFrame, num_topics: int, num_terms: int | None = None,
            passes: int = 1, callbacks=None, **model_kwargs) -> LdaModel:
    """Fit by batch EM over the corpus (``update_every=0`` semantics of
    ldamodel.py:855-1048: one E-step over everything, one M-step, per pass).

    ``callbacks``: list of ``operators.callbacks.Metric`` — evaluated after
    every pass exactly like ``LdaModel.update`` (ldamodel.py:971-1038);
    per-metric value lists land on ``model.metrics``.
    """
    docs, lencorpus, num_terms = _cached_bow(corpus_bow(postings), num_terms)
    model = LdaModel(num_topics, num_terms, **model_kwargs)
    model.numdocs += lencorpus                        # ldamodel.py:934
    cb = None
    if callbacks:
        from collections import defaultdict

        from gensim_spark.operators.callbacks import Callback
        cb = Callback(callbacks)
        cb.set_model(model)
        model.metrics = defaultdict(list)
    for pass_ in range(int(passes)):
        rho = model.rho(pass_)
        sstats, elogtheta_sum, ndocs = _estep(docs, model, update_no=pass_)
        if model.optimize_alpha and ndocs > 0:        # update_alpha (ldamodel.py:775-824)
            logphat = elogtheta_sum / ndocs
            model.alpha = update_dir_prior(model.alpha, ndocs, logphat, rho)
        model.do_mstep(rho, sstats, int(ndocs), extra_pass=pass_ > 0)
        if cb is not None:                            # ldamodel.py:1035-1038
            for label, value in cb.on_epoch_end(pass_).items():
                model.metrics[label].append(value)
    docs.unpersist()
    return model


def lda_fit_online(postings: DataFrame, num_topics: int,
                   num_terms: int | None = None, passes: int = 1,
                   update_chunks: int = 4, **model_kwargs) -> LdaModel:
    """Online (mini-batch) EM — ``update_every=1`` semantics of
    ldamodel.py:936-1048: E-step and ρ-blended M-step per chunk, with the
    reference's ρ_t = (τ₀ + pass + t/chunksize)^(−κ) schedule and
    ``num_updates`` accounting (grows only on the first pass,
    ldamodel.py:1081-1083).

    Deviation: the reference mini-batches in stream order; a DataFrame has
    no stream order, so chunks are ``doc_id % update_chunks`` — for
    stationary input (Hoffman et al.'s convergence setting) the chunk
    composition is immaterial, and hash-chunking is deterministic under any
    partitioning.
    """
    n_chunks = max(1, int(update_chunks))
    docs, lencorpus, num_terms = _cached_bow(corpus_bow(postings).withColumn(
        "_chunk", F.pmod(F.col("doc_id"), F.lit(n_chunks))), num_terms)
    model = LdaModel(num_topics, num_terms, **model_kwargs)
    model.chunksize = max(1, -(-lencorpus // n_chunks))   # actual chunk size
    model.numdocs += lencorpus                            # ldamodel.py:934
    for pass_ in range(int(passes)):
        for chunk_no in range(n_chunks):
            chunk = docs.filter(F.col("_chunk") == chunk_no).drop("_chunk")
            rho = model.rho(pass_)
            sstats, elogtheta_sum, ndocs = _estep(
                chunk, model, update_no=pass_ * n_chunks + chunk_no)
            if ndocs == 0:
                continue
            if model.optimize_alpha:
                logphat = elogtheta_sum / ndocs
                model.alpha = update_dir_prior(model.alpha, ndocs, logphat,
                                               rho)
            model.do_mstep(rho, sstats, int(ndocs), extra_pass=pass_ > 0)
    docs.unpersist()
    return model


def doc_topics(postings: DataFrame, model: LdaModel,
               minimum_probability: float | None = None,
               update_no: int = -1) -> DataFrame:
    """``get_document_topics`` over the whole corpus (ldamodel.py:1337-1364):
    fresh inference, θ = γ/Σγ, rows with θ ≥ max(min_probability, 1e-8)."""
    min_p = (model.minimum_probability if minimum_probability is None
             else float(minimum_probability))
    min_p = max(min_p, 1e-8)
    sc = postings.sparkSession.sparkContext
    bc = sc.broadcast(model.exp_elogbeta)
    alpha, iters, thr = model.alpha, model.iterations, model.gamma_threshold
    seed = model.random_seed

    def gen(batches):
        import pyarrow as pa

        for doc_ids, _, _, _, g, _, _ in _infer_slices(
                batches, bc.value, alpha, iters, thr, seed, update_no):
            theta = g / np.sum(g, axis=1)[:, None]
            row, topic = np.nonzero(theta >= min_p)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids[row], pa.int64()),
                 pa.array(topic, pa.int64()),
                 pa.array(theta[row, topic], pa.float64())],
                names=["doc_id", "topic_id", "probability"])

    return corpus_bow(postings).mapInArrow(
        gen, "doc_id long, topic_id long, probability double")


def doc_gamma(postings: DataFrame, model: LdaModel,
              update_no: int = -1) -> DataFrame:
    """Raw variational γ per document — all ``num_topics`` rows,
    unnormalized. This is the persistable artifact form of
    ``get_document_topics`` (ldamodel.py:1337-1364): given γ, the rest of
    the contract — θ = γ/Σγ and the ``minimum_probability`` filter — is
    pure relational post-processing that an external SQL engine can
    re-derive (the inference itself is iterative and pytest-pinned).
    → (doc_id, topic_id, gamma)."""
    k = model.num_topics
    sc = postings.sparkSession.sparkContext
    bc = sc.broadcast(model.exp_elogbeta)
    alpha, iters, thr = model.alpha, model.iterations, model.gamma_threshold
    seed = model.random_seed

    def gen(batches):
        import pyarrow as pa

        for doc_ids, _, _, _, g, _, _ in _infer_slices(
                batches, bc.value, alpha, iters, thr, seed, update_no):
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.repeat(doc_ids, k), pa.int64()),
                 pa.array(np.tile(np.arange(k), doc_ids.size), pa.int64()),
                 pa.array(g.ravel(), pa.float64())],
                names=["doc_id", "topic_id", "gamma"])

    return corpus_bow(postings).mapInArrow(
        gen, "doc_id long, topic_id long, gamma double")


def bound(postings: DataFrame, model: LdaModel,
          subsample_ratio: float = 1.0, update_no: int = -2) -> float:
    """The ELBO over the corpus (ldamodel.py:1085-1145): per-document terms
    computed distributed (fresh inference per doc, as the reference does when
    no γ is supplied), topic-prior terms added on the driver."""
    lam = model.get_lambda()
    elogbeta = dirichlet_expectation(lam)
    sc = postings.sparkSession.sparkContext
    bc_eeb = sc.broadcast(model.exp_elogbeta)
    bc_elb = sc.broadcast(elogbeta)
    alpha, iters, thr = model.alpha, model.iterations, model.gamma_threshold
    seed = model.random_seed
    galpha = float(np.sum(gammaln(alpha)))
    glnsum_alpha = float(gammaln(np.sum(alpha)))

    def gen(batches):
        import pyarrow as pa

        elb = bc_elb.value
        score = 0.0
        for _, ids, cts, lens, g, _, _ in _infer_slices(
                batches, bc_eeb.value, alpha, iters, thr, seed, update_no):
            elogtheta = dirichlet_expectation(g)
            # E[log p(doc | θ, β)]
            score += float(np.sum(cts * logsumexp(
                np.repeat(elogtheta, lens, axis=0) + elb.T[ids])))
            # E[log p(θ|α) − log q(θ|γ)]
            score += float(np.sum((alpha - g) * elogtheta))
            score += float(np.sum(gammaln(g))) - galpha * lens.size
            score += float(np.sum(glnsum_alpha - gammaln(np.sum(g, axis=1))))
        yield pa.RecordBatch.from_arrays([pa.array([score], pa.float64())],
                                         names=["v"])

    part = (corpus_bow(postings).mapInArrow(gen, "v double")
            .agg(F.sum("v").alias("v")).first()["v"] or 0.0)
    score = part * subsample_ratio
    # E[log p(β|η) − log q(β|λ)] — driver terms (ldamodel.py:1134-1143)
    score += float(np.sum((model.eta - lam) * elogbeta))
    score += float(np.sum(gammaln(lam) - gammaln(model.eta)))
    sum_eta = float(np.sum(model.eta))
    score += float(np.sum(gammaln(sum_eta) - gammaln(np.sum(lam, 1))))
    return score


def log_perplexity(postings: DataFrame, model: LdaModel) -> float:
    """Per-word ELBO (ldamodel.py:826-853): bound / token count."""
    tf_col = "tf" if "tf" in postings.columns else "weight"
    words = postings.agg(F.sum(tf_col).alias("s")).first()["s"] or 0.0
    return bound(postings, model) / float(words)


def topics_df(spark, model: LdaModel) -> DataFrame:
    """(topic_id, term_id, prob) long form of ``get_topics`` — K×V rows,
    driver-created (the model is driver-resident by construction)."""
    probs = model.get_topics()
    k, v = probs.shape
    import pandas as pd

    pdf = pd.DataFrame({
        "topic_id": np.repeat(np.arange(k, dtype=np.int64), v),
        "term_id": np.tile(np.arange(v, dtype=np.int64), k),
        "prob": probs.ravel(),
    })
    return spark.createDataFrame(pdf)


def show_topic(model: LdaModel, vocab: DataFrame, topic_id: int,
               topn: int = 10) -> DataFrame:
    """Top-probability terms of one topic (ldamodel.py:1202-1219)."""
    row = model.get_topics()[int(topic_id)]
    best = np.argsort(-row)[:topn]
    spark = vocab.sparkSession
    top = spark.createDataFrame(
        [(int(t), float(row[t]), r) for r, t in enumerate(best)],
        "term_id long, prob double, rank long")
    return (top.join(F.broadcast(vocab.select("term_id", "token")), "term_id")
            .orderBy("rank").select("token", "prob"))


def get_term_topics(model: LdaModel, term_id: int,
                    minimum_probability: float | None = None):
    """Most relevant topics for one term (ldamodel.py:1388-1418): topics
    whose expElogβ[topic, term] clears the threshold, as (topic_id, p)
    pairs in topic order. The floor of 1e-8 matches the reference's
    never-zero clamp."""
    min_p = (model.minimum_probability if minimum_probability is None
             else float(minimum_probability))
    min_p = max(min_p, 1e-8)
    col = np.exp(model.get_elogbeta())[:, int(term_id)]
    return [(k, float(col[k])) for k in range(model.num_topics)
            if col[k] >= min_p]


def top_topics(model: LdaModel, measure: str = "u_mass", topn: int = 20,
               vocab: DataFrame | None = None, **coherence_kw):
    """Topics ranked by coherence, best first (ldamodel.py:1255-1306):
    [(topic_repr, score)] where topic_repr is the top-``topn``
    (prob, term) list — term ids, or tokens when ``vocab`` is given.

    ``coherence_kw`` forwards to ``coherence.coherence_per_topic``
    (postings=/num_docs= for u_mass, texts= for the windowed measures).
    For the windowed measures the topic word lists handed to the estimator
    are token strings, so ``vocab`` is required there."""
    from gensim_spark.operators import coherence as C

    probs = model.get_topics()
    bestn = [np.argsort(-probs[t], kind="stable")[:topn].tolist()
             for t in range(model.num_topics)]
    id2tok = None
    if vocab is not None:
        id2tok = {r["term_id"]: r["token"]
                  for r in vocab.select("term_id", "token").collect()}
    topic_words = (bestn if measure == "u_mass"
                   else [[id2tok[w] for w in t] for t in bestn])
    scores = C.coherence_per_topic(topic_words, measure, **coherence_kw)
    reprs = [[(float(probs[t, w]), id2tok[w] if id2tok else int(w))
              for w in bestn[t]] for t in range(model.num_topics)]
    return sorted(zip(reprs, [float(s) for s in scores]),
                  key=lambda x: x[1], reverse=True)


def diff(model: LdaModel, other: LdaModel,
         distance: str = "kullback_leibler", num_words: int = 100,
         n_ann_terms: int = 10, diagonal: bool = False,
         annotation: bool = True, normed: bool = True):
    """Topic-difference matrix between two fitted models
    (ldamodel.py:1420-1513) — delegates to the shared distance kernels."""
    from gensim_spark.operators import distances as D

    return D.lda_diff(model.get_topics(), other.get_topics(),
                      distance=distance, num_words=num_words,
                      n_ann_terms=n_ann_terms, diagonal=diagonal,
                      annotation=annotation, normed=normed)
