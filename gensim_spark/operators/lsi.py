"""Latent Semantic Indexing — distributed randomized SVD over postings.

Reference: ``gensim.models.lsimodel`` — ``Projection`` holds ``u``
(num_terms × k left singular vectors of the term-document matrix) and ``s``
(singular values) computed by a one-pass stochastic SVD with oversampling
and power iterations (lsimodel.py:81-82 P2_EXTRA_DIMS=100/P2_EXTRA_ITERS=2,
stochastic_svd lsimodel.py:860-1061, after Halko, Martinsson, Tropp 2011,
"Finding structure with randomness"); ``LsiModel.__getitem__`` returns
``uᵀ·x`` per document, optionally scaled by ``1/s`` (lsimodel.py:578-636).

This implementation runs the same published algorithm with Spark doing every
corpus-sized product and the driver touching only ℓ×ℓ matrices (ℓ = k +
extra_dims ≪ corpus):

1. ``Y = A·Ω`` — Ω is the hash-sign test matrix (±1, Achlioptas — the same
   deterministic construction as operators/rp.py), applied as ℓ aggregate
   expressions per document. Ω never exists as data.
2. power iterations ``Y ← A·(Aᵀ·Y·R⁻¹)``, re-orthonormalized each round
   via the ℓ×ℓ Gram + Cholesky (the numerically safe variant of Halko
   Algorithm 4.4); ``AᵀQ`` is taken as ``W·R⁻¹`` with ``W = AᵀY``
   (term-keyed rows, cached each round).
3. thin QR by Cholesky, ``Q = Y·R⁻¹``, folded into the last pass: ``B =
   Qᵀ·A`` has term rows ``W·R⁻¹``, so ``G = B·Bᵀ = R⁻ᵀ·(WᵀW)·R⁻¹`` —
   neither Q nor B is ever materialized. Gram(Y) and Gram(W) come from
   ONE job: every sync point (one per power iteration, one at the end)
   runs one Gram job.
4. ``G`` (ℓ×ℓ) eigendecomposed in numpy; ``u = Bᵀ·Ū·Σ⁻¹ =
   W·(R⁻¹·Ū·Σ⁻¹)`` distributed (terms × k), ``s`` = top-k singular values.

Every matmul is whole-stage-codegen column arithmetic — one join + one
hash-agg with ℓ sum expressions, or one projection whose ℓ outputs are
each a single SQL expression (see ``_wide_times``); the ℓ×ℓ Gram products
are Arrow-batched numpy partials over a volume-sized width (see
``_gram``), and the only driver-side data ever collected is ℓ×ℓ. A is
(doc_id, term_id, weight) postings — raw tf or any weighted corpus, exactly
like the reference.

Exactness property used by the tests: when ℓ ≥ rank(A), the range finder
captures the full column space, so the result equals the exact truncated
SVD (up to per-topic sign) — hence the numpy-parity tests are strict, not
approximate-subspace checks.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

P2_EXTRA_DIMS = 100   # lsimodel.py:81
P2_EXTRA_ITERS = 2    # lsimodel.py:82


def sign_cols(term_col, ell: int) -> list:
    """ℓ Rademacher ±1 signs per term, bit-sliced from ⌈ℓ/64⌉ ``xxhash64``
    draws — one JVM hash evaluation per 64 sketch dims instead of one
    md5-of-string per dim (rp.sign_expr). At ℓ=300 over 10^12 postings that
    is 5 hashes per posting, not 300. Any Rademacher Ω satisfies the Halko
    range-finder guarantee; the construction here only needs to be
    deterministic per term, which xxhash64(term_id, block) is."""
    cols = []
    for blk in range((ell + 63) // 64):
        h = F.xxhash64(term_col, F.lit(blk))
        for b in range(min(64, ell - blk * 64)):
            bit = F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1))
            cols.append(F.when(bit == 1, F.lit(1.0)).otherwise(F.lit(-1.0)))
    return cols


def _agg_matmul(rows: DataFrame, key: str, in_cols: list[str],
                weight: str, out_prefix: str, n_out: int) -> DataFrame:
    """groupBy(key).agg(Σ weight·in_col_j) for j — one join-free hash-agg.
    Small driver-side matrix multiplies live in :func:`_wide_times`."""
    exprs = [F.sum(F.col(weight) * F.col(c)).alias(f"{out_prefix}{i}")
             for i, c in enumerate(in_cols)]
    return rows.groupBy(key).agg(*exprs)


def _wide_times(df: DataFrame, key: str, in_cols: list[str],
                mat: np.ndarray, out_prefix: str) -> DataFrame:
    """Row-wise (key, x₀..x_{n-1}) · mat (n × m) → (key, out₀..out_{m-1}).

    Each output is ONE SQL expression ``(`x₀` * c₀D) + (`x₁` * c₁D) + …``
    and all m go to one ``selectExpr``: Spark parses a ``D`` literal to the
    very double ``repr`` printed and ``+`` associates left, so every output
    is bit-identical to a Column-per-product build's, at one py4j call
    instead of 2·n·m (1-2 s of Python-side time per call at ℓ = 16). A
    non-finite entry has no literal form and is rejected."""
    mat = np.asarray(mat, dtype=np.float64)
    if not np.isfinite(mat).all():
        raise ValueError("_wide_times: matrix entries must be finite")
    rows = mat.tolist()
    outs = [" + ".join(f"(`{c}` * {rows[j][i]!r}D)"
                       for j, c in enumerate(in_cols))
            + f" AS `{out_prefix}{i}`" for i in range(mat.shape[1])]
    return df.selectExpr(f"`{key}`", *outs)


def _rows(df: DataFrame) -> int:
    """Rows of a Gram input. A cached frame answers from its cache's own
    statistics; a cache not built yet is first built through its own RDD —
    the job its first reader would launch anyway, at the cache's full
    width — so the statistics are exact. Any other frame is counted."""
    cached = (df.sparkSession._jsparkSession.sharedState().cacheManager()
              .lookupCachedData(df._jdf))
    if not cached.isDefined():
        return df.count()
    rel = cached.get().cachedRepresentation()
    cache = rel.cacheBuilder()
    if not cache.isCachedColumnBuffersLoaded():
        cache.cachedColumnBuffers().count()
    return int(rel.computeStats().rowCount().get())


def _gram(*parts: tuple[DataFrame, list[str]]) -> list[np.ndarray]:
    """XᵀX of each (frame, n columns) part, all from one Python job: the
    parts are tagged, unioned and folded by per-partition numpy Grams over
    Arrow batches.

    Width follows volume: the union is coalesced to ⌈rows·n·8 B /
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``⌉ tasks, never wider
    than it already is. ℓ-wide frames are cached at the shuffle width and
    every Python task pays a fixed worker cost (measured on a 4-core VM: a
    mapInPandas over a cached 2,000-row frame took 0.23-0.30 s at 1
    partition, 0.64-0.77 s at 8), so a frame of a few MB runs as one task
    and a corpus-sized one keeps its width. Rows come from :func:`_rows`; parts are cached frames
    (the coalesce would narrow the stage computing an uncached one). One
    task's partials are collected as they are; wider, they are tree-reduced
    through a map-side-combined (i → Σv) hash-agg, so each task ships
    exactly parts·n² rows regardless of |df| — scale-safe at any width.
    (A SQL aggregate of the ℓ(ℓ+1)/2 products spent 3-5 s per call in
    janino compilation at ℓ = 16; BLAS on the Arrow batch is both cheaper
    to launch and the fast path for a dense cross product.)"""
    import pandas as pd

    n, m = len(parts[0][1]), len(parts)
    x_cols = [f"x{j}" for j in range(n)]
    union = functools.reduce(DataFrame.union, [
        df.select(F.lit(t).alias("part"),
                  *[F.col(c).alias(x) for c, x in zip(cols, x_cols)])
        for t, (df, cols) in enumerate(parts)])
    rows = sum(_rows(df) for df, _ in parts)
    spark = union.sparkSession
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    width = max(1, -(-rows * n * 8 // advisory))

    def partial(batches):
        acc = np.zeros((m, n, n))
        for pdf in batches:
            tag = pdf["part"].to_numpy()
            x = pdf[x_cols].to_numpy(np.float64)
            for t in np.unique(tag):
                xt = x[tag == t]
                acc[t] += xt.T @ xt
        yield pd.DataFrame({"i": np.arange(m * n * n, dtype="int32"),
                            "v": acc.ravel()})

    out = union.coalesce(width).mapInPandas(partial, "i int, v double")
    if width > 1:
        out = out.groupBy("i").agg(F.sum("v").alias("v"))
    g = np.zeros(m * n * n)
    for r in out.collect():
        g[r["i"]] = r["v"]
    return list(g.reshape(m, n, n))


def _chol_inv(gram: np.ndarray) -> np.ndarray:
    """R⁻¹ for the thin-QR-by-Cholesky step, with a jitter retry for
    rank-deficient Y (ℓ > rank — common at toy scale)."""
    eps = 0.0
    for _ in range(6):
        try:
            r = np.linalg.cholesky(gram + eps * np.eye(len(gram))).T
            return np.linalg.inv(r)
        except np.linalg.LinAlgError:
            eps = max(eps * 10, 1e-12 * max(np.trace(gram), 1.0))
    raise np.linalg.LinAlgError("Gram matrix not factorizable")


class LsiProjection:
    """The fitted (u, s) pair — u distributed (term_id, t0..t{k-1}), s on
    the driver (k,). Mirrors ``lsimodel.Projection`` (lsimodel.py:157-240)."""

    def __init__(self, u: DataFrame, s: np.ndarray, num_topics: int):
        self.u = u
        self.s = s
        self.num_topics = num_topics

    def u_long(self) -> DataFrame:
        """(term_id, topic_id, value) long form of u."""
        cols = [f"t{i}" for i in range(self.num_topics)]
        pairs = F.array(*[
            F.struct(F.lit(i).alias("topic_id"), F.col(c).alias("value"))
            for i, c in enumerate(cols)])
        return (self.u.select("term_id", F.explode(pairs).alias("p"))
                .select("term_id", F.col("p.topic_id").cast("long").alias("topic_id"),
                        F.col("p.value").alias("value")))


def lsi_fit(postings: DataFrame, num_topics: int = 200,
            extra_dims: int | None = None, power_iters: int = P2_EXTRA_ITERS,
            weight_col: str = "weight") -> LsiProjection:
    """Fit the LSI projection over (doc_id, term_id, weight) postings."""
    k = int(num_topics)
    ell = k + (extra_dims if extra_dims is not None else min(P2_EXTRA_DIMS, k))
    w = weight_col

    # Y = A·Ω: per-doc ℓ sums of weight·sign(term, j)
    y_exprs = [
        F.sum(F.col(w) * s).alias(f"y{j}")
        for j, s in enumerate(sign_cols(F.col("term_id"), ell))
    ]
    y_cols = [f"y{j}" for j in range(ell)]
    w_cols = [f"w{j}" for j in range(ell)]
    z_cols = [f"z{j}" for j in range(ell)]
    y = postings.groupBy("doc_id").agg(*y_exprs).cache()

    # Each round caches W = AᵀY (term-keyed rows, row t = Σ_d weight·Y[d])
    # and takes Gram(Y) and Gram(W) from one job, which also builds both
    # caches. A power round re-orthonormalizes (Halko alg 4.4
    # stabilization) and sets Y ← A·(AᵀQ), AᵀQ = W·R⁻¹: a projection of a
    # built cache, so the planner sees its true size when it plans the
    # join. The new Y is checkpointed lazily, which TRUNCATES its logical
    # plan — without it the analyzed tree embeds both postings joins of
    # every prior round and Catalyst re-analysis doubles per round
    # (measured: 4.3 s/iter for p≤2, then 35 s at p=3) — and cached, so the
    # next round's Gram builds it and reads its size. W is released once
    # that build has read it.
    rounds = max(0, int(power_iters))
    w_prev = None
    for it in range(rounds + 1):
        wt = _agg_matmul(postings.join(y, "doc_id"), "term_id", y_cols, w,
                         "w", ell).cache()
        gram_y, gram_w = _gram((y, y_cols), (wt, w_cols))
        if w_prev is not None:
            w_prev.unpersist()
        rinv = _chol_inv(gram_y)
        if it == rounds:
            break
        z = _wide_times(wt, "term_id", w_cols, rinv, "z")
        y_next = _agg_matmul(postings.join(z, "term_id"), "doc_id", z_cols,
                             w, "y", ell).localCheckpoint(eager=False).cache()
        y.unpersist()
        y, w_prev = y_next, wt

    # thin QR by Cholesky (Q = Y·R⁻¹) folded into the last round: B = QᵀA
    # has term rows (row t = B[:, t]) W·R⁻¹, so G = B·Bᵀ = R⁻ᵀ·(WᵀW)·R⁻¹
    evals, evecs = np.linalg.eigh(rinv.T @ gram_w @ rinv)   # ascending
    order = np.argsort(evals)[::-1][:k]
    s = np.sqrt(np.maximum(evals[order], 0.0))
    # u = Bᵀ·Ū·Σ⁻¹ = W·(R⁻¹·Ū·Σ⁻¹) (terms × k), guarding σ≈0 (zero-pad
    # like the reference does when rank < k, lsimodel.py:235-239)
    safe = np.where(s > 1e-12, s, np.inf)
    wmat = evecs[:, order] / safe[np.newaxis, :]
    # materialize the basis, then release every fit-local cache — a
    # long-lived projection (repeated add_documents) must not pin one
    # ℓ-wide cached frame per update
    u = _wide_times(wt, "term_id", w_cols, rinv @ wmat, "t") \
        .localCheckpoint(eager=True)
    y.unpersist()
    wt.unpersist()
    out = LsiProjection(u, s, k)
    out.k_requested = k
    return out


def doc_topics(postings: DataFrame, projection: LsiProjection,
               scaled: bool = False, weight_col: str = "weight") -> DataFrame:
    """``uᵀ·x`` per document (lsimodel.py:613-636) → (doc_id, topic_id,
    weight) long form; ``scaled`` divides by s (lsimodel.py:586)."""
    k = projection.num_topics
    t_cols = [f"t{i}" for i in range(k)]
    joined = postings.join(projection.u, "term_id")
    wide = _agg_matmul(joined, "doc_id", t_cols, weight_col, "d", k)
    scale = (1.0 / np.where(projection.s > 1e-12, projection.s, np.inf)
             if scaled else np.ones(k))
    pairs = F.array(*[
        F.struct(F.lit(i).alias("topic_id"),
                 (F.col(f"d{i}") * F.lit(float(scale[i]))).alias("weight"))
        for i in range(k)])
    return (wide.select("doc_id", F.explode(pairs).alias("p"))
            .select("doc_id", F.col("p.topic_id").cast("long").alias("topic_id"),
                    F.col("p.weight").alias("weight")))


def clip_spectrum(s: np.ndarray, k: int, discard: float = 0.001) -> int:
    """How many factors to keep (lsimodel.py:85-111): drop the trailing
    ``min(discard, 1/k)`` of the energy spectrum, then clip against k.
    ``s`` is the EIGENvalue spectrum (singular values squared)."""
    s = np.asarray(s, dtype=np.float64)
    rel_spectrum = np.abs(1.0 - np.cumsum(s / np.sum(s)))
    small = 1 + len(np.where(rel_spectrum > min(discard, 1.0 / k))[0])
    return min(int(k), int(small))


def merge_projections(p1: LsiProjection, p2: LsiProjection,
                      decay: float = 1.0,
                      checkpoint: bool = True) -> LsiProjection:
    """Merge two fitted projections — ``Projection.merge``
    (lsimodel.py:242-332), the core of LSI's streamed one-pass updates
    (Řehůřek, "Fast and Faster: A Comparison of Two Streamed Matrix
    Decomposition Algorithms", arXiv:1102.5597).

    The reference's dense steps — c = U₁ᵀU₂; QR of the orthogonal
    component U₂−U₁c; SVD of the (n₁+n₂)² core; basis rotation — compose
    here so the distributed work is exactly two passes over the joined
    (term_id, u₁ᵣₒw, u₂ᵣₒw) frame: one (n₁+n₂)² Gram, whose blocks give
    c = U₁ᵀU₂ and the Gram of the orthogonal component (→ R by Cholesky
    QR), and one wide select producing the rotated basis
    ``U = U₁·(u1ₖ − c·R⁻¹·u2ₖ) + U₂·(R⁻¹·u2ₖ)`` — Q is never
    materialized, every driver matrix is topics-sized. Matches the
    reference numerically (full QR vs Cholesky QR differ only by a
    rotation the SVD absorbs); the trailing sign canonicalization (flip
    columns whose first-term entry is negative, lsimodel.py:328-332) is
    applied from the term_id-0 row."""
    if p2.u is None:
        return p1
    if p1.u is None:
        return p2
    n1, n2 = len(p1.s), len(p2.s)
    # clip against the ORIGINALLY REQUESTED k, not the possibly-clipped
    # column count — the reference's Projection keeps self.k across merges
    # so a low-rank early chunk never permanently caps later updates
    k = getattr(p1, "k_requested", p1.num_topics)
    a_cols = [f"t{i}" for i in range(n1)]
    b_cols = [f"b{i}" for i in range(n2)]
    u2 = p2.u.select("term_id",
                     *[F.col(f"t{i}").alias(b) for i, b in enumerate(b_cols)])
    joined = p1.u.join(u2, "term_id", "full_outer").select(
        "term_id",
        *[F.coalesce(F.col(c), F.lit(0.0)).alias(c)
          for c in a_cols + b_cols]).cache()

    # one Gram of [U1 U2] gives c = U1ᵀ·U2 (n1×n2) and U2ᵀU2, hence
    # the Gram of the orthogonal component U2 − U1·c without materializing
    # it: G = U2ᵀU2 − cᵀc (U1 orthonormal ⇒ U1ᵀU1 = I). QR by symmetric
    # eigendecomposition with a PSEUDO-inverse: directions where U2 already
    # lies inside span(U1) have eigenvalue ≈ 0 — their R rows are zeroed
    # (so the SVD of the core sees exactly zero new-basis mass there) and
    # their R⁺ columns are zeroed (no 1/√λ blow-up), the backward-stable
    # equivalent of the reference's explicit QR, which never inverts R.
    (full,) = _gram((joined, a_cols + b_cols))
    c = full[:n1, n1:]
    g2 = full[n1:, n1:] - c.T @ c
    evals, evecs = np.linalg.eigh((g2 + g2.T) / 2.0)
    tol = max(float(evals[-1]), 0.0) * 1e-12
    root = np.where(evals > tol, np.sqrt(np.maximum(evals, 0.0)), 0.0)
    inv_root = np.where(evals > tol, 1.0 / np.where(root > 0, root, 1.0),
                        0.0)
    r = root[:, np.newaxis] * evecs.T                 # RᵀR = G (n2×n2)
    r_pinv = evecs * inv_root[np.newaxis, :]          # Q = (U2−U1c)·R⁺

    k_mat = np.zeros((n1 + n2, n1 + n2))
    k_mat[:n1, :n1] = np.diag(decay * np.asarray(p1.s, dtype=np.float64))
    k_mat[:n1, n1:] = c * np.asarray(p2.s)[np.newaxis, :]
    k_mat[n1:, n1:] = r * np.asarray(p2.s)[np.newaxis, :]
    u_k, s_k, _ = np.linalg.svd(k_mat, full_matrices=False)
    kc = clip_spectrum(s_k ** 2, k)
    u1_k, u2_k, s_new = u_k[:n1, :kc], u_k[n1:, :kc], s_k[:kc]

    m2 = r_pinv @ u2_k                    # U2's rotation (n2×kc)
    m1 = u1_k - c @ m2                    # U1's rotation (n1×kc)

    # sign canonicalization from the first term row (lsimodel.py:328-332)
    first = joined.filter(F.col("term_id") == 0).collect()
    if first:
        row = first[0]
        x1 = np.array([row[c] for c in a_cols])
        x2 = np.array([row[c] for c in b_cols])
        u0 = x1 @ m1 + x2 @ m2
        flip = np.where(u0 < 0.0, -1.0, 1.0)
        m1 = m1 * flip[np.newaxis, :]
        m2 = m2 * flip[np.newaxis, :]

    rot = np.vstack([m1, m2])                 # (n1+n2) × kc
    # materialize the rotated basis, then release the joined cache — a
    # long-lived projection under repeated add_documents must not pin one
    # full-width cached frame per update. checkpoint=False keeps the lazy
    # rotation plan (tools/explain_plans.py captures it as evidence) but
    # still drops the cache: the Gram passes above already consumed it,
    # and a later evaluation of the lazy u just recomputes the join.
    u = _wide_times(joined, "term_id", a_cols + b_cols, rot, "t")
    if checkpoint:
        u = u.localCheckpoint(eager=True)
    joined.unpersist()
    out = LsiProjection(u, s_new, kc)
    out.k_requested = k
    return out


def add_documents(projection: LsiProjection, postings: DataFrame,
                  decay: float = 1.0, extra_dims: int | None = None,
                  power_iters: int = P2_EXTRA_ITERS,
                  weight_col: str = "weight") -> LsiProjection:
    """``LsiModel.add_documents`` (lsimodel.py:470-545): decompose the new
    postings chunk at the same rank, then merge into the existing
    projection with ``decay``. The reference iterates driver-sized
    chunks; here the whole update IS one distributed chunk — at 100 TB the
    chunk is a new partition/day of the corpus and the merge cost is
    independent of how much history the projection already carries."""
    k = getattr(projection, "k_requested", projection.num_topics)
    chunk = lsi_fit(postings, num_topics=k, extra_dims=extra_dims,
                    power_iters=power_iters, weight_col=weight_col)
    return merge_projections(projection, chunk, decay=decay)


def show_topic(projection: LsiProjection, vocab: DataFrame, topic_id: int,
               topn: int = 10) -> DataFrame:
    """Top-weighted terms of one topic (lsimodel.py:510-545 show_topic):
    ranked by |u[:, topic]| descending."""
    col = f"t{int(topic_id)}"
    return (projection.u.select("term_id", F.col(col).alias("value"))
            .join(vocab.select("term_id", "token"), "term_id")
            .orderBy(F.abs(F.col("value")).desc(), F.col("term_id").asc())
            .limit(topn)
            .select("token", "value"))
