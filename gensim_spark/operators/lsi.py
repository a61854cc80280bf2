"""Latent Semantic Indexing — distributed randomized SVD over postings.

Reference: ``gensim.models.lsimodel`` — ``Projection`` holds ``u``
(num_terms × k left singular vectors of the term-document matrix) and ``s``
(singular values) computed by a one-pass stochastic SVD with oversampling
and power iterations (lsimodel.py:81-82 P2_EXTRA_DIMS=100/P2_EXTRA_ITERS=2,
stochastic_svd lsimodel.py:860-1061, after Halko, Martinsson, Tropp 2011,
"Finding structure with randomness"); ``LsiModel.__getitem__`` returns
``uᵀ·x`` per document, optionally scaled by ``1/s`` (lsimodel.py:578-636).

This implementation runs the same published algorithm in the reference's
own shape — every worker forms its chunk's products before any merge
(``stochastic_svd``'s chunk loop, gensim's ``lsi_worker``) — with the
driver touching ℓ×ℓ matrices (ℓ = k + extra_dims ≪ corpus) and, when it is
small, W = AᵀY:

1. A is read once, into one cached doc-grouped frame: ``lda.corpus_bow``
   rows ``(doc_id, ids, cts)``, one per document, the weights in ``cts``.
2. Each round is ONE ``mapInArrow`` over those rows (:func:`_round`). Per
   slice of whole documents it forms each document's Y row (A·Ω in round
   0, A·Z after), folds YᵀY into a task-local Gram and emits the task's
   term-keyed AᵀY partials, the ℓ Gram rows riding under keys below every
   term id. One ``groupBy(term_id)`` sum then yields W = AᵀY and Gram(Y)
   together. The doc ids never enter the kernel, so they may be of any
   type.
3. Ω is the hash-sign test matrix of :func:`sign_cols` (±1 from bit b of
   ``xxhash64(term_id, blk)`` for column 64·blk + b). Round 0 computes the
   ⌈ℓ/64⌉ hash words per posting in the JVM as array columns over the
   cached rows and the kernel bit-slices them in numpy, so Ω never exists
   as data and is bit for bit ``sign_cols``' Ω.
4. A power round re-orthonormalizes (Halko Alg 4.4, stabilized: thin QR by
   Cholesky of Gram(Y)) and sets Z = AᵀQ = W·R⁻¹. Where Z lives: when W
   (terms × ℓ doubles) fits under ``spark.sql.autoBroadcastJoinThreshold``
   it is collected and Z broadcast as sorted (term ids, rows), looked up
   with ``np.searchsorted`` — hashed ids reach 2³¹, so never a dense array
   indexed by id; the round then has one exchange and Y is never
   materialized. Above the threshold W stays distributed: A·W is a term
   join and a doc-keyed sum (:func:`_with_y`), each document's A·W row
   (ℓ doubles) is joined to its cached row, and the same kernel takes
   Y = (A·W)·R⁻¹ = A·Z, so Z is never formed.
5. B = QᵀA is folded into the last round: its term rows are W·R⁻¹, so
   ``G = B·Bᵀ = R⁻ᵀ·(WᵀW)·R⁻¹`` (WᵀW in numpy, or :func:`_gram` when W is
   distributed). G (ℓ×ℓ) is eigendecomposed in numpy; ``u = Bᵀ·Ū·Σ⁻¹ =
   W·(R⁻¹·Ū·Σ⁻¹)`` (terms × k), in numpy on the driver or over W's Arrow
   batches (:func:`_arrow_times`); s = the top-k singular values. Neither
   Q nor B is ever materialized.

A is (doc_id, term_id, weight) postings — raw tf or any weighted corpus,
exactly like the reference.

Exactness property used by the tests: when ℓ ≥ rank(A), the range finder
captures the full column space, so the result equals the exact truncated
SVD (up to per-topic sign) — hence the numpy-parity tests are strict, not
approximate-subspace checks.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensim_spark.operators.lda import (
    _SLICE_ELEMS,
    _bow_slices,
    _merge_term_sums,
    corpus_bow,
)

P2_EXTRA_DIMS = 100   # lsimodel.py:81
P2_EXTRA_ITERS = 2    # lsimodel.py:82
_GRAM_KEY = -(2 ** 63)   # a round's Gram(Y) row i rides under term_id _GRAM_KEY + i


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


def _hash_words(ell: int) -> list:
    """⌈ℓ/64⌉ ``h{blk}`` array columns over ``corpus_bow`` rows: each id's
    ``xxhash64(term_id, blk)`` — the draws :func:`sign_cols` slices,
    computed by the JVM. ``transform`` binds a two-argument lambda as
    (element, index), so each block's lambda is a one-argument closure."""
    def word(blk):
        return lambda t: F.xxhash64(t, F.lit(blk))
    return [F.transform("ids", word(blk)).alias(f"h{blk}")
            for blk in range((ell + 63) // 64)]


def _omega(words: np.ndarray, ell: int) -> np.ndarray:
    """(terms, ⌈ℓ/64⌉) int64 hash words → (terms, ℓ) Ω rows: column
    64·blk + b is +1 where bit b of word blk is set, else −1 — the signs
    :func:`sign_cols` builds in SQL, bit for bit."""
    bits = (np.ascontiguousarray(words).view(np.uint64)[:, :, None]
            >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    return np.where(bits.reshape(len(words), -1)[:, :ell] == 1, 1.0, -1.0)


def _agg_matmul(rows: DataFrame, key: str, in_cols: list[str],
                weight: str, out_prefix: str, n_out: int) -> DataFrame:
    """groupBy(key).agg(Σ weight·in_col_j) for j — one join-free hash-agg.
    Row-wise products by a driver-side matrix live in
    :func:`_arrow_times`."""
    exprs = [F.sum(F.col(weight) * F.col(c)).alias(f"{out_prefix}{i}")
             for i, c in enumerate(in_cols)]
    return rows.groupBy(key).agg(*exprs)


def _round(rows: DataFrame, ell: int, z_bc=None,
           y_times: np.ndarray | None = None) -> DataFrame:
    """One round over doc rows ``(ids, cts, …)`` → ``(term_id,
    w0..w_{ℓ-1})``: the rows of W = AᵀY, and Gram(Y)'s row i under
    term_id ``_GRAM_KEY + i`` (below every int and long id in use).

    One ``mapInArrow`` and one ``groupBy(term_id)`` sum. Per slice of whole
    documents the kernel forms each document's Y row: A·Z with Z looked up
    for the slice's distinct terms in the broadcast ``z_bc`` (sorted term
    ids, rows) by ``np.searchsorted``, A·Ω from the hash words ``h0…``, or
    the document's own ``y`` row times ``y_times`` when the rows carry one
    (:func:`_with_y`). It adds YᵀY to
    the task's Gram and sums AᵀY per term with one ``np.bincount`` per
    column. Term partials merge, and are emitted, once they outgrow
    ``_SLICE_ELEMS``, so a task holds a bounded share of W; the
    aggregate's map-side combine merges what one task emits more than
    once."""
    import pyarrow as pa

    w_cols = [f"w{j}" for j in range(ell)]
    given = ("y",) if "y" in rows.columns else ()
    words = tuple(c for c in rows.columns if c not in ("ids", "cts", "y"))

    def emit(keys, w):
        return pa.RecordBatch.from_arrays(
            [pa.array(keys, pa.int64()), *[pa.array(col) for col in w]],
            names=["term_id", *w_cols])

    def z_rows(terms, first, ex):
        if z_bc is not None:
            z_ids, z = z_bc.value
            return z[np.searchsorted(z_ids, terms)]
        return _omega(np.stack([h[first] for h in ex], axis=1), ell)

    def gen(batches):
        gram = np.zeros((ell, ell))
        parts, pending = [], 0
        for _, ids, vals, lens, *ex in _bow_slices(batches, ell, words,
                                                   given):
            if not ids.size:
                continue
            terms, first, inv = np.unique(ids, return_index=True,
                                          return_inverse=True)
            nonempty = lens > 0
            lens = lens[nonempty]
            if given:
                y = ex[0][nonempty] @ y_times
            else:
                y = np.add.reduceat(vals[:, None] * z_rows(terms, first, ex)[inv],
                                    np.cumsum(lens) - lens, axis=0)
            gram += y.T @ y
            c = vals[:, None] * np.repeat(y, lens, axis=0)
            parts.append((terms, np.stack([
                np.bincount(inv, weights=c[:, j], minlength=terms.size)
                for j in range(ell)])))
            pending += terms.size
            if pending * ell > _SLICE_ELEMS:
                yield emit(*_merge_term_sums(parts, ell))
                parts, pending = [], 0
        if parts:
            yield emit(*_merge_term_sums(parts, ell))
        yield emit(_GRAM_KEY + np.arange(ell), gram.T)

    schema = "term_id long, " + ", ".join(f"{c} double" for c in w_cols)
    return (rows.mapInArrow(gen, schema).groupBy("term_id").sum(*w_cols)
            .toDF("term_id", *w_cols))


def _split(keys: np.ndarray, vals: np.ndarray, ell: int) -> tuple:
    """Aggregated round rows → (sorted term ids, their W rows, Gram(Y))."""
    gram = np.zeros((ell, ell))
    g = keys < _GRAM_KEY + ell
    gram[keys[g] - _GRAM_KEY] = vals[g]
    order = np.argsort(keys[~g])
    return keys[~g][order], vals[~g][order], gram


def _with_y(docs: DataFrame, w: DataFrame, ell: int) -> DataFrame:
    """Doc rows with each document's A·W row attached → ``(ids, cts, y)``,
    the kernel's input when Z = W·R⁻¹ is too large to broadcast; the kernel
    multiplies ``y`` by R⁻¹, so Y = A·W·R⁻¹ = A·Z and Z is never formed.
    A·W comes from a term join and a doc-keyed sum, which combines
    map-side, and is joined back on doc_id: ℓ doubles per document, never
    per posting."""
    w_cols = [f"w{j}" for j in range(ell)]
    y_cols = [f"y{j}" for j in range(ell)]
    post = (docs.select("doc_id", F.inline(F.arrays_zip("ids", "cts")))
            .withColumnRenamed("ids", "term_id"))
    y = _agg_matmul(post.join(w, "term_id"), "doc_id", w_cols, "cts", "y", ell)
    return (docs.join(y.select("doc_id", F.array(*y_cols).alias("y")), "doc_id")
            .select("ids", "cts", "y"))


def _arrow_times(df: DataFrame, key: str, in_cols: list[str],
                 mat: np.ndarray, out_prefix: str, key_type) -> DataFrame:
    """Row-wise (key, x₀..x_{n-1}) · mat → (key, out₀..out_{m-1}) in numpy
    over Arrow batches, the key cast to ``key_type``. A product built as
    one SQL expression per output (n terms each) does not scale: a
    100 × 100 product took 12 s over 30 rows on a 4-core VM, and 300 × 200
    ran a 4 GB driver out of memory."""
    import pyarrow as pa

    mat = np.asarray(mat, dtype=np.float64)
    out_cols = [f"{out_prefix}{i}" for i in range(mat.shape[1])]

    def gen(batches):
        for b in batches:
            out = np.stack([b.column(c).to_numpy() for c in in_cols],
                           axis=1) @ mat
            yield pa.RecordBatch.from_arrays(
                [b.column(key), *[pa.array(col) for col in out.T]],
                names=[key, *out_cols])

    schema = (f"{key} {df.schema[key].dataType.simpleString()}, "
              + ", ".join(f"{c} double" for c in out_cols))
    return (df.select(key, *in_cols).mapInArrow(gen, schema)
            .withColumn(key, F.col(key).cast(key_type)))


def _rows(df: DataFrame) -> int:
    """Rows of a frame. A cached frame answers from its cache's own
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


def _gram(*parts: tuple[DataFrame, list[str]],
          rows: int | None = None) -> list[np.ndarray]:
    """XᵀX of each (frame, n columns) part, all from one Python job: the
    parts are tagged, unioned and folded by per-partition numpy Grams over
    Arrow batches.

    Width follows volume: the union is coalesced to ⌈rows·n·8 B /
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``⌉ tasks, never wider
    than it already is. ℓ-wide frames are cached at the shuffle width and
    every Python task pays a fixed worker cost (measured on a 4-core VM: a
    mapInPandas over a cached 2,000-row frame took 0.23-0.30 s at 1
    partition, 0.64-0.77 s at 8), so a frame of a few MB runs as one task
    and a corpus-sized one keeps its width. Rows are ``rows`` when the
    caller knows them, else from :func:`_rows`; parts are cached frames, or
    filters of one (the coalesce would narrow the stage computing an
    uncached one). One
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
    if rows is None:
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
    w_cols = [f"w{j}" for j in range(ell)]
    is_w = F.col("term_id") >= _GRAM_KEY + ell     # a W row, not a Gram row
    spark = postings.sparkSession
    tid_type = postings.schema["term_id"].dataType
    # one task per core: every round is a Python stage, and each task of
    # one pays a fixed worker floor, so a second wave costs a whole floor
    docs = (corpus_bow(postings, value_col=weight_col)
            .coalesce(spark.sparkContext.defaultParallelism).cache())

    # round 0 (Y = A·Ω) builds both caches; W's size decides where Z lives
    agg = _round(docs.select("ids", "cts", *_hash_words(ell)), ell).cache()
    n_rows = _rows(agg)
    local = n_rows * ell * 8 <= (spark._jsparkSession.sessionState().conf()
                                 .autoBroadcastJoinThreshold())
    rounds = max(0, int(power_iters))
    stale = []   # what the round before read: released once this one is built
    for it in range(rounds + 1):
        # collect W with its Gram(Y) rows, or the Gram rows alone
        pdf = (agg if local else agg.filter(~is_w)).toPandas()
        for x in stale + ([agg] if local else []):
            x.unpersist()
        terms, wm, gram_y = _split(pdf["term_id"].to_numpy(),
                                   pdf[w_cols].to_numpy(np.float64), ell)
        rinv = _chol_inv(gram_y)
        if it == rounds:
            break
        # power round: Z = AᵀQ = W·R⁻¹, then Y ← A·Z in the same kernel
        if local:
            z_bc = spark.sparkContext.broadcast((terms, wm @ rinv))
            stale, agg = [z_bc], _round(docs.select("ids", "cts"), ell, z_bc)
        else:
            stale, agg = [agg], _round(_with_y(docs, agg.filter(is_w), ell),
                                       ell, y_times=rinv).cache()

    # thin QR by Cholesky (Q = Y·R⁻¹) folded into the last round: B = QᵀA
    # has term rows (row t = B[:, t]) W·R⁻¹, so G = B·Bᵀ = R⁻ᵀ·(WᵀW)·R⁻¹
    if local:
        gram_w = wm.T @ wm
    else:
        w = agg.filter(is_w)
        (gram_w,) = _gram((w, w_cols), rows=n_rows - len(pdf))
    evals, evecs = np.linalg.eigh(rinv.T @ gram_w @ rinv)   # ascending
    order = np.argsort(evals)[::-1][:k]
    s = np.sqrt(np.maximum(evals[order], 0.0))
    # u = Bᵀ·Ū·Σ⁻¹ = W·(R⁻¹·Ū·Σ⁻¹) (terms × k), guarding σ≈0 (zero-pad
    # like the reference does when rank < k, lsimodel.py:235-239)
    safe = np.where(s > 1e-12, s, np.inf)
    rot = rinv @ (evecs[:, order] / safe[np.newaxis, :])
    t_cols = [f"t{i}" for i in range(k)]
    if local:
        import pandas as pd

        u_np = wm @ rot
        u = spark.createDataFrame(
            pd.DataFrame({"term_id": terms,
                          **{c: u_np[:, i] for i, c in enumerate(t_cols)}}),
            f"term_id {tid_type.simpleString()}, "
            + ", ".join(f"{c} double" for c in t_cols))
    else:
        # materialize the basis, then release the fit's caches — a
        # long-lived projection (repeated add_documents) must not pin one
        # ℓ-wide cached frame per update
        u = _arrow_times(w, "term_id", w_cols, rot, "t",
                         tid_type).localCheckpoint(eager=True)
        agg.unpersist()
    docs.unpersist()
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
    QR), and one Arrow-batched numpy product (:func:`_arrow_times`)
    producing the rotated basis
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
    u = _arrow_times(joined, "term_id", a_cols + b_cols, rot, "t",
                     joined.schema["term_id"].dataType)
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
