"""Exactness of the LSI fit's building blocks (operators/lsi.py).

* ``lsi_fit`` folds B = QᵀA into the last pass (Gram(B) = R⁻ᵀ·(WᵀW)·R⁻¹
  with W = AᵀY) and takes AᵀQ as (AᵀY)·R⁻¹; the plain Halko loop it
  replaced is kept here as a numpy replica and the two must agree to
  rounding, at ℓ below and above rank(A).
* ``_gram`` sizes its width from the data volume: a small cached frame is
  folded by one Python task, a frame above the size target keeps several.
"""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from gensim_spark.operators import lsi as L
from tests.conftest import docs_df


# ---------- lsi_fit vs the plain Halko loop ----------

def ref_halko(dense, omega, k, power_iters):
    """numpy replica of the Halko loop as a sequence of explicit products:
    Q = Y·R⁻¹ each round, Z = AᵀQ, and B = QᵀA materialized at the end."""
    y = dense @ omega
    for _ in range(power_iters):
        q = y @ L._chol_inv(y.T @ y)
        y = dense @ (dense.T @ q)
    q = y @ L._chol_inv(y.T @ y)
    b = q.T @ dense                                   # ℓ × terms
    evals, evecs = np.linalg.eigh(b @ b.T)
    order = np.argsort(evals)[::-1][:k]
    s = np.sqrt(np.maximum(evals[order], 0.0))
    safe = np.where(s > 1e-12, s, np.inf)
    return s, b.T @ (evecs[:, order] / safe[np.newaxis, :])


@pytest.fixture(scope="module")
def tf_postings(spark, common_texts):
    from gensim_spark import api

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    post = (dct.doc2bow(docs)
            .select("doc_id", "term_id",
                    F.col("tf").cast("double").alias("weight")).cache())
    dense = np.zeros((len(common_texts), len(dct)))
    for r in post.collect():
        dense[r["doc_id"], r["term_id"]] = r["weight"]
    return post, dense


def _omega(spark, n_terms, ell):
    rows = (spark.range(n_terms).withColumnRenamed("id", "term_id")
            .select("term_id", *[c.alias(f"s{j}") for j, c in
                                 enumerate(L.sign_cols(F.col("term_id"),
                                                       ell))])
            .collect())
    om = np.zeros((n_terms, ell))
    for r in rows:
        om[r["term_id"]] = [r[f"s{j}"] for j in range(ell)]
    return om


# (docs kept, k, extra_dims): ℓ = 4 below rank 9 of the whole corpus; ℓ = 8
# above rank 4 of the first four documents (a singular Gram(Y): Cholesky
# fails and _chol_inv retries with jitter)
CASES = {"ell_below_rank": (9, 2, 2), "ell_above_rank": (4, 2, 6)}


@pytest.mark.parametrize("power_iters", [0, 1, 3])
@pytest.mark.parametrize("case", sorted(CASES))
def test_lsi_fit_matches_halko_replica(spark, tf_postings, case,
                                       power_iters):
    post, dense_all = tf_postings
    n_docs, k, extra = CASES[case]
    dense = dense_all[:n_docs]
    ell = k + extra
    rank = np.linalg.matrix_rank(dense)
    assert (ell < rank) if case == "ell_below_rank" else (ell > rank)
    omega = _omega(spark, dense.shape[1], ell)
    if ell > rank:
        with pytest.raises(np.linalg.LinAlgError):
            y0 = dense @ omega
            np.linalg.cholesky(y0.T @ y0)

    proj = L.lsi_fit(post.filter(F.col("doc_id") < n_docs), num_topics=k,
                     extra_dims=extra, power_iters=power_iters)
    want_s, want_u = ref_halko(dense, omega, k, power_iters)
    assert proj.s == pytest.approx(want_s, rel=1e-9, abs=0.0)
    got_u = np.zeros_like(want_u)
    for r in proj.u.collect():
        got_u[r["term_id"]] = [r[f"t{i}"] for i in range(k)]
    for i in range(k):
        col, ref = got_u[:, i], want_u[:, i]
        assert min(np.abs(col - ref).max(),
                   np.abs(col + ref).max()) < 1e-8, f"topic {i}"


# ---------- volume-sized Gram width ----------

def _tasks_in_group(sc, group):
    """Tasks Spark ran under ``group`` (skipped stages excluded); waits for
    the status listener, which is fed asynchronously."""
    tracker = sc.statusTracker()
    deadline = time.time() + 10
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if jobs and all(j is not None and j.status == "SUCCEEDED"
                        for j in jobs):
            break
        if time.time() > deadline:
            raise AssertionError(f"jobs of {group} did not finish")
        time.sleep(0.1)
    tasks = 0
    for info in jobs:
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks:
                tasks += stage.numTasks
    return tasks


def _gram_tasks(spark, frame, cols, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        (g,) = L._gram((frame, cols))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return g, _tasks_in_group(sc, group)


def test_gram_width_follows_volume(spark):
    ell, n_rows = 16, 1500
    cols = [f"y{j}" for j in range(ell)]
    frame = (spark.range(n_rows)
             .select("id", *[F.rand(seed=j).alias(c)
                             for j, c in enumerate(cols)])
             .repartition(8).cache())
    frame.count()
    assert frame.rdd.getNumPartitions() == 8
    x = np.array([[r[c] for c in cols] for r in frame.collect()])

    # 1500 × 16 × 8 B ≈ 190 KB, far below the advisory partition size
    g, tasks = _gram_tasks(spark, frame, cols, "lsi-gram-small")
    assert tasks == 1
    np.testing.assert_allclose(g, x.T @ x, rtol=1e-12)

    # the same frame against a 64 KB target: three tasks' worth of volume
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "64k")
    try:
        g, tasks = _gram_tasks(spark, frame, cols, "lsi-gram-large")
    finally:
        spark.conf.unset(key)
    assert tasks > 1
    np.testing.assert_allclose(g, x.T @ x, rtol=1e-12)
    frame.unpersist()


def test_gram_of_several_frames_in_one_job(spark):
    a = spark.createDataFrame([(float(i), float(i * i)) for i in range(7)],
                              "p double, q double").cache()
    b = spark.createDataFrame([(1.0, -2.0), (0.5, 4.0)],
                              "r double, s double").cache()
    xa = np.array([[float(i), float(i * i)] for i in range(7)])
    xb = np.array([[1.0, -2.0], [0.5, 4.0]])
    ga, gb = L._gram((a, ["p", "q"]), (b, ["r", "s"]))
    np.testing.assert_array_equal(ga, xa.T @ xa)
    np.testing.assert_array_equal(gb, xb.T @ xb)
    a.unpersist()
    b.unpersist()
