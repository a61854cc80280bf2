"""The LSI fit's per-round Arrow kernel (operators/lsi.py).

* Ω: the kernel bit-slices JVM-computed ``xxhash64(term_id, blk)`` words in
  numpy; the columns must equal :func:`lsi.sign_cols`' SQL signs bit for
  bit, across block edges and for ``int`` and ``long`` term ids (the hash
  differs by type).
* Where Z lives: with ``spark.sql.autoBroadcastJoinThreshold=-1`` W stays
  distributed and each document's A·W row, from a term join and a
  doc-keyed sum, is joined to its row for the same kernel, which takes
  Y = (A·W)·R⁻¹; that path must give the broadcast path's ``s`` and ``u``,
  and its kernel input must carry ℓ doubles per document, not per
  posting.
* Doc ids never enter the kernel: string ids give the long ids' fit.
* Term ids are looked up by ``np.searchsorted`` in the broadcast, never by
  a dense array indexed by id, so ids near ±2³¹ fit; empty postings give a
  zero spectrum and an empty basis, as before the kernel existed.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from gensim_spark.operators import lsi as L
from gensim_spark.operators.lda import corpus_bow
from tests.conftest import docs_df

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _fit_both(spark, post, **kw):
    """(broadcast-path projection, join-path projection) of one corpus."""
    local = L.lsi_fit(post, **kw)
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        joined = L.lsi_fit(post, **kw)
    finally:
        spark.conf.set(THRESHOLD, old)
    return local, joined


def _u(proj):
    rows = sorted(proj.u.collect(), key=lambda r: r["term_id"])
    return (np.array([r["term_id"] for r in rows]),
            np.array([[r[f"t{i}"] for i in range(proj.num_topics)]
                      for r in rows]))


@pytest.mark.parametrize("ell", [1, 63, 64, 65, 130])
@pytest.mark.parametrize("id_type", ["int", "long"])
def test_kernel_omega_is_sign_cols(spark, ell, id_type):
    ids = [-2 ** 31, -1, 0, 1, 2, 7, 63, 64, 1000, 65537, 2 ** 31 - 1]
    post = spark.createDataFrame(
        [(i % 3, t, 1.0) for i, t in enumerate(ids)],
        f"doc_id long, term_id {id_type}, weight double")
    rows = corpus_bow(post).select("ids", *L._hash_words(ell)).collect()
    words = {t: [r[f"h{b}"][j] for b in range((ell + 63) // 64)]
             for r in rows for j, t in enumerate(r["ids"])}
    terms = sorted(words)
    got = L._omega(np.array([words[t] for t in terms], dtype=np.int64), ell)

    signs = (post.select("term_id").distinct()
             .select("term_id", *[c.alias(f"s{j}") for j, c in enumerate(
                 L.sign_cols(F.col("term_id"), ell))]).collect())
    want = {r["term_id"]: [r[f"s{j}"] for j in range(ell)] for r in signs}
    assert got.shape == (len(terms), ell)
    np.testing.assert_array_equal(got, np.array([want[t] for t in terms]))


@pytest.fixture(scope="module")
def tf_postings(spark, common_texts):
    from gensim_spark import api

    docs = docs_df(spark, common_texts)
    dct = api.Dictionary(docs)
    return (dct.doc2bow(docs)
            .select("doc_id", "term_id",
                    F.col("tf").cast("double").alias("weight")).cache())


def _same_up_to_sign(a, b, rel):
    scale = np.abs(a).max()
    for i in range(a.shape[1]):
        assert min(np.abs(a[:, i] - b[:, i]).max(),
                   np.abs(a[:, i] + b[:, i]).max()) <= rel * scale, i


@pytest.mark.parametrize("power_iters", [0, 2])
def test_join_path_matches_broadcast_path(spark, tf_postings, power_iters):
    local, joined = _fit_both(spark, tf_postings, num_topics=2, extra_dims=2,
                              power_iters=power_iters)
    assert joined.s == pytest.approx(local.s, rel=1e-12, abs=0.0)
    ids_l, u_l = _u(local)
    ids_j, u_j = _u(joined)
    np.testing.assert_array_equal(ids_l, ids_j)
    _same_up_to_sign(u_l, u_j, 1e-12)
    assert (local.u.schema["term_id"].dataType
            == joined.u.schema["term_id"].dataType
            == tf_postings.schema["term_id"].dataType)


def test_join_path_input_is_one_y_row_per_document(spark):
    """ℓ = 300 with broadcasts off: every Arrow batch the kernel reads holds
    each document's (id, weight) pairs and ℓ doubles — per-posting rows of
    ℓ would be 200× that — and ``y`` is the document's A·W row."""
    ell, n_docs, per_doc, n_terms = 300, 24, 200, 1000
    rng = np.random.default_rng(7)
    post = spark.createDataFrame(
        [(d, int(t), float(rng.integers(1, 5))) for d in range(n_docs)
         for t in rng.choice(n_terms, per_doc, replace=False)],
        "doc_id long, term_id int, weight double")
    wm = rng.standard_normal((n_terms, ell))
    w = spark.createDataFrame(pd.DataFrame(
        {"term_id": np.arange(n_terms),
         **{f"w{j}": wm[:, j] for j in range(ell)}}))

    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([b.num_rows]), pa.array([b.nbytes])],
                names=["rows", "bytes"])

    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, "-1")
    try:
        rows = L._with_y(corpus_bow(post), w, ell)
        got = rows.collect()
        batches = rows.mapInArrow(sizes, "rows long, bytes long").collect()
    finally:
        spark.conf.set(THRESHOLD, old)
    assert rows.columns == ["ids", "cts", "y"] and len(got) == n_docs
    for r in got:
        want = np.array(r["cts"]) @ wm[r["ids"]]
        np.testing.assert_allclose(r["y"], want, rtol=1e-12, atol=1e-12)
    per_row = per_doc * (4 + 8) + ell * 8 + 3 * 4   # ids, cts, y, offsets
    assert sum(b["rows"] for b in batches) == n_docs
    for b in batches:
        assert b["bytes"] <= b["rows"] * per_row + 1024, b


def test_string_doc_ids(spark, tf_postings):
    """The fit never reads doc ids in the kernel: string ids give the long
    ids' s and u on both paths."""
    named = tf_postings.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string"))
        .alias("doc_id"), "term_id", "weight")
    kw = dict(num_topics=2, extra_dims=2, power_iters=1)
    for want, got in zip(_fit_both(spark, tf_postings, **kw),
                         _fit_both(spark, named, **kw)):
        assert got.s == pytest.approx(want.s, rel=1e-12, abs=0.0)
        ids_w, u_w = _u(want)
        ids_g, u_g = _u(got)
        np.testing.assert_array_equal(ids_g, ids_w)
        _same_up_to_sign(u_g, u_w, 1e-12)


@pytest.mark.parametrize("id_type,base,step", [("int", -2 ** 31, 2 ** 26),
                                               ("long", 2 ** 31 + 12, 7919)])
def test_term_ids_near_2_31(spark, tf_postings, id_type, base, step):
    """Ids spread from −2³¹ up (int) or just above 2³¹ (long) give numpy's
    exact SVD (ℓ ≥ rank) on both paths, with u keyed by the original ids."""
    post = tf_postings.select(
        "doc_id", (F.lit(base) + F.col("term_id") * step)
        .cast(id_type).alias("term_id"), "weight")
    dense = {}
    for r in post.collect():
        dense[(r["doc_id"], r["term_id"])] = r["weight"]
    docs = sorted({d for d, _ in dense})
    terms = sorted({t for _, t in dense})
    a = np.zeros((len(docs), len(terms)))
    for (d, t), v in dense.items():
        a[docs.index(d), terms.index(t)] = v
    _, s_np, vt = np.linalg.svd(a, full_matrices=False)
    k = 3
    for proj in _fit_both(spark, post, num_topics=k, extra_dims=9 - k,
                          power_iters=1):
        assert proj.s == pytest.approx(s_np[:k], rel=1e-9)
        ids, u = _u(proj)
        assert ids.tolist() == terms
        _same_up_to_sign(u, vt[:k].T, 1e-8)


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_empty_postings(spark, id_type):
    post = spark.createDataFrame(
        [], f"doc_id long, term_id {id_type}, weight double")
    for proj in _fit_both(spark, post, num_topics=3, power_iters=1):
        np.testing.assert_array_equal(proj.s, np.zeros(3))
        assert proj.num_topics == 3
        assert proj.u.count() == 0
        assert proj.u.schema.simpleString() == (
            f"struct<term_id:{'bigint' if id_type == 'long' else 'int'},"
            "t0:double,t1:double,t2:double>")



@pytest.mark.parametrize("id_type", ["int", "long"])
def test_arrow_times_wide_matrix(spark, id_type):
    """A 400 × 200 product (``merge_projections``' rotation at k = 200)
    over a few dozen rows matches numpy's ``@`` and keeps the key's type."""
    rng = np.random.default_rng(7)
    x, mat = rng.normal(size=(36, 400)), rng.normal(size=(400, 200))
    ids = np.arange(36) * 97 - 1000
    cols = [f"a{j}" for j in range(400)]
    df = spark.createDataFrame(
        pd.DataFrame({"term_id": ids, **dict(zip(cols, x.T))}),
        f"term_id {id_type}, " + ", ".join(f"{c} double" for c in cols))
    out = L._arrow_times(df, "term_id", cols, mat, "t",
                         df.schema["term_id"].dataType)
    assert out.dtypes[0] == ("term_id", "int" if id_type == "int"
                             else "bigint")
    rows = sorted(out.collect(), key=lambda r: r["term_id"])
    assert [r["term_id"] for r in rows] == ids.tolist()
    got = np.array([[r[f"t{i}"] for i in range(200)] for r in rows])
    want = x @ mat
    np.testing.assert_allclose(got, want, rtol=1e-12,
                               atol=1e-12 * np.abs(want).max())
