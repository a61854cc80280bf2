"""Round-6 optimization regression tests: every rewrite that changed an
operator's internals is pinned against its previous (reference) form —
MinHash Arrow stage vs the relational aggregate (kept here as the
oracle), row-local LSH pair expansion vs the naive self-join,
row-distinct decontamination counts, the digamma fast path, and the warm
positional-server cache identity/invalidation behavior."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def tokdocs(spark):
    rows = []
    rng = np.random.RandomState(11)
    words = [f"w{i}" for i in range(40)]
    for d in range(120):
        n = int(rng.randint(0, 14))  # includes docs below shingle_n
        rows.append((d, [words[int(rng.randint(0, 40))] for _ in range(n)]))
    # duplicate pair + an identical triple → real LSH buckets
    rows.append((500, rows[3][1]))
    rows.append((501, rows[3][1]))
    rows.append((502, rows[7][1]))
    return spark.createDataFrame(rows, "doc_id long, tokens array<string>")


def minhash_agg(docs, num_hashes, shingle_n=3, doc_col="doc_id"):
    """Reference MinHash: the relational form — non-distinct gram explode,
    then one groupBy of ``min(seeded(gram, h))`` per hash."""
    from gensim_spark.functions.hashing import seeded
    from gensim_spark.operators.dedup import shingles

    sh = shingles(docs, "tokens", shingle_n, doc_col, distinct=False)
    return sh.groupBy("doc_id").agg(*[
        F.min(seeded(F.col("shingle"), h)).alias(f"sig_{h}")
        for h in range(num_hashes)])


def test_minhash_arrow_matches_agg(tokdocs):
    from gensim_spark.operators import dedup as D

    a = D.minhash_signatures(tokdocs, num_hashes=4)
    b = minhash_agg(tokdocs, num_hashes=4)
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # docs with < shingle_n tokens emit no row in either form
    n_short = tokdocs.filter(F.size("tokens") < 3).count()
    assert n_short > 0
    assert a.count() == tokdocs.count() - n_short


def test_minhash_string_doc_ids_match_agg(tokdocs):
    """String-keyed docs (``doc_col`` renamed too): the signature keeps
    the id type and equals the reference."""
    from gensim_spark.operators import dedup as D

    docs = tokdocs.select(
        F.concat(F.lit("url-"), F.col("doc_id").cast("string"))
        .alias("url"), "tokens")
    a = D.minhash_signatures(docs, num_hashes=4, doc_col="url")
    b = minhash_agg(docs, num_hashes=4, doc_col="url")
    assert a.dtypes == b.dtypes and dict(a.dtypes)["doc_id"] == "string"
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == tokdocs.filter(F.size("tokens") >= 3).count()


def test_band_pairs_match_naive_self_join(tokdocs):
    from gensim_spark.functions.hashing import hash60
    from gensim_spark.operators import dedup as D

    sigs = D.minhash_signatures(tokdocs, num_hashes=4).cache()
    got = sorted((r["doc_a"], r["doc_b"]) for r in D.minhash_band_pairs(
        sigs, bands=2, rows_per_band=2).collect())

    # naive reference: explode bands, window size cap, self-join
    band_cols = []
    for b in range(2):
        parts = [F.col(f"sig_{b * 2 + r}").cast("string") for r in range(2)]
        band_cols.append(F.struct(
            F.lit(b).alias("band_id"),
            hash60(F.concat_ws("_", *parts)).alias("band_hash")))
    banded = sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash").cache()
    a = banded.select("band_id", "band_hash", F.col("doc_id").alias("doc_a"))
    bb = banded.select("band_id", "band_hash", F.col("doc_id").alias("doc_b"))
    want = sorted((r["doc_a"], r["doc_b"]) for r in (
        a.join(bb, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b").distinct()).collect())
    assert got == want and len(got) >= 2
    sigs.unpersist()
    banded.unpersist()


def test_band_pairs_max_bucket_gate(spark):
    from gensim_spark.operators import dedup as D

    # 5 identical docs → one bucket of 5 per band; cap at 4 drops them all
    docs = spark.createDataFrame(
        [(d, ["a", "b", "c", "d", "e"]) for d in range(5)],
        "doc_id long, tokens array<string>")
    sigs = D.minhash_signatures(docs, num_hashes=4)
    assert D.minhash_band_pairs(sigs, bands=2, rows_per_band=2,
                                max_bucket=4).count() == 0
    assert D.minhash_band_pairs(sigs, bands=2, rows_per_band=2,
                                max_bucket=5).count() == 10  # C(5,2)


def test_decontaminate_row_distinct_counts(tokdocs, spark):
    from gensim_spark.operators import curation as CU

    bench = tokdocs.filter(F.col("doc_id") % 7 == 0)
    got = {r["doc_id"]: r["n_hits"]
           for r in CU.decontaminate(tokdocs, bench, n=3).collect()}
    # reference: explicit distinct-gram intersection via the old
    # countDistinct shape
    from gensim_spark.operators.dedup import shingles

    doc_g = shingles(tokdocs, n=3, distinct=False)
    ben_g = shingles(bench, n=3).select("shingle").distinct()
    want = {r["doc_id"]: r["n"]
            for r in doc_g.join(F.broadcast(ben_g), "shingle")
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n")).collect()}
    for d, n in want.items():
        assert got[d] == n, d
    assert all(v == 0 for k, v in got.items() if k not in want)


def test_digamma_fast_path_bit_identical():
    from gensim_spark.functions.special import digamma, dirichlet_expectation

    def digamma_ref(x):
        x = np.asarray(x, dtype=np.float64)
        scalar = x.ndim == 0
        xx = np.atleast_1d(x).copy()
        out = np.zeros_like(xx)
        while True:
            small = xx < 6.0
            if not small.any():
                break
            out[small] -= 1.0 / xx[small]
            xx[small] += 1.0
        inv = 1.0 / xx
        inv2 = inv * inv
        out += (np.log(xx) - 0.5 * inv
                - inv2 * (1.0 / 12.0
                          - inv2 * (1.0 / 120.0
                                    - inv2 * (1.0 / 252.0
                                              - inv2 * (1.0 / 240.0
                                                        - inv2 / 132.0)))))
        return out[0] if scalar else out

    rng = np.random.RandomState(3)
    for _ in range(500):
        v = np.abs(rng.randn(int(rng.randint(1, 16)))) * \
            float(rng.choice([1e-3, 0.1, 1.0, 10.0, 1e3]))
        v = np.maximum(v, 1e-9)
        assert np.array_equal(digamma(v), digamma_ref(v))
        want = digamma_ref(v) - digamma_ref(np.sum(v))
        assert np.array_equal(dirichlet_expectation(v), want)
    for s in (1e-6, 0.5, 1.0, 5.9999, 6.0, 6.0001, 123.0):
        assert digamma(s) == digamma_ref(s)


def test_positional_server_cache_identity_and_invalidation(spark, tmp_path):
    import json

    from gensim_spark.index import layout, serving
    from gensim_spark.operators import positional as PX
    from gensim_spark.plans import pipeline as P

    rows = [(d, f"alpha beta gamma doc{d} alpha beta") for d in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tok = P.tokenize(docs, ascii_fast_path=True)
    idx = P.build(tok, cache=True)
    store = str(tmp_path / "pidx")
    pos = PX.positional_postings(idx.docs, idx.vocab)
    layout.write_postings_bucketed(pos, f"{store}/positional", n_buckets=8)
    idx.vocab.write.parquet(f"{store}/vocab")
    idx.doclen.write.parquet(f"{store}/doclen")
    with open(f"{store}/build_metrics.json", "w") as f:
        json.dump({"num_docs": idx.num_docs, "variant": "okapi",
                   "positional": True, "positional_n_buckets": 8}, f)
    first = serving.phrase_topk_served(store, ["alpha", "beta"], k=10)
    assert first and first[0][1] == 2  # phrase_tf: two occurrences per doc
    # second call reuses the cached warm server object
    srv1 = serving._positional_server(store)
    assert serving.phrase_topk_served(store, ["alpha", "beta"],
                                      k=10) == first
    assert serving._positional_server(store) is srv1
    # rewriting build_metrics.json (what every build/append commit does)
    # invalidates the cache entry
    import time as _t
    _t.sleep(0.01)
    with open(f"{store}/build_metrics.json", "w") as f:
        json.dump({"num_docs": idx.num_docs, "variant": "okapi",
                   "positional": True, "positional_n_buckets": 8,
                   "touched": 1}, f)
    srv2 = serving._positional_server(store)
    assert srv2 is not srv1
    assert serving.phrase_topk_served(store, ["alpha", "beta"],
                                      k=10) == first
