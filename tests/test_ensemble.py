"""EnsembleLda: masking/distance kernel goldens, CBDBSCAN behavior on
hand-crafted matrices, end-to-end stable topics on a planted corpus."""
import numpy as np
import pytest

from gensim_spark.operators import ensemble as EN


def test_mass_masking_golden():
    a = np.array([0.5, 0.3, 0.15, 0.05])
    # cumsum sorted desc: .5, .8, .95, 1.0; < .95 keeps [.5, .3] ->
    # smallest_valid = .3 -> mask >= .3
    np.testing.assert_array_equal(EN.mass_masking(a),
                                  [True, True, False, False])
    # rank masking at 0.3: top 30% of 4 terms -> int(1.2)=1 -> > sorted[1]=.3
    np.testing.assert_array_equal(EN.rank_masking(a, 0.3),
                                  [True, False, False, False])


def test_asymmetric_distance_chunk_golden():
    t1 = np.array([0.6, 0.3, 0.05, 0.05])
    t2 = np.array([0.05, 0.05, 0.6, 0.3])   # disjoint mass -> masked sum tiny
    t3 = np.array([0.55, 0.35, 0.05, 0.05])  # same shape as t1
    ttda = np.array([t1, t2, t3])
    d = EN.asymmetric_distance_chunk(ttda, ttda, 0)
    assert d[0][0] == 0 and d[1][1] == 0 and d[2][2] == 0
    # t1's mass-mask keeps [0.6, 0.3]; t2 masked sums to 0.1 > 0.05 ->
    # real cosine; t3 masked [0.55, 0.35] is nearly parallel to t1
    want_13 = 1 - (np.array([0.6, 0.3]) @ np.array([0.55, 0.35])) / (
        np.linalg.norm([0.6, 0.3]) * np.linalg.norm([0.55, 0.35]))
    assert d[0][2] == pytest.approx(want_13, rel=1e-12)
    assert d[0][2] < 0.01 < d[0][1]
    # short-circuit: mask t1 onto a topic with almost no mass there
    t4 = np.array([0.02, 0.02, 0.48, 0.48])
    d2 = EN.asymmetric_distance_chunk(np.array([t1]), np.array([t4]), 5)
    assert d2[0][0] == 1  # masked sum 0.04 <= 0.05 threshold


def _two_group_amatrix():
    # topics 0-2 mutually close, 3-5 mutually close, groups far apart
    n = 6
    am = np.ones((n, n))
    for i in range(3):
        for j in range(3):
            am[i][j] = 0.01 if i != j else 0.0
    for i in range(3, 6):
        for j in range(3, 6):
            am[i][j] = 0.01 if i != j else 0.0
    return am


def test_cbdbscan_two_clusters():
    scan = EN.CBDBSCAN(eps=0.1, min_samples=2)
    scan.fit(_two_group_amatrix())
    labels = [t.label for t in scan.results]
    assert all(t.is_core for t in scan.results)
    assert len({labels[0], labels[1], labels[2]}) == 1
    assert len({labels[3], labels[4], labels[5]}) == 1
    assert labels[0] != labels[3]

    ttda = np.vstack([np.tile([0.3, 0.03], 3).reshape(3, 2) + 0.01 * np.arange(3)[:, None],
                      np.tile([0.03, 0.3], 3).reshape(3, 2) + 0.01 * np.arange(3)[:, None]])
    stable = EN.validate_clusters_and_stable_topics(ttda, scan.results,
                                                    min_cores=2)
    assert stable.shape[0] == 2


def test_cbdbscan_noise_label():
    # an isolated topic never reaches min_samples -> label -1, not core
    am = np.ones((3, 3))
    np.fill_diagonal(am, 0)
    am[0][1] = am[1][0] = 0.01
    scan = EN.CBDBSCAN(eps=0.1, min_samples=2)
    scan.fit(am)
    assert scan.results[2].label == -1 and not scan.results[2].is_core


def test_ensemble_end_to_end(spark):
    # planted 2-community corpus: stable topics must recover the split
    rng = np.random.default_rng(5)
    rows = []
    for d in range(120):
        comm = d % 2
        for _ in range(12):
            rows.append((d, int(5 * comm + rng.integers(5)), 1))
    postings = spark.createDataFrame(rows,
                                     "doc_id long, term_id long, tf long")
    model = EN.ensemble_lda_fit(postings, num_topics=2, num_models=4,
                                num_terms=10, passes=5, iterations=30,
                                random_seed=7)
    stable = model.get_topics()
    assert stable.shape[0] == 2
    np.testing.assert_allclose(stable.sum(axis=1), 1.0, atol=1e-9)
    # each stable topic concentrates on one community's 5 words
    for row in stable:
        assert max(row[:5].sum(), row[5:].sum()) > 0.8

    classic = model.classic_representation()
    np.testing.assert_allclose(classic.get_topics(), stable, atol=1e-10)

    # classic representation is a working LdaModel: doc inference runs
    from gensim_spark.operators import lda as LD

    dt = LD.doc_topics(postings, classic)
    assert dt.count() > 0


def test_ensemble_fit_infers_num_terms(spark):
    from gensim_spark.operators.ensemble import ensemble_lda_fit

    postings = spark.createDataFrame(
        [(d, t, 2.0) for d in range(8) for t in range(5)],
        "doc_id long, term_id long, tf double")
    e = ensemble_lda_fit(postings, num_topics=2, num_models=2, passes=1)
    assert e.ttda.shape[1] == 5
