"""Facebook fastText .bin reader: goldens against the REAL fixtures the
reference ships (built by the original C++ tool:
``./fasttext skipgram -minCount 0 -bucket 100 -dim 5`` on
crime-and-punishment.txt), the published C-tool OOV vectors from
test_fasttext.py:1211-1221, a .vec cross-check, and writer round-trips."""
import io
import os

import numpy as np
import pytest

from gensim_spark.sources import fasttext_bin as FB
from tests.refload import REFERENCE_ROOT, requires_reference

CAP_BIN_REL = "test/test_data/crime-and-punishment.bin"
CAP_VEC_REL = "test/test_data/crime-and-punishment.vec"
NON_ASCII_BIN_REL = "test/test_data/non_ascii_fasttext.bin"
CAP_BIN = f"{REFERENCE_ROOT}/{CAP_BIN_REL}"
CAP_VEC = f"{REFERENCE_ROOT}/{CAP_VEC_REL}"
NON_ASCII_BIN = f"{REFERENCE_ROOT}/{NON_ASCII_BIN_REL}"


def _load_vec(path):
    out = {}
    with open(path, encoding="utf-8") as fin:
        n, dim = (int(x) for x in fin.readline().split())
        for line in fin:
            parts = line.rstrip().split(" ")
            out[parts[0]] = np.array([float(x) for x in parts[1:]])
        assert len(out) == n
    return out


@requires_reference(CAP_BIN_REL)
def test_load_fixture_shapes_and_vocab():
    # reference docstring goldens (_fasttext_bin.py:24-28)
    m = FB.load(CAP_BIN)
    assert m.nwords == 291
    assert m.vectors_ngrams.shape == (391, 5)
    assert m.params["bucket"] == 100 and m.params["dim"] == 5
    assert "landlady" in m.raw_vocab and "landlord" not in m.raw_vocab
    assert m.hidden_output is not None
    m2 = FB.load(CAP_BIN, full_model=False)
    assert m2.hidden_output is None


@requires_reference(CAP_BIN_REL, CAP_VEC_REL)
def test_in_vocab_vectors_match_published_vec():
    # test_fasttext.py:1198-1209: wv[word] == the .vec file the C tool wrote
    model = FB.load_facebook_model(CAP_BIN)
    expected = _load_vec(CAP_VEC)
    adj = model.adjusted_vectors()
    tok2id = {t: i for i, t in enumerate(model.tokens)}
    for word in ("landlady", "хозяйка"):
        np.testing.assert_allclose(adj[tok2id[word]], expected[word],
                                   atol=1e-5)


@requires_reference(CAP_BIN_REL)
def test_oov_vectors_match_published_c_tool_output():
    # test_fasttext.py:1211-1221: ./fasttext print-word-vectors goldens
    model = FB.load_facebook_model(CAP_BIN)
    golden = {
        "steamtrain": [0.031988, 0.022966, 0.059483, 0.094547, 0.062693],
        "паровоз": [-0.0033987, 0.056236, 0.036073, 0.094008, 0.00085222],
        "rechtsschutzversicherungsgesellschaften":
            [-0.012889, 0.029756, 0.018020, 0.099077, 0.041939],
    }
    for w, want in golden.items():
        np.testing.assert_allclose(model.oov_vector(w), want, atol=1e-5)
    # no-ngram string → origin vector (test_fasttext.py:1146-1151)
    np.testing.assert_array_equal(model.oov_vector(""), np.zeros(5))
    # oov != any in-vocab vector (test_load_native_vectors)
    assert not np.allclose(model.oov_vector("landlord"),
                           model.adjusted_vectors()[0])


@requires_reference(NON_ASCII_BIN_REL)
def test_non_ascii_fixture_loads():
    m = FB.load(NON_ASCII_BIN)
    assert m.nwords == m.vocab_size and m.vectors_ngrams.shape[1] == \
        m.params["dim"]


def test_round_trip_save_load():
    rng = np.random.default_rng(0)
    words = ["alpha", "beta", "gamma", "δέλτα"]
    counts = [9, 7, 5, 3]
    dim, bucket = 4, 11
    vv = rng.standard_normal((4, dim)).astype(np.float32)
    vn = rng.standard_normal((bucket, dim)).astype(np.float32)
    ho = rng.standard_normal((4 + bucket, dim)).astype(np.float32)
    params = dict(dim=dim, ws=5, epoch=5, min_count=0, neg=5,
                  word_ngrams=1, loss=2, model=2, bucket=bucket,
                  minn=3, maxn=6, lr_update_rate=100, t=1e-4)
    buf = io.BytesIO()
    FB.save(buf, words, counts, vv, vn, ho, params)
    buf.seek(0)
    m = FB.load(buf)
    assert m.params == params
    assert list(m.raw_vocab) == words
    assert list(m.raw_vocab.values()) == counts
    assert m.ntokens == sum(counts)
    np.testing.assert_array_equal(m.vectors_ngrams[:4], vv)
    np.testing.assert_array_equal(m.vectors_ngrams[4:], vn)
    np.testing.assert_array_equal(m.hidden_output, ho)


def test_supervised_raises():
    buf = io.BytesIO()
    rng = np.random.default_rng(1)
    params = dict(dim=3, ws=5, epoch=5, min_count=0, neg=5, word_ngrams=1,
                  loss=2, model=2, bucket=2, minn=3, maxn=6,
                  lr_update_rate=100, t=1e-4)
    FB.save(buf, ["a"], [1], rng.standard_normal((1, 3)),
            rng.standard_normal((2, 3)), rng.standard_normal((3, 3)),
            params)
    raw = bytearray(buf.getvalue())
    # nlabels lives right after the magic+version+13-field header and
    # vocab_size/nwords: offset 8 + 12*4 + 8 + 4 + 4
    off = 8 + 12 * 4 + 8 + 4 + 4
    raw[off:off + 4] = np.int32(2).tobytes()
    with pytest.raises(NotImplementedError):
        FB.load(io.BytesIO(bytes(raw)))


@requires_reference(CAP_BIN_REL)
def test_to_model_feeds_spark_query_surface(spark):
    model = FB.load_facebook_model(CAP_BIN)
    vecs = model.vectors_df(spark)
    assert vecs.count() == 291
    from gensim_spark.operators import keyedvectors as KV

    q = model.oov_vector("landlord")
    top = (KV.cosine_to_vector(vecs, q / np.linalg.norm(q),
                               key_col="term_id")
           .orderBy("sim", ascending=False).limit(3).collect())
    assert len(top) == 3
    # numpy oracle for the same scan
    adj = model.adjusted_vectors()
    sims = (adj / np.linalg.norm(adj, axis=1, keepdims=True)) \
        @ (q / np.linalg.norm(q))
    assert abs(top[0]["sim"] - np.max(sims)) < 1e-9


def test_hs_bin_loads_as_hs_model():
    """loss=1 in the header means hierarchical softmax: the hidden_output
    matrix is the Huffman inner-node matrix and must land on syn1, with
    hs=1 and a rebuilt tree — NOT on syn1neg (fasttext.py:815
    hs=int(loss==1))."""
    rng = np.random.default_rng(1)
    words = ["aa", "bb", "cc"]
    counts = [9, 5, 2]
    dim, bucket = 4, 7
    vv = rng.standard_normal((3, dim)).astype(np.float32)
    vn = rng.standard_normal((bucket, dim)).astype(np.float32)
    ho = rng.standard_normal((3 + bucket, dim)).astype(np.float32)
    params = dict(dim=dim, ws=5, epoch=5, min_count=0, neg=5,
                  word_ngrams=1, loss=1, model=1, bucket=bucket,
                  minn=2, maxn=3, lr_update_rate=100, t=1e-4)
    buf = io.BytesIO()
    FB.save(buf, words, counts, vv, vn, ho, params)
    buf.seek(0)
    m = FB.to_fasttext_model(FB.load(buf))
    assert m.hs == 1 and m.sg == 0
    np.testing.assert_array_equal(m.syn1, ho.astype(np.float64))
    assert not m.syn1neg.any()
    assert m.codes is not None and len(m.codes) == 3
    # ns model keeps the old wiring
    params["loss"], params["model"] = 2, 2
    buf = io.BytesIO()
    FB.save(buf, words, counts, vv, vn, ho, params)
    buf.seek(0)
    m2 = FB.to_fasttext_model(FB.load(buf))
    assert m2.hs == 0 and m2.sg == 1
    np.testing.assert_array_equal(m2.syn1neg, ho.astype(np.float64))


def test_quantized_matrix_raises():
    import struct

    buf = io.BytesIO(struct.pack("@?", True))
    with pytest.raises(NotImplementedError, match="quantized"):
        FB._read_matrix(buf, new_format=True)
