"""word2vec C-format I/O: round-trips, reference-writer fixtures, and a
sequential replica of the reference reader (keyedvectors.py:1596-2090) as
the parity oracle — the full gensim package cannot import in this sandbox
(no scipy), so the replica pins the exact reference semantics line-by-line.
"""
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gensim_spark.sources import word2vec_format as WF
from tests.refload import REFERENCE_ROOT, requires_reference


def _mk_df(spark, words, vecs, counts=None):
    rows = []
    for i, (w, v) in enumerate(zip(words, vecs)):
        rows.append((w, i, int(counts[i]) if counts else len(words) - i,
                     [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "word string, word_id long, count long, embedding array<double>")


def _rand(n=7, d=5, seed=0):
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(n)]
    vecs = rng.standard_normal((n, d)).astype(np.float32)
    return words, vecs


def _ref_write_text(path, words, vecs, write_header=True):
    """Byte-exact replica of the reference text writer
    (keyedvectors.py:1666-1673): str() of float32 scalars."""
    with open(path, "wb") as f:
        if write_header:
            f.write(f"{len(words)} {vecs.shape[1]}\n".encode("utf8"))
        for w, v in zip(words, vecs):
            f.write(f"{w} {' '.join(str(x) for x in v)}\n".encode("utf8"))


def _ref_write_binary(path, words, vecs, newline_quirk=False):
    """Replica of the reference binary writer (keyedvectors.py:1669-1670);
    ``newline_quirk`` prepends the original C tool's record newline that
    the reference reader strips (keyedvectors.py:1941-1943)."""
    with open(path, "wb") as f:
        f.write(f"{len(words)} {vecs.shape[1]}\n".encode("utf8"))
        for i, (w, v) in enumerate(zip(words, vecs)):
            pre = b"\n" if (newline_quirk and i > 0) else b""
            f.write(pre + f"{w} ".encode("utf8")
                    + v.astype(np.float32).tobytes())


def _ref_read_replica(path, binary=False, limit=None):
    """Sequential replica of _load_word2vec_format (keyedvectors.py:
    1999-2085): returns [(word, word_id, fake_count, float32 vector)]."""
    out, seen = [], {}
    with open(path, "rb") as f:
        vocab_size, vector_size = (int(x) for x in
                                   f.readline().decode().split())
        if limit:
            vocab_size = min(vocab_size, limit)
        for _ in range(vocab_size):
            if binary:
                word_b = b""
                while True:
                    ch = f.read(1)
                    if ch == b" ":
                        break
                    if ch == b"":
                        raise EOFError("unexpected end of input")
                    word_b += ch
                word = word_b.decode("utf8").lstrip("\n")
                vec = np.frombuffer(f.read(4 * vector_size),
                                    dtype=np.float32)
            else:
                line = f.readline()
                if line == b"":
                    raise EOFError("unexpected end of input")
                parts = line.rstrip().decode("utf8").split(" ")
                word = parts[0]
                vec = np.array([np.float32(x) for x in parts[1:]])
            if word in seen:
                continue
            seen[word] = True
            out.append((word, len(out), vec))
    return [(w, i, vocab_size - i, v) for (w, i, v) in out]


def _collect(df):
    rows = df.orderBy("word_id").collect()
    return [(r["word"], r["word_id"], r["count"],
             np.array(r["embedding"], dtype=np.float32)) for r in rows]


def test_text_round_trip(spark, tmp_path):
    words, vecs = _rand()
    df = _mk_df(spark, words, vecs)
    path = str(tmp_path / "vecs.vec")
    WF.save_word2vec_format(df, path)
    got = _collect(WF.load_word2vec_format(spark, path))
    # counts descend by store order = our descending count order
    for (w, i, c, v), w0, v0 in zip(got, words, vecs):
        assert (w, i, c) == (w0, words.index(w0), len(words) - words.index(w0))
        np.testing.assert_array_equal(v, v0)


def test_binary_round_trip(spark, tmp_path):
    words, vecs = _rand(seed=1)
    df = _mk_df(spark, words, vecs)
    path = str(tmp_path / "vecs.bin")
    WF.save_word2vec_format(df, path, binary=True)
    got = _collect(WF.load_word2vec_format(spark, path, binary=True))
    for (w, i, c, v), w0, v0 in zip(got, words, vecs):
        assert w == w0
        np.testing.assert_array_equal(v, v0)  # float32 bit-exact


@pytest.mark.parametrize("binary", [False, True])
def test_matches_reference_reader_replica(spark, tmp_path, binary):
    words, vecs = _rand(n=9, d=4, seed=2)
    # inject a duplicate mid-file: reference keeps the first occurrence
    words[5] = words[2]
    path = str(tmp_path / ("f.bin" if binary else "f.vec"))
    if binary:
        _ref_write_binary(path, words, vecs)
    else:
        _ref_write_text(path, words, vecs)
    want = _ref_read_replica(path, binary=binary)
    got = _collect(WF.load_word2vec_format(spark, path, binary=binary))
    assert len(got) == len(want) == 8
    for (w, i, c, v), (w0, i0, c0, v0) in zip(got, want):
        assert (w, i, c) == (w0, i0, c0)
        np.testing.assert_array_equal(v, v0)


def test_binary_leading_newline_quirk(spark, tmp_path):
    words, vecs = _rand(n=4, d=3, seed=3)
    path = str(tmp_path / "c.bin")
    _ref_write_binary(path, words, vecs, newline_quirk=True)
    got = _collect(WF.load_word2vec_format(spark, path, binary=True))
    assert [g[0] for g in got] == words


def test_limit_and_fake_counts(spark, tmp_path):
    words, vecs = _rand(n=6, d=3, seed=4)
    path = str(tmp_path / "f.vec")
    _ref_write_text(path, words, vecs)
    got = _collect(WF.load_word2vec_format(spark, path, limit=4))
    want = _ref_read_replica(path, limit=4)
    assert [(g[0], g[1], g[2]) for g in got] == \
        [(w, i, c) for (w, i, c, _) in want]
    assert len(got) == 4 and got[0][2] == 4  # counts faked vs CLAMPED size


def test_no_header_glove_layout(spark, tmp_path):
    words, vecs = _rand(n=5, d=3, seed=5)
    path = str(tmp_path / "glove.txt")
    _ref_write_text(path, words, vecs, write_header=False)
    got = _collect(WF.load_word2vec_format(spark, path, no_header=True))
    assert [g[0] for g in got] == words
    with pytest.raises(NotImplementedError):
        WF.load_word2vec_format(spark, path, no_header=True, binary=True)


def test_eof_raises(spark, tmp_path):
    words, vecs = _rand(n=3, d=3, seed=6)
    path = str(tmp_path / "bad.vec")
    with open(path, "wb") as f:
        f.write(b"5 3\n")   # header promises 5, file has 3
        for w, v in zip(words, vecs):
            f.write(f"{w} {' '.join(str(x) for x in v)}\n".encode())
    with pytest.raises(EOFError):
        WF.load_word2vec_format(spark, path)
    path2 = str(tmp_path / "bad.bin")
    _ref_write_binary(path2, words, vecs)
    with open(path2, "r+b") as f:
        f.seek(0)
        f.write(b"5 3\n")
    with pytest.raises(EOFError):
        WF.load_word2vec_format(spark, path2, binary=True)


def test_fvocab_counts(spark, tmp_path):
    words, vecs = _rand(n=4, d=3, seed=7)
    counts = [40, 30, 20, 10]
    df = _mk_df(spark, words, vecs, counts)
    path, vpath = str(tmp_path / "v.vec"), str(tmp_path / "v.vocab")
    WF.save_word2vec_format(df, path, fvocab=vpath)
    assert open(vpath).read().splitlines() == \
        [f"{w} {c}" for w, c in zip(words, counts)]
    got = _collect(WF.load_word2vec_format(spark, path, fvocab=vpath))
    assert [(g[0], g[2]) for g in got] == list(zip(words, counts))
    # incomplete vocab file → NULL count (reference warns, sets None)
    with open(vpath, "wb") as f:
        f.write(f"{words[0]} 40\n".encode())
    got = _collect(WF.load_word2vec_format(spark, path, fvocab=vpath))
    assert got[0][2] == 40 and all(g[2] is None for g in got[1:])
    # saving without a count column but with fvocab → ValueError
    with pytest.raises(ValueError):
        WF.save_word2vec_format(df.drop("count"), path, fvocab=vpath)


def test_save_orders_by_count_desc(spark, tmp_path):
    words, vecs = _rand(n=4, d=3, seed=8)
    counts = [5, 99, 7, 99]   # ties broken by word_id (reference stable sort)
    df = _mk_df(spark, words, vecs, counts)
    path = str(tmp_path / "s.vec")
    WF.save_word2vec_format(df, path)
    lines = open(path, "rb").read().decode().splitlines()
    assert [ln.split(" ")[0] for ln in lines[1:]] == \
        ["w1", "w3", "w2", "w0"]
    # no-header + prefix knobs
    WF.save_word2vec_format(df, path, write_header=False, prefix="en_")
    first = open(path, "rb").read().decode().splitlines()[0]
    assert first.startswith("en_w1 ")


def test_gzip_text(spark, tmp_path):
    words, vecs = _rand(n=4, d=3, seed=9)
    df = _mk_df(spark, words, vecs)
    path = str(tmp_path / "v.vec.gz")
    WF.save_word2vec_format(df, path)
    got = _collect(WF.load_word2vec_format(spark, path))
    assert [g[0] for g in got] == words
    np.testing.assert_array_equal(got[2][3], vecs[2])


def test_facade_load_feeds_most_similar(spark, tmp_path):
    from gensim_spark.api import KeyedVectors

    words, vecs = _rand(n=8, d=6, seed=10)
    path = str(tmp_path / "kv.vec")
    _ref_write_text(path, words, vecs)
    kv = KeyedVectors.load_word2vec_format(spark, path)
    top = kv.most_similar(positive=[words[0]], topn=3)
    assert len(top) == 3 and words[0] not in [t[0] for t in top]
    # numpy oracle
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit[0]
    order = [words[i] for i in np.argsort(-sims) if i != 0][:3]
    assert [t[0] for t in top] == order
    out = str(tmp_path / "kv2.vec")
    kv.save_word2vec_format(out)
    kv2 = KeyedVectors.load_word2vec_format(spark, out)
    assert sorted(r["word"] for r in kv2.df.collect()) == sorted(words)


@requires_reference("test/test_data/crime-and-punishment.vec")
def test_reference_shipped_vec_fixture(spark):
    # a real .vec written by the original C fastText tool, shipped as
    # reference test data — 291 words x 5 dims
    path = f"{REFERENCE_ROOT}/test/test_data/crime-and-punishment.vec"
    got = WF.load_word2vec_format(spark, path)
    rows = {r["word"]: np.array(r["embedding"]) for r in got.collect()}
    assert len(rows) == 291
    want = {}
    with open(path, encoding="utf-8") as fin:
        n, dim = (int(x) for x in fin.readline().split())
        for line in fin:
            parts = line.rstrip().split(" ")
            want[parts[0]] = np.array([float(x) for x in parts[1:]])
    for w in ("landlady", "хозяйка"):
        np.testing.assert_allclose(rows[w], want[w], atol=0)


def test_glove2word2vec(spark, tmp_path):
    words, vecs = _rand(6, 4, seed=9)
    glove = str(tmp_path / "glove.txt")
    _ref_write_text(glove, words, vecs, write_header=False)
    out = str(tmp_path / "w2v.txt")
    n, d = WF.glove2word2vec(spark, glove, out)
    assert (n, d) == (6, 4)
    with open(out, "rb") as f:
        lines = f.read().decode("utf8").splitlines()
    assert lines[0] == "6 4"
    # no_header fakes counts descending in load order → save preserves order
    assert [ln.split()[0] for ln in lines[1:]] == words
    back = WF.load_word2vec_format(spark, out)
    got = {r["word"]: np.asarray(r["embedding"], dtype=np.float32)
           for r in back.collect()}
    for w, v in zip(words, vecs):
        np.testing.assert_array_equal(got[w], v)


def test_word2vec2tensor(spark, tmp_path):
    words, vecs = _rand(5, 3, seed=4)
    src = str(tmp_path / "model.txt")
    _ref_write_text(src, words, vecs)
    prefix = str(tmp_path / "tb")
    WF.word2vec2tensor(spark, src, prefix)
    # replica of scripts/word2vec2tensor.py:73-76
    with open(prefix + "_metadata.tsv", "rb") as f:
        assert f.read().decode("utf8").splitlines() == words
    with open(prefix + "_tensor.tsv", "rb") as f:
        rows = f.read().decode("utf8").splitlines()
    want = ["\t".join(str(x) for x in v) for v in vecs]
    assert rows == want
