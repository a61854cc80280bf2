"""Batch packer byte identity: ``packing.pack_runs`` against the per-run
reference packer it replaced, on every run and every blob column."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gensim_spark.index import packing

COLUMNS = ("doc_blob", "weight_blob", "block_max", "block_last_doc",
           "block_first_doc", "block_offset")


def reference_pack_run(doc_ids, weights, block_size=packing.BLOCK_SIZE):
    """The per-run packer the build used before batch packing: one run's
    postings (sorted by doc_id) → dict of bytes. Kept here as the oracle."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.float32)
    n = doc_ids.size
    nblocks = (n + block_size - 1) // block_size
    if n:
        starts = np.arange(nblocks, dtype=np.int64) * block_size
        ends = np.minimum(starts + block_size, n) - 1
        bmax = np.maximum.reduceat(np.abs(weights), starts)
        blast = doc_ids[ends]
        bfirst = doc_ids[starts]
        deltas = np.empty_like(doc_ids)
        deltas[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
        out, nbytes = packing._varint_encode(deltas.astype(np.uint64))
        cum = np.concatenate(([0], np.cumsum(nbytes))).astype(np.int64)
        boffs = cum[np.arange(nblocks) * block_size]
        doc_blob = out.tobytes()
    else:
        bmax = np.empty(0, dtype=np.float32)
        blast = np.empty(0, dtype=np.int64)
        bfirst = np.empty(0, dtype=np.int64)
        boffs = np.empty(0, dtype=np.int64)
        doc_blob = b""
    return {
        "n": int(n),
        "doc_blob": doc_blob,
        "weight_blob": weights.tobytes(),
        "block_max": bmax.tobytes(),
        "block_last_doc": blast.tobytes(),
        "block_first_doc": bfirst.tobytes(),
        "block_offset": boffs.tobytes(),
    }


def _make_runs(rng, lengths, max_doc, negative_share):
    """Sorted, distinct doc ids per run below ``max_doc``; weights mixed
    sign (block_max packs |w|)."""
    runs = []
    for n in lengths:
        if max_doc >= 4 * n:
            ids = np.unique(rng.integers(0, max_doc, size=2 * n))[:n]
            while ids.size < n:
                ids = np.unique(np.concatenate(
                    (ids, rng.integers(0, max_doc, size=n))))[:n]
        else:
            ids = np.sort(rng.choice(max_doc, size=n, replace=False))
        ws = rng.standard_normal(n).astype(np.float32)
        ws = np.where(rng.random(n) < negative_share, -np.abs(ws),
                      np.abs(ws)).astype(np.float32)
        runs.append((ids.astype(np.int64), ws))
    return runs


def assert_matches_reference(runs):
    docs = np.concatenate([d for d, _ in runs])
    ws = np.concatenate([w for _, w in runs])
    starts = np.cumsum([0] + [d.size for d, _ in runs[:-1]])
    got = packing.pack_runs(docs, ws, starts)
    assert got["n"].tolist() == [d.size for d, _ in runs]
    for i, (d, w) in enumerate(runs):
        want = reference_pack_run(d, w)
        for col in COLUMNS:
            assert got[col][i].as_py() == want[col], (i, col)
        one = packing.pack_run(d, w)
        assert one == want


@pytest.mark.parametrize("lengths", [
    [1], [127], [128], [129], [40_000],
    [1, 127, 128, 129, 1, 256, 257],
    [40_000, 1, 129],
])
def test_pack_runs_boundary_lengths(lengths):
    rng = np.random.default_rng(sum(lengths))
    assert_matches_reference(_make_runs(rng, lengths, 10**11, 0.3))


def test_pack_runs_head_run_df_equals_n():
    """A head term that occurs in every document (df = N) next to tail
    runs over the same documents."""
    rng = np.random.default_rng(5)
    n_docs = 3000
    head = (np.arange(n_docs, dtype=np.int64),
            rng.standard_normal(n_docs).astype(np.float32))
    tails = _make_runs(rng, [1, 2, 300, 129], n_docs, 0.5)
    assert_matches_reference([tails[0], head, *tails[1:]])


def test_pack_run_empty():
    want = reference_pack_run(np.empty(0, np.int64), np.empty(0, np.float32))
    assert packing.pack_run(np.empty(0, np.int64),
                            np.empty(0, np.float32)) == want


@given(seed=st.integers(0, 2**32 - 1),
       lengths=st.lists(st.one_of(st.sampled_from([1, 127, 128, 129, 255,
                                                   256, 257]),
                                  st.integers(1, 600)),
                        min_size=1, max_size=12),
       max_doc=st.sampled_from([2_000, 10**6, 10**11]),
       negative_share=st.sampled_from([0.0, 0.5, 1.0]))
@settings(max_examples=150, deadline=None)
def test_pack_runs_matches_reference(seed, lengths, max_doc, negative_share):
    rng = np.random.default_rng(seed)
    assert_matches_reference(_make_runs(rng, lengths, max_doc,
                                        negative_share))
