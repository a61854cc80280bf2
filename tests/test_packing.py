"""Batch packer byte identity: ``packing.pack_runs`` against a per-run
reference packer, on every run and every blob column, including format
v2's per-run weight dictionary and codes."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gensim_spark.index import packing

COLUMNS = ("doc_blob", "weight_dict", "weight_code", "block_max",
           "block_last_doc", "block_first_doc", "block_offset")


def reference_pack_run(doc_ids, weights, block_size=packing.BLOCK_SIZE):
    """One run's postings (sorted by doc_id) → dict of bytes, packed one run
    at a time: the oracle for the batch packer. The weight dictionary is the
    run's distinct float32 bit patterns in ascending unsigned order; each
    code is the posting's index in it, 1 B wide up to 256 entries, 2 B up
    to 65,536, else 4 B."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.float32)
    n = doc_ids.size
    wdict, codes = np.unique(weights.view(np.uint32), return_inverse=True)
    width = 1 if wdict.size <= 256 else 2 if wdict.size <= 65536 else 4
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
        "weight_dict": wdict.astype("<u4").tobytes(),
        "weight_code": codes.astype(f"<u{width}").tobytes(),
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


def _bits(a):
    return np.asarray(a, dtype=np.float32).view(np.uint32)


def _distinct_weights(rng, n_distinct, n):
    """``n`` float32 weights taking exactly ``n_distinct`` bit patterns,
    drawn over the whole 32-bit space (negative values, NaN payloads and
    infinities included), each pattern used at least once."""
    pats = np.unique(rng.integers(0, 2**32, size=n_distinct + 64,
                                  dtype=np.uint64).astype(np.uint32))
    while pats.size < n_distinct:
        pats = np.unique(np.concatenate((pats, rng.integers(
            0, 2**32, size=n_distinct, dtype=np.uint64).astype(np.uint32))))
    pats = rng.permutation(pats)[:n_distinct]
    idx = np.concatenate((np.arange(n_distinct),
                          rng.integers(0, n_distinct, size=n - n_distinct)))
    return pats[rng.permutation(idx)].view(np.float32)


@given(seed=st.integers(0, 2**32 - 1),
       n_distinct=st.sampled_from([1, 255, 256, 257, 65_535, 65_536,
                                   65_537]),
       extra=st.sampled_from([0, 1, 300]))
@settings(max_examples=20, deadline=None)
def test_code_width_boundaries(seed, n_distinct, extra):
    """The code width steps from 1 B to 2 B past 256 distinct weights and
    to 4 B past 65,536, and every weight decodes to its own bits."""
    rng = np.random.default_rng(seed)
    n = n_distinct + extra
    ws = _distinct_weights(rng, n_distinct, n)
    docs = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
    assert_matches_reference([(docs, ws)])
    run = packing.pack_run(docs, ws)
    width = 1 if n_distinct <= 256 else 2 if n_distinct <= 65_536 else 4
    assert len(run["weight_dict"]) == 4 * n_distinct
    assert len(run["weight_code"]) == width * n
    assert np.array_equal(
        _bits(packing.decode_weights(run["weight_dict"], run["weight_code"])),
        _bits(ws))


@given(seed=st.integers(0, 2**32 - 1),
       payloads=st.lists(st.integers(1, 2**22 - 1), min_size=1, max_size=5),
       lengths=st.lists(st.integers(1, 300), min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_signed_zeros_and_nan_payloads_round_trip(seed, payloads, lengths):
    """-0.0 next to 0.0 and NaNs with distinct payloads (both signs) stay
    distinct dictionary entries and decode bit for bit."""
    rng = np.random.default_rng(seed)
    specials = np.array(
        [0x00000000, 0x80000000]
        + [0x7F800000 | p for p in payloads]
        + [0xFF800000 | p for p in payloads], dtype=np.uint32)
    runs = []
    for n in lengths:
        pick = specials[rng.integers(0, specials.size, size=n)]
        ordinary = rng.random(n).astype(np.float32).view(np.uint32)
        bits = np.where(rng.random(n) < 0.7, pick, ordinary)
        docs = np.sort(rng.choice(10**6, size=n, replace=False))
        runs.append((docs.astype(np.int64), bits.view(np.float32)))
    assert_matches_reference(runs)
    for d, w in runs:
        run = packing.pack_run(d, w)
        got = packing.decode_weights(run["weight_dict"], run["weight_code"])
        assert np.array_equal(_bits(got), _bits(w))
        assert len(run["weight_dict"]) == 4 * np.unique(_bits(w)).size


@given(seed=st.integers(0, 2**32 - 1), nruns=st.integers(1, 400))
@settings(max_examples=30, deadline=None)
def test_one_posting_runs(seed, nruns):
    """A batch of one-posting runs: each has a one-entry dictionary and a
    single 1-byte code 0."""
    rng = np.random.default_rng(seed)
    runs = _make_runs(rng, [1] * nruns, 10**11, 0.5)
    assert_matches_reference(runs)
    docs = np.concatenate([d for d, _ in runs])
    ws = np.concatenate([w for _, w in runs])
    got = packing.pack_runs(docs, ws, np.arange(nruns))
    assert got["weight_code"].to_pylist() == [b"\x00"] * nruns
    assert got["weight_dict"].to_pylist() == [w.tobytes() for w in ws]


class _Acc:
    def __init__(self):
        self.value = 0

    def add(self, v):
        self.value += v


@given(seed=st.integers(0, 2**32 - 1),
       lengths=st.lists(st.integers(1, 700), min_size=1, max_size=8),
       batch_sizes=st.lists(st.integers(1, 400), min_size=1, max_size=6),
       n_distinct=st.sampled_from([3, 300]))
@settings(max_examples=40, deadline=None)
def test_partition_carry_matches_reference(seed, lengths, batch_sizes,
                                           n_distinct):
    """``layout._pack_partition_fn`` fed Arrow batches cut anywhere —
    runs that span several batches go through the carry path — emits
    exactly the per-run reference rows, dictionary and codes included."""
    import pyarrow as pa

    from gensim_spark.index import layout

    rng = np.random.default_rng(seed)
    dps = 4096
    rows = []
    for t, n in enumerate(lengths):
        sid = int(rng.integers(0, 3))
        docs = np.sort(rng.choice(dps, size=min(n, dps), replace=False))
        # the pack input's weight column is double, as Spark hands it over
        # (a signalling NaN comes back quiet, on both sides alike)
        with np.errstate(invalid="ignore"):
            ws = _distinct_weights(rng, min(n_distinct, docs.size),
                                   docs.size).astype(np.float64)
        rows.append((sid, t, docs + sid * dps, ws))
    rows.sort(key=lambda r: (r[0], r[1]))
    sids = np.concatenate([np.full(d.size, s) for s, _, d, _ in rows])
    tids = np.concatenate([np.full(d.size, t) for _, t, d, _ in rows])
    docs = np.concatenate([d for _, _, d, _ in rows]).astype(np.int64)
    ws = np.concatenate([w for _, _, _, w in rows])
    cuts = np.cumsum(np.resize(batch_sizes, docs.size))
    cuts = np.r_[0, cuts[cuts < docs.size], docs.size]
    table = pa.table({"shard_id": sids.astype(np.int64),
                      "term_id": tids.astype(np.int64),
                      "doc_id": docs, "weight": ws})
    batches = [table.slice(lo, hi - lo).to_batches()[0]
               for lo, hi in zip(cuts[:-1], cuts[1:])]
    acc = _Acc()
    out = pa.Table.from_batches(
        list(layout._pack_partition_fn(acc, dps)(iter(batches)))).to_pylist()
    assert [(r["shard_id"], r["term_id"]) for r in out] == \
        [(s, t) for s, t, _, _ in rows]
    for got, (_, _, d, w) in zip(out, rows):
        want = reference_pack_run(d, w)
        assert got["n"] == want["n"]
        for col in COLUMNS:
            assert got[col] == want[col], col
    assert acc.value == sum(np.unique(d).size for s in set(sids.tolist())
                            for d in [docs[sids == s]])
