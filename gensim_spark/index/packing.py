"""Posting-run packing: sorted doc_ids delta+varint-encoded, float32 weights,
per-block max-weight metadata.

The packed run is the analogue of gensim's CSR index column
(gensim/similarities/docsim.py:1241-1248 stores docs×terms CSR; a CSC column
per term IS a posting run) — re-laid-out for web scale: delta+varint doc-id
blobs compress zipfian gaps to ~1-2 bytes/posting, and the per-block maxima
are the skip structure block-max WAND needs (Ding & Suel, SIGIR'11).

Pure-numpy encode/decode — runs inside Arrow-batch UDFs during shard builds
and query traversal. The build path calls :func:`pack_runs` once per Arrow
batch: every run in the batch is encoded by the same handful of numpy calls,
so there is no per-run (let alone per-posting) Python on the build path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128


def _varint_encode(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """uint64 values → (LEB128 byte array, per-value byte counts)."""
    nbytes = np.maximum((64 - np.uint64(0) - _clz64(vals) + 6) // 7, 1)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    pos = np.concatenate(([0], np.cumsum(nbytes)[:-1])).astype(np.int64)
    rem = vals.copy()
    max_len = int(nbytes.max())
    for b in range(max_len):
        mask = nbytes > b
        idx = pos[mask] + b
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > b + 1).astype(np.uint8) << 7
        out[idx] = byte | cont
        rem[mask] = rem[mask] >> np.uint64(7)
    return out, nbytes


def encode_varint_deltas(doc_ids: np.ndarray) -> bytes:
    """Sorted int64 doc_ids → delta+varint blob (LEB128, numpy-vectorized)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    if doc_ids.size == 0:
        return b""
    deltas = np.empty_like(doc_ids)
    deltas[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    out, _ = _varint_encode(deltas.astype(np.uint64))
    return out.tobytes()


def _clz64(v: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 array (via bit_length emulation)."""
    v = v.astype(np.uint64)
    bl = np.zeros(v.shape, dtype=np.uint64)
    x = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = x >= (np.uint64(1) << np.uint64(shift))
        bl[mask] += np.uint64(shift)
        x[mask] = x[mask] >> np.uint64(shift)
    bl[v > 0] += np.uint64(1)  # bit_length
    return np.uint64(64) - bl


def decode_varint_deltas(blob: bytes) -> np.ndarray:
    """Inverse of :func:`encode_varint_deltas` → sorted int64 doc_ids."""
    raw = np.frombuffer(blob, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.int64)
    cont = (raw & 0x80) != 0
    ends = np.nonzero(~cont)[0]
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    payload = (raw & 0x7F).astype(np.uint64)
    vals = np.zeros(ends.size, dtype=np.uint64)
    max_len = int(lengths.max())
    for b in range(max_len):
        mask = lengths > b
        vals[mask] |= payload[starts[mask] + b] << np.uint64(7 * b)
    return np.cumsum(vals.astype(np.int64))


def _binary_column(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """One contiguous byte buffer + (n+1) byte offsets → Arrow binary array
    (no per-value copies)."""
    if int(offsets[-1]) > np.iinfo(np.int32).max:
        raise OverflowError("packed column exceeds 2 GiB in one batch")
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)),
         pa.py_buffer(np.ascontiguousarray(data).view(np.uint8))])


def pack_runs(doc_ids: np.ndarray, weights: np.ndarray,
              run_starts: np.ndarray,
              block_size: int = BLOCK_SIZE) -> dict:
    """Pack every run of a batch at once. Run ``i`` is
    ``doc_ids[run_starts[i]:run_starts[i+1]]`` (the last ends at the array's
    end; ``run_starts[0] == 0``), each sorted by doc_id.

    Returns ``n`` (int64 per run) plus one Arrow binary array per packed
    column — doc_blob, weight_blob (float32 LE), and the per-block skip
    metadata block_max (float32[]), block_last_doc / block_first_doc
    (int64[]), block_offset (int64[] — byte offset of each block's first
    varint in doc_blob, enabling BLOCK-LAZY decode: a block decodes
    independently as blast[b-1] + cumsum(deltas), so WAND traversal pays
    decode cost only for blocks it actually evaluates).

    One varint encode covers the whole batch (each run's first delta is its
    absolute doc id, so run blobs are contiguous slices of it); block maxima
    are one ``maximum.reduceat`` over all blocks of all runs."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    weights = np.asarray(weights, dtype=np.float32)
    run_starts = np.asarray(run_starts, dtype=np.int64)
    total = doc_ids.size
    bounds = np.append(run_starts, total)
    lengths = np.diff(bounds)
    firsts = run_starts[lengths > 0]

    deltas = np.empty_like(doc_ids)
    if total:
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
        deltas[firsts] = doc_ids[firsts]  # includes position 0
        varints, nbytes = _varint_encode(deltas.astype(np.uint64))
    else:
        varints, nbytes = np.empty(0, np.uint8), np.empty(0, np.int64)
    cum = np.concatenate(([0], np.cumsum(nbytes))).astype(np.int64)

    # blocks of all runs tile [0, total) in order: block j of run i starts
    # at run_starts[i] + j * block_size
    nblocks = (lengths + block_size - 1) // block_size
    block_bounds = np.concatenate(([0], np.cumsum(nblocks)))
    block_run = np.repeat(np.arange(lengths.size), nblocks)
    bstart = (run_starts[block_run]
              + (np.arange(block_bounds[-1]) - block_bounds[block_run])
              * block_size)
    bend = np.minimum(bstart + block_size, bounds[block_run + 1]) - 1
    if bstart.size:
        bmax = np.maximum.reduceat(np.abs(weights), bstart)
    else:
        bmax = np.empty(0, dtype=np.float32)
    boffs = cum[bstart] - cum[run_starts[block_run]]
    return {
        "n": lengths,
        "doc_blob": _binary_column(varints, cum[bounds]),
        "weight_blob": _binary_column(weights, 4 * bounds),
        "block_max": _binary_column(bmax, 4 * block_bounds),
        "block_last_doc": _binary_column(doc_ids[bend], 8 * block_bounds),
        "block_first_doc": _binary_column(doc_ids[bstart], 8 * block_bounds),
        "block_offset": _binary_column(boffs, 8 * block_bounds),
    }


def pack_run(doc_ids: np.ndarray, weights: np.ndarray,
             block_size: int = BLOCK_SIZE) -> dict:
    """One term's postings (sorted by doc_id) → packed run dict of bytes
    (see :func:`pack_runs` for the columns)."""
    cols = pack_runs(doc_ids, weights, np.zeros(1, dtype=np.int64),
                     block_size)
    out = {k: v[0].as_py() for k, v in cols.items() if k != "n"}
    out["n"] = int(cols["n"][0])
    return out


def decode_block(doc_blob: bytes, block_offsets: np.ndarray,
                 block_last_doc: np.ndarray, b: int) -> np.ndarray:
    """Decode ONLY block ``b`` of a packed run (int64 doc_ids). The delta
    chain crosses block boundaries, but the previous block's last doc is in
    the skip metadata, so the block is self-contained: blast[b-1] +
    cumsum(block deltas)."""
    start = int(block_offsets[b])
    end = (int(block_offsets[b + 1]) if b + 1 < len(block_offsets)
           else len(doc_blob))
    docs = decode_varint_deltas(doc_blob[start:end])
    if b > 0:
        docs = docs + int(block_last_doc[b - 1])
    return docs


def unpack_run(run) -> tuple[np.ndarray, np.ndarray]:
    """Packed run (dict/Row with doc_blob, weight_blob) → (doc_ids, weights)."""
    doc_ids = decode_varint_deltas(bytes(run["doc_blob"]))
    weights = np.frombuffer(bytes(run["weight_blob"]), dtype=np.float32)
    return doc_ids, weights


def unpack_blocks(run) -> tuple[np.ndarray, np.ndarray]:
    bmax = np.frombuffer(bytes(run["block_max"]), dtype=np.float32)
    blast = np.frombuffer(bytes(run["block_last_doc"]), dtype=np.int64)
    return bmax, blast


def unpack_block_lazy_meta(run) -> tuple[np.ndarray, np.ndarray]:
    """(block_first_doc int64[], block_offset int64[]) — the lazy-decode
    sidecar added in pack format v2."""
    bfirst = np.frombuffer(bytes(run["block_first_doc"]), dtype=np.int64)
    boffs = np.frombuffer(bytes(run["block_offset"]), dtype=np.int64)
    return bfirst, boffs
