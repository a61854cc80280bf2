"""Posting-run packing, format v2: sorted doc_ids delta+varint-encoded,
weights coded through a per-run dictionary, per-block max-weight metadata.

The packed run is the analogue of gensim's CSR index column
(gensim/similarities/docsim.py:1241-1248 stores docs×terms CSR; a CSC column
per term IS a posting run) — re-laid-out for web scale: delta+varint doc-id
blobs compress zipfian gaps to ~1-2 bytes/posting, and the per-block maxima
are the skip structure block-max WAND needs (Ding & Suel, SIGIR'11).

Format v2 (table property ``write.format = packed-postings-v2``; a v1 store,
which kept one float32 per posting in ``weight_blob``, is refused by
``layout``, never decoded). One row per (shard, term) run, columns
:data:`RUN_COLUMNS`:

- ``doc_blob`` — LEB128 varints of the doc-id deltas (the first delta is the
  absolute doc id);
- ``weight_dict`` — the run's distinct float32 bit patterns, ascending as
  unsigned 32-bit integers (so -0.0, 0.0 and NaN payloads are distinct
  entries and round-trip bit for bit);
- ``weight_code`` — one little-endian unsigned code per posting, an index
  into ``weight_dict``. Its width follows from the dictionary size alone
  (:func:`code_widths`: 1 B up to 256 entries, 2 B up to 65,536, 4 B above),
  so the format stores no flag. A run's weights are idf_t · g(tf, dl), and
  a run holds at most as many postings as its shard has documents, so at
  the default ``docs_per_shard`` (32,768) no dictionary can exceed 65,536
  entries and codes never exceed 2 B;
- ``block_max`` (float32 max |w| per block), ``block_last_doc`` /
  ``block_first_doc`` (int64 per block) and ``block_offset`` (int64 byte
  offset of each block's first varint in ``doc_blob``) — the skip metadata
  that lets block-max WAND decode one block at a time.

Decoding the weights is one gather, ``weight_dict[weight_code]``
(:func:`decode_weights`).

Pure-numpy encode/decode — runs inside Arrow-batch UDFs during shard builds
and query traversal. The build path calls :func:`pack_runs` once per Arrow
batch: every run in the batch is encoded by the same handful of numpy calls
(one ``np.unique`` builds every run's dictionary), so there is no per-run
(let alone per-posting) Python on the build path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128

# the packed columns of one run, in the order :class:`wand._TermRun` takes
RUN_COLUMNS = ("doc_blob", "weight_dict", "weight_code", "block_max",
               "block_last_doc", "block_first_doc", "block_offset")


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


def code_widths(n_dict) -> np.ndarray:
    """Bytes per weight code of runs whose dictionaries hold ``n_dict``
    entries: 1 up to 256, 2 up to 65,536, 4 above. The width follows from
    the dictionary alone, so the format stores no flag."""
    n = np.asarray(n_dict)
    return np.where(n <= 1 << 8, 1, np.where(n <= 1 << 16, 2, 4))


def _weight_columns(weights: np.ndarray, lengths: np.ndarray,
                    bounds: np.ndarray) -> tuple[pa.Array, pa.Array]:
    """Every run's (weight_dict, weight_code) at once. One ``np.unique``
    over ``(run << 32) | float32 bits`` sorts each run's distinct bit
    patterns together, so the unique keys are the dictionaries laid end to
    end, and the inverse minus the run's dictionary start is the code."""
    run_of = np.repeat(np.arange(lengths.size, dtype=np.int64), lengths)
    keys, inv = np.unique((run_of.astype(np.uint64) << np.uint64(32))
                          | weights.view(np.uint32), return_inverse=True)
    dict_bounds = np.concatenate(([0], np.cumsum(np.bincount(
        (keys >> np.uint64(32)).astype(np.int64), minlength=lengths.size))))
    widths = code_widths(np.diff(dict_bounds))
    code_bounds = np.concatenate(([0], np.cumsum(lengths * widths)))
    codes = inv.reshape(-1) - dict_bounds[run_of]
    w_of = widths[run_of]
    pos = (code_bounds[run_of]
           + (np.arange(run_of.size) - bounds[run_of]) * w_of)
    out = np.empty(int(code_bounds[-1]), dtype=np.uint8)
    for w in (1, 2, 4):
        m = w_of == w
        if m.any():
            out[pos[m, None] + np.arange(w)] = \
                codes[m].astype(f"<u{w}").view(np.uint8).reshape(-1, w)
    return (_binary_column(keys.astype(np.uint32), 4 * dict_bounds),
            _binary_column(out, code_bounds))


def decode_weights(weight_dict, weight_code, dtype=np.float32) -> np.ndarray:
    """A run's weights, ``weight_dict[weight_code]``: the dictionary is cast
    to ``dtype`` first, so the gather is the only per-posting work."""
    wdict = np.frombuffer(weight_dict, dtype="<f4").astype(dtype)
    width = int(code_widths(wdict.size))
    return wdict[np.frombuffer(weight_code, dtype=f"<u{width}")]


def pack_runs(doc_ids: np.ndarray, weights: np.ndarray,
              run_starts: np.ndarray,
              block_size: int = BLOCK_SIZE) -> dict:
    """Pack every run of a batch at once. Run ``i`` is
    ``doc_ids[run_starts[i]:run_starts[i+1]]`` (the last ends at the array's
    end; ``run_starts[0] == 0``), each sorted by doc_id.

    Returns ``n`` (int64 per run) plus one Arrow binary array per packed
    column of :data:`RUN_COLUMNS` (see the module docstring). One varint
    encode covers the whole batch (each run's first delta is its absolute
    doc id, so run blobs are contiguous slices of it), one ``np.unique``
    builds every run's weight dictionary, and block maxima are one
    ``maximum.reduceat`` over all blocks of all runs."""
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
    weight_dict, weight_code = _weight_columns(weights, lengths, bounds)
    return {
        "n": lengths,
        "doc_blob": _binary_column(varints, cum[bounds]),
        "weight_dict": weight_dict,
        "weight_code": weight_code,
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
