"""In-process query serving over packed WAND shards — no Spark job per query.

Spark builds, compacts, and maintains the packed posting shards
(`layout.write_packed_shards` / `append_packed_shards`); SERVING them is a
read-only problem over immutable files. At cluster scale each query node
holds a slice of the shard set (page-cache / RAM resident) and answers
shard-local top-k with the same block-max WAND kernel the distributed path
uses; a broker merges the per-node k-lists — the standard two-stage
TakeOrdered (≙ the reference's shard-merge, gensim/similarities/docsim.py:
236-257). This module is that query node: pyarrow reads the packed runs
(term-pruned via parquet row-group statistics — data inside each shard file
is term-sorted, so term_id min/max stats are tight), ``wand._wand`` scores,
and the merge applies gensim's ranking contract (|score| desc, exact zeros
dropped, ascending-doc ties — gensim/interfaces.py:339-353,
matutils.py:435-468).

Rank+score identity with ``wand.wand_topk`` holds by construction: same
kernel, same per-shard candidate lists (shards are doc-disjoint), same merge
key — and is pinned by tests/test_serving.py against both the distributed
WAND plan and the exhaustive join-agg plan.

Latency model: ``wand.wand_topk`` answers a query in one Spark job, which
costs the job-scheduling floor (~1 s on this VM) regardless of how little
work the query does. That floor is a BUILD-path property, not a serving
property: a deployed index answers from long-lived query nodes, so "query
p95 latency" for the engine is the kernel's own sub-millisecond-to-
millisecond cost, which this path measures. Both paths read the same bytes
with the same pruning (only the query terms' runs are ever touched).
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

from gensim_spark.index.layout import (PACKED_SCHEMA, load_bucketed,
                                       packed_files, term_file_pred)
from gensim_spark.index.packing import RUN_COLUMNS
from gensim_spark.index.wand import _TermRun, _wand
from gensim_spark.operators.vocab import resolve_clauses

_READ_COLUMNS = ["shard_id", "term_id", *RUN_COLUMNS]


def _packed_arrow_schema():
    """``layout.PACKED_SCHEMA`` as an Arrow schema: a store with no files
    (an empty corpus) still reads as an empty table."""
    import pyarrow as pa

    return pa.schema([(name, pa.int64() if typ == "long" else pa.binary())
                      for name, typ in (f.split()
                                        for f in PACKED_SCHEMA.split(","))])


def merge_topk(node_rows, k: int = 10) -> list[tuple[int, int, float, int]]:
    """Broker merge of per-node ``topk()`` outputs — the second stage of the
    two-stage TakeOrdered (≙ docsim.py:236-257). Nodes hold disjoint shard
    slices, so their k-lists concatenate without dedup; the merge re-ranks
    with the same contract (|score| desc, doc asc) and re-cuts at k. The
    merged answer equals a single node serving the union of the slices."""
    by_q: dict[int, list[tuple[int, float]]] = {}
    for rows in node_rows:
        for q, d, s, _rk in rows:
            by_q.setdefault(q, []).append((d, s))
    out: list[tuple[int, int, float, int]] = []
    for q in sorted(by_q):
        cand = sorted(by_q[q], key=lambda p: (-abs(p[1]), p[0]))[:k]
        for rank, (d, s) in enumerate(cand, start=1):
            out.append((q, d, float(s), rank))
    return out


def stored_term_ids(index_dir: str, tokens) -> dict[str, int]:
    """token → term_id for the in-vocab members of ``tokens`` against a
    stored ``<index_dir>/vocab`` — the pyarrow twin of
    ``vocab.term_ids``: one token-filtered parquet read, no Spark job. No
    tokens → ``{}`` (an empty ``isin`` value set has no type)."""
    import pyarrow.dataset as pads

    toks = sorted(set(tokens))
    if not toks:
        return {}
    vt = pads.dataset(os.path.join(index_dir, "vocab"),
                      format="parquet").to_table(
        columns=["token", "term_id"], filter=pads.field("token").isin(toks))
    return dict(zip(vt.column("token").to_pylist(),
                    vt.column("term_id").to_pylist()))


def _norm_exclude(exclude_doc_ids):
    if exclude_doc_ids is None:
        return None
    return np.unique(np.asarray(sorted(int(d) for d in exclude_doc_ids),
                                dtype=np.int64))


class PackedIndexServer:
    """One query node over a packed shard store (``index_dir`` as written by
    ``layout.write_packed_shards``). The node reads exactly the files the
    store's current snapshot lists (``layout.packed_files``): staged files
    of a crashed or in-flight write are never served.

    ``preload=True`` (default) decodes the store's parquet into one Arrow
    table at construction and indexes its rows by term — but constructs a
    term's :class:`_TermRun` views only on FIRST TOUCH and caches them, so
    startup pays the columnar decode, not per-run blob copies, and the run
    cache (plus each run's lazy block-decode cache) warms across queries
    exactly like the batch-shared runs in the distributed path.
    ``preload=False`` re-reads only the query terms' runs from parquet per
    call (row-group pruning on term_id) — the cold / bigger-than-RAM node,
    correct but paying file I/O per query.

    ``shards``: restrict this node to a slice of the shard set — the
    deployment unit (shards are doc-disjoint, so N nodes each serving their
    slice's k-list and a broker merging the lists IS the distributed plan's
    two-stage TakeOrdered, answer-identical by construction). The slice
    prunes the snapshot's file list (one file per shard), so a node never
    opens another node's files. ``None`` serves the whole store.

    ``eager_max`` overrides ``wand.EAGER_DECODE_MAX`` (postings count at or
    below which a run decodes its whole doc array up front).
    """

    def __init__(self, index_dir: str, *, preload: bool = True,
                 shards=None, eager_max: int | None = None):
        import pyarrow as pa
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        paths = [f["path"] for f in packed_files(index_dir, shard_ids=shards)]
        self._pads = pads
        self._dataset = pads.dataset(paths, schema=_packed_arrow_schema(),
                                     format="parquet")
        self._eager_max = eager_max
        self._tbl = None
        self._run_cache: dict[int, list[tuple[int, _TermRun]]] = {}
        if preload:
            # whole-file reads: a dataset scan costs about 1 ms more per
            # 2 MB shard file; the dataset reads an empty store
            self._tbl = pa.concat_tables(
                [pq.ParquetFile(p).read(columns=_READ_COLUMNS) for p in paths]
                or [self._dataset.to_table(columns=_READ_COLUMNS)]
            ).combine_chunks()
            tids = self._tbl.column("term_id").to_numpy()
            self._sids = self._tbl.column("shard_id").to_numpy()
            self._order = np.argsort(tids, kind="stable")
            self._tids_sorted = tids[self._order]

    @staticmethod
    def shard_ids(index_dir: str) -> list[int]:
        """Shard ids in the store's current snapshot (manifest partition
        values — no data file opened)."""
        return sorted({f["partition"]["shard_id"]
                       for f in packed_files(index_dir)})

    def _mk_run(self, tbl, i: int) -> _TermRun:
        return _TermRun(*(tbl.column(c)[i].as_py() for c in RUN_COLUMNS),
                        eager_max=self._eager_max)

    def _runs_for_term(self, tid: int) -> list[tuple[int, _TermRun]]:
        lst = self._run_cache.get(tid)
        if lst is None:
            lo = np.searchsorted(self._tids_sorted, tid, "left")
            hi = np.searchsorted(self._tids_sorted, tid, "right")
            lst = [(int(self._sids[int(i)]), self._mk_run(self._tbl, int(i)))
                   for i in self._order[lo:hi]]
            self._run_cache[tid] = lst
        return lst

    def _read_runs(self, term_ids) -> dict[int, list[tuple[int, _TermRun]]]:
        """Cold path: fetch only these terms' runs from parquet."""
        flt = self._pads.field("term_id").isin([int(t) for t in term_ids])
        tbl = self._dataset.to_table(columns=_READ_COLUMNS, filter=flt)
        tbl = tbl.combine_chunks()
        tids = tbl.column("term_id").to_numpy()
        sids = tbl.column("shard_id").to_numpy()
        by_term: dict[int, list[tuple[int, _TermRun]]] = {}
        for i in range(tbl.num_rows):
            by_term.setdefault(int(tids[i]), []).append(
                (int(sids[i]), self._mk_run(tbl, i)))
        return by_term

    @property
    def num_runs(self) -> int | None:
        return None if self._tbl is None else self._tbl.num_rows

    def cache_stats(self) -> dict:
        """Warm-cache state: runs materialized so far, and their varint
        blocks total vs decoded (both monotone — the cache only warms)."""
        runs = [r for lst in self._run_cache.values() for _, r in lst]
        return {"runs_cached": len(runs),
                "blocks_total": sum(r.nblocks for r in runs),
                "blocks_decoded": sum(r.decoded_blocks() for r in runs)}

    def topk(self, query_terms: dict[int, dict[int, float]], k: int = 10,
             exclude_doc_ids=None, stats_out: dict | None = None,
             ) -> list[tuple[int, int, float, int]]:
        """Top-k rows ``(query_id, doc_id, score, rank)`` — the same rows
        ``wand.wand_topk(...).collect()`` yields, in (query_id, rank) order.

        ``exclude_doc_ids``: query-time takedown tombstones, identical
        semantics to the distributed path (exact — excluded docs never enter
        the heap or raise θ). ``stats_out={}`` receives 'postings' /
        'evaluated' pruning counters for this call.
        """
        cold = None
        if self._tbl is None:
            cold = self._read_runs(
                sorted({int(t) for q in query_terms.values() for t in q}))
        exclude = _norm_exclude(exclude_doc_ids)
        stats = {} if stats_out is not None else None
        out: list[tuple[int, int, float, int]] = []
        for qid in sorted(query_terms):
            # group this query's runs by shard (shards are doc-disjoint:
            # per-shard top-k lists concatenate without dedup)
            per_shard: dict[int, list[tuple[_TermRun, float]]] = {}
            for tid, qw in query_terms[qid].items():
                runs = (cold.get(int(tid), ()) if cold is not None
                        else self._runs_for_term(int(tid)))
                for sid, run in runs:
                    per_shard.setdefault(sid, []).append((run, float(qw)))
            cand: list[tuple[int, float]] = []
            for sid in sorted(per_shard):
                cand.extend(_wand(per_shard[sid], k, stats=stats,
                                  exclude=exclude))
            # global merge, gensim ranking contract: |score| desc, exact
            # zeros dropped, doc_id asc ties (same key as the distributed
            # plan's Window in wand.wand_topk)
            cand = [(d, s) for d, s in cand if s != 0.0]
            cand.sort(key=lambda p: (-abs(p[1]), p[0]))
            for rank, (doc, score) in enumerate(cand[:k], start=1):
                out.append((qid, doc, float(score), rank))
        if stats_out is not None:
            stats_out.update(stats)
        return out

    def topk_df(self, spark, query_terms, k: int = 10, **kw):
        """``topk`` as a DataFrame (query_id, doc_id, score, rank) — for
        plans that join serving results back into Spark."""
        rows = self.topk(query_terms, k=k, **kw)
        return spark.createDataFrame(
            rows, "query_id int, doc_id long, score double, rank int")


# --- served positional queries (phrase / NEAR) -------------------------------

def bm25f_topk_served(field_dirs: dict, tokens: list[str],
                      boosts: dict | None = None, k: int = 10,
                      servers: dict | None = None,
                      ) -> list[tuple[int, float, int]]:
    """Multi-field BM25F-lite with NO Spark session: the same fused rows
    as ``topk.bm25f_topk`` over the f32-stored weights (identity pinned
    in tests). ``field_dirs`` maps field name → a packed index dir
    (``build_index`` output, one per field); each field's query terms
    resolve against ITS vocab and score EXHAUSTIVELY — every posting of
    the query terms decoded and summed per doc (one ``np.bincount`` over
    the concatenated runs; exact, no WAND pruning, because fused top-k
    needs true per-field scores, not per-field top-k). Fusion =
    Σ_field boost_f · score_f, ranked |score| desc / zero-drop / doc-asc
    (the standard contract). ``servers``: optional preloaded
    ``PackedIndexServer`` per field for warm serving. Returns
    [(doc_id, score, rank)].

    Scale note: the per-field cost is the query terms' posting mass —
    the same rows the distributed fusion's score legs shuffle; a
    stopword-heavy query pays the same union either way."""
    boosts = boosts or {}
    # per-field (docs, boost·scores) arrays; fusion stays vectorized all the
    # way down — the per-doc Python dict walk this replaces is O(candidate
    # set) interpreter work per query, the exact scale-killer shape the
    # served phrase matcher shed in round 4 (3.13 s → 0.104 s)
    field_docs: list[np.ndarray] = []
    field_scores: list[np.ndarray] = []
    for fname, d in field_dirs.items():
        ids = sorted(stored_term_ids(d, tokens).values())
        if not ids:
            continue  # field matches nothing — contributes 0
        srv = (servers or {}).get(fname) or PackedIndexServer(
            d, preload=False)
        runs = (srv._read_runs(ids) if srv._tbl is None
                else {t: srv._runs_for_term(t) for t in ids})
        doc_parts, w_parts = [], []
        for t in ids:
            for _sid, run in runs.get(t, ()):
                # all_docs() caches the decoded array on the run — warm
                # servers pay the varint decode once, not per query
                doc_parts.append(run.all_docs())
                w_parts.append(run.weights)  # q_weight = 1 ('bnn')
        if not doc_parts:
            continue
        alld = np.concatenate(doc_parts)
        allw = np.concatenate(w_parts)
        uniq, inv = np.unique(alld, return_inverse=True)
        sums = np.bincount(inv, weights=allw)
        field_docs.append(uniq)
        field_scores.append(float(boosts.get(fname, 1.0)) * sums)
    if not field_docs:
        return []
    # fuse: one more unique/bincount pass over the concatenated per-field
    # (doc, boost·score) arrays, then argsort top-k on the contract key
    alld = np.concatenate(field_docs)
    alls = np.concatenate(field_scores)
    uniq, inv = np.unique(alld, return_inverse=True)
    fused = np.bincount(inv, weights=alls)
    nz = fused != 0.0
    uniq, fused = uniq[nz], fused[nz]
    # |score| desc, doc asc ties: lexsort on (doc asc) then stable argsort
    # on -|score| preserves doc order within equal scores
    order = np.argsort(-np.abs(fused), kind="stable")[:k]
    return [(int(uniq[i]), float(fused[i]), rank)
            for rank, i in enumerate(order.tolist(), start=1)]


def np_idf(dfs: np.ndarray, num_docs: int, variant: str = "okapi",
           epsilon: float = 0.25) -> np.ndarray:
    """Numpy mirror of ``bm25.idf_table`` (same formulas incl. the Okapi
    global-mean ε-clamp over ALL raw idfs) for Spark-free serving; parity
    with the Spark column version is pinned by
    tests/test_serving.py::test_np_idf_matches_spark."""
    df = np.asarray(dfs, dtype=np.float64)
    n = float(num_docs)
    if variant == "okapi":
        raw = np.log(n - df + 0.5) - np.log(df + 0.5)
        return np.where(raw < 0, epsilon * raw.mean(), raw)
    if variant == "lucene":
        return np.log(n + 1.0) - np.log(df + 0.5)
    if variant == "atire":
        return np.log(n) - np.log(df)
    raise ValueError(f"unknown BM25 variant {variant!r}")


class PositionalIndexServer:
    """Warm in-process query node over the positional bucketed table
    written by ``build_index --positional`` — the positional twin of
    :class:`PackedIndexServer`. Construction loads build_metrics.json and
    the vocab once (token → term_id map, the full idf array incl. the
    Okapi ε-clamp's global mean, avgdl) and plans the table's files from
    its current snapshot once (``layout.load_bucketed``: a plain-parquet
    store from an earlier version raises ``layout.BucketedFormatError``)
    with its equality deletes applied as ``IceTable.scan`` applies them;
    per-term positional reads and the doclen table warm lazily into caches
    on first touch, so repeated queries pay numpy-kernel cost only.
    ``phrase_topk_served`` keeps the old per-call API on top of a small
    keyed server cache.

    ``preload_doclen=True`` (default) reads the whole doclen table into two
    sorted arrays on first use — the deployment trade a RAM-resident query
    node makes (same as PackedIndexServer preload); ``False`` re-reads the
    hit docs' doclens per query (cold / bigger-than-RAM node)."""

    def __init__(self, index_dir: str, *, preload_doclen: bool = True):
        import json as _json

        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        self._dir = index_dir
        with open(os.path.join(index_dir, "build_metrics.json")) as f:
            meta = _json.load(f)
        if not meta.get("positional"):
            raise FileNotFoundError(
                "index has no positional store — rebuild with "
                "build_index --positional")
        self.variant = meta.get("variant", "okapi")
        self.num_docs = meta["num_docs"]
        # fit parameters recorded at build time (build_index.run); the
        # fallbacks are bm25.fit_from_vocab's defaults for stores written
        # before the metrics carried them
        self.k1 = float(meta.get("k1", 1.5))
        self.b = float(meta.get("b", 0.75))
        self.epsilon = float(meta.get("epsilon", 0.25))

        vocab = pads.dataset(os.path.join(index_dir, "vocab"),
                             format="parquet").to_table(
            columns=["token", "term_id", "df", "cf"])
        vtok = vocab.column("token").to_pylist()
        vterm = vocab.column("term_id").to_numpy()
        vdf = vocab.column("df").to_numpy()
        vcf = vocab.column("cf").to_numpy()
        self.tid = dict(zip(vtok, (int(t) for t in vterm)))
        idf_all = np_idf(vdf, self.num_docs, self.variant, self.epsilon)
        self.idf_by_term = dict(zip((int(t) for t in vterm), idf_all))
        self.avgdl = float(vcf.sum()) / self.num_docs
        # the positional table's files, planned once from its current
        # snapshot: staged files of a crashed write are never read
        table = load_bucketed(os.path.join(index_dir, "positional"))
        self.n_buckets = int(table.meta["properties"]["n_buckets"])
        self._pos_files = table.plan_files()
        # equality deletes by IceTable.scan's rule: a delete hides a data
        # file's rows only when its _seq is greater than the file's (a doc
        # re-appended after it stays). _gone: data seq → doc ids hidden.
        dels = [(d["_seq"], pq.read_table(d["path"], columns=["doc_id"])
                 .column("doc_id").to_pylist())
                for d in table.plan_delete_files()]
        self._gone = {seq: tuple(sorted({d for s, ids in dels if s > seq
                                         for d in ids}))
                      for seq in {f["_seq"] for f in self._pos_files}}
        self._preload_doclen = preload_doclen
        self._dl_docs: np.ndarray | None = None
        self._dl_vals: np.ndarray | None = None
        self._term_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def _term_positions(self, term_ids) -> dict:
        """(docs, positions) int64 arrays per term, cache-warmed; misses are
        fetched in ONE term-filtered read of the planned files their
        buckets and term_id bounds admit."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        missing = sorted(t for t in set(term_ids) if t not in self._term_cache)
        keep = term_file_pred(self.n_buckets, missing)
        # one read per set of hidden docs (one read when nothing is deleted)
        by_gone: dict[tuple, list[str]] = {}
        for f in self._pos_files:
            if missing and keep(f):
                by_gone.setdefault(self._gone[f["_seq"]], []).append(f["path"])
        parts = [pads.dataset(paths, format="parquet").to_table(
            columns=["doc_id", "term_id", "positions"],
            filter=pc.field("term_id").isin(missing)
            & ~pc.field("doc_id").isin(pa.array(gone, pa.int64())))
            for gone, paths in by_gone.items()]
        empty = np.empty(0, np.int64)
        tbl = pa.concat_tables(parts) if parts else None
        # flatten (doc, position) pairs per term WITHOUT a python row
        # loop: list_flatten + repeat-by-length keeps everything columnar —
        # head terms with millions of positions stay numpy-speed
        for t in missing:
            if tbl is None:  # no planned file can hold the term
                self._term_cache[int(t)] = (empty, empty)
                continue
            sub = tbl.filter(pc.equal(tbl.column("term_id"), t))
            plist = sub.column("positions").combine_chunks()
            flat = pc.list_flatten(plist).to_numpy().astype(np.int64)
            lens = pc.list_value_length(plist).to_numpy().astype(np.int64)
            docs = np.repeat(
                sub.column("doc_id").to_numpy().astype(np.int64), lens)
            self._term_cache[int(t)] = (docs, flat)
        return {int(t): self._term_cache[int(t)] for t in set(term_ids)}

    def _doclens(self, doc_ids: list) -> dict:
        """doc_id → dl for the hit docs; docs with positional rows but no
        doclen row (the half-appended-crash state) are simply absent —
        callers skip them, matching the distributed plans' inner-join drop
        (ADVICE r5)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        if self._preload_doclen:
            if self._dl_docs is None:
                tbl = pads.dataset(os.path.join(self._dir, "doclen"),
                                   format="parquet").to_table(
                    columns=["doc_id", "dl"])
                d = tbl.column("doc_id").to_numpy().astype(np.int64)
                v = tbl.column("dl").to_numpy().astype(np.int64)
                order = np.argsort(d, kind="stable")
                self._dl_docs, self._dl_vals = d[order], v[order]
            if self._dl_docs.size == 0:
                return {}
            q = np.asarray(sorted(doc_ids), dtype=np.int64)
            pos = np.searchsorted(self._dl_docs, q)
            ok = (pos < self._dl_docs.size) & (
                self._dl_docs[np.minimum(pos, self._dl_docs.size - 1)] == q)
            return dict(zip(q[ok].tolist(),
                            self._dl_vals[pos[ok]].tolist()))
        dl_tbl = pads.dataset(os.path.join(self._dir, "doclen"),
                              format="parquet").to_table(
            columns=["doc_id", "dl"],
            filter=pc.field("doc_id").isin(sorted(doc_ids)))
        return dict(zip(dl_tbl.column("doc_id").to_pylist(),
                        dl_tbl.column("dl").to_pylist()))

    def query(self, tokens: list[str], k: int = 10,
              slop: int | None = None,
              ordered: bool = True) -> list[tuple[int, int, float, int]]:
        return _phrase_topk_on_server(self, tokens, k=k, slop=slop,
                                      ordered=ordered)


# small warm-server cache behind the per-call API: keyed on the store path,
# build_metrics.json's identity (rewritten by every build/append) and the
# positional table's version hint (moved by every commit, deletes too),
# bounded so long-lived processes serving many stores do not pin every
# store's vocab
_SERVER_CACHE: dict = {}
_SERVER_CACHE_MAX = 8


def _positional_server(index_dir: str) -> PositionalIndexServer:
    st = os.stat(os.path.join(index_dir, "build_metrics.json"))
    hint = Path(index_dir, "positional", "metadata", "version-hint.text")
    key = (os.path.realpath(index_dir), st.st_mtime_ns, st.st_size,
           hint.read_text() if hint.exists() else None)
    srv = _SERVER_CACHE.get(key)
    if srv is None:
        # drop stale entries for the same dir (superseded by a newer build)
        for old in [k for k in _SERVER_CACHE if k[0] == key[0]]:
            _SERVER_CACHE.pop(old, None)
        if len(_SERVER_CACHE) >= _SERVER_CACHE_MAX:
            _SERVER_CACHE.pop(next(iter(_SERVER_CACHE)))
        srv = PositionalIndexServer(index_dir)
        _SERVER_CACHE[key] = srv
    return srv


def phrase_topk_served(index_dir: str, tokens: list[str], k: int = 10,
                       slop: int | None = None,
                       ordered: bool = True) -> list[tuple[int, int, float, int]]:
    """Exact-phrase / NEAR / N-clause SpanNear top-k with NO Spark session,
    over the positional bucketed table written by ``build_index
    --positional``. Same answers as the distributed
    ``positional.phrase_topk`` / ``near_topk`` / ``span_near_topk`` plans
    (identity pinned in tests): pyarrow reads ONLY the snapshot's files of
    the phrase terms' buckets whose manifest term_id bounds admit them,
    with a term_id filter (row-group stats), adjacency is the same
    shifted-intersection / windowed-anchor fold in numpy, scoring the same
    pseudo-term model fit from the stored vocab (``np_idf`` + Σcf/N avgdl,
    the build's variant from build_metrics.json). Returns [(doc_id, tf,
    score, rank)].

    Serving is WARM: calls against the same (unmodified) store reuse a
    cached :class:`PositionalIndexServer` — vocab/idf load once, per-term
    positional reads and doclens cache across calls; a rebuilt, appended
    or deleted-from store gets a fresh server.

    Scale note: the in-process cost is intersection-sized (the pruned
    buckets' rows for the query terms), exactly what the distributed legs
    shuffle — a node serving a shard slice applies ``merge_topk`` as with
    term queries."""
    return _phrase_topk_on_server(_positional_server(index_dir), tokens,
                                  k=k, slop=slop, ordered=ordered)


def _phrase_topk_on_server(srv: PositionalIndexServer, tokens: list[str],
                           k: int = 10, slop: int | None = None,
                           ordered: bool = True,
                           ) -> list[tuple[int, int, float, int]]:
    idf_by_term = srv.idf_by_term
    variant, num_docs, avgdl = srv.variant, srv.num_docs, srv.avgdl
    k1, b = srv.k1, srv.b
    # a clause is a token (str) or a list of alternative tokens — the
    # served MultiPhrase / spanOr form, resolved by the shared OOV rule
    clauses = resolve_clauses(
        srv.tid, [[t] if isinstance(t, str) else t for t in tokens])
    if not clauses:
        return []
    ids = [c[0] for c in clauses]           # unit-clause view (n = len)
    flat_ids = [t for c in clauses for t in c]
    multi = any(len(c) > 1 for c in clauses)
    if multi and slop is not None and not ordered:
        raise ValueError("unordered SpanNear takes unit-term clauses; "
                         "OR-clauses are ordered-only")
    if slop is not None and len(clauses) < 2:
        # parity with the distributed span_near_occurrences validation —
        # a one-clause slop query is not a span
        raise ValueError("SpanNear needs >= 2 clauses")
    term_pairs = srv._term_positions(flat_ids)
    # an OR-clause matches if ANY member has postings; a clause with no
    # postings at all can never match
    if any(all(term_pairs[t][0].size == 0 for t in c) for c in clauses):
        return []

    def clause_pairs(ci: int) -> tuple[np.ndarray, np.ndarray]:
        """(docs, positions) of clause ci = union over its alternatives
        (disjoint within a doc — one token per position)."""
        c = clauses[ci]
        if len(c) == 1:
            return term_pairs[c[0]]
        return (np.concatenate([term_pairs[t][0] for t in c]),
                np.concatenate([term_pairs[t][1] for t in c]))

    # one int64 key per (doc, shifted-position): key = doc·L + pos + OFF,
    # with OFF/L sized so every shift in [-len(phrase), +slop+1] stays in
    # [0, L) — set intersections then run over ALL docs at once instead
    # of a per-candidate-doc python loop (the difference between 3 s and
    # 60 ms on a 1M-doc head-term phrase)
    # margin covers every shift/window the match modes use: exact phrase
    # shifts by up to len(ids); slop modes window up to slop + n wide
    # (the unordered n-clause cover) — 2·span ≥ win + 1 keeps a window
    # anchored at any in-doc position from leaking into the next doc's
    # key range
    span = (len(ids) if slop is None else slop + len(ids)) + 2
    max_pos = max(int(p.max()) for _, p in term_pairs.values() if p.size)
    off = span
    L = max_pos + 2 * span

    def keys(ci: int, shift: int) -> np.ndarray:
        d, p = clause_pairs(ci)
        return d * L + (p + shift + off)

    hits: dict[int, int] = {}
    if slop is None:
        # exact phrase; with OR-clauses this is the served MultiPhrase
        # ("a (b|c)") — per-clause union keys keep the same disjointness
        # (one token per position), so assume_unique still holds
        starts = np.sort(keys(0, 0))
        for i in range(1, len(clauses)):
            starts = np.intersect1d(starts, np.sort(keys(i, -i)),
                                    assume_unique=True)
            if starts.size == 0:
                return []
        docs = starts // L
        uniq, cnt = np.unique(docs, return_counts=True)
        hits = dict(zip(uniq.tolist(), cnt.tolist()))
        idf_sum = float(sum(idf_by_term.get(t, 0.0) for t in flat_ids))
    elif ordered:
        # N-clause ordered SpanNear / sloppy phrase, greedy chain over
        # int64 doc·L+pos keys across ALL docs at once (the same
        # vectorization lesson as the exact path): clause i+1's end is
        # the first key strictly after clause i's end (searchsorted on
        # the clause's sorted keys), invalid when it falls in another
        # doc; match iff end − start ≤ slop + n − 1. Greedy-min chains
        # decide existence exactly (see span_near_occurrences).
        n = len(clauses)
        stretch = slop + n - 1
        d0, p0 = clause_pairs(0)
        cur = d0 * L + p0
        alive = np.ones(cur.shape, dtype=bool)
        for ci in range(1, n):
            dt, pt = clause_pairs(ci)
            kt = np.sort(dt * L + pt)
            idx = np.searchsorted(kt, cur, side="right")
            ok = idx < kt.size
            nxt = kt[np.minimum(idx, kt.size - 1)]
            ok &= (nxt // L) == d0
            cur = np.where(ok, nxt, cur)
            alive &= ok
        match = alive & ((cur - d0 * L - p0) <= stretch)
        if not match.any():
            return []
        uniq, cnt = np.unique(d0[match], return_counts=True)
        hits = dict(zip(uniq.tolist(), cnt.tolist()))
        idf_sum = float(sum(idf_by_term.get(t, 0.0) for t in flat_ids))
    elif len(ids) == 2:
        w = slop + 1
        offs = [o for o in range(-w, w + 1) if o != 0]
        ka = np.sort(keys(0, 0))
        anchor_parts = [np.intersect1d(ka, keys(1, -o),
                                       assume_unique=True) for o in offs]
        anchors = np.unique(np.concatenate(anchor_parts)) \
            if anchor_parts else np.empty(0, dtype=np.int64)
        if anchors.size == 0:
            return []
        uniq, cnt = np.unique(anchors // L, return_counts=True)
        hits = dict(zip(uniq.tolist(), cnt.tolist()))
        idf_sum = float(idf_by_term.get(ids[0], 0.0)
                        + idf_by_term.get(ids[1], 0.0))
    else:
        # unordered n-clause window cover (span_near_occurrences
        # inOrder=false semantics): an anchor is a position s over the
        # union of clause positions whose window [s, s + slop + n)
        # contains every clause — duplicate clauses need that many
        # DISTINCT positions of their term in the window. Per-clause
        # counts are two searchsorted sweeps over the clause's sorted
        # doc·L+pos keys; the L margin guarantees a window never reads
        # into the next doc's key range.
        from collections import Counter

        mult = Counter(ids)
        terms = sorted(mult)
        win = slop + len(ids)
        ksort = {t: np.sort(term_pairs[t][0] * L + term_pairs[t][1])
                 for t in terms}
        union = np.unique(np.concatenate([ksort[t] for t in terms]))
        ok = np.ones(union.shape, dtype=bool)
        for t in terms:
            kt = ksort[t]
            lo = np.searchsorted(kt, union, side="left")
            hi = np.searchsorted(kt, union + win, side="left")
            ok &= (hi - lo) >= mult[t]
        anchors = union[ok]
        if anchors.size == 0:
            return []
        uniq, cnt = np.unique(anchors // L, return_counts=True)
        hits = dict(zip(uniq.tolist(), cnt.tolist()))
        idf_sum = float(sum(idf_by_term.get(t, 0.0) for t in ids))
    if not hits:
        return []

    dl_map = srv._doclens(sorted(hits))
    scored = []
    for d, tf in hits.items():
        dl = dl_map.get(d)
        if dl is None:
            # positional rows without a doclen row (half-appended crash
            # state): drop the doc like the distributed inner join does
            continue
        dl = float(dl)
        denom = tf + k1 * (1.0 - b + b * dl / avgdl)
        num = tf * (k1 + 1.0) if variant in ("okapi", "atire") else float(tf)
        scored.append((d, tf, idf_sum * num / denom))
    scored.sort(key=lambda r: (-r[2], r[0]))
    return [(d, tf, s, rank) for rank, (d, tf, s) in
            enumerate(scored[:k], start=1)]
