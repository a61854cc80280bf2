"""Block-max WAND top-k over packed shards — score-exact vs join-agg.

Semantics contract (SURVEY.md §7.0 item 8): pruning may only skip documents
provably unable to enter the current top-k; results must equal the exhaustive
``operators.topk.search`` plan in both ranks and scores. Gensim's ranking is
by |score| desc with exact zeros dropped and ties by ascending doc position
(gensim/interfaces.py:339-353, matutils.py:435-468) — BM25 weights are
non-negative in ordinary corpora, where |score| ≡ score and upper-bound
pruning is sound. If any weight is negative (the ε-clamp with a negative
mean idf — degenerate tiny-vocab corpora), WAND upper bounds are invalid, so
the traversal transparently falls back to exhaustive accumulation per shard
(still distributed; still exact).

Execution shape: parquet scan pruned to the query's term_ids (predicate
pushdown into the shard files) → ``applyInPandas`` per shard computing the
shard-local top-k with block-max skipping → global TakeOrdered merge.
Per-query cost is dominated by the pruned scan: only the query terms' runs
are ever read (the CSC column-slice insight, docsim.py:1289, made physical).

References: Broder et al., CIKM'03 (WAND); Ding & Suel, SIGIR'11 (block-max).
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gensim_spark.index import packing
from gensim_spark.index.layout import read_packed_shards

LOCAL_TOPK_SCHEMA = "query_id int, doc_id long, score double"

# Runs at or below this many postings decode their whole doc array up front:
# decode is cheap there and full docs give presence-EXACT segment bounds
# (critical ordering quality — a sparse term's single wide block would
# otherwise smear its max over every segment). Longer runs (head terms — the
# decode cost) stay block-lazy: their blocks are dense, so block-overlap
# presence from (block_first_doc, block_last_doc) is nearly exact, and only
# blocks whose segments get EVALUATED are ever varint-decoded.
EAGER_DECODE_MAX = 8192


class _TermRun:
    """One term's packed run in a shard, shared across the batch's queries.
    Takes the run's :data:`packing.RUN_COLUMNS` in order. Weights decode in
    one gather, ``weight_dict[weight_code]`` (format v2: a per-run
    dictionary of distinct float32 weights, cast to float64 before the
    gather, and one 1-, 2- or 4-byte code per posting whose width follows
    from the dictionary size); skip metadata are O(1) frombuffer views; the
    doc-id varint blob decodes per block on demand via ``block_offset``."""

    __slots__ = ("doc_blob", "weights", "bmax", "blast", "bfirst", "boffs",
                 "docs", "blocks", "eager", "n", "has_neg", "has_pos")

    def __init__(self, doc_blob, weight_dict, weight_code, block_max,
                 block_last, block_first, block_offset,
                 eager_max: int | None = None):
        self.doc_blob = bytes(doc_blob)
        self.weights = packing.decode_weights(bytes(weight_dict),
                                              bytes(weight_code), np.float64)
        self.bmax = np.frombuffer(bytes(block_max), dtype=np.float32) \
            .astype(np.float64)
        self.blast = np.frombuffer(bytes(block_last), dtype=np.int64)
        self.bfirst = np.frombuffer(bytes(block_first), dtype=np.int64)
        self.boffs = np.frombuffer(bytes(block_offset), dtype=np.int64)
        self.n = len(self.weights)
        self.has_neg = bool((self.weights < 0).any())
        self.has_pos = bool((self.weights > 0).any())
        self.eager = self.n <= (EAGER_DECODE_MAX if eager_max is None
                                else eager_max)
        self.docs = (packing.decode_varint_deltas(self.doc_blob)
                     if self.eager else None)
        self.blocks: dict[int, np.ndarray] = {}

    @property
    def nblocks(self) -> int:
        return len(self.blast)

    def all_docs(self) -> np.ndarray:
        if self.docs is None:
            self.docs = packing.decode_varint_deltas(self.doc_blob)
        return self.docs

    def block(self, b: int, bs: int = packing.BLOCK_SIZE):
        """(doc_ids, weights) of block ``b`` — decoded at most once."""
        if self.docs is not None:
            sl = slice(b * bs, min((b + 1) * bs, self.n))
            return self.docs[sl], self.weights[sl]
        d = self.blocks.get(b)
        if d is None:
            d = packing.decode_block(self.doc_blob, self.boffs, self.blast, b)
            self.blocks[b] = d
        return d, self.weights[b * bs: b * bs + len(d)]

    def decoded_blocks(self) -> int:
        return self.nblocks if self.eager or self.docs is not None \
            else len(self.blocks)


def _exhaustive(term_runs, k, exclude=None):
    """Fallback: accumulate all postings of the query terms (vectorized)."""
    if not term_runs:
        return []
    all_docs = np.concatenate([d for d, _, _ in term_runs])
    all_w = np.concatenate([
        w.astype(np.float64) * qw for _, w, qw in term_runs
    ])
    if exclude is not None and len(exclude):
        keep = ~np.isin(all_docs, exclude, assume_unique=False)
        all_docs, all_w = all_docs[keep], all_w[keep]
        if not len(all_docs):
            return []
    uniq, inv = np.unique(all_docs, return_inverse=True)
    scores = np.bincount(inv, weights=all_w)
    nz = scores != 0.0
    uniq, scores = uniq[nz], scores[nz]
    if len(uniq) > k:
        keys = np.lexsort((uniq, -np.abs(scores)))[:k]
    else:
        keys = np.lexsort((uniq, -np.abs(scores)))
    return [(int(uniq[i]), float(scores[i])) for i in keys]


def _wand(term_runs, k, block_size=packing.BLOCK_SIZE, stats=None,
          exclude=None):
    """Block-max WAND over one shard's runs for one query.

    term_runs: list of (:class:`_TermRun`, q_weight float).
    Returns [(doc_id, score)] — the shard-local top-k by (score desc, doc asc).
    ``stats`` (optional dict) accumulates 'postings' (total in the query's
    runs) and 'evaluated' (positions actually scored — the difference is
    what pruning skipped). Block decode counters are harvested separately
    from the shared runs (see ``_shard_topk_factory``).

    ``exclude``: sorted int64 array of tombstoned doc_ids (query-time
    takedown filtering on packed stores, pending a re-pack). EXACT: an
    excluded doc is dropped at candidate time so it never enters the heap
    and never raises θ; block maxima that include excluded docs merely
    loosen the upper bounds, which can only reduce pruning, never answers.
    """
    if stats is not None:
        stats["postings"] = stats.get("postings", 0) + sum(
            r.n for r, _ in term_runs)
    if any((r.has_neg if qw > 0 else r.has_pos) and qw != 0
           for r, qw in term_runs):
        if stats is not None:
            stats["evaluated"] = stats.get("evaluated", 0) + sum(
                r.n for r, _ in term_runs)
        return _exhaustive(
            [(r.all_docs(), r.weights, qw) for r, qw in term_runs], k,
            exclude=exclude)

    # Ordered-segment block-max traversal. The doc axis splits into segments
    # at the union of all block boundaries, so each (term, segment) pair is
    # covered by exactly one block. Per-segment upper bounds (Σ covering
    # block maxima) are computed VECTORIZED for all segments at once, and
    # segments are then processed in DESCENDING upper-bound order: θ
    # converges after a handful of evaluations, and the first segment with
    # ub ≤ θ terminates the traversal — every remaining segment is skipped
    # with zero per-segment work (heap order does not depend on doc order,
    # so processing out of doc order is sound). Within an evaluated segment,
    # Maxscore-style splitting accumulates only the "essential" lists
    # (bincount) and resolves fat head-term lists by vectorized candidate
    # lookups. Exact: skipping requires Σ block_max ≤ θ; evaluation sums
    # true weights for every candidate that could beat θ.
    runs = [(r, qw) for r, qw in term_runs if r.n]
    nt = len(runs)
    if nt == 0:
        return []
    # |qw|: block maxima are max|w| — in the (qw<0, all-weights≤0) case
    # this path admits, contributions w·qw are POSITIVE up to |qw|·max|w|;
    # scaling by signed qw would flip the bound negative and prune winners
    bmax_l = [r.bmax * abs(qw) for r, qw in runs]
    blast_l = [r.blast for r, _ in runs]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap

    def push(doc, score):
        if score <= 0.0:
            return
        if len(heap) < k:
            heapq.heappush(heap, (score, -doc))
        elif (score, -doc) > heap[0]:
            heapq.heapreplace(heap, (score, -doc))

    bounds = np.unique(np.concatenate(blast_l))  # sorted segment ends
    n_seg = len(bounds)
    # Per-term segment bound: the covering block's max, restricted to
    # segments where the term can have docs. Eager (short) runs use the
    # decoded doc array — presence-EXACT, so a sparse term's one wide block
    # cannot smear its max over every segment and flatten the ordering.
    # Lazy (long, head-term) runs use block overlap from
    # (block_first_doc, block_last_doc): their blocks are doc-dense, so the
    # approximation stays tight WITHOUT decoding anything.
    seg_ub = np.zeros(n_seg, dtype=np.float64)
    term_block = []
    for i, (r, _qw) in enumerate(runs):
        bi = np.searchsorted(blast_l[i], bounds, "left")
        valid = bi < len(blast_l[i])
        bi = np.minimum(bi, len(blast_l[i]) - 1)
        if r.eager:
            present = np.zeros(n_seg, dtype=bool)
            present[np.unique(
                np.searchsorted(bounds, r.docs, "left"))] = True
        else:
            # segment s ⊆ exactly one of this term's blocks (its own block
            # boundaries are members of `bounds`), so presence ⇔ the
            # covering block's [first, last] doc range reaches the segment
            present = valid & (r.bfirst[bi] <= bounds)
        seg_ub += np.where(present, bmax_l[i][bi], 0.0)
        term_block.append((bi, present))
    order = np.argsort(-seg_ub, kind="stable")
    evaluated = 0
    for s in order.tolist():
        th = heap[0][0] if len(heap) >= k else 0.0
        # strict <: a segment with ub == θ can still hold a doc scoring
        # exactly θ that wins the ascending-doc-id tie-break (the candidate
        # filters below use ≥ for the same reason)
        if len(heap) >= k and seg_ub[s] < th:
            break  # sorted desc: every remaining segment is < θ too
        seg_lo = int(bounds[s - 1]) + 1 if s > 0 else -(1 << 62)
        seg_hi = int(bounds[s])
        slices = []
        for i, (r, qw) in enumerate(runs):
            bi, present = term_block[i]
            if not present[s]:
                continue
            if r.eager:
                d_full = r.docs
                lo = int(np.searchsorted(d_full, seg_lo, "left"))
                hi = int(np.searchsorted(d_full, seg_hi, "right"))
                if hi > lo:
                    slices.append((float(bmax_l[i][bi[s]]),
                                   d_full[lo:hi],
                                   r.weights[lo:hi] * qw))
            else:
                d_b, w_b = r.block(int(bi[s]), block_size)
                lo = int(np.searchsorted(d_b, seg_lo, "left"))
                hi = int(np.searchsorted(d_b, seg_hi, "right"))
                if hi > lo:
                    slices.append((float(bmax_l[i][bi[s]]),
                                   d_b[lo:hi], w_b[lo:hi] * qw))
        if not slices:
            continue
        # Maxscore split: drop the maximal suffix of lists (by block ub
        # desc) whose summed bound ≤ θ from candidate generation
        slices.sort(key=lambda t: -t[0])
        n_ess = len(slices)
        if len(heap) >= k:
            tail_ub = 0.0
            # strict <, matching the segment break: a tail summing exactly
            # to θ can complete a θ-scoring doc that wins the doc tie-break
            while n_ess > 1 and tail_ub + slices[n_ess - 1][0] < th:
                tail_ub += slices[n_ess - 1][0]
                n_ess -= 1
        ess, ness = slices[:n_ess], slices[n_ess:]
        all_docs = np.concatenate([d for _, d, _ in ess])
        evaluated += len(all_docs)
        uniq, inv = np.unique(all_docs, return_inverse=True)
        scores = np.bincount(
            inv, weights=np.concatenate([w for _, _, w in ess]))
        if exclude is not None and len(exclude):
            # drop tombstones before they can enter the heap or spend
            # lookup work in the non-essential lists
            keep = ~np.isin(uniq, exclude, assume_unique=False)
            uniq, scores = uniq[keep], scores[keep]
            if not len(uniq):
                continue
        if ness:
            rem = sum(ub for ub, _, _ in ness)
            if len(heap) >= k:
                keep = scores + rem >= th
                uniq, scores = uniq[keep], scores[keep]
            for ub, d_s, w_s in ness:
                if len(uniq) == 0:
                    break
                idx = np.searchsorted(d_s, uniq)
                idxc = np.minimum(idx, len(d_s) - 1)
                hit = d_s[idxc] == uniq
                scores = scores + np.where(hit, w_s[idxc], 0.0)
                evaluated += int(hit.sum())
                rem -= ub
                if len(heap) >= k:
                    keep = scores + rem >= th
                    uniq, scores = uniq[keep], scores[keep]
        elif len(heap) >= k:
            cand = scores >= th  # ≥: equal scores can win the doc tie-break
            uniq, scores = uniq[cand], scores[cand]
        for d, s2 in zip(uniq.tolist(), scores.tolist()):
            push(int(d), float(s2))
    if stats is not None:
        stats["evaluated"] = stats.get("evaluated", 0) + evaluated
    out = sorted(((-d, s) for s, d in heap), key=lambda p: (-p[1], p[0]))
    return [(d, s) for d, s in out]


def _shard_topk_factory(query_terms: dict[int, dict[int, float]], k: int,
                        postings_acc=None, evaluated_acc=None,
                        blocks_total_acc=None, blocks_decoded_acc=None,
                        eager_max: int | None = None,
                        exclude=None):
    """query_terms: {query_id: {term_id: q_weight}}. Optional Spark
    accumulators receive total-vs-evaluated posting counts and
    total-vs-decoded block counts (pruning + lazy-decode evidence).
    Runs are shared across the batch's queries, so a block decoded for one
    query is free for every other query touching the same term."""

    def shard_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        runs_by_term = {}
        for tid, *cols in zip(pdf["term_id"],
                              *(pdf[c] for c in packing.RUN_COLUMNS)):
            runs_by_term[int(tid)] = _TermRun(*cols, eager_max=eager_max)
        stats = {} if postings_acc is not None else None
        for qid, terms in query_terms.items():
            runs = []
            for tid, qw in terms.items():
                if tid in runs_by_term:
                    runs.append((runs_by_term[tid], float(qw)))
            if not runs:
                continue
            for doc, score in _wand(runs, k, stats=stats, exclude=exclude):
                rows.append((qid, doc, score))
        if stats is not None:
            postings_acc.add(stats.get("postings", 0))
            evaluated_acc.add(stats.get("evaluated", 0))
        if blocks_total_acc is not None:
            blocks_total_acc.add(sum(r.nblocks
                                     for r in runs_by_term.values()))
            blocks_decoded_acc.add(sum(r.decoded_blocks()
                                       for r in runs_by_term.values()))
        return pd.DataFrame(rows, columns=["query_id", "doc_id", "score"])

    return shard_topk


def wand_topk(spark: SparkSession, index_dir: str,
              query_terms: dict[int, dict[int, float]], k: int = 10,
              packed: DataFrame | None = None,
              stats_out: dict | None = None,
              eager_max: int | None = None,
              exclude_doc_ids=None) -> DataFrame:
    """Distributed block-max WAND: (query_id, doc_id, score, rank).

    Reads only the query terms' packed runs (partition/row-group pruning),
    computes per-shard local top-k, merges with the standard two-stage
    TakeOrdered (per-shard k lists → global k, ≙ docsim.py:236-257 merge).

    Pass ``stats_out={}`` to receive pruning evidence after the query
    action runs: stats_out['postings'] (total postings in the query's runs),
    stats_out['evaluated'] (postings actually scored), and
    stats_out['blocks_total'] / stats_out['blocks_decoded'] (lazy-decode
    evidence: varint blocks in the runs vs blocks actually decoded) — the
    accumulators fill in once the returned DataFrame is collected.

    ``exclude_doc_ids``: takedown tombstones applied at query time — rank-
    and score-identical to querying an index with those docs absent (the
    delete path for PACKED stores between re-packs; bucketed plain stores
    delete via ``layout.delete_docs_iceberg`` instead). Takedown-sized:
    the set rides the task closure like the query terms themselves.
    """
    all_terms = sorted({int(t) for q in query_terms.values() for t in q})
    exclude = None
    if exclude_doc_ids is not None:
        exclude = np.unique(np.asarray(sorted(
            int(d) for d in exclude_doc_ids), dtype=np.int64))
    if packed is None:
        packed = read_packed_shards(spark, index_dir)
    pruned = packed.filter(F.col("term_id").isin(all_terms))
    postings_acc = evaluated_acc = blocks_total_acc = blocks_decoded_acc = None
    if stats_out is not None:
        postings_acc = spark.sparkContext.accumulator(0)
        evaluated_acc = spark.sparkContext.accumulator(0)
        blocks_total_acc = spark.sparkContext.accumulator(0)
        blocks_decoded_acc = spark.sparkContext.accumulator(0)
        stats_out["postings"] = postings_acc
        stats_out["evaluated"] = evaluated_acc
        stats_out["blocks_total"] = blocks_total_acc
        stats_out["blocks_decoded"] = blocks_decoded_acc
    local = pruned.groupBy("shard_id").applyInPandas(
        _shard_topk_factory(query_terms, k, postings_acc, evaluated_acc,
                            blocks_total_acc, blocks_decoded_acc,
                            eager_max=eager_max, exclude=exclude),
        schema=LOCAL_TOPK_SCHEMA,
    )
    # imported here so workers unpickling the shard kernel never load it
    from gensim_spark.operators.topk import topk

    return topk(local, k)
