#!/usr/bin/env python
"""Query job: text query → tokenize with the build pipeline → term ids from
the stored vocab (``serving.stored_term_ids``, a pyarrow read — no Spark
job) → block-max WAND top-k over the packed shard index."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)


def _bnn_queries(index_dir: str, queries: list[str]):
    """Query texts → (tokens per query id, binary 'bnn' query weights over
    the stored vocab — docsim.py:1149's query model, OOV tokens dropped)."""
    from gensim_spark.functions import textref
    from gensim_spark.index.serving import stored_term_ids

    tokens = {qid: textref.simple_preprocess(q)
              for qid, q in enumerate(queries)}
    tid = stored_term_ids(index_dir, [t for ts in tokens.values() for t in ts])
    return tokens, {qid: {tid[t]: 1.0 for t in set(ts) if t in tid}
                    for qid, ts in tokens.items()}


def run(spark, index_dir: str, queries: list[str], k: int = 10,
        snapshot_id: int | None = None,
        exclude_doc_ids=None, pages_path: str | None = None,
        highlight: int | None = None, facet: str | None = None) -> dict:
    """The job body; returns {"results": {qid: [{doc_id, score, rank}]},
    "wall_sec": s}. Query terms resolve against the stored vocab with
    pyarrow, so the WAND top-k is the only Spark work. ``snapshot_id``
    time-travels the packed store to that snapshot (default: the current
    one). Importable so tests can drive it without a subprocess."""
    from gensim_spark.index.layout import read_packed_shards
    from gensim_spark.index.wand import wand_topk

    # wand_topk reads the current snapshot itself
    packed = (None if snapshot_id is None else
              read_packed_shards(spark, index_dir, snapshot_id=snapshot_id))
    tokens, query_terms = _bnn_queries(index_dir, queries)
    t0 = time.perf_counter()
    rows = wand_topk(spark, index_dir, query_terms, k=k,
                     packed=packed,
                     exclude_doc_ids=exclude_doc_ids).collect()
    wall = time.perf_counter() - t0
    # every submitted query gets a key — an all-OOV or zero-hit query
    # answers [], it doesn't vanish from the dict
    out = {str(qid): [] for qid in tokens}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out[str(r["query_id"])].append(
            {"doc_id": r["doc_id"], "score": r["score"], "rank": r["rank"]}
        )
    res = {"results": out, "wall_sec": round(wall, 3)}
    if pages_path is not None and (highlight is not None
                                   or facet is not None):
        facets = present_results(spark, pages_path, out, tokens,
                                 highlight=highlight, facet=facet)
        if facets is not None:
            res["facets"] = facets
    return res


def _parse_phrase_clauses(phrase_text: str) -> list[list[str]]:
    """``'value (table|key)'`` → ``[['value'], ['table', 'key']]``:
    parenthesized ``(a|b)`` groups are alternative sets (MultiPhrase /
    spanOr clauses), bare words are unit clauses — a bare word that
    tokenizes to several keeps them as separate unit clauses, same as
    the plain-phrase path."""
    import re

    from gensim_spark.functions import textref

    clause_toks: list[list[str]] = []
    for m in re.finditer(r"\(([^)]*)\)|(\S+)", phrase_text):
        grp, bare = m.group(1), m.group(2)
        if grp is not None:
            # '()' and '( )' both parse as an EMPTY clause (matched group,
            # no surviving alternatives) — truthiness would silently drop
            # the zero-length spelling and run a different query
            clause_toks.append([w for part in grp.split("|")
                                for w in textref.simple_preprocess(part)])
        else:
            if "(" in bare or ")" in bare:
                # an unmatched paren would otherwise fall through here and
                # run as a silently different plain phrase (the tokenizer
                # strips punctuation) — refuse loudly instead (ADVICE r5)
                raise ValueError(
                    f"unbalanced parenthesis in phrase near {bare!r} — "
                    f"alternative groups must be closed: '(a|b)'")
            clause_toks.extend([[t] for t in
                                textref.simple_preprocess(bare)])
    return clause_toks


def run_phrase(spark, index_dir: str, phrase_text: str, k: int = 10,
               slop: int | None = None, ordered: bool = True,
               exclude: str | None = None, exclude_pre: int = 0,
               exclude_post: int = 0) -> dict:
    """Phrase / NEAR / SpanNear query over the positional store written
    by ``build_index --positional``: exact phrase (slop=None) via
    ``positional.phrase_topk``, two-term proximity via ``near_topk``,
    3+-term sloppy phrase / SpanNear (``"a b c"~slop``) via
    ``span_near_topk`` (ordered greedy-chain fold, or the unordered
    window cover with ``ordered=False``).

    Parenthesized alternatives — ``'value (table|key)'`` — are
    MultiPhrase / spanOr clauses: exact adjacency routes through
    ``multi_phrase_topk``, slop through the ordered OR-clause span
    (unordered OR-clauses error out, matching the operator).
    ``exclude='word ...'`` is SpanNotQuery: include-span matches with no
    excluded word within ``exclude_pre`` before the start or
    ``exclude_post`` after the end (distributed plan only). Scoring uses
    the index's fitted variant AND fit parameters (build_metrics.json),
    so phrase scores are comparable to term-query scores. OOV members or
    a missing positional store answer [] / error out explicitly (OOV
    EXCLUDE words drop silently — they can never block); a positional
    store written as plain parquet by an earlier version raises
    ``layout.BucketedFormatError``."""
    from gensim_spark.functions import textref
    from gensim_spark.index.layout import read_postings_bucketed
    from gensim_spark.index.serving import stored_term_ids
    from gensim_spark.operators import bm25 as M
    from gensim_spark.operators import positional as PX
    from gensim_spark.operators.vocab import resolve_clauses

    with open(f"{index_dir}/build_metrics.json") as f:
        meta = json.load(f)
    if not meta.get("positional"):
        raise SystemExit(
            "index has no positional store — rebuild with "
            "build_index --positional")
    vocab = spark.read.parquet(f"{index_dir}/vocab")
    doclen = spark.read.parquet(f"{index_dir}/doclen")
    stats = M.fit_from_vocab(vocab, meta["num_docs"],
                             variant=meta.get("variant", "okapi"),
                             k1=meta.get("k1", 1.5),
                             b=meta.get("b", 0.75),
                             epsilon=meta.get("epsilon", 0.25))
    clause_toks = _parse_phrase_clauses(phrase_text)
    ex_toks = textref.simple_preprocess(exclude) if exclude else []
    vmap = stored_term_ids(index_dir,
                           [t for c in clause_toks for t in c] + ex_toks)
    t0 = time.perf_counter()
    oov = [t for c in clause_toks for t in c if t not in vmap]
    clauses = resolve_clauses(vmap, clause_toks)
    if not clauses:
        return {"results": [], "wall_sec": 0.0, "oov": oov}
    multi = any(len(c) > 1 for c in clauses)
    ids = [c[0] for c in clauses]
    ex_ids = [vmap[t] for t in ex_toks if t in vmap]
    scan_ids = sorted({t for c in clauses for t in c} | set(ex_ids))
    pos = read_postings_bucketed(spark, f"{index_dir}/positional",
                                 term_ids=scan_ids)

    def out_rows(out, tf_col):
        return [{"doc_id": r["doc_id"], "tf": r[tf_col],
                 "score": r["score"], "rank": r["rank"]}
                for r in out.collect()]

    if ex_ids:
        # SpanNot: ordered include chain (slop or exact via slop=0) —
        # refuse EVERY unordered combination rather than silently
        # running the ordered chain against an --unordered request
        if not ordered:
            raise SystemExit("--exclude-term needs an ordered include "
                             "span (drop --unordered)")
        out = PX.span_not_topk(pos, stats, clauses, ex_ids, doclen,
                               slop=slop or 0, pre=exclude_pre,
                               post=exclude_post, k=k)
        rows = out_rows(out, "near_tf")
    elif slop is None:
        if multi:
            out = PX.multi_phrase_topk(pos, stats, clauses, doclen, k=k)
        else:
            out = PX.phrase_topk(pos, stats, ids, doclen, k=k)
        rows = out_rows(out, "phrase_tf")
    elif not multi and len(ids) == 2:
        out = PX.near_topk(pos, stats, ids[0], ids[1], doclen,
                           slop=slop, ordered=ordered, k=k)
        rows = out_rows(out, "near_tf")
    else:
        # N-clause SpanNear / sloppy phrase "a b c"~slop (OR-clauses
        # are ordered-only — the operator validates)
        out = PX.span_near_topk(pos, stats, clauses if multi else ids,
                                doclen, slop=slop, ordered=ordered, k=k)
        rows = out_rows(out, "near_tf")
    return {"results": rows, "wall_sec": round(time.perf_counter() - t0, 3)}


def present_results(spark, pages_path: str, results: dict,
                    query_tokens: dict, highlight: int | None = None,
                    facet: str | None = None) -> dict | None:
    """Presentation stage over the source pages table (the engine's
    stored-fields store): per-query best-passage snippets
    (``highlight`` = window width) attached to the hit dicts IN PLACE,
    and/or result-set facet counts (``facet`` = field name) returned as
    a per-query dict (None when ``facet`` unset). The pages
    table MUST carry the build's ``doc_id`` column — ids assigned at
    build time via monotonically_increasing_id are not reproducible on
    a re-read, so a deployment persists them (the curate/build jobs
    do). All per-query work is pruned to the ≤k result docs by a
    broadcast semi-join before any tokenize/array fold runs."""
    from pyspark.sql import functions as F

    from gensim_spark.operators import facets as FC
    from gensim_spark.operators import highlight as H
    from gensim_spark.plans import pipeline as P

    pages = spark.read.parquet(pages_path)
    if "doc_id" not in pages.columns:
        raise SystemExit(
            "--pages table has no doc_id column; persist build-time ids "
            "(ids from monotonically_increasing_id do not survive a "
            "re-read)")
    all_ids = sorted({h["doc_id"] for hits in results.values()
                      for h in hits})
    if not all_ids:
        return {qid: [] for qid in results} if facet is not None else None
    sub = pages.filter(F.col("doc_id").isin(all_ids)).cache()
    if highlight is not None:
        tok = P.tokenize(sub.select("doc_id", "text"))
        for qid, hits in results.items():
            q = sorted(set(query_tokens.get(int(qid), [])))
            ids = [h["doc_id"] for h in hits]
            if not q or not ids:
                continue
            snips = {r["doc_id"]: r["snippet"] for r in H.best_snippets(
                tok.filter(F.col("doc_id").isin(ids)), q,
                width=highlight, mark=True).collect()}
            for h in hits:
                h["snippet"] = snips.get(h["doc_id"])
    facets = None
    if facet is not None:
        if facet not in pages.columns:
            raise SystemExit(f"--facet field {facet!r} not in pages table")
        facets = {}
        for qid, hits in results.items():
            ids = [(h["doc_id"],) for h in hits]
            if not ids:
                facets[qid] = []
                continue
            m = spark.createDataFrame(ids, "doc_id long")
            facets[qid] = [
                {"value": r["value"], "count": r["count"]}
                for r in FC.facet_counts(sub, m, facet).collect()]
    sub.unpersist()
    return facets


def expand_query_terms(spark, index_dir: str, text: str,
                       wildcard: bool = False, fuzzy_dist: int | None = None,
                       max_expansions: int = 1024) -> dict[int, float]:
    """Lucene's MultiTermQuery rewrite: a wildcard/fuzzy query expands
    against the STORED vocab into a plain disjunctive term set, which then
    runs through the exact same WAND / served machinery as any other
    query — expansion is vocab-bounded, never corpus-bounded.
    ``max_expansions`` is the rewrite cap (Lucene's maxExpansions): a
    pattern like ``*`` matching the whole vocab errors out instead of
    silently launching a vocab-sized disjunction."""
    from pyspark.sql import functions as F

    from gensim_spark.operators import topk as T

    vocab = spark.read.parquet(f"{index_dir}/vocab")
    if wildcard:
        like = T.wildcard_pattern_to_like(text)
        expansion = (vocab.filter(F.col("token").like(like))
                     .select("term_id").limit(max_expansions + 1).collect())
    elif fuzzy_dist is not None:
        expansion = (T.fuzzy_expand_terms(vocab, text, fuzzy_dist)
                     .select("term_id").limit(max_expansions + 1).collect())
    else:
        raise ValueError("need wildcard or fuzzy_dist")
    if len(expansion) > max_expansions:
        raise SystemExit(
            f"expansion exceeds --max-expansions={max_expansions}; "
            "narrow the pattern")
    return {int(r["term_id"]): 1.0 for r in expansion}


def run_expanded(spark, index_dir: str, text: str, k: int = 10,
                 wildcard: bool = False, fuzzy_dist: int | None = None,
                 max_expansions: int = 1024, serve: bool = False) -> dict:
    """Wildcard / fuzzy top-k over the stored index: rewrite → the same
    block-max WAND plan (or the in-process server with ``serve=True``) as
    a plain multi-term query."""
    terms = expand_query_terms(spark, index_dir, text, wildcard=wildcard,
                               fuzzy_dist=fuzzy_dist,
                               max_expansions=max_expansions)
    t0 = time.perf_counter()
    if not terms:
        return {"results": {"0": []}, "wall_sec": 0.0, "n_expanded": 0}
    if serve:
        from gensim_spark.index.serving import PackedIndexServer

        srv = PackedIndexServer(index_dir, preload=True)
        rows = [{"doc_id": d, "score": s, "rank": r}
                for _, d, s, r in srv.topk({0: terms}, k=k)]
    else:
        from gensim_spark.index.wand import wand_topk

        rows = [{"doc_id": r["doc_id"], "score": r["score"],
                 "rank": r["rank"]}
                for r in sorted(wand_topk(spark, index_dir, {0: terms},
                                          k=k).collect(),
                                key=lambda r: r["rank"])]
    return {"results": {"0": rows},
            "wall_sec": round(time.perf_counter() - t0, 3),
            "n_expanded": len(terms)}


def run_phrase_served(index_dir: str, phrase_text: str, k: int = 10,
                      slop: int | None = None,
                      ordered: bool = True) -> dict:
    """Phrase / NEAR / SpanNear with NO Spark session: the same answers
    as :func:`run_phrase` (identity pinned in tests) from
    ``serving.phrase_topk_served`` — pyarrow bucket-pruned positional
    reads + in-process adjacency + the stored-vocab-fitted scoring.
    Parenthesized ``(a|b)`` alternatives are served MultiPhrase / spanOr
    clauses (exact and ordered-slop modes)."""
    from gensim_spark.index.serving import phrase_topk_served

    clause_toks = _parse_phrase_clauses(phrase_text)
    t0 = time.perf_counter()
    rows = phrase_topk_served(index_dir, clause_toks, k=k, slop=slop,
                              ordered=ordered)
    return {"results": [{"doc_id": d, "tf": tf, "score": s, "rank": r}
                        for d, tf, s, r in rows],
            "wall_sec": round(time.perf_counter() - t0, 4)}


def run_served(index_dir: str, queries: list[str], k: int = 10,
               exclude_doc_ids=None) -> dict:
    """Serve the same answers with NO Spark session: the same stored-vocab
    term resolution as :func:`run`, then ``serving.PackedIndexServer`` over
    the packed shards of the store's current snapshot. Rank/score
    identical to :func:`run` by the serving module's identity contract;
    latency is the kernel's own cost instead of a per-query Spark job."""
    from gensim_spark.index.serving import PackedIndexServer

    t_load0 = time.perf_counter()
    tokens, query_terms = _bnn_queries(index_dir, queries)
    srv = PackedIndexServer(index_dir, preload=True)
    load_sec = time.perf_counter() - t_load0
    t0 = time.perf_counter()
    rows = srv.topk(query_terms, k=k, exclude_doc_ids=exclude_doc_ids)
    wall = time.perf_counter() - t0
    out = {str(qid): [] for qid in tokens}
    for qid, doc, score, rank in rows:
        out[str(qid)].append({"doc_id": doc, "score": score, "rank": rank})
    return {"results": out, "wall_sec": round(wall, 4),
            "load_sec": round(load_sec, 3)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True, help="index dir (from build)")
    ap.add_argument("--query", required=True, action="append",
                    help="query text (repeatable)")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="time-travel the shard store to this snapshot")
    ap.add_argument("--exclude-doc-ids", type=int, nargs="*", default=None,
                    help="takedown tombstones filtered at query time "
                         "(rank-identical to an index without those docs; "
                         "packed stores fold them in at the next re-pack)")
    ap.add_argument("--serve", action="store_true",
                    help="answer in-process (PackedIndexServer, no Spark "
                         "session) from the current snapshot")
    ap.add_argument("--phrase", action="store_true",
                    help="treat the query text as an exact phrase over the "
                         "positional store (build_index --positional)")
    ap.add_argument("--slop", type=int, default=None,
                    help="with --phrase: proximity window instead of "
                         "exact adjacency — two words get NEAR/slop, 3+ "
                         "words the N-clause SpanNear (\"a b c\"~slop)")
    ap.add_argument("--unordered", action="store_true",
                    help="with --slop: match either order")
    ap.add_argument("--exclude-term", default=None,
                    help="with --phrase: SpanNotQuery — drop include-span "
                         "matches with this word (space-separated words) "
                         "within --exclude-pre/--exclude-post of the span")
    ap.add_argument("--exclude-pre", type=int, default=0)
    ap.add_argument("--exclude-post", type=int, default=0)
    ap.add_argument("--wildcard", action="store_true",
                    help="treat the query as a Lucene wildcard pattern "
                         "(*/?) expanded against the stored vocab")
    ap.add_argument("--fuzzy-dist", type=int, default=None,
                    help="treat the query as a fuzzy term with this max "
                         "Levenshtein distance (FuzzyQuery word~d)")
    ap.add_argument("--max-expansions", type=int, default=1024,
                    help="rewrite cap for --wildcard/--fuzzy-dist "
                         "(Lucene maxExpansions)")
    ap.add_argument("--pages", default=None,
                    help="source pages parquet (stored-fields store) for "
                         "--highlight/--facet; must carry doc_id")
    ap.add_argument("--highlight", type=int, default=None,
                    help="attach a best-passage snippet of this token "
                         "width to every hit (requires --pages)")
    ap.add_argument("--facet", default=None,
                    help="attach per-query result facet counts over this "
                         "pages column (requires --pages)")
    args = ap.parse_args()
    if (args.highlight is not None or args.facet is not None) \
            and not args.pages:
        ap.error("--highlight/--facet require --pages")

    if args.wildcard or args.fuzzy_dist is not None:
        if args.phrase:
            ap.error("--wildcard/--fuzzy-dist rewrite to a multi-term "
                     "query (no --phrase)")
        if len(args.query) != 1:
            ap.error("--wildcard/--fuzzy-dist take exactly one --query")
        from gensim_spark.session import get_spark

        spark = get_spark("gensim_spark_query")
        print(json.dumps(run_expanded(
            spark, args.index, args.query[0], k=args.k,
            wildcard=args.wildcard, fuzzy_dist=args.fuzzy_dist,
            max_expansions=args.max_expansions, serve=args.serve)))
        spark.stop()
        return

    if args.phrase:
        if len(args.query) != 1:
            ap.error("--phrase takes exactly one --query")
        if args.serve:
            if args.exclude_term:
                ap.error("--exclude-term (SpanNot) is a distributed "
                         "plan — drop --serve")
            print(json.dumps(run_phrase_served(
                args.index, args.query[0], k=args.k, slop=args.slop,
                ordered=not args.unordered)))
            return
        from gensim_spark.session import get_spark

        spark = get_spark("gensim_spark_query")
        print(json.dumps(run_phrase(spark, args.index, args.query[0],
                                    k=args.k, slop=args.slop,
                                    ordered=not args.unordered,
                                    exclude=args.exclude_term,
                                    exclude_pre=args.exclude_pre,
                                    exclude_post=args.exclude_post)))
        spark.stop()
        return

    if args.serve:
        if args.snapshot_id is not None:
            ap.error("--serve answers from the current snapshot "
                     "(no --snapshot-id)")
        print(json.dumps(run_served(args.index, args.query, k=args.k,
                                    exclude_doc_ids=args.exclude_doc_ids)))
        return

    from gensim_spark.session import get_spark

    spark = get_spark("gensim_spark_query")
    out = run(spark, args.index, args.query, k=args.k,
              snapshot_id=args.snapshot_id,
              exclude_doc_ids=args.exclude_doc_ids, pages_path=args.pages,
              highlight=args.highlight, facet=args.facet)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
