"""Positional postings + exact phrase queries over the inverted index.

gensim's retrieval surface has no phrase operator; this extends the graft's
north-star index (posting-list construction → intersection-style querying,
SURVEY §2.5) with the canonical next capability of an inverted index:
token positions recorded at build time, exact-adjacency phrase matching at
query time, and Lucene-style phrase scoring — the phrase behaves as a
pseudo-term whose tf is the phrase occurrence count and whose idf is the
SUM of the member terms' idfs (org.apache.lucene.search.PhraseQuery /
PhraseWeight semantics; scoring saturation reuses the fitted BM25Stats
variant so a phrase and a term are comparable under one model).

Plans (100 TB shape):
- **build**: ONE groupBy((doc_id, term_id)) over the posexploded tokens —
  the same single shuffle ``doc2bow_postings`` pays; positions ride along
  as a sorted int array per posting row (postings get wider, the plan
  does not change). Salting/bucketed-store layouts apply unchanged.
- **query**: one scan leg per phrase term, each pruned to its term_id at
  the source (predicate pushdown on the term-bucketed store), inner-joined
  on doc_id — only docs containing ALL member terms survive, which is the
  classic intersection-driven phrase plan. The adjacency check is a pure
  JVM array fold: starts = ∩ᵢ (positionsᵢ − i) via
  ``array_intersect``/``transform`` — zero Python UDFs, zero shuffles
  beyond the k-way join on the intersection-sized frames.
- **storage**: the positional frame persists through the SAME
  ``layout.write_postings_bucketed`` snapshot table as weighted postings
  (the positions column rides along; manifest pruning to the terms'
  bucket files + term_id row-group pushdown apply unchanged) — pass the
  pruned ``read_postings_bucketed(..., term_ids=phrase_ids)`` frame
  straight into :func:`phrase_occurrences` / :func:`phrase_topk`
  (tests/test_positional.py::test_phrase_over_stored_bucketed_index).
  In-session frames work too but re-derive the positional groupBy per
  term leg (with the term filter pushed below it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as _vocab
from .bm25 import BM25Stats


def _idf_sum(stats: BM25Stats, term_ids) -> float:
    """Pseudo-term idf = Σ over member OCCURRENCES (duplicates count per
    occurrence — Lucene PhraseWeight/SpanWeight idfExplain over the term
    array). k values — an inputs-only collect."""
    ids = [int(t) for t in term_ids]
    idf_map = {r["term_id"]: r["idf"] for r in
               stats.idfs.filter(F.col("term_id").isin(sorted(set(ids))))
               .collect()}
    return float(sum(idf_map.get(t, 0.0) for t in ids))


def _rank_pseudo_term(occ: DataFrame, tf_col: str, stats: BM25Stats,
                      idf_sum: float, dl: DataFrame, k: int,
                      doc_col: str = "doc_id") -> DataFrame:
    """Shared pseudo-term scoring + rank for the positional query family:
    score = idf_sum · S(tf, dl) with S the fitted stats' saturation (same
    k1/b/avgdl/variant as term queries, so span and term scores live on
    one scale). TakeOrdered (orderBy + limit), then rank over the k-row
    clip — never a global window."""
    tf = F.col(tf_col).cast("double")
    dlc = F.col("dl").cast("double")
    denom = tf + F.lit(stats.k1) * (F.lit(1.0 - stats.b)
                                    + F.lit(stats.b) * dlc / F.lit(stats.avgdl))
    num = (tf * F.lit(stats.k1 + 1.0) if stats.variant in ("okapi", "atire")
           else tf)
    scored = (occ.join(dl, doc_col)
              .select(doc_col, tf_col,
                      (F.lit(idf_sum) * num / denom).alias("score")))
    top = scored.orderBy(F.desc("score"), F.asc(doc_col)).limit(k)
    from pyspark.sql import Window

    wnd = Window.orderBy(F.desc("score"), F.asc(doc_col))
    return (top.withColumn("rank", F.row_number().over(wnd))
            .select(doc_col, tf_col, "score", "rank"))


def positional_postings(docs: DataFrame, vocab: DataFrame,
                        doc_col: str = "doc_id", tokens_col: str = "tokens",
                        broadcast_vocab: bool = True) -> DataFrame:
    """docs(doc_id, tokens) ⋈ vocab → (doc_id, term_id, positions, tf).

    ``positions`` is the sorted int array of 0-based token offsets;
    ``tf == size(positions)`` so the frame is a drop-in superset of
    ``doc2bow_postings`` output (same single shuffle, same join)."""
    rows = docs.select(doc_col, F.posexplode(tokens_col).alias("pos", "token"))
    v = vocab.select("token", "term_id")
    if broadcast_vocab:
        v = F.broadcast(v)
    return (rows.join(v, "token")
            .groupBy(doc_col, "term_id")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions"),
                 F.count(F.lit(1)).alias("tf")))


def phrase_occurrences(positional: DataFrame, phrase_term_ids,
                       doc_col: str = "doc_id") -> DataFrame:
    """Docs containing the EXACT phrase (adjacent, in order):
    (doc_id, starts, phrase_tf) with phrase_tf ≥ 1.

    starts = ∩ᵢ (positions of termᵢ shifted left by i) — a doc position s
    survives iff term₀ is at s, term₁ at s+1, … Duplicate terms in the
    phrase are legal (each occurrence becomes its own shifted leg)."""
    ids = [int(t) for t in phrase_term_ids]
    if not ids:
        raise ValueError("empty phrase")
    def shift_left(off: int):
        # one-arg lambda, NOT `lambda p, i=i`: F.transform inspects arity
        # and would pass the ARRAY INDEX as the second argument
        return F.transform("positions", lambda p: p - F.lit(off))

    legs = []
    for i, tid in enumerate(ids):
        shifted = F.col("positions") if i == 0 else shift_left(i)
        legs.append(positional.filter(F.col("term_id") == tid)
                    .select(F.col(doc_col), shifted.alias(f"_s{i}")))
    j = legs[0]
    for leg in legs[1:]:
        j = j.join(leg, doc_col)
    starts = F.col("_s0")
    for i in range(1, len(ids)):
        starts = F.array_intersect(starts, F.col(f"_s{i}"))
    return (j.select(doc_col, starts.alias("starts"))
            .withColumn("phrase_tf", F.size("starts"))
            .filter(F.col("phrase_tf") > 0))


def multi_phrase_occurrences(positional: DataFrame, alternatives,
                             doc_col: str = "doc_id") -> DataFrame:
    """MultiPhrase match (Lucene MultiPhraseQuery): ``alternatives`` is a
    list of term-id lists — position i of the phrase matches ANY of
    ``alternatives[i]`` (e.g. ``[[a], [b, c]]`` ≙ "a (b|c)"). Returns
    (doc_id, starts, phrase_tf), phrase_tf ≥ 1.

    Each leg unions its alternative terms' position arrays per doc
    (flatten + array_distinct after the same term-pruned scan a plain
    phrase leg does — the scan prunes to the leg's term set, so each leg
    stays intersection-shaped); adjacency is the identical shifted
    array-intersect fold as :func:`phrase_occurrences`."""
    alts = [[int(t) for t in a] for a in alternatives]
    if not alts or any(not a for a in alts):
        raise ValueError("each phrase position needs ≥1 alternative term")

    legs = []
    for i, tids in enumerate(alts):
        leg = (positional.filter(F.col("term_id").isin(tids))
               .groupBy(doc_col)
               .agg(F.array_sort(F.array_distinct(
                   F.flatten(F.collect_list("positions")))).alias("_m")))
        shifted = (F.col("_m") if i == 0 else
                   F.transform("_m", lambda p: p - F.lit(i)))
        legs.append(leg.select(F.col(doc_col), shifted.alias(f"_s{i}")))
    j = legs[0]
    for leg in legs[1:]:
        j = j.join(leg, doc_col)
    starts = F.col("_s0")
    for i in range(1, len(alts)):
        starts = F.array_intersect(starts, F.col(f"_s{i}"))
    return (j.select(doc_col, starts.alias("starts"))
            .withColumn("phrase_tf", F.size("starts"))
            .filter(F.col("phrase_tf") > 0))


def multi_phrase_topk(positional: DataFrame, stats: BM25Stats, alternatives,
                      dl: DataFrame, k: int = 10,
                      doc_col: str = "doc_id", slop: int = 0) -> DataFrame:
    """Top-k docs for a MultiPhrase query. Scoring follows Lucene
    MultiPhraseWeight: the pseudo-term idf is the sum over ALL member
    terms in all positions (each alternative contributes — Lucene's
    idfExplain over the flattened term array), saturation from the fitted
    BM25Stats as in :func:`phrase_topk`.

    ``slop > 0`` is the sloppy MultiPhrase — routed through
    :func:`span_near_occurrences` with the alternative sets as ordered
    OR-clauses (Lucene ``spanNear([spanOr(...), ...], slop)``)."""
    alts = [[int(t) for t in a] for a in alternatives]
    if slop:
        occ = (span_near_occurrences(positional, alts, slop=slop,
                                     ordered=True, doc_col=doc_col)
               .withColumnRenamed("near_tf", "phrase_tf"))
    else:
        occ = multi_phrase_occurrences(positional, alts, doc_col)
    flat = [t for a in alts for t in a]
    return _rank_pseudo_term(occ, "phrase_tf", stats, _idf_sum(stats, flat),
                             dl, k, doc_col)


def near_occurrences(positional: DataFrame, term_a: int, term_b: int,
                     slop: int = 1, ordered: bool = True,
                     doc_col: str = "doc_id") -> DataFrame:
    """Two-term proximity (SpanNear / ``"a NEAR/k b"``): docs where term_b
    occurs within ``slop`` intervening tokens of term_a —
    ordered: 0 < pos_b − pos_a ≤ slop + 1 (slop=0 ≡ exact adjacency);
    unordered: 1 ≤ |pos_b − pos_a| ≤ slop + 1. Returns
    (doc_id, near_tf) where near_tf counts the term_a anchor positions
    with a qualifying partner — a pure JVM array fold (filter + exists),
    no Python UDF, no extra shuffle."""
    a = (positional.filter(F.col("term_id") == int(term_a))
         .select(F.col(doc_col), F.col("positions").alias("_pa")))
    b = (positional.filter(F.col("term_id") == int(term_b))
         .select(F.col(doc_col), F.col("positions").alias("_pb")))
    w = F.lit(int(slop) + 1)
    if ordered:
        def near(p):
            return F.exists("_pb", lambda q: (q > p) & (q - p <= w))
    else:
        def near(p):
            return F.exists("_pb",
                            lambda q: (q != p) & (F.abs(q - p) <= w))
    anchors = F.filter("_pa", lambda p: near(p))
    return (a.join(b, doc_col)
            .select(doc_col, F.size(anchors).alias("near_tf"))
            .filter(F.col("near_tf") > 0))


def near_topk(positional: DataFrame, stats: BM25Stats, term_a: int,
              term_b: int, dl: DataFrame, slop: int = 1,
              ordered: bool = True, k: int = 10,
              doc_col: str = "doc_id") -> DataFrame:
    """Top-k docs for a NEAR query — same pseudo-term scoring as
    :func:`phrase_topk` (tf = near_tf, idf = idf_a + idf_b, the fitted
    stats' saturation). (doc_id, near_tf, score, rank)."""
    occ = near_occurrences(positional, term_a, term_b, slop, ordered, doc_col)
    idf_sum = _idf_sum(stats, [term_a, term_b])
    return _rank_pseudo_term(occ, "near_tf", stats, idf_sum, dl, k, doc_col)


def _is_iterable(x) -> bool:
    """True for list/tuple/set clause alternatives (NOT for plain ints /
    numpy ints)."""
    return isinstance(x, (list, tuple, set, frozenset))


def _norm_clauses(term_ids) -> list[list[int]]:
    """Normalize a clause list: ints become unit clauses, iterables
    become sorted deduped alternative sets; empty clauses refuse."""
    clauses = [sorted({int(x) for x in t}) if _is_iterable(t) else [int(t)]
               for t in term_ids]
    if any(not c for c in clauses):
        raise ValueError("empty OR-clause")
    return clauses


def _clause_legs(positional: DataFrame, clauses, doc_col: str) -> DataFrame:
    """One term-pruned leg per clause — ``_p{i}`` = the clause's sorted
    position array (union of its alternatives' positions for OR-clauses;
    disjoint within a doc since one token sits per position, so sort
    alone suffices) — inner-joined on doc_col. Shared by the SpanNear
    and SpanNot folds so the leg pruning can never diverge between
    them."""
    legs = []
    for i, cl in enumerate(clauses):
        if len(cl) == 1:
            leg = (positional.filter(F.col("term_id") == cl[0])
                   .select(F.col(doc_col),
                           F.col("positions").alias(f"_p{i}")))
        else:
            leg = (positional.filter(F.col("term_id").isin(cl))
                   .groupBy(doc_col)
                   .agg(F.array_sort(
                       F.flatten(F.collect_list("positions")))
                       .alias(f"_p{i}")))
        legs.append(leg)
    j = legs[0]
    for leg in legs[1:]:
        j = j.join(leg, doc_col)
    return j


def _after(e):
    # factory closure, NOT a default-arg lambda: a two-param lambda
    # would make F.filter pass the ARRAY INDEX as the second argument
    return lambda q: q > e


def _greedy_chain_end(p, n: int):
    """Greedy strictly-increasing chain end from anchor ``p``: clause i
    takes its smallest ``_p{i}`` position after the previous clause's
    end. A null end (a clause ran dry) propagates to null, which
    F.filter treats as no-match. Picking the minimal valid successor
    minimizes the final end, so greedy succeeds iff any witness chain
    exists."""
    e = p
    for i in range(1, n):
        e = F.array_min(F.filter(F.col(f"_p{i}"), _after(e)))
    return e


def span_near_occurrences(positional: DataFrame, term_ids, slop: int = 0,
                          ordered: bool = True,
                          doc_col: str = "doc_id") -> DataFrame:
    """N-clause SpanNear (Lucene SpanNearQuery with unit-length term
    clauses): docs where all member terms occur within a window. Returns
    (doc_id, near_tf), near_tf ≥ 1.

    **ordered** (SpanNearQuery inOrder=true): a match is a strictly
    increasing position chain p₀ < p₁ < … < pₙ₋₁ — clause i at pᵢ — with
    total stretch pₙ₋₁ − p₀ + 1 − n ≤ slop (the span's width minus the
    clauses' summed unit lengths, Lucene's slop accounting). near_tf
    counts the clause-0 anchor positions that begin a qualifying chain.
    Existence is decided by the GREEDY chain (each clause takes its
    smallest position after the previous clause's): picking the minimal
    valid successor minimizes the final end, so greedy succeeds iff any
    witness chain exists. The fold is pure JVM array expressions — one
    term-pruned scan leg per clause joined on doc_id, then nested
    ``filter``/``array_min`` per anchor; no Python UDF, no shuffle beyond
    the k-way intersection-sized join. n=2 reduces exactly to
    :func:`near_occurrences` ordered semantics (pinned in tests).

    **unordered** (inOrder=false): n=2 delegates to
    :func:`near_occurrences`; for n ≥ 3 a match anchor is a position s
    (over the union of clause positions) whose window [s, s + slop + n)
    contains every clause — with duplicate clauses requiring that many
    DISTINCT positions of their term in the window (Lucene's
    non-overlapping-spans rule for unit spans). near_tf counts the
    qualifying window-start anchors.

    **OR-clauses** (ordered only): a clause may be an iterable of term
    ids — Lucene ``spanNear([spanOr(a, b), c], slop)`` with unit-length
    alternatives, the sloppy counterpart of MultiPhraseQuery. The
    clause's position set is the union of its members' (one extra
    clause-term-pruned groupBy per multi-term clause; single-term
    clauses stay agg-free); the greedy-chain argument is unchanged since
    union legs are just larger sorted arrays. Unordered mode keeps
    unit-term clauses (the multiplicity rule has no canonical Lucene
    meaning across alternative sets) and raises otherwise."""
    clauses = _norm_clauses(term_ids)
    if len(clauses) < 2:
        raise ValueError("SpanNear needs >= 2 clauses")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    multi = any(len(c) > 1 for c in clauses)
    if not ordered and multi:
        raise ValueError("unordered SpanNear takes unit-term clauses; "
                         "OR-clauses are ordered-only")
    ids = [c[0] for c in clauses]
    if not ordered and len(ids) == 2:
        return near_occurrences(positional, ids[0], ids[1], slop,
                                ordered=False, doc_col=doc_col)
    n = len(clauses)

    if ordered:
        j = _clause_legs(positional, clauses, doc_col)
        stretch = F.lit(int(slop) + n - 1)  # max allowed end − start

        def _chain_ok(p):
            return (_greedy_chain_end(p, n) - p) <= stretch

        anchors = F.filter(F.col("_p0"), _chain_ok)
    else:
        from collections import Counter

        mult = Counter(ids)
        terms = sorted(mult)
        legs = []
        for jx, tid in enumerate(terms):
            legs.append(positional.filter(F.col("term_id") == tid)
                        .select(F.col(doc_col),
                                F.col("positions").alias(f"_p{jx}")))
        j = legs[0]
        for leg in legs[1:]:
            j = j.join(leg, doc_col)
        union = F.array_sort(F.array_distinct(F.concat(
            *[F.col(f"_p{jx}") for jx in range(len(terms))])))
        win = F.lit(int(slop) + n)  # window width in token positions

        def _in_window(s):
            return lambda q: (q >= s) & ((q - s) < win)

        def _covered(s):
            c = None
            for jx, tid in enumerate(terms):
                cnt = F.size(F.filter(F.col(f"_p{jx}"), _in_window(s)))
                cj = cnt >= F.lit(mult[tid])
                c = cj if c is None else (c & cj)
            return c

        anchors = F.filter(union, _covered)

    return (j.select(doc_col, F.size(anchors).alias("near_tf"))
            .filter(F.col("near_tf") > 0))


def span_not_occurrences(positional: DataFrame, term_ids, exclude_terms,
                         slop: int = 0, pre: int = 0, post: int = 0,
                         doc_col: str = "doc_id") -> DataFrame:
    """SpanNot (Lucene SpanNotQuery(include, exclude, pre, post)): matches
    of the ORDERED include span — the same greedy chain as
    :func:`span_near_occurrences`, clauses may be OR-lists — that have NO
    excluded-term occurrence within ``pre`` positions before the span's
    start or ``post`` after its end (pre=post=0 ≙ no overlap, Lucene's
    2-arg form). Returns (doc_id, near_tf), near_tf = qualifying anchors.

    The exclusion is one more term-pruned leg LEFT-joined on doc_id
    (docs with no excluded term keep all their spans — a left join, not
    an inner) and an ``exists`` probe per anchor over the greedy chain's
    [start − pre, end + post] window; the greedy (minimal) end is the
    correct witness because Lucene's SpanNot rejects a candidate include
    span as a whole — and with unit-length clauses every backtracked
    chain from the same anchor only has a LARGER end, never a smaller
    exclusion window."""
    clauses = _norm_clauses(term_ids)
    if not clauses:
        raise ValueError("include span needs non-empty clauses")
    if slop < 0 or pre < 0 or post < 0:
        raise ValueError("slop/pre/post must be >= 0")
    excl = sorted({int(t) for t in (
        exclude_terms if _is_iterable(exclude_terms) else [exclude_terms])})
    if not excl:
        raise ValueError("exclude needs >= 1 term")
    n = len(clauses)

    j = _clause_legs(positional, clauses, doc_col)
    ex_leg = (positional.filter(F.col("term_id").isin(excl))
              .groupBy(doc_col)
              .agg(F.array_sort(F.flatten(F.collect_list("positions")))
                   .alias("_px")))
    j = j.join(ex_leg, doc_col, "left").withColumn(
        "_px", F.coalesce(F.col("_px"), F.array().cast("array<int>")))
    stretch = F.lit(int(slop) + n - 1)

    def _anchor_ok(p):
        e = _greedy_chain_end(p, n)
        lo, hi = p - F.lit(int(pre)), e + F.lit(int(post))
        blocked = F.exists("_px", lambda q: (q >= lo) & (q <= hi))
        return ((e - p) <= stretch) & ~blocked

    anchors = F.filter(F.col("_p0"), _anchor_ok)
    return (j.select(doc_col, F.size(anchors).alias("near_tf"))
            .filter(F.col("near_tf") > 0))


def span_not_topk(positional: DataFrame, stats: BM25Stats, term_ids,
                  exclude_terms, dl: DataFrame, slop: int = 0,
                  pre: int = 0, post: int = 0, k: int = 10,
                  doc_col: str = "doc_id") -> DataFrame:
    """Top-k for SpanNot — pseudo-term scoring over the surviving
    anchors; idf = Σ INCLUDE member idfs (Lucene SpanNotQuery scores from
    the include span only; the exclusion gates matches, it never
    contributes weight). (doc_id, near_tf, score, rank)."""
    occ = span_not_occurrences(positional, term_ids, exclude_terms,
                               slop=slop, pre=pre, post=post,
                               doc_col=doc_col)
    flat = [x for t in term_ids
            for x in (t if _is_iterable(t) else [t])]
    return _rank_pseudo_term(occ, "near_tf", stats,
                             _idf_sum(stats, flat), dl, k, doc_col)


def span_near_topk(positional: DataFrame, stats: BM25Stats, term_ids,
                   dl: DataFrame, slop: int = 0, ordered: bool = True,
                   k: int = 10, doc_col: str = "doc_id") -> DataFrame:
    """Top-k docs for an N-clause SpanNear query — same pseudo-term
    scoring as :func:`phrase_topk` (tf = near_tf, idf = Σ member idfs
    over occurrences — OR-clause alternatives all contribute, the
    MultiPhraseWeight rule — the fitted stats' saturation).
    (doc_id, near_tf, score, rank)."""
    occ = span_near_occurrences(positional, term_ids, slop=slop,
                                ordered=ordered, doc_col=doc_col)
    flat = [x for t in term_ids
            for x in (t if _is_iterable(t) else [t])]
    return _rank_pseudo_term(occ, "near_tf", stats,
                             _idf_sum(stats, flat), dl, k, doc_col)


def span_first_topk(positional: DataFrame, stats: BM25Stats, term_id: int,
                    end: int, dl: DataFrame, k: int = 10,
                    doc_col: str = "doc_id") -> DataFrame:
    """Span-first query (Lucene SpanFirstQuery): the term must occur
    within the first ``end`` token positions (0-based: position < end) —
    "mentions X in the opening" queries. tf counts only the qualifying
    occurrences (a JVM array filter over the positional postings — the
    scan prunes to the term's postings, the fold is per-row); scoring is
    the same pseudo-term model as :func:`phrase_topk` with the term's own
    idf. Returns (doc_id, first_tf, score, rank)."""
    if end < 1:
        raise ValueError("end must be ≥ 1")
    e = F.lit(int(end))
    occ = (positional.filter(F.col("term_id") == int(term_id))
           .select(F.col(doc_col),
                   F.size(F.filter("positions", lambda p: p < e))
                   .alias("first_tf"))
           .filter(F.col("first_tf") > 0))
    return _rank_pseudo_term(occ, "first_tf", stats,
                             _idf_sum(stats, [term_id]), dl, k, doc_col)


def phrase_topk(positional: DataFrame, stats: BM25Stats, phrase_term_ids,
                dl: DataFrame, k: int = 10,
                doc_col: str = "doc_id", slop: int = 0) -> DataFrame:
    """Top-k docs for a phrase, Lucene PhraseQuery scoring:
    score = (Σᵢ idf(termᵢ)) · S(phrase_tf, dl) where S is the fitted
    stats' saturation (same k1/b/avgdl/variant as term queries, so phrase
    and term scores live on one scale). Returns
    (doc_id, phrase_tf, score, rank) — TakeOrdered (orderBy + limit), not
    a global window.

    ``slop > 0`` is the sloppy phrase ``"a b c"~slop``: matching routes
    through :func:`span_near_occurrences` with an ORDERED clause list
    (Lucene SpanNearQuery semantics — a match is a strictly-increasing
    chain of the member terms whose total span stretch, end − start + 1
    − n, is ≤ slop; phrase_tf counts the qualifying anchor positions).
    Note: this is in-order slop — Lucene PhraseQuery's edit-distance
    matcher additionally lets terms REORDER once slop affords the
    transposition; compose two ordered span queries if both orders are
    wanted."""
    ids = [int(t) for t in phrase_term_ids]
    if slop:
        occ = (span_near_occurrences(positional, ids, slop=slop,
                                     ordered=True, doc_col=doc_col)
               .withColumnRenamed("near_tf", "phrase_tf"))
    else:
        occ = phrase_occurrences(positional, ids, doc_col)
    return _rank_pseudo_term(occ, "phrase_tf", stats, _idf_sum(stats, ids),
                             dl, k, doc_col)


def phrase_text_topk(spark, docs: DataFrame, vocab: DataFrame,
                     stats: BM25Stats, phrase_tokens, dl: DataFrame,
                     k: int = 10) -> DataFrame:
    """Convenience: phrase given as token strings; OOV member → no match
    (inner vocab probe, the dictionary.doc2bow drop semantics)."""
    vmap = _vocab.term_ids(vocab, phrase_tokens)
    if any(t not in vmap for t in phrase_tokens):
        return spark.createDataFrame(
            [], "doc_id long, phrase_tf int, score double, rank int")
    pos = positional_postings(docs, vocab)
    return phrase_topk(pos, stats, [vmap[t] for t in phrase_tokens], dl, k=k)
