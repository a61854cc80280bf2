"""BM25/TF-IDF top-k query scoring — the CSR×CSC product as a join-agg plan.

Reference semantics:

- ``SparseMatrixSimilarity.get_similarities`` (gensim/similarities/docsim.py:
  1254-1299): ``index · queryᵀ`` — per nonzero query term, walk its postings
  and accumulate ``Σ_t q_t · w_{t,d}`` per doc. ≙ equi-join on term_id +
  groupBy(doc_id) sum (SURVEY.md §1.1).
- Query weighting for BM25 is binary tf, no idf, no norm
  (``TfidfModel(smartirs='bnn')``, docsim.py:1149-1161).
- ``num_best`` clip (gensim/interfaces.py:305-353, matutils.py:435-468):
  top-k by **absolute** score, exact-zero scores dropped, ties broken by
  ascending doc position (argpartition/argsort index order).

Scale: queries are tiny → broadcast side of the join; postings partition-prune
to the query's term buckets when the index is bucketed by term_id
(gensim_spark.index). Per-query top-k is a rank window partitioned by
query_id — for single queries Catalyst plans orderBy+limit as
TakeOrderedAndProject (partial per-partition top-k, no global sort).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def query_terms_df(spark, queries: dict[int, list[int]],
                   weights: dict[int, dict[int, float]] | None = None) -> DataFrame:
    """{query_id: [term_id, ...]} → (query_id, term_id, q_weight).

    Default query model = smartirs 'bnn': binary tf (dupes collapse to 1.0),
    no idf, no norm (docsim.py:1149).
    """
    rows = []
    for qid, terms in queries.items():
        if weights and qid in weights:
            for t, w in weights[qid].items():
                rows.append((int(qid), int(t), float(w)))
        else:
            for t in sorted(set(terms)):
                rows.append((int(qid), int(t), 1.0))
    return spark.createDataFrame(rows, "query_id int, term_id long, q_weight double")


def score(weighted_postings: DataFrame, query_terms: DataFrame) -> DataFrame:
    """(doc_id, term_id, weight) ⋈ (query_id, term_id, q_weight) →
    (query_id, doc_id, score). The disjunctive BM25 accumulation (any shared
    term contributes; SURVEY.md §2.6 set-ops note)."""
    return (
        weighted_postings.join(F.broadcast(query_terms), "term_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("weight") * F.col("q_weight")).alias("score"))
    )


def topk(scores: DataFrame, k: int | None) -> DataFrame:
    """Per-query top-k with gensim's exact tie/zero semantics:
    rank by |score| desc (interfaces.py:339-353), drop exact zeros
    (matutils.py:435-468), ties by doc_id ascending (argsort index order).
    ``k=None`` ≙ gensim's ``num_best=None``: every (nonzero) similarity is
    returned, still ranked; ``k=0`` returns no rows."""
    w = Window.partitionBy("query_id").orderBy(F.abs(F.col("score")).desc(),
                                               F.col("doc_id").asc())
    out = (scores.filter(F.col("score") != 0.0)
           .withColumn("rank", F.row_number().over(w)))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out.select("query_id", "doc_id", "score", "rank")


def search(weighted_postings: DataFrame, query_terms: DataFrame,
           k: int | None = 10) -> DataFrame:
    """The flagship plan: score + top-k clip."""
    return topk(score(weighted_postings, query_terms), k)


def bm25f_scores(field_weighted: dict, field_queries: dict,
                 boosts: dict) -> DataFrame:
    """Multi-field scoring, BM25F-lite (Lucene's per-field BooleanQuery
    composition — ``title:q^2 OR body:q`` — NOT canonical BM25F):
    score(q, d) = Σ_field boost_f · BM25_f(q, d), each field scored
    against its OWN index (field-specific vocabulary, df/idf, and length
    normalization — exactly Lucene's per-field statistics). Canonical
    BM25F folds per-field tf into one saturation; this composition
    saturates per field first, the standard practical variant when fields
    are separate indexes. Plan: one :func:`score` leg per field (broadcast
    query join + partial-agg sum), boost applied as a projection, legs
    unioned and fused by one (query, doc)-keyed hash agg — no extra
    shuffle beyond the per-field aggs, and the union is
    intersection-sized (docs matching ≥ 1 query term in that field).

    ``field_weighted``: {field: weighted postings}; ``field_queries``:
    {field: (query_id, term_id, q_weight) frame resolved against THAT
    field's vocab}; ``boosts``: {field: multiplier} (missing → 1.0).
    Returns (query_id, doc_id, score) — feed :func:`topk` to rank."""
    parts = []
    for name, weighted in field_weighted.items():
        q = field_queries.get(name)
        if q is None:
            continue
        boost = float(boosts.get(name, 1.0))
        parts.append(score(weighted, q).select(
            "query_id", "doc_id",
            (F.col("score") * F.lit(boost)).alias("score")))
    if not parts:
        raise ValueError("bm25f needs at least one field with query terms")
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.unionByName(p)
    return (fused.groupBy("query_id", "doc_id")
            .agg(F.sum("score").alias("score")))


def bm25f_topk(field_weighted: dict, field_queries: dict, boosts: dict,
               k: int | None = 10) -> DataFrame:
    """Top-k over :func:`bm25f_scores` with the standard tie/zero
    semantics (|score| rank, zero drop, doc_id-asc ties)."""
    return topk(bm25f_scores(field_weighted, field_queries, boosts), k)


def prefix_topk(weighted_postings: DataFrame, vocab: DataFrame,
                prefix: str, k: int | None = 10,
                query_id: int = 0) -> DataFrame:
    """Prefix query (Lucene PrefixQuery ``pre*``): expand the prefix
    against the vocab RELATIONALLY — the expansion stays a vocab-bounded
    frame feeding :func:`score`'s broadcast, never a driver collect — and
    rank the disjunction under the standard 'bnn' query model
    (q_weight = 1 per expanded term, gensim's query default). Same
    tie/zero semantics as every other top-k here."""
    terms = (vocab.filter(F.col("token").startswith(prefix))
             .select(F.lit(int(query_id)).alias("query_id"), "term_id",
                     F.lit(1.0).alias("q_weight")))
    return search(weighted_postings, terms, k)


def wildcard_pattern_to_like(pattern: str) -> str:
    """Lucene wildcard syntax → SQL LIKE: ``*`` ≙ ``%`` (any run), ``?`` ≙
    ``_`` (one char), and Lucene's escape syntax ``\\*``/``\\?``/``\\\\``
    makes the next character literal (WildcardQuery's backslash escape).
    Literal ``%``/``_`` (whether bare in the pattern or produced by an
    escape) are backslash-escaped for LIKE, since tokens may legally
    contain ``_``. A trailing lone backslash is treated as a literal
    backslash (Lucene's QueryParser rejects it; the term scanner here is
    lenient). Both Spark's ``Column.like`` and DuckDB's
    ``LIKE ... ESCAPE '\\'`` honor the same escape, so one translation
    serves both engines."""
    out = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            out.append("\\" + nxt if nxt in ("%", "_", "\\") else nxt)
            i += 2
            continue
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
        i += 1
    return "".join(out)


def wildcard_topk(weighted_postings: DataFrame, vocab: DataFrame,
                  pattern: str, k: int | None = 10,
                  query_id: int = 0) -> DataFrame:
    """Wildcard query (Lucene WildcardQuery ``s?a*``): expand the pattern
    against the vocab relationally — same vocab-bounded expansion plan as
    :func:`prefix_topk` (a prefix is the special case ``pre*``) — and rank
    the disjunction under the 'bnn' query model with gensim's tie/zero
    semantics. Scale note: a leading ``*`` forces a full-vocab LIKE scan
    (Lucene warns identically); the vocab frame is broadcast-sized either
    way, and the postings join stays term-pruned to the expansion."""
    like = wildcard_pattern_to_like(pattern)
    terms = (vocab.filter(F.col("token").like(like))
             .select(F.lit(int(query_id)).alias("query_id"), "term_id",
                     F.lit(1.0).alias("q_weight")))
    return search(weighted_postings, terms, k)


def regexp_topk(weighted_postings: DataFrame, vocab: DataFrame,
                pattern: str, k: int | None = 10,
                query_id: int = 0) -> DataFrame:
    """Regexp query (Lucene RegexpQuery): the pattern must match the
    WHOLE term (Lucene's automaton semantics — not a substring search),
    expansion relational against the vocab like every other rewrite
    here. Portability contract (same as curation.pii_scrub): keep
    patterns in the Java-regex ∩ RE2 common subset — classes,
    alternation, quantifiers; no backreferences or lookaround — so the
    SAME pattern runs on Spark (`rlike`) and any RE2 engine
    (`regexp_full_match`)."""
    anchored = f"^(?:{pattern})$"
    terms = (vocab.filter(F.col("token").rlike(anchored))
             .select(F.lit(int(query_id)).alias("query_id"), "term_id",
                     F.lit(1.0).alias("q_weight")))
    return search(weighted_postings, terms, k)


def fuzzy_expand_terms(vocab: DataFrame, word: str, max_distance: int = 2,
                       prefix_len: int = 0,
                       token_col: str = "token") -> DataFrame:
    """Expansion set of a fuzzy query (Lucene FuzzyQuery ``word~d``): vocab
    terms within Levenshtein distance ``max_distance`` of ``word``,
    optionally requiring the first ``prefix_len`` chars to match exactly
    (Lucene's prefixLength). Unlike the reference's
    ``LevenshteinSimilarityIndex`` (levenshtein.py:24-105) the word itself
    IS included (distance 0) — Lucene matches the exact term too.

    Plan: the query's deletion variants (driver-side, O(len^d) strings) are
    inlined as literals; the vocab side explodes ITS variants Arrow-batched
    and equi-joins — the FastSS guarantee (fastss.pyx:1-40) makes candidate
    retrieval exact — then a banded edit-distance verify on the
    candidate-sized frame. Never a pairwise vocab scan."""
    from .fuzzy import _variants_udf, deletion_variants, edit_distance

    from pyspark.sql.types import IntegerType

    qvars = deletion_variants(word, max_distance)
    cand = (vocab.select(token_col, "term_id")
            .withColumn("_v", F.explode(_variants_udf(max_distance)(
                F.col(token_col))))
            .filter(F.col("_v").isin(qvars))
            .select(token_col, "term_id").distinct())
    if prefix_len > 0:
        cand = cand.filter(
            F.substring(F.col(token_col), 1, prefix_len) == word[:prefix_len])

    @F.pandas_udf(IntegerType())
    def dist_udf(t: pd.Series) -> pd.Series:
        return pd.Series(
            [edit_distance(word, x, band=max_distance) for x in t])

    return (cand.withColumn("distance", dist_udf(token_col))
            .filter(F.col("distance") <= max_distance))


def fuzzy_topk(weighted_postings: DataFrame, vocab: DataFrame, word: str,
               max_distance: int = 2, prefix_len: int = 0,
               k: int | None = 10, query_id: int = 0) -> DataFrame:
    """Fuzzy query (Lucene FuzzyQuery ``word~d``): Levenshtein expansion
    against the vocab (FastSS candidate join + banded verify, see
    :func:`fuzzy_expand_terms`), then the standard disjunctive 'bnn'
    ranking — the same query model every other expanding query here uses,
    so fuzzy/prefix/wildcard/term scores live on one scale."""
    terms = (fuzzy_expand_terms(vocab, word, max_distance, prefix_len)
             .select(F.lit(int(query_id)).alias("query_id"), "term_id",
                     F.lit(1.0).alias("q_weight")))
    return search(weighted_postings, terms, k)


def bool_topk(weighted_postings: DataFrame, must=(), should=(),
              must_not=(), k: int | None = 10,
              query_id: int = 0, min_should_match: int = 0,
              boosts: dict | None = None) -> DataFrame:
    """Boolean query (Lucene BooleanQuery): docs must contain ALL ``must``
    terms and NONE of ``must_not``; score = the disjunctive accumulation
    over ``must`` + ``should`` terms present ('bnn' query model, matching
    Lucene's sum-of-matching-clauses). Plans: the must gate is a
    semi-join against a count-distinct filter on the must terms' postings
    (term-pruned scan), must_not an anti-join on the exclusion terms' doc
    set. The must_not doc set is df(term)-sized — a stopword-like
    exclusion term yields a near-corpus-sized list — so broadcast is NOT
    forced; AQE picks broadcast only when the runtime size is actually
    small.

    ``min_should_match`` (Lucene's minimumNumberShouldMatch): docs must
    additionally contain ≥ that many DISTINCT ``should`` terms — same
    count-distinct gate shape as ``must``, also intersection-sized.
    ``boosts`` ({term_id: boost}) scales a term's contribution (Lucene
    BoostQuery wrapping a clause): q_weight = boost instead of 1.0."""
    must = [int(t) for t in must]
    should = [int(t) for t in should]
    must_not = [int(t) for t in must_not]
    if not must and not should:
        raise ValueError("need at least one must/should term")
    if min_should_match > len(set(should)):
        raise ValueError("min_should_match exceeds distinct should terms")
    boosts = {int(t): float(b) for t, b in (boosts or {}).items()}
    q_terms = sorted(set(must) | set(should))
    spark = weighted_postings.sparkSession
    q = spark.createDataFrame(
        [(int(query_id), t, boosts.get(t, 1.0)) for t in q_terms],
        "query_id int, term_id long, q_weight double")
    scored = score(weighted_postings, q)

    def _count_gate(terms: list[int], need: int) -> DataFrame:
        return (weighted_postings
                .filter(F.col("term_id").isin(terms))
                .groupBy("doc_id")
                .agg(F.countDistinct("term_id").alias("_nm"))
                .filter(F.col("_nm") >= need)
                .select("doc_id"))

    if must:
        scored = scored.join(_count_gate(must, len(set(must))),
                             "doc_id", "left_semi")
    if min_should_match > 0 and should:
        scored = scored.join(_count_gate(should, min_should_match),
                             "doc_id", "left_semi")
    if must_not:
        excl = (weighted_postings
                .filter(F.col("term_id").isin(must_not))
                .select("doc_id").distinct())
        scored = scored.join(excl, "doc_id", "left_anti")
    return topk(scored, k)


def mlt_select_terms(weighted_postings: DataFrame, vocab: DataFrame,
                     doc_id: int, max_query_terms: int = 25,
                     min_doc_freq: int = 1,
                     max_doc_freq: int | None = None) -> DataFrame:
    """Term selection of a More-Like-This query (Lucene MoreLikeThis):
    the source doc's most informative terms — ranked by the index's own
    stored |weight| (tf·idf saturation; abs because an ε-clamped Okapi
    idf can be negative on head terms, and "informative" is magnitude) —
    gated by document frequency (Lucene's minDocFreq/maxDocFreq: drop
    too-rare noise and too-common stopwords), clipped to
    ``max_query_terms``. The frame is doc-sized before the clip."""
    terms = (weighted_postings.filter(F.col("doc_id") == int(doc_id))
             .join(F.broadcast(vocab.select("term_id", "df")), "term_id"))
    terms = terms.filter(F.col("df") >= int(min_doc_freq))
    if max_doc_freq is not None:
        terms = terms.filter(F.col("df") <= int(max_doc_freq))
    return (terms
            .orderBy(F.abs(F.col("weight")).desc(), F.asc("term_id"))
            .limit(int(max_query_terms))
            .select("term_id"))


def more_like_this(weighted_postings: DataFrame, vocab: DataFrame,
                   doc_id: int, max_query_terms: int = 25,
                   min_doc_freq: int = 1, max_doc_freq: int | None = None,
                   k: int | None = 10, query_id: int = 0) -> DataFrame:
    """More-Like-This (Lucene MoreLikeThisQuery): select the source doc's
    informative terms (:func:`mlt_select_terms`), run them as the standard
    disjunctive 'bnn' query, exclude the source doc itself, re-rank. The
    selection stays a broadcast-sized frame feeding :func:`score` — the
    whole query never touches the driver. Differs from
    :func:`similarity_by_id` (gensim's vector_by_id query, full vector as
    weights) by the df gates + term clip + uniform query weights — the
    MLT contract."""
    sel = (mlt_select_terms(weighted_postings, vocab, doc_id,
                            max_query_terms, min_doc_freq, max_doc_freq)
           .select(F.lit(int(query_id)).alias("query_id"), "term_id",
                   F.lit(1.0).alias("q_weight")))
    scored = (score(weighted_postings, sel)
              .filter(F.col("doc_id") != int(doc_id)))
    return topk(scored, k)


def similarity_by_id(weighted_postings: DataFrame, doc_id: int,
                     k: int = 10, exclude_self: bool = False) -> DataFrame:
    """``vector_by_id`` + query (docsim.py:584-652): use an indexed
    document's own vector as the query (q_weight = its stored weights,
    normalize off) and rank all docs against it."""
    q = weighted_postings.filter(F.col("doc_id") == doc_id).select(
        F.lit(0).alias("query_id"), "term_id",
        F.col("weight").alias("q_weight"),
    )
    # k=None = the facades' num_best=None full-results mode
    out = topk(score(weighted_postings, q),
               None if k is None else k + (1 if exclude_self else 0))
    if exclude_self:
        w = Window.partitionBy("query_id").orderBy(
            F.abs(F.col("score")).desc(), F.col("doc_id").asc()
        )
        out = (
            out.filter(F.col("doc_id") != doc_id)
            .withColumn("rank", F.row_number().over(w))
        )
        if k is not None:
            out = out.filter(F.col("rank") <= k)
    return out


def collapse_topk(scores: DataFrame, docs_meta: DataFrame, field: str,
                  k: int | None = 10,
                  doc_col: str = "doc_id") -> DataFrame:
    """Field collapsing (Lucene CollapsingTopDocsCollector / web search's
    one-result-per-site): keep only the BEST-scoring doc per ``field``
    value (ties by doc_id asc — the engine's standard tie order), then
    re-rank the survivors with the usual top-k semantics. Returns
    (query_id, doc_id, <field>, score, rank).

    Plan: match-set-sized meta join + one rank window partitioned by
    (query_id, field) — cardinality-bounded output, corpus never
    re-scanned."""
    joined = scores.join(docs_meta.select(doc_col, field), doc_col)
    w = Window.partitionBy("query_id", field).orderBy(
        F.abs(F.col("score")).desc(), F.col(doc_col).asc())
    best = (joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn"))
    out = topk(best.select("query_id", doc_col, "score"), k)
    return (out.join(docs_meta.select(doc_col, field), doc_col)
            .select("query_id", doc_col, field, "score", "rank"))


def rocchio_expand(weighted_postings: DataFrame, query_terms: DataFrame,
                   fb_docs: int = 5, fb_terms: int = 10,
                   alpha: float = 1.0, beta: float = 0.75) -> DataFrame:
    """Pseudo-relevance feedback, Rocchio form: run the query, take the
    top ``fb_docs`` results as pseudo-relevant, add the ``fb_terms``
    strongest terms of their centroid to the query. New query weights:
    ``alpha``·q for original terms, ``beta``·(Σ weight / |feedback set|)
    for expansion terms (the classic Rocchio centroid update with γ=0 —
    no non-relevant set in the pseudo setting). The divisor is the ACTUAL
    per-query feedback count — when the query matches fewer than
    ``fb_docs`` docs the centroid still averages over the docs that
    exist, as classic Rocchio does. Returns an expanded
    (query_id, term_id, q_weight) frame for :func:`search`.

    Fully relational — the feedback set is a k-row frame, the centroid a
    semi-join + hash-agg over those docs' postings, the term clip a
    window; no collect anywhere. Single-query frames only (the rank
    window is per query_id, so multi-query frames work too)."""
    top_docs = topk(score(weighted_postings, query_terms), fb_docs) \
        .select("query_id", "doc_id")
    fb_counts = top_docs.groupBy("query_id").agg(
        F.countDistinct("doc_id").alias("_nfb"))
    centroid = (weighted_postings
                .join(F.broadcast(top_docs), "doc_id")
                .groupBy("query_id", "term_id")
                .agg(F.sum("weight").alias("_sw"))
                .join(F.broadcast(fb_counts), "query_id")
                .select("query_id", "term_id",
                        (F.col("_sw") / F.col("_nfb")).alias("_c")))
    # expansion = strongest centroid terms NOT already in the query
    cand = centroid.join(
        F.broadcast(query_terms.select("query_id", "term_id")),
        ["query_id", "term_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.abs(F.col("_c")).desc(), F.col("term_id").asc())
    expansion = (cand.withColumn("_rn", F.row_number().over(w))
                 .filter(F.col("_rn") <= int(fb_terms))
                 .select("query_id", "term_id",
                         (F.lit(float(beta)) * F.col("_c"))
                         .alias("q_weight")))
    original = query_terms.select(
        "query_id", "term_id",
        (F.lit(float(alpha)) * F.col("q_weight")).alias("q_weight"))
    return original.unionByName(expansion)


def rocchio_topk(weighted_postings: DataFrame, query_terms: DataFrame,
                 fb_docs: int = 5, fb_terms: int = 10,
                 alpha: float = 1.0, beta: float = 0.75,
                 k: int | None = 10) -> DataFrame:
    """Two-pass pseudo-relevance-feedback search: expand via
    :func:`rocchio_expand`, re-run the disjunctive scorer with the
    expanded weighted query."""
    expanded = rocchio_expand(weighted_postings, query_terms,
                              fb_docs, fb_terms, alpha, beta)
    return search(weighted_postings, expanded, k)


def explain_scores(weighted_postings: DataFrame, query_terms: DataFrame,
                   vocab: DataFrame | None = None,
                   doc_ids=None) -> DataFrame:
    """Score explanation (Lucene ``IndexSearcher.explain``): the per-term
    breakdown behind a doc's score — (query_id, doc_id, term_id[, token],
    weight, q_weight, contribution) where ``Σ contribution`` over a
    (query, doc) is exactly :func:`score`'s result (the disjunctive sum,
    asserted in tests). ``doc_ids`` restricts to the docs being debugged
    (the common case: "why is THIS hit ranked there?") — the filter prunes
    the postings scan before the join; ``vocab`` adds the token string."""
    wp = weighted_postings
    if doc_ids is not None:
        wp = wp.filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
    out = (wp.join(F.broadcast(query_terms), "term_id")
           .select("query_id", "doc_id", "term_id", "weight", "q_weight",
                   (F.col("weight") * F.col("q_weight"))
                   .alias("contribution")))
    if vocab is not None:
        out = out.join(F.broadcast(vocab.select("term_id", "token")),
                       "term_id")
        out = out.select("query_id", "doc_id", "term_id", "token",
                         "weight", "q_weight", "contribution")
    return out


def sort_topk(scores: DataFrame, docs_meta: DataFrame, field: str,
              k: int | None = 10, ascending: bool = False,
              after: tuple | None = None,
              doc_col: str = "doc_id") -> DataFrame:
    """Sort-by-field results (Lucene ``Sort`` over a stored field, e.g.
    newest-first): rank the MATCH SET by a metadata field instead of the
    relevance score (ties by doc_id asc — the stable Lucene tiebreak).
    ``after=(field_value, doc_id)`` is the searchAfter cursor: only rows
    strictly after that sort position qualify, and ranks continue as the
    page's 1..k — deep pagination without the deep-offset cost (the
    cursor predicate prunes BEFORE the rank window, so page 1000 ranks
    k rows, not 1000·k). Returns (query_id, doc_id, <field>, score,
    rank).

    Plan: match-set-sized meta join (+ the cursor filter) + one rank
    window per query — the corpus is never re-scanned."""
    j = scores.join(docs_meta.select(doc_col, field), doc_col)
    fcol = F.col(field)
    if after is not None:
        val, did = after
        strictly_after = ((fcol > F.lit(val)) if ascending
                          else (fcol < F.lit(val)))
        j = j.filter(strictly_after
                     | ((fcol == F.lit(val))
                        & (F.col(doc_col) > int(did))))
    order = fcol.asc() if ascending else fcol.desc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(doc_col).asc())
    out = j.withColumn("rank", F.row_number().over(w))
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out.select("query_id", doc_col, field, "score", "rank")


def toptexts(scores: DataFrame, texts: DataFrame, n: int = 10) -> DataFrame:
    """utils.toptexts (gensim/utils.py:1553-1578): top-n result rows joined
    back to their document text."""
    return (
        scores.orderBy(F.abs(F.col("score")).desc(), F.col("doc_id").asc())
        .limit(n)
        .join(texts, "doc_id")
    )


def all_pairs_similarity(weighted_postings: DataFrame,
                         min_score: float = 0.0) -> DataFrame:
    """All-vs-all self-similarity (interfaces.py:355-398 ``__iter__``) as a
    self-join of postings on term_id. Emits (doc_a, doc_b, score), doc_a <
    doc_b (symmetric half). Shuffles on term_id; head terms are the skew
    hazard — pair with df-capped vocab (filter_extremes) at web scale."""
    a = weighted_postings.select(
        "term_id", F.col("doc_id").alias("doc_a"), F.col("weight").alias("w_a")
    )
    b = weighted_postings.select(
        "term_id", F.col("doc_id").alias("doc_b"), F.col("weight").alias("w_b")
    )
    pairs = (
        a.join(b, "term_id")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("score"))
    )
    if min_score > 0.0:
        pairs = pairs.filter(F.col("score") >= min_score)
    return pairs
