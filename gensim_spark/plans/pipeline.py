"""The canonical build pipeline (SURVEY.md §3.1), composed from operators.

``pages (or documents) → tokenize → vocab → postings → doclen → BM25 stats →
weighted postings`` — each arrow a Catalyst plan; the driver-facing entry
points and bench call these.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensim_spark.functions import textprep
from gensim_spark.operators import bm25 as M
from gensim_spark.operators import topk as T
from gensim_spark.operators import vocab as V


@dataclass
class IndexedCorpus:
    docs: DataFrame | None  # (doc_id, tokens); None when built from counts
    vocab: DataFrame      # (token, term_id, df, cf, first_doc)
    postings: DataFrame   # (doc_id, term_id, tf)
    doclen: DataFrame     # (doc_id, dl)
    num_docs: int
    stats: M.BM25Stats | None = None
    weighted: DataFrame | None = None  # (doc_id, term_id, weight)


def tokenize(docs: DataFrame, text_col: str = "text", doc_col: str = "doc_id",
             ascii_fast_path: bool = False) -> DataFrame:
    """(doc_id, tokens) via simple_preprocess semantics. ascii_fast_path stays
    JVM-side (exact on ASCII corpora; the parity default is the Arrow UDF)."""
    return textprep.tokenize_pages(
        docs, text_col=text_col, ascii_fast_path=ascii_fast_path
    ).select(F.col(doc_col).alias("doc_id"), "tokens")


def build(tokenized: DataFrame, variant: str = M.OKAPI, k1: float = 1.5,
          b: float = 0.75, epsilon: float = 0.25, num_docs: int | None = None,
          cache: bool = True) -> IndexedCorpus:
    """tokenized (doc_id, tokens) → fully weighted index (dictionary fit path).

    Single-pass shape: the token stream is exploded and counted ONCE
    (shuffle 1, with map-side partial agg); the vocabulary is derived from the
    much smaller counts table (shuffle 2, vocab-sized); postings = counts ⋈
    broadcast(vocab) (no shuffle); doclen is a window over the postings'
    doc_id partitioning (shuffle 3); idf broadcasts onto that (no shuffle).
    Three shuffles total, each strictly smaller than the last — this shape is
    what holds at 10^12 docs (the counts cache becomes a checkpoint table in
    the sharded index build, gensim_spark.index).

    The term-id rank runs as a plain window — one task sorting the
    *vocabulary* (≪ corpus; fine up to ~10^7 terms).

    ``cache=True`` (default) persists the (doc,term,tf) counts and the vocab:
    the counts feed three downstream consumers (vocab agg, postings, stats),
    and the vocab feeds every scoring plan — without the cache the full
    token explode recomputes per consumer.
    """
    if num_docs is None:
        num_docs = tokenized.count()
    if cache:
        # persist the tokenized frame too: IndexedCorpus.docs feeds every
        # token-consuming query path (dedup, curation, positional, BPE,
        # snippets, WMD) and without this each of them re-runs the tokenize
        # projection from the raw text per action. The cache materializes
        # as a side effect of the counts materialization below (counts read
        # tokens), costs one in-memory copy of the token arrays, and is
        # LRU-evictable under memory pressure like any persist.
        tokenized = tokenized.persist()
    # row-local doc2bow: (doc_id, token, tf, dl) with no shuffle — a
    # per-doc Counter fused into an Arrow batch stage
    from gensim_spark.functions.textprep import bow_counts_udf

    counts = tokenized.select(
        "doc_id",
        F.size("tokens").cast("long").alias("dl"),
        F.explode(bow_counts_udf("tokens")).alias("e"),
    ).select("doc_id", F.col("e.token").alias("token"),
             F.col("e.tf").alias("tf"), "dl")
    return index_from_counts(counts, num_docs, variant=variant, k1=k1, b=b,
                             epsilon=epsilon, cache=cache, docs=tokenized)


def build_from_pages(pages: DataFrame, variant: str = M.OKAPI, k1: float = 1.5,
                     b: float = 0.75, epsilon: float = 0.25,
                     num_docs: int | None = None,
                     cache: bool = True) -> IndexedCorpus:
    """The north-rule front door: pages(doc_id, html, …) → index, with the
    whole text layer fused into one mapInPandas stage (textprep
    .extract_tokenize_bow)."""
    from gensim_spark.functions.textprep import extract_tokenize_bow

    if num_docs is None:
        num_docs = pages.count()
    counts = extract_tokenize_bow(pages)
    return index_from_counts(counts, num_docs, variant=variant, k1=k1, b=b,
                             epsilon=epsilon, cache=cache)


def index_from_counts(counts: DataFrame, num_docs: int,
                      variant: str = M.OKAPI, k1: float = 1.5, b: float = 0.75,
                      epsilon: float = 0.25, cache: bool = True,
                      docs: DataFrame | None = None) -> IndexedCorpus:
    """counts(doc_id, token, tf, dl) → index. The ONLY exchange here is the
    vocabulary aggregation (vocab-sized output, map-side partial agg);
    postings/weights are broadcast joins + projections over counts."""
    if cache:
        # size the cached counts by DATA VOLUME, not by the upstream task
        # count: counts rows ≈ num_docs × distinct-terms/doc (~40 B/row), so
        # ~25k docs/partition ≈ the guide's advisory partition size. Every
        # light downstream pass (per-query weighted scans, vocab agg, LSI/LDA
        # map sides) then launches a handful of tasks instead of one per
        # upstream tokenize split — measured at sf1.0: query rows ran ~2x
        # slower from a 32-wide cache than from a volume-sized one, pure
        # per-task floor. Narrowing only (a big corpus keeps its natural
        # width — this is not a local-core-count constant), via ROUND-ROBIN
        # repartition: a keyed repartition (hash on doc_id) would satisfy
        # every downstream doc-keyed ClusteredDistribution and silently pin
        # corpus_bow / positional / score aggregations to this narrow width
        # (measured: the LDA E-step collapsed to 2 tasks, 8.8 s → 77 s);
        # round-robin keeps the cache narrow for cheap scans while every
        # aggregation still exchanges to its AQE-sized width.
        # floor at min(8, defaultParallelism): a corpus-wide partial
        # aggregation reading the cache (e.g. a 32-query scoring batch)
        # should not be bound to 1-2 map tasks even when the volume rule
        # says so — measured: the batch32 row lost 0.9 s at width 2 and
        # the single-query rows lost 0.6 s at width 32; 8 carries both.
        sc = counts.sparkSession.sparkContext
        target = max(1, min(8, sc.defaultParallelism),
                     (int(num_docs) + 24_999) // 25_000)
        try:
            cur = counts.rdd.getNumPartitions()
        except Exception:
            cur = None
        if cur is not None and target < cur:
            counts = counts.repartition(target)
        # materialize NOW: every downstream consumer (vocab agg, postings,
        # stats) then reads the cache; without the explicit action the first
        # consumer to run — historically the zipWithIndex rank, whose two
        # internal jobs bypass un-materialized DataFrame caches — re-executes
        # the whole text pipeline per job.
        counts = counts.persist()
        counts.count()
    term_stats = counts.groupBy("token").agg(
        F.sum("tf").alias("cf"),
        F.count(F.lit(1)).alias("df"),
        F.min("doc_id").alias("first_doc"),
    )
    vocab = V.assign_term_ids(term_stats).select(
        "token", "term_id", "df", "cf", "first_doc"
    ).cache()
    postings = counts.join(
        F.broadcast(vocab.select("token", "term_id")), "token"
    ).select("doc_id", "term_id", "tf")
    stats = M.fit_from_vocab(vocab, num_docs, variant=variant, k1=k1, b=b,
                             epsilon=epsilon)
    with_dl = counts.join(
        F.broadcast(vocab.select("token", "term_id")), "token"
    ).select("doc_id", "term_id", "tf", "dl")
    weighted = M.weight_postings(with_dl, stats, dl="inline")
    # groupBy+first, not select+distinct: same single exchange, but the
    # map-side partial agg collapses the postings-sized projection to ~one
    # row per doc per task BEFORE the wire (VERDICT r4: distinct shuffles
    # the full (doc,term)-sized frame to emit a doc-sized one)
    dl = counts.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    if cache:
        # doclen joins into every positional/phrase scoring plan; without
        # the cache each query re-runs the doc-sized aggregation off the
        # counts cache (~0.25 s/query measured at sf1.0). Lazy — the first
        # consumer materializes it; doc-sized, LRU-evictable.
        dl = dl.cache()
    return IndexedCorpus(docs=docs, vocab=vocab, postings=postings,
                         doclen=dl, num_docs=num_docs, stats=stats,
                         weighted=weighted)


def query_terms(spark, vocab: DataFrame,
                queries: dict[int, str]) -> DataFrame:
    """Text queries → binary ('bnn') (query_id, term_id, q_weight) rows:
    tokenized driver-side by the same reference functions the distributed
    UDFs wrap (byte-identical by construction), resolved by
    ``vocab.term_ids`` — one ``isin`` filter and one collect of
    query-sized rows; OOV tokens drop."""
    from gensim_spark.functions import textref

    tokens = {qid: textref.simple_preprocess(text)
              for qid, text in queries.items()}
    tid = V.term_ids(vocab, [t for ts in tokens.values() for t in ts])
    return T.query_terms_df(
        spark, {qid: [tid[t] for t in ts if t in tid]
                for qid, ts in tokens.items()})


def query_text(spark, index: IndexedCorpus, queries: dict[int, str],
               k: int = 10, ascii_fast_path: bool = False) -> DataFrame:
    """Text queries → :func:`query_terms` → top-k (docsim.py:1149 query
    model): the scoring plan is a single broadcast join + hash agg + rank
    (3 stages), not a per-query mini-pipeline. ``ascii_fast_path`` is
    accepted for the callers that pass it (``bench.py``,
    ``__spark_entry__.py``) and has no effect: queries tokenize
    driver-side, where there is no JVM fast path."""
    return T.search(index.weighted, query_terms(spark, index.vocab, queries),
                    k=k)
