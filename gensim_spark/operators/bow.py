"""doc2bow — bag-of-words postings as a DataFrame job.

Reference: ``Dictionary.doc2bow`` (gensim/corpora/dictionary.py:208-272) —
per-document term-frequency count, unknown tokens dropped, result sorted by
term id. The long ("postings") form (doc_id, term_id, tf) is the engine's
canonical IR: Matrix Market *is* this long form, and a CSR/CSC sparse matrix is
this table sorted by (doc_id, term_id) / (term_id, doc_id) (SURVEY.md §1.1).

Scale: one hash-agg on (doc_id, token) with map-side partial aggregation, then
a broadcast hash join against the vocab (vocab ≪ corpus; 10^7 terms ≈ 400 MB —
above that, Catalyst falls back to a sort-merge join automatically because we
only *hint* broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gensim_spark.operators.vocab import tokens_long

POSTINGS_COLS = ("doc_id", "term_id", "tf")


def doc2bow_postings(docs: DataFrame, vocab: DataFrame, doc_col: str = "doc_id",
                     tokens_col: str = "tokens") -> DataFrame:
    """docs(doc_id, tokens) ⋈ vocab → postings(doc_id, term_id, tf).

    Unknown tokens are dropped by the inner join (dictionary.py:256 dict probe
    ≙ broadcast hash join; SURVEY.md §2.6a).
    """
    counts = (
        tokens_long(docs, doc_col, tokens_col)
        .groupBy(doc_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return counts.join(F.broadcast(vocab.select("token", "term_id")),
                       "token").select(
        F.col(doc_col).alias("doc_id"), "term_id", "tf"
    )


def doc2bow_vectors(postings: DataFrame) -> DataFrame:
    """Postings → row-oriented BoW: (doc_id, bow array<struct<term_id,tf>>)
    sorted by term_id ascending (dictionary.py:268)."""
    return postings.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("term_id", "tf"))).alias("bow")
    )


def doclens(postings: DataFrame) -> DataFrame:
    """Per-document length = Σ tf of in-vocab tokens — matches the dl used by
    ``BM25ABC.__getitem__`` (gensim/models/bm25model.py:124: sum of bow freqs,
    i.e. *post-vocabulary-filter* positions)."""
    return postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))


def missing_tokens(docs: DataFrame, vocab: DataFrame, doc_col: str = "doc_id",
                   tokens_col: str = "tokens") -> DataFrame:
    """``doc2bow(return_missing=True)`` (dictionary.py:250,269-270) — tokens in
    docs but not in vocab, with per-doc frequencies. ≙ left **anti** join."""
    counts = (
        tokens_long(docs, doc_col, tokens_col)
        .groupBy(doc_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return counts.join(
        F.broadcast(vocab.select("token")), "token", "left_anti"
    ).select(F.col(doc_col).alias("doc_id"), "token", "tf")
