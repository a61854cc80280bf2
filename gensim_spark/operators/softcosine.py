"""Soft Cosine Measure — ``qᵀ·S·d`` with a sparse term-similarity matrix.

Reference semantics:
- ``SoftCosineSimilarity`` (gensim/similarities/docsim.py:883-1006):
  ``softcos(q,d) = qᵀSd / (√(qᵀSq) · √(dᵀSd))``, S a sparse term-similarity
  matrix with unit diagonal built from a ``TermSimilarityIndex``
  (gensim/similarities/termsim.py:31-629, SparseTermSimilarityMatrix:
  symmetric, per-term ``nonzero_limit`` cap on off-diagonal entries).
- Relational form (SURVEY.md §2.5): a two-hop join —
  postings ⋈ S on one side of the pair ⋈ query terms, grouped per doc.

Scale: S is vocab-sized and sparse (nonzero_limit ≈ 100 off-diagonals/term)
→ broadcastable far beyond 10^6 terms; both hops are broadcast hash joins,
so the per-query plan is scan → broadcast² → agg → top-k, same shape as BM25.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from gensim_spark.operators.topk import topk


def term_sim_matrix_from_fuzzy(spark: SparkSession, vocab: DataFrame,
                               max_distance: int = 1, alpha: float = 1.8,
                               beta: float = 5.0,
                               nonzero_limit: int = 100) -> DataFrame:
    """Build S (term_i, term_j, sim) from Levenshtein similarity over the
    vocabulary (the LevenshteinSimilarityIndex source), symmetric with unit
    diagonal; off-diagonals capped at ``nonzero_limit`` strongest per term."""
    from gensim_spark.operators.fuzzy import build_fastss_index

    idx = build_fastss_index(vocab, max_dist=max_distance)
    a = idx.withColumnRenamed("token", "token_i")
    b = idx.withColumnRenamed("token", "token_j")
    from gensim_spark.operators.fuzzy import edit_distance

    @F.pandas_udf(IntegerType())
    def dist_udf(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(
            [edit_distance(p, q, band=max_distance) for p, q in zip(x, y)]
        )

    pairs = (
        a.join(b, "variant")
        .select("token_i", "token_j")
        .filter(F.col("token_i") < F.col("token_j"))
        .distinct()
        .withColumn("distance", dist_udf("token_i", "token_j"))
        .filter(F.col("distance") <= max_distance)
    )
    max_len = F.greatest(F.length("token_i"), F.length("token_j"), F.lit(1))
    sim = (F.lit(alpha)
           * F.pow(F.lit(1.0) - F.col("distance") / max_len, F.lit(beta)))
    half = pairs.withColumn("sim", sim).select("token_i", "token_j", "sim")
    v = vocab.select("token", "term_id")
    ids = (
        half.join(v.withColumnRenamed("token", "token_i")
                  .withColumnRenamed("term_id", "term_i"), "token_i")
        .join(v.withColumnRenamed("token", "token_j")
              .withColumnRenamed("term_id", "term_j"), "token_j")
        .select("term_i", "term_j", "sim")
    )
    return _assemble_S(ids, v.select("term_id"), nonzero_limit,
                       dedupe=False)


def _assemble_S(ids: DataFrame, term_ids: DataFrame,
                nonzero_limit: int, dedupe: bool = True) -> DataFrame:
    """Shared SparseTermSimilarityMatrix assembly (termsim.py:380-520):
    symmetrize (max-merge duplicates), cap off-diagonals at
    ``nonzero_limit`` strongest per term, add the unit diagonal.

    Symmetry: the reference inserts an entry only when BOTH columns have
    budget left (termsim.py:471-505), so its S is always symmetric. The
    relational form enforces the same invariant by keeping an entry only
    if its mirror also survived the per-term cap — a hub term that caps
    out drops BOTH directions of its weakest pairs (the reference's
    greedy insertion picks a different, order-dependent subset of the
    same budget; both are symmetric with ≤ nonzero_limit off-diagonals
    per term, which is what ``inner_product``'s qᵀSd = dᵀSq needs).

    ``ids``: (term_i, term_j, sim) candidate entries (either direction);
    ``term_ids``: one-column DataFrame of every term id (diagonal);
    ``dedupe=False`` skips the max-merge shuffle when the caller already
    guarantees unique pairs (the fuzzy source's term_i < term_j pairs)."""
    id_col = term_ids.columns[0]
    sym = ids.unionByName(
        ids.select(F.col("term_j").alias("term_i"),
                   F.col("term_i").alias("term_j"), "sim")
    )
    if dedupe:
        sym = sym.groupBy("term_i", "term_j").agg(F.max("sim").alias("sim"))
    w = Window.partitionBy("term_i").orderBy(F.col("sim").desc(),
                                             F.col("term_j").asc())
    capped = (
        sym.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nonzero_limit)
        .drop("_r")
    )
    mutual = capped.join(
        capped.select(F.col("term_j").alias("term_i"),
                      F.col("term_i").alias("term_j")),
        ["term_i", "term_j"], "leftsemi")
    diag = term_ids.select(F.col(id_col).alias("term_i"),
                           F.col(id_col).alias("term_j"),
                           F.lit(1.0).alias("sim"))
    return mutual.unionByName(diag)


def term_sim_matrix_from_embeddings(embeddings: DataFrame,
                                    threshold: float = 0.0,
                                    exponent: float = 2.0, topn: int = 10,
                                    nonzero_limit: int = 100,
                                    method: str = "brute",
                                    id_col: str = "term_id",
                                    vec_col: str = "embedding",
                                    planes: int = 6) -> DataFrame:
    """Build S (term_i, term_j, sim) from word-embedding cosine — the
    ``WordEmbeddingSimilarityIndex`` source (gensim/similarities/
    termsim.py:102-163): per term, the ``topn`` most similar OTHER terms,
    keep sims strictly above ``threshold``, raise survivors to
    ``exponent``; assembled into the symmetric unit-diagonal matrix with
    the per-term ``nonzero_limit`` cap (SparseTermSimilarityMatrix
    semantics, shared with the Levenshtein source above).

    ``method="brute"``: exact per-term scan — the reference's own
    most_similar loop; O(V²) and it broadcasts the vocabulary as the
    query side, so it is the SMALL-vocab exact path (test oracle /
    ≤10^5 terms).
    ``method="lsh"``: sign-random-projection bucket SELF-join
    (:func:`simsearch.lsh_self_topk`) — neither side broadcast,
    candidates only within a bucket; the 100-TB vocabulary path."""
    from gensim_spark.operators.simsearch import (cosine_topk,
                                                  lsh_self_topk)

    if method == "brute":
        q = embeddings.select(F.col(id_col).alias("qid"),
                              F.col(vec_col).alias(vec_col))
        nb = cosine_topk(embeddings, q, k=topn + 1, id_col=id_col,
                         vec_col=vec_col, query_id_col="qid")
    elif method == "lsh":
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("cannot build a term-similarity matrix from "
                             "an empty embeddings table")
        nb = lsh_self_topk(embeddings, k=topn + 1, planes=planes,
                           dims=int(first["d"]), id_col=id_col,
                           vec_col=vec_col)
    else:
        raise ValueError("method must be 'brute' or 'lsh'")
    ids = (nb.filter(F.col("vec_id") != F.col("query_id"))
           .withColumn("_r2", F.row_number().over(
               Window.partitionBy("query_id")
               .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())))
           .filter((F.col("_r2") <= topn) &
                   (F.col("cosine") > threshold))
           .select(F.col("query_id").alias("term_i"),
                   F.col("vec_id").alias("term_j"),
                   F.pow("cosine", F.lit(exponent)).alias("sim")))
    return _assemble_S(ids, embeddings.select(id_col), nonzero_limit)


def inner_product(x: DataFrame, y: DataFrame, S: DataFrame,
                  x_id: str = "doc_id", y_id: str = "query_id") -> DataFrame:
    """⟨x, y⟩_S = Σ_ij x_i · S_ij · y_j per (x_id, y_id) pair.

    x: (x_id, term_id, weight); y: (y_id, term_id, weight). Two broadcast
    hops: x ⋈ S on term_id=term_i, then ⋈ y on term_j.
    """
    xs = (
        x.withColumnRenamed("term_id", "term_i")
        .join(F.broadcast(S), "term_i")
        .select(x_id, "term_j", (F.col("weight") * F.col("sim")).alias("_xs"))
    )
    yv = y.select(F.col(y_id), F.col("term_id").alias("term_j"),
                  F.col("weight").alias("_yw"))
    return (
        xs.join(F.broadcast(yv), "term_j")
        .groupBy(x_id, y_id)
        .agg(F.sum(F.col("_xs") * F.col("_yw")).alias("inner"))
    )


def self_norms(x: DataFrame, S: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """‖x‖_S = √(xᵀSx) per id — x ⋈ S then an equi-join back onto x keyed by
    (id, term_j): strictly linear in nnz(x)·avg-S-row, never pairwise."""
    xs = (
        x.withColumnRenamed("term_id", "term_i")
        .join(F.broadcast(S), "term_i")
        .select(id_col, "term_j", (F.col("weight") * F.col("sim")).alias("_xs"))
    )
    back = x.select(F.col(id_col), F.col("term_id").alias("term_j"),
                    F.col("weight").alias("_yw"))
    return (
        xs.join(back, [id_col, "term_j"])
        .groupBy(id_col)
        .agg(F.sqrt(F.sum(F.col("_xs") * F.col("_yw"))).alias("norm"))
    )


def soft_cosine_topk(weighted_postings: DataFrame, query_terms: DataFrame,
                     S: DataFrame, k: int = 10) -> DataFrame:
    """(query_id, doc_id, score, rank) by the Soft Cosine Measure.

    query_terms: (query_id, term_id, weight)."""
    q = query_terms
    qd = inner_product(weighted_postings, q, S)
    d_self = self_norms(weighted_postings, S).select(
        "doc_id", F.col("norm").alias("_dnorm")
    )
    q_self = self_norms(
        q.select("query_id", "term_id", "weight"), S, id_col="query_id"
    ).select("query_id", F.col("norm").alias("_qnorm"))
    scored = (
        qd.join(d_self, "doc_id")
        .join(F.broadcast(q_self), "query_id")
        .select(
            "query_id", "doc_id",
            F.when(
                (F.col("_dnorm") > 0) & (F.col("_qnorm") > 0),
                F.col("inner") / (F.col("_dnorm") * F.col("_qnorm")),
            ).otherwise(F.lit(0.0)).alias("score"),
        )
    )
    return topk(scored, k)
