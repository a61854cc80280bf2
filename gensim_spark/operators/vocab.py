"""Vocabulary (gensim ``Dictionary``) as a DataFrame job.

Reference semantics (piskvorky/gensim, see SURVEY.md §1.4 / §2.3):

- ``Dictionary.add_documents``/``doc2bow(allow_update=True)``
  (gensim/corpora/dictionary.py:169-272): token ids are assigned per document
  in arrival order; within one document, *new* tokens are sorted
  lexicographically before sequential id assignment. Hence id order is exactly
  the total order ``(first_doc_id the token appears in, token)`` — a
  deterministic global sort that this module reproduces with a rank.
- ``dfs`` = number of documents containing the token, ``cfs`` = total
  occurrences, plus scalar stats ``num_docs/num_pos/num_nnz``
  (dictionary.py:258-265).
- ``filter_extremes`` (dictionary.py:308-379): keep ``no_below ≤ df ≤
  no_above·num_docs``, then top ``keep_n`` by (df desc, old id asc — Python's
  stable sort over id-ascending input), then ``compactify``: new ids = rank of
  old id ascending (dictionary.py:459-470).
- ``merge_with`` (dictionary.py:532-591): same token keeps this vocab's id,
  other-only tokens get fresh sequential ids in the other vocab's id order.
- ``HashDictionary`` (gensim/corpora/hashdictionary.py:119-140):
  ``id = adler32(token_utf8) % id_range`` — stateless, no vocab table at all.

Scale notes (10^12 docs): the token aggregation is a single hash-agg shuffle
keyed by token — web vocabularies are zipfian but partial (map-side) aggregation
flattens the head before the shuffle, so no explicit salting is needed here.
The rank over (first_doc, token) is vocab-sized (≪ corpus): one task ranks
the vocab with a global ``Window.orderBy``, as ``pipeline.build`` does.
"""

from __future__ import annotations

from zlib import adler32

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

VOCAB_COLS = ("token", "term_id", "df", "cf", "first_doc")


def tokens_long(docs: DataFrame, doc_col: str = "doc_id",
                tokens_col: str = "tokens", with_pos: bool = False) -> DataFrame:
    """docs(doc_id, tokens array<string>) → long form (doc_id[, pos], token)."""
    if with_pos:
        return docs.select(doc_col, F.posexplode(tokens_col).alias("pos", "token"))
    return docs.select(doc_col, F.explode(tokens_col).alias("token"))


def term_stats(tokens: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """One hash-agg pass: per-token (df, cf, first_doc).

    cf = count of positions, df = distinct docs, first_doc = min doc_id — all
    three come from a single groupBy(token) (countDistinct is planned as a
    two-phase partial agg by Catalyst; no extra job).
    """
    return tokens.groupBy("token").agg(
        F.count(F.lit(1)).alias("cf"),
        F.countDistinct(doc_col).alias("df"),
        F.min(doc_col).alias("first_doc"),
    )


def assign_term_ids(stats: DataFrame) -> DataFrame:
    """Attach gensim-deterministic ``term_id`` = dense 0-based rank over
    ``(first_doc, token)`` (§1.4: arrival order of first containing doc,
    then token). One task ranks the vocab with a global window; the order
    is total, so every id is the same across re-evaluations."""
    w = Window.orderBy("first_doc", "token")
    return stats.withColumn("term_id", F.row_number().over(w) - F.lit(1))


def build_vocab(docs: DataFrame, doc_col: str = "doc_id",
                tokens_col: str = "tokens") -> DataFrame:
    """docs → vocab(token, term_id, df, cf, first_doc), id-compatible with
    ``gensim.corpora.Dictionary(docs_in_doc_id_order)``. ``term_id`` is a
    long: hashed sketches (``lsi.sign_cols``) key on its type too, so an
    int id would draw a different Ω for the same term."""
    stats = term_stats(tokens_long(docs, doc_col, tokens_col), doc_col)
    return assign_term_ids(stats).select(
        "token", F.col("term_id").cast(LongType()).alias("term_id"),
        "df", "cf", "first_doc"
    )


def corpus_stats(docs: DataFrame, vocab: DataFrame | None = None,
                 doc_col: str = "doc_id", tokens_col: str = "tokens") -> dict:
    """Scalar stats matching Dictionary counters (dictionary.py:258-265):
    num_docs, num_pos (all token positions), num_nnz (distinct (doc,term) with
    the token in vocab — at build time every token is), num_terms."""
    toks = tokens_long(docs, doc_col, tokens_col)
    row = docs.select(
        F.count(F.lit(1)).alias("num_docs")
    ).collect()[0]
    agg = toks.agg(
        F.count(F.lit(1)).alias("num_pos"),
        F.countDistinct(doc_col, "token").alias("num_nnz"),
    ).collect()[0]
    out = {"num_docs": row["num_docs"], "num_pos": agg["num_pos"],
           "num_nnz": agg["num_nnz"]}
    if vocab is not None:
        out["num_terms"] = vocab.count()
    return out


# --- query-side lookup (doc2bow on a query) ----------------------------------

def term_ids(vocab: DataFrame, tokens) -> dict[str, int]:
    """token → term_id for the in-vocab members of ``tokens`` — the lookup
    half of ``dictionary.doc2bow`` (OOV tokens drop): one ``isin`` filter
    over the deduplicated tokens and one collect of query-sized rows; no
    tokens → ``{}`` without a job. A stored index resolves through
    ``serving.stored_term_ids`` instead, with no Spark job."""
    toks = sorted(set(tokens))
    if not toks:
        return {}
    rows = vocab.filter(F.col("token").isin(toks)).select(
        "token", "term_id").collect()
    return {r["token"]: int(r["term_id"]) for r in rows}


def resolve_clauses(tid: dict[str, int], clauses) -> list[list[int]]:
    """Token clauses → term-id clauses under Lucene's OOV rule for
    MultiPhrase / spanOr: an OOV alternative drops from its clause, each
    clause becomes its sorted distinct ids (an alternative set, the form
    ``positional._norm_clauses`` gives it), and ``[]`` — the query can
    never match — when there are no clauses or a whole clause empties. A
    bare word is the one-token clause."""
    out = [sorted({tid[t] for t in c if t in tid}) for c in clauses]
    return out if out and all(out) else []


# --- vocabulary maintenance --------------------------------------------------

def compactify(vocab: DataFrame) -> DataFrame:
    """Gap-free re-id preserving old-id order (dictionary.py:459-470)."""
    w = Window.orderBy("term_id")
    return vocab.withColumn("term_id", F.row_number().over(w) - F.lit(1))


def filter_extremes(vocab: DataFrame, num_docs: int, no_below: int = 5,
                    no_above: float = 0.5, keep_n: int | None = 100000,
                    keep_tokens: list[str] | None = None) -> DataFrame:
    """dictionary.py:308-379 + compactify. Keep df∈[no_below, no_above·N]
    (keep_tokens always survive and sort as if df=num_docs), take first keep_n
    by (df desc, old id asc), then re-id by old-id order."""
    no_above_abs = int(no_above * num_docs)
    if keep_tokens:
        keep = F.col("token").isin(list(keep_tokens))
        good = vocab.filter(
            ((F.col("df") >= no_below) & (F.col("df") <= no_above_abs)) | keep
        )
        sort_df = F.when(keep, F.lit(num_docs)).otherwise(F.col("df"))
    else:
        good = vocab.filter(
            (F.col("df") >= no_below) & (F.col("df") <= no_above_abs)
        )
        sort_df = F.col("df")
    if keep_n is not None:
        w = Window.orderBy(sort_df.desc(), F.col("term_id").asc())
        good = (
            good.withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") <= keep_n)
            .drop("_rank")
        )
    return compactify(good)


def filter_n_most_frequent(vocab: DataFrame, remove_n: int) -> DataFrame:
    """Drop top remove_n by (df desc, id asc), then compactify
    (dictionary.py:381-413)."""
    w = Window.orderBy(F.col("df").desc(), F.col("term_id").asc())
    return compactify(
        vocab.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") > remove_n)
        .drop("_rank")
    )


def filter_tokens(vocab: DataFrame, bad_tokens: list[str] | None = None,
                  good_tokens: list[str] | None = None) -> DataFrame:
    """Explicit keep/drop lists + compactify (dictionary.py:415-456)."""
    out = vocab
    if bad_tokens is not None:
        out = out.filter(~F.col("token").isin(list(bad_tokens)))
    if good_tokens is not None:
        out = out.filter(F.col("token").isin(list(good_tokens)))
    return compactify(out)


def most_common(vocab: DataFrame, n: int = 10) -> DataFrame:
    """Top-n tokens by collection frequency (dictionary.py:695-717); ties by
    id ascending. Plans as TakeOrderedAndProject — no full sort."""
    return (
        vocab.orderBy(F.col("cf").desc(), F.col("term_id").asc())
        .select("token", "cf")
        .limit(n)
    )


def merge_with(vocab: DataFrame, other: DataFrame) -> DataFrame:
    """Align two vocabularies (dictionary.py:532-591): shared tokens keep
    ``vocab``'s id; tokens only in ``other`` get fresh ids ``max(id)+1…`` in
    ``other``'s id order. df/cf are summed (gensim merges dfs/cfs likewise)."""
    base_n = vocab.count()
    joined = vocab.alias("a").join(other.alias("b"), "token", "full_outer")
    merged_common = joined.filter(F.col("a.term_id").isNotNull()).select(
        "token",
        F.col("a.term_id").alias("term_id"),
        (F.coalesce(F.col("a.df"), F.lit(0)) + F.coalesce(F.col("b.df"), F.lit(0))).alias("df"),
        (F.coalesce(F.col("a.cf"), F.lit(0)) + F.coalesce(F.col("b.cf"), F.lit(0))).alias("cf"),
        F.col("a.first_doc").alias("first_doc"),
    )
    fresh = (
        joined.filter(F.col("a.term_id").isNull())
        .select("token", F.col("b.term_id").alias("_bid"),
                F.col("b.df").alias("df"), F.col("b.cf").alias("cf"),
                F.col("b.first_doc").alias("first_doc"))
        .withColumn(
            "term_id",
            F.lit(base_n) + F.row_number().over(Window.orderBy("_bid")) - F.lit(1),
        )
        .select("token", "term_id", "df", "cf", "first_doc")
    )
    return merged_common.unionByName(fresh)


def effective_min_count(vocab: DataFrame, max_final_vocab: int,
                        min_count: int = 5) -> int:
    """Word2Vec's ``max_final_vocab`` → min_count resolution
    (word2vec.py:615-631 prepare_vocab): take the cf of the
    ``max_final_vocab``-th word by descending count (the first one that
    must NOT survive) + 1, clamped below by ``min_count``. One
    sort-limit job — never materializes the vocabulary on the driver."""
    row = (vocab.orderBy(F.col("cf").desc())
           .select("cf").offset(max_final_vocab).limit(1).collect())
    calc_min_count = int(row[0]["cf"]) + 1 if row else 1
    return max(calc_min_count, min_count)


def patch_with_special_tokens(vocab: DataFrame,
                              special: dict[str, int]) -> DataFrame:
    """Force specific tokens onto specific ids (dictionary.py:593-637):
    the displaced holders of those ids move to the special tokens' old ids
    (an id swap), new special tokens get the requested id outright.

    Relational: only rows mentioning a special token or holding a wanted id
    reach the driver (≤ 2·|special| rows) plus one max-id scalar — never the
    full vocab (at 10^7-10^8 terms that collect would be multi-GB). The swap
    is then applied as a broadcast left join of the (tiny) remap table."""
    wanted = [int(i) for i in special.values()]
    relevant = {
        r["token"]: r["term_id"]
        for r in vocab.filter(
            F.col("token").isin(list(special))
            | F.col("term_id").isin(wanted)
        ).select("token", "term_id").collect()
    }
    max_id = vocab.agg(F.max("term_id").alias("m")).collect()[0]["m"]
    next_fresh = (max_id if max_id is not None else -1) + 1
    id2tok = {v: k for k, v in relevant.items()}
    mapping = dict(relevant)
    for tok, want in special.items():
        old = mapping.get(tok)
        displaced = id2tok.get(want)
        mapping[tok] = want
        next_fresh = max(next_fresh, want + 1)
        if displaced is not None and displaced != tok:
            # displaced token takes the special token's old id (or is pushed
            # to a fresh id if the special token was new)
            if old is not None:
                mapping[displaced] = old
            else:
                mapping[displaced] = next_fresh
                next_fresh += 1
        id2tok = {v: k for k, v in mapping.items()}
    changed = {t: i for t, i in mapping.items()
               if relevant.get(t) != i}
    spark = vocab.sparkSession
    if not changed:
        return vocab
    map_df = spark.createDataFrame(
        list(changed.items()), "token string, new_id long"
    )
    patched = (
        vocab.join(F.broadcast(map_df), "token", "left")
        .select(
            "token",
            F.coalesce("new_id", "term_id").alias("term_id"),
            "df", "cf", "first_doc",
        )
    )
    brand_new = [(t, i) for t, i in changed.items() if t not in relevant]
    if brand_new:
        fresh = spark.createDataFrame(
            [(t, i, 0, 0, -1) for t, i in brand_new],
            "token string, term_id long, df long, cf long, first_doc long",
        )
        patched = patched.unionByName(fresh)
    return patched


# --- HashDictionary (stateless ids) ------------------------------------------

def hash_term_id_col(token_col, id_range: int = 32000):
    """JVM-side surrogate hash id (xxhash64 % range) — fully parallel, no vocab
    table, used for the scale path where gensim-id parity is not required."""
    return F.pmod(F.xxhash64(token_col), F.lit(id_range)).cast("long")


@F.pandas_udf(LongType())
def _adler32_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: adler32(t.encode("utf8")) & 0xFFFFFFFF)


def adler32_term_id_col(token_col, id_range: int = 32000):
    """Exact HashDictionary parity: ``adler32(utf8) % id_range``
    (gensim/corpora/hashdictionary.py:119-140) via an Arrow-batched UDF."""
    return F.pmod(_adler32_udf(token_col), F.lit(id_range)).cast("long")


def doc2idx(docs: DataFrame, vocab: DataFrame, doc_col: str = "doc_id",
            tokens_col: str = "tokens") -> DataFrame:
    """Positional token→id map, unknown→-1 (dictionary.py:274-306):
    docs → (doc_id, idx array<long> aligned with tokens)."""
    pos = tokens_long(docs, doc_col, tokens_col, with_pos=True)
    mapped = pos.join(F.broadcast(vocab.select("token", "term_id")), "token", "left")
    return (
        mapped.groupBy(doc_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term_id"))),
                lambda s: F.coalesce(s["term_id"], F.lit(-1)),
            ).alias("idx")
        )
    )
