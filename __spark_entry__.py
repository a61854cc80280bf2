"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship BM25 pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline operators); ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for each. Column names, types and float
rounding are aligned on both sides; every hash-derived operator uses the
cross-engine ``hash60`` (md5-based) so results match bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- fixed reference query set (tokens drawn from the synthetic corpus) ------

QUERY_SET = {
    0: "spark query join filter",
    1: "hash merge sort",
    2: "stream window agg nosuchtoken",
}
TOPK_K = 10
BATCH_K = 5

_FE = dict(no_below=2, no_above=0.6, keep_n=20)   # filter_extremes params
_MINHASH = dict(num_hashes=4, shingle_n=3)
_BANDS = dict(bands=2, rows_per_band=2)
_SIMHASH_BITS = 16
_RP_K = 16                                         # rp_topics num_topics
_PHRASE_MIN_COUNT = 2
_KNN_QUERIES = 3          # embeddings vec_id < 3 used as queries
_KNN_K = 5
_LSH_PLANES = 4
_EMB_DIMS = 64
_TERMSIM_TOPN = 5       # neighbours per term in the termsim build
_TERMSIM_CAP = 3        # nonzero_limit (binding, to exercise the mutual cap)
_IVF_CELLS = 8
_IVF_PROBE = 3
_NEAR_DUP_T = 0.35  # synthetic embeddings max pairwise cosine ~0.51


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gensim_spark.plans import pipeline as P

    # ASCII fast path: JVM-side tokenizer, exact on this corpus and identical
    # to the oracle's regex; the unicode-parity path is the Arrow UDF (tested
    # against the reference semantics in tests/).
    return P.tokenize(_docs(spark, sf_dir), ascii_fast_path=True)


_INDEX_MEMO: dict = {}
# written Iceberg postings store per (session, sf_dir) — rebuilding the
# store (and leaking its tempdir) on every query invocation is avoidable
_ICE_STORE_MEMO: dict = {}
# packed WAND shard store per (session, sf_dir) — serving-path entry
_PACKED_STORE_MEMO: dict = {}


def _index(spark: SparkSession, sf_dir: str, variant: str = "okapi"):
    """Memoized per (session, sf_dir, variant): the driver runs ~35 entries
    in one session and each would otherwise rebuild the same cached index."""
    from gensim_spark.plans import pipeline as P

    key = (id(spark), sf_dir, variant)
    if key not in _INDEX_MEMO:
        _INDEX_MEMO[key] = P.build(_tokenized(spark, sf_dir), variant=variant)
    return _INDEX_MEMO[key]


# --- persisted-artifact oracles -----------------------------------------------
# Trained models (w2v / fasttext vectors, the translation W, the LSI u) are
# not SQL-expressible, but their RETRIEVAL queries are. Each such entry
# persists its trained artifact as parquet under _ART_DIR (keyed by the sf
# basename) and the DuckDB oracle reads the same parquet and re-runs the
# retrieval relationally — the pattern already proven by ann_ivf /
# kv_most_similar / poincare_knn. The driver's correctness gate runs the
# Spark entry before its oracle at sf0.01, so the artifact exists by the
# time DuckDB reads it; the oracle SQL strings are built for that sf key.
_ART_DIR = "/tmp/spark_graft_artifacts"
_ORACLE_SF = "sf0.01"


def _art_path(sf_dir: str, name: str) -> str:
    import os

    return f"{_ART_DIR}/{os.path.basename(sf_dir.rstrip('/'))}/{name}"


def _persist_artifact(df: DataFrame, sf_dir: str, name: str) -> str:
    path = _art_path(sf_dir, name)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 Okapi top-10 for the reference query set on sf0.001."""
    from gensim_spark.plans import pipeline as P

    idx = _index(spark, "/root/testdata/sf0.001")
    return P.query_text(spark, idx, QUERY_SET, k=TOPK_K, ascii_fast_path=True)


# --- Spark-side queries ------------------------------------------------------

def _q_tokens_count(spark, sf_dir):
    return _tokenized(spark, sf_dir).select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    )


def _q_vocab(spark, sf_dir):
    return _index(spark, sf_dir).vocab.select(
        "token", "term_id", "df", "cf", "first_doc"
    )


def _q_vocab_filter_extremes(spark, sf_dir):
    from gensim_spark.operators import vocab as V

    idx = _index(spark, sf_dir)
    return V.filter_extremes(idx.vocab, idx.num_docs, **_FE).select(
        "token", "term_id", "df", "cf"
    )


def _q_most_common(spark, sf_dir):
    from gensim_spark.operators import vocab as V

    return V.most_common(_index(spark, sf_dir).vocab, 20)


def _q_doc2bow(spark, sf_dir):
    return _index(spark, sf_dir).postings


def _q_doclen(spark, sf_dir):
    return _index(spark, sf_dir).doclen


def _bm25_weights(spark, sf_dir, variant):
    idx = _index(spark, sf_dir, variant=variant)
    return idx.weighted.select(
        "doc_id", "term_id", F.round("weight", 6).alias("weight")
    )


def _q_bm25_topk(spark, sf_dir):
    from gensim_spark.plans import pipeline as P

    idx = _index(spark, sf_dir)
    out = P.query_text(spark, idx, {0: QUERY_SET[0]}, k=TOPK_K,
                       ascii_fast_path=True)
    return out.select("query_id", "doc_id", F.round("score", 6).alias("score"),
                      "rank")


def _q_bm25_topk_iceberg(spark, sf_dir):
    """Same top-k as bm25_topk, served from the Iceberg-semantics bucketed
    postings table: snapshot commit + manifest-planned scan (bucket
    partition pruning + term_id min/max file skipping) instead of a raw
    parquet directory. Oracle: identical to bm25_topk."""
    import tempfile

    from gensim_spark.functions import textref
    from gensim_spark.index import layout
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    key = (id(spark), sf_dir)
    if key not in _ICE_STORE_MEMO:
        loc = tempfile.mkdtemp(prefix="gs_ice_postings_") + "/postings"
        layout.write_postings_bucketed_iceberg(
            idx.weighted, loc, n_buckets=16,
            dfs=idx.vocab.select("term_id", "df"), salt_threshold=10**9,
        )
        _ICE_STORE_MEMO[key] = loc
    loc = _ICE_STORE_MEMO[key]
    tokens = sorted(set(textref.simple_preprocess(QUERY_SET[0])))
    tid = {
        r["token"]: r["term_id"]
        for r in idx.vocab.filter(F.col("token").isin(tokens)).collect()
    }
    tids = sorted(int(t) for t in tid.values())
    pruned = layout.read_postings_bucketed_iceberg(spark, loc, term_ids=tids)
    out = T.search(pruned.select("doc_id", "term_id", "weight"),
                   T.query_terms_df(spark, {0: tids}), k=TOPK_K)
    return out.select("query_id", "doc_id", F.round("score", 6).alias("score"),
                      "rank")


def _q_bm25_topk_served(spark, sf_dir):
    """Same top-k as bm25_topk, answered by the in-process serving path:
    ``serving.PackedIndexServer`` pyarrow-scans the packed WAND shard store
    (term-pruned via row-group stats) and runs the block-max kernel with no
    Spark job per query — the query-node deployment of the index. Scores
    pass through the store's float32 weight storage (docsim.py:1183), which
    the oracle mirrors with a REAL cast before the float64 sum."""
    import tempfile

    from gensim_spark.functions import textref
    from gensim_spark.index import layout, serving

    idx = _index(spark, sf_dir)
    key = (id(spark), sf_dir)
    if key not in _PACKED_STORE_MEMO:
        loc = tempfile.mkdtemp(prefix="gs_packed_store_") + "/index"
        layout.write_packed_shards(idx.weighted, loc, docs_per_shard=1024,
                                   num_groups=2, resume=False)
        _PACKED_STORE_MEMO[key] = loc
    tokens = sorted(set(textref.simple_preprocess(QUERY_SET[0])))
    tids = sorted(
        int(r["term_id"])
        for r in idx.vocab.filter(F.col("token").isin(tokens)).collect()
    )
    srv = serving.PackedIndexServer(_PACKED_STORE_MEMO[key], preload=True)
    rows = srv.topk({0: {t: 1.0 for t in tids}}, k=TOPK_K)
    out = spark.createDataFrame(
        rows, "query_id int, doc_id long, score double, rank int")
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


def _q_bm25_topk_batch(spark, sf_dir):
    from gensim_spark.plans import pipeline as P

    idx = _index(spark, sf_dir)
    out = P.query_text(spark, idx, QUERY_SET, k=BATCH_K, ascii_fast_path=True)
    return out.select("query_id", "doc_id", F.round("score", 6).alias("score"),
                      "rank")


def _q_tfidf_nfc(spark, sf_dir):
    from gensim_spark.operators import tfidf as TF

    idx = _index(spark, sf_dir)
    out = TF.tfidf_postings(idx.postings, idx.vocab.select("term_id", "df"),
                            idx.num_docs, smartirs="nfc")
    return out.select("doc_id", "term_id", F.round("weight", 6).alias("weight"))


def _q_tfidf_lfc(spark, sf_dir):
    from gensim_spark.operators import tfidf as TF

    idx = _index(spark, sf_dir)
    out = TF.tfidf_postings(idx.postings, idx.vocab.select("term_id", "df"),
                            idx.num_docs, smartirs="lfc")
    return out.select("doc_id", "term_id", F.round("weight", 6).alias("weight"))


def _q_tfidf_bnn(spark, sf_dir):
    """The BM25 query-weighting scheme (binary tf, no idf, no norm —
    docsim.py:1149). Terms survive because 'n' global weight is 1.0."""
    from gensim_spark.operators import tfidf as TF

    idx = _index(spark, sf_dir)
    out = TF.tfidf_postings(idx.postings, idx.vocab.select("term_id", "df"),
                            idx.num_docs, smartirs="bnn")
    return out.select("doc_id", "term_id", F.round("weight", 6).alias("weight"))


def _q_logentropy(spark, sf_dir):
    from gensim_spark.operators import tfidf as TF

    idx = _index(spark, sf_dir)
    out = TF.log_entropy_postings(idx.postings)
    return out.select("doc_id", "term_id", F.round("weight", 6).alias("weight"))


def _q_phrases(spark, sf_dir):
    from gensim_spark.operators import phrases as PH

    out = PH.scored_bigrams(_tokenized(spark, sf_dir),
                            min_count=_PHRASE_MIN_COUNT)
    return out.select("word_a", "word_b", "bigram_count",
                      F.round("score", 6).alias("score"))


def _q_phrases_connector(spark, sf_dir):
    """Connector-words bridging: candidate spans may cross articles /
    prepositions / conjunctions (phrases.py:81-87,589-600)."""
    from gensim_spark.operators import phrases as PH

    out = PH.scored_bigrams(_tokenized(spark, sf_dir),
                            min_count=_PHRASE_MIN_COUNT,
                            connector_words=PH.ENGLISH_CONNECTOR_WORDS)
    return out.select("word_a", "word_b", "phrase", "bigram_count",
                      F.round("score", 6).alias("score"))


def _q_phrases_npmi_conn(spark, sf_dir):
    """NPMI scoring (phrases.py:126-170) with connector bridging — probs
    over corpus_word_count INCLUDING connector tokens (phrases.py:600)."""
    from gensim_spark.operators import phrases as PH

    out = PH.scored_bigrams(_tokenized(spark, sf_dir),
                            min_count=_PHRASE_MIN_COUNT, scoring="npmi",
                            connector_words=PH.ENGLISH_CONNECTOR_WORDS)
    return out.select("word_a", "word_b", "phrase", "bigram_count",
                      F.round("score", 6).alias("score"))


def _q_tfidf_nfu_pivot(spark, sf_dir):
    """Pivoted unique-norm SMART 'nfu' with the reference auto-pivot
    (num_nnz/num_docs) and slope 0.25 (tfidfmodel.py:262,402,519-523)."""
    from gensim_spark.operators import tfidf as TF

    idx = _index(spark, sf_dir)
    nnz = idx.postings.count()
    pivot = TF.auto_pivot_u(nnz, idx.num_docs)
    out = TF.tfidf_postings(idx.postings, idx.vocab.select("term_id", "df"),
                            idx.num_docs, smartirs="nfu", pivot=pivot)
    return out.select("doc_id", "term_id", F.round("weight", 6).alias("weight"))


def _q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total"),
    )


def _q_dedup_exact(spark, sf_dir):
    from gensim_spark.operators import dedup as D

    return D.exact_dup_groups(_docs(spark, sf_dir))


def _q_minhash_signatures(spark, sf_dir):
    from gensim_spark.operators import dedup as D

    return D.minhash_signatures(_tokenized(spark, sf_dir), **_MINHASH)


def _q_minhash_pairs(spark, sf_dir):
    from gensim_spark.operators import dedup as D

    sigs = D.minhash_signatures(_tokenized(spark, sf_dir), **_MINHASH)
    return D.minhash_band_pairs(sigs, **_BANDS)


def _q_ngram_jaccard(spark, sf_dir):
    from gensim_spark.operators import dedup as D

    tok = _tokenized(spark, sf_dir)
    sigs = D.minhash_signatures(tok, **_MINHASH)
    pairs = D.minhash_band_pairs(sigs, **_BANDS)
    out = D.ngram_jaccard(tok, pairs, shingle_n=_MINHASH["shingle_n"])
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def _q_simhash(spark, sf_dir):
    from gensim_spark.operators import dedup as D

    return D.simhash(_tokenized(spark, sf_dir), bits=_SIMHASH_BITS)


def _q_dedup_clusters(spark, sf_dir):
    """Full near-dup pipeline: MinHash → LSH pairs → connected components
    → every doc labeled with its cluster's canonical min doc_id + a keep
    flag. Connected components finishes on the driver (numpy union-find,
    returned as a local frame that the doc join broadcasts) while the pair
    edges fit under ``spark.sql.autoBroadcastJoinThreshold``, and runs
    large-star/small-star rounds above it (or with the threshold at -1).
    Oracle: recursive-CTE min-label reachability."""
    from gensim_spark.operators import dedup as D

    tok = _tokenized(spark, sf_dir)
    sigs = D.minhash_signatures(tok, **_MINHASH)
    pairs = D.minhash_band_pairs(sigs, **_BANDS)
    return D.dedup_clusters(_docs(spark, sf_dir).select("doc_id"), pairs)


def _q_rp_topics(spark, sf_dir):
    """Random-projection doc vectors (rpmodel.py:50-155): hash-derived ±1
    Achlioptas matrix as a pure relational expression — DuckDB replicates
    the exact same signs, so the full matmul is hash-checkable."""
    from gensim_spark.operators import rp as RP

    out = RP.rp_topics(_index(spark, sf_dir).postings, num_topics=_RP_K)
    return out.select("doc_id", F.col("topic_id").cast("long").alias("topic_id"),
                      F.round("weight", 6).alias("weight"))


def _q_quality(spark, sf_dir):
    from gensim_spark.operators import textstats as TS

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tok = _tokenized(spark, sf_dir)
    joined = docs.join(tok, "doc_id")
    return TS.quality_stats(joined)


def _q_repetition(spark, sf_dir):
    """Gopher-style within-doc repetition filters (dup lines/paragraphs,
    top-2-gram and duplicate-5-gram token fractions) — oracle recomputes the
    n-gram counts relationally (unnest + GROUP BY) vs the operator's
    Arrow-batched linear Counter, an independent implementation."""
    from gensim_spark.operators import textstats as TS

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tok = _tokenized(spark, sf_dir)
    return TS.repetition_stats(docs.join(tok, "doc_id"))


def _q_lang_id(spark, sf_dir):
    from gensim_spark.operators import textstats as TS

    return TS.lang_id(_tokenized(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    from gensim_spark.operators import textstats as TS

    return TS.fingerprint(_tokenized(spark, sf_dir))


def _q_knn_cosine(spark, sf_dir):
    from gensim_spark.operators import simsearch as S

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.cosine_topk(emb, q, k=_KNN_K)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                      "rank")


def _q_ann_lsh(spark, sf_dir):
    from gensim_spark.operators import simsearch as S

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.lsh_topk(emb, q, k=_KNN_K, planes=_LSH_PLANES, dims=_EMB_DIMS)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                      "rank")


def _q_ann_ivf(spark, sf_dir):
    """IVF approximate top-k with the deterministic hash-seeded coarse
    quantizer (simsearch.ivf_topk_det): seeds = the n_cells vectors with the
    smallest hash60(vec_id), cells/probes by argmax cosine — fully
    relational, so DuckDB replicates the whole path and the driver gets a
    rows+schema+hash check. The trained-KMeans variant (ivf_topk) remains
    the quality-tuned option, pytest-verified."""
    from gensim_spark.operators import simsearch as S

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.ivf_topk_det(emb, q, k=_KNN_K, n_cells=_IVF_CELLS,
                         n_probe=_IVF_PROBE)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"),
                      "rank")


def _q_termsim_embeddings(spark, sf_dir):
    """Vocabulary-wide term-similarity matrix from embedding cosine — the
    WordEmbeddingSimilarityIndex -> SparseTermSimilarityMatrix build
    (reference termsim.py:102-163, 380-520) on the no-broadcast LSH
    bucket-SELF-join scale path (simsearch.lsh_self_topk): per term its
    topn strongest same-bucket neighbours, threshold/exponent, symmetric
    mutual-survivor nonzero_limit cap, unit diagonal. Every stage (hash60
    planes, bucket fold, top-k windows, mutual semi-join) is relational,
    so the DuckDB oracle re-runs the whole build."""
    from gensim_spark.operators.softcosine import (
        term_sim_matrix_from_embeddings)

    emb = _emb(spark, sf_dir)
    S = term_sim_matrix_from_embeddings(
        emb, threshold=0.0, exponent=2.0, topn=_TERMSIM_TOPN,
        nonzero_limit=_TERMSIM_CAP, method="lsh", planes=_LSH_PLANES,
        id_col="vec_id")
    return S.select("term_i", "term_j", F.round("sim", 6).alias("sim"))


def _q_embedding_near_dups(spark, sf_dir):
    """LSH-bucketed near-dup path (no cartesian product in the plan); the
    brute-force variant survives only as the pytest oracle."""
    from gensim_spark.operators import dedup as D

    out = D.embedding_near_dups_lsh(
        _emb(spark, sf_dir), threshold=_NEAR_DUP_T,
        planes=_LSH_PLANES, dims=_EMB_DIMS,
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


_FUZZY_QUERIES = ["spark", "querz", "window"]  # exact, typo, typo
_FUZZY_TOPN = 5
_FUZZY_MAXDIST = 2


def _q_fuzzy_terms(spark, sf_dir):
    from gensim_spark.operators import fuzzy as FZ

    idx = _index(spark, sf_dir)
    fastss = FZ.build_fastss_index(idx.vocab, max_dist=_FUZZY_MAXDIST)
    out = FZ.most_similar_terms(spark, fastss, _FUZZY_QUERIES,
                                topn=_FUZZY_TOPN, max_distance=_FUZZY_MAXDIST)
    return out.select("query", "token", "distance",
                      F.round("similarity", 6).alias("similarity"), "rank")


def _q_soft_cosine(spark, sf_dir):
    from gensim_spark.operators import softcosine as SC

    idx = _index(spark, sf_dir)
    postings = idx.postings.select(
        "doc_id", "term_id", F.col("tf").cast("double").alias("weight")
    )
    S = idx.vocab.select(
        F.col("term_id").alias("term_i"), F.col("term_id").alias("term_j"),
        F.lit(1.0).alias("sim"),
    )
    qtok = ["spark", "query", "join"]
    tid = {r["token"]: r["term_id"] for r in
           idx.vocab.filter(F.col("token").isin(qtok)).collect()}
    q = spark.createDataFrame(
        [(0, int(t), 1.0) for t in sorted(tid.values())],
        "query_id int, term_id long, weight double",
    )
    out = SC.soft_cosine_topk(postings, q, S, k=10)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_WMD_DIM = 4      # hash-vector dims (kept small so the oracle SQL stays sane)
_WMD_K = 20
_WMD_EXACT_K = 10


def _wmd_nbows(spark, sf_dir, queries_):
    from gensim_spark.functions import textref
    from gensim_spark.operators import wmd as WM

    rows = _tokenized(spark, sf_dir).select(
        "doc_id", F.explode("tokens").alias("token"))
    doc_nbow = WM.nbow(rows, dim=_WMD_DIM)
    q_rows = spark.createDataFrame(
        [(qid, t) for qid, q in queries_.items()
         for t in textref.simple_preprocess(q)],
        "query_id int, token string")
    q_nbow = WM.nbow(q_rows, id_col="query_id", dim=_WMD_DIM)
    return doc_nbow, q_nbow


def _q_wmd_rwmd(spark, sf_dir):
    """Relaxed WMD (Kusner lower bound) top-k — the relational scale path
    the exact WMD prunes with; hash word-vectors make it oracle-exact."""
    from pyspark.sql import Window

    from gensim_spark.operators import wmd as WM

    doc_nbow, q_nbow = _wmd_nbows(spark, sf_dir, QUERY_SET)
    w = Window.partitionBy("query_id").orderBy(
        F.col("rwmd").asc(), F.col("doc_id").asc())
    return (WM.rwmd(doc_nbow, q_nbow, dim=_WMD_DIM)
            .withColumn("rwmd", F.round("rwmd", 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _WMD_K)
            .select("query_id", "doc_id", "rwmd", "rank"))


def _q_wmd_topk(spark, sf_dir):
    """Exact WMD top-k (prefetch-and-prune; one transportation LP per
    surviving candidate). The LP itself is not SQL-expressible (pinned by
    tests/test_wmd.py against brute-force LP-vertex enumeration), so the
    entry persists the pruned survivors with their exact LP distances as
    a parquet artifact and DuckDB re-runs the retrieval tail — the rank
    window, k-cut, and doc-asc tie-break — over it (the lda_doc_topics /
    lsi_topics persisted-artifact pattern)."""
    from gensim_spark.operators import wmd as WM

    doc_nbow, q_nbow = _wmd_nbows(spark, sf_dir, {0: QUERY_SET[0]})
    cands = WM.wmd_exact_candidates(doc_nbow, q_nbow, k=_WMD_EXACT_K,
                                    dim=_WMD_DIM)
    cands = cands.select("query_id", "doc_id",
                         F.round("wmd", 6).alias("wmd"))
    _persist_artifact(cands, sf_dir, "wmd_exact")
    out = WM.wmd_rank_candidates(
        spark.read.parquet(_art_path(sf_dir, "wmd_exact")), k=_WMD_EXACT_K)
    return out.select("query_id", "doc_id", "wmd", "rank")


_LSI_K = 4


def _q_lsi_topics(spark, sf_dir):
    """LSI doc-topic projection (distributed randomized SVD). The SVD fit is
    iterative linear algebra with no SQL analogue (numpy-exactness pinned by
    tests/test_lsi.py), but the projection uᵀ·x IS relational: the fitted u
    is persisted as a parquet artifact and the oracle re-runs the whole
    doc-topic matmul over the same postings (lsimodel.py:613-636)."""
    from gensim_spark.operators import lsi as L

    idx = _index(spark, sf_dir)
    postings = idx.postings.select(
        "doc_id", "term_id", F.col("tf").cast("double").alias("weight"))
    proj = L.lsi_fit(postings, num_topics=_LSI_K, power_iters=2)
    u_pairs = F.array(*[
        F.struct(F.lit(i).alias("topic_id"), F.col(f"t{i}").alias("u"))
        for i in range(_LSI_K)])
    u_long = (proj.u.select("term_id", F.explode(u_pairs).alias("p"))
              .select("term_id",
                      F.col("p.topic_id").cast("long").alias("topic_id"),
                      F.col("p.u").alias("u")))
    _persist_artifact(u_long, sf_dir, "lsi_u")
    out = L.doc_topics(postings, proj)
    # |weight|: per-topic sign is not an invariant of the SVD
    return out.select("doc_id", "topic_id",
                      F.round(F.abs("weight"), 4).alias("abs_weight"))


def _q_lsi_merged_topics(spark, sf_dir):
    """LSI ONLINE update (LsiModel.add_documents ≡ Projection.merge,
    lsimodel.py:242-332,470-545): fit the first half of the corpus, merge
    in the second half's decomposition, persist the merged u and project
    the whole corpus. The merge itself is pinned against a numpy replica
    of the reference algorithm (tests/test_lsi.py); the projection over
    the merged basis is re-run relationally by DuckDB."""
    from gensim_spark.operators import lsi as L

    idx = _index(spark, sf_dir)
    postings = idx.postings.select(
        "doc_id", "term_id", F.col("tf").cast("double").alias("weight"))
    mid = idx.num_docs // 2
    p1 = L.lsi_fit(postings.filter(F.col("doc_id") < mid),
                   num_topics=_LSI_K, power_iters=2)
    merged = L.add_documents(p1, postings.filter(F.col("doc_id") >= mid),
                             power_iters=2)
    k = merged.num_topics
    u_pairs = F.array(*[
        F.struct(F.lit(i).alias("topic_id"), F.col(f"t{i}").alias("u"))
        for i in range(k)])
    u_long = (merged.u.select("term_id", F.explode(u_pairs).alias("p"))
              .select("term_id",
                      F.col("p.topic_id").cast("long").alias("topic_id"),
                      F.col("p.u").alias("u")))
    _persist_artifact(u_long, sf_dir, "lsi_merged_u")
    out = L.doc_topics(postings, merged)
    return out.select("doc_id", "topic_id",
                      F.round(F.abs("weight"), 4).alias("abs_weight"))


_LDA_K = 4


def _q_lda_doc_topics(spark, sf_dir):
    """LDA document-topic distributions (batch online-VB EM, Hoffman et al.).
    The EM with digamma special functions is iterative with no SQL analogue
    (pinned against a sequential replica of the reference's ``update`` flow,
    ldamodel.py:855-1083, by tests/test_lda.py) — so the entry persists the
    raw per-document γ as a parquet artifact and derives the contract's
    relational tail, θ = γ/Σγ with the ``minimum_probability`` filter
    (ldamodel.py:1337-1364), from that artifact; DuckDB re-runs exactly that
    retrieval."""
    from gensim_spark.operators import lda as LD

    idx = _index(spark, sf_dir)
    postings = idx.postings.select("doc_id", "term_id", "tf")
    model = LD.lda_fit(postings, num_topics=_LDA_K, passes=2,
                       random_seed=13, iterations=30)
    _persist_artifact(LD.doc_gamma(postings, model), sf_dir, "lda_gamma")
    g = spark.read.parquet(_art_path(sf_dir, "lda_gamma"))
    tot = g.groupBy("doc_id").agg(F.sum("gamma").alias("g_sum"))
    min_p = max(model.minimum_probability, 1e-8)
    return (g.join(tot, "doc_id")
            .withColumn("theta", F.col("gamma") / F.col("g_sum"))
            .filter(F.col("theta") >= min_p)
            .select("doc_id", "topic_id",
                    F.round("theta", 4).alias("probability")))


_TM_DIMS = 64


def _tm_pairs(spark, sf_dir):
    """Deterministic training pairs: even vec_id → the next odd vec_id."""
    emb = _emb(spark, sf_dir)
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    pairs = src.select(F.col("vec_id").alias("src_id")).join(
        tgt.select((F.col("vec_id") - 1).alias("src_id"),
                   F.col("vec_id").alias("tgt_id")), "src_id")
    return emb, src, tgt, pairs


def _q_translation_normal_eqs(spark, sf_dir):
    """The distributed least-squares core of TranslationMatrix.train
    (translation_matrix.py:236-256): XᵀX and XᵀY over unit-normalized
    (source, target) pair vectors, emitted entry-wise so DuckDB can verify
    the whole reduction."""
    from gensim_spark.operators import translation as TR

    _, src, tgt, pairs = _tm_pairs(spark, sf_dir)
    xtx, xty = TR.normal_equations(
        pairs, TR.normalize_rows(src), TR.normalize_rows(tgt), _TM_DIMS)
    rows = [(i, j, round(float(xtx[i, j]), 6), round(float(xty[i, j]), 6))
            for i in range(_TM_DIMS) for j in range(_TM_DIMS)]
    return spark.createDataFrame(rows, "i long, j long, xtx double, xty double")


def _q_translation_topk(spark, sf_dir):
    """Full TranslationMatrix translate (gc=0): fit W on the pair set, map
    the first 5 sources, cosine top-3 in the target space
    (translation_matrix.py:279-366). The pinv solve is not SQL-expressible
    (pinned by tests/test_translation.py numpy lstsq parity), but the
    retrieval — unit(x)·W matmul + cosine top-k — IS: W is persisted as a
    parquet artifact and the oracle re-runs the mapping and ranking."""
    from gensim_spark.operators import translation as TR

    _, src, tgt, pairs = _tm_pairs(spark, sf_dir)
    w = TR.fit_translation_matrix(pairs, src, tgt, _TM_DIMS)
    w_rows = [(i, j, float(w[i, j]))
              for i in range(_TM_DIMS) for j in range(_TM_DIMS)]
    _persist_artifact(spark.createDataFrame(w_rows, "i long, j long, w double"),
                      sf_dir, "tm_w")
    return TR.translate(src.filter(F.col("vec_id") < 10), tgt, w, topn=3)


_KV_POS = [0, 1]
_KV_TOPN = 10


def _q_kv_most_similar(spark, sf_dir):
    """KeyedVectors.most_similar (keyedvectors.py:778-860): cosine of every
    vector against the post-normalized mean of the unit input vectors,
    inputs excluded, top-10. Fully relational scan side — oracled."""
    from gensim_spark.operators import keyedvectors as KV

    return KV.most_similar(_emb(spark, sf_dir), positive=_KV_POS,
                           topn=_KV_TOPN)


_KV_CM_POS, _KV_CM_NEG = [0, 2], [4]


def _q_kv_cosmul_top10(spark, sf_dir):
    """3CosMul retrieval (most_similar_cosmul, keyedvectors.py:1011-1098,
    Levy & Goldberg eq. 4): product of shifted cosines to the positives over
    the shifted cosine to the negative + 1e-6, inputs excluded, top-10.
    One relational scan — fully oracled."""
    from gensim_spark.operators import keyedvectors as KV

    return KV.most_similar_cosmul(_emb(spark, sf_dir), positive=_KV_CM_POS,
                                  negative=_KV_CM_NEG, topn=_KV_TOPN)


_ANALOGY_TRIPLES = [(0, 1, 2), (3, 4, 5), (6, 7, 8)]  # (a, b, c) vec_ids


def _q_kv_analogy_top5(spark, sf_dir):
    """3CosAdd analogy retrieval (evaluate_word_analogies,
    keyedvectors.py:1287-1407): per question, the unit-normalized offset
    query unit(b)+unit(c)−unit(a), scored against every unit vector in
    ONE broadcast pass, top-5 with inputs excluded — fully relational,
    fully oracled."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    arr = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x))
    unit = emb.select(F.col("vec_id"),
                      F.transform(arr, lambda x: x / nrm).alias("u"))
    qrows = spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(_ANALOGY_TRIPLES)],
        "qid long, a long, b long, c long")
    melted = qrows.select("qid", F.explode(F.array(
        F.struct(F.col("a").alias("vec_id"), F.lit(-1.0).alias("w")),
        F.struct(F.col("b").alias("vec_id"), F.lit(1.0).alias("w")),
        F.struct(F.col("c").alias("vec_id"), F.lit(1.0).alias("w")),
    )).alias("p")).select("qid", "p.vec_id", "p.w")
    summed = (melted.join(unit, "vec_id").groupBy("qid").agg(
        F.aggregate(F.collect_list(F.struct("w", "u")),
                    F.array_repeat(F.lit(0.0), _EMB_DIMS),
                    lambda acc, s: F.zip_with(
                        acc, s["u"], lambda x, y: x + s["w"] * y))
        .alias("qsum")))
    nq = F.sqrt(F.aggregate("qsum", F.lit(0.0), lambda a, x: a + x * x))
    queries = (summed.join(qrows, "qid")
               .select("qid", "a", "b", "c",
                       F.transform("qsum", lambda x: x / nq).alias("qu")))
    sim = F.aggregate(F.zip_with("u", "qu", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    scored = (unit.crossJoin(F.broadcast(queries))
              .filter((F.col("vec_id") != F.col("a"))
                      & (F.col("vec_id") != F.col("b"))
                      & (F.col("vec_id") != F.col("c")))
              .select("qid", "vec_id", sim.alias("sim")))
    wnd = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= 5)
            .select("qid", "rank", "vec_id",
                    F.round("sim", 6).alias("sim")))


_W2V_MODEL_MEMO: dict = {}


def _w2v_model(spark, sf_dir):
    """Train-once memo for the SGNS model shared by the w2v entries."""
    if sf_dir not in _W2V_MODEL_MEMO:
        import numpy as np

        from gensim_spark.operators import word2vec as W2V

        idx = _index(spark, sf_dir)
        rows = idx.vocab.select("term_id", "cf").orderBy("term_id").collect()
        counts = np.array([r["cf"] for r in rows], dtype=np.int64)
        ids = W2V.corpus_ids(_tokenized(spark, sf_dir), idx.vocab)
        _W2V_MODEL_MEMO[sf_dir] = W2V.word2vec_fit(
            ids, len(counts), counts, vector_size=24, window=3, negative=3,
            epochs=2, seed=13, num_shards=32)
    return _W2V_MODEL_MEMO[sf_dir]


def _q_w2v_most_similar(spark, sf_dir):
    """SGNS Word2Vec trained on the corpus, then most_similar for the 3
    highest-df tokens. Stochastic-gradient training is not SQL-expressible
    (pinned exactly against a sequential replica in tests/test_word2vec.py),
    but the retrieval — cosine top-k over the trained vectors — IS: the
    vectors and query terms are persisted as parquet artifacts and the
    oracle re-runs the most_similar scan (keyedvectors.py:778-860)."""
    from gensim_spark.operators import keyedvectors as KV

    idx = _index(spark, sf_dir)
    model = _w2v_model(spark, sf_dir)
    vecs = model.vectors_df(spark)
    top3 = [r["term_id"] for r in idx.vocab
            .orderBy(F.desc("df"), F.asc("token")).limit(3).collect()]
    _persist_artifact(vecs, sf_dir, "w2v_vectors")
    _persist_artifact(
        spark.createDataFrame([(int(t),) for t in top3], "query_term long"),
        sf_dir, "w2v_queries")
    outs = []
    for t in top3:
        outs.append(KV.most_similar(vecs, positive=[t], topn=5,
                                    key_col="term_id")
                    .withColumn("query_term", F.lit(t)))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select("query_term", "rank", F.col("term_id").alias("near"),
                      "sim")


def _q_w2v_predict_output(spark, sf_dir):
    """predict_output_word (word2vec.py:1822-1867): CBOW-style propagation
    of a 3-term context through the trained SGNS model — softmax(l1 ·
    syn1negᵀ) top-10. The hidden vector l1 is a handful of driver-side rows;
    the V-sized propagation is one relational scan of the output-embedding
    table. Output matrix and the literal l1 are persisted as parquet
    artifacts so DuckDB re-runs the exact softmax retrieval."""
    from gensim_spark.operators import word2vec as W2V

    idx = _index(spark, sf_dir)
    model = _w2v_model(spark, sf_dir)
    ctx = [r["term_id"] for r in idx.vocab
           .orderBy(F.desc("df"), F.asc("token")).limit(3).collect()]
    out_vecs = model.output_vectors_df(spark)
    _persist_artifact(out_vecs, sf_dir, "w2v_syn1neg")
    l1 = model.syn0[[int(t) for t in ctx]].sum(axis=0)
    if model.cbow_mean:
        l1 = l1 / len(ctx)
    _persist_artifact(
        spark.createDataFrame([(i, float(x)) for i, x in enumerate(l1)],
                              "i long, x double"),
        sf_dir, "w2v_l1")
    top = W2V.predict_output_word(out_vecs, model, ctx, topn=10)
    return top.select("term_id", F.round("probability", 8)
                      .alias("probability"), "rank")


def _q_ft_oov_neighbors(spark, sf_dir):
    """FastText OOV inference: train subword SGNS, then rank the vocabulary
    by cosine to an out-of-vocabulary misspelling of the top-df token —
    the subword feature Word2Vec cannot express. SGD training and the
    FNV-1a n-gram hashing are not SQL-expressible (pinned by
    tests/test_fasttext.py against the reference fixtures), but the
    retrieval IS: the adjusted vectors and the driver-computed unit OOV
    query vector are persisted as parquet artifacts and the oracle re-runs
    the cosine top-k scan."""
    import numpy as np

    from gensim_spark.operators import fasttext as FTOP
    from gensim_spark.operators import keyedvectors as KV
    from gensim_spark.operators import word2vec as W2V

    idx = _index(spark, sf_dir)
    rows = idx.vocab.select("term_id", "token", "cf") \
        .orderBy("term_id").collect()
    counts = np.array([r["cf"] for r in rows], dtype=np.int64)
    tokens = [r["token"] for r in rows]
    ids = W2V.corpus_ids(_tokenized(spark, sf_dir), idx.vocab)
    model = FTOP.fasttext_fit(ids, tokens, counts, vector_size=24,
                              window=3, negative=3, epochs=2, bucket=5000,
                              num_shards=32, seed=13)
    top_tok = idx.vocab.orderBy(F.desc("df"), F.asc("token")) \
        .limit(1).collect()[0]["token"]
    oov = model.oov_vector(top_tok + "z")   # deterministic misspelling
    vecs = model.vectors_df(spark)
    q = oov / np.linalg.norm(oov)
    _persist_artifact(vecs, sf_dir, "ft_vectors")
    _persist_artifact(
        spark.createDataFrame([([float(x) for x in q],)], "q array<double>"),
        sf_dir, "ft_oov_query")
    return (KV.cosine_to_vector(vecs, q, key_col="term_id")
            .orderBy(F.desc("sim"), F.asc("term_id")).limit(5)
            .select("term_id", F.round("sim", 6).alias("sim")))


def _q_d2v_dm_doc_knn(spark, sf_dir):
    """Doc2Vec PV-DM (dm=1, the reference's default mode,
    doc2vec_inner.pyx:420-566) trained on the corpus; then the 3 lowest
    doc_ids' nearest neighbors by doc-vector cosine. SGD training is not
    SQL-expressible (pinned against a sequential replica in
    tests/test_doc2vec.py), but the retrieval IS: the trained doc vectors
    are persisted as parquet and the oracle re-runs the cosine top-k."""
    import numpy as np

    from gensim_spark.operators import doc2vec as D2V
    from gensim_spark.operators import word2vec as W2V

    idx = _index(spark, sf_dir)
    rows = idx.vocab.select("term_id", "cf").orderBy("term_id").collect()
    counts = np.array([r["cf"] for r in rows], dtype=np.int64)
    ids = W2V.corpus_ids(_tokenized(spark, sf_dir), idx.vocab)
    model = D2V.doc2vec_fit(ids, len(counts), counts, vector_size=16,
                            window=3, negative=3, epochs=2, seed=13,
                            num_shards=32, dm=1)
    dv = model.doc_vectors_df()
    _persist_artifact(dv, sf_dir, "d2v_doc_vectors")

    from pyspark.sql import Window

    v = F.transform("embedding", lambda x: x)
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    unit = dv.select("doc_id",
                     F.transform(v, lambda x: x / nrm).alias("u"))
    q = unit.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("u").alias("qu"))
    sim = F.aggregate(F.zip_with("qu", "u", lambda a, b: a * b),
                      F.lit(0.0), lambda a, x: a + x)
    scored = (F.broadcast(q).crossJoin(unit)
              .filter(F.col("doc_id") != F.col("query_id"))
              .select("query_id", "doc_id", sim.alias("sim")))
    wnd = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                                 F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= 5)
            .select("query_id", "rank", "doc_id",
                    F.round("sim", 6).alias("sim")))


def _q_nmf_doc_topics(spark, sf_dir):
    """Online-NMF document-topic factors (Zhao & Tan). The projected-gradient
    coordinate descent is iterative with no SQL analogue (pinned against a
    sequential numpy replica of the reference's update flow, nmf.py:552-784,
    by tests/test_nmf.py) — so the entry persists the raw per-document h as
    a parquet artifact and derives the contract's relational tail, the
    ``normalize`` division plus the strict ``minimum_probability`` filter
    (nmf.py:472-519), from that artifact; DuckDB re-runs exactly that
    retrieval."""
    from gensim_spark.operators import nmf as NM

    idx = _index(spark, sf_dir)
    postings = idx.postings.select("doc_id", "term_id", "tf")
    model = NM.nmf_fit(postings, num_topics=_LDA_K, passes=2, random_seed=13)
    _persist_artifact(NM.doc_factors(postings, model), sf_dir, "nmf_h")
    h = spark.read.parquet(_art_path(sf_dir, "nmf_h"))
    tot = h.groupBy("doc_id").agg(F.sum("h").alias("h_sum"))
    min_p = max(model.minimum_probability, 1e-8)
    return (h.join(tot, "doc_id")
            .filter(F.col("h_sum") > 0)
            .withColumn("theta", F.col("h") / F.col("h_sum"))
            .filter(F.col("theta") > min_p)
            .select("doc_id", "topic_id",
                    F.round("theta", 4).alias("probability")))


# Coherence entries use deterministic topics — the top 30 vocabulary tokens
# ranked by (df DESC, token ASC), split into 3 topics of 10 — so DuckDB can
# derive the identical word lists and the whole pipeline hash-checks.
_COH_TOPN, _COH_NTOPICS = 10, 3


def _coh_topics(spark, sf_dir):
    idx = _index(spark, sf_dir)
    rows = (idx.vocab.select("term_id", "token", "df")
            .orderBy(F.desc("df"), F.asc("token"))
            .limit(_COH_TOPN * _COH_NTOPICS).collect())
    ids = [[r["term_id"] for r in rows[t * _COH_TOPN:(t + 1) * _COH_TOPN]]
           for t in range(_COH_NTOPICS)]
    toks = [[r["token"] for r in rows[t * _COH_TOPN:(t + 1) * _COH_TOPN]]
            for t in range(_COH_NTOPICS)]
    return idx, ids, toks


_POINCARE_QIDS = [0, 1, 2]
_POINCARE_K = 5


def _q_poincare_knn(spark, sf_dir):
    """Poincaré-distance top-k over the embeddings table scaled into the
    unit ball (x / (1 + ‖x‖)) — the hyperbolic distance kernel
    (poincare.py PoincareKeyedVectors.distance) as a pure relational
    arcosh expression, fully oracled."""
    from gensim_spark.operators import poincare as PC

    emb = _emb(spark, sf_dir)
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    ball = emb.select(
        F.col("vec_id").alias("node_id"),
        F.transform(v, lambda x: x / (1 + nrm)).alias("embedding"))
    return PC.poincare_knn(ball, _POINCARE_QIDS, k=_POINCARE_K)


def _q_ensemble_stable_topics(spark, sf_dir):
    """EnsembleLda stable topics: 3 distributed LDA fits → asymmetric
    masked-cosine distances → CBDBSCAN → cluster-averaged topics. The
    clustering pipeline is iterative EM + graph clustering, not
    SQL-expressible (pinned by tests/test_ensemble.py: hand-computed
    matrices, Spark-vs-driver distance parity, planted-corpus recovery) —
    but the classic-representation top-terms query over the stable matrix
    (whose get_topics round-trip is exact, ensemblelda.py:798-884) IS
    relational: the matrix is persisted as parquet and both engines
    normalize + rank per-topic top terms."""
    from pyspark.sql import Window

    from gensim_spark.operators import ensemble as EN

    idx = _index(spark, sf_dir)
    postings = idx.postings.select("doc_id", "term_id", "tf")
    model = EN.ensemble_lda_fit(postings, num_topics=_LDA_K, num_models=3,
                                passes=2, iterations=30, random_seed=13)
    stable = model.get_topics()
    rows = [(t, j, float(stable[t, j]))
            for t in range(stable.shape[0])
            for j in range(stable.shape[1])]
    mat = spark.createDataFrame(
        rows, "stable_topic long, term_id long, prob double")
    _persist_artifact(mat, sf_dir, "ensemble_stable")
    tot = Window.partitionBy("stable_topic")
    wnd = Window.partitionBy("stable_topic").orderBy(F.desc("prob"),
                                                     F.asc("term_id"))
    return (mat.withColumn("nprob", F.col("prob") / F.sum("prob").over(tot))
            .withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= 10)
            .select("stable_topic", "rank", "term_id",
                    F.round("nprob", 6).alias("prob")))


def _q_ldaseq_topics(spark, sf_dir):
    """LdaSeqModel / Dynamic Topic Model (ldaseqmodel.py, Blei & Lafferty):
    variational Kalman topic chains over two deterministic time slices
    (doc_id % 2). The EM + per-word CG is iterative (pinned by
    tests/test_ldaseq.py: finite-difference gradients, distributed-vs-
    driver M-step identity, planted recovery), but the retrieval — the
    per-slice topic-word distribution = normalized exp(E[log β]) — IS
    relational: the raw exp matrix is persisted as parquet and both
    engines normalize per (topic, time) and rank the top-10 terms."""
    from pyspark.sql import Window

    from gensim_spark.operators import ldaseq as LSQ

    idx = _index(spark, sf_dir)
    postings = idx.postings.select("doc_id", "term_id", "tf")
    doc_times = (postings.select("doc_id").distinct()
                 .select("doc_id", F.pmod("doc_id", F.lit(2)).alias("time")))
    model = LSQ.ldaseq_fit(postings, doc_times, num_topics=_LDA_K,
                           passes=2, em_min_iter=1, em_max_iter=2,
                           lda_inference_max_iter=10, random_seed=13)
    import numpy as np

    rows = []
    for k, chain in enumerate(model.topic_chains):
        raw = np.exp(chain.e_log_prob)          # (V, T)
        for term in range(raw.shape[0]):
            for t in range(raw.shape[1]):
                rows.append((k, t, term, float(raw[term, t])))
    mat = spark.createDataFrame(
        rows, "topic_id long, time long, term_id long, raw double")
    _persist_artifact(mat, sf_dir, "ldaseq_elogprob")
    tot = Window.partitionBy("topic_id", "time")
    wnd = Window.partitionBy("topic_id", "time").orderBy(
        F.desc("raw"), F.asc("term_id"))
    return (mat.withColumn("prob", F.col("raw") / F.sum("raw").over(tot))
            .withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= 10)
            .select("topic_id", "time", "rank", "term_id",
                    F.round("prob", 6).alias("prob")))


def _q_author_topics(spark, sf_dir):
    """AuthorTopicModel (atmodel.py Rosen-Zvi et al.): variational EM over
    (doc, author) pairs with a deterministic synthetic authorship (each doc
    has two authors: doc_id%5 and 5+doc_id%3). The EM is iterative (pinned
    by tests/test_atmodel.py incl. the num_shards=1 exact reference batch
    flow), but the retrieval — per-author topic distribution = normalized
    γ row (atmodel.py:1124-1182) — IS relational: γ is persisted as
    parquet and both engines normalize and emit (author, topic, prob)."""
    from pyspark.sql import Window

    from gensim_spark.operators import atmodel as AT

    idx = _index(spark, sf_dir)
    postings = idx.postings.select("doc_id", "term_id", "tf")
    d2a = (postings.select("doc_id").distinct()
           .select("doc_id", F.pmod("doc_id", F.lit(5)).alias("author_id"))
           .unionByName(postings.select("doc_id").distinct().select(
               "doc_id",
               (F.lit(5) + F.pmod("doc_id", F.lit(3))).alias("author_id"))))
    model = AT.author_topic_fit(postings, d2a, num_topics=_LDA_K,
                                num_authors=8, passes=2, iterations=30,
                                random_seed=13, num_shards=32)
    rows = [(a, t, float(model.gamma[a, t]))
            for a in range(model.num_authors)
            for t in range(model.num_topics)]
    mat = spark.createDataFrame(rows,
                                "author_id long, topic_id long, g double")
    _persist_artifact(mat, sf_dir, "at_gamma")
    tot = Window.partitionBy("author_id")
    return (mat.withColumn("probability",
                           F.col("g") / F.sum("g").over(tot))
            .filter(F.col("probability") > 1e-8)
            .select("author_id", "topic_id",
                    F.round("probability", 6).alias("probability")))


def _q_hdp_topics(spark, sf_dir):
    """HdpModel (hdpmodel.py, Wang/Paisley/Blei online HDP): two-level
    stick-breaking variational inference with a distributed chunk E-step.
    The stochastic coordinate ascent is iterative (pinned by
    tests/test_hdp.py against a sequential replica that keeps the
    reference's lazy λ-decay machinery), but the retrieval — topic-word
    probabilities β = (λ+η) / (W·η + Σλ) with per-topic top-10 terms
    (hdpmodel.py:877-899 hdp_to_lda / show_topic) — IS relational: λ is
    persisted as parquet and both engines apply the smoothing, normalize,
    and rank."""
    from pyspark.sql import Window

    from gensim_spark.operators import hdp as HP

    idx = _index(spark, sf_dir)
    postings = idx.postings.select("doc_id", "term_id", "tf")
    num_terms = int(idx.vocab.agg(F.max("term_id")).first()[0]) + 1
    model = HP.hdp_fit(postings, num_terms=num_terms, chunksize=256,
                       K=4, T=8, random_seed=13, max_chunks=6)
    rows = [(t, w, float(model.m_lambda[t, w]))
            for t in range(model.m_T) for w in range(num_terms)]
    lam = spark.createDataFrame(rows, "topic_id long, term_id long, lam double")
    _persist_artifact(
        lam.withColumn("eta", F.lit(model.m_eta))
           .withColumn("num_terms", F.lit(num_terms)),
        sf_dir, "hdp_lambda")
    eta, wsum = model.m_eta, float(num_terms) * model.m_eta
    tot = Window.partitionBy("topic_id")
    wnd = Window.partitionBy("topic_id").orderBy(F.desc("beta"),
                                                 F.asc("term_id"))
    return (lam
            .withColumn("beta", (F.col("lam") + F.lit(eta))
                        / (F.lit(wsum) + F.sum("lam").over(tot)))
            .withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= 10)
            .select("topic_id", "rank", "term_id",
                    F.round("beta", 6).alias("prob")))


def _q_coherence_umass(spark, sf_dir):
    """u_mass topic coherence (coherencemodel.py:51-56 pipeline: s_one_pre →
    p_boolean_document → log_conditional_probability → arithmetic mean per
    topic). Counting is a relational plan over the relevant-word presence set
    (operators/coherence.py:boolean_doc_stats)."""
    from gensim_spark.operators import coherence as C

    idx, topic_ids, _ = _coh_topics(spark, sf_dir)
    vals = C.coherence_per_topic(topic_ids, "u_mass",
                                 postings=idx.postings,
                                 num_docs=idx.num_docs)
    return spark.createDataFrame(
        [(t, round(v, 6)) for t, v in enumerate(vals)],
        "topic_id long, coherence double")


def _q_coherence_cnpmi_doc(spark, sf_dir):
    """c_npmi coherence at window_size larger than every document: each doc
    is exactly one window (utils.iter_windows ignore_below_size=False), so
    the boolean-sliding-window estimator degenerates to boolean-document
    probabilities and the whole pipeline (s_one_one → NPMI → mean) is
    SQL-expressible. The genuine sliding path is pinned by
    tests/test_coherence.py against a replica of the reference accumulator."""
    from gensim_spark.operators import coherence as C

    _, _, topic_toks = _coh_topics(spark, sf_dir)
    toks = _tokenized(spark, sf_dir)
    vals = C.coherence_per_topic(topic_toks, "c_npmi", texts=toks,
                                 window_size=10_000_000)
    return spark.createDataFrame(
        [(t, round(v, 6)) for t, v in enumerate(vals)],
        "topic_id long, coherence double")


_DIST_PAIRS = 40


def _q_bow_pair_distances(spark, sf_dir):
    """matutils distance kernels (cossim/hellinger/jaccard/KL/JS,
    matutils.py:796-1005) over consecutive-document BoW pairs — one
    full-outer term join + one hash aggregate, all JVM column expressions
    (operators/distances.py). KL is split into a finite value + an is-inf
    flag so the oracle compare stays hashable."""
    from gensim_spark.operators import distances as D

    idx = _index(spark, sf_dir)
    postings = idx.postings
    pairs = spark.range(_DIST_PAIRS).select(
        F.col("id").alias("pair_id"), F.col("id").alias("id_a"),
        (F.col("id") + 1).alias("id_b"))
    out = D.pairwise_bow_distances(
        pairs, postings, postings, metrics=D.METRICS,
        id_col="doc_id", weight_col="tf")
    return out.select(
        "pair_id", "id_a", "id_b",
        F.round("cossim", 6).alias("cossim"),
        F.round("hellinger", 6).alias("hellinger"),
        F.round("jaccard", 6).alias("jaccard"),
        F.col("kullback_leibler").cast("double").isin(float("inf"))
        .alias("kl_inf"),
        # inf → 0.0 (the kl_inf flag carries it) so neither side emits nulls
        F.when(F.col("kullback_leibler") != float("inf"),
               F.round("kullback_leibler", 6)).otherwise(F.lit(0.0))
        .alias("kl"),
        F.round("jensen_shannon", 6).alias("js"))


def _q_lda_topic_diff(spark, sf_dir):
    """LdaModel.diff (ldamodel.py:1420-1513) between two differently-seeded
    fits: the K×K Hellinger topic-difference matrix, normed by its max.
    Both topic-term matrices are persisted as parquet artifacts; the oracle
    re-runs the pairwise Hellinger + max-norm relationally. The EM itself
    is pinned by tests/test_lda.py's sequential replica."""
    from gensim_spark.operators import distances as D
    from gensim_spark.operators import lda as LD

    idx = _index(spark, sf_dir)
    postings = idx.postings.select("doc_id", "term_id", "tf")
    nt = idx.vocab.count()
    ma = LD.lda_fit(postings, num_topics=_LDA_K, num_terms=nt, passes=1,
                    random_seed=13, iterations=20)
    mb = LD.lda_fit(postings, num_topics=_LDA_K, num_terms=nt, passes=1,
                    random_seed=29, iterations=20)
    ta = LD.topics_df(spark, ma).select(
        "topic_id", "term_id", F.col("prob").alias("p"))
    tb = LD.topics_df(spark, mb).select(
        "topic_id", "term_id", F.col("prob").alias("p"))
    _persist_artifact(ta, sf_dir, "lda_diff_a")
    _persist_artifact(tb, sf_dir, "lda_diff_b")
    ta = spark.read.parquet(_art_path(sf_dir, "lda_diff_a"))
    tb = spark.read.parquet(_art_path(sf_dir, "lda_diff_b"))
    out = D.topic_diff_df(spark, ta, tb, distance="hellinger", normed=True)
    return out.select("topic_a", "topic_b", F.round("d", 6).alias("d"))


def _q_corpus_slice(spark, sf_dir):
    """SlicedCorpus (utils.py:1090-1134) as a positional filter over the
    zipWithIndex rank — documents[10:200:7]."""
    from gensim_spark.operators import corpusops as C

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return C.sliced_corpus(docs, slice(10, 200, 7))


def _q_corpus_repeat(spark, sf_dir):
    """RepeatCorpus (utils.py:994-1025): cycle documents to exactly 666
    docs — full broadcast-range cycles + one clipped partial cycle."""
    from gensim_spark.operators import corpusops as C

    docs = _docs(spark, sf_dir).select("doc_id")
    return C.repeat_corpus(docs, 666).select("doc_id",
                                             F.col("rep").cast("long")
                                             .alias("rep"))


def _pii_augmented_docs(spark, sf_dir):
    """documents with deterministic synthetic PII appended (the base corpus
    is word salad with no digits) — the same augmentation the oracle builds
    in SQL, so the regex engines are compared on real matches."""
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" mail user"), did.cast("string"), F.lit("@example.com"),
        )).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.concat(
            F.lit(" call 415-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        )).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".7"),
        )).otherwise(F.lit("")),
    )
    return _docs(spark, sf_dir).select("doc_id", aug.alias("text"))


def _q_pii_scrub(spark, sf_dir):
    """PII redaction (curation.pii_scrub): count + redact emails/phones/IPv4
    with engine-portable regexes; oracle replays the same patterns through
    DuckDB's RE2 — an independent regex engine — over identically
    synthesized PII."""
    from gensim_spark.operators import curation as CU

    return CU.pii_scrub(_pii_augmented_docs(spark, sf_dir))


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (curation.decontaminate): flag docs sharing
    any token 3-gram with the 'benchmark' subset (doc_id % 97 == 0) — the
    GPT-3-style n-gram-overlap train/test scrub, broadcast-join shaped."""
    from gensim_spark.operators import curation as CU

    tok = _tokenized(spark, sf_dir)
    bench = tok.filter(F.col("doc_id") % 97 == 0)
    return CU.decontaminate(tok, bench, n=3)


def _q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split (curation.split_assign): md5-hex
    threshold buckets — reproducible by any engine with md5, invariant to
    partitioning and cluster size."""
    from gensim_spark.operators import curation as CU

    return CU.split_assign(_docs(spark, sf_dir).select("doc_id"))


def _q_domain_stats(spark, sf_dir):
    """Per-domain curation stats (curation.domain_stats): doc counts, char
    mass, exact-dup fraction via md5 fingerprints — one map-side-combined
    hash agg keyed by domain."""
    from gensim_spark.operators import curation as CU

    return CU.domain_stats(_docs(spark, sf_dir))


def _q_chunk_tokens(spark, sf_dir):
    """Context-window packing (curation.chunk_tokens): size-32 windows with
    stride 24 (overlapping) over the tokenized corpus — zero-shuffle
    per-row sequence/slice/posexplode."""
    from gensim_spark.operators import curation as CU

    return CU.chunk_tokens(_tokenized(spark, sf_dir), size=32, stride=24)


def _q_bpe_pair_counts(spark, sf_dir):
    """Top-20 first-round BPE pair counts over the documents vocabulary
    (operators/bpe.py): distinct-word histogram → canonical symbols
    (chars, </w> riding the last char) → adjacent pairs → weighted
    hash-agg. This is the relational slice of BPE training; the
    sequential merge loop is pytest-pinned (tests/test_bpe.py) against a
    naive full-recount reference."""
    from gensim_spark.operators import bpe as BP

    pc = BP.pair_counts(BP.word_histogram(_tokenized(spark, sf_dir)))
    return (pc.orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(20)
            .select(F.col("left").alias("sym_a"),
                    F.col("right").alias("sym_b"), "cnt"))


# deterministic media-table sizes for the audio/video codec entries
_AV_N_AUDIO = 24
_AV_N_VIDEO = 12


def _q_audio_features(spark, sf_dir):
    """REAL WAV codec verified end-to-end (operators/audiovideo.py): the
    entry builds actual RIFF/PCM16 payloads from an integer sawtooth
    (synth_audio_int16: v[i] = ((i%p)*2a)//p - a, pure integer), DECODES
    THE BYTES with the pure-python codec inside mapInPandas, and
    aggregates rms / zero-crossing rate / peak / duration in float64.
    The DuckDB oracle recomputes the SAME waveform analytically and the
    same aggregates — any bit drift in the encode→decode roundtrip (header
    layout, quantization, channel interleave) breaks the hash."""
    from gensim_spark.operators import audiovideo as AV

    media = AV.make_audio_media(spark, n=_AV_N_AUDIO)
    out = AV.audio_stats(media)
    return out.select(
        "media_id", "rate", "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("zcr", 6).alias("zcr"),
        F.round("peak", 6).alias("peak"),
    )


def _q_video_frame_sample(spark, sf_dir):
    """REAL Y4M video frame sampling verified end-to-end
    (operators/audiovideo.py): the entry encodes actual YUV4MPEG2 streams
    (Cmono, 10 fps) from an integer pixel formula (synth_video_luma:
    (17f+5y+3x+m)%240+8), then sample_video_frames seek-decodes ONLY the
    sampled frames (ts = 0,300,600,… < duration; frame stride is fixed)
    and reports per-frame mean luma. The DuckDB oracle recomputes the
    sampling grid, the ts→frame mapping, and each frame's brightness
    analytically from the same integer formula."""
    from gensim_spark.operators import audiovideo as AV

    media = AV.make_video_media(spark, n=_AV_N_VIDEO)
    out = AV.sample_video_frames(media, every_ms=300)
    return out.select("media_id", "frame_idx", "ts_ms", "width", "height",
                      F.round("brightness", 6).alias("brightness"))


_PHRASE = ("value", "table")  # a frequent adjacent pair in the testdata docs


def _q_phrase_topk(spark, sf_dir):
    """Exact-phrase top-k over positional postings
    (operators/positional.py): positions recorded in the same single
    build shuffle doc2bow pays, adjacency = a JVM array fold
    (∩ᵢ shifted positions), scoring = Lucene PhraseQuery semantics (the
    phrase is a pseudo-term: tf = occurrence count, idf = Σ member idfs,
    saturation from the fitted Okapi stats). The DuckDB oracle rebuilds
    positions with a 1-based list index over the SAME token lists and
    re-runs match + scoring relationally."""
    from gensim_spark.operators import positional as PX

    idx = _index(spark, sf_dir)
    out = PX.phrase_text_topk(spark, idx.docs, idx.vocab, idx.stats,
                              list(_PHRASE), idx.doclen, k=TOPK_K)
    return out.select("doc_id", "phrase_tf",
                      F.round("score", 6).alias("score"), "rank")


_NEAR = ("slow", "key")  # frequent co-occurring pair in the testdata docs
_NEAR_SLOP = 2


def _q_near_topk(spark, sf_dir):
    """Two-term proximity top-k (operators/positional.py::near_topk,
    SpanNear semantics): ordered 'slow NEAR/2 key' — anchors are 'slow'
    positions with a 'key' within 3 tokens after, counted by a JVM
    filter/exists array fold; scoring is the same pseudo-term model as
    phrase_topk. The oracle re-runs the anchor count as an EXISTS
    correlated on (doc, position) and the scoring relationally."""
    from gensim_spark.operators import positional as PX

    idx = _index(spark, sf_dir)
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(list(_NEAR))).collect()}
    pos = PX.positional_postings(idx.docs, idx.vocab)
    out = PX.near_topk(pos, idx.stats, vmap[_NEAR[0]], vmap[_NEAR[1]],
                       idx.doclen, slop=_NEAR_SLOP, ordered=True, k=TOPK_K)
    return out.select("doc_id", "near_tf",
                      F.round("score", 6).alias("score"), "rank")


_SPAN = ("value", "table", "key")  # ordered 3-clause SpanNear members
_SPAN_SLOP = 4


def _q_near_multi_topk(spark, sf_dir):
    """N-clause ordered SpanNear top-k
    (operators/positional.py::span_near_topk, Lucene SpanNearQuery
    inOrder=true / sloppy phrase '"value table key"~4'): a match is a
    strictly increasing position chain over the clause terms whose
    stretch (end − start + 1 − n) stays ≤ slop; existence is decided by
    the greedy chain (each clause takes its smallest position after the
    previous clause's end), near_tf counts qualifying clause-0 anchors.
    The fold is nested JVM filter/array_min expressions per anchor — one
    term-pruned scan leg per clause, no Python UDF. The oracle re-runs
    the greedy chain as correlated min-subqueries over rebuilt positions
    and the pseudo-term scoring relationally."""
    from gensim_spark.operators import positional as PX

    idx = _index(spark, sf_dir)
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(list(_SPAN))).collect()}
    pos = PX.positional_postings(idx.docs, idx.vocab)
    out = PX.span_near_topk(pos, idx.stats, [vmap[t] for t in _SPAN],
                            idx.doclen, slop=_SPAN_SLOP, ordered=True,
                            k=TOPK_K)
    return out.select("doc_id", "near_tf",
                      F.round("score", 6).alias("score"), "rank")


_SPAN_OR = (("value",), ("table", "key"), ("row", "part"))
_SPAN_OR_SLOP = 3


def _q_span_or_topk(spark, sf_dir):
    """Ordered SpanNear with OR-clauses
    (operators/positional.py::span_near_occurrences OR-clause form,
    Lucene ``spanNear([value, spanOr(table, key), spanOr(row, part)], 3,
    true)`` — the sloppy MultiPhrase): each clause's position set is the
    union of its alternatives (one clause-term-pruned groupBy per
    multi-term clause), then the same greedy strictly-increasing chain
    fold; idf sums over ALL member terms (MultiPhraseWeight). The oracle
    re-runs the chain as correlated min-subqueries with per-clause IN
    lists and the pseudo-term scoring relationally."""
    from gensim_spark.operators import positional as PX

    idx = _index(spark, sf_dir)
    flat = [t for c in _SPAN_OR for t in c]
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(flat)).collect()}
    clauses = [[vmap[t] for t in c] for c in _SPAN_OR]
    pos = PX.positional_postings(idx.docs, idx.vocab)
    out = PX.span_near_topk(pos, idx.stats, clauses, idx.doclen,
                            slop=_SPAN_OR_SLOP, ordered=True, k=TOPK_K)
    return out.select("doc_id", "near_tf",
                      F.round("score", 6).alias("score"), "rank")


_SPAN_NOT_INC = (("value",), ("table", "key"))
_SPAN_NOT_EX = ("slow",)
_SPAN_NOT = {"slop": 2, "pre": 1, "post": 1}


def _q_span_not_topk(spark, sf_dir):
    """SpanNot (operators/positional.py::span_not_topk, Lucene
    SpanNotQuery(include, exclude, pre, post)): matches of the ordered
    include span 'value (table|key)'~2 with no 'slow' within 1 position
    before the span's start or 1 after its end. The exclusion is a
    LEFT-joined term-pruned leg + an exists probe over the greedy
    chain's [start − pre, end + post] window (greedy end is the correct
    witness — larger chains only widen the window); scoring uses the
    include members' idf only (the exclusion gates, it never weighs).
    The oracle re-runs chain + NOT EXISTS window probe relationally."""
    from gensim_spark.operators import positional as PX

    idx = _index(spark, sf_dir)
    flat = [t for c in _SPAN_NOT_INC for t in c] + list(_SPAN_NOT_EX)
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(flat)).collect()}
    clauses = [[vmap[t] for t in c] for c in _SPAN_NOT_INC]
    pos = PX.positional_postings(idx.docs, idx.vocab)
    out = PX.span_not_topk(pos, idx.stats, clauses,
                           [vmap[t] for t in _SPAN_NOT_EX], idx.doclen,
                           slop=_SPAN_NOT["slop"], pre=_SPAN_NOT["pre"],
                           post=_SPAN_NOT["post"], k=TOPK_K)
    return out.select("doc_id", "near_tf",
                      F.round("score", 6).alias("score"), "rank")


_PREFIX = "s"  # expands to 6 terms in the testdata vocab (scan/slow/small/sort/spark/stream)


def _q_prefix_topk(spark, sf_dir):
    """Prefix query (operators/topk.py::prefix_topk): 's*' (6-term expansion)
    relationally against the vocab (no driver collect), disjunctive BM25
    under the 'bnn' query model, gensim tie/zero semantics (|score| rank,
    zero drop). Oracle re-expands with LIKE and re-ranks."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    out = T.prefix_topk(idx.weighted, idx.vocab, _PREFIX, k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_BM25F_Q = ("value", "table")   # multi-field query terms
_BM25F_TITLE_LEN = 8            # title field = first 8 tokens of the doc
_BM25F_BOOST_TITLE = 2.0


def _q_bm25f_topk(spark, sf_dir):
    """Multi-field BM25F-lite scoring (operators/topk.py::bm25f_topk,
    Lucene ``title:q^2 OR body:q``): a deterministic 'title' field (the
    doc's first 8 tokens) and the full-text 'body' each get their OWN
    index — field-specific vocab, df/idf, avgdl, length norm, Lucene's
    per-field statistics — and the boosted per-field okapi scores sum
    before one rank window. The oracle recomputes BOTH fields' complete
    BM25 pipelines (vocab → df/cf → ε-clamped idf → weights → per-field
    disjunctive sum) and the weighted fusion relationally."""
    from gensim_spark.operators import topk as T
    from gensim_spark.plans import pipeline as P

    body = _index(spark, sf_dir)
    key = (id(spark), sf_dir, "bm25f_title")
    if key not in _INDEX_MEMO:
        title_tok = _tokenized(spark, sf_dir).select(
            "doc_id", F.slice("tokens", 1, _BM25F_TITLE_LEN).alias("tokens"))
        _INDEX_MEMO[key] = P.build(title_tok, variant="okapi")
    title = _INDEX_MEMO[key]

    fw, fq = {}, {}
    for name, idx in (("title", title), ("body", body)):
        tid = {r["token"]: int(r["term_id"]) for r in idx.vocab.filter(
            F.col("token").isin(list(_BM25F_Q))).collect()}
        ids = sorted({tid[t] for t in _BM25F_Q if t in tid})
        if not ids:
            continue
        fw[name] = idx.weighted
        fq[name] = T.query_terms_df(spark, {0: ids})
    out = T.bm25f_topk(fw, fq, {"title": _BM25F_BOOST_TITLE, "body": 1.0},
                       k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_BOOL = {"must": ("value",), "should": ("table", "key"),
         "must_not": ("slow",)}


def _q_bool_topk(spark, sf_dir):
    """Boolean query (operators/topk.py::bool_topk, Lucene BooleanQuery):
    must contain 'value', must not contain 'slow', scored over
    must+should ('table', 'key') presence — the must gate is a
    count-distinct semi-join, exclusion a broadcast anti-join. The oracle
    re-runs clauses as HAVING + NOT EXISTS."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin([t for c in _BOOL.values() for t in c]))
        .collect()}
    out = T.bool_topk(idx.weighted,
                      must=[vmap[t] for t in _BOOL["must"]],
                      should=[vmap[t] for t in _BOOL["should"]],
                      must_not=[vmap[t] for t in _BOOL["must_not"]],
                      k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_WILDCARD = "s?a*"  # matches scan/small/spark in the testdata vocab


def _wildcard_like() -> str:
    """The SAME Lucene→LIKE translation the Spark operator applies,
    feeding the DuckDB oracle — one translation, two engines."""
    from gensim_spark.operators.topk import wildcard_pattern_to_like

    return wildcard_pattern_to_like(_WILDCARD)


def _q_wildcard_topk(spark, sf_dir):
    """Wildcard query (operators/topk.py::wildcard_topk, Lucene
    WildcardQuery): 's?a*' — Lucene wildcards map 1:1 to SQL LIKE
    ('s_a%'), so the SAME pattern drives both engines; expansion is
    relational against the vocab (3 terms here), ranking the standard
    disjunctive 'bnn' model with gensim tie/zero semantics."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    out = T.wildcard_topk(idx.weighted, idx.vocab, _WILDCARD, k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_FUZZY_WORD, _FUZZY_DIST = "sort", 2  # expands to {part, sort}


def _q_fuzzy_topk(spark, sf_dir):
    """Fuzzy query (operators/topk.py::fuzzy_topk, Lucene FuzzyQuery
    'sort~2'): FastSS deletion-variant candidate join + banded
    Levenshtein verify expands the word against the vocab ({part, sort}
    here), then the disjunctive scorer. The oracle re-derives the
    expansion with DuckDB's independent levenshtein() — two different
    edit-distance implementations must agree on the expansion set for
    the hash to match."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    out = T.fuzzy_topk(idx.weighted, idx.vocab, _FUZZY_WORD,
                       max_distance=_FUZZY_DIST, k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_REGEXP = "s(can|ort|mall)"  # full-term match: {scan, sort, small}


def _q_regexp_topk(spark, sf_dir):
    """Regexp query (operators/topk.py::regexp_topk, Lucene
    RegexpQuery): 's(can|ort|mall)' must match the WHOLE term —
    patterns stay in the Java-regex ∩ RE2 portable subset so the SAME
    pattern drives Spark's rlike and DuckDB's regexp_full_match; then
    the standard disjunctive ranking."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    out = T.regexp_topk(idx.weighted, idx.vocab, _REGEXP, k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_MSM = {"should": ("table", "key", "value"), "msm": 2,
        "boost_tok": "value", "boost": 2.0}


def _q_bool_msm_topk(spark, sf_dir):
    """minimum_should_match + boosts (operators/topk.py::bool_topk):
    pure-should query over 3 terms requiring ≥2 distinct to match
    (count-distinct gate, Lucene minimumNumberShouldMatch) with a 2×
    boost on 'value' (BoostQuery → q_weight). Oracle: HAVING over
    distinct should hits + a boosted weight sum."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(list(_MSM["should"]))).collect()}
    out = T.bool_topk(idx.weighted,
                      should=[vmap[t] for t in _MSM["should"]],
                      min_should_match=_MSM["msm"],
                      boosts={vmap[_MSM["boost_tok"]]: _MSM["boost"]},
                      k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_MPHRASE = (("value",), ("table", "key"))  # "value (table|key)"


def _q_multi_phrase_topk(spark, sf_dir):
    """MultiPhrase query (operators/positional.py::multi_phrase_topk,
    Lucene MultiPhraseQuery): 'value (table|key)' — position 2 matches
    either alternative; legs union their terms' positions before the
    shifted array-intersect adjacency fold; idf = Σ over ALL member
    terms (MultiPhraseWeight). Oracle rebuilds positions and re-runs
    match + scoring with the alternatives as an IN-list leg."""
    from gensim_spark.operators import positional as PX

    idx = _index(spark, sf_dir)
    toks = [t for alt in _MPHRASE for t in alt]
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(toks)).collect()}
    pos = PX.positional_postings(idx.docs, idx.vocab)
    alts = [[vmap[t] for t in alt] for alt in _MPHRASE]
    out = PX.multi_phrase_topk(pos, idx.stats, alts, idx.doclen, k=TOPK_K)
    return out.select("doc_id", "phrase_tf",
                      F.round("score", 6).alias("score"), "rank")


_SNIP_Q = ("value", "table", "key")
_SNIP_W = 6


def _q_snippets_best(spark, sf_dir):
    """Snippet extraction (operators/highlight.py::best_snippets, the
    UnifiedHighlighter's best-passage core): per doc with ≥1 hit, the
    width-6 hit-anchored window covering the most DISTINCT query terms
    (ties → earliest), hits marked <b>…</b> — one zero-shuffle JVM
    array fold per row, no explode. The oracle recomputes anchors,
    window counts, the argmax, and the marked join in SQL."""
    from gensim_spark.operators import highlight as H

    idx = _index(spark, sf_dir)
    out = H.best_snippets(idx.docs, list(_SNIP_Q), width=_SNIP_W, mark=True)
    return out.select("doc_id", "start", "n_terms", "snippet")


_MLT = {"doc": 42, "mqt": 5, "min_df": 2}


def _q_mlt_topk(spark, sf_dir):
    """More-Like-This (operators/topk.py::more_like_this, Lucene
    MoreLikeThisQuery): doc 42's top-5 terms by stored |weight| with a
    df≥2 gate become a disjunctive query; the source doc is excluded
    from the ranking. The oracle re-runs selection (ORDER BY
    abs(weight) DESC, term_id LIMIT 5) and scoring in SQL."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    out = T.more_like_this(idx.weighted, idx.vocab, _MLT["doc"],
                           max_query_terms=_MLT["mqt"],
                           min_doc_freq=_MLT["min_df"], k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


_SPANF = {"token": "value", "end": 10}


def _q_span_first_topk(spark, sf_dir):
    """Span-first query (operators/positional.py::span_first_topk,
    Lucene SpanFirstQuery): 'value' within the first 10 token
    positions; tf counts only qualifying occurrences via a JVM array
    filter; pseudo-term scoring with the term's own idf. Oracle counts
    positions < end over the rebuilt positional postings."""
    from gensim_spark.operators import positional as PX

    idx = _index(spark, sf_dir)
    tid = idx.vocab.filter(
        F.col("token") == _SPANF["token"]).collect()[0]["term_id"]
    pos = PX.positional_postings(idx.docs, idx.vocab)
    out = PX.span_first_topk(pos, idx.stats, tid, _SPANF["end"],
                             idx.doclen, k=TOPK_K)
    return out.select("doc_id", "first_tf",
                      F.round("score", 6).alias("score"), "rank")


_FACET_TOKEN = "value"


def _q_facet_counts(spark, sf_dir):
    """Facet counts (operators/facets.py::facet_counts, Lucene
    FacetsCollector): per-source doc counts over the match set of the
    term query 'value' — one semi-join + one hash agg, output bounded
    by field cardinality. Oracle re-derives the match set from the
    token lists and re-counts."""
    from gensim_spark.operators import facets as FC
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    tid = idx.vocab.filter(
        F.col("token") == _FACET_TOKEN).collect()[0]["term_id"]
    q = spark.createDataFrame([(0, int(tid), 1.0)],
                              "query_id int, term_id long, q_weight double")
    matches = T.score(idx.weighted, q)
    docs_meta = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return FC.facet_counts(docs_meta, matches, "source")


def _q_facet_ranges(spark, sf_dir):
    """Range facets (facets.py::facet_ranges): n_chars histogram
    (width 100, 6 buckets, outer edges clamp) over the same 'value'
    match set; empty buckets emitted with 0. Oracle recomputes the
    bucket map and left-joins a generated axis."""
    from gensim_spark.operators import facets as FC
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    tid = idx.vocab.filter(
        F.col("token") == _FACET_TOKEN).collect()[0]["term_id"]
    q = spark.createDataFrame([(0, int(tid), 1.0)],
                              "query_id int, term_id long, q_weight double")
    matches = T.score(idx.weighted, q)
    docs_meta = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return FC.facet_ranges(docs_meta, matches, "n_chars",
                           lo=0.0, width=100.0, n_buckets=6)


_COLLAPSE_Q = ("value", "table", "key")


def _q_collapse_topk(spark, sf_dir):
    """Field collapsing (operators/topk.py::collapse_topk, one result
    per site): the query's best-scoring doc per source (ties doc_id
    asc), survivors re-ranked with the standard |score|/zero-drop
    semantics — a rank window per (query, source) over the match set.
    The oracle re-runs both windows in SQL."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(list(_COLLAPSE_Q))).collect()}
    q = T.query_terms_df(spark, {0: [vmap[t] for t in _COLLAPSE_Q]})
    docs_meta = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = T.collapse_topk(T.score(idx.weighted, q), docs_meta, "source",
                          k=TOPK_K)
    return out.select("query_id", "doc_id", "source",
                      F.round("score", 6).alias("score"), "rank")


_ROCCHIO = {"token": "value", "fb_docs": 5, "fb_terms": 3,
            "alpha": 1.0, "beta": 0.75}


def _q_rocchio_topk(spark, sf_dir):
    """Pseudo-relevance feedback (operators/topk.py::rocchio_topk,
    Rocchio with γ=0): pass 1 ranks 'value', the top-5 docs' centroid
    contributes its 3 strongest new terms at β=0.75, pass 2 re-ranks
    with the expanded weighted query — every stage relational, no
    collect. The oracle replays both passes (centroid, term clip,
    weighted rescore) in SQL."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    tid = idx.vocab.filter(
        F.col("token") == _ROCCHIO["token"]).collect()[0]["term_id"]
    q = T.query_terms_df(spark, {0: [int(tid)]})
    out = T.rocchio_topk(idx.weighted, q, _ROCCHIO["fb_docs"],
                         _ROCCHIO["fb_terms"], _ROCCHIO["alpha"],
                         _ROCCHIO["beta"], k=TOPK_K)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"), "rank")


def _sort_matches(spark, sf_dir):
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    tid = idx.vocab.filter(
        F.col("token") == _FACET_TOKEN).collect()[0]["term_id"]
    q = spark.createDataFrame([(0, int(tid), 1.0)],
                              "query_id int, term_id long, q_weight double")
    docs_meta = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return T.score(idx.weighted, q), docs_meta


def _q_sort_topk(spark, sf_dir):
    """Sort-by-field results (operators/topk.py::sort_topk, Lucene Sort):
    the 'value' match set ranked by n_chars desc (ties doc_id asc)
    instead of relevance — match-set-sized meta join + one rank
    window."""
    from gensim_spark.operators import topk as T

    matches, docs_meta = _sort_matches(spark, sf_dir)
    out = T.sort_topk(matches, docs_meta, "n_chars", k=TOPK_K)
    return out.select("query_id", "doc_id", "n_chars",
                      F.round("score", 6).alias("score"), "rank")


def _q_sort_topk_page2(spark, sf_dir):
    """searchAfter pagination: page 2 via the cursor = page 1's last
    (n_chars, doc_id) — the cursor predicate prunes BEFORE the rank
    window, so deep pages never pay deep-offset cost. The oracle ranks
    rows 11..20 by OFFSET semantics instead: cursor-based and
    offset-based pagination must agree exactly (the sort key
    (n_chars desc, doc_id asc) is a strict total order), so the hash
    match IS the cursor-correctness proof."""
    from gensim_spark.operators import topk as T

    matches, docs_meta = _sort_matches(spark, sf_dir)
    last = (T.sort_topk(matches, docs_meta, "n_chars", k=TOPK_K)
            .filter(F.col("rank") == TOPK_K).collect()[0])
    out = T.sort_topk(matches, docs_meta, "n_chars", k=TOPK_K,
                      after=(last["n_chars"], last["doc_id"]))
    return out.select("query_id", "doc_id", "n_chars",
                      F.round("score", 6).alias("score"), "rank")


def _q_explain_scores(spark, sf_dir):
    """Score explanation (operators/topk.py::explain_scores, Lucene
    IndexSearcher.explain): the per-term contribution rows behind the
    {value, table, key} query's top-3 docs — Σ contribution per doc IS
    the ranked score (asserted in tests). The oracle re-derives the
    top-3 docs and every (weight, q_weight, contribution) row in SQL."""
    from gensim_spark.operators import topk as T

    idx = _index(spark, sf_dir)
    vmap = {r["token"]: r["term_id"] for r in idx.vocab.filter(
        F.col("token").isin(list(_COLLAPSE_Q))).collect()}
    q = T.query_terms_df(spark, {0: [vmap[t] for t in _COLLAPSE_Q]})
    top3 = [r["doc_id"] for r in
            T.search(idx.weighted, q, k=3).collect()]
    out = T.explain_scores(idx.weighted, q, vocab=idx.vocab,
                           doc_ids=top3)
    return out.select("query_id", "doc_id", "term_id", "token",
                      F.round("weight", 6).alias("weight"), "q_weight",
                      F.round("contribution", 6).alias("contribution"))


_AV_N_SPEC = 6


def _q_audio_spectrogram(spark, sf_dir):
    """STFT power spectrogram verified end-to-end
    (operators/audiovideo.py): Spark decodes REAL RIFF bytes and computes
    framed Hann-windowed rFFT power (n_fft=64, hop=256); the DuckDB
    oracle recomputes the integer sawtooth analytically and then the SAME
    windowing + DFT as explicit trig sums (re² + im² per bin) — so frame
    geometry, the window function, and the transform itself are all
    cross-engine checked, not just an aggregate of them."""
    from gensim_spark.operators import audiovideo as AV

    media = AV.make_audio_media(spark, n=_AV_N_SPEC)
    out = AV.audio_spectrogram_frames(media, n_fft=64, hop=256)
    return out.select("media_id", "frame", "bin",
                      F.round("power", 6).alias("power"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tokens_count": _q_tokens_count,
        "vocab": _q_vocab,
        "vocab_filter_extremes": _q_vocab_filter_extremes,
        "most_common": _q_most_common,
        "doc2bow": _q_doc2bow,
        "doclen": _q_doclen,
        "bm25_okapi": lambda s, d: _bm25_weights(s, d, "okapi"),
        "bm25_lucene": lambda s, d: _bm25_weights(s, d, "lucene"),
        "bm25_atire": lambda s, d: _bm25_weights(s, d, "atire"),
        "bm25_topk": _q_bm25_topk,
        "bm25_topk_iceberg": _q_bm25_topk_iceberg,
        "bm25_topk_served": _q_bm25_topk_served,
        "bm25_topk_batch": _q_bm25_topk_batch,
        "tfidf_nfc": _q_tfidf_nfc,
        "tfidf_lfc": _q_tfidf_lfc,
        "tfidf_bnn": _q_tfidf_bnn,
        "tfidf_nfu_pivot": _q_tfidf_nfu_pivot,
        "logentropy": _q_logentropy,
        "phrases_bigrams": _q_phrases,
        "phrases_connector": _q_phrases_connector,
        "phrases_npmi_conn": _q_phrases_npmi_conn,
        "events_hourly": _q_events_hourly,
        "dedup_exact": _q_dedup_exact,
        "minhash_signatures": _q_minhash_signatures,
        "dedup_minhash_pairs": _q_minhash_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "ngram_jaccard": _q_ngram_jaccard,
        "simhash": _q_simhash,
        "rp_topics": _q_rp_topics,
        "quality_stats": _q_quality,
        "repetition_stats": _q_repetition,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "knn_cosine": _q_knn_cosine,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "termsim_embeddings": _q_termsim_embeddings,
        "embedding_near_dups": _q_embedding_near_dups,
        "fuzzy_terms": _q_fuzzy_terms,
        "soft_cosine": _q_soft_cosine,
        "wmd_rwmd": _q_wmd_rwmd,
        "wmd_topk": _q_wmd_topk,
        "lsi_topics": _q_lsi_topics,
        "lsi_merged_topics": _q_lsi_merged_topics,
        "lda_doc_topics": _q_lda_doc_topics,
        "nmf_doc_topics": _q_nmf_doc_topics,
        "translation_normal_eqs": _q_translation_normal_eqs,
        "translation_topk": _q_translation_topk,
        "kv_most_similar": _q_kv_most_similar,
        "kv_analogy_top5": _q_kv_analogy_top5,
        "kv_cosmul_top10": _q_kv_cosmul_top10,
        "w2v_most_similar": _q_w2v_most_similar,
        "w2v_predict_output": _q_w2v_predict_output,
        "d2v_dm_doc_knn": _q_d2v_dm_doc_knn,
        "author_topics": _q_author_topics,
        "ldaseq_topics": _q_ldaseq_topics,
        "hdp_topics": _q_hdp_topics,
        "ft_oov_neighbors": _q_ft_oov_neighbors,
        "ensemble_stable_topics": _q_ensemble_stable_topics,
        "poincare_knn": _q_poincare_knn,
        "coherence_umass": _q_coherence_umass,
        "coherence_cnpmi_doc": _q_coherence_cnpmi_doc,
        "bow_pair_distances": _q_bow_pair_distances,
        "lda_topic_diff": _q_lda_topic_diff,
        "corpus_slice": _q_corpus_slice,
        "corpus_repeat": _q_corpus_repeat,
        "pii_scrub": _q_pii_scrub,
        "decontaminate": _q_decontaminate,
        "split_assign": _q_split_assign,
        "chunk_tokens": _q_chunk_tokens,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "domain_stats": _q_domain_stats,
        "audio_features": _q_audio_features,
        "video_frame_sample": _q_video_frame_sample,
        "audio_spectrogram": _q_audio_spectrogram,
        "phrase_topk": _q_phrase_topk,
        "near_topk": _q_near_topk,
        "near_multi_topk": _q_near_multi_topk,
        "bm25f_topk": _q_bm25f_topk,
        "span_or_topk": _q_span_or_topk,
        "span_not_topk": _q_span_not_topk,
        "prefix_topk": _q_prefix_topk,
        "bool_topk": _q_bool_topk,
        "wildcard_topk": _q_wildcard_topk,
        "fuzzy_topk": _q_fuzzy_topk,
        "bool_msm_topk": _q_bool_msm_topk,
        "multi_phrase_topk": _q_multi_phrase_topk,
        "snippets_best": _q_snippets_best,
        "mlt_topk": _q_mlt_topk,
        "span_first_topk": _q_span_first_topk,
        "facet_counts": _q_facet_counts,
        "facet_ranges": _q_facet_ranges,
        "collapse_topk": _q_collapse_topk,
        "rocchio_topk": _q_rocchio_topk,
        "sort_topk": _q_sort_topk,
        "sort_topk_page2": _q_sort_topk_page2,
        "regexp_topk": _q_regexp_topk,
        "explain_scores": _q_explain_scores,
    }


# --- DuckDB oracles ----------------------------------------------------------

def _h60(expr: str) -> str:
    from gensim_spark.functions.hashing import hash60_sql

    return hash60_sql(expr)


# shared CTE prelude: tokenize → long form → vocab ids → postings → doclen
_PRELUDE = """
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z_]+'),
                     t -> len(t) BETWEEN 2 AND 15 AND t[1] <> '_') AS tokens
  FROM documents
),
tlong AS (SELECT doc_id, unnest(tokens) AS token FROM tok),
vocab AS (
  SELECT token, count(*) AS cf, count(DISTINCT doc_id) AS df,
         min(doc_id) AS first_doc
  FROM tlong GROUP BY token
),
vocab_ids AS (
  SELECT token, cf, df, first_doc,
         CAST(row_number() OVER (ORDER BY first_doc, token) - 1 AS BIGINT)
           AS term_id
  FROM vocab
),
postings AS (
  SELECT l.doc_id, v.term_id, count(*) AS tf
  FROM tlong l JOIN vocab_ids v USING (token)
  GROUP BY l.doc_id, v.term_id
),
doclen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           FROM postings GROUP BY doc_id),
nd AS (SELECT count(*) AS n FROM documents)
"""


def _bm25_sql(variant: str) -> str:
    if variant == "okapi":
        idf = """
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw)"""
        num = "p.tf * 2.5"
    elif variant == "lucene":
        idf = """
idf AS (SELECT term_id, ln((SELECT n FROM nd) + 1.0) - ln(df + 0.5) AS idf
        FROM vocab_ids)"""
        num = "p.tf * 1.0"
    else:  # atire
        idf = """
idf AS (SELECT term_id, ln((SELECT n FROM nd)::DOUBLE) - ln(df::DOUBLE) AS idf
        FROM vocab_ids)"""
        num = "p.tf * 2.5"
    return f"""{_PRELUDE},
{idf},
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * ({num} / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                         / (SELECT a FROM avgdl)))) AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id))
SELECT doc_id, term_id, round(weight, 6) AS weight FROM weights
"""


def _topk_sql(queries_: dict[int, str], k: int,
              f32_store: bool = False) -> str:
    # f32_store: the packed serving store holds weights as float32
    # (docsim.py:1183); the oracle rounds each weight through REAL before
    # the float64 sum so scores match the served path bit-for-bit at the
    # 6-decimal comparison
    w_expr = ("CAST(CAST(w.weight AS REAL) AS DOUBLE)" if f32_store
              else "w.weight")
    vals = ", ".join(f"({qid}, '{text}')" for qid, text in queries_.items())
    return f"""{_PRELUDE},
qraw AS (SELECT * FROM (VALUES {vals}) AS q(query_id, qtext)),
qtok AS (
  SELECT query_id,
         unnest(list_filter(regexp_extract_all(lower(qtext), '[a-z_]+'),
                t -> len(t) BETWEEN 2 AND 15 AND t[1] <> '_')) AS token
  FROM qraw),
qterms AS (SELECT DISTINCT query_id, v.term_id
           FROM qtok JOIN vocab_ids v USING (token)),
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl)))) AS weight
  FROM postings p JOIN doclen d USING (doc_id) JOIN idf i USING (term_id)),
scores AS (
  SELECT q.query_id, w.doc_id, sum({w_expr} * 1.0) AS score
  FROM weights w JOIN qterms q USING (term_id)
  GROUP BY q.query_id, w.doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY abs(score) DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scores WHERE score <> 0.0)
SELECT query_id, doc_id, round(score, 6) AS score, rank
FROM ranked WHERE rank <= {k}
"""


_SHINGLES = """
shing AS (
  SELECT DISTINCT doc_id, s AS shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(greatest(len(tokens) - 2, 0)),
                  i -> array_to_string(tokens[i + 1 : i + 3], ' '))) AS s
    FROM tok))
"""


def _minhash_sig_sql() -> str:
    cols = ", ".join(
        f"min({_h60(f''''{h}:' || shingle''')}) AS sig_{h}"
        for h in range(_MINHASH["num_hashes"])
    )
    return f"""{_PRELUDE},
{_SHINGLES}
SELECT doc_id, {cols} FROM shing GROUP BY doc_id
"""


def _minhash_pairs_sql() -> str:
    cols = ", ".join(
        f"min({_h60(f''''{h}:' || shingle''')}) AS sig_{h}"
        for h in range(_MINHASH["num_hashes"])
    )
    band_rows = []
    for b in range(_BANDS["bands"]):
        parts = " || '_' || ".join(
            f"CAST(sig_{b * _BANDS['rows_per_band'] + r} AS VARCHAR)"
            for r in range(_BANDS["rows_per_band"])
        )
        band_rows.append(f"SELECT doc_id, {b} AS band_id, "
                         f"{_h60(parts)} AS band_hash FROM sigs")
    banded = " UNION ALL ".join(band_rows)
    return f"""{_PRELUDE},
{_SHINGLES},
sigs AS (SELECT doc_id, {cols} FROM shing GROUP BY doc_id),
banded AS ({banded})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
WHERE a.doc_id < b.doc_id
"""


def _repetition_sql() -> str:
    """Gopher repetition stats recomputed relationally: line/paragraph dup
    fractions from list_distinct, n-gram fractions from unnest + GROUP BY —
    independent of the operator's Arrow Counter implementation."""
    lines = ("list_filter(list_transform(string_split(text, chr(10)), "
             "x -> trim(x)), x -> x <> '')")
    paras = ("list_filter(list_transform(regexp_split_to_array(text, "
             "'\\n{2,}'), x -> trim(x)), x -> x <> '')")
    lchars = "list_sum(list_transform(ls, x -> len(x)))"
    ldchars = "list_sum(list_transform(list_distinct(ls), x -> len(x)))"
    return f"""{_PRELUDE},
lined AS (SELECT doc_id, {lines} AS ls, {paras} AS ps FROM documents),
g2 AS (SELECT doc_id,
              unnest(list_transform(range(greatest(len(tokens) - 1, 0)),
                     i -> array_to_string(tokens[i + 1 : i + 2], ' '))) AS g
       FROM tok),
g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
top2 AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS v FROM g2c GROUP BY doc_id),
g5 AS (SELECT doc_id,
              unnest(list_transform(range(greatest(len(tokens) - 4, 0)),
                     i -> array_to_string(tokens[i + 1 : i + 5], ' '))) AS g
       FROM tok),
g5c AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
dup5 AS (SELECT doc_id, (sum(c) - count(*))::DOUBLE / sum(c) AS v
         FROM g5c GROUP BY doc_id)
SELECT d.doc_id,
  round(CASE WHEN len(ls) > 0 THEN
    (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls)
    ELSE 0.0 END, 6) AS dup_line_frac,
  round(CASE WHEN coalesce({lchars}, 0) > 0 THEN
    ({lchars} - {ldchars})::DOUBLE / {lchars}
    ELSE 0.0 END, 6) AS dup_line_char_frac,
  round(CASE WHEN len(ps) > 0 THEN
    (len(ps) - len(list_distinct(ps)))::DOUBLE / len(ps)
    ELSE 0.0 END, 6) AS dup_para_frac,
  round(coalesce(t.v, 0.0), 6) AS top_2gram_frac,
  round(coalesce(f.v, 0.0), 6) AS dup_5gram_frac
FROM lined d LEFT JOIN top2 t USING (doc_id) LEFT JOIN dup5 f USING (doc_id)
"""


def _dedup_clusters_sql() -> str:
    """Connected components of the LSH pair graph as a DuckDB recursive CTE:
    seed (node, node) per edge endpoint, propagate labels along symmetric
    edges to a fixpoint, take min(label) per node = component min — an
    implementation-independent oracle for the large-star/small-star result."""
    pairs_q = _minhash_pairs_sql()
    head, select_tail = pairs_q.rsplit("SELECT DISTINCT", 1)
    prelude = head.replace("WITH ", "WITH RECURSIVE ", 1).rstrip().rstrip(",")
    return f"""{prelude},
pairs AS (SELECT DISTINCT{select_tail}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node),
comp AS (SELECT node, min(label) AS cluster FROM reach GROUP BY node)
SELECT d.doc_id,
       coalesce(c.cluster, d.doc_id) AS cluster_id,
       coalesce(c.cluster, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
"""


def _ngram_jaccard_sql() -> str:
    cols = ", ".join(
        f"min({_h60(f''''{h}:' || shingle''')}) AS sig_{h}"
        for h in range(_MINHASH["num_hashes"])
    )
    band_rows = []
    for b in range(_BANDS["bands"]):
        parts = " || '_' || ".join(
            f"CAST(sig_{b * _BANDS['rows_per_band'] + r} AS VARCHAR)"
            for r in range(_BANDS["rows_per_band"])
        )
        band_rows.append(f"SELECT doc_id, {b} AS band_id, "
                         f"{_h60(parts)} AS band_hash FROM sigs")
    banded = " UNION ALL ".join(band_rows)
    return f"""{_PRELUDE},
{_SHINGLES},
sigs AS (SELECT doc_id, {cols} FROM shing GROUP BY doc_id),
banded AS ({banded}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shing GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
  FROM pairs p
  JOIN shing sa ON sa.doc_id = p.doc_a
  JOIN shing sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
  GROUP BY p.doc_a, p.doc_b)
SELECT i.doc_a, i.doc_b,
       round(i.n_inter::DOUBLE / (za.n_sh + zb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes za ON za.doc_id = i.doc_a
JOIN sizes zb ON zb.doc_id = i.doc_b
"""


def _pii_scrub_sql() -> str:
    """DuckDB replica of pii_scrub over identically synthesized PII: the
    same Java-regex/RE2-portable patterns run through an independent regex
    engine, counts via regexp_extract_all, redaction in the same fixed
    email → phone → IPv4 order."""
    from gensim_spark.operators.curation import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
WITH aug AS (
  SELECT doc_id,
    coalesce(text, '')
    || CASE WHEN doc_id % 3 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR)
            || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN ' call 415-555-'
            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' host 10.0.'
            || CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END AS text
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
  CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INTEGER) AS n_phones,
  CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INTEGER) AS n_ipv4,
  regexp_replace(
    regexp_replace(
      regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
      '{PHONE_RE}', '<PHONE>', 'g'),
    '{IPV4_RE}', '<IP>', 'g') AS clean_text
FROM aug"""


def _split_assign_sql() -> str:
    from gensim_spark.operators.curation import _hex_threshold

    t_train = _hex_threshold(0.90)
    t_val = _hex_threshold(0.95)
    return f"""
SELECT doc_id,
       substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket_hex,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{t_train}'
              THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{t_val}'
              THEN 'val'
            ELSE 'test' END AS split
FROM documents"""


def _rp_sql() -> str:
    """DuckDB replica of rp_topics: same hash-derived ±1 signs, same
    explode→sum→/sqrt(k) shape (operators/rp.py)."""
    from gensim_spark.operators.rp import sign_sql

    sign = sign_sql("p.term_id", "j.topic_id")
    return f"""{_PRELUDE}
SELECT p.doc_id, j.topic_id,
       round(SUM(p.tf * {sign}) / sqrt({_RP_K}), 6) AS weight
FROM postings p
CROSS JOIN (SELECT UNNEST(range({_RP_K})) AS topic_id) j
GROUP BY p.doc_id, j.topic_id
HAVING abs(SUM(p.tf * {sign}) / sqrt({_RP_K})) > 1e-09
"""


def _simhash_sql() -> str:
    return f"""{_PRELUDE},
tfc AS (SELECT doc_id, token, count(*) AS tf FROM tlong GROUP BY 1, 2),
th AS (SELECT doc_id, tf, {_h60('token')} AS th FROM tfc),
votes AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (th >> b.bit) & 1 = 1 THEN tf ELSE -tf END) AS v
  FROM th CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS bit) b
  GROUP BY doc_id, b.bit)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
            AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def _stopword_list_sql() -> str:
    from gensim_spark.functions.stopwords import STOPWORDS

    return ", ".join(f"'{w}'" for w in sorted(STOPWORDS))


def _lang_sql() -> str:
    from gensim_spark.operators.textstats import _LANG_MARKERS

    ratio_cols = []
    for lang in sorted(_LANG_MARKERS):
        lst = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
        ratio_cols.append(
            f"CASE WHEN len(tokens) > 0 THEN "
            f"len(list_filter(tokens, t -> t IN ({lst})))::DOUBLE / len(tokens) "
            f"ELSE 0.0 END AS r_{lang}"
        )
    langs = sorted(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"r_{lg}" for lg in langs) + ")"
    case = "CASE WHEN best < 0.05 THEN 'unk' " + " ".join(
        f"WHEN r_{lg} = best THEN '{lg}'" for lg in langs
    ) + " ELSE 'unk' END"
    return f"""{_PRELUDE},
ratios AS (SELECT doc_id, {', '.join(ratio_cols)} FROM tok),
withbest AS (SELECT *, {best} AS best FROM ratios)
SELECT doc_id, {case} AS pred_lang, round(best, 6) AS lang_score FROM withbest
"""


def _knn_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < {_KNN_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {_KNN_K}
"""


def _lsh_sql() -> str:
    sgn = _h60("CAST(p.p AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)")
    return f"""
WITH planes AS (
  SELECT p.p, i.i,
         CASE WHEN {sgn} % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
  FROM (SELECT unnest(range({_LSH_PLANES})) AS p) p
  CROSS JOIN (SELECT unnest(range({_EMB_DIMS})) AS i) i),
comp AS (
  SELECT vec_id, c.i, c.v FROM (
    SELECT vec_id,
           unnest(list_transform(embedding,
                  (x, j) -> struct_pack(v := x::DOUBLE, i := j - 1))) AS c
    FROM embeddings)),
proj AS (
  SELECT comp.vec_id, planes.p, sum(comp.v * planes.sgn) AS s
  FROM comp JOIN planes ON planes.i = comp.i
  GROUP BY comp.vec_id, planes.p),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id),
q AS (SELECT b.vec_id AS query_id, e.embedding::DOUBLE[] AS qv, b.bucket
      FROM buckets b JOIN embeddings e USING (vec_id)
      WHERE b.vec_id < {_KNN_QUERIES}),
cand AS (SELECT b.vec_id, e.embedding::DOUBLE[] AS v, b.bucket
         FROM buckets b JOIN embeddings e USING (vec_id)),
scored AS (
  SELECT q.query_id, cand.vec_id,
         list_dot_product(cand.v, q.qv)
         / (sqrt(list_dot_product(cand.v, cand.v))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
  FROM cand JOIN q USING (bucket)),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {_KNN_K}
"""


def _ivf_sql() -> str:
    """Hash-seeded IVF: identical quantizer to simsearch.ivf_topk_det —
    seeds = n_cells smallest hash60(vec_id), assignment/probes by argmax
    cosine with ties to the smallest cell."""
    hh = _h60("CAST(vec_id AS VARCHAR)")
    cos = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    return f"""
WITH h AS (SELECT vec_id, embedding::DOUBLE[] AS v, {hh} AS hh
           FROM embeddings),
seeds AS (
  SELECT v AS sv,
         CAST(row_number() OVER (ORDER BY hh ASC, vec_id ASC) AS BIGINT) - 1
           AS cell
  FROM h QUALIFY row_number() OVER (ORDER BY hh ASC, vec_id ASC)
    <= {_IVF_CELLS}),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT h.vec_id, h.v, s.cell,
           row_number() OVER (PARTITION BY h.vec_id
             ORDER BY {cos.format(a='h.v', b='s.sv')} DESC, s.cell ASC) AS r
    FROM h CROSS JOIN seeds s) WHERE r = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM h
      WHERE vec_id < {_KNN_QUERIES}),
probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, s.cell,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos.format(a='q.qv', b='s.sv')} DESC, s.cell ASC) AS r
    FROM q CROSS JOIN seeds s) WHERE r <= {_IVF_PROBE}),
scored AS (
  SELECT p.query_id, a.vec_id, {cos.format(a='a.v', b='p.qv')} AS cosine
  FROM assigned a JOIN probes p USING (cell)),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= {_KNN_K}
"""


_CONNECTOR_SQL_LIST = ("'a','an','the','for','of','with','without','at',"
                       "'from','to','in','on','by','and','or'")


def _phrases_connector_sql(scoring: str = "default") -> str:
    """Segment-based connector bridging: running count of non-connector
    tokens defines segments; consecutive segment heads pair up with the
    intervening connectors riding in the phrase key — mirrors
    phrases.py:589-600 _learn_vocab."""
    return """{_PRELUDE},
pl AS (SELECT doc_id, s.tok AS w, s.pos FROM (
         SELECT doc_id,
                unnest(list_transform(tokens,
                       (x, i) -> struct_pack(tok := x, pos := i))) AS s
         FROM tok)),
m AS (SELECT doc_id, pos, w,
             w NOT IN ({_CONNECTOR_SQL_LIST}) AS isw FROM pl),
seg AS (SELECT *, sum(CASE WHEN isw THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS s
        FROM m),
segs AS (SELECT doc_id, s,
                min_by(w, pos) AS head,
                string_agg(w, '_' ORDER BY pos) AS span
         FROM seg WHERE s >= 1 GROUP BY doc_id, s),
pairs AS (SELECT doc_id, head AS word_a,
                 lead(head) OVER (PARTITION BY doc_id ORDER BY s) AS word_b,
                 span || '_' ||
                 lead(head) OVER (PARTITION BY doc_id ORDER BY s) AS phrase
          FROM segs),
cand AS (SELECT word_a, word_b, phrase FROM pairs WHERE word_b IS NOT NULL),
candc AS (SELECT word_a, word_b, phrase, count(*) AS bigram_count
          FROM cand GROUP BY 1, 2, 3),
uni AS (SELECT token AS word, count(*) AS cnt FROM tlong
        WHERE token NOT IN ({_CONNECTOR_SQL_LIST}) GROUP BY 1),
vl AS (SELECT ((SELECT count(*) FROM uni)
             + (SELECT count(*) FROM (SELECT DISTINCT word_a, word_b, phrase
                                      FROM cand)))::DOUBLE AS v),
cw AS (SELECT sum(len(tokens))::DOUBLE AS n FROM tok)
SELECT word_a, word_b, phrase, bigram_count,
       round({score_expr}, 6) AS score
FROM candc
JOIN uni ua ON ua.word = word_a
JOIN uni ub ON ub.word = word_b
WHERE bigram_count >= {_PHRASE_MIN_COUNT}""".format(
        _PRELUDE=_PRELUDE, _CONNECTOR_SQL_LIST=_CONNECTOR_SQL_LIST,
        _PHRASE_MIN_COUNT=_PHRASE_MIN_COUNT,
        score_expr=(
            "(bigram_count - {mc}) * (SELECT v FROM vl) / (ua.cnt * ub.cnt)"
            .format(mc=_PHRASE_MIN_COUNT)
            if scoring == "default" else
            "ln((bigram_count / (SELECT n FROM cw))"
            " / ((ua.cnt / (SELECT n FROM cw)) * (ub.cnt / (SELECT n FROM cw))))"
            " / -ln(bigram_count / (SELECT n FROM cw))"
        ))


def _tfidf_nfu_pivot_sql() -> str:
    return f"""{_PRELUDE},
idf AS (SELECT term_id, ln((SELECT n FROM nd)::DOUBLE / df) / ln(2.0) AS idf
        FROM vocab_ids),
w0 AS (SELECT p.doc_id, p.term_id, p.tf * i.idf AS w
       FROM postings p JOIN idf i USING (term_id)
       WHERE abs(i.idf) > 1e-12),
nrm AS (SELECT doc_id, count(*) FILTER (w <> 0)::DOUBLE AS nn
        FROM w0 GROUP BY doc_id),
pv AS (SELECT (SELECT count(*) FROM postings)::DOUBLE
             / (SELECT n FROM nd) AS pv_val)
SELECT w0.doc_id, w0.term_id,
       round(w / (0.75 * (SELECT pv_val FROM pv) + 0.25 * nn), 6) AS weight
FROM w0 JOIN nrm USING (doc_id)
WHERE abs(w / (0.75 * (SELECT pv_val FROM pv) + 0.25 * nn)) > 1e-12"""


def _termsim_emb_sql() -> str:
    """Re-runs the whole LSH termsim build relationally: same hash60
    hyperplanes/buckets as _lsh_sql, bucket self-join top-(topn+1), the
    reference's threshold/exponent, symmetric max-merge, per-term cap,
    mutual-survivor filter, unit diagonal."""
    sgn = _h60("CAST(p.p AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)")
    return f"""
WITH planes AS (
  SELECT p.p, i.i,
         CASE WHEN {sgn} % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
  FROM (SELECT unnest(range({_LSH_PLANES})) AS p) p
  CROSS JOIN (SELECT unnest(range({_EMB_DIMS})) AS i) i),
comp AS (
  SELECT vec_id, c.i, c.v FROM (
    SELECT vec_id,
           unnest(list_transform(embedding,
                  (x, j) -> struct_pack(v := x::DOUBLE, i := j - 1))) AS c
    FROM embeddings)),
proj AS (
  SELECT comp.vec_id, planes.p, sum(comp.v * planes.sgn) AS s
  FROM comp JOIN planes ON planes.i = comp.i
  GROUP BY comp.vec_id, planes.p),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id),
v AS (SELECT b.vec_id, e.embedding::DOUBLE[] AS v, b.bucket
      FROM buckets b JOIN embeddings e USING (vec_id)),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_dot_product(c.v, q.v)
         / (sqrt(list_dot_product(c.v, c.v))
            * sqrt(list_dot_product(q.v, q.v))) AS cosine
  FROM v q JOIN v c USING (bucket)),
nb AS (
  SELECT query_id, vec_id, cosine FROM (
    SELECT query_id, vec_id, cosine,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM scored) WHERE rank <= {_TERMSIM_TOPN + 1}),
cand AS (
  SELECT query_id AS term_i, vec_id AS term_j,
         pow(cosine, 2.0) AS sim
  FROM (
    SELECT query_id, vec_id, cosine,
           row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, vec_id ASC) AS r2
    FROM nb WHERE vec_id <> query_id)
  WHERE r2 <= {_TERMSIM_TOPN} AND cosine > 0.0),
ded AS (
  SELECT term_i, term_j, max(sim) AS sim FROM (
    SELECT term_i, term_j, sim FROM cand
    UNION ALL
    SELECT term_j AS term_i, term_i AS term_j, sim FROM cand)
  GROUP BY term_i, term_j),
capped AS (
  SELECT term_i, term_j, sim FROM (
    SELECT term_i, term_j, sim,
           row_number() OVER (PARTITION BY term_i
                ORDER BY sim DESC, term_j ASC) AS r
    FROM ded) WHERE r <= {_TERMSIM_CAP}),
mutual AS (
  SELECT c.term_i, c.term_j, c.sim FROM capped c
  WHERE EXISTS (SELECT 1 FROM capped m
                WHERE m.term_i = c.term_j AND m.term_j = c.term_i))
SELECT term_i, term_j, round(sim, 6) AS sim FROM mutual
UNION ALL
SELECT vec_id AS term_i, vec_id AS term_j, CAST(1.0 AS DOUBLE) AS sim
FROM embeddings"""


def _near_dup_lsh_sql() -> str:
    """LSH-bucketed near-dup oracle: same sign-projection buckets as
    simsearch.lsh_buckets (hash60 hyperplanes), pair join within bucket,
    exact cosine verify — mirrors dedup.embedding_near_dups_lsh."""
    sgn = _h60("CAST(p.p AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)")
    return f"""
WITH planes AS (
  SELECT p.p, i.i,
         CASE WHEN {sgn} % 2 = 1 THEN 1.0 ELSE -1.0 END AS sgn
  FROM (SELECT unnest(range({_LSH_PLANES})) AS p) p
  CROSS JOIN (SELECT unnest(range({_EMB_DIMS})) AS i) i),
comp AS (
  SELECT vec_id, c.i, c.v FROM (
    SELECT vec_id,
           unnest(list_transform(embedding,
                  (x, j) -> struct_pack(v := x::DOUBLE, i := j - 1))) AS c
    FROM embeddings)),
proj AS (
  SELECT comp.vec_id, planes.p, sum(comp.v * planes.sgn) AS s
  FROM comp JOIN planes ON planes.i = comp.i
  GROUP BY comp.vec_id, planes.p),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
         / (sqrt(list_dot_product(ea.embedding::DOUBLE[],
                                  ea.embedding::DOUBLE[]))
            * sqrt(list_dot_product(eb.embedding::DOUBLE[],
                                    eb.embedding::DOUBLE[]))) AS cosine
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id)
SELECT id_a, id_b, round(cosine, 6) AS cosine
FROM pairs WHERE cosine >= {_NEAR_DUP_T}
"""


def _translation_normal_eqs_sql() -> str:
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
nrm AS (SELECT vec_id,
               CASE WHEN sq > 0
                    THEN list_transform(v, x -> x / sqrt(sq)) ELSE v END AS v
        FROM (SELECT vec_id, v,
                     list_sum(list_transform(v, x -> x * x)) AS sq
              FROM emb)),
pairs AS (SELECT s.vec_id AS sid, t.vec_id AS tid
          FROM nrm s JOIN nrm t ON t.vec_id = s.vec_id + 1
          WHERE s.vec_id % 2 = 0),
pos AS (SELECT unnest(range({_TM_DIMS})) AS i),
sx AS (SELECT p.sid, pos.i, s.v[pos.i + 1] AS x
       FROM pairs p JOIN nrm s ON s.vec_id = p.sid CROSS JOIN pos),
ty AS (SELECT p.sid, pos.i AS j, t.v[pos.i + 1] AS y
       FROM pairs p JOIN nrm t ON t.vec_id = p.tid CROSS JOIN pos),
xtx AS (SELECT a.i, b.i AS j, sum(a.x * b.x) AS xtx
        FROM sx a JOIN sx b USING (sid) GROUP BY a.i, b.i),
xty AS (SELECT a.i, c.j, sum(a.x * c.y) AS xty
        FROM sx a JOIN ty c USING (sid) GROUP BY a.i, c.j)
SELECT i, j, round(xtx, 6) AS xtx, round(xty, 6) AS xty
FROM xtx JOIN xty USING (i, j)"""


def _kv_analogy_top5_sql() -> str:
    triples = " UNION ALL ".join(
        f"SELECT {i} AS qid, {a} AS a, {b} AS b, {c} AS c"
        for i, (a, b, c) in enumerate(_ANALOGY_TRIPLES))
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
unit AS (SELECT vec_id,
                list_transform(v, x -> x / sqrt(
                    list_sum(list_transform(v, y -> y * y)))) AS u
         FROM emb),
q AS ({triples}),
pos AS (SELECT unnest(range({_EMB_DIMS})) AS i),
qsum AS (SELECT q.qid, pos.i,
                ub.u[pos.i + 1] + uc.u[pos.i + 1] - ua.u[pos.i + 1] AS s
         FROM q JOIN unit ua ON ua.vec_id = q.a
                JOIN unit ub ON ub.vec_id = q.b
                JOIN unit uc ON uc.vec_id = q.c
         CROSS JOIN pos),
qn AS (SELECT qid, sqrt(sum(s * s)) AS n FROM qsum GROUP BY qid),
sims AS (SELECT qs.qid, t.vec_id,
                sum(qs.s / qn.n * t.u[qs.i + 1]) AS sim
         FROM qsum qs JOIN qn USING (qid) CROSS JOIN unit t
         GROUP BY qs.qid, t.vec_id),
ranked AS (SELECT s.qid, s.vec_id, s.sim,
                  CAST(row_number() OVER (PARTITION BY s.qid
                       ORDER BY s.sim DESC, s.vec_id ASC) AS INTEGER)
                    AS rank
           FROM sims s JOIN q ON q.qid = s.qid
           WHERE s.vec_id NOT IN (q.a, q.b, q.c)),
final AS (SELECT qid, rank, vec_id, round(sim, 6) AS sim
          FROM ranked WHERE rank <= 5)
SELECT * FROM final"""


def _kv_most_similar_sql() -> str:
    keys = ", ".join(str(k) for k in _KV_POS)
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
unit AS (SELECT vec_id,
                CASE WHEN sq > 0
                     THEN list_transform(v, x -> x / sqrt(sq)) ELSE v END AS u
         FROM (SELECT vec_id, v,
                      list_sum(list_transform(v, x -> x * x)) AS sq
               FROM emb)),
pos AS (SELECT unnest(range({_TM_DIMS})) AS i),
msum AS (SELECT pos.i, sum(u.u[pos.i + 1]) / {len(_KV_POS)} AS s
         FROM unit u CROSS JOIN pos
         WHERE u.vec_id IN ({keys}) GROUP BY pos.i),
mn AS (SELECT i, s / sqrt((SELECT sum(s * s) FROM msum)) AS m FROM msum),
sims AS (SELECT e.vec_id, sum(e.u[mn.i + 1] * mn.m) AS sim
         FROM unit e CROSS JOIN mn
         WHERE e.vec_id NOT IN ({keys})
         GROUP BY e.vec_id)
SELECT vec_id, round(sim, 6) AS sim,
       CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS INTEGER)
         AS rank
FROM sims ORDER BY rank LIMIT {_KV_TOPN}"""


def _ldaseq_topics_sql() -> str:
    mp = f"{_ART_DIR}/{_ORACLE_SF}/ldaseq_elogprob/*.parquet"
    return f"""
WITH m AS (SELECT topic_id, time, term_id, raw FROM read_parquet('{mp}')),
tot AS (SELECT topic_id, time, sum(raw) AS s
        FROM m GROUP BY topic_id, time),
ranked AS (SELECT m.topic_id, m.time, m.term_id, m.raw / t.s AS prob,
                  CAST(row_number() OVER (PARTITION BY m.topic_id, m.time
                       ORDER BY m.raw DESC, m.term_id ASC) AS INTEGER)
                    AS rank
           FROM m JOIN tot t USING (topic_id, time))
SELECT topic_id, time, rank, term_id, round(prob, 6) AS prob
FROM ranked WHERE rank <= 10"""


def _author_topics_sql() -> str:
    gp = f"{_ART_DIR}/{_ORACLE_SF}/at_gamma/*.parquet"
    return f"""
WITH g AS (SELECT author_id, topic_id, g FROM read_parquet('{gp}')),
tot AS (SELECT author_id, sum(g) AS s FROM g GROUP BY author_id)
SELECT g.author_id, g.topic_id, round(g.g / t.s, 6) AS probability
FROM g JOIN tot t USING (author_id)
WHERE g.g / t.s > 1e-8"""


def _hdp_topics_sql() -> str:
    lp = f"{_ART_DIR}/{_ORACLE_SF}/hdp_lambda/*.parquet"
    return f"""
WITH m AS (SELECT topic_id, term_id, lam, eta, num_terms
           FROM read_parquet('{lp}')),
tot AS (SELECT topic_id, sum(lam) AS s FROM m GROUP BY topic_id),
ranked AS (SELECT m.topic_id, m.term_id,
                  (m.lam + m.eta) / (m.num_terms * m.eta + t.s) AS beta,
                  CAST(row_number() OVER (PARTITION BY m.topic_id
                       ORDER BY (m.lam + m.eta) / (m.num_terms * m.eta + t.s)
                           DESC, m.term_id ASC) AS INTEGER) AS rank
           FROM m JOIN tot t USING (topic_id))
SELECT topic_id, rank, term_id, round(beta, 6) AS prob
FROM ranked WHERE rank <= 10"""


def _ensemble_stable_topics_sql() -> str:
    mp = f"{_ART_DIR}/{_ORACLE_SF}/ensemble_stable/*.parquet"
    return f"""
WITH m AS (SELECT stable_topic, term_id, prob FROM read_parquet('{mp}')),
tot AS (SELECT stable_topic, sum(prob) AS s FROM m GROUP BY stable_topic),
ranked AS (SELECT m.stable_topic, m.term_id, m.prob / t.s AS nprob,
                  CAST(row_number() OVER (PARTITION BY m.stable_topic
                       ORDER BY m.prob DESC, m.term_id ASC) AS INTEGER)
                    AS rank
           FROM m JOIN tot t USING (stable_topic))
SELECT stable_topic, rank, term_id, round(nprob, 6) AS prob
FROM ranked WHERE rank <= 10"""


def _w2v_predict_output_sql() -> str:
    ov = f"{_ART_DIR}/{_ORACLE_SF}/w2v_syn1neg/*.parquet"
    l1 = f"{_ART_DIR}/{_ORACLE_SF}/w2v_l1/*.parquet"
    return f"""
WITH ov AS (SELECT term_id, list_transform(embedding, x -> x::DOUBLE) AS v
            FROM read_parquet('{ov}')),
l1 AS (SELECT i, x FROM read_parquet('{l1}')),
dots AS (SELECT term_id, sum(v[l1.i + 1] * l1.x) AS dot
         FROM ov CROSS JOIN l1 GROUP BY term_id),
e AS (SELECT term_id, exp(dot) AS ev FROM dots)
SELECT term_id, round(ev / (SELECT sum(ev) FROM e), 8) AS probability,
       CAST(row_number() OVER (ORDER BY ev DESC, term_id ASC) AS INTEGER)
         AS rank
FROM e ORDER BY rank LIMIT 10"""


def _kv_cosmul_top10_sql() -> str:
    all_keys = ", ".join(str(k) for k in _KV_CM_POS + _KV_CM_NEG)
    pos_keys = ", ".join(str(k) for k in _KV_CM_POS)
    neg_key = _KV_CM_NEG[0]
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
unit AS (SELECT vec_id,
                CASE WHEN sq > 0
                     THEN list_transform(v, x -> x / sqrt(sq)) ELSE v END AS u
         FROM (SELECT vec_id, v,
                      list_sum(list_transform(v, x -> x * x)) AS sq
               FROM emb)),
k AS (SELECT vec_id AS key_id, u AS ku FROM unit
      WHERE vec_id IN ({all_keys})),
shifted AS (SELECT e.vec_id, k.key_id,
                   (1 + list_dot_product(e.u, k.ku)) / 2 AS t
            FROM unit e CROSS JOIN k
            WHERE e.vec_id NOT IN ({all_keys})),
agg AS (SELECT vec_id,
               product(CASE WHEN key_id IN ({pos_keys}) THEN t END) AS num,
               sum(CASE WHEN key_id = {neg_key} THEN t END) AS den
        FROM shifted GROUP BY vec_id)
SELECT vec_id, round(num / (den + 1e-6), 6) AS score,
       CAST(row_number() OVER (ORDER BY num / (den + 1e-6) DESC, vec_id ASC)
            AS INTEGER) AS rank
FROM agg ORDER BY rank LIMIT {_KV_TOPN}"""


def _lda_doc_topics_sql() -> str:
    g = f"{_ART_DIR}/{_ORACLE_SF}/lda_gamma/*.parquet"
    return f"""
WITH g AS (SELECT doc_id, topic_id, gamma FROM read_parquet('{g}')),
tot AS (SELECT doc_id, sum(gamma) AS g_sum FROM g GROUP BY doc_id)
SELECT g.doc_id, g.topic_id, round(g.gamma / t.g_sum, 4) AS probability
FROM g JOIN tot t USING (doc_id)
WHERE g.gamma / t.g_sum >= 0.01"""


def _nmf_doc_topics_sql() -> str:
    h = f"{_ART_DIR}/{_ORACLE_SF}/nmf_h/*.parquet"
    return f"""
WITH h AS (SELECT doc_id, topic_id, h FROM read_parquet('{h}')),
tot AS (SELECT doc_id, sum(h) AS h_sum FROM h GROUP BY doc_id)
SELECT h.doc_id, h.topic_id, round(h.h / t.h_sum, 4) AS probability
FROM h JOIN tot t USING (doc_id)
WHERE t.h_sum > 0 AND h.h / t.h_sum > 0.01"""


def _lsi_topics_sql(artifact: str = "lsi_u") -> str:
    u = f"{_ART_DIR}/{_ORACLE_SF}/{artifact}/*.parquet"
    return f"""{_PRELUDE},
u AS (SELECT term_id, topic_id, u FROM read_parquet('{u}')),
dt AS (SELECT p.doc_id, u.topic_id, sum(p.tf::DOUBLE * u.u) AS w
       FROM postings p JOIN u USING (term_id)
       GROUP BY p.doc_id, u.topic_id)
SELECT doc_id, topic_id, round(abs(w), 4) AS abs_weight FROM dt"""


def _wmd_topk_sql() -> str:
    p = f"{_ART_DIR}/{_ORACLE_SF}/wmd_exact/*.parquet"
    return f"""
WITH cands AS (SELECT query_id, doc_id, wmd FROM read_parquet('{p}')),
ranked AS (SELECT query_id, doc_id, wmd,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY wmd ASC, doc_id ASC) AS INTEGER) AS rank
           FROM cands)
SELECT query_id, doc_id, wmd, rank FROM ranked WHERE rank <= {_WMD_EXACT_K}"""


def _translation_topk_sql() -> str:
    wp = f"{_ART_DIR}/{_ORACLE_SF}/tm_w/*.parquet"
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
unit AS (SELECT vec_id,
                CASE WHEN sq > 0
                     THEN list_transform(v, x -> x / sqrt(sq)) ELSE v END AS u
         FROM (SELECT vec_id, v,
                      list_sum(list_transform(v, x -> x * x)) AS sq
               FROM emb)),
pos AS (SELECT unnest(range({_TM_DIMS})) AS i),
w AS (SELECT i, j, w FROM read_parquet('{wp}')),
sx AS (SELECT e.vec_id AS src_id, pos.i, e.u[pos.i + 1] AS x
       FROM unit e CROSS JOIN pos
       WHERE e.vec_id % 2 = 0 AND e.vec_id < 10),
mapped AS (SELECT sx.src_id, w.j, sum(sx.x * w.w) AS m
           FROM sx JOIN w ON w.i = sx.i GROUP BY sx.src_id, w.j),
ty AS (SELECT e.vec_id AS tgt_id, pos.i AS j, e.u[pos.i + 1] AS y
       FROM unit e CROSS JOIN pos WHERE e.vec_id % 2 = 1),
sims AS (SELECT m.src_id, t.tgt_id, sum(m.m * t.y) AS sim
         FROM mapped m JOIN ty t ON t.j = m.j GROUP BY m.src_id, t.tgt_id),
ranked AS (SELECT src_id, tgt_id, sim,
                  CAST(row_number() OVER (PARTITION BY src_id
                       ORDER BY sim DESC, tgt_id ASC) AS INTEGER) AS rank
           FROM sims)
SELECT src_id, rank, tgt_id, round(sim, 6) AS sim
FROM ranked WHERE rank <= 3"""


def _w2v_most_similar_sql() -> str:
    vp = f"{_ART_DIR}/{_ORACLE_SF}/w2v_vectors/*.parquet"
    qp = f"{_ART_DIR}/{_ORACLE_SF}/w2v_queries/*.parquet"
    return f"""
WITH v AS (SELECT term_id, embedding AS e FROM read_parquet('{vp}')),
unit AS (SELECT term_id,
                CASE WHEN sq > 0
                     THEN list_transform(e, x -> x / sqrt(sq)) ELSE e END AS u
         FROM (SELECT term_id, e,
                      list_sum(list_transform(e, x -> x * x)) AS sq
               FROM v)),
q AS (SELECT query_term FROM read_parquet('{qp}')),
qv AS (SELECT q.query_term, u.u AS qu
       FROM q JOIN unit u ON u.term_id = q.query_term),
sims AS (SELECT qv.query_term, e.term_id AS near,
                list_sum(list_transform(range(len(e.u)),
                         i -> e.u[i + 1] * qv.qu[i + 1])) AS sim
         FROM unit e CROSS JOIN qv WHERE e.term_id <> qv.query_term),
ranked AS (SELECT query_term, near, sim,
                  CAST(row_number() OVER (PARTITION BY query_term
                       ORDER BY sim DESC, near ASC) AS INTEGER) AS rank
           FROM sims)
SELECT query_term, rank, near, round(sim, 6) AS sim
FROM ranked WHERE rank <= 5"""


def _d2v_dm_doc_knn_sql() -> str:
    vp = f"{_ART_DIR}/{_ORACLE_SF}/d2v_doc_vectors/*.parquet"
    return f"""
WITH v AS (SELECT doc_id, embedding AS e FROM read_parquet('{vp}')),
unit AS (SELECT doc_id,
                list_transform(e, x -> x / sqrt(
                    list_sum(list_transform(e, y -> y * y)))) AS u
         FROM v),
q AS (SELECT doc_id AS query_id, u AS qu FROM unit WHERE doc_id < 3),
sims AS (SELECT q.query_id, t.doc_id,
                list_sum(list_transform(range(len(t.u)),
                         i -> t.u[i + 1] * q.qu[i + 1])) AS sim
         FROM q CROSS JOIN unit t WHERE t.doc_id <> q.query_id),
ranked AS (SELECT query_id, doc_id, sim,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, doc_id ASC) AS INTEGER) AS rank
           FROM sims)
SELECT query_id, rank, doc_id, round(sim, 6) AS sim
FROM ranked WHERE rank <= 5"""


def _ft_oov_neighbors_sql() -> str:
    vp = f"{_ART_DIR}/{_ORACLE_SF}/ft_vectors/*.parquet"
    qp = f"{_ART_DIR}/{_ORACLE_SF}/ft_oov_query/*.parquet"
    return f"""
WITH v AS (SELECT term_id, embedding AS e FROM read_parquet('{vp}')),
q AS (SELECT q FROM read_parquet('{qp}')),
sims AS (SELECT v.term_id,
                CASE WHEN sq > 0 THEN dot / sqrt(sq) ELSE dot END AS sim
         FROM (SELECT v.term_id,
                      list_sum(list_transform(range(len(v.e)),
                               i -> v.e[i + 1] * q.q[i + 1])) AS dot,
                      list_sum(list_transform(v.e, x -> x * x)) AS sq
               FROM v CROSS JOIN q) v)
SELECT term_id, round(sim, 6) AS sim
FROM sims ORDER BY sim DESC, term_id ASC LIMIT 5"""


def _poincare_knn_sql() -> str:
    qids = ", ".join(str(q) for q in _POINCARE_QIDS)
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
             FROM embeddings),
ball AS (SELECT vec_id AS node_id,
                list_transform(v, x -> x / (1 + sqrt(
                    list_sum(list_transform(v, y -> y * y))))) AS b
         FROM emb),
q AS (SELECT node_id AS query_id, b AS qb FROM ball
      WHERE node_id IN ({qids})),
pairs AS (
  SELECT q.query_id, t.node_id AS other_id,
         list_sum(list_transform(range(len(q.qb)),
                  i -> (q.qb[i + 1] - t.b[i + 1])
                       * (q.qb[i + 1] - t.b[i + 1]))) AS diff2,
         list_sum(list_transform(q.qb, x -> x * x)) AS nu2,
         list_sum(list_transform(t.b, x -> x * x)) AS nv2
  FROM q CROSS JOIN ball t WHERE t.node_id <> q.query_id),
dists AS (SELECT query_id, other_id,
                 ln((1 + 2 * diff2 / ((1 - nu2) * (1 - nv2)))
                    + sqrt(pow(1 + 2 * diff2 / ((1 - nu2) * (1 - nv2)), 2)
                           - 1)) AS dist
          FROM pairs),
ranked AS (SELECT query_id, other_id, dist,
                  CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY dist ASC, other_id ASC) AS INTEGER) AS rank
           FROM dists)
SELECT query_id, rank, other_id, round(dist, 6) AS dist
FROM ranked WHERE rank <= {_POINCARE_K}"""


_COH_TOP_SQL = f"""
top AS (
  SELECT term_id, token,
         row_number() OVER (ORDER BY df DESC, token ASC) - 1 AS rnk
  FROM vocab_ids ORDER BY rnk LIMIT {_COH_TOPN * _COH_NTOPICS}),
tw AS (SELECT term_id, CAST(rnk // {_COH_TOPN} AS BIGINT) AS topic_id,
              rnk % {_COH_TOPN} AS pos
       FROM top),
pres AS (SELECT DISTINCT p.doc_id, t.term_id, t.topic_id, t.pos
         FROM postings p JOIN tw t USING (term_id)),
occ AS (SELECT term_id, count(*) AS cnt FROM pres GROUP BY term_id)"""


def _coherence_umass_sql() -> str:
    # s_one_pre pairs (later rank, earlier rank); m = ln((co/D+eps)/(occ*/D))
    return f"""{_PRELUDE},{_COH_TOP_SQL},
pairs AS (SELECT a.topic_id, a.term_id AS wi, b.term_id AS wj
          FROM tw a JOIN tw b ON a.topic_id = b.topic_id AND a.pos > b.pos),
co AS (SELECT pr.topic_id, pr.wi, pr.wj, count(*) AS cnt
       FROM pairs pr
       JOIN pres x ON x.term_id = pr.wi
       JOIN pres y ON y.term_id = pr.wj AND y.doc_id = x.doc_id
       GROUP BY pr.topic_id, pr.wi, pr.wj),
seg AS (SELECT pr.topic_id,
               ln((COALESCE(c.cnt, 0)::DOUBLE / nd.n + 1e-12)
                  / (o.cnt::DOUBLE / nd.n)) AS m
        FROM pairs pr
        LEFT JOIN co c ON c.topic_id = pr.topic_id
                      AND c.wi = pr.wi AND c.wj = pr.wj
        JOIN occ o ON o.term_id = pr.wj
        CROSS JOIN nd)
SELECT topic_id, round(avg(m), 6) AS coherence
FROM seg GROUP BY topic_id ORDER BY topic_id"""


def _coherence_cnpmi_doc_sql() -> str:
    # window >= max doc length -> one window per doc, so window probabilities
    # equal boolean-document probabilities; s_one_one ordered pairs, NPMI.
    return f"""{_PRELUDE},{_COH_TOP_SQL},
pairs AS (SELECT a.topic_id, a.term_id AS wi, b.term_id AS wj
          FROM tw a JOIN tw b ON a.topic_id = b.topic_id AND a.pos <> b.pos),
co AS (SELECT x.term_id AS wi, y.term_id AS wj, count(*) AS cnt
       FROM pres x
       JOIN pres y ON y.doc_id = x.doc_id AND y.topic_id = x.topic_id
                  AND y.term_id <> x.term_id
       GROUP BY x.term_id, y.term_id),
seg AS (SELECT pr.topic_id,
               ln((COALESCE(c.cnt, 0)::DOUBLE / nd.n + 1e-12)
                  / ((oi.cnt::DOUBLE / nd.n) * (oj.cnt::DOUBLE / nd.n)))
               / (-ln(COALESCE(c.cnt, 0)::DOUBLE / nd.n + 1e-12)) AS m
        FROM pairs pr
        LEFT JOIN co c ON c.wi = pr.wi AND c.wj = pr.wj
        JOIN occ oi ON oi.term_id = pr.wi
        JOIN occ oj ON oj.term_id = pr.wj
        CROSS JOIN nd)
SELECT topic_id, round(avg(m), 6) AS coherence
FROM seg GROUP BY topic_id ORDER BY topic_id"""


def _wmd_rwmd_sql() -> str:
    from gensim_spark.operators import wmd as WM

    return WM.rwmd_topk_sql(QUERY_SET, k=_WMD_K, dim=_WMD_DIM)


def _bow_pair_distances_sql() -> str:
    # Same full-outer-join + one-aggregate shape as the Spark kernel
    # (operators/distances.py:pairwise_bow_distances), re-derived in SQL.
    return f"""{_PRELUDE},
dpairs AS (SELECT i AS pair_id, i AS id_a, i + 1 AS id_b
           FROM range({_DIST_PAIRS}) t(i)),
pa AS (SELECT pr.pair_id, p.term_id, p.tf::DOUBLE AS wa
       FROM dpairs pr JOIN postings p ON p.doc_id = pr.id_a),
pb AS (SELECT pr.pair_id, p.term_id, p.tf::DOUBLE AS wb
       FROM dpairs pr JOIN postings p ON p.doc_id = pr.id_b),
j AS (SELECT COALESCE(pa.pair_id, pb.pair_id) AS pair_id,
             COALESCE(wa, 0.0) AS wa, COALESCE(wb, 0.0) AS wb
      FROM pa FULL OUTER JOIN pb
        ON pa.pair_id = pb.pair_id AND pa.term_id = pb.term_id),
g AS (SELECT pair_id,
             sum(wa * wb) AS dot, sum(wa * wa) AS na2, sum(wb * wb) AS nb2,
             sum(wa) AS sa, sum(wb) AS sb,
             sum((sqrt(wa) - sqrt(wb)) ^ 2) AS h2,
             sum(least(wa, wb)) AS inter,
             bool_or(wa > 0 AND wb = 0) AS is_inf,
             sum(CASE WHEN wa > 0 AND wb > 0
                      THEN wa * (ln(wa) - ln(wb)) ELSE 0 END) AS plogpq,
             sum(CASE WHEN wa > 0
                      THEN wa * (ln(wa) - ln((wa + wb) / 2))
                      ELSE 0 END) AS pam,
             sum(CASE WHEN wb > 0
                      THEN wb * (ln(wb) - ln((wa + wb) / 2))
                      ELSE 0 END) AS pbm
      FROM j GROUP BY pair_id)
SELECT pr.pair_id, pr.id_a, pr.id_b,
       round(CASE WHEN na2 = 0 OR nb2 = 0 THEN 0.0
                  ELSE dot / (sqrt(na2) * sqrt(nb2)) END, 6) AS cossim,
       round(sqrt(0.5 * h2), 6) AS hellinger,
       round(CASE WHEN sa + sb > 0
                  THEN 1.0 - inter / (sa + sb) END, 6) AS jaccard,
       is_inf AS kl_inf,
       CASE WHEN NOT is_inf
            THEN round(plogpq / sa + ln(sb / sa), 6)
            ELSE 0.0 END AS kl,
       round(0.5 * ((pam / sa + ln((sa + sb) / (2 * sa)))
                    + (pbm / sb + ln((sa + sb) / (2 * sb)))), 6) AS js
FROM dpairs pr JOIN g USING (pair_id)"""


def _lda_topic_diff_sql() -> str:
    # topics_df artifacts are dense K×V over one vocab, so the pairwise
    # Hellinger full-outer term union degenerates to an inner equijoin.
    pa = f"{_ART_DIR}/{_ORACLE_SF}/lda_diff_a/*.parquet"
    pb = f"{_ART_DIR}/{_ORACLE_SF}/lda_diff_b/*.parquet"
    return f"""
WITH a AS (SELECT topic_id AS topic_a, term_id, p AS wa
           FROM read_parquet('{pa}')),
b AS (SELECT topic_id AS topic_b, term_id, p AS wb
      FROM read_parquet('{pb}')),
d0 AS (SELECT topic_a, topic_b,
              sqrt(0.5 * sum((sqrt(wa) - sqrt(wb)) ^ 2)) AS d
       FROM a JOIN b USING (term_id) GROUP BY topic_a, topic_b),
mx AS (SELECT max(d) AS m FROM d0)
SELECT topic_a, topic_b,
       round(CASE WHEN abs(m) > 1e-8 THEN d / m ELSE d END, 6) AS d
FROM d0, mx"""


def oracle_sql() -> dict[str, str]:
    sw = _stopword_list_sql()
    return {
        "tokens_count": f"{_PRELUDE} SELECT doc_id, CAST(len(tokens) AS BIGINT)"
                        " AS n_tokens FROM tok",
        "vocab": f"{_PRELUDE} SELECT token, term_id, df, cf, first_doc"
                 " FROM vocab_ids",
        "vocab_filter_extremes": f"""{_PRELUDE},
good AS (SELECT * FROM vocab_ids
         WHERE df BETWEEN {_FE['no_below']}
           AND CAST(floor({_FE['no_above']} * (SELECT n FROM nd)) AS BIGINT)),
top AS (SELECT * FROM good
        QUALIFY row_number() OVER (ORDER BY df DESC, term_id ASC)
          <= {_FE['keep_n']})
SELECT token,
       CAST(row_number() OVER (ORDER BY term_id) - 1 AS BIGINT) AS term_id,
       df, cf
FROM top""",
        "most_common": f"""{_PRELUDE}
SELECT token, cf FROM vocab_ids ORDER BY cf DESC, term_id ASC LIMIT 20""",
        "doc2bow": f"{_PRELUDE} SELECT doc_id, term_id, tf FROM postings",
        "doclen": f"{_PRELUDE} SELECT doc_id, dl FROM doclen",
        "bm25_okapi": _bm25_sql("okapi"),
        "bm25_lucene": _bm25_sql("lucene"),
        "bm25_atire": _bm25_sql("atire"),
        "bm25_topk": _topk_sql({0: QUERY_SET[0]}, TOPK_K),
        # Iceberg-backed store must serve the SAME answers — same oracle
        "bm25_topk_iceberg": _topk_sql({0: QUERY_SET[0]}, TOPK_K),
        # in-process serving path: same ranking, scores through the store's
        # float32 weight storage (REAL cast in the oracle)
        "bm25_topk_served": _topk_sql({0: QUERY_SET[0]}, TOPK_K,
                                      f32_store=True),
        "tfidf_nfu_pivot": _tfidf_nfu_pivot_sql(),
        "phrases_connector": _phrases_connector_sql(),
        "phrases_npmi_conn": _phrases_connector_sql("npmi"),
        "bm25_topk_batch": _topk_sql(QUERY_SET, BATCH_K),
        "tfidf_nfc": f"""{_PRELUDE},
idf AS (SELECT term_id, ln((SELECT n FROM nd)::DOUBLE / df) / ln(2.0) AS idf
        FROM vocab_ids),
w0 AS (SELECT p.doc_id, p.term_id, p.tf * i.idf AS w
       FROM postings p JOIN idf i USING (term_id)
       WHERE abs(i.idf) > 1e-12),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w0 GROUP BY doc_id)
SELECT w0.doc_id, w0.term_id,
       round(CASE WHEN nn > 0 THEN w / nn ELSE w END, 6) AS weight
FROM w0 JOIN nrm USING (doc_id)""",
        "tfidf_lfc": f"""{_PRELUDE},
idf AS (SELECT term_id, ln((SELECT n FROM nd)::DOUBLE / df) / ln(2.0) AS idf
        FROM vocab_ids),
w0 AS (SELECT p.doc_id, p.term_id,
       (1.0 + ln(p.tf::DOUBLE) / ln(2.0)) * i.idf AS w
       FROM postings p JOIN idf i USING (term_id)
       WHERE abs(i.idf) > 1e-12),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w0 GROUP BY doc_id)
SELECT w0.doc_id, w0.term_id,
       round(CASE WHEN nn > 0 THEN w / nn ELSE w END, 6) AS weight
FROM w0 JOIN nrm USING (doc_id)""",
        "tfidf_bnn": f"""{_PRELUDE}
SELECT doc_id, term_id,
       round(CASE WHEN tf <> 0 THEN 1.0 ELSE 0.0 END, 6) AS weight
FROM postings""",
        "logentropy": f"""{_PRELUDE},
cfs AS (SELECT term_id, CAST(sum(tf) AS BIGINT) AS cf
        FROM postings GROUP BY 1),
pr AS (SELECT p.doc_id, p.term_id, p.tf, p.tf::DOUBLE / c.cf AS pp
       FROM postings p JOIN cfs c USING (term_id)),
ent AS (SELECT term_id,
        1.0 + sum(pp * ln(pp)) / ln((SELECT n FROM nd) + 1.0) AS entropy
        FROM pr GROUP BY term_id),
w0 AS (SELECT p.doc_id, p.term_id,
       ln(p.tf + 1.0) * e.entropy AS w
       FROM postings p JOIN ent e USING (term_id)),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w0 GROUP BY doc_id)
SELECT w0.doc_id, w0.term_id,
       round(CASE WHEN nn > 0 THEN w / nn ELSE w END, 6) AS weight
FROM w0 JOIN nrm USING (doc_id)""",
        "phrases_bigrams": f"""{_PRELUDE},
pl AS (SELECT doc_id, s.tok AS w, s.pos FROM (
         SELECT doc_id,
                unnest(list_transform(tokens,
                       (x, i) -> struct_pack(tok := x, pos := i))) AS s
         FROM tok)),
bi AS (SELECT doc_id, w AS word_a,
              lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS word_b
       FROM pl),
bic AS (SELECT word_a, word_b, count(*) AS bigram_count
        FROM bi WHERE word_b IS NOT NULL
        GROUP BY 1, 2 HAVING count(*) >= {_PHRASE_MIN_COUNT}),
uni AS (SELECT token AS word, count(*) AS cnt FROM tlong GROUP BY 1),
-- len_vocab = unigram keys + ALL distinct bigram keys (phrases.py:685-687)
vl AS (SELECT ((SELECT count(*) FROM uni)
             + (SELECT count(*) FROM (SELECT DISTINCT word_a, word_b
                                      FROM bi WHERE word_b IS NOT NULL)))::DOUBLE AS v)
SELECT word_a, word_b, bigram_count,
       round((bigram_count - {_PHRASE_MIN_COUNT}) * (SELECT v FROM vl)
             / (ua.cnt * ub.cnt), 6) AS score
FROM bic
JOIN uni ua ON ua.word = word_a
JOIN uni ub ON ub.word = word_b""",
        "events_hourly": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 4) AS total
FROM events GROUP BY 1, 2""",
        "dedup_exact": """
SELECT doc_id, md5(text) AS text_hash,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
FROM documents""",
        "minhash_signatures": _minhash_sig_sql(),
        "dedup_minhash_pairs": _minhash_pairs_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "repetition_stats": _repetition_sql(),
        "ngram_jaccard": _ngram_jaccard_sql(),
        "simhash": _simhash_sql(),
        "rp_topics": _rp_sql(),
        "quality_stats": f"""{_PRELUDE},
joined AS (SELECT d.doc_id, d.text, t.tokens
           FROM documents d JOIN tok t USING (doc_id))
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(tokens) AS BIGINT) AS n_tokens,
  round(CASE WHEN len(tokens) > 0 THEN
    list_sum(list_transform(tokens, t -> len(t)))::DOUBLE / len(tokens)
    ELSE 0.0 END, 6) AS mean_token_len,
  round(CASE WHEN len(tokens) > 0 THEN
    len(list_filter(tokens, t -> t IN ({sw})))::DOUBLE / len(tokens)
    ELSE 0.0 END, 6) AS stopword_ratio,
  round(CASE WHEN length(text) > 0 THEN
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text)
    ELSE 0.0 END, 6) AS alpha_ratio,
  round(
    (CASE WHEN len(tokens) >= 10 THEN 0.4 ELSE 0.0 END)
    + (CASE WHEN len(tokens) > 0
            AND list_sum(list_transform(tokens, t -> len(t)))::DOUBLE
                / len(tokens) BETWEEN 3.0 AND 10.0
       THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN len(tokens) > 0
            AND len(list_filter(tokens, t -> t IN ({sw})))::DOUBLE
                / len(tokens) BETWEEN 0.05 AND 0.6
       THEN 0.3 ELSE 0.0 END), 2) AS quality
FROM joined""",
        "lang_id": _lang_sql(),
        "fingerprint": f"""{_PRELUDE}
SELECT doc_id, md5(array_to_string(tokens, ' ')) AS fp FROM tok""",
        "fuzzy_terms": f"""{_PRELUDE},
q AS (SELECT unnest(['spark', 'querz', 'window']) AS query),
cand AS (
  SELECT q.query, v.token,
         CAST(levenshtein(q.query, v.token) AS INTEGER) AS distance
  FROM q CROSS JOIN vocab_ids v
  WHERE q.query <> v.token
    AND levenshtein(q.query, v.token) <= {_FUZZY_MAXDIST}),
scored AS (
  SELECT query, token, distance,
         1.8 * pow(1.0 - distance::DOUBLE
                   / greatest(length(query), length(token), 1), 5.0) AS sim
  FROM cand),
ranked AS (
  SELECT query, token, distance, sim,
         CAST(row_number() OVER (PARTITION BY query
              ORDER BY sim DESC, token ASC) AS INTEGER) AS rank
  FROM scored)
SELECT query, token, distance, round(sim, 6) AS similarity, rank
FROM ranked WHERE rank <= {_FUZZY_TOPN}""",
        "soft_cosine": f"""{_PRELUDE},
qt AS (SELECT v.term_id, 1.0 AS qw FROM vocab_ids v
       WHERE v.token IN ('spark', 'query', 'join')),
dots AS (
  SELECT p.doc_id, sum(p.tf * q.qw) AS dot
  FROM postings p JOIN qt q USING (term_id) GROUP BY p.doc_id),
dnorm AS (SELECT doc_id, sqrt(sum(tf * tf)) AS dn FROM postings
          GROUP BY doc_id),
qnorm AS (SELECT sqrt(sum(qw * qw)) AS qn FROM qt),
scored AS (
  SELECT d.doc_id, d.dot / (n.dn * (SELECT qn FROM qnorm)) AS score
  FROM dots d JOIN dnorm n USING (doc_id)),
ranked AS (
  SELECT 0 AS query_id, doc_id, score,
         CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC)
              AS INTEGER) AS rank
  FROM scored WHERE score <> 0.0)
SELECT query_id, doc_id, round(score, 6) AS score, rank
FROM ranked WHERE rank <= 10""",
        "knn_cosine": _knn_sql(),
        "ann_lsh": _lsh_sql(),
        "ann_ivf": _ivf_sql(),
        "termsim_embeddings": _termsim_emb_sql(),
        "embedding_near_dups": _near_dup_lsh_sql(),
        "wmd_rwmd": _wmd_rwmd_sql(),
        "coherence_umass": _coherence_umass_sql(),
        "coherence_cnpmi_doc": _coherence_cnpmi_doc_sql(),
        "translation_normal_eqs": _translation_normal_eqs_sql(),
        "kv_most_similar": _kv_most_similar_sql(),
        "kv_analogy_top5": _kv_analogy_top5_sql(),
        "kv_cosmul_top10": _kv_cosmul_top10_sql(),
        "poincare_knn": _poincare_knn_sql(),
        # persisted-artifact oracles: training happens in Spark, the fitted
        # artifact lands in parquet, and DuckDB independently re-runs the
        # relational retrieval over it (see _persist_artifact)
        "lsi_topics": _lsi_topics_sql(),
        "lsi_merged_topics": _lsi_topics_sql("lsi_merged_u"),
        "ensemble_stable_topics": _ensemble_stable_topics_sql(),
        "translation_topk": _translation_topk_sql(),
        "w2v_most_similar": _w2v_most_similar_sql(),
        "w2v_predict_output": _w2v_predict_output_sql(),
        "ft_oov_neighbors": _ft_oov_neighbors_sql(),
        "d2v_dm_doc_knn": _d2v_dm_doc_knn_sql(),
        "author_topics": _author_topics_sql(),
        "ldaseq_topics": _ldaseq_topics_sql(),
        "hdp_topics": _hdp_topics_sql(),
        "lda_doc_topics": _lda_doc_topics_sql(),
        "nmf_doc_topics": _nmf_doc_topics_sql(),
        "bow_pair_distances": _bow_pair_distances_sql(),
        "lda_topic_diff": _lda_topic_diff_sql(),
        "corpus_slice": """
WITH ids AS (SELECT DISTINCT doc_id FROM documents),
pos AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        FROM ids),
keep AS (SELECT doc_id FROM pos
         WHERE pos >= 10 AND pos < 200 AND (pos - 10) % 7 = 0)
SELECT d.doc_id, d.lang, d.n_chars FROM documents d JOIN keep USING (doc_id)""",
        "corpus_repeat": """
WITH ids AS (SELECT DISTINCT doc_id FROM documents),
n AS (SELECT count(*)::BIGINT AS n FROM ids),
pos AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        FROM ids),
cfg AS (SELECT (666 // n.n) AS f, (666 % n.n) AS rem FROM n),
cyc AS (SELECT gs.generate_series AS rep FROM generate_series(0, 665) gs
        WHERE gs.generate_series < (SELECT f FROM cfg)),
out_full AS (SELECT p.doc_id, c.rep FROM pos p CROSS JOIN cyc c),
out_tail AS (SELECT p.doc_id, (SELECT f FROM cfg) AS rep FROM pos p
             WHERE p.pos < (SELECT rem FROM cfg))
SELECT doc_id, rep FROM out_full
UNION ALL SELECT doc_id, rep FROM out_tail""",
        "pii_scrub": _pii_scrub_sql(),
        "decontaminate": f"""{_PRELUDE},
dgrams AS (
  SELECT DISTINCT doc_id, s AS gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(greatest(len(tokens) - 2, 0)),
                  i -> array_to_string(tokens[i + 1 : i + 3], ' '))) AS s
    FROM tok)),
bgrams AS (SELECT DISTINCT gram FROM dgrams WHERE doc_id % 97 = 0),
hits AS (SELECT d.doc_id, count(*) AS n_hits
         FROM dgrams d JOIN bgrams b USING (gram) GROUP BY d.doc_id)
SELECT t.doc_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM tok t LEFT JOIN hits h USING (doc_id)""",
        "split_assign": _split_assign_sql(),
        "chunk_tokens": f"""{_PRELUDE},
ch AS (
  SELECT doc_id,
         unnest(list_transform(range(0, greatest(len(tokens), 0), 24),
                s -> struct_pack(cid := s // 24,
                                 c := tokens[s + 1 : s + 32]))) AS u
  FROM tok WHERE len(tokens) > 0)
SELECT doc_id, CAST(u.cid AS INTEGER) AS chunk_id,
       CAST(len(u.c) AS INTEGER) AS n_tokens,
       array_to_string(u.c, ' ') AS chunk
FROM ch""",
        "domain_stats": """
WITH d AS (SELECT source, coalesce(text, '') AS text FROM documents)
SELECT source AS domain, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       round(avg(length(text)), 6) AS mean_chars,
       count(DISTINCT md5(text)) AS distinct_texts,
       round((count(*) - count(DISTINCT md5(text)))::DOUBLE / count(*), 6)
         AS dup_frac
FROM d GROUP BY source""",
        # wmd_topk: the transportation LP itself stays pytest-pinned
        # (brute-force vertex enumeration + hypothesis sweep); the oracle
        # re-runs the retrieval tail over the persisted exact distances.
        "wmd_topk": _wmd_topk_sql(),
        # BPE first merge round, independently recomputed: same canonical
        # word form (</w> rides the last char), chars via 1-based substr
        "bpe_pair_counts": f"""{_PRELUDE},
words AS (SELECT token AS word, count(*) AS cnt FROM tlong GROUP BY token),
syms AS (
  SELECT cnt,
         CASE WHEN len(word) <= 1 THEN [word || '</w>']
              ELSE list_append([substr(word, i, 1)
                                for i in range(1, len(word))],
                               substr(word, len(word), 1) || '</w>')
         END AS s
  FROM words),
pairs AS (
  SELECT unnest([struct_pack(a := s[i], b := s[i + 1])
                 for i in range(1, len(s))]) AS p, cnt
  FROM syms)
SELECT p.a AS sym_a, p.b AS sym_b, CAST(sum(cnt) AS BIGINT) AS cnt
FROM pairs GROUP BY 1, 2
ORDER BY cnt DESC, sym_a ASC, sym_b ASC LIMIT 20""",
        # WAV codec end-to-end: DuckDB recomputes the integer sawtooth the
        # Spark side obtains by DECODING REAL RIFF BYTES, then the same
        # float64 aggregates (pure-integer zcr/peak comparisons are exact;
        # rms differs only at summation-order ulps, absorbed by round 6)
        "audio_features": f"""
WITH params AS (
  SELECT m, 8000 + 250 * m AS rate, 1500 + 37 * m AS n,
         40 + 3 * m AS p, 15000 + 500 * m AS a
  FROM range(0, {_AV_N_AUDIO}) t(m)),
samp AS (
  SELECT m, i,
         CAST(((i % p) * 2 * a) // p - a AS DOUBLE) / 32768.0 AS v
  FROM params, range(0, 3000) s(i) WHERE i < n),
lagged AS (
  SELECT m, v, lag(v) OVER (PARTITION BY m ORDER BY i) AS pv FROM samp),
zc AS (
  SELECT m, count(*) FILTER (WHERE v * pv < 0) AS crossings,
         sqrt(avg(v * v)) AS rms, max(abs(v)) AS peak
  FROM lagged GROUP BY m)
SELECT CAST(p.m AS BIGINT) AS media_id, CAST(p.rate AS INT) AS rate,
       CAST(p.n AS BIGINT) AS n_samples,
       ROUND(CAST(p.n AS DOUBLE) / p.rate, 6) AS duration_s,
       ROUND(zc.rms, 6) AS rms,
       ROUND(CAST(zc.crossings AS DOUBLE) / (p.n - 1), 6) AS zcr,
       ROUND(zc.peak, 6) AS peak
FROM params p JOIN zc ON p.m = zc.m""",
        # Y4M frame sampling end-to-end: the sampling grid (ts < n_frames *
        # 100 ms at 10 fps), the ts→frame mapping (ts // 100) and each
        # sampled frame's mean luma, recomputed from the integer pixel
        # formula the Spark side reads back out of REAL Y4M bytes
        "video_frame_sample": f"""
WITH params AS (
  SELECT m, 24 + m AS w, 16 + (m % 5) AS h, 12 + m AS nf
  FROM range(0, {_AV_N_VIDEO}) t(m)),
frames AS (
  SELECT m, w, h, ts, ts // 100 AS f
  FROM params, range(0, 2400, 300) s(ts) WHERE ts < nf * 100),
bright AS (
  SELECT m, f, ts, w, h,
         avg(CAST((17 * f + 5 * y + 3 * x + m) % 240 + 8 AS DOUBLE)) AS b
  FROM frames, range(0, 24) ys(y), range(0, 40) xs(x)
  WHERE y < h AND x < w
  GROUP BY m, f, ts, w, h)
SELECT CAST(m AS BIGINT) AS media_id, CAST(f AS INT) AS frame_idx,
       CAST(ts AS BIGINT) AS ts_ms, CAST(w AS INT) AS width,
       CAST(h AS INT) AS height, ROUND(b, 6) AS brightness
FROM bright""",
        # STFT end-to-end: the oracle recomputes the decoded waveform
        # analytically, then the SAME framing (hop 256), periodic Hann
        # window, and 64-point DFT as explicit trig sums — power = re²+im²
        # per (frame, bin). Any drift in the codec, the frame geometry,
        # the window, or the transform breaks the hash.
        "audio_spectrogram": f"""
WITH params AS (
  SELECT m, 1500 + 37 * m AS n, 40 + 3 * m AS p, 15000 + 500 * m AS a
  FROM range(0, {_AV_N_SPEC}) t(m)),
samp AS (
  SELECT m, i,
         CAST(((i % p) * 2 * a) // p - a AS DOUBLE) / 32768.0 AS v
  FROM params, range(0, 3000) s(i) WHERE i < n),
frames AS (
  SELECT m, f FROM params, range(0, 12) fr(f)
  WHERE f < 1 + (n - 64) // 256),
terms AS (
  SELECT fr.m, fr.f, s.i - fr.f * 256 AS j,
         s.v * (0.5 - 0.5 * cos(2 * pi() * (s.i - fr.f * 256) / 64.0)) AS w
  FROM frames fr JOIN samp s
    ON s.m = fr.m AND s.i >= fr.f * 256 AND s.i < fr.f * 256 + 64),
spec AS (
  SELECT t.m, t.f, b.bin,
         sum(t.w * cos(2 * pi() * b.bin * t.j / 64.0)) AS re,
         sum(t.w * sin(2 * pi() * b.bin * t.j / 64.0)) AS im
  FROM terms t, range(0, 33) b(bin)
  GROUP BY t.m, t.f, b.bin)
SELECT CAST(m AS BIGINT) AS media_id, CAST(f AS INT) AS frame,
       CAST(bin AS INT) AS bin, ROUND(re * re + im * im, 6) AS power
FROM spec""",
        # exact-phrase top-k: positions via 1-based list indexing over the
        # SAME tokenize, adjacency as a positional self-join, Lucene
        # phrase scoring (idf_sum × okapi saturation over phrase_tf) with
        # the prelude's ε-clamped idf table and Σcf/N avgdl
        "phrase_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
p0 AS (SELECT doc_id, pos FROM posx WHERE token = '{_PHRASE[0]}'),
p1 AS (SELECT doc_id, pos FROM posx WHERE token = '{_PHRASE[1]}'),
occ AS (SELECT p0.doc_id, count(*) AS ptf
        FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        GROUP BY p0.doc_id),
isum AS (SELECT sum(i.idf) AS s FROM idf i JOIN vocab_ids v USING (term_id)
         WHERE v.token IN ('{_PHRASE[0]}', '{_PHRASE[1]}')),
scored AS (
  SELECT o.doc_id, o.ptf,
         (SELECT s FROM isum) * (o.ptf * 2.5)
           / (o.ptf + 1.5 * (0.25 + 0.75 * d.dl / (SELECT a FROM avgdl)))
           AS score
  FROM occ o JOIN doclen d USING (doc_id))
SELECT doc_id, CAST(ptf AS INT) AS phrase_tf, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # ordered NEAR/2: anchor count via correlated EXISTS over the same
        # rebuilt positions, pseudo-term scoring identical to phrase_topk
        "near_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
pa AS (SELECT doc_id, pos FROM posx WHERE token = '{_NEAR[0]}'),
pb AS (SELECT doc_id, pos FROM posx WHERE token = '{_NEAR[1]}'),
anch AS (SELECT a.doc_id, a.pos FROM pa a
         WHERE EXISTS (SELECT 1 FROM pb b WHERE b.doc_id = a.doc_id
                       AND b.pos - a.pos BETWEEN 1 AND {_NEAR_SLOP + 1})),
occ AS (SELECT doc_id, count(*) AS ntf FROM anch GROUP BY doc_id),
isum AS (SELECT sum(i.idf) AS s FROM idf i JOIN vocab_ids v USING (term_id)
         WHERE v.token IN ('{_NEAR[0]}', '{_NEAR[1]}')),
scored AS (
  SELECT o.doc_id, o.ntf,
         (SELECT s FROM isum) * (o.ntf * 2.5)
           / (o.ntf + 1.5 * (0.25 + 0.75 * d.dl / (SELECT a FROM avgdl)))
           AS score
  FROM occ o JOIN doclen d USING (doc_id))
SELECT doc_id, CAST(ntf AS INT) AS near_tf, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # N-clause ordered SpanNear '"value table key"~4': the greedy
        # chain (clause i+1 takes its smallest position after clause i's
        # end) re-run as correlated min-subqueries over rebuilt
        # positions; a clause-0 anchor qualifies iff the chain completes
        # with stretch end − start ≤ slop + n − 1. Scoring identical to
        # phrase_topk (idf over member occurrences × okapi saturation).
        "near_multi_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
pa AS (SELECT doc_id, pos FROM posx WHERE token = '{_SPAN[0]}'),
pb AS (SELECT doc_id, pos FROM posx WHERE token = '{_SPAN[1]}'),
pc AS (SELECT doc_id, pos FROM posx WHERE token = '{_SPAN[2]}'),
chain1 AS (
  SELECT a.doc_id, a.pos,
         (SELECT min(b.pos) FROM pb b
          WHERE b.doc_id = a.doc_id AND b.pos > a.pos) AS e1
  FROM pa a),
chain2 AS (
  SELECT doc_id, pos,
         (SELECT min(c.pos) FROM pc c
          WHERE c.doc_id = chain1.doc_id AND c.pos > chain1.e1) AS e2
  FROM chain1 WHERE e1 IS NOT NULL),
occ AS (SELECT doc_id, count(*) AS ntf FROM chain2
        WHERE e2 IS NOT NULL AND e2 - pos <= {_SPAN_SLOP} + 2
        GROUP BY doc_id),
isum AS (SELECT sum(i.idf) AS s FROM idf i JOIN vocab_ids v USING (term_id)
         WHERE v.token IN ('{_SPAN[0]}', '{_SPAN[1]}', '{_SPAN[2]}')),
scored AS (
  SELECT o.doc_id, o.ntf,
         (SELECT s FROM isum) * (o.ntf * 2.5)
           / (o.ntf + 1.5 * (0.25 + 0.75 * d.dl / (SELECT a FROM avgdl)))
           AS score
  FROM occ o JOIN doclen d USING (doc_id))
SELECT doc_id, CAST(ntf AS INT) AS near_tf, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # ordered SpanNear with OR-clauses 'value (table|key) (row|part)'
        # within slop 3: the greedy chain with per-clause IN lists as
        # correlated min-subqueries; idf sums over ALL member terms
        # (MultiPhraseWeight), scoring as phrase_topk
        "span_or_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
p0 AS (SELECT doc_id, pos FROM posx
       WHERE token IN ('{_SPAN_OR[0][0]}')),
p1 AS (SELECT doc_id, pos FROM posx
       WHERE token IN ('{_SPAN_OR[1][0]}', '{_SPAN_OR[1][1]}')),
p2 AS (SELECT doc_id, pos FROM posx
       WHERE token IN ('{_SPAN_OR[2][0]}', '{_SPAN_OR[2][1]}')),
chain1 AS (
  SELECT a.doc_id, a.pos,
         (SELECT min(b.pos) FROM p1 b
          WHERE b.doc_id = a.doc_id AND b.pos > a.pos) AS e1
  FROM p0 a),
chain2 AS (
  SELECT doc_id, pos,
         (SELECT min(c.pos) FROM p2 c
          WHERE c.doc_id = chain1.doc_id AND c.pos > chain1.e1) AS e2
  FROM chain1 WHERE e1 IS NOT NULL),
occ AS (SELECT doc_id, count(*) AS ntf FROM chain2
        WHERE e2 IS NOT NULL AND e2 - pos <= {_SPAN_OR_SLOP} + 2
        GROUP BY doc_id),
isum AS (SELECT sum(i.idf) AS s FROM idf i JOIN vocab_ids v USING (term_id)
         WHERE v.token IN ('{_SPAN_OR[0][0]}', '{_SPAN_OR[1][0]}',
                           '{_SPAN_OR[1][1]}', '{_SPAN_OR[2][0]}',
                           '{_SPAN_OR[2][1]}')),
scored AS (
  SELECT o.doc_id, o.ntf,
         (SELECT s FROM isum) * (o.ntf * 2.5)
           / (o.ntf + 1.5 * (0.25 + 0.75 * d.dl / (SELECT a FROM avgdl)))
           AS score
  FROM occ o JOIN doclen d USING (doc_id))
SELECT doc_id, CAST(ntf AS INT) AS near_tf, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # SpanNot 'value (table|key)'~2 NOT 'slow' (pre=1, post=1): the
        # greedy chain + a NOT EXISTS probe over [start − pre, end +
        # post]; include-only idf, scoring as phrase_topk
        "span_not_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
p0 AS (SELECT doc_id, pos FROM posx
       WHERE token IN ('{_SPAN_NOT_INC[0][0]}')),
p1 AS (SELECT doc_id, pos FROM posx
       WHERE token IN ('{_SPAN_NOT_INC[1][0]}', '{_SPAN_NOT_INC[1][1]}')),
ex AS (SELECT doc_id, pos FROM posx
       WHERE token IN ('{_SPAN_NOT_EX[0]}')),
chain1 AS (
  SELECT a.doc_id, a.pos,
         (SELECT min(b.pos) FROM p1 b
          WHERE b.doc_id = a.doc_id AND b.pos > a.pos) AS e1
  FROM p0 a),
occ AS (SELECT doc_id, count(*) AS ntf FROM chain1
        WHERE e1 IS NOT NULL AND e1 - pos <= {_SPAN_NOT["slop"]} + 1
          AND NOT EXISTS (SELECT 1 FROM ex
                          WHERE ex.doc_id = chain1.doc_id
                          AND ex.pos BETWEEN chain1.pos - {_SPAN_NOT["pre"]}
                                         AND chain1.e1 + {_SPAN_NOT["post"]})
        GROUP BY doc_id),
isum AS (SELECT sum(i.idf) AS s FROM idf i JOIN vocab_ids v USING (term_id)
         WHERE v.token IN ('{_SPAN_NOT_INC[0][0]}', '{_SPAN_NOT_INC[1][0]}',
                           '{_SPAN_NOT_INC[1][1]}')),
scored AS (
  SELECT o.doc_id, o.ntf,
         (SELECT s FROM isum) * (o.ntf * 2.5)
           / (o.ntf + 1.5 * (0.25 + 0.75 * d.dl / (SELECT a FROM avgdl)))
           AS score
  FROM occ o JOIN doclen d USING (doc_id))
SELECT doc_id, CAST(ntf AS INT) AS near_tf, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # multi-field BM25F-lite: the oracle rebuilds BOTH field indexes
        # (body = the prelude's; title = first-8-tokens with its own
        # vocab/df/idf/avgdl/doclen), scores each field's okapi
        # disjunction separately, and fuses 2·title + body before the
        # rank window — any drift in either field's statistics or the
        # boost composition breaks the hash
        "bm25f_topk": f"""{_PRELUDE},
b_idf_raw AS (SELECT term_id,
              ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
              FROM vocab_ids),
b_idf AS (SELECT term_id,
          CASE WHEN ridf < 0
               THEN 0.25 * (SELECT avg(ridf) FROM b_idf_raw) ELSE ridf
          END AS idf FROM b_idf_raw),
b_avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
b_q AS (SELECT term_id FROM vocab_ids
        WHERE token IN ('{_BM25F_Q[0]}', '{_BM25F_Q[1]}')),
b_scores AS (
  SELECT p.doc_id,
         sum(i.idf * (p.tf * 2.5
             / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                              / (SELECT a FROM b_avgdl))))) AS score
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN b_idf i USING (term_id)
  JOIN b_q USING (term_id)
  GROUP BY p.doc_id),
t_tlong AS (SELECT doc_id, unnest(tokens[1:{_BM25F_TITLE_LEN}]) AS token
            FROM tok),
t_vocab AS (SELECT token, count(*) AS cf, count(DISTINCT doc_id) AS df
            FROM t_tlong GROUP BY token),
t_postings AS (SELECT doc_id, token, count(*) AS tf
               FROM t_tlong GROUP BY doc_id, token),
t_doclen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             FROM t_tlong GROUP BY doc_id),
t_idf_raw AS (SELECT token,
              ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
              FROM t_vocab),
t_idf AS (SELECT token,
          CASE WHEN ridf < 0
               THEN 0.25 * (SELECT avg(ridf) FROM t_idf_raw) ELSE ridf
          END AS idf FROM t_idf_raw),
t_avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM t_vocab),
t_scores AS (
  SELECT p.doc_id,
         sum(i.idf * (p.tf * 2.5
             / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                              / (SELECT a FROM t_avgdl))))) AS score
  FROM t_postings p
  JOIN t_doclen d USING (doc_id)
  JOIN t_idf i USING (token)
  WHERE p.token IN ('{_BM25F_Q[0]}', '{_BM25F_Q[1]}')
  GROUP BY p.doc_id),
fused AS (
  SELECT COALESCE(b.doc_id, t.doc_id) AS doc_id,
         COALESCE(b.score, 0) + {_BM25F_BOOST_TITLE} * COALESCE(t.score, 0)
           AS score
  FROM b_scores b FULL JOIN t_scores t ON b.doc_id = t.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM fused WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # prefix query: LIKE-expansion over the vocab, disjunctive okapi
        # scoring, gensim's |score| rank + zero drop
        "prefix_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
qterms AS (SELECT term_id FROM vocab_ids WHERE token LIKE '{_PREFIX}%'),
scores AS (SELECT w.doc_id, sum(w.weight) AS score
           FROM weights w JOIN qterms USING (term_id)
           GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM scores WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # boolean query: must as HAVING over distinct must-term hits,
        # must_not as NOT EXISTS, scored over must+should weights
        "bool_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
mustt AS (SELECT term_id FROM vocab_ids
          WHERE token IN ('{_BOOL["must"][0]}')),
qterms AS (SELECT term_id FROM vocab_ids
           WHERE token IN ('{_BOOL["must"][0]}', '{_BOOL["should"][0]}',
                           '{_BOOL["should"][1]}')),
nott AS (SELECT term_id FROM vocab_ids
         WHERE token IN ('{_BOOL["must_not"][0]}')),
gate AS (SELECT w.doc_id FROM weights w JOIN mustt USING (term_id)
         GROUP BY w.doc_id
         HAVING count(DISTINCT w.term_id) = (SELECT count(*) FROM mustt)),
scores AS (
  SELECT w.doc_id, sum(w.weight) AS score
  FROM weights w JOIN qterms USING (term_id)
  WHERE w.doc_id IN (SELECT doc_id FROM gate)
    AND NOT EXISTS (SELECT 1 FROM weights x JOIN nott USING (term_id)
                    WHERE x.doc_id = w.doc_id)
  GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM scores WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # wildcard query: the Lucene pattern translates 1:1 to LIKE
        # ('s?a*' → 's_a%'), the SAME translation the Spark side uses —
        # then the prefix oracle's expansion + scoring shape
        "wildcard_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
qterms AS (SELECT term_id FROM vocab_ids
           WHERE token LIKE '{_wildcard_like()}' ESCAPE '\\'),
scores AS (SELECT w.doc_id, sum(w.weight) AS score
           FROM weights w JOIN qterms USING (term_id)
           GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM scores WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # fuzzy query: DuckDB's OWN levenshtein() re-derives the
        # expansion set the Spark side built via FastSS variants +
        # banded verify — two independent edit-distance implementations
        # must agree for the hash to match
        "fuzzy_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
qterms AS (SELECT term_id FROM vocab_ids
           WHERE levenshtein(token, '{_FUZZY_WORD}') <= {_FUZZY_DIST}),
scores AS (SELECT w.doc_id, sum(w.weight) AS score
           FROM weights w JOIN qterms USING (term_id)
           GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM scores WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # minimum_should_match as a HAVING over distinct should hits,
        # boost as a CASE multiplier on the weight sum
        "bool_msm_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
sh AS (SELECT term_id FROM vocab_ids
       WHERE token IN ('{_MSM["should"][0]}', '{_MSM["should"][1]}',
                       '{_MSM["should"][2]}')),
boostt AS (SELECT term_id FROM vocab_ids
           WHERE token = '{_MSM["boost_tok"]}'),
gate AS (SELECT w.doc_id FROM weights w JOIN sh USING (term_id)
         GROUP BY w.doc_id
         HAVING count(DISTINCT w.term_id) >= {_MSM["msm"]}),
scores AS (
  SELECT w.doc_id,
         sum(w.weight * CASE WHEN w.term_id IN (SELECT term_id FROM boostt)
                             THEN {_MSM["boost"]} ELSE 1.0 END) AS score
  FROM weights w JOIN sh USING (term_id)
  WHERE w.doc_id IN (SELECT doc_id FROM gate)
  GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM scores WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # MultiPhrase 'value (table|key)': the alternative leg is an
        # IN-list over the rebuilt positions; idf = Σ over ALL member
        # terms (Lucene MultiPhraseWeight), okapi saturation as phrase
        "multi_phrase_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
p0 AS (SELECT doc_id, pos FROM posx WHERE token = '{_MPHRASE[0][0]}'),
p1 AS (SELECT DISTINCT doc_id, pos FROM posx
       WHERE token IN ('{_MPHRASE[1][0]}', '{_MPHRASE[1][1]}')),
occ AS (SELECT p0.doc_id, count(*) AS ptf
        FROM p0 JOIN p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1
        GROUP BY p0.doc_id),
isum AS (SELECT sum(i.idf) AS s FROM idf i JOIN vocab_ids v USING (term_id)
         WHERE v.token IN ('{_MPHRASE[0][0]}', '{_MPHRASE[1][0]}',
                           '{_MPHRASE[1][1]}')),
scored AS (
  SELECT o.doc_id, o.ptf,
         (SELECT s FROM isum) * (o.ptf * 2.5)
           / (o.ptf + 1.5 * (0.25 + 0.75 * d.dl / (SELECT a FROM avgdl)))
           AS score
  FROM occ o JOIN doclen d USING (doc_id))
SELECT doc_id, CAST(ptf AS INT) AS phrase_tf, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # best-passage snippets: hit anchors, correlated distinct-term
        # window counts, per-doc argmax (n desc, start asc), marked
        # token-slice join — the whole highlighter fold re-run in SQL
        "snippets_best": f"""{_PRELUDE},
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
hits AS (SELECT doc_id, token, pos FROM posx
         WHERE token IN ('{_SNIP_Q[0]}', '{_SNIP_Q[1]}', '{_SNIP_Q[2]}')),
wins AS (SELECT a.doc_id, a.pos AS s,
                (SELECT count(DISTINCT h.token) FROM hits h
                 WHERE h.doc_id = a.doc_id AND h.pos >= a.pos
                   AND h.pos < a.pos + {_SNIP_W}) AS n
         FROM hits a),
best AS (SELECT doc_id, s, n,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n DESC, s ASC) AS rn
         FROM wins QUALIFY rn = 1),
snip AS (SELECT b.doc_id, b.s, b.n,
                array_to_string(list_transform(
                  t.tokens[b.s + 1 : b.s + {_SNIP_W}],
                  x -> CASE WHEN x = '{_SNIP_Q[0]}' OR x = '{_SNIP_Q[1]}'
                                 OR x = '{_SNIP_Q[2]}'
                            THEN '<b>' || x || '</b>' ELSE x END), ' ')
                  AS snippet
         FROM best b JOIN tok t USING (doc_id))
SELECT doc_id, CAST(s AS INT) AS start, CAST(n AS INT) AS n_terms, snippet
FROM snip
ORDER BY doc_id""",
        # More-Like-This: selection = top-|weight| terms of the source
        # doc under the df gate (ORDER BY abs(weight) DESC, term_id
        # LIMIT mqt), then the disjunctive scorer with the source
        # excluded — both stages re-run in SQL
        "mlt_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
sel AS (SELECT w.term_id FROM weights w JOIN vocab_ids v USING (term_id)
        WHERE w.doc_id = {_MLT["doc"]} AND v.df >= {_MLT["min_df"]}
        ORDER BY abs(w.weight) DESC, w.term_id ASC LIMIT {_MLT["mqt"]}),
scores AS (SELECT w.doc_id, sum(w.weight) AS score
           FROM weights w JOIN sel USING (term_id)
           WHERE w.doc_id <> {_MLT["doc"]}
           GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM scores WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # span-first: qualifying tf = positions < end over the rebuilt
        # positional postings, single-term pseudo-term scoring
        "span_first_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
posx AS (SELECT doc_id, unnest(tokens) AS token,
                generate_subscripts(tokens, 1) - 1 AS pos
         FROM tok),
occ AS (SELECT doc_id, count(*) AS ftf FROM posx
        WHERE token = '{_SPANF["token"]}' AND pos < {_SPANF["end"]}
        GROUP BY doc_id),
iv AS (SELECT i.idf AS v FROM idf i JOIN vocab_ids vv USING (term_id)
       WHERE vv.token = '{_SPANF["token"]}'),
scored AS (
  SELECT o.doc_id, o.ftf,
         (SELECT v FROM iv) * (o.ftf * 2.5)
           / (o.ftf + 1.5 * (0.25 + 0.75 * d.dl / (SELECT a FROM avgdl)))
           AS score
  FROM occ o JOIN doclen d USING (doc_id))
SELECT doc_id, CAST(ftf AS INT) AS first_tf, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # facet counts: match set = docs containing the term, then one
        # per-source count
        "facet_counts": f"""{_PRELUDE},
m AS (SELECT DISTINCT p.doc_id FROM postings p
      JOIN vocab_ids v USING (term_id)
      WHERE v.token = '{_FACET_TOKEN}')
SELECT d.source AS value, count(*) AS count
FROM documents d JOIN m USING (doc_id)
WHERE d.source IS NOT NULL
GROUP BY d.source
ORDER BY count DESC, value ASC""",
        # range facets: clamped fixed-width buckets left-joined onto a
        # generated axis so empty buckets keep their 0 row
        "facet_ranges": f"""{_PRELUDE},
m AS (SELECT DISTINCT p.doc_id FROM postings p
      JOIN vocab_ids v USING (term_id)
      WHERE v.token = '{_FACET_TOKEN}'),
b AS (SELECT LEAST(5, GREATEST(0,
             CAST(floor(d.n_chars / 100.0) AS INT))) AS bucket
      FROM documents d JOIN m USING (doc_id)),
c AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
axis AS (SELECT CAST(i AS INT) AS bucket,
                CAST(i * 100.0 AS DOUBLE) AS lo,
                CAST((i + 1) * 100.0 AS DOUBLE) AS hi
         FROM range(0, 6) t(i))
SELECT a.bucket, a.lo, a.hi, COALESCE(c.cnt, 0) AS count
FROM axis a LEFT JOIN c USING (bucket)
ORDER BY a.bucket""",
        # field collapsing: best doc per source (rank window partitioned
        # by source over the match set), survivors re-ranked with the
        # engine's |score|/zero-drop semantics
        "collapse_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
qterms AS (SELECT term_id FROM vocab_ids
           WHERE token IN ('{_COLLAPSE_Q[0]}', '{_COLLAPSE_Q[1]}',
                           '{_COLLAPSE_Q[2]}')),
scores1 AS (SELECT w.doc_id, sum(w.weight) AS score
            FROM weights w JOIN qterms USING (term_id)
            GROUP BY w.doc_id),
best AS (SELECT s.doc_id, s.score, d.source,
                row_number() OVER (PARTITION BY d.source
                                   ORDER BY abs(s.score) DESC,
                                            s.doc_id ASC) AS rn
         FROM scores1 s JOIN documents d USING (doc_id)
         QUALIFY rn = 1)
SELECT CAST(0 AS INT) AS query_id, doc_id, source,
       ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM best WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # Rocchio pseudo-relevance feedback, both passes replayed:
        # pass-1 rank → top-5 centroid → 3 strongest new terms at β →
        # weighted pass-2 rescore
        "rocchio_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
q0 AS (SELECT term_id FROM vocab_ids WHERE token = '{_ROCCHIO["token"]}'),
s1 AS (SELECT w.doc_id, sum(w.weight) AS score
       FROM weights w JOIN q0 USING (term_id) GROUP BY w.doc_id),
fb AS (SELECT doc_id FROM s1 WHERE score <> 0
       QUALIFY row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC)
               <= {_ROCCHIO["fb_docs"]}),
cent AS (SELECT w.term_id,
                sum(w.weight)
                  / (SELECT count(DISTINCT doc_id) FROM fb) AS c
         FROM weights w JOIN fb USING (doc_id) GROUP BY w.term_id),
exp AS (SELECT term_id, {_ROCCHIO["beta"]} * c AS qw FROM cent
        WHERE term_id NOT IN (SELECT term_id FROM q0)
        QUALIFY row_number() OVER (ORDER BY abs(c) DESC, term_id ASC)
                <= {_ROCCHIO["fb_terms"]}),
qq AS (SELECT term_id, {_ROCCHIO["alpha"]} * 1.0 AS qw FROM q0
       UNION ALL SELECT term_id, qw FROM exp),
s2 AS (SELECT w.doc_id, sum(w.weight * q.qw) AS score
       FROM weights w JOIN qq q USING (term_id) GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM s2 WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # sort-by-field: the match set ranked by n_chars desc / doc asc
        "sort_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
q0 AS (SELECT term_id FROM vocab_ids WHERE token = '{_FACET_TOKEN}'),
s1 AS (SELECT w.doc_id, sum(w.weight) AS score
       FROM weights w JOIN q0 USING (term_id) GROUP BY w.doc_id),
j AS (SELECT s1.doc_id, s1.score, d.n_chars
      FROM s1 JOIN documents d USING (doc_id))
SELECT CAST(0 AS INT) AS query_id, doc_id, n_chars,
       ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS INT)
         AS rank
FROM j
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # searchAfter page 2 verified against OFFSET semantics: global
        # rows 11..20 re-based to 1..10 must equal the cursor page
        "sort_topk_page2": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
q0 AS (SELECT term_id FROM vocab_ids WHERE token = '{_FACET_TOKEN}'),
s1 AS (SELECT w.doc_id, sum(w.weight) AS score
       FROM weights w JOIN q0 USING (term_id) GROUP BY w.doc_id),
j AS (SELECT s1.doc_id, s1.score, d.n_chars,
             row_number() OVER (ORDER BY d.n_chars DESC, s1.doc_id ASC)
               AS gr
      FROM s1 JOIN documents d USING (doc_id))
SELECT CAST(0 AS INT) AS query_id, doc_id, n_chars,
       ROUND(score, 6) AS score, CAST(gr - {TOPK_K} AS INT) AS rank
FROM j
WHERE gr > {TOPK_K} AND gr <= {2 * TOPK_K}
ORDER BY rank""",
        # regexp query: the SAME portable pattern via regexp_full_match
        # (RE2) re-derives the expansion Spark's rlike produced
        "regexp_topk": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
qterms AS (SELECT term_id FROM vocab_ids
           WHERE regexp_full_match(token, '{_REGEXP}')),
scores AS (SELECT w.doc_id, sum(w.weight) AS score
           FROM weights w JOIN qterms USING (term_id)
           GROUP BY w.doc_id)
SELECT CAST(0 AS INT) AS query_id, doc_id, ROUND(score, 6) AS score,
       CAST(row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC) AS INT)
         AS rank
FROM scores WHERE score <> 0
QUALIFY rank <= {TOPK_K}
ORDER BY rank""",
        # score explanation: re-derive the top-3 docs, then every
        # per-term contribution row behind their scores
        "explain_scores": f"""{_PRELUDE},
idf_raw AS (SELECT term_id,
            ln((SELECT n FROM nd) - df + 0.5) - ln(df + 0.5) AS ridf
            FROM vocab_ids),
idf AS (SELECT term_id,
        CASE WHEN ridf < 0
             THEN 0.25 * (SELECT avg(ridf) FROM idf_raw) ELSE ridf END AS idf
        FROM idf_raw),
avgdl AS (SELECT sum(cf)::DOUBLE / (SELECT n FROM nd) AS a FROM vocab_ids),
weights AS (
  SELECT p.doc_id, p.term_id,
         i.idf * (p.tf * 2.5 / (p.tf + 1.5 * (0.25 + 0.75 * d.dl
                                              / (SELECT a FROM avgdl))))
           AS weight
  FROM postings p
  JOIN doclen d USING (doc_id)
  JOIN idf i USING (term_id)),
qterms AS (SELECT term_id FROM vocab_ids
           WHERE token IN ('{_COLLAPSE_Q[0]}', '{_COLLAPSE_Q[1]}',
                           '{_COLLAPSE_Q[2]}')),
scores AS (SELECT w.doc_id, sum(w.weight) AS score
           FROM weights w JOIN qterms USING (term_id)
           GROUP BY w.doc_id),
top3 AS (SELECT doc_id FROM scores WHERE score <> 0
         QUALIFY row_number() OVER (ORDER BY abs(score) DESC, doc_id ASC)
                 <= 3)
SELECT CAST(0 AS INT) AS query_id, w.doc_id, w.term_id, v.token,
       ROUND(w.weight, 6) AS weight, 1.0 AS q_weight,
       ROUND(w.weight * 1.0, 6) AS contribution
FROM weights w
JOIN qterms USING (term_id)
JOIN vocab_ids v USING (term_id)
JOIN top3 USING (doc_id)
ORDER BY w.doc_id, w.term_id""",
    }
