"""gensim-shaped API facade.

A user of the reference drives it through ``Dictionary`` / ``TfidfModel`` /
``OkapiBM25Model`` / ``SparseMatrixSimilarity`` / ``Phrases``. This module
re-exposes that surface 1:1 over the Spark operators so existing call sites
port line-for-line — the difference is that corpora are DataFrames of
``(doc_id, tokens)`` instead of python iterables, and "a list of (id, val)
pairs" is the long-form postings DataFrame ``(doc_id, term_id, ...)``.

Reference classes mirrored (semantics, not code):
- ``gensim.corpora.Dictionary`` (gensim/corpora/dictionary.py:60-700)
- ``gensim.models.TfidfModel`` (gensim/models/tfidfmodel.py:180-543)
- ``gensim.models.OkapiBM25Model``/``LuceneBM25Model``/``AtireBM25Model``
  (gensim/models/bm25model.py:30-270)
- ``gensim.similarities.SparseMatrixSimilarity`` + ``Similarity``
  (gensim/similarities/docsim.py:260-758, 1150-1300)
- ``gensim.models.Phrases``/``FrozenPhrases`` (gensim/models/phrases.py)

Everything here is thin delegation — the operator modules carry the plans,
their tests, and the oracle entries; the facade is tested for surface parity
in tests/test_api.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gensim_spark.operators import bm25 as _bm25
from gensim_spark.operators import bow as _bow
from gensim_spark.operators import phrases as _phrases
from gensim_spark.operators import tfidf as _tfidf
from gensim_spark.operators import topk as _topk
from gensim_spark.operators import vocab as _vocab

ENGLISH_CONNECTOR_WORDS = _phrases.ENGLISH_CONNECTOR_WORDS


class Dictionary:
    """``gensim.corpora.Dictionary`` over a (doc_id, tokens) DataFrame.

    ``.df`` is the vocab table (token, term_id, df, cf, first_doc); ids are
    gensim-deterministic (rank over (first_doc, token) ≙ arrival order +
    per-doc sorted inserts, dictionary.py:230-260).
    """

    def __init__(self, documents: DataFrame | None = None,
                 vocab_df: DataFrame | None = None,
                 num_docs: int | None = None):
        self._corpus = documents
        if vocab_df is not None:
            self.df = vocab_df
            self.num_docs = num_docs if num_docs is not None else 0
        else:
            self.df = _vocab.build_vocab(documents)
            self.num_docs = documents.count()

    # --- stats / lookups -----------------------------------------------------

    #: Guard for the dict-materializing compat properties below: they
    #: collect the WHOLE vocabulary to the driver (faithful to gensim's
    #: in-memory dict surface, fine for compat-sized vocabs) and would OOM
    #: on a web-scale vocabulary. Raise above this row count and point at
    #: the distributed ``.df`` surface instead.
    MAX_DRIVER_VOCAB = 5_000_000

    def __len__(self) -> int:
        return self.df.count()

    def _guard_collect(self, what: str) -> None:
        n = self.df.count()
        if n > self.MAX_DRIVER_VOCAB:
            raise ValueError(
                f"Dictionary.{what} would collect {n:,} vocabulary rows to "
                f"the driver (limit {self.MAX_DRIVER_VOCAB:,}). Use the "
                "distributed `.df` DataFrame surface instead, or raise "
                "Dictionary.MAX_DRIVER_VOCAB explicitly.")

    @property
    def token2id(self) -> dict[str, int]:
        """Driver-side dict (gensim compat). See :attr:`MAX_DRIVER_VOCAB`."""
        self._guard_collect("token2id")
        return {r["token"]: r["term_id"]
                for r in self.df.select("token", "term_id").collect()}

    @property
    def dfs(self) -> dict[int, int]:
        """Driver-side dict (gensim compat). See :attr:`MAX_DRIVER_VOCAB`."""
        self._guard_collect("dfs")
        return {r["term_id"]: r["df"]
                for r in self.df.select("term_id", "df").collect()}

    @property
    def cfs(self) -> dict[int, int]:
        """Driver-side dict (gensim compat). See :attr:`MAX_DRIVER_VOCAB`."""
        self._guard_collect("cfs")
        return {r["term_id"]: r["cf"]
                for r in self.df.select("term_id", "cf").collect()}

    # --- transforms ----------------------------------------------------------

    def doc2bow(self, documents: DataFrame) -> DataFrame:
        """Frozen doc2bow: unknown tokens dropped (dictionary.py:240-243).
        → postings (doc_id, term_id, tf)."""
        return _bow.doc2bow_postings(documents, self.df)

    def doc2idx(self, documents: DataFrame) -> DataFrame:
        """Positional token→id arrays, unknown → -1
        (dictionary.py:274-306)."""
        return _vocab.doc2idx(documents, self.df)

    # --- maintenance (each returns a NEW Dictionary; tables are immutable) ---

    def filter_extremes(self, no_below: int = 5, no_above: float = 0.5,
                        keep_n: int = 100000) -> "Dictionary":
        out = _vocab.filter_extremes(self.df, self.num_docs, no_below,
                                     no_above, keep_n)
        return Dictionary(self._corpus, vocab_df=out, num_docs=self.num_docs)

    def filter_n_most_frequent(self, remove_n: int) -> "Dictionary":
        out = _vocab.filter_n_most_frequent(self.df, remove_n)
        return Dictionary(self._corpus, vocab_df=out, num_docs=self.num_docs)

    def filter_tokens(self, bad_ids=None, good_ids=None) -> "Dictionary":
        bad_tokens = good_tokens = None
        if bad_ids is not None:
            ids = list(bad_ids)
            bad_tokens = [r["token"] for r in
                          self.df.filter(F.col("term_id").isin(ids))
                          .collect()]
        if good_ids is not None:
            ids = list(good_ids)
            good_tokens = [r["token"] for r in
                           self.df.filter(F.col("term_id").isin(ids))
                           .collect()]
        out = _vocab.filter_tokens(self.df, bad_tokens=bad_tokens,
                                   good_tokens=good_tokens)
        return Dictionary(self._corpus, vocab_df=out, num_docs=self.num_docs)

    def merge_with(self, other: "Dictionary") -> "Dictionary":
        out = _vocab.merge_with(self.df, other.df)
        return Dictionary(self._corpus, vocab_df=out,
                          num_docs=self.num_docs + other.num_docs)

    def most_common(self, n: int = 10) -> list[tuple[str, int]]:
        return [(r["token"], r["cf"])
                for r in _vocab.most_common(self.df, n).collect()]

    def patch_with_special_tokens(self, special_token_dict) -> "Dictionary":
        out = _vocab.patch_with_special_tokens(self.df, special_token_dict)
        return Dictionary(self._corpus, vocab_df=out, num_docs=self.num_docs)

    def save_as_text(self, fname: str) -> None:
        from gensim_spark.sources.textcorpus import save_vocab_as_text

        save_vocab_as_text(self.df, fname, self.num_docs)

    @staticmethod
    def load_from_text(spark: SparkSession, fname: str) -> "Dictionary":
        from gensim_spark.sources.textcorpus import load_vocab_from_text

        vocab, num_docs = load_vocab_from_text(spark, fname)
        return Dictionary(None, vocab_df=vocab, num_docs=num_docs)


class TfidfModel:
    """``gensim.models.TfidfModel`` (SMART-IRS) over postings DataFrames."""

    def __init__(self, dictionary: Dictionary, smartirs: str = "nfc",
                 pivot: float | None = None, slope: float = 0.25,
                 eps: float = 1e-12):
        self.dictionary = dictionary
        self.smartirs, self.pivot, self.slope, self.eps = (smartirs, pivot,
                                                           slope, eps)

    def __getitem__(self, postings: DataFrame) -> DataFrame:
        term_lens = None
        if self.smartirs[2] == "b" and self.pivot is not None:
            term_lens = self.dictionary.df.select(
                "term_id", F.length("token").alias("term_len"))
        return _tfidf.tfidf_postings(
            postings, self.dictionary.df.select("term_id", "df"),
            self.dictionary.num_docs, smartirs=self.smartirs, eps=self.eps,
            pivot=self.pivot, slope=self.slope, term_lens=term_lens,
        )


class LogEntropyModel:
    def __init__(self, normalize: bool = True):
        self.normalize = normalize

    def __getitem__(self, postings: DataFrame) -> DataFrame:
        return _tfidf.log_entropy_postings(postings, self.normalize)


class RpModel:
    """``gensim.models.RpModel`` (rpmodel.py:50-155): random-projection
    topic vectors. The ±1 Achlioptas matrix is hash-derived (deterministic,
    never materialized) instead of drawn from numpy's global RNG — the
    reference model is only defined up to that draw; see operators/rp.py.
    ``corpus`` is accepted for signature parity but unused (no fit step)."""

    def __init__(self, corpus: DataFrame | None = None,
                 id2word: Dictionary | None = None, num_topics: int = 300):
        from gensim_spark.operators import rp as _rp

        self._rp = _rp
        self.id2word = id2word
        self.num_topics = num_topics

    def __getitem__(self, postings: DataFrame) -> DataFrame:
        return self._rp.rp_topics(postings, num_topics=self.num_topics,
                                  weight_col="tf")


class LsiModel:
    """``gensim.models.LsiModel`` (lsimodel.py:364-660): fit a distributed
    randomized SVD over the corpus postings at construction; ``model[bow]``
    returns per-doc topic vectors (uᵀ·x) in long form. See operators/lsi.py
    for the algorithm and its exactness property."""

    def __init__(self, corpus: DataFrame, id2word: Dictionary | None = None,
                 num_topics: int = 200, power_iters: int | None = None,
                 extra_dims: int | None = None, weight_col: str = "tf"):
        from gensim_spark.operators import lsi as _lsi

        self._lsi = _lsi
        self.id2word = id2word
        self.num_topics = num_topics
        self.weight_col = weight_col
        self.projection = _lsi.lsi_fit(
            corpus, num_topics=num_topics,
            power_iters=(_lsi.P2_EXTRA_ITERS if power_iters is None
                         else power_iters),
            extra_dims=extra_dims, weight_col=weight_col)

    def __getitem__(self, postings: DataFrame) -> DataFrame:
        return self._lsi.doc_topics(postings, self.projection,
                                    weight_col=self.weight_col)

    def add_documents(self, corpus: DataFrame, decay: float = 1.0) -> None:
        """Online update (lsimodel.py:470-545): decompose the new postings
        chunk and merge it into the projection with ``decay`` — the
        streamed one-pass algorithm of the reference."""
        self.projection = self._lsi.add_documents(
            self.projection, corpus, decay=decay,
            weight_col=self.weight_col)
        self.num_topics = self.projection.num_topics

    def show_topic(self, topic_id: int, topn: int = 10) -> DataFrame:
        if self.id2word is None:
            raise ValueError("show_topic needs id2word (a Dictionary)")
        return self._lsi.show_topic(self.projection, self.id2word.df,
                                    topic_id, topn)


class LdaModel:
    """``gensim.models.LdaModel`` (ldamodel.py:352-522): batch
    variational-Bayes fit at construction over (doc_id, term_id, tf)
    postings; ``model[postings]`` / ``get_document_topics`` return
    (doc_id, topic_id, probability) rows. The λ matrix is driver-resident
    exactly as in the reference; see operators/lda.py for the Spark shape
    and the determinism deviation (per-document seeded γ init)."""

    def __init__(self, corpus: DataFrame, id2word: Dictionary | None = None,
                 num_topics: int = 100, passes: int = 1,
                 iterations: int = 50, alpha="symmetric", eta=None,
                 decay: float = 0.5, offset: float = 1.0,
                 gamma_threshold: float = 0.001,
                 minimum_probability: float = 0.01, random_state: int = 13):
        from gensim_spark.operators import lda as _lda

        self._lda = _lda
        self.id2word = id2word
        self.num_topics = num_topics
        num_terms = len(id2word) if id2word is not None else None
        self.model = _lda.lda_fit(
            corpus, num_topics=num_topics, num_terms=num_terms,
            passes=passes, iterations=iterations, alpha=alpha, eta=eta,
            decay=decay, offset=offset, gamma_threshold=gamma_threshold,
            minimum_probability=minimum_probability,
            random_seed=random_state)

    def get_document_topics(self, postings: DataFrame,
                            minimum_probability: float | None = None
                            ) -> DataFrame:
        return self._lda.doc_topics(postings, self.model,
                                    minimum_probability)

    __getitem__ = get_document_topics

    def get_topics(self):
        return self.model.get_topics()

    def show_topic(self, topicid: int, topn: int = 10):
        """list of (token, prob), like the reference (ldamodel.py:1202-1219).
        Driver-side by construction — the topic row is already local."""
        if self.id2word is None:
            raise ValueError("show_topic needs id2word (a Dictionary)")
        rows = self._lda.show_topic(self.model, self.id2word.df,
                                    topicid, topn).collect()
        return [(r["token"], r["prob"]) for r in rows]

    def get_term_topics(self, term_id: int,
                        minimum_probability: float | None = None):
        return self._lda.get_term_topics(self.model, term_id,
                                         minimum_probability)

    def top_topics(self, measure: str = "u_mass", topn: int = 20,
                   **coherence_kw):
        """Topics ranked by coherence (ldamodel.py:1255-1306); tokens when
        id2word is set, term ids otherwise."""
        vocab = self.id2word.df if self.id2word is not None else None
        return self._lda.top_topics(self.model, measure=measure, topn=topn,
                                    vocab=vocab, **coherence_kw)

    def diff(self, other: "LdaModel", **kw):
        """Topic-difference matrix vs another fitted model
        (ldamodel.py:1420-1513)."""
        return self._lda.diff(self.model, other.model, **kw)

    def log_perplexity(self, postings: DataFrame) -> float:
        return self._lda.log_perplexity(postings, self.model)

    def bound(self, postings: DataFrame) -> float:
        return self._lda.bound(postings, self.model)


class LdaMulticore(LdaModel):
    """``gensim.models.LdaMulticore`` (ldamulticore.py:16-130) parallelizes
    the E-step over worker processes; here the E-step is already
    cluster-parallel (one mapInPandas over all executors), so this is the
    base class with the multicore-specific knobs accepted and absorbed:
    ``workers`` is the executor count (set it on the SparkSession), and
    ``batch=True`` is already this engine's fit mode."""

    def __init__(self, corpus: DataFrame, *args, workers: int | None = None,
                 batch: bool = False, **kwargs):
        super().__init__(corpus, *args, **kwargs)


class AuthorTopicModel:
    """``gensim.models.AuthorTopicModel`` (atmodel.py:161-324): variational
    EM over (doc_id, term_id, tf) postings + (doc_id, author_id) pairs at
    construction. ``get_author_topics`` / ``model[author_id]`` return the
    author's normalized topic distribution. See operators/atmodel.py for
    the shard-synchronous Spark shape (num_shards=1 = the reference's exact
    sequential batch flow)."""

    def __init__(self, corpus: DataFrame, doc2author: DataFrame,
                 id2word: Dictionary | None = None, num_topics: int = 100,
                 passes: int = 1, iterations: int = 50, alpha="symmetric",
                 eta=None, decay: float = 0.5, offset: float = 1.0,
                 gamma_threshold: float = 0.001,
                 minimum_probability: float = 0.01,
                 random_state: int = 13, num_shards: int = 32):
        from gensim_spark.operators import atmodel as _at

        self.id2word = id2word
        self.num_topics = num_topics
        num_terms = len(id2word) if id2word is not None else None
        self.model = _at.author_topic_fit(
            corpus, doc2author, num_topics=num_topics, num_terms=num_terms,
            passes=passes, iterations=iterations, alpha=alpha, eta=eta,
            decay=decay, offset=offset, gamma_threshold=gamma_threshold,
            random_seed=random_state, num_shards=num_shards)
        self.model.lda.minimum_probability = minimum_probability

    def get_author_topics(self, author_id: int,
                          minimum_probability: float | None = None):
        return self.model.get_author_topics(author_id, minimum_probability)

    __getitem__ = get_author_topics

    def get_topics(self):
        return self.model.get_topics()


class LdaSeqModel:
    """``gensim.models.LdaSeqModel`` (Dynamic Topic Model,
    ldaseqmodel.py:69-193): variational Kalman topic chains fitted by EM
    at construction over (doc_id, term_id, tf) postings + per-document
    time slices. ``print_topics(time)`` / ``topics_at(time)`` expose the
    per-slice topic-word distributions. See operators/ldaseq.py for the
    Spark shape and the exact-gradient deviation."""

    def __init__(self, corpus: DataFrame, time_slice=None,
                 doc_times: DataFrame | None = None,
                 id2word: Dictionary | None = None, num_topics: int = 10,
                 alphas: float = 0.01, obs_variance: float = 0.5,
                 chain_variance: float = 0.005, passes: int = 10,
                 lda_inference_max_iter: int = 25, em_min_iter: int = 6,
                 em_max_iter: int = 20, random_state: int = 13):
        from gensim_spark.operators import ldaseq as _ls

        self._ls = _ls
        spark = corpus.sparkSession
        if doc_times is None:
            if time_slice is None:
                raise ValueError("provide time_slice or doc_times")
            # reference slice-counting (with its boundary quirk) over
            # documents ordered by doc_id
            times = _ls.time_from_slices(time_slice)
            ids = [r["doc_id"] for r in corpus.select("doc_id").distinct()
                   .orderBy("doc_id").collect()]
            doc_times = spark.createDataFrame(
                list(zip(ids, times)), "doc_id long, time long")
        num_terms = len(id2word) if id2word is not None else None
        self.model = _ls.ldaseq_fit(
            corpus, doc_times, num_topics=num_topics, num_terms=num_terms,
            alphas=alphas, obs_variance=obs_variance,
            chain_variance=chain_variance, passes=passes,
            lda_inference_max_iter=lda_inference_max_iter,
            em_min_iter=em_min_iter, em_max_iter=em_max_iter,
            random_seed=random_state)
        self.id2word = id2word
        self.num_topics = num_topics

    def topics_at(self, time: int):
        return self.model.topics_at(time)

    def print_topics(self, time: int = 0, top_terms: int = 20):
        """[(term_id or token, prob), ...] per topic at one slice
        (ldaseqmodel.py:517-536)."""
        topics = self.model.topics_at(time)
        out = []
        for k in range(self.num_topics):
            order = topics[k].argsort()[::-1][:top_terms]
            out.append([(int(t), float(topics[k][t])) for t in order])
        return out


class Word2Vec:
    """``gensim.models.Word2Vec`` (word2vec.py, sg=1 + negative sampling):
    vocab build + SGNS training at construction over a (doc_id, tokens)
    DataFrame. ``.wv`` is a :class:`KeyedVectors` over (token, embedding)
    rows. See operators/word2vec.py for the exact kernels (skip-gram and
    CBOW, negative-sampling and/or ``hs=1`` hierarchical softmax), the
    shard-synchronous distribution scheme, and the determinism
    deviations. :meth:`update` continues training over new documents
    (``build_vocab(update=True)`` + ``train()``).

    Deliberate default divergence: the reference trims with
    ``min_count=5``; here vocabulary policy belongs to the ``Dictionary``
    (filter_extremes etc.), so ``min_count`` defaults to ``None`` (no
    trim). Pass ``min_count=5`` for the reference's default behavior, or
    ``max_final_vocab`` for its size-targeted trim."""

    def __init__(self, documents: DataFrame, vector_size: int = 100,
                 window: int = 5, negative: int = 5, alpha: float = 0.025,
                 min_alpha: float = 0.0001, epochs: int = 5,
                 sample: float = 1e-3, ns_exponent: float = 0.75,
                 num_shards: int = 64, seed: int = 1, sg: int = 1,
                 cbow_mean: int = 1, hs: int = 0,
                 shrink_windows: bool = True,
                 min_count: int | None = None,
                 max_final_vocab: int | None = None,
                 dictionary: Dictionary | None = None):
        import numpy as np

        from gensim_spark.operators import vocab as _vocab
        from gensim_spark.operators import word2vec as _w2v

        self._w2v = _w2v
        d = dictionary if dictionary is not None else Dictionary(documents)
        if max_final_vocab is not None:
            # word2vec.py:615-631: resolve max_final_vocab to the
            # min_count that best satisfies it, then trim
            min_count = _vocab.effective_min_count(
                d.df, max_final_vocab, min_count or 1)
        if min_count is not None and min_count > 1:
            trimmed = _vocab.compactify(
                d.df.filter(F.col("cf") >= min_count))
            d = Dictionary(documents, vocab_df=trimmed,
                           num_docs=d.num_docs)
        self.dictionary = d
        rows = d.df.select("term_id", "cf").orderBy("term_id").collect()
        counts = np.array([r["cf"] for r in rows], dtype=np.int64)
        ids = _w2v.corpus_ids(documents, d.df)
        self.model = _w2v.word2vec_fit(
            ids, len(counts), counts, vector_size=vector_size,
            window=window, negative=negative, alpha=alpha,
            min_alpha=min_alpha, epochs=epochs, sample=sample,
            ns_exponent=ns_exponent, num_shards=num_shards, seed=seed,
            sg=sg, cbow_mean=cbow_mean, hs=hs,
            shrink_windows=shrink_windows)
        self._refresh_wv(documents.sparkSession)

    def _refresh_wv(self, spark) -> None:
        vecs = self.model.vectors_df(spark).join(
            F.broadcast(self.dictionary.df.select("term_id", "token")),
            "term_id")
        self.wv = KeyedVectors(vecs.select("token", "embedding"),
                               key_col="token")

    def score(self, documents: DataFrame) -> DataFrame:
        """Per-sentence hs log-probability (``Word2Vec.score``,
        word2vec.py:1693-1820) → (doc_id, score) rows. hs-only, like the
        reference; raises unless the model was trained with ``hs=1``."""
        ids = self._w2v.corpus_ids(documents, self.dictionary.df)
        return self._w2v.word2vec_score(ids, self.model)

    def update(self, documents: DataFrame, epochs: int = 5,
               alpha: float = 0.025, min_alpha: float = 0.0001,
               sample: float = 1e-3, ns_exponent: float = 0.75,
               num_shards: int = 64) -> "Word2Vec":
        """``build_vocab(documents, update=True)`` + continued ``train()``
        (word2vec.py:449-499): the vocabulary merges (old ids keep their
        vectors; new tokens get seeded init rows) and training continues
        over the new corpus only."""
        import numpy as np

        merged = self.dictionary.merge_with(Dictionary(documents))
        rows = merged.df.select("term_id", "cf") \
            .orderBy("term_id").collect()
        counts = np.array([r["cf"] for r in rows], dtype=np.int64)
        ids = self._w2v.corpus_ids(documents, merged.df)
        self._w2v.word2vec_update(
            ids, self.model, counts, alpha=alpha, min_alpha=min_alpha,
            epochs=epochs, sample=sample, ns_exponent=ns_exponent,
            num_shards=num_shards)
        self.dictionary = merged
        self._refresh_wv(documents.sparkSession)
        return self


class FastText:
    """``gensim.models.FastText`` (fasttext.py, negative sampling; ``sg=0``
    CBOW is the reference's constructor default, ``sg=1`` skip-gram):
    subword-bucket training at construction over (doc_id, tokens). ``.wv``
    is a :class:`KeyedVectors` over the adjusted in-vocab vectors;
    :meth:`get_vector` also serves OOV words from their character n-grams
    — the feature that distinguishes FastText from Word2Vec."""

    def __init__(self, documents: DataFrame, vector_size: int = 100,
                 window: int = 5, negative: int = 5, epochs: int = 5,
                 sample: float = 1e-3, bucket: int = 100000,
                 min_n: int = 3, max_n: int = 6, num_shards: int = 64,
                 seed: int = 1, dictionary: Dictionary | None = None,
                 sg: int = 0, cbow_mean: int = 1,
                 shrink_windows: bool = True, hs: int = 0):
        import numpy as np

        from gensim_spark.operators import fasttext as _ft
        from gensim_spark.operators import word2vec as _w2v

        self._ft = _ft
        d = dictionary if dictionary is not None else Dictionary(documents)
        self.dictionary = d
        rows = d.df.select("term_id", "token", "cf") \
            .orderBy("term_id").collect()
        counts = np.array([r["cf"] for r in rows], dtype=np.int64)
        tokens = [r["token"] for r in rows]
        self._tok2id = {t: i for i, t in enumerate(tokens)}
        ids = _w2v.corpus_ids(documents, d.df)
        self.model = _ft.fasttext_fit(
            ids, tokens, counts, vector_size=vector_size, window=window,
            negative=negative, epochs=epochs, sample=sample, bucket=bucket,
            min_n=min_n, max_n=max_n, num_shards=num_shards, seed=seed,
            sg=sg, cbow_mean=cbow_mean, shrink_windows=shrink_windows,
            hs=hs)
        spark = documents.sparkSession
        vecs = self.model.vectors_df(spark, d.df)
        self.wv = KeyedVectors(vecs.select("token", "embedding"),
                               key_col="token")
        self._adjusted = self.model.adjusted_vectors()

    def update(self, documents: DataFrame, epochs: int = 5,
               alpha: float = 0.025, min_alpha: float = 0.0001,
               sample: float = 1e-3, num_shards: int = 64) -> "FastText":
        """``build_vocab(documents, update=True)`` + continued ``train()``
        (fasttext.py:395-470): vocab merges (new tokens get seeded init
        rows and fresh subword lists; the shared bucket matrix transfers
        their n-gram knowledge immediately) and training continues over
        the new corpus only."""
        import numpy as np

        from gensim_spark.operators import word2vec as _w2v

        merged = self.dictionary.merge_with(Dictionary(documents))
        rows = merged.df.select("term_id", "token", "cf") \
            .orderBy("term_id").collect()
        counts = np.array([r["cf"] for r in rows], dtype=np.int64)
        tokens = [r["token"] for r in rows]
        ids = _w2v.corpus_ids(documents, merged.df)
        self._ft.fasttext_update(
            ids, self.model, tokens, counts, alpha=alpha,
            min_alpha=min_alpha, epochs=epochs, sample=sample,
            num_shards=num_shards)
        self.dictionary = merged
        self._tok2id = {t: i for i, t in enumerate(tokens)}
        spark = documents.sparkSession
        vecs = self.model.vectors_df(spark, merged.df)
        self.wv = KeyedVectors(vecs.select("token", "embedding"),
                               key_col="token")
        self._adjusted = self.model.adjusted_vectors()
        return self

    def get_vector(self, word: str):
        """In-vocab: the adjusted (vocab+ngrams)/(n+1) vector; OOV: the
        n-gram mean (fasttext.py:1085-1130)."""
        if word in self._tok2id:
            return self._adjusted[self._tok2id[word]]
        return self.model.oov_vector(word)

    __getitem__ = get_vector

    def vectors_for_all(self, keys, allow_inference: bool = True
                        ) -> "KeyedVectors":
        """Vectors for all given keys as a new :class:`KeyedVectors`
        (keyedvectors.py vectors_for_all + the FastTextKeyedVectors
        subword-inference branch): deduplicated, original order kept;
        with ``allow_inference`` OOV words get their n-gram-mean vectors,
        otherwise they are dropped like the plain-KV path."""
        seen, vocab = set(), []
        for k in keys:
            if k not in seen:
                seen.add(k)
                if allow_inference or k in self._tok2id:
                    vocab.append(k)
        rows = [(k, [float(x) for x in self.get_vector(k)]) for k in vocab]
        spark = self.wv.df.sparkSession
        df = spark.createDataFrame(rows, "token string,"
                                         " embedding array<double>")
        return KeyedVectors(df, key_col="token")


class HdpModel:
    """``gensim.models.HdpModel`` (hdpmodel.py:295-577): online two-level
    stick-breaking HDP fitted at construction over (doc_id, term_id, tf)
    postings; the number of topics is inferred, capped at ``T``.
    ``model[postings]`` returns per-document topic rows through the frozen
    LDA surface; :meth:`suggested_lda_model` hands the (α, β) pair to the
    LdaModel machinery."""

    def __init__(self, corpus: DataFrame, id2word: Dictionary | None = None,
                 kappa: float = 1.0, tau: float = 64.0, K: int = 15,
                 T: int = 150, alpha: float = 1.0, gamma: float = 1.0,
                 eta: float = 0.01, scale: float = 1.0,
                 var_converge: float = 0.0001, chunksize: int = 256,
                 max_chunks: int | None = None, random_state: int = 13):
        from gensim_spark.operators import hdp as _hdp

        self._hdp = _hdp
        self.id2word = id2word
        num_terms = len(id2word) if id2word is not None else None
        self.model = _hdp.hdp_fit(
            corpus, num_terms=num_terms, chunksize=chunksize,
            max_chunks=max_chunks, kappa=kappa, tau=tau, K=K, T=T,
            alpha=alpha, gamma=gamma, eta=eta, scale=scale,
            var_converge=var_converge, random_seed=random_state)
        self._spark = corpus.sparkSession

    def __getitem__(self, postings: DataFrame) -> DataFrame:
        return self._hdp.hdp_doc_topics(postings, self.model)

    def get_topics(self):
        return self.model.get_topics()

    def topics_df(self) -> DataFrame:
        return self._hdp.topics_df(self._spark, self.model)

    def show_topic(self, topic_id: int, topn: int = 20):
        """[(token, prob), ...] (hdpmodel.py:591-620) — needs id2word."""
        if self.id2word is None:
            raise ValueError("show_topic needs id2word (a Dictionary)")
        beta = self.model.get_topics()[int(topic_id)]
        order = beta.argsort()[::-1][:topn]
        toks = {r["term_id"]: r["token"]
                for r in self.id2word.df.filter(
                    F.col("term_id").isin([int(t) for t in order]))
                .collect()}
        return [(toks[int(t)], float(beta[t])) for t in order]

    def evaluate_test_corpus(self, postings: DataFrame) -> float:
        return self._hdp.evaluate_test_corpus(postings, self.model)

    def suggested_lda_model(self):
        return self.model.suggested_lda_model()


class TranslationMatrix:
    """``gensim.models.translation_matrix.TranslationMatrix``
    (translation_matrix.py:120-366): learn W with src·W ≈ tgt over anchor
    word pairs by distributed normal equations, then
    :meth:`translate` retrieves target-space nearest neighbours of mapped
    source words. Vector tables are (vec_id, embedding) DataFrames; word
    pairs a (src_id, tgt_id) DataFrame."""

    def __init__(self, source_vecs: DataFrame, target_vecs: DataFrame,
                 word_pairs: DataFrame | None = None, dims: int | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        from gensim_spark.operators import translation as _tr

        self._tr = _tr
        self.source_vecs, self.target_vecs = source_vecs, target_vecs
        self._id, self._vec = id_col, vec_col
        if dims is None:
            dims = len(source_vecs.select(vec_col).first()[0])
        self.dims = dims
        self.translation_matrix = None
        if word_pairs is not None:
            self.train(word_pairs)

    def train(self, word_pairs: DataFrame) -> None:
        self.translation_matrix = self._tr.fit_translation_matrix(
            word_pairs, self.source_vecs, self.target_vecs, self.dims,
            id_col=self._id, vec_col=self._vec)

    def apply_transmat(self, vecs: DataFrame) -> DataFrame:
        return self._tr.apply_transmat(vecs, self.translation_matrix,
                                       self._id, self._vec)

    def translate(self, source_words: DataFrame | None = None,
                  topn: int = 5) -> DataFrame:
        src = self.source_vecs if source_words is None else source_words
        return self._tr.translate(src, self.target_vecs,
                                  self.translation_matrix, topn=topn,
                                  id_col=self._id, vec_col=self._vec)


class Doc2Vec:
    """``gensim.models.Doc2Vec`` (operators/doc2vec.py). ``dm=1`` is the
    reference's default PV-DM (doc vector + window mean trained jointly
    with the word matrices, doc2vec_inner.pyx:420-566); ``dm=0`` is PV-DBOW
    with optional simultaneous skip-gram word training (``dbow_words=1``,
    doc2vec_inner.pyx:286-417). Doc vectors are a distributed (doc_id,
    embedding) DataFrame state throughout — never driver-resident. ``.dv``
    is that DataFrame."""

    def __init__(self, documents: DataFrame, vector_size: int = 100,
                 window: int = 5, negative: int = 5, epochs: int = 5,
                 sample: float = 1e-3, num_shards: int = 64, seed: int = 1,
                 dm: int = 1, dm_mean: int = 1, dbow_words: int = 0,
                 shrink_windows: bool = True, hs: int = 0,
                 dm_concat: int = 0,
                 dictionary: Dictionary | None = None):
        import numpy as np

        from gensim_spark.operators import doc2vec as _d2v
        from gensim_spark.operators import word2vec as _w2v

        self._d2v = _d2v
        d = dictionary if dictionary is not None else Dictionary(documents)
        self.dictionary = d
        rows = d.df.select("term_id", "token", "cf") \
            .orderBy("term_id").collect()
        counts = np.array([r["cf"] for r in rows], dtype=np.int64)
        ids = _w2v.corpus_ids(documents, d.df)
        self.model = _d2v.doc2vec_fit(
            ids, len(counts), counts, vector_size=vector_size,
            window=window, negative=negative, epochs=epochs, sample=sample,
            num_shards=num_shards, seed=seed, dm=dm, dm_mean=dm_mean,
            dbow_words=dbow_words, shrink_windows=shrink_windows, hs=hs,
            dm_concat=dm_concat)
        spark = documents.sparkSession
        vecs = self.model.wv.vectors_df(spark).join(
            F.broadcast(d.df.select("term_id", "token")), "term_id")
        self.wv = KeyedVectors(vecs.select("token", "embedding"),
                               key_col="token")
        self.dv = self.model.doc_vectors_df()

    def infer_vector(self, documents: DataFrame,
                     epochs: int = 10) -> DataFrame:
        """Inference for new (doc_id, tokens) rows: a fresh per-doc vector
        trained with the word matrices FROZEN (doc2vec.py infer_vector)."""
        from gensim_spark.operators import word2vec as _w2v

        ids = _w2v.corpus_ids(documents, self.dictionary.df)
        return self._d2v.infer_vectors(ids, self.model, epochs=epochs)


class PoincareModel:
    """``gensim.models.poincare.PoincareModel`` (poincare.py:92-700):
    hyperbolic embeddings trained at construction over a (u, v) node-id
    relations DataFrame with Riemannian SGD + burn-in. ``most_similar``
    ranks by Poincaré distance relationally. See operators/poincare.py for
    the exact batch math (finite-difference-pinned) and the
    shard-synchronous distribution scheme."""

    def __init__(self, train_data: DataFrame, size: int = 50,
                 alpha: float = 0.1, negative: int = 10,
                 epsilon: float = 1e-5, regularization_coeff: float = 1.0,
                 burn_in: int = 10, burn_in_alpha: float = 0.01,
                 epochs: int = 50, batch_size: int = 10,
                 num_shards: int = 32, seed: int = 0):
        from gensim_spark.operators import poincare as _pc

        self._pc = _pc
        self._spark = train_data.sparkSession
        self.model = _pc.poincare_fit(
            train_data, size=size, alpha=alpha, negative=negative,
            epsilon=epsilon, regularization_coeff=regularization_coeff,
            burn_in=burn_in, burn_in_alpha=burn_in_alpha, epochs=epochs,
            batch_size=batch_size, num_shards=num_shards, seed=seed)
        self.kv = self.model.vectors_df(self._spark)

    def most_similar(self, node_ids, topn: int = 10) -> DataFrame:
        if not hasattr(node_ids, "__iter__"):
            node_ids = [node_ids]
        return self._pc.poincare_knn(self.kv, node_ids, k=topn)

    def distance(self, n1: int, n2: int) -> float:
        import numpy as np

        v = self.model.vectors
        a, b = v[n1], v[n2]
        g = 1 + 2 * np.sum((a - b) ** 2) / ((1 - a @ a) * (1 - b @ b))
        return float(np.arccosh(g))


class KeyedVectors:
    """``gensim.models.KeyedVectors`` query surface over a (key, vector)
    DataFrame (keyedvectors.py:290-1262 subset). Only the handful of input
    keys are ever collected; scans stay relational (operators/
    keyedvectors.py). Training embeddings is out of scope (SURVEY §7.3) —
    this is the inference surface gensim users hit most."""

    def __init__(self, vectors: DataFrame, key_col: str = "vec_id",
                 vec_col: str = "embedding"):
        from gensim_spark.operators import keyedvectors as _kv

        self._kv = _kv
        self.df = vectors
        self._cols = dict(key_col=key_col, vec_col=vec_col)
        self._key_col = key_col

    def most_similar(self, positive=None, negative=None, topn: int = 10,
                     indexer=None):
        rows = self._kv.most_similar(self.df, positive, negative, topn,
                                     indexer=indexer, **self._cols).collect()
        return [(r[self._key_col], r["sim"]) for r in rows]

    def similar_by_key(self, key, topn: int = 10):
        return self.most_similar(positive=[key], topn=topn)

    similar_by_word = similar_by_key

    def similar_by_vector(self, vector, topn: int = 10):
        """Top-n keys by cosine to a raw vector (keyedvectors.py:889-915:
        most_similar with a vector positive — the vector is unit-normalized
        as the mean of one pre-normalized input)."""
        import numpy as np

        v = np.asarray(vector, dtype=np.float64)
        n = np.linalg.norm(v)
        sims = self._kv.cosine_to_vector(self.df, v / n if n > 0 else v,
                                         **self._cols)
        rows = (sims.orderBy(F.desc("sim"), F.asc(self._key_col))
                .limit(topn).collect())
        return [(r[self._key_col], round(r["sim"], 6)) for r in rows]

    def similarity(self, k1, k2) -> float:
        return self._kv.similarity(self.df, k1, k2, **self._cols)

    def distance(self, k1, k2) -> float:
        return 1.0 - self.similarity(k1, k2)

    def n_similarity(self, ws1, ws2) -> float:
        return self._kv.n_similarity(self.df, ws1, ws2, **self._cols)

    def distances(self, key_or_vector) -> DataFrame:
        return self._kv.distances(self.df, key_or_vector, **self._cols)

    def rank(self, k1, k2) -> int:
        return self._kv.rank(self.df, k1, k2, **self._cols)

    def get_mean_vector(self, keys, weights=None, pre_normalize: bool = True,
                        post_normalize: bool = False):
        return self._kv.mean_vector(self.df, keys, weights, pre_normalize,
                                    post_normalize, **self._cols)

    def vectors_for_all(self, keys) -> "KeyedVectors":
        """A new :class:`KeyedVectors` restricted to the given keys
        (keyedvectors.py vectors_for_all): deduplicated, missing keys
        dropped (no inference on a plain KV — subword inference lives on
        :meth:`FastText.vectors_for_all`). The filter is a broadcast
        semi-join; vectors never leave the executors."""
        seen, vocab = set(), []
        for k in keys:
            if k not in seen:
                seen.add(k)
                vocab.append(k)
        spark = self.df.sparkSession
        key_t = dict(self.df.dtypes)[self._key_col]
        keys_df = spark.createDataFrame([(k,) for k in vocab],
                                        f"{self._key_col} {key_t}")
        sub = self.df.join(F.broadcast(keys_df), self._key_col, "left_semi")
        return KeyedVectors(sub, **self._cols)

    def wmdistance(self, document1, document2, norm: bool = True) -> float:
        """Word Mover's Distance between two token lists
        (keyedvectors.py:918-1009) via the exact transport LP."""
        return self._kv.wmdistance(self.df, document1, document2,
                                   norm=norm, **self._cols)

    def evaluate_word_analogies(self, questions: DataFrame,
                                restrict_vocab: int | None = None,
                                case_insensitive: bool = True,
                                dummy4unknown: bool = False,
                                index_col: str | None = None):
        """3CosAdd analogy accuracy over a (section, a, b, c, expected)
        DataFrame (keyedvectors.py:1287-1407) — returns (score, sections)."""
        score, sections, _ = self._kv.evaluate_word_analogies(
            self.df, questions, restrict_vocab=restrict_vocab,
            case_insensitive=case_insensitive, dummy4unknown=dummy4unknown,
            key_col=self._key_col, vec_col=self._cols["vec_col"],
            index_col=index_col)
        return score, sections

    def evaluate_word_pairs(self, pairs: DataFrame,
                            case_insensitive: bool = True,
                            dummy4unknown: bool = False,
                            restrict_vocab: int | None = None,
                            index_col: str | None = None):
        """Pearson/Spearman vs human judgments over a (word1, word2, sim)
        DataFrame (keyedvectors.py:1423-1530)."""
        return self._kv.evaluate_word_pairs(
            self.df, pairs, case_insensitive=case_insensitive,
            dummy4unknown=dummy4unknown, restrict_vocab=restrict_vocab,
            key_col=self._key_col, vec_col=self._cols["vec_col"],
            index_col=index_col)

    @classmethod
    def load_word2vec_format(cls, spark, fname, fvocab=None,
                             binary: bool = False, encoding: str = "utf8",
                             unicode_errors: str = "strict",
                             limit: int | None = None,
                             no_header: bool = False) -> "KeyedVectors":
        """Load pretrained vectors from the original C word2vec-tool format
        (keyedvectors.py:1675-1806) into a queryable KeyedVectors facade."""
        from gensim_spark.sources import word2vec_format as WF

        df = WF.load_word2vec_format(spark, fname, fvocab=fvocab,
                                     binary=binary, encoding=encoding,
                                     unicode_errors=unicode_errors,
                                     limit=limit, no_header=no_header)
        return cls(df, key_col="word", vec_col="embedding")

    def save_word2vec_format(self, fname, fvocab=None, binary: bool = False,
                             total_vec: int | None = None,
                             write_header: bool = True, prefix: str = "",
                             append: bool = False) -> None:
        """Store in the original C word2vec-tool format
        (keyedvectors.py:1596-1674)."""
        from gensim_spark.sources import word2vec_format as WF

        WF.save_word2vec_format(self.df, fname, fvocab=fvocab, binary=binary,
                                total_vec=total_vec,
                                write_header=write_header, prefix=prefix,
                                append=append,
                                word_col=self._key_col,
                                vec_col=self._cols["vec_col"])


class EnsembleLda:
    """``gensim.models.EnsembleLda`` (ensemblelda.py:595-1371): N
    distributed LDA fits at construction, CBDBSCAN over the asymmetric
    masked-cosine topic distances, stable topics = cluster-averaged cores.
    ``get_topics()`` returns the stable topics;
    ``generate_gensim_representation()`` an :class:`LdaModel`-compatible
    model whose topics equal them exactly."""

    def __init__(self, corpus: DataFrame, id2word: Dictionary | None = None,
                 num_topics: int = 10, num_models: int = 4,
                 passes: int = 1, iterations: int = 50,
                 epsilon: float = 0.1, min_samples: int | None = None,
                 min_cores: int | None = None,
                 masking_method: str = "mass",
                 masking_threshold: float | None = None,
                 random_state: int = 13):
        from gensim_spark.operators import ensemble as _en

        self._en = _en
        self.id2word = id2word
        num_terms = len(id2word) if id2word is not None else None
        method = (_en.rank_masking if masking_method == "rank"
                  else _en.mass_masking)
        self.model = _en.ensemble_lda_fit(
            corpus, num_topics=num_topics, num_models=num_models,
            num_terms=num_terms, passes=passes, iterations=iterations,
            random_seed=random_state, eps=epsilon, min_samples=min_samples,
            min_cores=min_cores, masking_method=method,
            masking_threshold=masking_threshold)

    def get_topics(self):
        return self.model.get_topics()

    def generate_gensim_representation(self):
        return self.model.classic_representation()

    def get_document_topics(self, postings: DataFrame,
                            minimum_probability: float | None = None
                            ) -> DataFrame:
        from gensim_spark.operators import lda as _lda

        classic = self.model.classic_representation()
        if classic is None:
            raise ValueError("no stable topic was detected")
        return _lda.doc_topics(postings, classic, minimum_probability)

    __getitem__ = get_document_topics


class Nmf:
    """``gensim.models.nmf.Nmf`` (nmf.py:123-244): online NMF fit at
    construction over (doc_id, term_id, tf) postings; ``model[postings]`` /
    ``get_document_topics`` return (doc_id, topic_id, probability) rows.
    W/A/B are driver-resident exactly as in the reference; see
    operators/nmf.py for the Spark shape and determinism deviations."""

    def __init__(self, corpus: DataFrame, id2word: Dictionary | None = None,
                 num_topics: int = 100, passes: int = 1, kappa: float = 1.0,
                 minimum_probability: float = 0.01, w_max_iter: int = 200,
                 w_stop_condition: float = 1e-4, h_max_iter: int = 50,
                 h_stop_condition: float = 1e-3, normalize: bool = True,
                 random_state: int = 13):
        from gensim_spark.operators import nmf as _nmf

        self._nmf = _nmf
        self.id2word = id2word
        self.num_topics = num_topics
        num_terms = len(id2word) if id2word is not None else None
        self.model = _nmf.nmf_fit(
            corpus, num_topics=num_topics, num_terms=num_terms,
            passes=passes, kappa=kappa,
            minimum_probability=minimum_probability,
            w_max_iter=w_max_iter, w_stop_condition=w_stop_condition,
            h_max_iter=h_max_iter, h_stop_condition=h_stop_condition,
            normalize=normalize, random_seed=random_state)

    def get_document_topics(self, postings: DataFrame,
                            minimum_probability: float | None = None
                            ) -> DataFrame:
        return self._nmf.doc_topics(postings, self.model,
                                    minimum_probability)

    __getitem__ = get_document_topics

    def get_topics(self, normalize: bool | None = None):
        return self.model.get_topics(normalize)

    def show_topic(self, topicid: int, topn: int = 10):
        """list of (token, prob), like the reference (nmf.py:314-350)."""
        if self.id2word is None:
            raise ValueError("show_topic needs id2word (a Dictionary)")
        rows = self._nmf.show_topic(self.model, self.id2word.df,
                                    topicid, topn).collect()
        return [(r["token"], r["prob"]) for r in rows]

    def l2_norm(self, postings: DataFrame) -> float:
        return self._nmf.l2_norm(postings, self.model)


class CoherenceModel:
    """``gensim.models.CoherenceModel`` (coherencemodel.py:92-217): topic
    coherence for u_mass / c_uci / c_npmi / c_v / c_w2v over Spark tables.

    ``model`` (an :class:`LdaModel`/:class:`LsiModel` exposing
    ``get_topics()``) or explicit ``topics`` (lists of tokens or term_ids);
    ``corpus`` = (doc_id, term_id, tf) postings for u_mass; ``texts`` =
    (doc_id, tokens) for the sliding-window measures. Counting runs
    distributed (operators/coherence.py); only the ≤ K·topn relevant-word
    matrix lands on the driver, as in the reference."""

    def __init__(self, model=None, topics=None, texts: DataFrame | None = None,
                 corpus: DataFrame | None = None,
                 dictionary: Dictionary | None = None,
                 window_size: int | None = None, keyed_vectors=None,
                 coherence: str = "c_v", topn: int = 20):
        from gensim_spark.operators import coherence as _coh

        self._coh = _coh
        self.coherence = coherence
        self.window_size = window_size
        self.keyed_vectors = keyed_vectors
        self.texts = texts
        self.corpus = corpus
        self.dictionary = dictionary
        self.topn = topn

        if topics is None:
            if model is None:
                raise ValueError("either model= or topics= is required")
            import numpy as np

            mat = model.get_topics()
            topics = [np.argsort(-row, kind="stable")[:topn].tolist()
                      for row in mat]
        self._topic_ids = [list(t) for t in topics]

    def _topics_for_measure(self):
        """u_mass wants term_ids; window measures want token strings
        (coherencemodel.py:191-216 routes through the dictionary)."""
        first = self._topic_ids[0][0] if self._topic_ids else None
        want_tokens = self.coherence in ("c_uci", "c_npmi", "c_v", "c_w2v")
        if want_tokens and not isinstance(first, str):
            if self.dictionary is None:
                raise ValueError(f"{self.coherence} with id topics needs "
                                 "dictionary= to map ids to tokens")
            ids = [int(w) for t in self._topic_ids for w in t]
            rows = (self.dictionary.df
                    .filter(F.col("term_id").isin(ids))
                    .select("term_id", "token").collect())
            id2tok = {r["term_id"]: r["token"] for r in rows}
            return [[id2tok[int(w)] for w in t] for t in self._topic_ids]
        if not want_tokens and isinstance(first, str):
            if self.dictionary is None:
                raise ValueError("u_mass with token topics needs "
                                 "dictionary= to map tokens to ids")
            tok2id = _vocab.term_ids(
                self.dictionary.df, [w for t in self._topic_ids for w in t])
            return [[tok2id[w] for w in t] for t in self._topic_ids]
        return self._topic_ids

    def get_coherence_per_topic(self) -> list[float]:
        topics = self._topics_for_measure()
        kw = {}
        if self.coherence == "u_mass":
            if self.corpus is None or self.dictionary is None:
                raise ValueError("u_mass needs corpus= and dictionary=")
            kw = dict(postings=self.corpus,
                      num_docs=self.dictionary.num_docs)
        elif self.coherence == "c_w2v":
            kw = dict(keyed_vectors=self.keyed_vectors)
        else:
            kw = dict(texts=self.texts, window_size=self.window_size)
        return self._coh.coherence_per_topic(topics, self.coherence, **kw)

    def get_coherence(self) -> float:
        import numpy as np

        return float(np.mean(self.get_coherence_per_topic()))


class _BM25Base:
    variant = "okapi"

    def __init__(self, dictionary: Dictionary | None = None,
                 corpus: DataFrame | None = None, k1: float = 1.5,
                 b: float = 0.75, epsilon: float = 0.25):
        """Both reference fit paths: from a Dictionary (avgdl = Σcf/N) or
        from a postings corpus (avgdl = nnz/N — the documented quirk,
        bm25model.py:64-74)."""
        if dictionary is not None:
            self.stats = _bm25.fit_from_vocab(
                dictionary.df, dictionary.num_docs, variant=self.variant,
                k1=k1, b=b, epsilon=epsilon)
        else:
            self.stats = _bm25.fit_from_postings(
                corpus, variant=self.variant, k1=k1, b=b, epsilon=epsilon)

    def __getitem__(self, postings: DataFrame) -> DataFrame:
        return _bm25.weight_postings(postings, self.stats)


class OkapiBM25Model(_BM25Base):
    variant = "okapi"


class LuceneBM25Model(_BM25Base):
    variant = "lucene"


class AtireBM25Model(_BM25Base):
    variant = "atire"


class SparseMatrixSimilarity:
    """``SparseMatrixSimilarity`` + num_best clip (docsim.py:1150-1300,
    interfaces.py:305-353): index a weighted corpus, query with (query_id,
    term_id, q_weight) → per-query top-k with |score| ranking, zero-drop,
    doc-ascending ties."""

    def __init__(self, weighted_corpus: DataFrame,
                 num_best: int | None = 10):
        self.weighted = weighted_corpus
        self.num_best = num_best

    def __getitem__(self, query_terms: DataFrame) -> DataFrame:
        return _topk.search(self.weighted, query_terms, k=self.num_best)

    def query_text(self, spark: SparkSession, dictionary: Dictionary,
                   queries: dict[int, str], k: int | None = None) -> DataFrame:
        """Binary ('bnn') query weighting via vocab lookup (docsim.py:1149)."""
        from gensim_spark.plans import pipeline as _P

        return _topk.search(self.weighted,
                            _P.query_terms(spark, dictionary.df, queries),
                            k=self.num_best if k is None else k)

    def similarity_by_id(self, doc_id: int, k: int | None = None) -> DataFrame:
        return _topk.similarity_by_id(
            self.weighted, doc_id, k=self.num_best if k is None else k)


class Similarity:
    """``gensim.similarities.Similarity`` — the sharded index (docsim.py:
    260-758): builds packed doc-range shards under ``output_prefix`` (a
    fresh snapshot table, replacing any store already there) and answers
    queries with block-max WAND + two-stage merge."""

    def __init__(self, output_prefix: str, weighted_corpus: DataFrame,
                 num_best: int = 10, shardsize: int = 32768):
        from gensim_spark.index import layout

        self.prefix = output_prefix
        self.num_best = num_best
        self._spark = weighted_corpus.sparkSession
        layout.write_packed_shards(weighted_corpus, self.prefix,
                                   docs_per_shard=shardsize, resume=False)

    def __getitem__(self, query_terms: dict[int, dict[int, float]]) -> DataFrame:
        from gensim_spark.index import wand

        return wand.wand_topk(self._spark, self.prefix, query_terms,
                              k=self.num_best)

    def add_documents(self, weighted_corpus: DataFrame) -> None:
        """Append new documents as fresh shards in one atomic snapshot
        (docsim.py:367-416). New doc_ids must start at the next shard
        boundary — the reference's own new-docs-enter-the-tail-shard
        invariant."""
        from gensim_spark.index import layout

        layout.append_packed_shards(weighted_corpus, self.prefix)


class MatrixSimilarity:
    """``gensim.similarities.MatrixSimilarity`` (docsim.py:776-885): dense
    cosine index over (doc_id, embedding) rows — vectors unit-normalized at
    build exactly as the reference's ``normalize=True``; queries are
    (query_id, embedding) rows. Delegates to the brute-force exact scan
    (operators/simsearch.py::cosine_topk)."""

    def __init__(self, doc_vectors: DataFrame, num_best: int | None = 10,
                 id_col: str = "doc_id", vec_col: str = "embedding"):
        from gensim_spark.operators import simsearch as _ss

        self._ss = _ss
        self.num_best = num_best
        self._id, self._vec = id_col, vec_col
        self.index = doc_vectors

    def __getitem__(self, queries: DataFrame) -> DataFrame:
        k = self.num_best if self.num_best is not None else 1 << 31
        out = self._ss.cosine_topk(self.index, queries, k=k,
                                   id_col=self._id, vec_col=self._vec)
        # cosine_topk's match column is always "vec_id"
        return out.withColumnRenamed("vec_id", "doc_id")


class SoftCosineSimilarity:
    """``gensim.similarities.SoftCosineSimilarity`` (docsim.py:900-1006):
    Soft Cosine Measure over a term-similarity matrix S. ``S`` is a
    (term_i, term_j, sim) DataFrame — build one from the vocabulary with
    ``operators.softcosine.term_sim_matrix_from_fuzzy`` (the
    LevenshteinSimilarityIndex source) or from trained vectors with
    ``term_sim_matrix_from_embeddings`` (the WordEmbeddingSimilarityIndex
    source)."""

    def __init__(self, weighted_corpus: DataFrame, S: DataFrame,
                 num_best: int = 10):
        from gensim_spark.operators import softcosine as _sc

        self._sc = _sc
        self.weighted = weighted_corpus
        self.S = S
        self.num_best = num_best

    def __getitem__(self, query_terms: DataFrame) -> DataFrame:
        return self._sc.soft_cosine_topk(self.weighted, query_terms,
                                         self.S, k=self.num_best)


class WmdSimilarity:
    """``gensim.similarities.WmdSimilarity`` (docsim.py:1009-1113): rank the
    indexed docs by ``1 / (1 + WMD(query, doc))``. Exact WMD with the
    relational RWMD prefetch-and-prune (operators/wmd.py) — top-k is
    provably identical to scoring every doc."""

    def __init__(self, docs_tokens: DataFrame, vectors: DataFrame | None = None,
                 num_best: int = 10, dim: int | None = None):
        from gensim_spark.operators import wmd as _wmd

        self._wmd = _wmd
        self.dim = _wmd.DIM if dim is None else dim
        self.num_best = num_best
        self._spark = docs_tokens.sparkSession
        rows = docs_tokens.select("doc_id", F.explode("tokens").alias("token"))
        self._doc_nbow = _wmd.nbow(rows, vectors=vectors, dim=self.dim).cache()
        self._vectors = vectors

    def __getitem__(self, query_tokens: list[str]) -> DataFrame:
        q_rows = self._spark.createDataFrame(
            [(0, t) for t in query_tokens], "query_id long, token string")
        q_nbow = self._wmd.nbow(q_rows, vectors=self._vectors,
                                id_col="query_id", dim=self.dim)
        return self._wmd.wmd_similarity_topk(
            self._doc_nbow, q_nbow, num_best=self.num_best, dim=self.dim)


class Phrases:
    """``gensim.models.Phrases`` over a (doc_id, tokens) DataFrame."""

    def __init__(self, sentences: DataFrame, min_count: int = 5,
                 threshold: float = 10.0, scoring: str = "default",
                 connector_words=frozenset(), delimiter: str = "_"):
        self.sentences = sentences
        self.min_count, self.threshold = min_count, threshold
        self.scoring = scoring
        self.connector_words = frozenset(connector_words)
        self.delimiter = delimiter

    def export_phrases(self) -> DataFrame:
        return _phrases.export_phrases(
            self.sentences, self.threshold, self.min_count,
            scoring=self.scoring, connector_words=self.connector_words,
            delimiter=self.delimiter)

    def find_phrases(self, docs: DataFrame | None = None) -> DataFrame:
        return _phrases.find_phrases(
            docs if docs is not None else self.sentences, self.threshold,
            self.min_count, scoring=self.scoring,
            connector_words=self.connector_words, delimiter=self.delimiter)

    def freeze(self) -> "FrozenPhrases":
        return FrozenPhrases(self)

    def __getitem__(self, docs: DataFrame) -> DataFrame:
        # the export is a full corpus-scoring job + driver collect — do it
        # once and reuse across subscripts (the reference's __getitem__ is
        # cheap per call); training-state changes go through a new Phrases
        if getattr(self, "_frozen", None) is None:
            self._frozen = self.freeze()
        return self._frozen[docs]


class FrozenPhrases:
    """``FrozenPhrases`` (phrases.py:729-790): phrase set exported once,
    greedy merge on apply."""

    def __init__(self, phrases_model: Phrases):
        self.delimiter = phrases_model.delimiter
        self.connector_words = phrases_model.connector_words
        self.phrasegrams = {
            r["phrase"]: r["score"]
            for r in phrases_model.export_phrases().collect()
        }

    def __getitem__(self, docs: DataFrame) -> DataFrame:
        return _phrases.apply_phrases(
            docs, set(self.phrasegrams), delimiter=self.delimiter,
            connector_words=self.connector_words)


Phraser = FrozenPhrases  # reference alias (phrases.py:793)


class SearchEngine:
    """One-object fulltext engine over a pages/documents DataFrame — the
    graft's whole query surface behind a Lucene-IndexSearcher-shaped
    facade. Build once (tokenize → Dictionary → fitted BM25 weights, the
    pipeline's three-shuffle shape), then:

    - ``search(text)`` — free-text disjunctive BM25 top-k; optional
      ``collapse=field`` (one result per field value) and
      ``highlight=width`` (marked best-passage snippet per hit)
    - ``boolean(must/should/must_not, min_should_match, boosts)``
    - ``wildcard('s?a*')`` / ``fuzzy('sort', 2)`` / ``prefix('s')`` —
      vocab-bounded MultiTermQuery rewrites
    - ``phrase('exact phrase')`` / ``phrase('a b', slop=2)`` — positional
      (the positional store builds lazily on first use, same single
      doc2bow shuffle)
    - ``more_like_this(doc_id)`` / ``feedback(text)`` (Rocchio PRF)
    - ``facets(text, field)`` / ``facet_ranges(text, field, ...)`` over
      the full match set

    Everything returns DataFrames and delegates to the operator modules
    (which carry the plans, tests, and oracle entries); token→id lookups
    collect only query-sized frames."""

    def __init__(self, docs: DataFrame, text_col: str = "text",
                 variant: str = "okapi", k1: float = 1.5, b: float = 0.75,
                 epsilon: float = 0.25):
        from gensim_spark.plans import pipeline as _P

        self._meta = docs
        if "tokens" in docs.columns:
            tok = docs.select("doc_id", "tokens")
        else:
            tok = _P.tokenize(docs, text_col=text_col)
        self.index = _P.build(tok, variant=variant, k1=k1, b=b,
                              epsilon=epsilon)
        self._spark = docs.sparkSession
        self._positional = None
        self._fit = {"variant": variant, "k1": k1, "b": b,
                     "epsilon": epsilon}
        self._text_col = text_col
        self._field_idx: dict = {}

    # -- internals --------------------------------------------------------
    def _tokenize(self, text: str) -> list[str]:
        from gensim_spark.functions import textref as _textref

        return _textref.simple_preprocess(text)

    def _bag(self, toks: list, index=None):
        """doc2bow on the query against ``index`` (default: the main
        index): (token → term_id, the one-query 'bnn' frame — None when
        every token is OOV)."""
        tid = _vocab.term_ids((index or self.index).vocab, toks)
        return tid, (_topk.query_terms_df(self._spark, {0: [*tid.values()]})
                     if tid else None)

    def _pos(self):
        if self._positional is None:
            from gensim_spark.operators import positional as _px

            self._positional = _px.positional_postings(
                self.index.docs, self.index.vocab).cache()
        return self._positional

    def _empty_topk(self) -> DataFrame:
        return self._spark.createDataFrame(
            [], "query_id int, doc_id long, score double, rank int")

    def _field_index(self, col: str):
        """Lazy per-field sub-index (field-specific vocab, df/idf, length
        norm — Lucene's per-field statistics) over a text column of the
        source frame, fitted with the engine's variant/k1/b/epsilon. The
        engine's own text field reuses the main index (same field, same
        statistics — and a precomputed ``tokens`` column keeps driving
        it) instead of rebuilding a byte-equivalent duplicate."""
        if col == self._text_col:
            return self.index
        if col not in self._field_idx:
            from gensim_spark.plans import pipeline as _P

            if col not in self._meta.columns:
                raise ValueError(f"no field {col!r} in the source frame")
            tok = _P.tokenize(self._meta.select("doc_id", col),
                              text_col=col)
            self._field_idx[col] = _P.build(tok, **self._fit)
        return self._field_idx[col]

    # -- queries ----------------------------------------------------------
    def search(self, text: str, k: int | None = 10,
               collapse: str | None = None,
               highlight: int | None = None,
               fields: dict | None = None) -> DataFrame:
        """Free-text BM25 top-k. ``fields={"title": 2.0, "body": 1.0}``
        switches to multi-field scoring (topk.bm25f_scores — BM25F-lite,
        Lucene ``title:q^2 OR body:q``): each named text column gets its
        own lazily-built sub-index and the boosted per-field scores sum
        before the one rank window; collapse composes on the fused
        scores, highlight marks passages in the engine's main text
        column."""
        toks = self._tokenize(text)
        tid = None
        if fields is not None:
            scores = self._bm25f(toks, fields)
            if scores is None:
                return self._empty_topk()
            if collapse is not None:
                out = _topk.collapse_topk(scores, self._meta, collapse, k)
            else:
                out = _topk.topk(scores, k)
        else:
            tid, q = self._bag(toks)
            if q is None:
                return self._empty_topk()
            if collapse is not None:
                out = _topk.collapse_topk(_topk.score(self.index.weighted, q),
                                          self._meta, collapse, k)
            else:
                out = _topk.search(self.index.weighted, q, k)
        if highlight is not None:
            from gensim_spark.operators import highlight as _hl

            if tid is None:
                # the fused scoring never resolves against the main index
                tid = _vocab.term_ids(self.index.vocab, toks)
            out = _hl.highlight_topk(self.index.docs, out,
                                     [t for t in toks if t in tid],
                                     width=highlight)
        return out

    def _bm25f(self, toks: list, fields: dict):
        """Resolve the query against each field's own vocab and fuse
        boosted per-field scores (topk.bm25f_scores). None if the query
        is OOV in every requested field."""
        field_weighted, field_queries = {}, {}
        for col in fields:
            fidx = self._field_index(col)
            _, q = self._bag(toks, fidx)
            if q is None:
                continue
            field_weighted[col] = fidx.weighted
            field_queries[col] = q
        if not field_weighted:
            return None
        return _topk.bm25f_scores(field_weighted, field_queries,
                                  {c: fields[c] for c in field_weighted})

    def boolean(self, must=(), should=(), must_not=(),
                min_should_match: int = 0, boosts: dict | None = None,
                k: int | None = 10) -> DataFrame:
        tid = _vocab.term_ids(self.index.vocab,
                              [*must, *should, *must_not])
        if any(t not in tid for t in must):
            return self._empty_topk()  # an OOV must clause can never match
        return _topk.bool_topk(
            self.index.weighted,
            must=[tid[t] for t in must],
            should=[tid[t] for t in should if t in tid],
            must_not=[tid[t] for t in must_not if t in tid],
            min_should_match=min_should_match,
            boosts={tid[t]: bv for t, bv in (boosts or {}).items()
                    if t in tid},
            k=k)

    def prefix(self, pre: str, k: int | None = 10) -> DataFrame:
        return _topk.prefix_topk(self.index.weighted, self.index.vocab,
                                 pre, k)

    def wildcard(self, pattern: str, k: int | None = 10) -> DataFrame:
        return _topk.wildcard_topk(self.index.weighted, self.index.vocab,
                                   pattern, k)

    def fuzzy(self, word: str, max_distance: int = 2, prefix_len: int = 0,
              k: int | None = 10) -> DataFrame:
        return _topk.fuzzy_topk(self.index.weighted, self.index.vocab,
                                word, max_distance, prefix_len, k)

    def regexp(self, pattern: str, k: int | None = 10) -> DataFrame:
        return _topk.regexp_topk(self.index.weighted, self.index.vocab,
                                 pattern, k)

    def explain(self, text: str, doc_ids=None) -> DataFrame:
        """Per-term score breakdown for a query (Lucene explain):
        Σ contribution per (query, doc) equals search()'s score."""
        _, q = self._bag(self._tokenize(text))
        if q is None:
            return self._spark.createDataFrame(
                [], "query_id int, doc_id long, term_id long, token string,"
                    " weight double, q_weight double, contribution double")
        return _topk.explain_scores(self.index.weighted, q,
                                    vocab=self.index.vocab,
                                    doc_ids=doc_ids)

    def phrase(self, text: str, k: int = 10, slop: int | None = None,
               ordered: bool = True) -> DataFrame:
        from gensim_spark.operators import positional as _px

        toks = self._tokenize(text)
        ids = [c[0] for c in _vocab.resolve_clauses(
            _vocab.term_ids(self.index.vocab, toks), [[t] for t in toks])]
        if not ids:
            return self._spark.createDataFrame(
                [], "doc_id long, phrase_tf int, score double, rank int")
        if slop is None:
            return _px.phrase_topk(self._pos(), self.index.stats, ids,
                                   self.index.doclen, k=k)
        if len(ids) == 2:
            return _px.near_topk(self._pos(), self.index.stats, ids[0],
                                 ids[1], self.index.doclen, slop=slop,
                                 ordered=ordered, k=k)
        # 3+ clauses: N-clause SpanNear / sloppy phrase "a b c"~slop
        # (same near_tf column as the two-term slop path)
        return _px.span_near_topk(self._pos(), self.index.stats, ids,
                                  self.index.doclen, slop=slop,
                                  ordered=ordered, k=k)

    def multi_phrase(self, alternatives, k: int = 10,
                     slop: int = 0) -> DataFrame:
        """Lucene MultiPhraseQuery ``"a (b|c)"``: ``alternatives`` is a
        list of word lists — position i matches ANY of its words.
        ``slop > 0`` is the sloppy form, routed through the ordered
        OR-clause SpanNear (``spanNear([spanOr(...), ...], slop)``).
        OOV alternative words drop (they have no postings — Lucene
        parity); a position whose words are ALL OOV can never match and
        answers the empty frame."""
        from gensim_spark.operators import positional as _px

        # alternatives tokenize through the same pipeline as phrase() —
        # un-normalized input (case, punctuation) must not silently
        # become an OOV drop
        alts = [[w for x in a for w in self._tokenize(x)]
                for a in alternatives]
        ids = _vocab.resolve_clauses(
            _vocab.term_ids(self.index.vocab, [w for a in alts for w in a]),
            alts)
        if not ids:
            return self._spark.createDataFrame(
                [], "doc_id long, phrase_tf int, score double, rank int")
        return _px.multi_phrase_topk(self._pos(), self.index.stats, ids,
                                     self.index.doclen, k=k, slop=slop)

    def span_not(self, include, exclude, k: int = 10, slop: int = 0,
                 pre: int = 0, post: int = 0) -> DataFrame:
        """Lucene SpanNotQuery: matches of the ordered ``include`` span
        (a word, or a list of words / alternative-word lists as in
        :meth:`multi_phrase`) with no ``exclude`` word within ``pre``
        positions before its start or ``post`` after its end. OOV
        include members drop like :meth:`multi_phrase`; OOV exclude
        words drop silently (they can never block)."""
        from gensim_spark.operators import positional as _px

        # strings TOKENIZE (a multi-word include string becomes unit
        # clauses, a multi-word exclude string its word set) — treating
        # "not near" as one token would be OOV and silently drop the
        # exclusion
        if isinstance(include, str):
            inc = [[t] for t in self._tokenize(include)]
        else:
            inc = [[a] if isinstance(a, str) else list(a)
                   for a in include]
        alts = [[w for x in a for w in self._tokenize(x)] for a in inc]
        exc = (self._tokenize(exclude) if isinstance(exclude, str)
               else [w for x in exclude for w in self._tokenize(x)])
        tid = _vocab.term_ids(self.index.vocab,
                              [w for a in alts for w in a] + exc)
        ids = _vocab.resolve_clauses(tid, alts)
        if not ids:
            return self._spark.createDataFrame(
                [], "doc_id long, near_tf int, score double, rank int")
        ex_ids = [tid[w] for w in exc if w in tid]
        if not ex_ids:
            # nothing can block — plain span (or single-term pseudo-span)
            ex_ids = [-1]  # no postings ever match a negative id
        return _px.span_not_topk(self._pos(), self.index.stats, ids,
                                 ex_ids, self.index.doclen, slop=slop,
                                 pre=pre, post=post, k=k)

    def more_like_this(self, doc_id: int, max_query_terms: int = 25,
                       min_doc_freq: int = 1,
                       max_doc_freq: int | None = None,
                       k: int | None = 10) -> DataFrame:
        return _topk.more_like_this(self.index.weighted, self.index.vocab,
                                    doc_id, max_query_terms, min_doc_freq,
                                    max_doc_freq, k)

    def feedback(self, text: str, fb_docs: int = 5, fb_terms: int = 10,
                 alpha: float = 1.0, beta: float = 0.75,
                 k: int | None = 10) -> DataFrame:
        _, q = self._bag(self._tokenize(text))
        if q is None:
            return self._empty_topk()
        return _topk.rocchio_topk(self.index.weighted, q, fb_docs,
                                  fb_terms, alpha, beta, k)

    def _match_set(self, text: str) -> DataFrame:
        _, q = self._bag(self._tokenize(text))
        if q is None:
            return self._spark.createDataFrame([], "doc_id long")
        return _topk.score(self.index.weighted, q).select("doc_id")

    def sort(self, text: str, field: str, k: int | None = 10,
             ascending: bool = False,
             after: tuple | None = None) -> DataFrame:
        """Sort-by-field results with searchAfter pagination
        (``topk.sort_topk``): rank the match set by a metadata field;
        ``after=(field_value, doc_id)`` continues from that cursor."""
        _, q = self._bag(self._tokenize(text))
        if q is None:
            return self._spark.createDataFrame(
                [], f"query_id int, doc_id long, {field} long, "
                    "score double, rank int")
        return _topk.sort_topk(_topk.score(self.index.weighted, q),
                               self._meta, field, k, ascending, after)

    def facets(self, text: str, field: str,
               top: int | None = None) -> DataFrame:
        from gensim_spark.operators import facets as _fc

        return _fc.facet_counts(self._meta, self._match_set(text), field,
                                top=top)

    def facet_ranges(self, text: str, field: str, lo: float, width: float,
                     n_buckets: int) -> DataFrame:
        from gensim_spark.operators import facets as _fc

        return _fc.facet_ranges(self._meta, self._match_set(text), field,
                                lo, width, n_buckets)
