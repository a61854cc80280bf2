"""Relational operators: vocabulary build, doc2bow postings, weighting models
(BM25 family, TF-IDF SMART schemes, log-entropy), top-k query scoring, phrases,
dedup, similarity search, text statistics, topic models
(RP/LSI/LDA/NMF/HDP/LdaSeq/AuthorTopic/Ensemble), coherence, WMD,
embeddings training (Word2Vec/FastText/Doc2Vec/Poincaré) + KeyedVectors
queries, translation matrices.

The package imports none of its modules: import the one you use
(``from gensim_spark.operators import bm25``), so a Python worker that
unpickles one kernel loads only that kernel's modules."""
