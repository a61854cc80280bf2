"""spark-submit job bodies (gensim_spark/jobs/) driven end-to-end on tiny
synthetic inputs — the north rule's ``spark-submit --py-files`` pipeline
surface: build_index → query_index (resumable), make_wikicorpus
(gensim/scripts/make_wikicorpus.py parity artifacts), word2vec_train
(gensim/scripts/word2vec_standalone.py flag surface)."""

import bz2
import datetime
import json
import os

import pytest


def _pages_df(spark, n=40):
    """Common-Crawl-shaped pages table (url, warc_ts, html, text, lang)."""
    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    for i in range(n):
        toks = [words[(i + j) % len(words)] for j in range(6)] + ["common"]
        text = " ".join(toks)
        rows.append((
            f"https://example.org/p{i}",
            datetime.datetime(2024, 1, 1 + i % 28),
            ("<html><body><p>" + text + "</p></body></html>").encode("utf8"),
            text,
            "en",
        ))
    return spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_build_and_query_index_job(spark, tmp_path):
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages")
    _pages_df(spark).write.parquet(pages)
    out = str(tmp_path / "idx")

    metrics = build_index.run(spark, pages, out, docs_per_shard=16,
                              num_groups=2)
    assert metrics["num_docs"] == 40
    assert metrics["avgdl"] == pytest.approx(7.0)
    assert set(metrics["groups"]) == {"0", "1"}
    assert os.path.exists(os.path.join(out, "build_metrics.json"))

    res = query_index.run(spark, out, ["alpha beta", "zeta common"], k=5)
    assert set(res["results"]) == {"0", "1"}
    for hits in res["results"].values():
        assert len(hits) == 5
        scores = [h["score"] for h in hits]
        assert scores == sorted(scores, reverse=True)
        assert [h["rank"] for h in hits] == [1, 2, 3, 4, 5]

    # resume: a second run over committed groups is a no-op for results
    metrics2 = build_index.run(spark, pages, out, docs_per_shard=16,
                               num_groups=2, resume=True)
    assert metrics2["num_docs"] == 40
    res2 = query_index.run(spark, out, ["alpha beta", "zeta common"], k=5)
    assert res2["results"] == res["results"]


def test_build_index_job_from_html(spark, tmp_path):
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages")
    _pages_df(spark, n=12).write.parquet(pages)
    out = str(tmp_path / "idx")
    metrics = build_index.run(spark, pages, out, from_html=True,
                              num_groups=1)
    assert metrics["num_docs"] == 12
    res = query_index.run(spark, out, ["gamma delta"], k=3)
    assert len(res["results"]["0"]) == 3


def test_build_metrics_record_store_bytes(spark, tmp_path):
    """``build_metrics.json`` records each group's stored bytes, the
    store's bytes per posting, and compressed bytes per packed column. The
    column chunks tile each data file after its leading magic; with the
    page indexes and footer behind them they add up to the files' sizes."""
    import pyarrow.parquet as pq

    from gensim_spark.index import layout
    from gensim_spark.jobs import build_index

    pages = str(tmp_path / "pages")
    _pages_df(spark, n=60).write.parquet(pages)
    out = str(tmp_path / "idx")
    m = build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2)
    with open(os.path.join(out, "build_metrics.json")) as f:
        assert json.load(f) == m
    files = layout.packed_files(out)
    sizes = [os.path.getsize(f["path"]) for f in files]
    assert sum(g["bytes"] for g in m["groups"].values()) == sum(sizes)
    postings = sum(g["postings"] for g in m["groups"].values())
    assert postings == 60 * 7
    assert m["bytes_per_posting"] == pytest.approx(sum(sizes) / postings)
    assert set(m["column_bytes"]) == {
        c.split()[0] for c in layout.PACKED_SCHEMA.split(",")}
    want, rest = {}, 0
    for f, size in zip(files, sizes):
        md = pq.ParquetFile(f["path"]).metadata
        end = 4  # after the leading magic; column chunks follow each other
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                assert c.compression == "ZSTD"
                start = (c.dictionary_page_offset if c.has_dictionary_page
                         else c.data_page_offset)
                assert start == end
                end += c.total_compressed_size
                want[c.path_in_schema] = (want.get(c.path_in_schema, 0)
                                          + c.total_compressed_size)
        # after the chunks: page indexes, the footer, its length and magic
        assert size - end >= md.serialized_size + 8
        rest += 4 + size - end
    assert m["column_bytes"] == want
    assert sum(m["column_bytes"].values()) + rest == sum(sizes)


def test_v1_store_is_refused_by_every_entry_point(spark, tmp_path):
    """A store marked ``packed-postings-v1`` (float32 ``weight_blob``) is
    refused with a named error by every reader and writer, never decoded;
    ``resume=False`` replaces it with a v2 store that scores as before."""
    import shutil

    from gensim_spark.index import layout, packing, serving, wand
    from gensim_spark.index.icetable import IceTable, PartitionField
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages")
    _pages_df(spark).write.parquet(pages)
    out = str(tmp_path / "idx")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2)
    queries = ["alpha beta", "zeta common"]
    before = query_index.run(spark, out, queries, k=5)["results"]

    # rewrite the store in format v1: the same runs, one float32 per
    # posting in weight_blob, under the v1 marker
    rows = layout.read_packed_shards(spark, out).collect()
    v1_cols = ["doc_blob", "weight_blob", "block_max", "block_last_doc",
               "block_first_doc", "block_offset"]
    v1_rows = [
        (r["shard_id"], r["term_id"], r["n"], r["doc_blob"],
         bytearray(packing.decode_weights(bytes(r["weight_dict"]),
                                          bytes(r["weight_code"]))
                   .tobytes()),
         *(r[c] for c in v1_cols[2:]))
        for r in rows]
    v1_schema = "shard_id long, term_id long, n long, " + ", ".join(
        f"{c} binary" for c in v1_cols)
    for sub in ("metadata", "data"):
        shutil.rmtree(os.path.join(out, sub))
    table = IceTable.create(
        out, v1_schema,
        partition_spec=[PartitionField("shard_id", "shard_id", "identity")],
        properties={"docs_per_shard": "16", "num_groups": "2",
                    "write.format": "packed-postings-v1"})
    for g in range(2):
        table.append(spark.createDataFrame(
            [r for r in v1_rows if r[0] % 2 == g], v1_schema),
            summary={"group": g, "docs": 0, "terms": 0, "postings": 0})

    tid = next(r["term_id"] for r in rows)
    weighted = spark.createDataFrame(
        [(10_000, tid, 1.0)], "doc_id long, term_id long, weight double")
    entry_points = {
        "read_packed_shards": lambda: layout.read_packed_shards(spark, out),
        "packed_files": lambda: layout.packed_files(out),
        "wand_topk": lambda: wand.wand_topk(spark, out, {0: {tid: 1.0}}),
        "query_index.run": lambda: query_index.run(spark, out, queries),
        "run_served": lambda: query_index.run_served(out, queries),
        "PackedIndexServer": lambda: serving.PackedIndexServer(out),
        "next_shard_boundary": lambda: layout.next_shard_boundary(out),
        "append_packed_shards": lambda: layout.append_packed_shards(
            weighted, out, min_doc_id=10_000),
        "build_index.run(resume=True)": lambda: build_index.run(
            spark, pages, out, docs_per_shard=16, num_groups=2),
    }
    for name, call in entry_points.items():
        with pytest.raises(layout.PackedFormatError) as err:
            call()
        msg = str(err.value)
        assert out in msg and "packed-postings-v1" in msg, name
        assert "resume=False" in msg and "--no-resume" in msg, name
    assert IceTable.load(out).meta["properties"]["write.format"] == \
        "packed-postings-v1"

    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2,
                    resume=False)
    table = IceTable.load(out)
    assert table.meta["properties"]["write.format"] == layout.PACKED_FORMAT
    assert query_index.run(spark, out, queries, k=5)["results"] == before
    assert query_index.run_served(out, queries, k=5)["results"] == before
    got = layout.read_packed_shards(spark, out).collect()
    assert len(got) == len(rows)
    by_key = {(r[0], r[1]): r[4] for r in v1_rows}
    for r in got:
        w = packing.decode_weights(bytes(r["weight_dict"]),
                                   bytes(r["weight_code"]))
        assert w.tobytes() == bytes(by_key[(r["shard_id"], r["term_id"])])


WIKI_XML = """<mediawiki>
{pages}
</mediawiki>"""

PAGE = ("  <page><title>{title}</title><ns>0</ns><revision><text>"
        "{text}</text></revision></page>")


def _write_dump(path, n=6):
    words = ["spark", "index", "query", "vector", "topic", "corpus",
             "model", "token"]
    pages = []
    for i in range(n):
        # 4 distinct words per page (cyclic) so dfs differ across terms
        body = " ".join(words[(i + j) % len(words)] for j in range(4)) \
            + f" {words[i % len(words)]}" * 2
        pages.append(PAGE.format(title=f"Article {i}", text=body))
    with open(path, "w") as fh:
        fh.write(WIKI_XML.format(pages="\n".join(pages)))


def test_make_wikicorpus_job(spark, tmp_path):
    from gensim_spark.jobs import make_wikicorpus
    from gensim_spark.sources.matrix_market import mm_stats, read_mm

    dump = str(tmp_path / "dump.xml")
    _write_dump(dump)
    prefix = str(tmp_path / "out" / "wiki")
    metrics = make_wikicorpus.run(spark, dump, prefix, keep_words=100,
                                  no_below=1, no_above=1.0, min_words=1)
    assert metrics["num_docs"] == 6
    assert metrics["vocab_size"] == 8

    # _wordids.txt.bz2: save_as_text format, header == num_docs
    with bz2.open(prefix + "_wordids.txt.bz2", "rt") as fh:
        lines = [ln.rstrip("\n") for ln in fh if ln.strip()]
    assert lines[0] == "6"
    assert len(lines) == 1 + 8
    assert all(len(ln.split("\t")) == 3 for ln in lines[1:])

    # _bow.mm / _tfidf.mm parse and agree with the metrics
    nd, nt, nnz = mm_stats(spark, prefix + "_bow.mm")
    assert (nd, nnz) == (6, metrics["num_nnz"])
    bow = read_mm(spark, prefix + "_bow.mm")
    assert bow.count() == nnz
    tfidf = read_mm(spark, prefix + "_tfidf.mm")
    assert tfidf.count() > 0

    # fitted tfidf model state + metadata parquet
    meta = json.load(open(prefix + ".tfidf_model/meta.json"))
    assert meta["smartirs"] == "nfc" and meta["num_docs"] == 6
    titles = spark.read.parquet(prefix + "_metadata")
    assert titles.count() == 6 and set(titles.columns) == {"doc_id", "title"}


def test_make_wikicorpus_job_online_parquet_sink(spark, tmp_path):
    """make_wiki_online variant: hash-mapped ids + parquet postings sink."""
    from pyspark.sql import functions as F

    from gensim_spark.jobs import make_wikicorpus

    dump = str(tmp_path / "dump.xml")
    _write_dump(dump)
    prefix = str(tmp_path / "out" / "wiki")
    metrics = make_wikicorpus.run(spark, dump, prefix, keep_words=1000,
                                  no_below=1, no_above=1.0, min_words=1,
                                  sink="parquet", online=True)
    assert metrics["num_docs"] == 6
    post = spark.read.parquet(prefix + "_bow")
    assert post.count() == metrics["num_nnz"]
    # hash ids live in [0, keep_words)
    mx = post.agg(F.max("term_id"), F.min("term_id")).first()
    assert 0 <= mx[1] and mx[0] < 1000
    # postings are id-aggregated: no duplicate (doc_id, term_id) rows
    assert post.groupBy("doc_id", "term_id").count() \
        .filter("count > 1").count() == 0


def test_make_wikicorpus_online_hash_collisions(spark, tmp_path):
    """keep_words=3 over 8 tokens FORCES id collisions: colliding tokens
    must merge into one id (summed tf, id-level df), never duplicate MM
    coordinates or fan out the tfidf join (HashDictionary semantics)."""
    from pyspark.sql import functions as F

    from gensim_spark.jobs import make_wikicorpus
    from gensim_spark.sources.matrix_market import read_mm

    dump = str(tmp_path / "dump.xml")
    _write_dump(dump)
    prefix = str(tmp_path / "out" / "wiki")
    metrics = make_wikicorpus.run(spark, dump, prefix, keep_words=3,
                                  no_below=1, no_above=1.0, min_words=1,
                                  sink="parquet", online=True)
    assert metrics["vocab_size"] <= 3
    post = spark.read.parquet(prefix + "_bow")
    assert post.groupBy("doc_id", "term_id").count() \
        .filter("count > 1").count() == 0
    tfidf = spark.read.parquet(prefix + "_tfidf")
    assert tfidf.groupBy("doc_id", "term_id").count() \
        .filter("count > 1").count() == 0
    # df is id-level: never exceeds the number of documents
    assert metrics["num_nnz"] == post.count()


def test_stream_index_job(spark, tmp_path):
    """Streaming ingestion job: drain a landing dir with availableNow,
    restart picks up ONLY new files via the checkpoint, compaction builds
    queryable weighted shards."""
    from pyspark.sql import functions as F

    from gensim_spark.jobs import stream_index
    from gensim_spark.streaming.incremental import read_counts, read_vocab

    landing = tmp_path / "landing"
    landing.mkdir()
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    _pages_df(spark, n=20).coalesce(1).write.parquet(str(landing / "f0"))
    # the file source walks the dir tree; one parquet dir per arrival works
    m1 = stream_index.run(spark, str(landing), store, ckpt)
    assert m1["batches_committed"] >= 1
    n1 = read_counts(spark, store).select("doc_id").distinct().count()
    assert n1 == 20

    # second arrival: only the new file is processed on restart
    _pages_df(spark, n=30).filter("url like '%p2_'") \
        .coalesce(1).write.parquet(str(landing / "f1"))
    m2 = stream_index.run(spark, str(landing), store, ckpt,
                          compact_to=str(tmp_path / "shards"))
    counts = read_counts(spark, store)
    n2 = counts.select("doc_id").distinct().count()
    assert n2 > n1
    assert m2["batches_committed"] > m1["batches_committed"]
    assert m2["shard_snapshots"] >= 1

    # vocab ids stayed stable across batches (same token, same id)
    vocab = read_vocab(spark, store)
    assert vocab.groupBy("token").count().filter("count > 1").count() == 0
    assert m2["vocab_terms"] == vocab.count()


def test_word2vec_train_job(spark, tmp_path, common_texts):
    from gensim_spark.jobs import word2vec_train
    from gensim_spark.sources.word2vec_format import load_word2vec_format

    corpus = str(tmp_path / "corpus.txt")
    with open(corpus, "w") as fh:
        for _ in range(4):
            for t in common_texts:
                fh.write(" ".join(t) + "\n")

    questions = str(tmp_path / "questions.txt")
    with open(questions, "w") as fh:
        fh.write(": test-section\n")
        fh.write("human interface user system\n")
        fh.write("graph trees minors survey\n")
        fh.write("unknownword user graph trees\n")   # OOV row

    out = str(tmp_path / "vectors.txt")
    metrics = word2vec_train.run(
        spark, corpus, out, size=8, window=3, negative=2, iter_=2,
        min_count=1, cbow=0, num_shards=2, accuracy=questions)
    assert metrics["vocab_size"] == 12
    assert metrics["sg"] == 1

    vecs = load_word2vec_format(spark, out)
    assert vecs.count() == 12
    row = vecs.first()
    assert len(row["embedding"]) == 8

    acc = metrics["accuracy"]
    assert acc["oov"] == 1
    assert 0.0 <= acc["score"] <= 1.0
    total = [s for s in acc["sections"] if s["section"] == "Total accuracy"]
    assert total and total[0]["correct"] + total[0]["incorrect"] == 2


def test_word2vec_train_job_binary_cbow_hs(spark, tmp_path, common_texts):
    from gensim_spark.jobs import word2vec_train
    from gensim_spark.sources.word2vec_format import load_word2vec_format

    corpus = str(tmp_path / "corpus.txt")
    with open(corpus, "w") as fh:
        for t in common_texts:
            fh.write(" ".join(t) + "\n")
    out = str(tmp_path / "vectors.bin")
    metrics = word2vec_train.run(
        spark, corpus, out, size=4, negative=0, hs=1, iter_=1,
        min_count=1, cbow=1, binary=1, num_shards=2)
    assert metrics["sg"] == 0
    vecs = load_word2vec_format(spark, out, binary=True)
    assert vecs.count() == 12
    assert len(vecs.first()["embedding"]) == 4


def test_query_index_all_oov_query_keeps_key(spark, tmp_path):
    """A query whose tokens are all out-of-vocabulary answers [] under its
    own key — it must not vanish from the results dict."""
    from gensim_spark.jobs import build_index, query_index

    pages = spark.createDataFrame(
        [(f"u{i}", f"spark query join spark term{i}") for i in range(20)],
        "url string, text string")
    src = str(tmp_path / "pages.parquet")
    pages.write.parquet(src)
    idx_dir = str(tmp_path / "idx")
    build_index.run(spark, src, idx_dir)
    out = query_index.run(spark, idx_dir, ["spark join", "zzxqv qqwzz"], k=3)
    assert set(out["results"].keys()) == {"0", "1"}
    assert out["results"]["1"] == []
    assert len(out["results"]["0"]) > 0


def test_make_wikicorpus_online_vocab_text_roundtrip(spark, tmp_path):
    """Colliding tokens merge with ', ' so the Dictionary-format TSV stays
    3-column; load_vocab_from_text must read back every id (a tab-joined
    merge silently dropped colliding rows)."""
    from gensim_spark.jobs import make_wikicorpus
    from gensim_spark.sources.textcorpus import load_vocab_from_text

    dump = str(tmp_path / "dump.xml")
    _write_dump(dump)
    prefix = str(tmp_path / "out" / "wiki")
    metrics = make_wikicorpus.run(spark, dump, prefix, keep_words=3,
                                  no_below=1, no_above=1.0, min_words=1,
                                  sink="parquet", online=True)
    loaded, _num_docs = load_vocab_from_text(
        spark, prefix + "_wordids.txt.bz2")
    assert loaded.count() == metrics["vocab_size"]
    # at least one id must actually carry a merged (comma-joined) token set
    assert loaded.filter("token like '%, %'").count() >= 1


def _curate_pages(spark):
    """Docs with per-doc-unique bodies (no cross-doc n-grams), stopwords at
    fixed positions (quality pass), plus: two exact dups of doc 0, one
    near-dup of doc 1, one low-quality spam doc."""
    def body(i):
        letters = "abcdefghij"
        toks = [f"{letters[i % 10]}tok{letters[j]}" for j in range(10)]
        toks[2] = "the"
        toks[7] = "and"
        return toks

    rows = [(i, " ".join(body(i))) for i in range(8)]
    rows += [(100, rows[0][1]), (101, rows[0][1])]          # exact dups
    near = body(1)
    near[-1] = "changed"
    rows += [(102, " ".join(near))]                          # near dup
    rows += [(103, "buy buy buy buy buy")]                   # spam
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_curate_corpus_job(spark, tmp_path):
    from gensim_spark.jobs import curate_corpus

    src = str(tmp_path / "pages")
    out = str(tmp_path / "curated")
    _curate_pages(spark).write.parquet(src)
    bench = str(tmp_path / "bench")
    # benchmark shares 3-grams ONLY with doc 2
    spark.createDataFrame(
        [(0, "ctoka ctokb the ctokd ctoke")], "doc_id long, text string"
    ).write.parquet(bench)

    metrics = curate_corpus.run(
        spark, src, out, benchmark=bench, decontaminate_n=3,
        num_groups=3, chunk_size=0)
    assert metrics["input_docs"] == 12
    assert metrics["dropped_quality"] == 1          # the spam doc
    assert metrics["dropped_exact_dup"] == 2        # docs 100, 101
    assert metrics["dropped_near_dup"] >= 2         # ⊇ the exact-dup pair
    assert metrics["dropped_contaminated"] == 1     # doc 2
    assert metrics["rows_emitted"] == metrics["curated_docs"]

    data = spark.read.parquet(f"{out}/data")
    ids = {r["doc_id"] for r in data.select("doc_id").collect()}
    assert {100, 101, 103, 2}.isdisjoint(ids)
    assert {0, 3, 4, 5, 6, 7} <= ids
    assert set(r["split"] for r in data.select("split").collect()) <= {
        "train", "val", "test"}
    # PII scrub ran: output text never carries a raw email (none here, but
    # the column is the scrubbed one — spot-check passthrough)
    t0 = data.filter("doc_id = 0").collect()[0]["text"]
    assert t0.startswith("atoka atokb the")

    # resume: a re-run replays the ledger + stage artifacts, emits nothing new
    m2 = curate_corpus.run(spark, src, out, benchmark=bench,
                           decontaminate_n=3, num_groups=3)
    assert m2["rows_emitted"] == metrics["rows_emitted"]
    assert m2["curated_docs"] == metrics["curated_docs"]

    # chunked variant: token windows instead of whole docs
    out2 = str(tmp_path / "curated_chunks")
    m3 = curate_corpus.run(
        spark, src, out2, benchmark=bench, decontaminate_n=3,
        num_groups=2, chunk_size=4, chunk_stride=4)
    assert m3["chunked"] and m3["rows_emitted"] > m3["curated_docs"]
    ch = spark.read.parquet(f"{out2}/data")
    assert "chunk_id" in ch.columns
    assert ch.filter("doc_id = 0 and chunk_id = 0").collect()[0][
        "text"].split(" ") == ["atoka", "atokb", "the", "atokd"]


def test_curate_corpus_job_bpe_chunking(spark, tmp_path):
    """--bpe-merges: tokenizer trained on the curated corpus (resumable
    artifact), chunks budgeted in BPE tokens; chunk pieces reconstruct the
    original words on de-BPE."""
    from gensim_spark.jobs import curate_corpus
    from gensim_spark.operators import bpe as BP

    src = str(tmp_path / "pages")
    out = str(tmp_path / "curated_bpe")
    _curate_pages(spark).write.parquet(src)

    m = curate_corpus.run(
        spark, src, out, num_groups=2,
        chunk_size=6, chunk_stride=6, bpe_merges=30)
    assert m["bpe_merges"] > 0
    assert m["chunked"]
    import os
    assert os.path.exists(f"{out}/bpe_merges.json")
    model = BP.BpeModel.load(f"{out}/bpe_merges.json")
    assert len(model.merges) == m["bpe_merges"]

    ch = spark.read.parquet(f"{out}/data")
    # doc 0's first chunk is exactly the first 6 BPE pieces of its words
    from gensim_spark.plans import pipeline as P
    tok = P.tokenize(spark.read.parquet(src).filter("doc_id = 0"))
    words = tok.collect()[0]["tokens"]
    want = [p for w in words for p in model.encode_word(w)][:6]
    got = ch.filter("doc_id = 0 and chunk_id = 0").collect()[0][
        "text"].split(" ")
    assert got == want

    # resume: second run reloads the merges artifact, identical output
    m2 = curate_corpus.run(
        spark, src, out, num_groups=2,
        chunk_size=6, chunk_stride=6, bpe_merges=30)
    assert m2["bpe_merges"] == m["bpe_merges"]
    assert m2["rows_emitted"] == m["rows_emitted"]

    # a CHANGED request must not silently reuse the stale artifact
    m3 = curate_corpus.run(
        spark, src, str(tmp_path / "curated_bpe2"), num_groups=2,
        chunk_size=6, chunk_stride=6, bpe_merges=30)
    out3 = str(tmp_path / "curated_bpe2")
    m4 = curate_corpus.run(
        spark, src, out3, num_groups=2,
        chunk_size=6, chunk_stride=6, bpe_merges=5, resume=True)
    assert m4["bpe_merges"] == 5  # retrained, not the stale 30-merge model
    assert m3["bpe_merges"] == m["bpe_merges"]


def test_query_index_serve_mode_matches_spark_path(spark, tmp_path):
    """--serve (PackedIndexServer, no Spark session) answers identically to
    the distributed WAND job, including tombstones and all-OOV queries."""
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages_srv")
    _pages_df(spark).write.parquet(pages)
    out = str(tmp_path / "idx_srv")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2)

    qs = ["alpha beta", "zeta common", "nosuchword atall"]
    want = query_index.run(spark, out, qs, k=5)
    got = query_index.run_served(out, qs, k=5)
    assert got["results"] == want["results"]
    assert got["results"]["2"] == []  # all-OOV key survives, empty

    victims = [h["doc_id"] for h in want["results"]["0"][:2]]
    want_ex = query_index.run(spark, out, qs, k=5, exclude_doc_ids=victims)
    got_ex = query_index.run_served(out, qs, k=5, exclude_doc_ids=victims)
    assert got_ex["results"] == want_ex["results"]
    assert not {h["doc_id"] for h in got_ex["results"]["0"]} & set(victims)


def test_query_index_all_empty_batch(spark, tmp_path):
    """A batch whose every query tokenizes to nothing ("a !!": one short
    word and punctuation) answers [] per key on the distributed and the
    served path alike, alone and next to an in-vocab query."""
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages_e")
    _pages_df(spark, n=12).write.parquet(pages)
    out = str(tmp_path / "idx_e")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=1)
    assert query_index.run_served(out, ["a !!"])["results"] == {"0": []}
    for qs in (["a !!"], ["a !!", "alpha"]):
        want = query_index.run(spark, out, qs, k=5)["results"]
        assert query_index.run_served(out, qs, k=5)["results"] == want
    assert want["0"] == [] and want["1"]


def test_build_index_positional_and_phrase_query(spark, tmp_path):
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages")
    _pages_df(spark).write.parquet(pages)
    out = str(tmp_path / "idx")
    metrics = build_index.run(spark, pages, out, docs_per_shard=16,
                              num_groups=2, positional=True,
                              positional_n_buckets=4)
    assert metrics["positional"] and metrics["positional_n_buckets"] == 4
    assert os.path.exists(os.path.join(out, "positional"))
    assert os.path.exists(os.path.join(out, "doclen"))

    # doc i = words[(i+j)%7] for j=0..5 then "common"; "alpha beta" is
    # adjacent iff alpha lands at j<=4: i%7 in {0,3,4,5,6} -> 28 of 40 docs
    res = query_index.run_phrase(spark, out, "alpha beta", k=40)
    assert len(res["results"]) == 28
    assert all(r["tf"] == 1 for r in res["results"])
    assert [r["rank"] for r in res["results"]] == list(range(1, 29))

    # phrase across the generated/"common" boundary: "eta common" needs
    # eta at j=5 -> i%7 == 1 -> 6 docs
    res_b = query_index.run_phrase(spark, out, "eta common", k=40)
    assert len(res_b["results"]) == 6

    # exact "alpha gamma" never adjacent; NEAR/1 (one intervening token)
    # needs gamma at alpha_pos+2 <= 5 -> 22 docs
    assert query_index.run_phrase(spark, out, "alpha gamma",
                                  k=40)["results"] == []
    res2 = query_index.run_phrase(spark, out, "alpha gamma", k=40, slop=1)
    assert len(res2["results"]) == 22
    assert all(r["tf"] == 1 for r in res2["results"])

    # OOV member answers [] with the missing token reported
    res3 = query_index.run_phrase(spark, out, "alpha zzz", k=5)
    assert res3["results"] == [] and res3["oov"] == ["zzz"]


def test_query_index_wildcard_and_fuzzy_modes(spark, tmp_path):
    """--wildcard / --fuzzy-dist rewrite to multi-term queries (Lucene
    MultiTermQuery rewrite) and answer identically to the equivalent
    explicit disjunction through the same WAND path — and identically
    again through --serve; the rewrite cap errors instead of expanding."""
    import pytest as _pytest

    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages_wc")
    _pages_df(spark).write.parquet(pages)
    out = str(tmp_path / "idx_wc")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2)

    # '*eta' expands to {beta, zeta, eta} == the explicit disjunction
    want = query_index.run(spark, out, ["beta zeta eta"], k=5)
    got = query_index.run_expanded(spark, out, "*eta", k=5, wildcard=True)
    assert got["n_expanded"] == 3
    assert got["results"]["0"] == want["results"]["0"]

    # fuzzy 'beta'~1 expands to the same three terms (zeta: sub, eta: del)
    fz = query_index.run_expanded(spark, out, "beta", k=5, fuzzy_dist=1)
    assert fz["n_expanded"] == 3
    assert fz["results"]["0"] == want["results"]["0"]

    # served rewrite answers identically with no Spark job
    srv = query_index.run_expanded(spark, out, "*eta", k=5, wildcard=True,
                                   serve=True)
    assert srv["results"]["0"] == want["results"]["0"]

    # no-match pattern answers an empty key; the rewrite cap trips
    none = query_index.run_expanded(spark, out, "qq*", k=5, wildcard=True)
    assert none["results"]["0"] == [] and none["n_expanded"] == 0
    with _pytest.raises(SystemExit):
        query_index.run_expanded(spark, out, "*", k=5, wildcard=True,
                                 max_expansions=3)


def test_query_index_highlight_and_facet(spark, tmp_path):
    """--highlight/--facet: snippets and result facets from the source
    pages table (the stored-fields store); pages must carry doc_id."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gensim_spark.jobs import build_index, query_index

    pages_df = _pages_df(spark).withColumn(
        "doc_id", F.monotonically_increasing_id())
    pages = str(tmp_path / "pages_hl")
    pages_df.write.parquet(pages)
    out = str(tmp_path / "idx_hl")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2)

    res = query_index.run(spark, out, ["alpha beta", "zeta common"], k=5,
                          pages_path=pages, highlight=4, facet="lang")
    for qid, toks in (("0", {"alpha", "beta"}), ("1", {"zeta", "common"})):
        hits = res["results"][qid]
        assert len(hits) == 5
        for h in hits:
            assert "<b>" in h["snippet"]
            marked = {w[3:-4] for w in h["snippet"].split()
                      if w.startswith("<b>")}
            assert marked <= toks and marked
        # result facets: every doc is lang=en, counts sum to the hits
        fc = res["facets"][qid]
        assert fc == [{"value": "en", "count": 5}]

    # pages without doc_id -> explicit error, not silent wrong ids
    pages_noid = str(tmp_path / "pages_noid")
    _pages_df(spark).write.parquet(pages_noid)
    with _pytest.raises(SystemExit):
        query_index.run(spark, out, ["alpha"], k=3, pages_path=pages_noid,
                        highlight=4)


def test_build_index_from_html_positional(spark, tmp_path):
    """--from-html --positional: the fused HTML build keeps no token
    frame, so the positional store must re-derive tokens with identical
    extraction semantics (regression: idx.docs is None on that path)."""
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages_hp")
    _pages_df(spark).write.parquet(pages)
    out = str(tmp_path / "idx_hp")
    m = build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2,
                        from_html=True, positional=True,
                        positional_n_buckets=8)
    assert m["positional"] and m["num_docs"] == 40
    res = query_index.run_phrase(spark, out, "alpha beta", k=5)
    assert len(res["results"]) == 5
    srv = query_index.run_phrase_served(out, "alpha beta", k=5)
    assert [(h["doc_id"], h["rank"]) for h in srv["results"]] == \
        [(r["doc_id"], r["rank"]) for r in res["results"]]

    # the build records its fit parameters and the served scorer reads
    # them back (ADVICE r4: no hard-coded k1/b in serving) — rewriting
    # the metrics with a different k1 must change the served scores
    import json as _json

    mpath = os.path.join(out, "build_metrics.json")
    with open(mpath) as f:
        meta = _json.load(f)
    assert (meta["k1"], meta["b"], meta["epsilon"]) == (1.5, 0.75, 0.25)
    # these uniform-length tf=1 docs make k1/b cancel (dl=avgdl → score =
    # idf_sum), but epsilon scales the clamped negative idf directly —
    # doubling it must double the (negative) phrase score
    before = srv["results"][0]["score"]
    assert before < 0  # head terms: ε-clamped idf, so ε is live here
    try:
        with open(mpath, "w") as f:
            _json.dump({**meta, "epsilon": 0.5}, f)
        after = query_index.run_phrase_served(
            out, "alpha beta", k=5)["results"][0]["score"]
        assert after == pytest.approx(2.0 * before, rel=1e-9)
    finally:
        with open(mpath, "w") as f:
            _json.dump(meta, f)


def test_query_index_or_clauses_and_exclude(spark, tmp_path):
    """CLI-level OR clauses and SpanNot: 'alpha (beta|gamma)' parses to a
    MultiPhrase (distributed == served), --exclude-term drops spans with
    the excluded word in the pre/post window."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages_oc")
    _pages_df(spark).withColumn(
        "doc_id", F.regexp_extract("url", r"p(\d+)$", 1).cast("long")
    ).write.parquet(pages)
    out = str(tmp_path / "idx_oc")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=4)

    # gamma is never adjacent to alpha, so the OR adds nothing to the
    # MATCH SET (scores differ — gamma's idf joins the pseudo-term)
    base = query_index.run_phrase(spark, out, "alpha beta", k=40)
    orq = query_index.run_phrase(spark, out, "alpha (beta|gamma)", k=40)
    assert {(r["doc_id"], r["tf"]) for r in orq["results"]} == \
        {(r["doc_id"], r["tf"]) for r in base["results"]}
    srv = query_index.run_phrase_served(out, "alpha (beta|gamma)", k=40)
    assert [(h["doc_id"], h["tf"], h["rank"]) for h in srv["results"]] == \
        [(r["doc_id"], r["tf"], r["rank"]) for r in orq["results"]]
    for h, r in zip(srv["results"], orq["results"]):
        assert h["score"] == _pytest.approx(r["score"], rel=1e-9)

    # SpanNot: "alpha beta" NOT gamma within [start, end+1] — doc i has
    # gamma at (2-i)%7, inside the window for i%7 in {0,4,5,6} and
    # absent (j=6) for i%7==3 -> only i%7==3 survives: 6 of 40 docs
    ex = query_index.run_phrase(spark, out, "alpha beta", k=40,
                                exclude="gamma", exclude_post=1)
    assert sorted(r["doc_id"] for r in ex["results"]) == \
        [i for i in range(40) if i % 7 == 3]
    assert all(r["tf"] == 1 for r in ex["results"])
    # OOV exclude can never block — identical to the plain span
    ex2 = query_index.run_phrase(spark, out, "alpha (beta|gamma)", k=40,
                                 slop=1, exclude="nosuchword")
    sl1 = query_index.run_phrase(spark, out, "alpha (beta|gamma)", k=40,
                                 slop=1)
    assert {(r["doc_id"], r["tf"]) for r in ex2["results"]} == \
        {(r["doc_id"], r["tf"]) for r in sl1["results"]}
    # --unordered + exclusion refuses outright (SpanNot's include chain
    # is ordered; silently running ordered would contradict the flag)
    with _pytest.raises(SystemExit):
        query_index.run_phrase(spark, out, "alpha beta", k=5, slop=2,
                               ordered=False, exclude="gamma")
    # a group whose alternatives all tokenize away answers [] (not a
    # crash), same as the served path — and '()' / '( )' behave alike
    empty_grp = query_index.run_phrase(spark, out, "alpha (a|b)", k=5)
    assert empty_grp["results"] == []
    assert query_index.run_phrase(spark, out, "alpha ()", k=5)["results"] \
        == []
    assert query_index.run_phrase(spark, out, "alpha ( )", k=5)["results"] \
        == []
    # single-clause slop: distributed and served BOTH refuse
    with _pytest.raises(ValueError):
        query_index.run_phrase_served(out, "alpha", k=5, slop=2)


def test_add_documents_positional_append(spark, tmp_path):
    """build_index.add_documents grows a --positional index in place
    (VERDICT r4 #3): appended docs answer phrase/NEAR/SpanNear queries
    with occurrences identical to a one-shot build over the full corpus,
    existing docs keep bit-identical scores (frozen vocab/stats - the
    reference's add_documents contract), the served path sees the grown
    store with no extra work, and the boundary guard refuses interleaved
    ids."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gensim_spark.jobs import build_index, query_index

    base = _pages_df(spark).withColumn(
        "doc_id", F.regexp_extract("url", r"p(\d+)$", 1).cast("long"))
    p_all = str(tmp_path / "pages_all")
    p_old = str(tmp_path / "pages_old")
    p_new = str(tmp_path / "pages_new")
    base.write.parquet(p_all)
    # split at a shard boundary (docs_per_shard=16): the packed-store
    # append needs new ids to start at the next fresh shard
    base.filter("doc_id < 32").write.parquet(p_old)
    base.filter("doc_id >= 32").write.parquet(p_new)

    full = str(tmp_path / "idx_full")
    inc = str(tmp_path / "idx_inc")
    build_index.run(spark, p_all, full, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=4)
    build_index.run(spark, p_old, inc, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=4)

    # frozen-score baselines on the 32-doc index: phrase AND term query
    before = {r["doc_id"]: r["score"] for r in query_index.run_phrase(
        spark, inc, "alpha beta", k=100)["results"]}
    before_term = {r["doc_id"]: r["score"] for r in query_index.run(
        spark, inc, ["alpha"], k=100)["results"]["0"]}

    rec = build_index.add_documents(spark, p_new, inc)
    assert rec["docs"] == 8

    for q, kw in [("alpha beta", {}), ("alpha gamma", {"slop": 1}),
                  ("alpha gamma epsilon", {"slop": 2})]:
        got = query_index.run_phrase(spark, inc, q, k=100, **kw)["results"]
        want = query_index.run_phrase(spark, full, q, k=100, **kw)["results"]
        # occurrence identity vs the one-shot build (scores use the
        # frozen 32-doc stats, the one-shot the 40-doc stats)
        assert {(r["doc_id"], r["tf"]) for r in got} == \
            {(r["doc_id"], r["tf"]) for r in want}
        assert any(r["doc_id"] >= 32 for r in got)  # appended docs hit
        # served answers the grown store identically, scores included
        srv = query_index.run_phrase_served(inc, q, k=100, **kw)["results"]
        assert [(h["doc_id"], h["tf"], h["rank"]) for h in srv] == \
            [(r["doc_id"], r["tf"], r["rank"]) for r in got]
        for h, r in zip(srv, got):
            assert h["score"] == _pytest.approx(r["score"], rel=1e-9)

    # the PACKED store grew too: term queries see appended docs (WAND),
    # the served path answers identically, and existing docs keep their
    # frozen scores
    term = query_index.run(spark, inc, ["alpha"], k=100)["results"]["0"]
    assert any(r["doc_id"] >= 32 for r in term)
    srv_term = query_index.run_served(inc, ["alpha"], k=100)["results"]["0"]
    assert [(h["doc_id"], h["rank"]) for h in srv_term] == \
        [(r["doc_id"], r["rank"]) for r in term]
    after_term = {r["doc_id"]: r["score"] for r in term
                  if r["doc_id"] < 32}
    assert after_term == before_term

    # existing docs: scores bit-identical before/after the append
    after = {r["doc_id"]: r["score"] for r in query_index.run_phrase(
        spark, inc, "alpha beta", k=100)["results"] if r["doc_id"] < 32}
    assert after == before

    # doclen parity with the one-shot build (dl = full token count)
    got_dl = sorted((r["doc_id"], r["dl"]) for r in
                    spark.read.parquet(f"{inc}/doclen").collect())
    want_dl = sorted((r["doc_id"], r["dl"]) for r in
                     spark.read.parquet(f"{full}/doclen").collect())
    assert got_dl == want_dl

    # metrics: scoring N frozen, total tracked, append recorded
    import json as _json

    with open(f"{inc}/build_metrics.json") as f:
        meta = _json.load(f)
    assert meta["num_docs"] == 32 and meta["num_docs_total"] == 40
    assert meta["appends"][0]["docs"] == 8
    # the packed store gained one committed append snapshot
    from gensim_spark.index.icetable import IceTable

    appends = [s.summary for s in IceTable.load(inc).snapshots
               if "append_batch" in s.summary]
    assert len(appends) == 1 and appends[0]["docs"] == "8"

    # guards: interleaved ids refuse; missing doc_id refuses;
    # non-positional index refuses
    with _pytest.raises(ValueError):
        build_index.add_documents(spark, p_new, inc)  # ids <= store max
    # an ALL-OOV batch with colliding ids must refuse too (the guard
    # checks the INPUT docs, not the vocab-joined postings — otherwise
    # it would append a duplicate doclen row for doc 5)
    p_oov = str(tmp_path / "pages_oov")
    spark.createDataFrame([(5, "zzzzz qqqqq wwwww")],
                          "doc_id long, text string").write.parquet(p_oov)
    with _pytest.raises(ValueError):
        build_index.add_documents(spark, p_oov, inc)
    p_noid = str(tmp_path / "pages_noid")
    _pages_df(spark).write.parquet(p_noid)
    with _pytest.raises(SystemExit):
        build_index.add_documents(spark, p_noid, inc)
    plain = str(tmp_path / "idx_plain")
    build_index.run(spark, p_old, plain, docs_per_shard=16, num_groups=2)
    with _pytest.raises(SystemExit):
        build_index.add_documents(spark, p_new, plain)


def test_add_documents_crash_recovery_guards(spark, tmp_path, monkeypatch):
    """Append crash-safety (review r5b): the staged files of a crashed
    packed append are never read and the retry succeeds; a pending-append
    marker (crash between store writes) refuses loudly; an incomplete
    BUILD (an uncommitted build group) refuses the append."""
    import json as _json

    import pytest as _pytest
    from pyspark.sql import functions as F

    from gensim_spark.index import layout
    from gensim_spark.index.icetable import IceTable
    from gensim_spark.jobs import build_index
    from tests.conftest import crash_commits, staged_files

    base = _pages_df(spark).withColumn(
        "doc_id", F.regexp_extract("url", r"p(\d+)$", 1).cast("long"))
    p_old = str(tmp_path / "pages_cr_old")
    p_new = str(tmp_path / "pages_cr_new")
    base.filter("doc_id < 32").write.parquet(p_old)
    base.filter("doc_id >= 32").write.parquet(p_new)
    out = str(tmp_path / "idx_cr")
    build_index.run(spark, p_old, out, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=4)

    # (a) a crashed packed append (shard 2 staged, never committed): the
    # boundary ignores it, and the retried append lands as the one
    # committed append snapshot, read exactly once
    wdummy = spark.createDataFrame(
        [(32, 0, 1.0), (33, 1, 1.0)],
        "doc_id long, term_id long, weight double")
    with monkeypatch.context() as m:
        crash_commits(m, lambda s: "append_batch" in s)
        with _pytest.raises(RuntimeError, match="simulated crash"):
            layout.append_packed_shards(wdummy, out)
    assert len(staged_files(out)) > len(layout.packed_files(out))
    rec = build_index.add_documents(spark, p_new, out)
    assert rec["docs"] == 8
    appended = IceTable.load(out).snapshots[-1].summary
    assert appended["docs"] == "8"
    shard2 = layout.read_packed_shards(spark, out, shard_ids=[2])
    assert shard2.groupBy().agg(F.sum("n")).collect()[0][0] == \
        int(appended["postings"])

    # (b) pending marker: a crash BETWEEN store writes leaves it set —
    # the next append must refuse with the batch named
    mpath = f"{out}/build_metrics.json"
    with open(mpath) as f:
        meta = _json.load(f)
    try:
        with open(mpath, "w") as f:
            _json.dump({**meta, "pending_append":
                        {"input": "p_new", "min_doc_id": 32}}, f)
        with _pytest.raises(ValueError, match="half-applied"):
            build_index.add_documents(spark, p_new, out)
    finally:
        with open(mpath, "w") as f:
            _json.dump(meta, f)

    # (c) incomplete build: a build killed at group 1's commit — the
    # packed append must refuse rather than land past the missing group
    partial = str(tmp_path / "idx_partial")
    wbuild = spark.createDataFrame(
        [(d, 0, 1.0) for d in range(32)],
        "doc_id long, term_id long, weight double")
    with monkeypatch.context() as m:
        crash_commits(m, lambda s: s.get("group") == 1)
        with _pytest.raises(RuntimeError, match="simulated crash"):
            layout.write_packed_shards(wbuild, partial, docs_per_shard=16,
                                       num_groups=2)
    wlate = spark.createDataFrame(
        [(1000, 0, 1.0)], "doc_id long, term_id long, weight double")
    with _pytest.raises(ValueError, match="uncommitted"):
        layout.append_packed_shards(wlate, partial)


def test_crashed_append_is_never_read(spark, tmp_path, monkeypatch):
    """An append whose files are staged but never committed is invisible
    to every packed reader — the Spark scan, distributed WAND, both
    serving modes and the served query job answer exactly as before it —
    and retrying the same batch succeeds and is then seen by all of
    them."""
    from pyspark.sql import functions as F

    from gensim_spark.index import layout, serving, wand
    from gensim_spark.jobs import build_index, query_index
    from tests.conftest import crash_commits, staged_files

    pages = str(tmp_path / "pages")
    _pages_df(spark, n=32).withColumn(
        "doc_id", F.regexp_extract("url", r"p(\d+)$", 1).cast("long")) \
        .write.parquet(pages)
    out = str(tmp_path / "idx")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2)
    tid = {r["token"]: r["term_id"]
           for r in spark.read.parquet(f"{out}/vocab").collect()}
    qterms = {0: {tid["alpha"]: 1.0, tid["common"]: 1.0}}
    # heavy weights on the query terms: the batch tops every answer once
    # it is visible
    batch = spark.createDataFrame(
        [(d, t, 50.0) for d in (32, 33, 40) for t in qterms[0]],
        "doc_id long, term_id long, weight double")

    def answers():
        wand_rows = sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in wand.wand_topk(spark, out, qterms, k=5).collect())
        served = [
            serving.PackedIndexServer(out, preload=p).topk(qterms, k=5)
            for p in (True, False)]
        job = query_index.run_served(out, ["alpha common"], k=5)["results"]
        packed = layout.read_packed_shards(spark, out)
        return {"postings": packed.groupBy().agg(F.sum("n")).collect()[0][0],
                "wand": wand_rows,
                "served": [sorted((q, r, d, s) for q, d, s, r in rows)
                           for rows in served],
                "run_served": [(h["rank"], h["doc_id"], h["score"])
                               for h in job["0"]]}

    before = answers()
    assert before["served"] == [before["wand"]] * 2
    with monkeypatch.context() as m:
        crash_commits(m, lambda s: "append_batch" in s)
        with pytest.raises(RuntimeError, match="simulated crash"):
            layout.append_packed_shards(batch, out)
    assert len(staged_files(out)) > len(layout.packed_files(out))
    assert answers() == before

    layout.append_packed_shards(batch, out)
    after = answers()
    assert after["postings"] == before["postings"] + 6
    assert {d for _q, _r, d, _s in after["wand"][:3]} == {32, 33, 40}
    assert after["served"] == [after["wand"]] * 2
    assert after["run_served"] == [(r, d, s)
                                   for _q, r, d, s in after["wand"]]


def _positional_index(spark, tmp_path):
    """A 32-doc ``--positional`` index (4 buckets) plus the next 8 pages
    as an append batch: (index dir, append pages path)."""
    from pyspark.sql import functions as F

    from gensim_spark.jobs import build_index

    base = _pages_df(spark).withColumn(
        "doc_id", F.regexp_extract("url", r"p(\d+)$", 1).cast("long"))
    p_old = str(tmp_path / "pages_old")
    p_new = str(tmp_path / "pages_new")
    base.filter("doc_id < 32").write.parquet(p_old)
    base.filter("doc_id >= 32").write.parquet(p_new)
    out = str(tmp_path / "idx")
    build_index.run(spark, p_old, out, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=4)
    return out, p_new


def test_staged_positional_write_is_never_read(spark, tmp_path):
    """Positional rows staged into the bucketed table but never committed
    (a writer killed between its two commit phases) are invisible to the
    distributed reader, the served phrase path and add_documents' boundary
    guard."""
    from pyspark.sql import functions as F

    from gensim_spark.index import layout, serving
    from gensim_spark.index.icetable import IceTable
    from gensim_spark.jobs import build_index, query_index
    from gensim_spark.operators import positional as PX
    from gensim_spark.plans import pipeline as P

    out, p_new = _positional_index(spark, tmp_path)
    pos_dir = f"{out}/positional"
    vocab = spark.read.parquet(f"{out}/vocab")
    tids = [r["term_id"] for r in
            vocab.filter(F.col("token").isin("alpha", "beta")).collect()]

    def answers():
        serving._SERVER_CACHE.clear()
        rows = layout.read_postings_bucketed(spark, pos_dir, term_ids=tids)
        return (sorted(r["doc_id"] for r in rows.collect()),
                serving.phrase_topk_served(out, ["alpha", "beta"], k=100))

    before = answers()
    stray = spark.createDataFrame([(999, "alpha beta alpha beta")],
                                  "doc_id long, text string")
    staged = PX.positional_postings(P.tokenize(stray), vocab)
    IceTable.load(pos_dir).stage_write(staged.withColumn("salt", F.lit(0)))
    assert answers() == before
    assert 999 not in before[0]
    # the guard sees the committed max (31), not the staged 999
    assert build_index.add_documents(spark, p_new, out)["docs"] == 8
    after = answers()
    assert 999 not in after[0] and max(after[0]) >= 32
    assert 999 not in {r["doc_id"] for r in query_index.run_phrase(
        spark, out, "alpha beta", k=100)["results"]}


def test_plain_parquet_positional_store_is_refused(spark, tmp_path):
    """A positional store written as plain hive-partitioned parquet (no
    snapshot metadata) is refused by name — with its path and the rebuild
    command — by the distributed and served phrase paths and by
    add_documents, not read as empty or failed with FileNotFoundError."""
    import shutil

    from gensim_spark.index import layout, serving
    from gensim_spark.jobs import build_index, query_index

    out, p_new = _positional_index(spark, tmp_path)
    pos_dir = f"{out}/positional"
    rows = layout.read_postings_bucketed(spark, pos_dir).collect()
    shutil.rmtree(pos_dir)
    spark.createDataFrame(rows).write.partitionBy("bucket").parquet(pos_dir)
    for call in (
            lambda: query_index.run_phrase(spark, out, "alpha beta"),
            lambda: query_index.run_phrase_served(out, "alpha beta"),
            lambda: serving.PositionalIndexServer(out),
            lambda: build_index.add_documents(spark, p_new, out)):
        with pytest.raises(layout.BucketedFormatError) as err:
            call()
        assert pos_dir in str(err.value)
        assert "build_index --positional" in str(err.value)


def test_refused_resume_leaves_vocab_untouched(spark, tmp_path):
    """A resume the packed store refuses (here: another docs_per_shard)
    fails before anything is written — the index's vocab stays the one
    its packed runs were built with, byte for byte, even though the new
    input would give another vocab."""
    from gensim_spark.jobs import build_index

    p_a = str(tmp_path / "pages_a")
    p_b = str(tmp_path / "pages_b")
    _pages_df(spark, n=20).write.parquet(p_a)
    spark.createDataFrame([(0, "omega psi chi"), (1, "omega phi")],
                          "doc_id long, text string").write.parquet(p_b)
    out = str(tmp_path / "idx")
    build_index.run(spark, p_a, out, docs_per_shard=16, num_groups=2)

    def vocab_bytes():
        import pathlib

        return {p.name: p.read_bytes()
                for p in sorted(pathlib.Path(out, "vocab").iterdir())}

    before = vocab_bytes()
    with pytest.raises(ValueError, match="docs_per_shard"):
        build_index.run(spark, p_b, out, docs_per_shard=8, num_groups=2)
    assert vocab_bytes() == before


def test_query_index_span_near_multi(spark, tmp_path):
    """3+-term sloppy phrase '"a b c"~slop' end-to-end: the distributed
    span_near_topk path via --phrase --slop, and the served greedy-chain
    fold answering identically (doc/tf/score/rank) with no Spark job."""
    import pytest as _pytest

    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages_sn")
    _pages_df(spark).write.parquet(pages)
    out = str(tmp_path / "idx_sn")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=4)

    # doc i = words[(i+j)%7] j=0..5 + "common": "alpha gamma epsilon"
    # sits at positions p, p+2, p+4 (stretch 4+1-3 = 2) iff alpha lands
    # at j<=1 -> i%7 in {0, 6} -> 11 of 40 docs (6 + 5); never within
    # slop 1
    res0 = query_index.run_phrase(spark, out, "alpha gamma epsilon", k=40,
                                  slop=1)
    assert res0["results"] == []
    res = query_index.run_phrase(spark, out, "alpha gamma epsilon", k=40,
                                 slop=2)
    assert len(res["results"]) == 11
    assert all(r["tf"] == 1 for r in res["results"])

    srv = query_index.run_phrase_served(out, "alpha gamma epsilon", k=40,
                                        slop=2)
    assert [(h["doc_id"], h["tf"], h["rank"]) for h in srv["results"]] == \
        [(r["doc_id"], r["tf"], r["rank"]) for r in res["results"]]
    for h, r in zip(srv["results"], res["results"]):
        assert h["score"] == _pytest.approx(r["score"], rel=1e-9)
    assert query_index.run_phrase_served(
        out, "alpha gamma epsilon", k=40, slop=1)["results"] == []

    # 4 clauses, wider slop: words are distinct within a doc so the
    # chain is unique; "alpha beta gamma delta"~3 allows stretch <= 3
    # over positions p..p+3 (exact run) -> alpha at j<=2: i%7 in
    # {0, 5, 6} -> 16 docs (6 + 5 + 5); served identical
    res4 = query_index.run_phrase(spark, out, "alpha beta gamma delta",
                                  k=40, slop=3)
    srv4 = query_index.run_phrase_served(out, "alpha beta gamma delta",
                                         k=40, slop=3)
    assert len(res4["results"]) == 16
    assert [(h["doc_id"], h["rank"]) for h in srv4["results"]] == \
        [(r["doc_id"], r["rank"]) for r in res4["results"]]

    # unordered n>=3 (window cover): distributed and served answer
    # identically, clause order irrelevant
    resu = query_index.run_phrase(spark, out, "gamma alpha epsilon", k=40,
                                  slop=2, ordered=False)
    assert {r["doc_id"] for r in resu["results"]} == \
        {r["doc_id"] for r in res["results"]}
    srvu = query_index.run_phrase_served(out, "gamma alpha epsilon", k=40,
                                         slop=2, ordered=False)
    assert [(h["doc_id"], h["tf"], h["rank"]) for h in srvu["results"]] == \
        [(r["doc_id"], r["tf"], r["rank"]) for r in resu["results"]]
    for h, r in zip(srvu["results"], resu["results"]):
        assert h["score"] == _pytest.approx(r["score"], rel=1e-9)


def test_positional_deletes_apply_on_every_phrase_path(spark, tmp_path):
    """An equality delete on the positional table hides the doc from the
    distributed phrase plan and from the served one, warm or cold; before
    the delete both return it."""
    from pyspark.sql import functions as F

    from gensim_spark.index import layout, serving
    from gensim_spark.jobs import build_index, query_index

    pages = str(tmp_path / "pages_del")
    _pages_df(spark, n=10).withColumn(
        "doc_id", F.regexp_extract("url", r"p(\d+)$", 1).cast("long")
    ).write.parquet(pages)
    out = str(tmp_path / "idx_del")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=1,
                    positional=True, positional_n_buckets=4)

    def answers():
        dist = query_index.run_phrase(spark, out, "alpha beta", k=20)
        srv = query_index.run_phrase_served(out, "alpha beta", k=20)
        return ([(r["doc_id"], r["tf"], r["rank"]) for r in dist["results"]],
                [(r["doc_id"], r["tf"], r["rank"]) for r in srv["results"]])

    dist, srv = answers()
    assert dist == srv and 3 in {d for d, _, _ in dist}
    layout.delete_docs_iceberg(spark, f"{out}/positional", [3])
    dist, srv = answers()  # the served call reuses nothing stale
    assert dist == srv and dist
    assert 3 not in {d for d, _, _ in dist}
    cold = serving.PositionalIndexServer(out).query(["alpha", "beta"], k=20)
    assert [(d, tf, rk) for d, tf, _s, rk in cold] == srv


def test_clause_oov_rule_agrees_across_entry_points(spark, tmp_path):
    """The OOV-alternative rule for '(a|b)' clauses gives one answer on
    SearchEngine.multi_phrase, run_phrase and run_phrase_served: an OOV
    alternative drops, an all-OOV clause answers [], and a repeated
    alternative counts once."""
    from gensim_spark.api import SearchEngine
    from gensim_spark.jobs import build_index, query_index

    words = ["value", "table", "key", "table", "value", "row", "index"]
    rows = [(i, " ".join(words[(i + j) % 7] for j in range(3 + i % 5)))
            for i in range(24)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pages = str(tmp_path / "pages_cl")
    docs.write.parquet(pages)
    out = str(tmp_path / "idx_cl")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=4)
    engine = SearchEngine(docs)

    cases = {"value (table|zzz)": [["value"], ["table", "zzz"]],
             "value (zzz|qqq)": [["value"], ["zzz", "qqq"]],
             "(table|table) value": [["table", "table"], ["value"]]}
    for text, alts in cases.items():
        se = [(r["doc_id"], r["score"], r["rank"]) for r in
              engine.multi_phrase(alts, k=30).orderBy("rank").collect()]
        dist = [(r["doc_id"], r["score"], r["rank"]) for r in
                query_index.run_phrase(spark, out, text, k=30)["results"]]
        srv = [(r["doc_id"], r["score"], r["rank"]) for r in
               query_index.run_phrase_served(out, text, k=30)["results"]]
        assert [(d, rk) for d, _, rk in se] == \
            [(d, rk) for d, _, rk in dist] == \
            [(d, rk) for d, _, rk in srv], text
        for (_, a, _), (_, b, _), (_, c, _) in zip(se, dist, srv):
            assert a == pytest.approx(b, rel=1e-12), text
            assert c == pytest.approx(b, rel=1e-9), text
        assert bool(dist) == (text != "value (zzz|qqq)"), text
