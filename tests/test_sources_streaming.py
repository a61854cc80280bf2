"""Sources (Matrix Market, text corpus, vocab TSV), streaming incremental
build, and multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import docs_df
from tests.oracle import PyDictionary


def test_mm_roundtrip(spark, common_texts, tmp_path):
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import vocab as V
    from gensim_spark.sources import matrix_market as MM

    df = docs_df(spark, common_texts)
    vocab = V.build_vocab(df)
    postings = B.doc2bow_postings(df, vocab)
    path = str(tmp_path / "corpus.mm")
    nd, nt, nnz = MM.write_mm(postings, path, weight_col="tf")
    odict = PyDictionary(common_texts)
    assert nd == odict.num_docs and nnz == odict.num_nnz
    with open(path) as f:
        assert f.readline().startswith("%%MatrixMarket")
        assert f.readline().split() == [str(nd), str(nt), str(nnz)]
    back = MM.read_mm(spark, path)
    got = {(r["doc_id"], r["term_id"]): r["weight"] for r in back.collect()}
    want = {(r["doc_id"], r["term_id"]): float(r["tf"])
            for r in postings.collect()}
    assert got == want
    assert MM.mm_stats(spark, path) == (nd, nt, nnz)


def test_mm_no_phantom_size_line_posting(spark, tmp_path):
    """The 3-token size line must NOT surface as a posting. Regression: a
    corpus whose (max_doc, max_term) cell is EMPTY — a phantom
    (num_docs-1, num_terms-1, nnz) entry cannot hide behind a collision."""
    from gensim_spark.sources import matrix_market as MM

    p = spark.createDataFrame(
        [(0, 2, 1.0), (2, 0, 4.0)],  # nd=3, nt=3; cell (2,2) empty
        "doc_id long, term_id long, weight double",
    )
    path = str(tmp_path / "gap.mm")
    nd, nt, nnz = MM.write_mm(p, path)
    assert (nd, nt, nnz) == (3, 3, 2)
    back = {(r["doc_id"], r["term_id"]): r["weight"]
            for r in MM.read_mm(spark, path).collect()}
    assert back == {(0, 2): 1.0, (2, 0): 4.0}  # no (2, 2, 2.0) phantom
    assert MM.mm_stats(spark, path) == (3, 3, 2)


def test_mm_writer_drops_near_zero(spark, tmp_path):
    from gensim_spark.sources import matrix_market as MM

    p = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 1e-15), (1, 0, -2.5)],
        "doc_id long, term_id long, weight double",
    )
    path = str(tmp_path / "z.mm")
    nd, nt, nnz = MM.write_mm(p, path)
    assert nnz == 2  # |1e-15| <= 1e-12 dropped (matutils.py MmWriter)


def test_text_corpus_reader(spark, tmp_path):
    from gensim_spark.sources import textcorpus as TC

    f = tmp_path / "docs.txt"
    f.write_text("The quick brown fox jumped\nand all we see is trees\n")
    df = TC.read_text_corpus(spark, str(f))
    rows = {r["doc_id"]: r["tokens"] for r in df.collect()}
    # default pipeline: lower, deaccent, tokenize, stopwords out, len>=3
    assert rows[0] == ["quick", "brown", "fox", "jumped"]
    assert rows[1] == ["trees"]


def test_vocab_tsv_roundtrip(spark, common_texts, tmp_path):
    from gensim_spark.operators import vocab as V
    from gensim_spark.sources import textcorpus as TC

    df = docs_df(spark, common_texts)
    vocab = V.build_vocab(df)
    path = str(tmp_path / "vocab.tsv")
    TC.save_vocab_as_text(vocab, path, num_docs=len(common_texts))
    back, nd = TC.load_vocab_from_text(spark, path)
    assert nd == len(common_texts)
    got = {r["token"]: (r["term_id"], r["df"]) for r in back.collect()}
    want = {r["token"]: (r["term_id"], r["df"]) for r in vocab.collect()}
    assert got == want


def test_streaming_incremental_build(spark, tmp_path):
    """Micro-batched incremental build: ids stay gensim-deterministic across
    batches (same token keeps id; new tokens appended)."""
    from gensim_spark.sources.synth import generate_pages
    from gensim_spark.streaming.incremental import (compact,
                                                    start_incremental_build)

    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    pages = generate_pages(spark, 200, tokens_per_doc=30, partitions=2)
    pages.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = start_incremental_build(spark, stream, store, ckpt)
    q.awaitTermination(120)

    from gensim_spark.streaming.incremental import (counts_table,
                                                    read_counts, read_vocab)

    counts = read_counts(spark, store)
    vocab = read_vocab(spark, store)
    assert counts.select("doc_id").distinct().count() == 200
    # each micro-batch committed as one append snapshot with its batch id
    ct = counts_table(store)
    batch_ids = [s.summary.get("batch_id") for s in ct.snapshots]
    assert len(batch_ids) == len(set(batch_ids)) and len(batch_ids) >= 1
    # vocabulary ids are unique and gap-free
    ids = sorted(r["term_id"] for r in vocab.collect())
    assert ids == list(range(len(ids)))

    idx_dir = str(tmp_path / "packed")
    t = compact(spark, store, idx_dir)
    groups = [s for s in t.snapshots if "group" in s.summary]
    assert len(groups) == 8  # default num_groups, all committed as snapshots
    # a second batch of new pages extends the vocab without changing old ids
    before = {r["token"]: r["term_id"] for r in vocab.collect()}
    from gensim_spark.streaming.incremental import vocab_table

    snap_before = vocab_table(store).current_snapshot.snapshot_id
    more = generate_pages(spark, 50, tokens_per_doc=30, partitions=1).withColumn(
        "doc_id", F.col("doc_id") + 200
    )
    more.write.mode("append").parquet(src)
    q2 = start_incremental_build(
        spark,
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
        store, ckpt,
    )
    q2.awaitTermination(120)
    after = {r["token"]: r["term_id"]
             for r in read_vocab(spark, store).collect()}
    for tok, tid in before.items():
        assert after[tok] == tid
    # vocab history is time-travelable: the pre-extension snapshot still
    # serves the old vocabulary
    vt = vocab_table(store)
    old_vocab = {r["token"]: r["term_id"]
                 for r in vt.scan(spark, snapshot_id=snap_before).collect()}
    assert old_vocab == before


def test_second_compaction_replaces_shards(spark, tmp_path):
    """Compaction into an index_dir that already holds a compacted store
    replaces it: after 50 more pages, every packed reader sees the new
    documents and equals a fresh compaction into a new directory, and the
    served node answers exactly as the distributed WAND plan."""
    from gensim_spark.index import layout, serving, wand
    from gensim_spark.sources.synth import generate_pages
    from gensim_spark.streaming.incremental import (compact,
                                                    process_pages_batch,
                                                    read_vocab)

    store = str(tmp_path / "store")
    process_pages_batch(
        generate_pages(spark, 200, tokens_per_doc=30, partitions=2), 0,
        store)
    idx_dir, fresh_dir = str(tmp_path / "packed"), str(tmp_path / "fresh")
    compact(spark, store, idx_dir)
    process_pages_batch(
        generate_pages(spark, 50, tokens_per_doc=30, partitions=1)
        .withColumn("doc_id", F.col("doc_id") + 200), 1, store)
    compact(spark, store, idx_dir)
    compact(spark, store, fresh_dir)

    def rows(d):
        return sorted(tuple(r) for r in
                      layout.read_packed_shards(spark, d).collect())

    assert rows(idx_dir) == rows(fresh_dir)
    tid = {r["token"]: r["term_id"]
           for r in read_vocab(spark, store).collect()}
    qterms = {0: {tid["shard"]: 1.0, tid["wand"]: 1.0},
              1: {tid["customer"]: 1.0}}

    def wand_rows(d):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                      for r in wand.wand_topk(spark, d, qterms,
                                              k=300).collect())

    got = wand_rows(idx_dir)
    assert got == wand_rows(fresh_dir)
    assert any(d >= 200 for _q, _r, d, _s in got)
    served = serving.PackedIndexServer(idx_dir).topk(qterms, k=300)
    assert sorted((q, r, d, s) for q, d, s, r in served) == got


def test_incremental_replay_after_crash_between_commits(spark, tmp_path):
    """Round-2 ADVICE (medium): each batch does TWO commits (counts append,
    vocab overwrite). A crash between them must not lose the batch's tokens
    on replay — the vocab commit is the completion marker."""
    from gensim_spark.functions.textprep import extract_tokenize_bow
    from gensim_spark.sources.synth import generate_pages
    from gensim_spark.streaming.incremental import (counts_table,
                                                    process_pages_batch,
                                                    read_counts, read_vocab,
                                                    vocab_table)

    store = str(tmp_path / "store")
    b0 = generate_pages(spark, 40, tokens_per_doc=25, partitions=1)
    b1 = generate_pages(spark, 40, tokens_per_doc=25, partitions=1) \
        .withColumn("doc_id", F.col("doc_id") + 40)
    process_pages_batch(b0, 0, store)
    # simulate the crash: batch 1's counts append landed, vocab did not
    counts1 = extract_tokenize_bow(b1)
    counts_table(store).append(counts1.select("doc_id", "token", "tf", "dl"),
                               summary={"batch_id": 1, "docs": 40})
    vocab_before = {r["token"] for r in read_vocab(spark, store).collect()}
    # stream restart replays batch 1
    process_pages_batch(b1, 1, store)
    # no duplicated counts: exactly one counts snapshot carries batch_id=1
    ct = counts_table(store)
    assert [s.summary["batch_id"] for s in ct.snapshots].count("1") == 1
    assert read_counts(spark, store).count() \
        == counts1.count() + extract_tokenize_bow(b0).count()
    # the vocab DID advance with batch 1's tokens
    vocab_after = {r["token"]: r["term_id"]
                   for r in read_vocab(spark, store).collect()}
    batch1_tokens = {r["token"] for r in counts1.select("token").distinct()
                     .collect()}
    assert batch1_tokens <= set(vocab_after)
    assert vocab_before < set(vocab_after) or batch1_tokens <= vocab_before
    # a full replay of the completed batch is a no-op on both tables
    v_ver = vocab_table(store).version
    c_ver = counts_table(store).version
    process_pages_batch(b1, 1, store)
    assert vocab_table(store).version == v_ver
    assert counts_table(store).version == c_ver


def test_streaming_event_stats_plan(spark):
    """The watermarked windowed agg compiles and carries the event-time
    watermark (no real stream needed to validate the plan)."""
    from gensim_spark.streaming.incremental import streaming_event_stats

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.col("timestamp").alias("ts"),
                F.lit("a").alias("event_type"),
                F.col("value").cast("double").alias("value"))
    )
    out = streaming_event_stats(stream)
    assert out.isStreaming
    assert "window_start" in out.columns
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "watermark" in plan.lower()


def test_multimodal_feature_plumbing(spark):
    from gensim_spark.operators import multimodal as MM

    media = MM.make_fake_media(spark, 32)
    feats = MM.extract_features(media).collect()
    assert len(feats) == 32
    by_id = {r["media_id"]: r for r in feats}
    assert all(len(r["feature"]) == 16 for r in feats)
    # deterministic: same payload → same feature
    again = {r["media_id"]: r for r in MM.extract_features(media).collect()}
    assert by_id[0]["feature"] == again[0]["feature"]
    # n_bytes matches payload length
    raw = {r["media_id"]: len(bytes(r["payload"])) for r in media.collect()}
    assert all(by_id[i]["n_bytes"] == raw[i] for i in raw)


def test_multimodal_decode_unknown_magic_raises(spark):
    import pandas as pd

    from gensim_spark.operators import multimodal as MM

    with pytest.raises(NotImplementedError):
        MM.decode_image_batch(pd.Series([b"\x89PNG fake"]))


def test_pnm_and_bmp_real_codecs_roundtrip():
    """PNM (binary + ascii + bitmap) and uncompressed BMP decode REAL bytes."""
    import numpy as np

    from gensim_spark.operators import multimodal as MM

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    gray = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)

    assert np.array_equal(MM.decode_pnm(MM.encode_ppm(rgb)), rgb)
    assert np.array_equal(MM.decode_pnm(MM.encode_ppm(gray)), gray)
    assert np.array_equal(MM.decode_bmp(MM.encode_bmp(rgb)), rgb)

    # ascii P2 with a comment line and non-255 maxval rescale
    p2 = b"P2\n# comment\n3 2\n100\n0 50 100\n25 75 100\n"
    got = MM.decode_pnm(p2)
    assert got.shape == (2, 3)
    assert got[0, 0] == 0 and got[0, 2] == 255 and got[1, 0] == 63

    # P1/P4 bitmaps: 1 = black = 0 intensity
    p1 = b"P1\n3 2\n1 0 1\n0 1 0\n"
    want = np.array([[0, 255, 0], [255, 0, 255]], dtype=np.uint8)
    assert np.array_equal(MM.decode_pnm(p1), want)
    p4 = b"P4\n3 2\n" + bytes([0b10100000, 0b01000000])
    assert np.array_equal(MM.decode_pnm(p4), want)

    # magic dispatch
    assert MM.decode_image(MM.encode_bmp(rgb)).shape == (5, 7, 3)
    assert MM.decode_image(MM.encode_ppm(gray)).shape == (4, 6)


def test_png_codec_roundtrip_all_filters_and_color_types():
    """Pure-python PNG: every filter type (0-4) and color type (gray, RGB,
    gray+alpha, RGBA, palette) reconstructs bit-identically; golden bytes
    checked against a fixed literal so the encoder can't mask decoder bugs."""
    import numpy as np

    from gensim_spark.operators import multimodal as MM

    rng = np.random.default_rng(23)
    rgb = rng.integers(0, 256, size=(9, 6, 3), dtype=np.uint8)
    # per-row filters cycle through all five reconstruction paths
    filters = [y % 5 for y in range(rgb.shape[0])]
    assert np.array_equal(MM.decode_png(MM.encode_png(rgb, filters)), rgb)
    gray = rng.integers(0, 256, size=(5, 11), dtype=np.uint8)
    assert np.array_equal(
        MM.decode_png(MM.encode_png(gray, [4, 3, 2, 1, 0])), gray)
    rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    assert np.array_equal(MM.decode_png(MM.encode_png(rgba, [4] * 4)), rgba)
    ga = rng.integers(0, 256, size=(3, 5, 2), dtype=np.uint8)
    assert np.array_equal(MM.decode_png(MM.encode_png(ga, [3] * 3)), ga)
    # golden: a hand-assembled 2x2 palette PNG (color type 3)
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red, green, blue
    idx_rows = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
    golden = (MM._PNG_MAGIC
              + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
              + chunk(b"PLTE", plte)
              + chunk(b"IDAT", zlib.compress(idx_rows))
              + chunk(b"IEND", b""))
    got = MM.decode_png(golden)
    want = np.array([[[255, 0, 0], [0, 255, 0]],
                     [[0, 0, 255], [255, 0, 0]]], dtype=np.uint8)
    assert np.array_equal(got, want)
    # magic dispatch routes PNG
    assert MM.decode_image(MM.encode_png(rgb)).shape == (9, 6, 3)


def test_extract_image_features_real_pixels(spark):
    """End-to-end: Spark table of REAL encoded images (mixed PNM/BMP/PNG)
    → pixel-derived features (not byte-fold fakes)."""
    import numpy as np

    from gensim_spark.operators import multimodal as MM

    rng = np.random.default_rng(11)
    rows = []
    imgs = {}
    for i in range(6):
        arr = rng.integers(0, 256, size=(8 + i, 10, 3), dtype=np.uint8)
        payload = [MM.encode_ppm, MM.encode_bmp, MM.encode_png][i % 3](arr)
        imgs[i] = arr
        rows.append((i, "image", "image/x-portable-pixmap", 10, 8 + i,
                     0, bytearray(payload)))
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = {r["media_id"]: r["feature"]
             for r in MM.extract_image_features(media).collect()}
    for i, arr in imgs.items():
        want = MM.image_feature_vector(arr, 16)
        assert feats[i] == pytest.approx(want.tolist(), rel=1e-6)
        assert feats[i][0] == arr.shape[0] and feats[i][1] == arr.shape[1]


def test_frame_sample_plan(spark):
    from gensim_spark.operators import multimodal as MM

    media = MM.make_fake_media(spark, 12)
    frames = MM.frame_sample_plan(media, every_ms=1000)
    rows = frames.groupBy("media_id").count().collect()
    durations = {r["media_id"]: r["duration_ms"]
                 for r in media.filter(F.col("kind") == "video").collect()}
    for r in rows:
        assert r["count"] == max(durations[r["media_id"]] // 1000, 1)


def test_opinosis_corpus_reader(spark, tmp_path):
    """OpinosisCorpus semantics (opinosiscorpus.py:25-79): one doc per file
    under summaries-gold/**, \\w+ lowercase tokens, stopwords out, Porter
    stemmed; composes into Dictionary/doc2bow."""
    from gensim_spark.functions.porter import porter_stem
    from gensim_spark.operators import bow as B
    from gensim_spark.operators import vocab as V
    from gensim_spark.sources.textcorpus import read_opinosis

    root = tmp_path / "opinosis"
    d1 = root / "summaries-gold" / "battery_life"
    d2 = root / "summaries-gold" / "screen_quality"
    d1.mkdir(parents=True)
    d2.mkdir(parents=True)
    (d1 / "a.txt.gold").write_text("The battery lasted for DAYS, running!")
    (d2 / "b.txt.gold").write_text("the screen is very sharp and bright.")

    docs = read_opinosis(spark, str(root))
    rows = {r["doc_id"]: r["tokens"] for r in docs.collect()}
    assert len(rows) == 2
    # reference preprocessing: \w+ on lowered text, stopword drop, stemming
    want0 = [porter_stem(t) for t in
             ["battery", "lasted", "days", "running"]]
    assert rows[0] == want0
    assert "the" not in rows[1] and "is" not in rows[1]
    # composes with the Dictionary/doc2bow surface
    vocab = V.build_vocab(docs)
    postings = B.doc2bow_postings(docs, vocab)
    assert postings.count() == len(set(rows[0])) + len(set(rows[1]))
