"""PackedIndexServer: in-process serving is rank+score identical to the
distributed WAND plan and the exhaustive join-agg plan over the same store."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def served_store(spark, tmp_path_factory):
    from gensim_spark.index import layout
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 1200, tokens_per_doc=50, partitions=8)
    tok = P.tokenize(pages, ascii_fast_path=True)
    idx = P.build(tok, num_docs=1200)
    out = str(tmp_path_factory.mktemp("served"))
    layout.write_packed_shards(idx.weighted, out, docs_per_shard=128,
                               num_groups=4, resume=False)
    return idx, out


def _rows(df):
    return sorted((r["query_id"], r["rank"], r["doc_id"],
                   round(r["score"], 9)) for r in df.collect())


def _srows(rows):
    return sorted((q, rk, d, round(s, 9)) for q, d, s, rk in rows)


def _qterms(idx, n_queries=4, terms_per_q=3):
    vocab_rows = idx.vocab.orderBy("term_id").collect()
    step = max(1, len(vocab_rows) // (n_queries * terms_per_q + 1))
    qterms = {}
    for qid in range(n_queries):
        qterms[qid] = {
            int(vocab_rows[(qid * terms_per_q + j) * step]["term_id"]):
                1.0 + 0.25 * j
            for j in range(terms_per_q)
        }
    return qterms


def test_serving_matches_distributed_wand(spark, served_store):
    from gensim_spark.index import serving, wand

    idx, out = served_store
    qterms = _qterms(idx)
    srv = serving.PackedIndexServer(out, preload=True)
    for k in (1, 5, 20):
        want = _rows(wand.wand_topk(spark, out, qterms, k=k))
        got = _srows(srv.topk(qterms, k=k))
        assert got == want, k


def test_serving_disk_mode_identical(spark, served_store):
    from gensim_spark.index import serving

    idx, out = served_store
    qterms = _qterms(idx, n_queries=2)
    hot = serving.PackedIndexServer(out, preload=True)
    cold = serving.PackedIndexServer(out, preload=False)
    assert _srows(cold.topk(qterms, k=7)) == _srows(hot.topk(qterms, k=7))


def test_serving_matches_joinagg_exhaustive(spark, served_store):
    """Cross-plan: served results equal the exhaustive relational plan over
    the same float32-stored weights (the exactness contract of wand.py)."""
    from gensim_spark.index import serving
    from gensim_spark.operators import topk as T

    idx, out = served_store
    qterms = _qterms(idx, n_queries=3)
    srv = serving.PackedIndexServer(out, preload=True)
    wf32 = idx.weighted.withColumn(
        "weight", F.col("weight").cast("float").cast("double"))
    qdf = spark.createDataFrame(
        [(qid, int(t), float(w)) for qid, ts in qterms.items()
         for t, w in ts.items()],
        "query_id int, term_id long, q_weight double")
    want = _rows(T.search(wf32, qdf, k=10))
    got = _srows(srv.topk(qterms, k=10))
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], rel=1e-9)


def test_serving_exclusion_matches_distributed(spark, served_store):
    from gensim_spark.index import serving, wand

    idx, out = served_store
    qterms = _qterms(idx, n_queries=2)
    srv = serving.PackedIndexServer(out, preload=True)
    base = srv.topk(qterms, k=5)
    victims = sorted({d for _, d, _, _ in base})[:3]
    want = _rows(wand.wand_topk(spark, out, qterms, k=5,
                                exclude_doc_ids=victims))
    got = _srows(srv.topk(qterms, k=5, exclude_doc_ids=victims))
    assert got == want
    assert not {d for _, _, d, _ in got} & set(victims)


def test_serving_negative_weight_fallback(spark, tmp_path):
    """Negative q_weights force the exhaustive per-shard fallback; serving
    must still equal the distributed plan (|score| ranking surfaces)."""
    from gensim_spark.index import layout, serving, wand

    rng = np.random.default_rng(11)
    rows = [(int(d), int(t), float(rng.uniform(0.1, 2.0)))
            for d in range(300) for t in rng.choice(40, 6, replace=False)]
    weighted = spark.createDataFrame(
        rows, "doc_id long, term_id long, weight double")
    out = str(tmp_path / "negstore")
    layout.write_packed_shards(weighted, out, docs_per_shard=64,
                               num_groups=2, resume=False)
    qterms = {0: {3: 1.0, 7: -1.5, 11: 0.5}, 1: {5: -1.0, 9: -2.0}}
    srv = serving.PackedIndexServer(out, preload=True)
    for k in (1, 4, 15):
        want = _rows(wand.wand_topk(spark, out, qterms, k=k))
        got = _srows(srv.topk(qterms, k=k))
        assert got == want, k


def test_serving_stats_and_cache_warm(spark, served_store):
    from gensim_spark.index import serving

    idx, out = served_store
    qterms = _qterms(idx, n_queries=2)
    srv = serving.PackedIndexServer(out, preload=True)
    s0 = srv.cache_stats()
    assert s0["runs_cached"] == 0  # lazy: nothing materialized at load
    stats = {}
    srv.topk(qterms, k=5, stats_out=stats)
    assert stats["postings"] > 0
    assert 0 < stats["evaluated"] <= stats["postings"]
    s1 = srv.cache_stats()
    assert s1["runs_cached"] > 0
    assert 0 <= s1["blocks_decoded"] <= s1["blocks_total"]
    # repeat query: run cache is reused (never rebuilt), only warms
    srv.topk(qterms, k=5)
    s2 = srv.cache_stats()
    assert s2["runs_cached"] == s1["runs_cached"]
    assert s2["blocks_decoded"] >= s1["blocks_decoded"]


def test_serving_fuzz_vs_joinagg(spark, tmp_path):
    """Randomized corpora: served top-k equals the relational plan."""
    from gensim_spark.index import layout, serving
    from gensim_spark.operators import topk as T

    rng = np.random.default_rng(29)
    for trial in range(3):
        n_docs = int(rng.integers(50, 400))
        n_terms = int(rng.integers(10, 60))
        rows = []
        for d in range(n_docs):
            for t in rng.choice(n_terms, size=int(rng.integers(1, 8)),
                                replace=False):
                rows.append((int(d), int(t),
                             float(np.float32(rng.uniform(0.05, 3.0)))))
        weighted = spark.createDataFrame(
            rows, "doc_id long, term_id long, weight double")
        out = str(tmp_path / f"fuzz{trial}")
        layout.write_packed_shards(
            weighted, out, docs_per_shard=int(rng.integers(16, 128)),
            num_groups=2, resume=False)
        qterms = {
            qid: {int(t): float(rng.uniform(0.5, 2.0))
                  for t in rng.choice(n_terms, size=3, replace=False)}
            for qid in range(3)
        }
        srv = serving.PackedIndexServer(out, preload=bool(trial % 2))
        qdf = spark.createDataFrame(
            [(qid, int(t), float(w)) for qid, ts in qterms.items()
             for t, w in ts.items()],
            "query_id int, term_id long, q_weight double")
        want = _rows(T.search(weighted, qdf, k=10))
        got = _srows(srv.topk(qterms, k=10))
        assert [g[:3] for g in got] == [w[:3] for w in want], trial
        for g, w in zip(got, want):
            assert g[3] == pytest.approx(w[3], rel=1e-9), trial


def test_serving_shard_slices_merge_to_whole_store(spark, served_store):
    """The deployment shape: N nodes each own a shard slice; the broker
    merge of their k-lists equals one node serving the whole store (and
    therefore the distributed plan, by the identity tests above)."""
    from gensim_spark.index import serving

    idx, out = served_store
    qterms = _qterms(idx, n_queries=3)
    whole = serving.PackedIndexServer(out, preload=True)
    want = whole.topk(qterms, k=8)

    all_shards = serving.PackedIndexServer.shard_ids(out)
    assert len(all_shards) >= 4  # 1200 docs / 128 per shard
    slices = [all_shards[i::3] for i in range(3)]
    nodes = [serving.PackedIndexServer(out, preload=True, shards=sl)
             for sl in slices]
    # slice disjointness: per-node run totals sum to the whole store's
    assert sum(n.num_runs for n in nodes) == whole.num_runs
    merged = serving.merge_topk([n.topk(qterms, k=8) for n in nodes], k=8)
    assert merged == want

    # a single-shard node answers only from its slice
    lone = serving.PackedIndexServer(out, preload=True,
                                     shards=[all_shards[0]])
    assert lone.num_runs < whole.num_runs


def test_np_idf_matches_spark(spark):
    """The serving path's numpy idf mirror equals bm25.idf_table for all
    three variants incl. the Okapi global-mean eps-clamp."""
    import random

    import numpy as np

    from gensim_spark.index.serving import np_idf
    from gensim_spark.operators import bm25 as M

    rng = random.Random(3)
    n_docs = 50
    dfs = [rng.randint(1, n_docs) for _ in range(40)]
    df_frame = spark.createDataFrame(
        [(i, d) for i, d in enumerate(dfs)], "term_id long, df long")
    for variant in ("okapi", "lucene", "atire"):
        want = {r["term_id"]: r["idf"] for r in
                M.idf_table(df_frame, n_docs, variant).collect()}
        got = np_idf(np.array(dfs), n_docs, variant)
        for i in range(len(dfs)):
            assert got[i] == pytest.approx(want[i], rel=1e-12), variant


def test_phrase_served_matches_spark_path(spark, tmp_path):
    """--phrase --serve (no Spark session) answers identically to the
    distributed positional plan for exact phrase and NEAR (both orders),
    and [] on OOV."""
    import datetime

    from gensim_spark.jobs import build_index, query_index

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(40):
        toks = [words[(i + j) % 7] for j in range(6)] + ["common"]
        rows.append((f"u{i}", datetime.datetime(2024, 1, 1), b"",
                     " ".join(toks), "en"))
    pages = str(tmp_path / "pages_ps")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string").write.parquet(pages)
    out = str(tmp_path / "idx_ps")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=8)

    for q, slop, unordered in [("alpha beta", None, False),
                               ("beta common", None, False),
                               ("alpha gamma", 1, False),
                               ("gamma alpha", 2, True)]:
        want = query_index.run_phrase(spark, out, q, k=10, slop=slop,
                                      ordered=not unordered)
        got = query_index.run_phrase_served(out, q, k=10, slop=slop,
                                            ordered=not unordered)
        assert len(got["results"]) == len(want["results"]) > 0, q
        for g, w in zip(got["results"], want["results"]):
            assert g["doc_id"] == w["doc_id"] and g["rank"] == w["rank"]
            assert g["tf"] == w["tf"]
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)

    assert query_index.run_phrase_served(out, "alpha nosuch")["results"] == []


def _jobs_in_group(sc, group, want_some):
    """Job ids Spark ran under ``group``; waits (up to 10 s) for the
    asynchronously fed status listener when jobs are expected."""
    import time

    tracker = sc.statusTracker()
    deadline = time.time() + 10
    while True:
        jobs = list(tracker.getJobIdsForGroup(group))
        if jobs or not want_some or time.time() > deadline:
            return jobs
        time.sleep(0.1)


def test_term_resolvers_agree(spark, tmp_path):
    """The in-session resolver (vocab.term_ids over a DataFrame) and the
    stored one (serving.stored_term_ids over <index>/vocab) return equal
    token → term_id dicts with Python-int ids for OOV, duplicated, empty
    and non-ASCII token lists; the stored one starts no Spark job."""
    from gensim_spark.index.serving import stored_term_ids
    from gensim_spark.operators import vocab as V

    vocab = spark.createDataFrame(
        [("alpha", 0, 3, 5, 0), ("beta", 1, 2, 2, 0), ("naïve", 2, 1, 1, 1),
         ("日本", 3, 1, 4, 2), ("größe", 4, 2, 2, 2)],
        "token string, term_id long, df long, cf long, first_doc long")
    out = str(tmp_path / "idx")
    vocab.write.parquet(f"{out}/vocab")

    cases = [["zzz", "qqq"], ["alpha", "beta", "alpha", "alpha"], [],
             ["naïve", "日本", "größe", "naive"], ["beta", "zzz", "日本"]]
    for toks in cases:
        want = V.term_ids(vocab, toks)
        got = stored_term_ids(out, toks)
        assert got == want, toks
        assert all(type(v) is int for v in [*got.values(), *want.values()])
    assert stored_term_ids(out, ["zzz"]) == {}
    assert stored_term_ids(out, []) == {}
    assert V.term_ids(vocab, ["alpha", "alpha"]) == {"alpha": 0}

    sc = spark.sparkContext
    try:
        sc.setJobGroup("session-term-ids", "vocab.term_ids")
        V.term_ids(vocab, ["alpha", "日本"])
        sc.setJobGroup("stored-term-ids", "serving.stored_term_ids")
        stored_term_ids(out, ["alpha", "日本"])
    finally:
        sc.setJobGroup("", "")
    # the control shows the tracker sees a resolver's job at all
    assert _jobs_in_group(sc, "session-term-ids", want_some=True)
    assert _jobs_in_group(sc, "stored-term-ids", want_some=False) == []


def test_resolve_clauses_oov_rule():
    """An OOV alternative drops from its clause; a clause that empties (or
    no clauses at all) answers [] — each clause is its sorted distinct
    ids."""
    from gensim_spark.operators.vocab import resolve_clauses

    tid = {"value": 7, "table": 3, "key": 5}
    assert resolve_clauses(tid, [["value"], ["table", "zzz"]]) == [[7], [3]]
    assert resolve_clauses(tid, [["value"], ["zzz", "qqq"]]) == []
    assert resolve_clauses(tid, [["table", "table"], ["value"]]) == \
        [[3], [7]]
    assert resolve_clauses(tid, [["value"], ["key", "table"]]) == \
        [[7], [3, 5]]
    assert resolve_clauses(tid, [["value"], []]) == []
    assert resolve_clauses(tid, []) == []


def test_bm25f_served_matches_distributed(spark, tmp_path):
    """Served multi-field fusion == topk.bm25f_topk over the f32-stored
    weights: two packed stores (title/body fields over the same docs),
    exhaustive per-field scoring, boosted sum, standard rank contract."""
    import datetime

    from gensim_spark.index import serving
    from gensim_spark.jobs import build_index
    from gensim_spark.operators import topk as T
    from gensim_spark.plans import pipeline as P

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(40):
        toks = [words[(i + j) % 7] for j in range(6)] + ["common"]
        rows.append((i, f"u{i}", datetime.datetime(2024, 1, 1), b"",
                     " ".join(toks), "en"))
    schema = ("doc_id long, url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    body = str(tmp_path / "pages_fb")
    title = str(tmp_path / "pages_ft")
    bdf = spark.createDataFrame(rows, schema)
    bdf.write.parquet(body)
    # title field = the doc's first three words
    bdf.withColumn("text", F.concat_ws(
        " ", F.slice(F.split("text", " "), 1, 3))).write.parquet(title)
    out_b = str(tmp_path / "idx_fb")
    out_t = str(tmp_path / "idx_ft")
    build_index.run(spark, body, out_b, docs_per_shard=16, num_groups=2)
    build_index.run(spark, title, out_t, docs_per_shard=16, num_groups=2)

    boosts = {"title": 2.0, "body": 1.0}
    for qtoks in (["alpha", "beta"],      # both fields match
                  ["eta", "common"],      # 'common' is body-only
                  ["epsilon"]):
        got = serving.bm25f_topk_served(
            {"title": out_t, "body": out_b}, qtoks, boosts, k=10)
        fw, fq = {}, {}
        for name, pth in (("title", title), ("body", body)):
            idx = P.build(P.tokenize(
                spark.read.parquet(pth).select("doc_id", "text")))
            tid = {r["token"]: r["term_id"] for r in idx.vocab.filter(
                F.col("token").isin(qtoks)).collect()}
            ids = sorted({int(tid[t]) for t in qtoks if t in tid})
            if not ids:
                continue
            fw[name] = idx.weighted.withColumn(
                "weight", F.col("weight").cast("float").cast("double"))
            fq[name] = T.query_terms_df(spark, {0: ids})
        want = T.bm25f_topk(fw, fq, boosts, k=10).collect()
        assert [(g[0], g[2]) for g in got] == \
            [(w["doc_id"], w["rank"]) for w in want], qtoks
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w["score"], rel=1e-9), qtoks
        assert got, qtoks
    # all-OOV answers []
    assert serving.bm25f_topk_served(
        {"title": out_t, "body": out_b}, ["nosuch"], boosts, k=5) == []


def test_span_served_fuzz_vs_distributed(spark, tmp_path):
    """N-clause SpanNear served == distributed on a random corpus: ordered
    greedy chain (incl. duplicate clauses) and the unordered window cover
    for n >= 3 — full (doc, tf, rank, score) identity per case."""
    import datetime
    import random

    from gensim_spark.jobs import build_index, query_index

    rng = random.Random(777)
    alphabet = ["aa", "bb", "cc", "dd", "ee"]
    rows = []
    for i in range(60):
        toks = [rng.choice(alphabet) for _ in range(rng.randint(3, 25))]
        rows.append((f"u{i}", datetime.datetime(2024, 1, 1), b"",
                     " ".join(toks), "en"))
    pages = str(tmp_path / "pages_sf")
    spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string").write.parquet(pages)
    out = str(tmp_path / "idx_sf")
    build_index.run(spark, pages, out, docs_per_shard=16, num_groups=2,
                    positional=True, positional_n_buckets=8)

    cases = [("aa bb cc", 0, True), ("aa bb cc", 2, True),
             ("aa bb cc dd", 3, True), ("aa aa bb", 1, True),
             ("aa bb cc", 2, False), ("aa bb cc dd", 4, False),
             ("aa aa cc", 2, False), ("ee dd cc bb aa", 6, False)]
    nonempty = 0
    for q, slop, ordered in cases:
        want = query_index.run_phrase(spark, out, q, k=60, slop=slop,
                                      ordered=ordered)["results"]
        got = query_index.run_phrase_served(out, q, k=60, slop=slop,
                                            ordered=ordered)["results"]
        assert [(g["doc_id"], g["tf"], g["rank"]) for g in got] == \
            [(w["doc_id"], w["tf"], w["rank"]) for w in want], (q, slop,
                                                                ordered)
        for g, w in zip(got, want):
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)
        nonempty += bool(want)
    assert nonempty >= 6  # the sweep actually exercised matches

    # OR-clauses through the raw served API (a clause = list of
    # alternative tokens) vs the distributed operator over the SAME
    # stored positional index: sloppy spanNear(spanOr...) and the exact
    # served MultiPhrase (slop=None)
    import json as _json

    from pyspark.sql import functions as F

    from gensim_spark.index.layout import read_postings_bucketed
    from gensim_spark.index.serving import phrase_topk_served
    from gensim_spark.operators import bm25 as M
    from gensim_spark.operators import positional as PX

    with open(f"{out}/build_metrics.json") as fh:
        meta = _json.load(fh)
    vocab = spark.read.parquet(f"{out}/vocab")
    doclen = spark.read.parquet(f"{out}/doclen")
    stats = M.fit_from_vocab(vocab, meta["num_docs"],
                             variant=meta["variant"], k1=meta["k1"],
                             b=meta["b"], epsilon=meta["epsilon"])
    vmap = {r["token"]: r["term_id"] for r in vocab.collect()}
    or_cases = [([["aa"], ["bb", "cc"]], 1),
                ([["aa", "bb"], ["cc"], ["dd", "ee"]], 2),
                ([["aa", "bb"], ["aa", "bb"]], 0)]
    or_hits = 0
    for clauses, slop in or_cases:
        ids = [[vmap[w] for w in c] for c in clauses]
        flat = sorted({t for c in ids for t in c})
        pruned = read_postings_bucketed(spark, f"{out}/positional",
                                        term_ids=flat, n_buckets=8)
        want = PX.span_near_topk(pruned, stats, ids, doclen, slop=slop,
                                 ordered=True, k=60).collect()
        got = phrase_topk_served(out, clauses, k=60, slop=slop)
        assert [(d, tf, r) for d, tf, s, r in got] == \
            [(w["doc_id"], w["near_tf"], w["rank"]) for w in want], \
            (clauses, slop)
        for (_, _, s, _), w in zip(got, want):
            assert s == pytest.approx(w["score"], rel=1e-9)
        # exact MultiPhrase served == distributed multi_phrase_topk
        want_mp = PX.multi_phrase_topk(pruned, stats, ids, doclen,
                                       k=60).collect()
        got_mp = phrase_topk_served(out, clauses, k=60)
        assert [(d, tf, r) for d, tf, s, r in got_mp] == \
            [(w["doc_id"], w["phrase_tf"], w["rank"]) for w in want_mp]
        or_hits += bool(want)
    assert or_hits >= 2


@pytest.mark.parametrize("preload_doclen", [True, False])
def test_positional_server_empty_doclen(tmp_path, preload_doclen):
    """An empty ``doclen/`` dataset (the half-appended-crash state, taken to
    its limit) yields no doclens instead of an IndexError."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gensim_spark.index.icetable import IceTable
    from gensim_spark.index.serving import PositionalIndexServer

    store = tmp_path / "pos_store"
    for sub in ("vocab", "doclen"):
        (store / sub).mkdir(parents=True)
    IceTable.create(str(store / "positional"),
                    "doc_id bigint, term_id bigint, positions array<int>",
                    properties={"n_buckets": "4"})
    (store / "build_metrics.json").write_text(json.dumps(
        {"positional": True, "positional_n_buckets": 4, "num_docs": 1}))
    pq.write_table(pa.table({"token": ["cat"], "term_id": [0], "df": [1],
                             "cf": [1]}), store / "vocab" / "part-0.parquet")
    pq.write_table(pa.table({"doc_id": pa.array([], pa.int64()),
                             "dl": pa.array([], pa.int64())}),
                   store / "doclen" / "part-0.parquet")
    srv = PositionalIndexServer(str(store), preload_doclen=preload_doclen)
    assert srv._doclens([0, 3, 7]) == {}
