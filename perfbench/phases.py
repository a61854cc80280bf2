"""The benchmark's workloads, driven through the library's public entry
points. The traced run executes the same functions with the tracer on.

``build_serve``: ``jobs.build_index.run`` on seeded pages, then the built
store served in-process by ``serving.PackedIndexServer`` in an open loop
with Spark stopped. ``query_models``: one client in a closed loop over
``api.SearchEngine.search`` and ``jobs.query_index.run`` batches, then the
iterative corpus operators (LSI, LDA, MinHash dedup + connected components).
"""

from __future__ import annotations

import gc
import glob
import os
import time
from dataclasses import dataclass
from statistics import fmean, median

import gen
from stats import open_loop, percentile, tail_percentile

K = 10                    # top-k of every query
BATCH = 32                # queries per distributed WAND request
VOCAB = 20_000            # zipf vocabulary (words drawn, not all used)
# (pages, min tokens, max tokens) per workload. build_serve: enough pages
# that the head terms' runs exceed wand.EAGER_DECODE_MAX (8192 postings)
# and are decoded block by block; still below the job's docs_per_shard
# (32768), so the store is one shard.
CORPUS = {"build_serve": (12_000, 20, 80),
          "query_models": (1_500, 80, 320)}
SERVE_RATE = 50.0         # open-loop rate, queries/s: about a quarter of capacity
COLD_REQUESTS = 20        # served requests after which the cold cache is read
SERVE_LOADS = 9           # preloaded server constructions timed for setup
SPARK_CORES = 4
DRIVER_MEM = "3g"         # the library default (48g) exceeds a 15 GB host


class Run:
    """State of one workload invocation: inputs, counters and results."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str,
                 tracer):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work, self.tracer = work, tracer
        self.metrics: dict[str, float] = {}   # end-to-end
        self.layer: dict[str, float] = {}     # per-layer (traced run only)
        self.report: list[str] = []           # human-readable lines
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        n_docs, lo, hi = CORPUS[workload]
        self.corpus = gen.make_corpus(seed, n_docs, VOCAB, lo, hi)
        self.pages = os.path.join(work, f"pages-{workload}.parquet")
        gen.write_pages(self.corpus, self.pages)

    def note(self, name: str, value, unit: str, extra: str = "") -> None:
        self.report.append(f"{name} {value} {unit}{extra}")

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok


# --- Spark session ------------------------------------------------------------

def start_spark(work: str):
    from gensim_spark.session import get_spark

    cores = max(1, min(SPARK_CORES, len(os.sched_getaffinity(0))))
    for d in ("spark", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (``spark.stop()`` alone leaves it running until Python exits)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- traced layers --------------------------------------------------------------

def wrap_layers(tr) -> None:
    """Spans around the library calls the workloads reach only indirectly
    (inside ``build_index.run``, ``query_index.run``, ``dedup_clusters``
    and the served ``topk``), with the counters they can report."""
    from gensim_spark.index import layout, serving, wand
    from gensim_spark.operators import dedup
    from gensim_spark.plans import pipeline

    tr.wrap(pipeline, "build_from_pages", "pipeline.build_from_pages")
    tr.wrap(pipeline, "index_from_counts", "pipeline.index_from_counts")
    tr.wrap(layout, "write_packed_shards", "layout.write_packed_shards")
    tr.wrap(wand, "wand_topk", "wand.wand_topk", counters="stats_out")
    tr.wrap(dedup, "connected_components", "dedup.connected_components",
            counters="stats")
    tr.wrap(serving.PackedIndexServer, "topk", "serving.topk",
            counters="stats_out")


# --- shared helpers -------------------------------------------------------------

def store_counts(store: str) -> dict:
    """Vocab size, posting count and data bytes of a packed store, read
    with pyarrow (no Spark)."""
    import pyarrow.dataset as pads

    vocab = pads.dataset(os.path.join(store, "vocab"), format="parquet")
    data = pads.dataset(os.path.join(store, "data"), format="parquet",
                        partitioning="hive")
    n = data.to_table(columns=["n"]).column("n").to_numpy()
    files = glob.glob(os.path.join(store, "data", "**", "*.parquet"),
                      recursive=True)
    return {"vocab": vocab.count_rows(), "postings": int(n.sum()),
            "bytes": sum(os.path.getsize(f) for f in files)}


def check_store(run: Run, store: str, num_docs: int) -> dict:
    exp = run.corpus.expected_counts()
    got = store_counts(store)
    run.attempted += 1
    run.check(num_docs == exp["num_docs"],
              f"num_docs {num_docs} != {exp['num_docs']}")
    run.check(got["vocab"] == exp["vocab"],
              f"vocab {got['vocab']} != {exp['vocab']}")
    run.check(got["postings"] == exp["postings"],
              f"postings {got['postings']} != {exp['postings']}")
    return got


def term_ids(store: str, texts: list[str]) -> list[dict[int, float]]:
    """Query texts -> binary query weights over the store's vocab, the way
    ``query_index.run_served`` resolves them."""
    import pyarrow.dataset as pads

    from gensim_spark.functions import textref

    vt = pads.dataset(os.path.join(store, "vocab"), format="parquet") \
        .to_table(columns=["token", "term_id"])
    tid = dict(zip(vt.column("token").to_pylist(),
                   vt.column("term_id").to_pylist()))
    return [{int(tid[t]): 1.0 for t in set(textref.simple_preprocess(q))
             if t in tid} for q in texts]


def rss_bytes() -> int:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def same_answer(expected: list[tuple[int, float]],
                got: list[tuple[int, float]], rtol: float,
                lookup: dict[int, float] | None = None) -> bool:
    """Ranked (doc, score) lists agree: scores match rank by rank within
    ``rtol``, and where doc ids differ the two docs tie (their reference
    scores match within ``rtol``) — exact copies of a page score the same,
    and a different summation order may order such ties differently."""
    if len(expected) != len(got):
        return False
    ref = dict(expected) if lookup is None else lookup

    def close(a, b):
        return abs(a - b) <= rtol * max(1.0, abs(a), abs(b))

    for (ed, es), (gd, gs) in zip(expected, got):
        if not close(es, gs):
            return False
        if ed != gd and (gd not in ref or not close(ref[gd], es)):
            return False
    return True


def rows_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list[tuple[int, float]]] = {}
    for q, d, s, _r in sorted(rows, key=lambda r: (r[0], r[3])):
        out.setdefault(int(q), []).append((int(d), float(s)))
    return out


# --- build_serve -----------------------------------------------------------------

def text_stage_probe(run: Run, spark) -> None:
    """Traced run only: the fused extract -> tokenize -> doc2bow stage on
    its own, into a sink that discards the rows (inside the build it runs
    as part of the counts-cache materialization)."""
    from gensim_spark.functions.textprep import extract_tokenize_bow

    with run.tracer.span("textprep.extract_tokenize_bow", request=0):
        extract_tokenize_bow(spark.read.parquet(run.pages)) \
            .write.format("noop").mode("overwrite").save()


@dataclass
class ServePass:
    res: object                # stats.OpenLoopResult
    cache: dict                # cache_stats() at the end of the pass
    cold: dict                 # cache_stats() after COLD_REQUESTS requests
    hit_ratio: float           # query terms already seen earlier in the pass


def serve_pass(run: Run, store: str, qterms, pass_no: int) -> ServePass:
    """The query stream against a freshly loaded server in an open loop.
    Request i of pass p has id 2 i + p: in the traced run pass 0 is the
    untraced pass and pass 1 the traced one, over the same queries."""
    from gensim_spark.index.serving import PackedIndexServer

    tr = run.tracer
    srv = PackedIndexServer(store, preload=True)
    seen: set[int] = set()
    cold: dict = {}
    hits = lookups = 0

    def serve(i: int) -> None:
        nonlocal hits, lookups
        q = qterms[i]
        lookups += len(q)
        hits += len(seen.intersection(q))
        seen.update(q)
        rid = 2 * i + pass_no
        tr.request(rid)
        with tr.span("serve.request", request=rid):
            srv.topk({0: q}, k=K)
        if i + 1 == COLD_REQUESTS:
            cold.update(srv.cache_stats())

    # the generated corpus and query stream stay out of the collector's
    # scans while serving: they are the benchmark's objects, not the
    # server's
    gc.collect()
    gc.freeze()
    try:
        res = open_loop(serve, len(qterms), SERVE_RATE)
    finally:
        gc.unfreeze()
    run.attempted += res.n
    return ServePass(res, srv.cache_stats(), cold, hits / lookups)


def build_serve(run: Run) -> None:
    from gensim_spark.index.serving import PackedIndexServer
    from gensim_spark.jobs import build_index, query_index

    tr = run.tracer
    store = os.path.join(run.work, "store")
    n = max(1, int(SERVE_RATE * run.seconds))
    texts = gen.query_stream(run.corpus, run.seed, n)
    sample = texts[:BATCH]

    spark = start_spark(run.work)
    tr.attach_spark(spark.sparkContext)
    try:
        tr.request(None)
        with tr.span("build_index.run", request=0):
            t = time.perf_counter()
            m = build_index.run(spark, run.pages, store, from_html=True,
                                resume=False)
            job_s = time.perf_counter() - t
        got = check_store(run, store, m["num_docs"])
        if tr.enabled:
            text_stage_probe(run, spark)
        # reference answers for the served check: the distributed WAND plan
        dist = query_index.run(spark, store, sample, k=K)["results"]
        tr.collect_spark_work()
    finally:
        stop_spark(spark)

    qterms = term_ids(store, texts)
    rss0 = rss_bytes()
    loads = []
    for _ in range(SERVE_LOADS):
        t = time.perf_counter()
        srv = PackedIndexServer(store, preload=True)
        loads.append(time.perf_counter() - t)
    passes = [serve_pass(run, store, qterms, p)
              for p in range(2 if tr.alternate else 1)]
    rss_mb = (rss_bytes() - rss0) / 2 ** 20
    res = passes[0].res

    tr.request(None)
    served = rows_by_query(srv.topk(dict(enumerate(qterms[:BATCH])), k=K))
    run.attempted += BATCH
    for qid in range(BATCH):
        ref = [(h["doc_id"], h["score"]) for h in dist[str(qid)]]
        run.check(served.get(qid, []) == ref,
                  f"served answer {qid} differs from distributed WAND")

    lat_ms = [x * 1e3 for x in res.latency]
    p = tail_percentile(res.n)
    p50, tail = percentile(lat_ms, 50), percentile(lat_ms, p)
    qps = res.n / sum(res.service)
    run.metrics.update({
        "setup_s": median(loads), "job_s": job_s,
        "store_bytes_per_posting": got["bytes"] / got["postings"]})

    run.note("build_docs_per_s", round(m["num_docs"] / job_s, 1), "docs/s",
             f" ({m['num_docs']} pages, {got['postings']} postings)")
    run.note("store_bytes_per_posting",
             round(got["bytes"] / got["postings"], 3), "B")
    run.note("serve_load_s", round(median(loads), 4), "s",
             f" (median of {SERVE_LOADS} loads)")
    run.note("serve_mean_ms", round(fmean(lat_ms), 3), "ms",
             f" (from due time, at {SERVE_RATE:g} q/s, n={res.n})")
    run.note("serve_p50_ms", round(p50, 3), "ms",
             f" (from due time, at {SERVE_RATE:g} q/s, n={res.n})")
    run.note(f"serve_p{p:g}_ms", round(tail, 3), "ms",
             f" (from due time, at {SERVE_RATE:g} q/s, n={res.n})")
    run.note("serve_capacity_qps", round(qps, 1), "q/s",
             " (queries per second of busy server time)")
    run.note("serve_rss_mb", round(rss_mb, 1), "MB")
    run.note("serve_generator_lag_ms",
             round(1e3 * median(res.lag), 4) if res.lag else 0.0, "ms",
             f" (median over {len(res.lag)} idle starts)")

    if not tr.spans:
        return
    traced = passes[-1]
    topk = tr.by_name("serving.topk", "serve.request")
    stats = [tr.counters[x.sid] for x in topk]
    w, b = "layout.write_packed_shards", "build_index.run"
    lag = traced.res.lag
    run.layer.update({
        "pipeline.index_from_counts_s": sum(tr.self_s(
            "pipeline.index_from_counts", "pipeline.build_from_pages")),
        "pipeline.counts_rows": got["postings"],
        "pipeline.vocab_terms": got["vocab"],
        "textprep.extract_tokenize_bow_s": sum(tr.self_s(
            "textprep.extract_tokenize_bow")),
        "layout.write_packed_shards_s": sum(tr.self_s(w, b)),
        "layout.spark_jobs": tr.work(w, parent=b)[0],
        "layout.spark_tasks": tr.work(w, parent=b)[1],
        "layout.bytes_written": got["bytes"],
        "serving.topk_self_ms": 1e3 * fmean(tr.self_s(
            "serving.topk", "serve.request")),
        "serving.queue_wait_ms": 1e3 * sum(traced.res.wait) / traced.res.n,
        "serving.generator_lag_ms": 1e3 * sum(lag) / len(lag) if lag else 0.0,
        "serving.latency_p90_ms": percentile(
            [x * 1e3 for x in traced.res.latency], 90),
        "wand.postings_evaluated_ratio": (
            sum(x["evaluated"] for x in stats)
            / sum(x["postings"] for x in stats)),
        "wand.blocks_decoded_ratio": (traced.cold["blocks_decoded"]
                                      / traced.cold["blocks_total"]),
        "serving.run_cache_hit_ratio": traced.hit_ratio,
        "serving.runs_cached": traced.cache["runs_cached"],
        "serving.latency_mean_ms": fmean(lat_ms),
        "serving.latency_p50_ms": p50,
        "serving.capacity_qps": qps,
        "trace.serve_overhead_pct": 100.0 * (median(
            t / u for t, u in zip(traced.res.service, res.service)) - 1.0),
    })


# --- query_models ----------------------------------------------------------------

def oracle_topk(corpus: gen.Corpus, texts: list[str], depth: int):
    """Pure-Python gensim-semantics BM25 top-``depth`` per query text
    (tests/oracle.py: Dictionary fit path, Okapi weights, |score| desc,
    doc asc ties)."""
    import oracle

    from gensim_spark.functions import textref

    d = oracle.PyDictionary(corpus.tokens)
    bm = oracle.PyBM25(dictionary=d)
    weighted = [bm.transform(d.doc2bow(t)) for t in corpus.tokens]
    out = []
    for q in texts:
        ids = [d.token2id[t] for t in set(textref.simple_preprocess(q))
               if t in d.token2id]
        out.append(oracle.py_topk(weighted, ids, depth))
    return out


def write_query_store(engine, store: str) -> None:
    """Pack the engine's in-session index into a store ``query_index.run``
    reads (same vocab + packed-shard layout ``build_index`` writes)."""
    from gensim_spark.index.layout import write_packed_shards

    engine.index.vocab.write.mode("overwrite").parquet(
        os.path.join(store, "vocab"))
    write_packed_shards(engine.index.weighted, store, num_groups=1,
                        resume=False)


def corpus_models(run: Run, engine) -> dict:
    """lsi_fit, lda_fit and the dedup stages over the engine's index, each
    once; returns their walls and checks their outputs."""
    import numpy as np

    from gensim_spark.operators import dedup, lda, lsi

    tr, idx = run.tracer, engine.index
    walls = {}
    t = time.perf_counter()
    with tr.span("lsi.lsi_fit", request=-1):
        proj = lsi.lsi_fit(idx.weighted, num_topics=8, power_iters=1)
    walls["lsi_fit_s"] = time.perf_counter() - t
    s = np.asarray(proj.s)
    run.check(len(s) == 8 and bool(np.all(np.isfinite(s)))
              and bool(np.all(np.diff(s) <= 0)), "lsi spectrum invalid")
    t = time.perf_counter()
    with tr.span("lda.lda_fit", request=-2):
        model = lda.lda_fit(idx.postings, 8, passes=1)
    walls["lda_fit_s"] = time.perf_counter() - t
    run.check(bool(np.all(np.isfinite(model.exp_elogbeta))),
              "lda topics not finite")
    t = time.perf_counter()
    with tr.span("dedup", request=-3):
        with tr.span("dedup.minhash_signatures"):
            sig = dedup.minhash_signatures(idx.docs).cache()
            sig.count()
        with tr.span("dedup.minhash_band_pairs"):
            pairs = dedup.minhash_band_pairs(sig).cache()
            n_pairs = pairs.count()
        rows = dedup.dedup_clusters(idx.docs, pairs).collect()
    walls["dedup_s"] = time.perf_counter() - t
    sig.unpersist()
    pairs.unpersist()
    check_clusters(run, rows)
    run.attempted += 3
    if tr.spans:
        cc = tr.by_name("dedup.connected_components")[-1]
        run.layer.update({"dedup.pairs": n_pairs,
                          "dedup.cc_rounds": tr.counters[cc.sid]["rounds"]})
    return walls


def check_clusters(run: Run, rows) -> None:
    cluster = {int(r["doc_id"]): int(r["cluster_id"]) for r in rows}
    run.check(len(cluster) == run.corpus.num_docs, "dedup lost documents")
    missed = [c for c, o in run.corpus.dup_of.items()
              if cluster.get(c) != cluster.get(o)]
    run.check(not missed, f"dedup missed planted copies {missed[:5]}")


def query_models(run: Run) -> None:
    from gensim_spark.api import SearchEngine
    from gensim_spark.jobs import query_index

    tr = run.tracer
    store = os.path.join(run.work, "qstore")
    texts = gen.query_stream(run.corpus, run.seed, 4000)
    singles: list[tuple[str, list, float]] = []
    batches: list[tuple[list[str], dict, float]] = []

    spark = start_spark(run.work)
    tr.attach_spark(spark.sparkContext)
    try:
        tr.request(None)
        docs = spark.read.parquet(run.pages).select("doc_id", "text")
        t = time.perf_counter()
        with tr.span("api.SearchEngine", request=-10):
            engine = SearchEngine(docs)
            engine.index.vocab.count()
        setup_s = time.perf_counter() - t
        write_query_store(engine, store)
        # warm both request paths once before timing
        engine.search(texts[-1], k=K).collect()
        query_index.run(spark, store, texts[-BATCH - 1:-1], k=K)

        qi = r = 0
        t_end = time.perf_counter() + run.seconds
        while time.perf_counter() < t_end or len(batches) < 2:
            text = texts[qi]
            qi += 1
            tr.request(r)
            t = time.perf_counter()
            with tr.span("api.search", request=r):
                with tr.span("api.search_plan"):
                    df = engine.search(text, k=K)
                with tr.span("topk.search_collect"):
                    rows = df.collect()
            singles.append((text, rows, time.perf_counter() - t))
            chunk = texts[qi:qi + BATCH]
            qi += BATCH
            t = time.perf_counter()
            with tr.span("query_index.run", request=r):
                res = query_index.run(spark, store, chunk, k=K)
            batches.append((chunk, res["results"], time.perf_counter() - t))
            r += 1
        run.attempted += len(singles) + BATCH * len(batches)
        got = check_store(run, store, run.corpus.num_docs)
        tr.request(None)
        walls_fit = corpus_models(run, engine)
        tr.collect_spark_work()
    finally:
        stop_spark(spark)

    check_queries(run, singles, batches)

    single_ms = [x[2] * 1e3 for x in singles]
    batch_ms = [x[2] * 1e3 for x in batches]
    batch_qps = BATCH / (median(batch_ms) / 1e3)
    run.metrics.update({
        "setup_s": setup_s, "job_s": sum(walls_fit.values()),
        "store_bytes_per_posting": got["bytes"] / got["postings"]})

    run.note("engine_setup_s", round(setup_s, 3), "s",
             " (SearchEngine build in a fresh session)")
    run.note("spark_query_mean_ms", round(fmean(single_ms), 1), "ms",
             f" (n={len(single_ms)} single searches)")
    run.note("spark_query_p50_ms", round(median(single_ms), 1), "ms",
             f" (n={len(single_ms)} single searches; a p90 needs >= 100)")
    run.note("spark_batch_p50_ms", round(median(batch_ms), 1), "ms",
             f" (n={len(batch_ms)} requests of {BATCH} queries)")
    run.note("spark_batch_qps", round(batch_qps, 2), "q/s",
             f" ({BATCH} / median request wall)")
    for name, v in walls_fit.items():
        run.note(name, round(v, 3), "s")

    if not tr.spans:
        return
    on = [tr.traces(i) for i in range(len(singles))]
    n_q = len(tr.by_name("api.search"))
    q, wt = "query_index.run", "wand.wand_topk"
    jobs, tasks = tr.work("api.search", "api.search_plan",
                          "topk.search_collect")
    stats = [tr.counters[x.sid] for x in tr.by_name(wt, q)]
    run.layer.update({
        "api.search_plan_ms": 1e3 * fmean(tr.self_s("api.search_plan")),
        "topk.search_collect_ms": 1e3 * fmean(tr.self_s(
            "topk.search_collect")),
        "spark.jobs_per_query": jobs / n_q,
        "spark.tasks_per_query": tasks / n_q,
        "query_index.vocab_lookup_ms": 1e3 * fmean(tr.self_s(q)),
        "wand.wand_topk_ms": 1e3 * fmean(tr.self_s(wt, q)),
        "spark.tasks_per_batch": ((tr.work(q)[1] + tr.work(wt, parent=q)[1])
                                  / len(tr.by_name(q))),
        "wand.batch_postings_evaluated_ratio": (
            sum(x["evaluated"].value for x in stats)
            / sum(x["postings"].value for x in stats)),
        "spark.search_p50_ms": median(single_ms),
        "spark.batch_qps": batch_qps,
        "trace.spark_query_overhead_pct": 100.0 * (
            median(x[2] for x, t in zip(singles, on) if t)
            / median(x[2] for x, t in zip(singles, on) if not t) - 1.0),
        "lsi.lsi_fit_s": walls_fit["lsi_fit_s"],
        "lsi.spark_jobs": tr.work("lsi.lsi_fit")[0],
        "lsi.spark_tasks": tr.work("lsi.lsi_fit")[1],
        "lda.lda_fit_s": walls_fit["lda_fit_s"],
        "lda.spark_jobs": tr.work("lda.lda_fit")[0],
        "lda.spark_tasks": tr.work("lda.lda_fit")[1],
        "dedup.minhash_signatures_s": sum(tr.self_s(
            "dedup.minhash_signatures")),
        "dedup.minhash_band_pairs_s": sum(tr.self_s(
            "dedup.minhash_band_pairs")),
        "dedup.connected_components_s": sum(tr.self_s(
            "dedup.connected_components")),
    })


def check_queries(run: Run, singles, batches) -> None:
    """Singles are float64 join-agg answers (tight tolerance); batch answers
    come from the float32 packed store (float32 tolerance). Every single
    and the first batch are compared with the pure-Python oracle."""
    checked = [x[0] for x in singles] + list(batches[0][0])
    ref = oracle_topk(run.corpus, checked, K + 8)
    for (text, rows, _), exp in zip(singles, ref):
        got = [(int(r["doc_id"]), float(r["score"]))
               for r in sorted(rows, key=lambda r: r["rank"])]
        run.check(same_answer(exp[:K], got, 1e-9, dict(exp)),
                  f"search({text!r}) differs from the oracle")
    chunk, res, _ = batches[0]
    for qid, exp in enumerate(ref[len(singles):]):
        got = [(h["doc_id"], h["score"]) for h in res[str(qid)]]
        run.check(same_answer(exp[:K], got, 1e-5, dict(exp)),
                  f"query_index.run({chunk[qid]!r}) differs from the oracle")
