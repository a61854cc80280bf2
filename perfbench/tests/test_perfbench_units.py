"""Unit tests of the benchmark's own arithmetic and input generator.

    python3 -m pytest perfbench/tests -q
"""

import re

import pyarrow.parquet as pq
import pytest

import gen
from stats import (open_loop, percentile, self_times, span_self_times,
                   tail_percentile)
from tracing import Span, Tracer


# --- generator -------------------------------------------------------------

def test_corpus_is_deterministic_per_seed():
    a = gen.make_corpus(7, 120, 3000)
    b = gen.make_corpus(7, 120, 3000)
    c = gen.make_corpus(8, 120, 3000)
    assert a.tokens == b.tokens and a.dup_of == b.dup_of
    assert a.df_ranked == b.df_ranked
    assert a.tokens != c.tokens
    assert gen.query_stream(a, 7, 50) == gen.query_stream(b, 7, 50)
    assert gen.query_stream(a, 7, 50) != gen.query_stream(a, 8, 50)


def test_pages_are_deterministic_per_seed(tmp_path):
    paths = []
    for i, seed in enumerate((3, 3, 4)):
        p = str(tmp_path / f"p{i}.parquet")
        gen.write_pages(gen.make_corpus(seed, 60, 2000), p)
        paths.append(p)
    t0, t1, t2 = (pq.read_table(p) for p in paths)
    assert t0.equals(t1)
    assert not t0.equals(t2)
    assert t0.column_names == ["doc_id", "url", "warc_ts", "html", "text",
                               "lang"]


def test_words_survive_simple_preprocess_and_extraction():
    from gensim_spark.functions import textref

    corpus = gen.make_corpus(5, 40, 2000)
    assert all(re.fullmatch(r"[a-z]{2,15}", w) for w in corpus.df_ranked)
    for toks in corpus.tokens:
        assert textref.simple_preprocess(" ".join(toks)) == toks
        html = gen.page_html(toks).encode("utf-8")
        assert textref.simple_preprocess(
            textref.extract_html_text(html)) == toks


def test_planted_copies_and_expected_counts():
    corpus = gen.make_corpus(9, 400, 3000, dup_share=0.05)
    assert len(corpus.dup_of) == 20
    for copy, orig in corpus.dup_of.items():
        assert orig < copy and corpus.tokens[copy] == corpus.tokens[orig]
    exp = corpus.expected_counts()
    assert exp["num_docs"] == 400
    assert exp["vocab"] == len({t for d in corpus.tokens for t in d})
    assert exp["postings"] == sum(len(set(d)) for d in corpus.tokens)


def test_query_terms_are_distinct_and_head_heavy():
    corpus = gen.make_corpus(2, 300, 5000)
    qs = gen.query_stream(corpus, 2, 2000)
    head = set(corpus.df_ranked[:20])
    terms = [t for q in qs for t in q.split()]
    assert all(1 <= len(q.split()) <= 4 for q in qs)
    assert all(len(set(q.split())) == len(q.split()) for q in qs)
    # zipf over df rank: the 20 highest-df words take a large share of the
    # draws, yet the stream still reaches deep into the tail
    assert sum(t in head for t in terms) > 0.3 * len(terms)
    assert len(set(terms)) > 200


def test_query_mix_is_stratified_across_seeds():
    corpus = gen.make_corpus(2, 300, 5000)
    head = set(corpus.df_ranked[:5])
    draws = []
    for seed in range(8):
        qs = gen.query_stream(corpus, seed, 400)
        assert sorted(len(q.split()) for q in qs) == sorted(
            [1, 2, 3, 4] * 100)
        draws.append(sum(t in head for q in qs for t in q.split()))
    # the same streams drawn term by term range over about 30 head terms
    assert max(draws) - min(draws) <= 15


# --- the ">= 10 samples beyond" percentile rule --------------------------------

@pytest.mark.parametrize("n,expected", [
    (10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 90.0),
    (100, 90.0), (99, 50.0), (20, 50.0), (19, None), (1, None)])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_is_nearest_rank():
    xs = list(range(1, 1001))
    assert percentile(xs, 50) == 500
    assert percentile(xs, 99) == 990
    assert sum(x > percentile(xs, 99) for x in xs) == 10
    assert percentile([5.0], 99) == 5.0


# --- open-loop lag accounting --------------------------------------------------

class FakeClock:
    """Deterministic clock: service advances it by a scripted duration, and
    every sleep overshoots its target by ``oversleep``."""

    def __init__(self, oversleep=0.0):
        self.t = 0.0
        self.oversleep = oversleep

    def __call__(self):
        return self.t

    def sleep(self, d):
        self.t += d + self.oversleep


def test_open_loop_times_from_due_and_splits_wait_from_lag():
    clock = FakeClock()
    service = [0.05, 0.25, 0.05, 0.05]

    def serve(i):
        clock.t += service[i]

    res = open_loop(serve, 4, rate=10.0, clock=clock, sleep=clock.sleep)
    # due 0.0, 0.1, 0.2, 0.3; request 1 stalls 0.25 s and delays 2 and 3
    assert res.latency == pytest.approx([0.05, 0.25, 0.20, 0.15])
    assert res.service == pytest.approx(service)
    assert res.wait == pytest.approx([0.15, 0.10])
    assert res.lag == pytest.approx([0.0, 0.0])


def test_open_loop_reports_generator_oversleep_as_lag():
    clock = FakeClock(oversleep=0.002)

    def serve(i):
        clock.t += 0.01

    res = open_loop(serve, 5, rate=20.0, clock=clock, sleep=clock.sleep)
    # the first request is due at the start; the generator sleeps for every
    # later one and the server is always free by then
    assert res.wait == []
    assert res.lag == pytest.approx([0.0] + [0.002] * 4)
    assert res.latency == pytest.approx([0.01] + [0.012] * 4)


# --- self-time arithmetic ------------------------------------------------------

def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, None)


def test_self_time_subtracts_merged_child_intervals():
    spans = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, parent=0),
        _span(2, "b", 2.0, 5.0, parent=0),     # overlaps a: union 1..5
        _span(3, "c", 4.0, 4.5, parent=2),     # grandchild: only b pays it
        _span(4, "a", 6.0, 7.0, parent=0),
    ]
    st = self_times(spans)
    assert st["root"] == (pytest.approx(10.0 - 4.0 - 1.0), 1)
    assert st["a"] == (pytest.approx(2.0 + 1.0), 2)
    assert st["b"] == (pytest.approx(3.0 - 0.5), 1)
    assert st["c"] == (pytest.approx(0.5), 1)
    # self times sum to the root's wall plus the 1 s where siblings a and
    # b overlap (each is charged for it)
    assert sum(v[0] for v in st.values()) == pytest.approx(10.0 + 1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, "p", 0.0, 2.0), _span(1, "k", 1.5, 3.0, parent=0)]
    assert self_times(spans)["p"][0] == pytest.approx(1.5)
    assert span_self_times(spans) == {0: pytest.approx(1.5),
                                      1: pytest.approx(1.5)}


# --- tracer -------------------------------------------------------------------

class _Layer:
    @staticmethod
    def work(x, stats_out=None):
        if stats_out is not None:
            stats_out["calls"] = stats_out.get("calls", 0) + 1
        return 2 * x


def test_disabled_tracer_records_nothing_and_wrap_passes_through():
    tr = Tracer(enabled=False)
    original = _Layer.work
    tr.wrap(_Layer, "work", "layer.work", counters="stats_out")
    try:
        with tr.span("outer") as s:
            assert s is None
            assert _Layer.work(3) == 6
        assert tr.spans == [] and tr.counters == {}
    finally:
        tr.unwrap()
    assert _Layer.work is original


def test_wrapped_call_opens_a_child_span_with_its_counters():
    tr = Tracer(enabled=True)
    tr.wrap(_Layer, "work", "layer.work", counters="stats_out")
    try:
        with tr.span("request", request=7):
            assert _Layer.work(3) == 6
        _Layer.work(4)                        # outside any request
        given = {}
        _Layer.work(5, stats_out=given)       # the caller's dict is kept
    finally:
        tr.unwrap()
    inner = tr.by_name("layer.work", parent="request")
    assert len(inner) == 1 and inner[0].request == 7
    assert tr.counters[inner[0].sid] == {"calls": 1}
    assert len(tr.by_name("layer.work")) == 3
    assert given == {"calls": 1} and len(tr.counters) == 2
    assert len(tr.self_s("layer.work", "request")) == 1


def test_alternating_tracer_traces_odd_requests_only():
    tr = Tracer(enabled=False, alternate=True)
    for i in range(6):
        tr.request(i)
        with tr.span("req", request=i):
            pass
    assert [s.request for s in tr.spans] == [1, 3, 5]
    tr.request(None)
    assert tr.enabled
    plain = Tracer(enabled=False)
    plain.request(1)
    assert not plain.enabled
