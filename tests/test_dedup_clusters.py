"""Connected-components dedup clustering (pairs -> clusters -> canonical doc).

The reference has no CC operator; this is the training-data-pipeline stage
that turns LSH candidate *pairs* into keep/drop *clusters*. Oracle here is a
driver-side union-find; the driver-level DuckDB oracle is a recursive CTE
(see __spark_entry__.oracle_sql()["dedup_clusters"]).

``connected_components`` has two paths: the local finish (edges collected
and clustered in numpy, taken while they fit under
``spark.sql.autoBroadcastJoinThreshold``) and the large-star/small-star
rounds (forced here with the threshold at -1). Both must give the same
``(node, component)`` set as the reference union-find.
"""

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gensim_spark.operators import dedup as D

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id of the component
    labels = {}
    for x in range(n_nodes):
        r = find(x)
        labels.setdefault(r, min(i for i in range(n_nodes) if find(i) == r))
    return {x: labels[find(x)] for x in range(n_nodes)}


def _pairs_df(spark, edges, id_type="long"):
    return spark.createDataFrame(
        [(a, b) for a, b in edges], f"doc_a {id_type}, doc_b {id_type}"
    )


def _cc_both(spark, pairs):
    """``{path: (output frame, its rows as a set, stats)}`` for the local
    finish (session default budget) and the star rounds (budget -1)."""
    out = {}
    old = spark.conf.get(THRESHOLD)
    for path, budget in (("local", old), ("star", "-1")):
        spark.conf.set(THRESHOLD, budget)
        try:
            stats = {}
            cc = D.connected_components(pairs, stats=stats)
            out[path] = (cc, {(r.node, r.component) for r in cc.collect()},
                         stats)
        finally:
            spark.conf.set(THRESHOLD, old)
    return out


def _want(edges):
    """Reference ``(node, component)`` set over the nodes the edges touch
    (self-loops touch nothing), ids mapped to ranks for the union-find."""
    real = [(a, b) for a, b in edges if a != b]
    nodes = sorted({x for e in real for x in e})
    rank = {x: i for i, x in enumerate(nodes)}
    labels = _union_find(len(nodes), [(rank[a], rank[b]) for a, b in real])
    return {(x, nodes[labels[rank[x]]]) for x in nodes}


def _check_both(spark, edges, id_type="long"):
    both = _cc_both(spark, _pairs_df(spark, edges, id_type))
    want = _want(edges)
    n_comp = len({c for _, c in want})
    for path, (_, got, stats) in both.items():
        assert got == want, path
        assert stats["star_edges"] == len(want) - n_comp, path
    assert both["local"][2]["rounds"] == 0
    assert both["star"][2]["rounds"] >= 1
    return both


def test_cc_chain_triangle_star(spark):
    # chain 0-1-2-3 (transitivity: (0,3) never emitted as a pair),
    # triangle 10-11-12, star 20-{21,22,23}, plus an isolated pair 30-31.
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12),
             (20, 21), (20, 22), (20, 23), (30, 31)]
    got = {
        (r.node, r.component)
        for r in D.connected_components(_pairs_df(spark, edges)).collect()
    }
    want = {(0, 0), (1, 0), (2, 0), (3, 0),
            (10, 10), (11, 10), (12, 10),
            (20, 20), (21, 20), (22, 20), (23, 20),
            (30, 30), (31, 30)}
    assert got == want


def test_cc_empty_pairs(spark):
    out = D.connected_components(_pairs_df(spark, []))
    assert out.count() == 0
    assert out.columns == ["node", "component"]


def test_cc_long_path_needs_iterations(spark):
    # a 40-node path is the worst case for naive label propagation; the
    # star algorithm must still collapse it to component 0.
    edges = [(i, i + 1) for i in range(39)]
    out = D.connected_components(_pairs_df(spark, edges)).collect()
    assert len(out) == 40
    assert all(r.component == 0 for r in out)


def test_cc_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for _ in range(4):
        n = rng.randint(10, 40)
        n_edges = rng.randint(5, 60)
        edges = sorted({
            tuple(sorted(rng.sample(range(n), 2))) for _ in range(n_edges)
        })
        # reversed/duplicated inputs must not matter
        noisy = edges + [(b, a) for a, b in edges[::3]] + edges[:2]
        got = {
            (r.node, r.component)
            for r in D.connected_components(_pairs_df(spark, noisy)).collect()
        }
        oracle = _union_find(n, edges)
        touched = {a for a, b in edges} | {b for a, b in edges}
        want = {(x, oracle[x]) for x in touched}
        assert got == want


@st.composite
def _graphs(draw):
    """Edge lists mixing random edges (self-loops included), a 40-node
    path and a star over shuffled ids, with duplicated and reversed
    copies of some edges."""
    n = draw(st.integers(2, 30), label="n")
    edges = draw(st.lists(st.tuples(st.integers(0, n - 1),
                                    st.integers(0, n - 1)), max_size=40),
                 label="random")
    if draw(st.booleans(), label="path"):
        ids = draw(st.permutations(range(100, 140)), label="path_ids")
        edges += list(zip(ids, ids[1:]))
    if draw(st.booleans(), label="star"):
        hub = draw(st.integers(200, 220), label="hub")
        leaves = draw(st.lists(st.integers(150, 260), min_size=1,
                               max_size=15), label="leaves")
        edges += [(hub, v) for v in leaves]
    if edges:
        dup = draw(st.lists(st.sampled_from(edges), max_size=10), label="dup")
        rev = draw(st.lists(st.sampled_from(edges), max_size=10), label="rev")
        edges += dup + [(b, a) for a, b in rev]
    return draw(st.permutations(edges), label="order")


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(edges=_graphs())
def test_cc_both_paths_match_union_find(spark, edges):
    _check_both(spark, edges)


def test_cc_string_ids_both_paths(spark):
    # Spark orders strings by UTF-8 bytes, numpy by code point: the same
    # order, so the component label is the same minimum on both paths
    edges = [("b", "a"), ("a", "ab"), ("zz", "é"), ("é", "Z"), ("q", "q"),
             ("x1", "x10"), ("x10", "x2"), ("日本", "éa")]
    both = _check_both(spark, edges, "string")
    for cc, _, _ in both.values():
        assert cc.dtypes == [("node", "string"), ("component", "string")]


@pytest.mark.parametrize("id_type", ["int", "long"])
def test_cc_extreme_ids_both_paths(spark, id_type):
    lo, hi = ((-2 ** 31, 2 ** 31 - 1) if id_type == "int"
              else (-2 ** 63, 2 ** 63 - 1))
    edges = [(hi, lo), (hi - 1, hi), (lo + 1, lo + 2), (lo + 2, 0),
             (0, -1), (hi - 2, hi - 3)]
    want = spark.createDataFrame([], f"x {id_type}").dtypes[0][1]
    both = _check_both(spark, edges, id_type)
    for cc, _, _ in both.values():
        assert [t for _, t in cc.dtypes] == [want, want]


@pytest.mark.parametrize("id_type", ["int", "long", "string"])
def test_cc_empty_pairs_both_paths(spark, id_type):
    both = _cc_both(spark, _pairs_df(spark, [], id_type))
    want = spark.createDataFrame([], f"x {id_type}").dtypes[0][1]
    for path, (cc, rows, stats) in both.items():
        assert rows == set(), path
        assert cc.columns == ["node", "component"], path
        assert [t for _, t in cc.dtypes] == [want, want], path
        assert stats["star_edges"] == 0, path
    assert both["local"][2]["rounds"] == 0



@pytest.mark.parametrize("budget", ["default", "-1"])
def test_cc_evaluates_pairs_once(spark, budget):
    """Both paths read the input pairs in one pass: a counting UDF on the
    input sees each row once."""
    seen = spark.sparkContext.accumulator(0)

    def tick(x):
        seen.add(1)
        return x

    edges = [(1, 2), (2, 3), (3, 1), (5, 6), (7, 7)]
    pairs = _pairs_df(spark, edges).select(
        F.udf(tick, "long").asNondeterministic()("doc_a").alias("doc_a"),
        "doc_b")
    old = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, old if budget == "default" else budget)
    try:
        stats = {}
        rows = D.connected_components(pairs, stats=stats).collect()
    finally:
        spark.conf.set(THRESHOLD, old)
    assert (stats["rounds"] == 0) == (budget == "default")
    assert len(rows) == 5
    assert seen.value == len(edges)

def test_dedup_clusters_broadcasts_local_components(spark):
    """Under the session default budget the components come back as a
    small local frame, and the doc-side join broadcasts it."""
    docs = spark.range(50).withColumnRenamed("id", "doc_id")
    out = D.dedup_clusters(docs, _pairs_df(spark, [(1, 2), (2, 5), (6, 7)]))
    rows = out.collect()
    assert len(rows) == 50
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_clusters_labels_every_doc(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(8)], "doc_id long"
    )
    pairs = _pairs_df(spark, [(1, 2), (2, 5), (6, 7)])
    rows = {r.doc_id: (r.cluster_id, r.keep)
            for r in D.dedup_clusters(docs, pairs).collect()}
    assert rows == {
        0: (0, True), 1: (1, True), 2: (1, False), 3: (3, True),
        4: (4, True), 5: (1, False), 6: (6, True), 7: (6, False),
    }


def test_dedup_clusters_end_to_end_minhash(spark):
    # three exact dup groups + distinct docs; the minhash->LSH->CC pipeline
    # must cluster the dups together and keep exactly one per cluster.
    base = [
        "the quick brown fox jumps over the lazy dog again and again today",
        "completely different text about spark dataframes and shuffles here",
        "a third unrelated document mentioning inverted index compression",
    ]
    texts = []
    for t in base:
        texts += [t, t]  # exact dup pairs -> identical shingle sets
    texts.append("a lone singleton document with its own words entirely")
    docs = spark.createDataFrame(
        [(i, t.split()) for i, t in enumerate(texts)],
        "doc_id long, tokens array<string>",
    )
    sigs = D.minhash_signatures(docs, num_hashes=4, shingle_n=3)
    pairs = D.minhash_band_pairs(sigs, bands=2, rows_per_band=2)
    out = D.dedup_clusters(docs.select("doc_id"), pairs)
    rows = {r.doc_id: (r.cluster_id, r.keep) for r in out.collect()}
    # identical texts share identical signatures -> guaranteed same cluster
    assert rows[1] == (0, False) and rows[0] == (0, True)
    assert rows[3] == (2, False) and rows[2] == (2, True)
    assert rows[5] == (4, False) and rows[4] == (4, True)
    assert rows[6] == (6, True)  # singleton keeps itself
    kept = [d for d, (_, k) in rows.items() if k]
    assert sorted(kept) == [0, 2, 4, 6]


def test_shingles_short_docs_yield_no_grams(spark):
    # regression: sequence(0, -1) is descending in Spark — a doc shorter
    # than n used to feed slice() a 0 start and crash the whole job
    docs = spark.createDataFrame(
        [(0, ["a"]), (1, ["a", "b"]), (2, ["a", "b", "c"]), (3, [])],
        "doc_id long, tokens array<string>")
    got = {(r["doc_id"], r["shingle"]) for r in D.shingles(docs, n=3).collect()}
    assert got == {(2, "a b c")}
    # and the full minhash path survives a mixed corpus
    sigs = D.minhash_signatures(docs, num_hashes=4, shingle_n=3)
    assert [r["doc_id"] for r in sigs.collect()] == [2]


def test_band_pairs_repeated_doc_ids_give_no_self_pairs(spark):
    """A doc id that appears twice in a bucket yields no (d, d) pair, and
    the max_bucket gate counts distinct docs."""
    sig = (7, 11, 13, 17)
    sigs = spark.createDataFrame(
        [(1, *sig), (1, *sig), (2, *sig)],
        "doc_id long, sig_0 long, sig_1 long, sig_2 long, sig_3 long")
    pairs = D.minhash_band_pairs(sigs, bands=2, rows_per_band=2)
    assert sorted((r["doc_a"], r["doc_b"]) for r in pairs.collect()) == [(1, 2)]
    gated = D.minhash_band_pairs(sigs, bands=2, rows_per_band=2, max_bucket=2)
    assert [(r["doc_a"], r["doc_b"]) for r in gated.collect()] == [(1, 2)]
    lone = spark.createDataFrame(
        [(3, *sig), (3, *sig)],
        "doc_id long, sig_0 long, sig_1 long, sig_2 long, sig_3 long")
    assert D.minhash_band_pairs(lone, bands=2, rows_per_band=2).count() == 0
