"""M4/M5: packed shard layout, checkpointed build, WAND query exactness."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import docs_df


@pytest.fixture(scope="module")
def synth_index(spark, tmp_path_factory):
    """Synthetic 2000-doc corpus → weighted postings → packed shards."""
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 2000, tokens_per_doc=60, partitions=8)
    tok = P.tokenize(pages, ascii_fast_path=True)
    idx = P.build(tok, num_docs=2000)
    out = str(tmp_path_factory.mktemp("index"))
    return idx, out


def test_varint_roundtrip_properties():
    from gensim_spark.index.packing import (decode_varint_deltas,
                                            encode_varint_deltas)

    rng = np.random.default_rng(3)
    for _ in range(30):
        ids = np.sort(rng.choice(10**11, size=int(rng.integers(1, 3000)),
                                 replace=False)).astype(np.int64)
        assert np.array_equal(decode_varint_deltas(encode_varint_deltas(ids)),
                              ids)


def test_packed_build_and_wand_exact(spark, synth_index):
    from gensim_spark.index import layout, wand
    from gensim_spark.operators import topk as T

    idx, out = synth_index
    manifest = layout.write_packed_shards(idx.weighted, out,
                                         docs_per_shard=256, num_groups=4)
    assert all(g["committed"] for g in manifest["groups"].values())
    total_postings = sum(g["postings"] for g in manifest["groups"].values())
    assert total_postings == idx.weighted.count()

    # pick query terms with mixed dfs
    vocab_rows = idx.vocab.orderBy("term_id").collect()
    qterms = {
        0: {vocab_rows[0]["term_id"]: 1.0, vocab_rows[5]["term_id"]: 1.0},
        1: {vocab_rows[10]["term_id"]: 1.0,
            vocab_rows[20]["term_id"]: 1.0,
            vocab_rows[30]["term_id"]: 1.0},
    }
    # reference plan over the same float32-stored weights (the shard format
    # stores float32, docsim.py:1183 — exactness is judged at equal precision)
    wf32 = idx.weighted.withColumn(
        "weight", F.col("weight").cast("float").cast("double")
    )
    for k in (1, 5, 20):
        got = wand.wand_topk(spark, out, qterms, k=k).collect()
        qdf = spark.createDataFrame(
            [(qid, int(t), float(w)) for qid, ts in qterms.items()
             for t, w in ts.items()],
            "query_id int, term_id long, q_weight double",
        )
        want = T.search(wf32, qdf, k=k).collect()
        gm = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in got}
        wm = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in want}
        assert set(gm) == set(wm)
        for key in wm:
            assert gm[key][0] == wm[key][0], (k, key, gm[key], wm[key])
            assert gm[key][1] == pytest.approx(wm[key][1], rel=1e-9)


def test_decode_block_matches_full_decode():
    """Pack format v2: every block decodes independently via its byte offset
    + the previous block's last doc, bit-identical to the full decode."""
    from gensim_spark.index import packing

    rng = np.random.default_rng(7)
    for size in (1, 100, 128, 129, 5000, 40000):
        ids = np.sort(rng.choice(10**10, size=size, replace=False)) \
            .astype(np.int64)
        ws = rng.random(size).astype(np.float32)
        run = packing.pack_run(ids, ws)
        boffs = np.frombuffer(run["block_offset"], dtype=np.int64)
        blast = np.frombuffer(run["block_last_doc"], dtype=np.int64)
        bfirst = np.frombuffer(run["block_first_doc"], dtype=np.int64)
        bs = packing.BLOCK_SIZE
        assert len(boffs) == len(blast) == (size + bs - 1) // bs
        for b in range(len(boffs)):
            got = packing.decode_block(run["doc_blob"], boffs, blast, b)
            want = ids[b * bs: (b + 1) * bs]
            assert np.array_equal(got, want)
            assert bfirst[b] == want[0] and blast[b] == want[-1]


def test_wand_lazy_decode_matches_eager(spark, synth_index, tmp_path):
    """Forcing every run lazy (eager_max=0) must return identical ranks and
    scores while decoding strictly fewer blocks than exist."""
    from gensim_spark.index import layout, wand

    idx, _ = synth_index
    out = str(tmp_path / "lazyidx")
    layout.write_packed_shards(idx.weighted, out, docs_per_shard=256,
                               num_groups=2)
    vocab_rows = idx.vocab.orderBy("term_id").collect()
    qterms = {0: {vocab_rows[0]["term_id"]: 1.0,
                  vocab_rows[7]["term_id"]: 1.0},
              1: {vocab_rows[15]["term_id"]: 1.0,
                  vocab_rows[40]["term_id"]: 1.0}}
    want = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in wand.wand_topk(spark, out, qterms, k=10).collect())
    stats = {}
    got = sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                 for r in wand.wand_topk(spark, out, qterms, k=10,
                                         stats_out=stats,
                                         eager_max=0).collect())
    assert got == want
    assert stats["blocks_total"].value > 0
    assert 0 < stats["blocks_decoded"].value <= stats["blocks_total"].value


def test_checkpoint_resume_skips_committed(spark, synth_index, tmp_path):
    from gensim_spark.index import layout

    idx, _ = synth_index
    out = str(tmp_path / "idx2")
    m1 = layout.write_packed_shards(idx.weighted, out, docs_per_shard=512,
                                    num_groups=4)
    # un-commit one group, delete nothing: resume must redo ONLY that group
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    wall_before = {g: v["wall_sec"] for g, v in m["groups"].items()}
    m["groups"]["2"]["committed"] = False
    with open(mpath, "w") as f:
        json.dump(m, f)
    m2 = layout.write_packed_shards(idx.weighted, out, docs_per_shard=512,
                                    num_groups=4)
    assert m2["groups"]["2"]["committed"]
    # untouched groups keep their original committed_at metrics
    for g in ("0", "1", "3"):
        assert m2["groups"][g]["wall_sec"] == wall_before[g]
    # exactly-once: the redone group holds exactly one copy of its runs
    packed = layout.read_packed_shards(spark, out)
    total = packed.groupBy().agg(F.sum("n")).collect()[0][0]
    assert total == idx.weighted.count()


def test_bucketed_layout_prunes(spark, synth_index, tmp_path):
    from gensim_spark.index import layout

    idx, _ = synth_index
    out = str(tmp_path / "buckets")
    layout.write_postings_bucketed(idx.weighted, out, n_buckets=8,
                                   salt_threshold=500,
                                   dfs=idx.vocab.select("term_id", "df"))
    terms = [r["term_id"] for r in idx.vocab.limit(3).collect()]
    pruned = layout.read_postings_bucketed(spark, out, term_ids=terms,
                                           n_buckets=8)
    assert set(r["term_id"] for r in pruned.select("term_id").distinct()
               .collect()) == set(terms)
    # pruning reaches the physical scan: only the needed bucket dirs are read
    plan = pruned.explain_string = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan or "bucket" in plan


def test_salting_splits_head_terms(spark, synth_index, tmp_path):
    from gensim_spark.index import layout

    idx, _ = synth_index
    out = str(tmp_path / "salted")
    layout.write_postings_bucketed(idx.weighted, out, n_buckets=4,
                                   salt_threshold=300, salts=4,
                                   dfs=idx.vocab.select("term_id", "df"))
    df = spark.read.parquet(out)
    head_terms = [r["term_id"] for r in
                  idx.vocab.filter(F.col("df") >= 300).collect()]
    assert head_terms, "fixture should contain head terms"
    salted = (df.filter(F.col("term_id").isin(head_terms))
              .select("salt").distinct().count())
    assert salted > 1
    unsalted = (df.filter(~F.col("term_id").isin(head_terms))
                .select("salt").distinct().collect())
    assert [r["salt"] for r in unsalted] == [0]
    # round-trip: salted postings still aggregate to identical scores
    total = df.groupBy().agg(F.sum("weight")).collect()[0][0]
    want = idx.weighted.groupBy().agg(F.sum("weight")).collect()[0][0]
    assert total == pytest.approx(want, rel=1e-9)


def test_wand_on_common_texts_matches_oracle(spark, common_texts, tmp_path):
    """End-to-end rank+score identity vs the pure-python gensim oracle."""
    from gensim_spark.index import layout, wand
    from gensim_spark.plans import pipeline as P
    from tests.oracle import PyBM25, PyDictionary, py_topk

    df = docs_df(spark, common_texts)
    idx = P.build(df, num_docs=len(common_texts))
    out = str(tmp_path / "ct")
    layout.write_packed_shards(idx.weighted, out, docs_per_shard=4,
                               num_groups=2)
    odict = PyDictionary(common_texts)
    model = PyBM25(dictionary=odict)
    oracle_corpus = [model.transform(odict.doc2bow(d)) for d in common_texts]
    q = {0: [odict.token2id["graph"], odict.token2id["user"]],
         1: [odict.token2id["trees"]]}
    got = wand.wand_topk(spark, out,
                         {qid: {t: 1.0 for t in ts} for qid, ts in q.items()},
                         k=5).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, terms in q.items():
        want = py_topk(oracle_corpus, terms, 5)
        assert [d for d, _ in by_q.get(qid, [])] == [d for d, _ in want]
        for (gd, gs), (wd, ws) in zip(by_q.get(qid, []), want):
            assert gs == pytest.approx(ws, rel=1e-6)  # float32 weights


def _mk_run(rng, n, sign=1, dup_weights=False, eager_max=None):
    from gensim_spark.index import packing, wand

    ids = np.sort(rng.choice(20000, size=n, replace=False)).astype(np.int64)
    if dup_weights:
        ws = np.full(n, 0.5, dtype=np.float32) * sign  # exact binary float
    else:
        ws = (rng.random(n).astype(np.float32) + 0.01) * sign
    run = packing.pack_run(ids, ws)
    return wand._TermRun(run["doc_blob"], run["weight_blob"],
                         run["block_max"], run["block_last_doc"],
                         run["block_first_doc"], run["block_offset"],
                         eager_max=eager_max)


def test_wand_negative_qw_and_theta_ties_match_exhaustive():
    """Kernel fuzz for two pruning soundness cases: (a) a NEGATIVE query
    weight over an all-negative run (the epsilon-clamp negative-idf shape)
    — block bounds must scale by |qw|, a signed scale flips them negative
    and prunes winners; (b) duplicated weights force segments whose upper
    bound EQUALS θ, where a doc scoring exactly θ still wins the
    ascending-doc-id tie-break — the prune conditions must be strict."""
    from gensim_spark.index import wand

    rng = np.random.default_rng(0)
    for trial in range(60):
        nt = int(rng.integers(2, 5))
        runs = []
        for _t in range(nt):
            sign = -1 if rng.random() < 0.4 else 1
            dup = rng.random() < 0.5
            r = _mk_run(rng, int(rng.integers(5, 2000)), sign, dup,
                        eager_max=0 if rng.random() < 0.5 else None)
            qw = float(rng.integers(1, 4)) * sign   # sign-matched: WAND path
            runs.append((r, qw))
        for k in (1, 3, 10):
            got = wand._wand(runs, k)
            want = wand._exhaustive(
                [(r.all_docs(), r.weights, qw) for r, qw in runs], k)
            assert [d for d, _ in got] == [d for d, _ in want], (trial, k)
            for (dg, sg), (dw, sw) in zip(got, want):
                assert sg == pytest.approx(sw, rel=1e-9)


def test_wand_exclusion_matches_rebuilt_index():
    """Kernel fuzz: WAND with a tombstone set is rank- AND score-identical
    to exhaustively scoring runs with those docs absent — across eager and
    lazy decode, negative runs, and tombstones that hit the would-be top
    docs (θ must converge on survivors only)."""
    from gensim_spark.index import wand

    rng = np.random.default_rng(7)
    for trial in range(60):
        nt = int(rng.integers(2, 5))
        runs = []
        for _t in range(nt):
            sign = -1 if rng.random() < 0.3 else 1
            r = _mk_run(rng, int(rng.integers(5, 2000)), sign,
                        rng.random() < 0.3,
                        eager_max=0 if rng.random() < 0.5 else None)
            runs.append((r, float(rng.integers(1, 4)) * sign))
        # tombstone half the unexcluded top-10 plus random ids
        base = wand._exhaustive(
            [(r.all_docs(), r.weights, qw) for r, qw in runs], 10)
        excl = np.unique(np.asarray(
            [d for d, _ in base[::2]] +
            rng.choice(20000, size=30, replace=False).tolist(),
            dtype=np.int64))
        for k in (1, 3, 10):
            got = wand._wand(runs, k, exclude=excl)
            assert not (set(excl.tolist())
                        & {d for d, _ in got}), (trial, k)
            kept = []
            for r, qw in runs:
                d = r.all_docs()
                m = ~np.isin(d, excl)
                kept.append((d[m], r.weights[m], qw))
            want = wand._exhaustive(kept, k)
            assert [d for d, _ in got] == [d for d, _ in want], (trial, k)
            for (dg, sg), (dw, sw) in zip(got, want):
                assert sg == pytest.approx(sw, rel=1e-9)


def test_wand_topk_exclusion_distributed(spark, synth_index, tmp_path):
    """Distributed path: exclude_doc_ids drops the tombstones and matches
    the join-agg ranking over postings with those docs filtered out."""
    from gensim_spark.index import layout, wand
    from gensim_spark.operators import topk as T

    idx, _ = synth_index
    out = str(tmp_path / "excl_shards")
    layout.write_packed_shards(idx.weighted, out, docs_per_shard=256,
                               num_groups=2)
    vocab_rows = idx.vocab.orderBy("term_id").collect()
    qterms = {0: {vocab_rows[0]["term_id"]: 1.0,
                  vocab_rows[5]["term_id"]: 1.0}}
    before = wand.wand_topk(spark, out, qterms, k=5).collect()
    excl = [r["doc_id"] for r in before[:2]]
    got = wand.wand_topk(spark, out, qterms, k=5,
                         exclude_doc_ids=excl).collect()
    assert not (set(excl) & {r["doc_id"] for r in got})
    wf32 = idx.weighted.withColumn(
        "weight", F.col("weight").cast("float").cast("double")
    ).filter(~F.col("doc_id").isin(excl))
    qdf = spark.createDataFrame(
        [(0, int(t), float(w)) for t, w in qterms[0].items()],
        "query_id int, term_id long, q_weight double")
    want = T.search(wf32, qdf, k=5).collect()
    assert [(r["rank"], r["doc_id"]) for r in got] == \
        [(r["rank"], r["doc_id"]) for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def _packed_rows(out):
    import pyarrow.dataset as pads

    tbl = pads.dataset(os.path.join(out, "data"), format="parquet",
                       partitioning="hive").to_table()
    rows = tbl.drop_columns(["group"]).to_pylist()
    return sorted(rows, key=lambda r: (r["shard_id"], r["term_id"]))


def test_packed_rows_independent_of_arrow_batch_size(spark, synth_index,
                                                     tmp_path):
    """Runs that span many Arrow batches (5 records per batch) pack to the
    same rows as under the session default, and every row equals the
    per-run reference packer over that (shard, term)'s postings."""
    from gensim_spark.index import layout
    from tests.test_packing import COLUMNS, reference_pack_run

    idx, _ = synth_index
    weighted = idx.weighted.filter(F.col("doc_id") < 300)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    try:
        spark.conf.set(key, "5")
        layout.write_packed_shards(weighted, small, docs_per_shard=128,
                                   num_groups=2)
    finally:
        spark.conf.set(key, default)
    layout.write_packed_shards(weighted, big, docs_per_shard=128,
                               num_groups=2)
    rows = _packed_rows(big)
    assert _packed_rows(small) == rows

    postings = {}
    for r in weighted.orderBy("doc_id").collect():
        postings.setdefault((r["doc_id"] // 128, r["term_id"]), []).append(
            (r["doc_id"], r["weight"]))
    assert len(rows) == len(postings)
    assert max(r["n"] for r in rows) > 5 * 20  # some runs span 20+ batches
    for r in rows:
        docs, ws = zip(*postings[(r["shard_id"], r["term_id"])])
        want = reference_pack_run(np.asarray(docs), np.asarray(ws))
        assert r["n"] == want["n"]
        for col in COLUMNS:
            assert r[col] == want[col], (r["shard_id"], r["term_id"], col)


def test_empty_shard_groups_skip_spark(spark, synth_index, tmp_path):
    """Eight groups, every doc in shard 0: the seven empty groups commit
    with zero metrics, no data directory and no Spark job; resume and a
    later append still see a complete build."""
    from gensim_spark.index import layout

    idx, _ = synth_index
    weighted = idx.weighted.filter(F.col("doc_id") < 400)
    n_postings = weighted.count()
    out = str(tmp_path / "one_shard")
    sc = spark.sparkContext
    sc.setJobGroup("pack-empty-groups", "write_packed_shards")
    try:
        manifest = layout.write_packed_shards(weighted, out,
                                              docs_per_shard=4096,
                                              num_groups=8)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("pack-empty-groups")
    assert 0 < len(jobs) <= 12
    groups = manifest["groups"]
    assert sorted(groups, key=int) == [str(g) for g in range(8)]
    assert all(v["committed"] for v in groups.values())
    assert groups["0"]["docs"] == 400
    assert groups["0"]["postings"] == n_postings
    for g in range(1, 8):
        assert {k: groups[str(g)][k] for k in ("docs", "terms",
                                               "postings")} == \
            {"docs": 0, "terms": 0, "postings": 0}
        assert not os.path.exists(os.path.join(out, "data", f"group={g}"))

    # un-commit the data group and one empty group: resume redoes those two
    # and leaves every other record untouched
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    for g, v in m["groups"].items():
        v["untouched"] = True
    m["groups"]["0"]["committed"] = False
    m["groups"]["5"]["committed"] = False
    with open(mpath, "w") as f:
        json.dump(m, f)
    m2 = layout.write_packed_shards(weighted, out, docs_per_shard=4096,
                                    num_groups=8)
    redone = {g for g, v in m2["groups"].items() if not v.get("untouched")}
    assert redone == {"0", "5"}
    assert all(v["committed"] for v in m2["groups"].values())
    packed = layout.read_packed_shards(spark, out)
    assert packed.groupBy().agg(F.sum("n")).collect()[0][0] == n_postings

    new = (weighted.filter(F.col("doc_id") < 50)
           .withColumn("doc_id", F.col("doc_id") + 4096))
    m3 = layout.append_packed_shards(new, out)
    assert m3["groups"]["8"]["append"] and m3["groups"]["8"]["docs"] == 50
    assert m3["groups"]["8"]["postings"] == new.count()
    packed = layout.read_packed_shards(spark, out)
    assert packed.groupBy().agg(F.sum("n")).collect()[0][0] == \
        n_postings + new.count()
