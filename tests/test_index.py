"""M4/M5: packed shard layout, checkpointed build, WAND query exactness."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import crash_commits, docs_df, staged_files


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
    table = layout.write_packed_shards(idx.weighted, out,
                                       docs_per_shard=256, num_groups=4)
    groups = {s.summary["group"]: s.summary for s in table.snapshots}
    assert sorted(groups) == ["0", "1", "2", "3"]
    total_postings = sum(int(g["postings"]) for g in groups.values())
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
    """Block-lazy decode: every block decodes independently via its byte
    offset + the previous block's last doc, bit-identical to the full
    decode."""
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


def test_checkpoint_resume_skips_committed(spark, synth_index, tmp_path,
                                           monkeypatch):
    from gensim_spark.index import layout
    from gensim_spark.index.icetable import IceTable

    idx, _ = synth_index
    out = str(tmp_path / "idx2")
    # kill the build at group 2's commit: its files are staged, its
    # snapshot never lands, groups 0 and 1 are committed
    with monkeypatch.context() as m:
        crash_commits(m, lambda s: s.get("group") == 2)
        with pytest.raises(RuntimeError, match="simulated crash"):
            layout.write_packed_shards(idx.weighted, out,
                                       docs_per_shard=512, num_groups=4)
    before = {s.summary["group"]: s.snapshot_id
              for s in IceTable.load(out).snapshots}
    assert sorted(before) == ["0", "1"]
    t = layout.write_packed_shards(idx.weighted, out, docs_per_shard=512,
                                   num_groups=4)
    after = {s.summary["group"]: s.snapshot_id for s in t.snapshots}
    # resume redid ONLY the uncommitted groups; committed snapshots are
    # untouched
    assert len(t.snapshots) == 4 and sorted(after) == ["0", "1", "2", "3"]
    assert {g: after[g] for g in before} == before
    # exactly-once: the crashed write's staged files stay on disk but are
    # never read — the store holds exactly one copy of every run
    assert len(staged_files(out)) > len(layout.packed_files(out))
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
    df = layout.read_postings_bucketed(spark, out)
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


def test_bucketed_store_keeps_its_modulus(spark, synth_index, tmp_path):
    """Readers and appenders take n_buckets from the table: an 8-bucket
    store read with no n_buckets returns every row of a term outside the
    first 8 buckets of a 64-bucket layout, an appended row lands in the
    8-bucket reads, and an explicit n_buckets other than the stored one
    raises on read and on append."""
    from gensim_spark.index import layout

    idx, _ = synth_index
    out = str(tmp_path / "b8")
    layout.write_postings_bucketed(idx.weighted, out, n_buckets=8)
    term = next(r["term_id"] for r in idx.vocab.orderBy("term_id").collect()
                if r["term_id"] % 64 >= 8)
    want = idx.weighted.filter(F.col("term_id") == term).count()
    assert want > 0
    assert layout.read_postings_bucketed(
        spark, out, term_ids=[term]).count() == want
    top = idx.weighted.agg(F.max("doc_id")).collect()[0][0]
    new = spark.createDataFrame([(top + 1, term, 1.0)],
                                "doc_id long, term_id long, weight double")
    for call in (
            lambda: layout.read_postings_bucketed(spark, out,
                                                  term_ids=[term],
                                                  n_buckets=64),
            lambda: layout.append_postings_bucketed(new, out, n_buckets=64)):
        with pytest.raises(ValueError, match="n_buckets"):
            call()
    layout.append_postings_bucketed(new, out)
    got = layout.read_postings_bucketed(spark, out, term_ids=[term])
    assert got.count() == want + 1
    assert got.filter(F.col("doc_id") == top + 1).count() == 1
    with pytest.raises(ValueError, match="doc_ids"):
        layout.append_postings_bucketed(new, out)  # not above the max


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bucketed_append_guard_runs_no_job(spark, synth_index, tmp_path):
    """The append's doc_id guard reads the staged files' footer bounds, so
    an append runs exactly the jobs of writing the same rows as a fresh
    store; an overlapping batch still raises and leaves the current
    snapshot and its planned files as they were."""
    from gensim_spark.index import layout

    idx, _ = synth_index
    top = idx.weighted.agg(F.max("doc_id")).collect()[0][0]
    base = idx.weighted.filter(F.col("doc_id") < 200)
    new = (idx.weighted.filter(F.col("doc_id").between(200, 260))
           .withColumn("doc_id", F.col("doc_id") + top))
    out = str(tmp_path / "guard")
    layout.write_postings_bucketed(base, out, n_buckets=8)
    write_jobs = _jobs_in_group(
        spark, "bucketed-write", lambda: layout.write_postings_bucketed(
            new, str(tmp_path / "fresh"), n_buckets=8))
    append_jobs = _jobs_in_group(
        spark, "bucketed-append",
        lambda: layout.append_postings_bucketed(new, out))
    assert 0 < append_jobs == write_jobs

    table = layout.load_bucketed(out)
    snap, planned = table.current_snapshot.snapshot_id, table.plan_files()
    with pytest.raises(ValueError, match="doc_ids"):
        layout.append_postings_bucketed(new, out)  # not above the max
    after = layout.load_bucketed(out)
    assert after.current_snapshot.snapshot_id == snap
    assert after.plan_files() == planned


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
    return wand._TermRun(*(run[c] for c in packing.RUN_COLUMNS),
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

    from gensim_spark.index import layout

    tbl = pads.dataset([f["path"] for f in layout.packed_files(out)],
                       format="parquet").to_table()
    rows = tbl.to_pylist()
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


def test_empty_shard_groups_skip_spark(spark, synth_index, tmp_path,
                                      monkeypatch):
    """Eight groups, every doc in shard 0: the seven empty groups commit
    snapshots with zero metrics, no files and no Spark job; resume and a
    later append still see a complete build."""
    from gensim_spark.index import layout

    idx, _ = synth_index
    weighted = idx.weighted.filter(F.col("doc_id") < 400)
    n_postings = weighted.count()
    out = str(tmp_path / "one_shard")
    sc = spark.sparkContext
    sc.setJobGroup("pack-empty-groups", "write_packed_shards")
    try:
        table = layout.write_packed_shards(weighted, out,
                                           docs_per_shard=4096,
                                           num_groups=8)
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("pack-empty-groups")
    assert 0 < len(jobs) <= 12
    groups = {int(s.summary["group"]): s.summary for s in table.snapshots}
    assert sorted(groups) == list(range(8))
    assert groups[0]["docs"] == "400"
    assert groups[0]["postings"] == str(n_postings)
    for g in range(1, 8):
        assert {k: groups[g][k] for k in ("docs", "terms", "postings",
                                          "added-data-files")} == \
            {"docs": "0", "terms": "0", "postings": "0",
             "added-data-files": "0"}
    assert {f["partition"]["shard_id"]
            for f in layout.packed_files(out)} == {0}

    # a build killed at empty group 5: resume redoes groups 5-7 only and
    # launches no pack job — its only Spark work is the aggregate that
    # finds the non-empty groups
    crashed = str(tmp_path / "one_shard_crashed")
    with monkeypatch.context() as m:
        crash_commits(m, lambda s: s.get("group") == 5)
        with pytest.raises(RuntimeError, match="simulated crash"):
            layout.write_packed_shards(weighted, crashed,
                                       docs_per_shard=4096, num_groups=8)
    sc.setJobGroup("find-nonempty-groups", "_nonempty_groups")
    try:
        layout._nonempty_groups(layout._with_shard(weighted, 4096), 8)
    finally:
        sc.setJobGroup("", "")
    sc.setJobGroup("resume-empty-groups", "write_packed_shards")
    try:
        t2 = layout.write_packed_shards(weighted, crashed,
                                        docs_per_shard=4096, num_groups=8)
    finally:
        sc.setJobGroup("", "")
    assert len(sc.statusTracker().getJobIdsForGroup(
        "resume-empty-groups")) == len(sc.statusTracker()
                                       .getJobIdsForGroup(
                                           "find-nonempty-groups"))
    assert [s.summary["group"] for s in t2.snapshots] == \
        [str(g) for g in range(8)]
    packed = layout.read_packed_shards(spark, crashed)
    assert packed.groupBy().agg(F.sum("n")).collect()[0][0] == n_postings

    new = (weighted.filter(F.col("doc_id") < 50)
           .withColumn("doc_id", F.col("doc_id") + 4096))
    t3 = layout.append_packed_shards(new, out)
    appended = t3.snapshots[-1].summary
    assert "append_batch" in appended and appended["docs"] == "50"
    assert appended["postings"] == str(new.count())
    packed = layout.read_packed_shards(spark, out)
    assert packed.groupBy().agg(F.sum("n")).collect()[0][0] == \
        n_postings + new.count()
