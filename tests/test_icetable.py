"""Iceberg-semantics table layer: snapshots, atomic commits, time travel,
compaction, expiry, pruning, and the Iceberg-backed index store."""

import json
import os

import pytest
from pyspark.sql import functions as F


def _rows(df, cols=("doc_id",)):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture()
def simple_df(spark):
    def make(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            (F.col("id") * 10).alias("term_id"),
            F.lit(1.5).alias("weight"),
        )
    return make


def test_create_append_scan_and_summaries(spark, tmp_path, simple_df):
    from gensim_spark.index.icetable import IceTable, PartitionField

    loc = str(tmp_path / "t1")
    t = IceTable.create(
        loc, "doc_id bigint, term_id bigint, weight double",
        partition_spec=[PartitionField("term_id", "bucket", "mod[4]")],
    )
    s1 = t.append(simple_df(0, 10), summary={"load": "a"})
    s2 = t.append(simple_df(10, 15), summary={"load": "b"})
    assert s2.parent_snapshot_id == s1.snapshot_id
    assert s2.sequence_number == s1.sequence_number + 1
    assert s1.summary["added-records"] == "10"
    assert s2.summary["total-records"] == "15"
    assert s2.summary["load"] == "b"
    got = IceTable.load(loc).scan(spark)
    assert got.count() == 15
    assert set(got.columns) >= {"doc_id", "term_id", "weight", "bucket"}
    # version files + hint follow the Hadoop catalog layout
    assert os.path.exists(os.path.join(loc, "metadata", "v3.metadata.json"))
    with open(os.path.join(loc, "metadata", "version-hint.text")) as f:
        assert f.read().strip() == "3"


def test_time_travel_and_rollback(spark, tmp_path, simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t2")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    s1 = t.append(simple_df(0, 5))
    s2 = t.append(simple_df(5, 9))
    assert t.scan(spark).count() == 9
    # by snapshot id
    assert t.scan(spark, snapshot_id=s1.snapshot_id).count() == 5
    # by timestamp
    assert t.scan(spark, as_of_ms=s1.timestamp_ms).count() == 5
    assert t.scan(spark, as_of_ms=s2.timestamp_ms + 10).count() == 9
    # rollback moves the pointer with a NEW metadata version, keeps history
    v_before = t.version
    t.rollback(s1.snapshot_id)
    assert t.version == v_before + 1
    assert t.scan(spark).count() == 5
    assert len(t.snapshots) == 2  # nothing deleted
    # scanning the future snapshot still works after rollback
    assert t.scan(spark, snapshot_id=s2.snapshot_id).count() == 9


def test_overwrite_replaces_history_for_scans(spark, tmp_path, simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t3")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 5))
    t.append(simple_df(5, 9))
    t.append(simple_df(100, 103), operation="overwrite")
    assert _rows(t.scan(spark)) == [(100,), (101,), (102,)]
    # appends on top of the overwrite accumulate from there
    t.append(simple_df(103, 105))
    assert t.scan(spark).count() == 5


def test_expire_snapshots_deletes_unreferenced_files(spark, tmp_path,
                                                     simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t4")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 5))
    t.append(simple_df(5, 9), operation="overwrite")  # orphans snapshot 1
    removed = t.expire_snapshots(keep_last=1)
    assert removed["snapshots"] == 1
    assert removed["data_files"] >= 1
    # current data intact
    assert _rows(t.scan(spark)) == [(5,), (6,), (7,), (8,)]
    # expired snapshot gone from history
    assert len(t.snapshots) == 1


def test_expire_keeps_ancestor_files_of_retained_appends(spark, tmp_path,
                                                         simple_df):
    """Round-2 ADVICE (high): an append snapshot's full state includes files
    added by ancestor snapshots; expiring the ancestors must not delete them
    or drop them from scans."""
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t4b")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 5))
    t.append(simple_df(5, 9))
    removed = t.expire_snapshots(keep_last=1)
    assert removed["snapshots"] == 1
    assert removed["data_files"] == 0  # every file still live via the kept
    assert len(t.snapshots) == 1
    assert _rows(t.scan(spark)) == [(i,) for i in range(9)]
    assert t.current_snapshot.summary["total-records"] == "9"
    # reload from disk (no in-memory state) and append on top
    t2 = IceTable.load(loc)
    assert t2.scan(spark).count() == 9
    t2.append(simple_df(9, 12))
    assert t2.scan(spark).count() == 12


def test_snapshot_manifest_list_spec_fields(spark, tmp_path, simple_df):
    """Each snapshot carries a manifest list with the spec's field names;
    an append's list = parent's entries + its own new manifest."""
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t4c")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    s1 = t.append(simple_df(0, 5))
    s2 = t.append(simple_df(5, 9))
    assert s2.manifest_list is not None
    with open(os.path.join(loc, "metadata", s2.manifest_list)) as f:
        entries = json.load(f)["entries"]
    assert [e["added_snapshot_id"] for e in entries] \
        == [s1.snapshot_id, s2.snapshot_id]
    for e in entries:
        for fld in ("manifest_path", "manifest_length", "partition_spec_id",
                    "content", "sequence_number", "min_sequence_number",
                    "added_data_files_count", "added_rows_count"):
            assert fld in e
        assert e["manifest_length"] == os.path.getsize(
            os.path.join(loc, "metadata", e["manifest_path"]))
    # overwrite truncates the state: fresh list with one entry
    s3 = t.append(simple_df(100, 102), operation="overwrite")
    with open(os.path.join(loc, "metadata", s3.manifest_list)) as f:
        entries3 = json.load(f)["entries"]
    assert [e["added_snapshot_id"] for e in entries3] == [s3.snapshot_id]


def test_concurrent_commit_conflict_retries(spark, tmp_path, simple_df):
    """A concurrent writer that linked v<N+1> but died before advancing the
    hint: refresh must probe past the hint and the commit lands on v<N+2>."""
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t5")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 3))
    # simulate the concurrent committed-but-unhinted writer: copy current
    # metadata to the next version slot with a bumped snapshot entry
    meta_dir = os.path.join(loc, "metadata")
    cur = t.version
    with open(os.path.join(meta_dir, f"v{cur}.metadata.json")) as f:
        other = json.load(f)
    other["last-updated-ms"] += 1
    with open(os.path.join(meta_dir, f"v{cur + 1}.metadata.json"), "w") as f:
        json.dump(other, f)
    s = t.append(simple_df(3, 6))  # must NOT clobber v{cur+1}
    assert t.version == cur + 2
    assert t.scan(spark).count() == 6
    assert s.snapshot_id == t.current_snapshot.snapshot_id


def test_manifest_pruning_plan_files(spark, tmp_path):
    from gensim_spark.index.icetable import IceTable, PartitionField

    loc = str(tmp_path / "t6")
    t = IceTable.create(
        loc, "doc_id bigint, term_id bigint, weight double",
        partition_spec=[PartitionField("term_id", "bucket", "mod[4]")],
    )
    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"), F.col("id").alias("term_id"),
        F.lit(1.0).alias("weight"),
    )
    t.append(df)
    all_files = t.plan_files()
    pruned = t.plan_files(partition_pred=lambda p: p.get("bucket") == 1)
    assert 0 < len(pruned) < len(all_files)
    got = t.scan(spark, partition_pred=lambda p: p.get("bucket") == 1)
    assert _rows(got.select((F.col("term_id") % 4).alias("doc_id"))) \
        == [(1,)] * 25
    # min/max file skipping: manifest bounds harvested from parquet footers
    stats_hit = t.plan_files(
        stats_pred=lambda fe: fe["lower-bounds"]["term_id"] <= 3
        <= fe["upper-bounds"]["term_id"])
    assert 0 < len(stats_hit) <= len(all_files)
    for fe in all_files:
        assert fe["record-count"] > 0
        assert "term_id" in fe["lower-bounds"]


def test_remove_orphans(spark, tmp_path, simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t7")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 4))
    # a crashed staged write = parquet files referenced by no snapshot
    stray_dir = os.path.join(loc, "data", "deadbeef")
    os.makedirs(stray_dir)
    simple_df(90, 95).toPandas().to_parquet(
        os.path.join(stray_dir, "part-0.parquet"))
    # default retention window protects a possibly-in-flight staged write
    assert t.remove_orphans() == 0
    assert t.remove_orphans(older_than_s=0) == 1
    assert t.scan(spark).count() == 4


def test_packed_shards_iceberg_build_resume_and_metrics(spark, tmp_path):
    from gensim_spark.index import layout
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 600, tokens_per_doc=40, partitions=4)
    tok = P.tokenize(pages, ascii_fast_path=True)
    idx = P.build(tok, num_docs=600)
    loc = str(tmp_path / "ice_idx")
    t = layout.write_packed_shards(idx.weighted, loc,
                                   docs_per_shard=128, num_groups=3)
    snaps = [s for s in t.snapshots if "group" in s.summary]
    assert len(snaps) == 3
    total_postings = sum(int(s.summary["postings"]) for s in snaps)
    assert total_postings == idx.weighted.count()
    total_docs = sum(int(s.summary["docs"]) for s in snaps)
    assert total_docs == 600
    # packed content round-trips
    packed = layout.read_packed_shards(spark, loc)
    assert packed.groupBy().agg(F.sum("n")).collect()[0][0] \
        == idx.weighted.count()
    # resume: a second run adds NO snapshots (all groups committed)
    v = t.version
    t2 = layout.write_packed_shards(idx.weighted, loc,
                                    docs_per_shard=128, num_groups=3)
    assert t2.version == v
    # resume=False replaces the table: one fresh snapshot per group
    t3 = layout.write_packed_shards(idx.weighted, loc, docs_per_shard=128,
                                    num_groups=3, resume=False)
    assert [s.summary["group"] for s in t3.snapshots] == ["0", "1", "2"]
    assert not {s.snapshot_id for s in t3.snapshots} \
        & {s.snapshot_id for s in t2.snapshots}
    # shard pruning via manifests
    one = layout.read_packed_shards(spark, loc, shard_ids=[0])
    assert set(r["shard_id"] for r in
               one.select("shard_id").distinct().collect()) == {0}


def test_packed_shards_iceberg_empty_groups(spark, tmp_path):
    """Groups with no shards commit a zero-metric snapshot with no files:
    resume adds nothing and an append still lands past the build."""
    from gensim_spark.index import layout
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 200, tokens_per_doc=20, partitions=2)
    idx = P.build(P.tokenize(pages, ascii_fast_path=True), num_docs=200)
    loc = str(tmp_path / "ice_empty")
    t = layout.write_packed_shards(idx.weighted, loc,
                                   docs_per_shard=128, num_groups=4)
    by_group = {int(s.summary["group"]): s for s in t.snapshots
                if "group" in s.summary}
    assert sorted(by_group) == [0, 1, 2, 3]
    for g in (2, 3):  # shards 0 and 1 only
        s = by_group[g].summary
        assert (s["docs"], s["terms"], s["postings"],
                s["added-data-files"]) == ("0", "0", "0", "0")
    assert sum(int(s.summary["docs"]) for s in by_group.values()) == 200
    v = t.version
    assert layout.write_packed_shards(
        idx.weighted, loc, docs_per_shard=128, num_groups=4).version == v
    new = (idx.weighted.filter(F.col("doc_id") < 10)
           .withColumn("doc_id", F.col("doc_id") + 256))
    t2 = layout.append_packed_shards(new, loc)
    assert int(t2.snapshots[-1].summary["docs"]) == 10
    packed = layout.read_packed_shards(spark, loc)
    assert packed.groupBy().agg(F.sum("n")).collect()[0][0] == \
        idx.weighted.count() + new.count()


def test_postings_bucketed_iceberg_prunes_and_matches(spark, tmp_path):
    from gensim_spark.index import layout
    from gensim_spark.index.icetable import IceTable
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 400, tokens_per_doc=30, partitions=4)
    tok = P.tokenize(pages, ascii_fast_path=True)
    idx = P.build(tok, num_docs=400)
    loc = str(tmp_path / "ice_buckets")
    layout.write_postings_bucketed_iceberg(
        idx.weighted, loc, n_buckets=8, salt_threshold=200,
        dfs=idx.vocab.select("term_id", "df"))
    terms = [r["term_id"] for r in idx.vocab.limit(3).collect()]
    pruned = layout.read_postings_bucketed_iceberg(spark, loc,
                                                   term_ids=terms)
    want = idx.weighted.filter(F.col("term_id").isin(terms))
    gk = _rows(pruned, ("doc_id", "term_id"))
    wk = _rows(want, ("doc_id", "term_id"))
    assert gk == wk
    # the manifest plan touches fewer files than a full scan
    t = IceTable.load(loc)
    n_buckets = 8
    buckets = {int(x) % n_buckets for x in terms}
    pruned_files = t.plan_files(
        partition_pred=lambda p: p.get("bucket") in buckets)
    assert 0 < len(pruned_files) < len(t.plan_files())


def test_postings_bucketed_iceberg_rejects_n_buckets_mismatch(spark, tmp_path):
    """Round-2 ADVICE (medium): the reader prunes with the STORED n_buckets,
    so a writer passing a different modulus must be rejected, not silently
    accepted."""
    from gensim_spark.index import layout
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 100, tokens_per_doc=20, partitions=2)
    idx = P.build(P.tokenize(pages, ascii_fast_path=True), num_docs=100)
    loc = str(tmp_path / "ice_nb")
    layout.write_postings_bucketed_iceberg(idx.weighted, loc, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        layout.write_postings_bucketed_iceberg(idx.weighted, loc, n_buckets=16)
    # same modulus still appends fine
    layout.write_postings_bucketed_iceberg(idx.weighted, loc, n_buckets=8)


def test_concurrent_appends_from_threads(spark, tmp_path, simple_df):
    """Atomicity under real concurrency: 3 writers x 4 appends race on one
    table; optimistic retries must serialize every commit — no lost
    snapshots, contiguous versions, exact total records."""
    import threading

    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "t_conc")
    IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    errors = []

    def writer(wid):
        try:
            for j in range(4):
                t = IceTable.load(loc)
                t.append(simple_df(wid * 100 + j * 10, wid * 100 + j * 10 + 5),
                         summary={"writer": wid, "j": j})
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    t = IceTable.load(loc)
    assert len(t.snapshots) == 12  # every commit serialized, none lost
    assert t.version == 13  # create + 12 appends, contiguous
    assert int(t.current_snapshot.summary["total-records"]) == 12 * 5
    assert t.scan(spark).count() == 60
    # parent chain is a single line through all 12 snapshots
    ids = {s.snapshot_id for s in t.snapshots}
    parents = {s.parent_snapshot_id for s in t.snapshots}
    assert None in parents and len(parents - ids) == 1
    seqs = sorted(s.sequence_number for s in t.snapshots)
    assert seqs == list(range(1, 13))


def test_random_op_sequences_match_model(spark, tmp_path, simple_df):
    """Model-based check: random append/overwrite/rollback sequences must
    leave the table exactly where a trivial in-memory model says — current
    row multiset, snapshot count, and history timestamps monotonic."""
    import random

    from gensim_spark.index.icetable import IceTable

    rng = random.Random(1234)
    for trial in range(4):
        loc = str(tmp_path / f"model_{trial}")
        t = IceTable.create(loc, "doc_id bigint, term_id bigint,"
                                 " weight double")
        model_rows: list[set] = []   # per-snapshot visible doc_id set
        snap_ids: list[int] = []
        visible: set = set()
        next_lo = trial * 1000
        for _step in range(6):
            op = rng.choice(["append", "append", "overwrite", "rollback"])
            if op == "rollback" and not snap_ids:
                continue
            if op == "rollback":
                pick = rng.randrange(len(snap_ids))
                t.rollback(snap_ids[pick])
                visible = set(model_rows[pick])
                continue
            n = rng.randint(1, 4)
            lo, hi = next_lo, next_lo + n
            next_lo = hi
            t.append(simple_df(lo, hi), operation=op)
            if op == "overwrite":
                visible = set(range(lo, hi))
            else:
                visible = visible | set(range(lo, hi))
            snap_ids.append(t.current_snapshot.snapshot_id)
            model_rows.append(set(visible))
        got = {r["doc_id"] for r in t.scan(spark).collect()}
        assert got == visible, (trial, got, visible)
        # reload sees the identical state (all state is in the metadata)
        t2 = IceTable.load(loc)
        got2 = {r["doc_id"] for r in t2.scan(spark).collect()}
        assert got2 == visible
        # snapshot log timestamps are monotonic
        ts = [e["timestamp-ms"] for e in t2.history()]
        assert ts == sorted(ts)
        # every historical snapshot remains scannable and matches the model
        for sid, want in zip(snap_ids, model_rows):
            hist = {r["doc_id"]
                    for r in t2.scan(spark, snapshot_id=sid).collect()}
            assert hist == want, (trial, sid)


def test_expire_synthesizes_manifest_list_for_old_format_snapshots(
        spark, tmp_path, simple_df):
    """A kept snapshot written before manifest-lists existed resolves its
    state through the parent walk — expire must persist a synthesized
    manifest-list BEFORE dropping ancestors, or the kept snapshot's scans
    silently lose the ancestors' rows."""
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "old_format")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 5))
    t.append(simple_df(5, 9))
    # simulate the pre-round-3 format: strip manifest-list from every
    # snapshot in the CURRENT metadata version (and remove the files)
    mpath = os.path.join(loc, "metadata", f"v{t.version}.metadata.json")
    with open(mpath) as f:
        meta = json.load(f)
    for s in meta["snapshots"]:
        ml = s.pop("manifest-list", None)
        if ml:
            os.unlink(os.path.join(loc, "metadata", ml))
    with open(mpath, "w") as f:
        json.dump(meta, f)

    t = IceTable.load(loc)
    assert all(s.manifest_list is None for s in t.snapshots)
    stats = t.expire_snapshots(keep_last=1)
    assert stats["snapshots"] == 1
    # the kept snapshot must still see BOTH appends' rows
    assert _rows(t.scan(spark)) == [(i,) for i in range(9)]
    # and survive a reload (state no longer depends on dropped ancestors)
    assert _rows(IceTable.load(loc).scan(spark)) == [(i,) for i in range(9)]


def test_expire_commits_before_deleting(spark, tmp_path, simple_df):
    """Commit-then-clean: a conflicting commit between refresh and
    _write_version must leave every referenced file intact (the expire
    retries against the new version instead of deleting first)."""
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "race")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 5), operation="overwrite")
    t.append(simple_df(5, 9), operation="overwrite")

    other = IceTable.load(loc)
    real_write = t._write_version
    raced = {"done": False}

    def race_once(new_version, meta):
        if not raced["done"]:
            raced["done"] = True
            other.append(simple_df(100, 102))  # steals the version
        real_write(new_version, meta)

    t._write_version = race_once
    t.expire_snapshots(keep_last=1)
    # every surviving snapshot scans cleanly after the race
    final = IceTable.load(loc)
    got = _rows(final.scan(spark))
    assert (100,) in got and (101,) in got


def test_remove_orphans_refreshes_before_liveness(spark, tmp_path,
                                                  simple_df):
    """A stale handle must not treat files committed by ANOTHER writer as
    orphans."""
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "orph")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 5))
    stale = IceTable.load(loc)
    writer = IceTable.load(loc)
    writer.append(simple_df(5, 9))
    removed = stale.remove_orphans(older_than_s=0.0)
    assert removed == 0
    assert _rows(IceTable.load(loc).scan(spark)) == [(i,) for i in range(9)]


def test_equality_delete_merge_on_read(spark, tmp_path, simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "tdel")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 10))
    dels = spark.createDataFrame([(2,), (5,), (7,)], "doc_id long")
    s = t.delete_rows(dels, ["doc_id"])
    assert s.operation == "delete"
    assert s.summary["added-equality-deletes"] == "3"
    assert s.summary["total-records"] == "10"  # data totals untouched (MoR)
    got = _rows(t.scan(spark))
    assert got == [(i,) for i in range(10) if i not in (2, 5, 7)]
    # raw scan (apply_deletes=False) still sees everything
    assert t.scan(spark, apply_deletes=False).count() == 10


def test_equality_delete_sequence_ordering(spark, tmp_path, simple_df):
    # spec rule: a delete at sequence s applies only to data with seq < s —
    # a key re-appended AFTER the delete must survive
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "tdel_seq")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 5))                     # seq 1: docs 0-4
    t.delete_rows(spark.createDataFrame([(3,), (4,)], "doc_id long"),
                  ["doc_id"])                     # seq 2: delete 3, 4
    t.append(simple_df(4, 7))                     # seq 3: docs 4-6 re-adds 4
    got = _rows(t.scan(spark))
    assert got == [(0,), (1,), (2,), (4,), (5,), (6,)]


def test_equality_delete_time_travel_and_multi_column(spark, tmp_path,
                                                      simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "tdel_tt")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    s1 = t.append(simple_df(0, 6))
    # multi-column equality: (doc_id, term_id) — term_id = doc_id*10 here,
    # so (2, 20) matches exactly one row and (3, 999) matches none
    dels = spark.createDataFrame([(2, 20), (3, 999)],
                                 "doc_id long, term_id long")
    t.delete_rows(dels, ["doc_id", "term_id"])
    assert _rows(t.scan(spark)) == [(0,), (1,), (3,), (4,), (5,)]
    # time travel to the pre-delete snapshot ignores the later delete
    assert t.scan(spark, snapshot_id=s1.snapshot_id).count() == 6


def test_rewrite_data_files_folds_deletes(spark, tmp_path, simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "tdel_cow")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 8))
    t.delete_rows(spark.createDataFrame([(1,), (6,)], "doc_id long"),
                  ["doc_id"])
    before = _rows(t.scan(spark))
    snap = t.rewrite_data_files(spark)
    assert snap.operation == "replace"
    assert snap.summary["compaction"] == "rewrite_data_files"
    # no delete manifests remain in the live state
    assert t.plan_delete_files() == []
    assert _rows(t.scan(spark)) == before
    # data totals now reflect the survivors
    assert snap.summary["total-records"] == str(len(before))
    # expiry drops the pre-compaction generations and their delete files
    t.expire_snapshots(keep_last=1)
    assert _rows(t.scan(spark)) == before


def test_expire_preserves_delete_files_of_kept_snapshots(spark, tmp_path,
                                                         simple_df):
    from gensim_spark.index.icetable import IceTable

    loc = str(tmp_path / "tdel_exp")
    t = IceTable.create(loc, "doc_id bigint, term_id bigint, weight double")
    t.append(simple_df(0, 6))
    t.delete_rows(spark.createDataFrame([(0,)], "doc_id long"), ["doc_id"])
    t.append(simple_df(6, 8))
    # keep only the last snapshot — its state still includes the delete
    # manifest (inherited through the manifest list), so doc 0 stays gone
    t.expire_snapshots(keep_last=1)
    got = _rows(IceTable.load(loc).scan(spark))
    assert got == [(i,) for i in range(1, 8)]


def test_delete_docs_iceberg_live_index_maintenance(spark, tmp_path):
    """Equality-delete index maintenance: a doc removed from the live
    bucketed postings store disappears from BM25 top-k without a rebuild,
    pre-delete snapshots still rank it (time travel), and compaction folds
    the delete away with identical query results."""
    from gensim_spark.index import layout
    from gensim_spark.index.icetable import IceTable
    from gensim_spark.operators import topk as T
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 300, tokens_per_doc=30, partitions=3)
    tok = P.tokenize(pages, ascii_fast_path=True)
    idx = P.build(tok, num_docs=300)
    loc = str(tmp_path / "ice_del")
    layout.write_postings_bucketed_iceberg(
        idx.weighted, loc, n_buckets=8,
        dfs=idx.vocab.select("term_id", "df"))
    pre_snap = IceTable.load(loc).current_snapshot.snapshot_id

    tids = [r["term_id"] for r in idx.vocab.limit(3).collect()]
    qdf = T.query_terms_df(spark, {0: tids})
    before = T.search(
        layout.read_postings_bucketed_iceberg(spark, loc, term_ids=tids),
        qdf, k=10).collect()
    victim = before[0]["doc_id"]

    layout.delete_docs_iceberg(spark, loc, [victim])
    after = T.search(
        layout.read_postings_bucketed_iceberg(spark, loc, term_ids=tids),
        qdf, k=10).collect()
    assert victim not in {r["doc_id"] for r in after}
    # survivors keep their exact scores (deletion may not perturb others)
    b_scores = {r["doc_id"]: r["score"] for r in before}
    for r in after:
        if r["doc_id"] in b_scores:
            assert abs(r["score"] - b_scores[r["doc_id"]]) < 1e-12
    # no posting of the victim survives anywhere in the live scan
    assert IceTable.load(loc).scan(spark) \
        .filter(F.col("doc_id") == victim).count() == 0

    # time travel: the pre-delete snapshot still ranks the victim first
    tt = T.search(
        layout.read_postings_bucketed_iceberg(spark, loc, term_ids=tids,
                                              snapshot_id=pre_snap),
        qdf, k=10).collect()
    assert tt[0]["doc_id"] == victim

    # copy-on-write compaction folds the delete: same results, zero
    # delete files in the live plan
    t = IceTable.load(loc)
    t.rewrite_data_files(spark)
    t = t.refresh()
    assert t.plan_delete_files() == []
    compacted = T.search(
        layout.read_postings_bucketed_iceberg(spark, loc, term_ids=tids),
        qdf, k=10).collect()
    assert [(r["doc_id"], round(r["score"], 10)) for r in compacted] == \
           [(r["doc_id"], round(r["score"], 10)) for r in after]


def test_delete_docs_iceberg_reappend_and_df_input(spark, tmp_path):
    """Sequence ordering at the store level: a doc re-appended AFTER its
    delete is live again; DataFrame-typed delete input works."""
    from gensim_spark.index import layout
    from gensim_spark.index.icetable import IceTable
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 60, tokens_per_doc=20, partitions=2)
    idx = P.build(P.tokenize(pages, ascii_fast_path=True), num_docs=60)
    loc = str(tmp_path / "ice_del2")
    layout.write_postings_bucketed_iceberg(idx.weighted, loc, n_buckets=4)
    victim = idx.weighted.select("doc_id").first()["doc_id"]
    victim_rows = idx.weighted.filter(F.col("doc_id") == victim)

    layout.delete_docs_iceberg(
        spark, loc, victim_rows.select("doc_id").distinct(), compact=False)
    t = IceTable.load(loc)
    assert t.scan(spark).filter(F.col("doc_id") == victim).count() == 0

    # re-append the doc's postings: later sequence -> visible again
    n_re = victim_rows.count()
    t.append(victim_rows.withColumn("salt", F.lit(0)).withColumn(
        "bucket", F.pmod(F.col("term_id"), F.lit(4))))
    t = t.refresh()
    assert t.scan(spark).filter(
        F.col("doc_id") == victim).count() == n_re


def test_delete_docs_iceberg_rejects_frame_without_doc_id(spark, tmp_path):
    """A delete frame lacking a 'doc_id' column must be rejected — a
    positional guess could equality-delete on the wrong column."""
    from gensim_spark.index import layout
    from gensim_spark.plans import pipeline as P
    from gensim_spark.sources.synth import generate_pages

    pages = generate_pages(spark, 30, tokens_per_doc=15, partitions=1)
    idx = P.build(P.tokenize(pages, ascii_fast_path=True), num_docs=30)
    loc = str(tmp_path / "ice_del3")
    layout.write_postings_bucketed_iceberg(idx.weighted, loc, n_buckets=4)
    bad = idx.weighted.select("term_id", "weight")
    with pytest.raises(ValueError, match="doc_id"):
        layout.delete_docs_iceberg(spark, loc, bad)
