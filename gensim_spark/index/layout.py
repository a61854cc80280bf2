"""Sharded index layout + checkpointed build.

Physical design (SURVEY.md §2.5/§7.1 M4; reference analogue:
``gensim.similarities.Similarity`` doc-range shards, docsim.py:260-758):

- **Doc-range shards**: ``shard_id = doc_id // docs_per_shard`` — every shard
  holds complete documents (all their terms), so top-k is computable per
  shard and merged (two-stage top-k), exactly gensim's shard query fan-out
  (docsim.py:480-503) as a Spark scan.
- **Packed runs**: within a shard, one row per term: sorted doc_ids
  delta+varint packed + float32 weights + block-max skip metadata
  (``packing.py``). One pack task per shard sorts its postings by (term,
  doc) and packs them an Arrow batch at a time (``packing.pack_runs``, one
  set of numpy calls per batch, not one Python call per run). Every packed
  writer — build and append, plain and Iceberg — runs that one plan
  (``_pack_write``). Parquet (partitioned by shard_id) stands in for the
  Iceberg shard tables — same layout, same pruning, no extra runtime dep;
  min/max stats on ``term_id`` give run-level pruning inside each shard file.
- **Term-bucketed plain postings** (``write_postings_bucketed``): the
  relational scoring path — postings bucketed by ``term_id % n_buckets`` so a
  query's scan prunes to its terms' buckets; **head-term salting** splits any
  term with df above a threshold across ``salt`` sub-partitions to bound the
  largest shuffle/file partition (explicit skew handling; the salt column is
  part of the layout, queries just aggregate across salts).
- **Checkpoint manifest**: the build commits shard-groups one at a time and
  records lineage + metrics per group in ``manifest.json``; a re-run skips
  committed groups (resume-from-checkpoint). One aggregate up front finds
  the groups that hold postings; an empty group (any corpus with fewer
  shards than groups has some) is committed with zero metrics, no data
  directory and no Spark job.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gensim_spark.index import packing

PACKED_SCHEMA = (
    "shard_id long, term_id long, n long, doc_blob binary, weight_blob binary,"
    " block_max binary, block_last_doc binary, block_first_doc binary,"
    " block_offset binary"
)


def _pack_partition_fn(docs_acc, docs_per_shard: int):
    """Build the mapInArrow function: Arrow batches of (shard_id, term_id,
    doc_id, weight), sorted by (shard_id, term_id, doc_id) within the
    partition → packed run rows, one :func:`packing.pack_runs` call per
    batch. Only the batch's last run can continue into the next batch, so
    it is the one carried; a run spanning many batches is kept as a list of
    pieces and joined once, when it completes. ``docs_acc`` (a
    LongAccumulator) receives the partition's distinct-doc count per shard
    (a bitmap over the shard's doc-id range) — the build metric rides the
    write job instead of a second scan of the raw postings."""
    import pyarrow as pa

    names = [f.split()[0] for f in PACKED_SCHEMA.split(",")]

    def emit(sids, tids, docs, ws, starts):
        cols = packing.pack_runs(docs, ws, starts)
        return pa.RecordBatch.from_arrays(
            [pa.array(sids, pa.int64()), pa.array(tids, pa.int64()),
             pa.array(cols["n"], pa.int64())]
            + [cols[c] for c in names[3:]], names=names)

    def gen(batches):
        carry_key = None   # (shard_id, term_id) of the unfinished run
        carry_docs, carry_ws = [], []
        # distinct docs of the current shard: rows arrive sorted by shard,
        # so a new shard id means the previous shard is complete. ``div``
        # truncates toward zero, so doc - shard * docs_per_shard lies in
        # (-docs_per_shard, docs_per_shard).
        cur_sid, seen = None, None

        def count_docs(sids, docs):
            nonlocal cur_sid, seen
            cuts = np.flatnonzero(sids[1:] != sids[:-1]) + 1
            for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, sids.size]):
                sid = int(sids[lo])
                if sid != cur_sid:
                    if seen is not None:
                        docs_acc.add(int(seen.sum()))
                    cur_sid = sid
                    seen = np.zeros(2 * docs_per_shard, dtype=bool)
                seen[docs[lo:hi] - (sid - 1) * docs_per_shard] = True

        for rb in batches:
            if rb.num_rows == 0:
                continue
            sids = rb.column("shard_id").to_numpy()
            tids = rb.column("term_id").to_numpy()
            docs = rb.column("doc_id").to_numpy()
            ws = rb.column("weight").to_numpy()
            count_docs(sids, docs)
            starts = np.r_[0, np.flatnonzero(
                (sids[1:] != sids[:-1]) | (tids[1:] != tids[:-1])) + 1]
            cut = int(starts[-1])  # the last run may continue next batch
            done = starts[:-1]
            keys_s, keys_t = sids[done], tids[done]
            if carry_key is not None:
                if carry_key == (sids[0], tids[0]):
                    if cut == 0:  # the whole batch continues the carry
                        carry_docs.append(docs)
                        carry_ws.append(ws)
                        continue
                    # the batch's first run completes the carried one
                    done, keys_s, keys_t = done[1:], keys_s[1:], keys_t[1:]
                lead = sum(d.size for d in carry_docs)
                done = np.r_[0, done + lead]
                keys_s = np.r_[carry_key[0], keys_s]
                keys_t = np.r_[carry_key[1], keys_t]
            if done.size:
                yield emit(keys_s, keys_t,
                           np.concatenate(carry_docs + [docs[:cut]]),
                           np.concatenate(carry_ws + [ws[:cut]]), done)
            carry_key = (sids[cut], tids[cut])
            carry_docs, carry_ws = [docs[cut:]], [ws[cut:]]
        if carry_key is not None:
            yield emit([carry_key[0]], [carry_key[1]],
                       np.concatenate(carry_docs), np.concatenate(carry_ws),
                       np.zeros(1, dtype=np.int64))
        if seen is not None:
            docs_acc.add(int(seen.sum()))

    return gen


def _with_shard(weighted: DataFrame, docs_per_shard: int) -> DataFrame:
    return weighted.withColumn(
        "shard_id", F.expr(f"doc_id div {int(docs_per_shard)}"))


def _pack_write(base: DataFrame, docs_per_shard: int, write) -> tuple:
    """The one pack plan every packed writer runs: ``base`` (doc_id,
    term_id, weight, shard_id) → every shard packed whole by one task
    (repartition by shard, sort by (shard, term, doc), batch-pack) →
    ``write(packed)``, which returns ``(dir_written, handle)``. Metrics come
    from the PACKED output (column-pruned: term_id + n only), not a second
    shuffle of the raw postings; docs ride the write job via the
    accumulator (shards are doc-disjoint, so per-shard counts sum exactly).
    Returns (metrics, handle)."""
    spark = base.sparkSession
    docs_acc = spark.sparkContext.accumulator(0)
    packed = (
        base.repartition("shard_id")
        .sortWithinPartitions("shard_id", "term_id", "doc_id")
        .mapInArrow(_pack_partition_fn(docs_acc, docs_per_shard),
                    schema=PACKED_SCHEMA)
    )
    written, handle = write(packed)
    agg = (
        spark.read.schema(PACKED_SCHEMA).parquet(written)
        .select("term_id", "n")
        .agg(F.countDistinct("term_id").alias("terms"),
             F.sum("n").alias("postings"))
        .collect()[0]
    )
    return {"docs": docs_acc.value, "terms": int(agg["terms"]),
            "postings": int(agg["postings"] or 0)}, handle


def _parquet_writer(path: str):
    def write(packed: DataFrame) -> tuple:
        packed.write.mode("overwrite").partitionBy("shard_id").parquet(path)
        return path, None

    return write


def _staged_writer(table):
    """Iceberg-semantics write: stage the files (committed by the caller
    together with the group's metrics)."""
    def write(packed: DataFrame) -> tuple:
        write_uuid, staging, files = table.stage_write(packed)
        return staging, (write_uuid, files)

    return write


def _nonempty_groups(base: DataFrame, num_groups: int) -> set[int]:
    """Shard groups that hold any postings — one aggregate, so empty
    groups (every corpus with fewer shards than groups has some) launch no
    pack job at all."""
    rows = (base.select(F.pmod(F.col("shard_id"), F.lit(num_groups))
                        .alias("g")).distinct().collect())
    return {int(r["g"]) for r in rows}


_EMPTY_GROUP_METRICS = {"docs": 0, "terms": 0, "postings": 0}


def write_packed_shards(weighted: DataFrame, out_dir: str,
                        docs_per_shard: int = 32768,
                        num_groups: int = 8,
                        resume: bool = True) -> dict:
    """weighted (doc_id, term_id, weight) → packed shard tables under
    ``out_dir`` with a per-group checkpoint manifest.

    Shards are built in ``num_groups`` commit units (group = shard_id %
    num_groups). One aggregate up front finds the groups that hold
    postings; each of those is one pack plan: filter → repartition by shard
    → sort within partitions by (term, doc) → batch-pack (mapInArrow) →
    write parquet partitioned by shard_id. An empty group launches no Spark
    job: it is recorded as committed with zero docs/terms/postings and has
    no data directory. A killed build resumes by skipping committed groups
    recorded in ``manifest.json`` (lineage + metrics).

    docs_per_shard default mirrors the reference shardsize 32768
    (docsim.py:305).
    """
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    manifest_path = os.path.join(out_dir, "manifest.json")
    manifest = {"params": {"docs_per_shard": docs_per_shard,
                           "num_groups": num_groups},
                "groups": {}}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest["params"]["docs_per_shard"] != docs_per_shard:
            raise ValueError("resume with different docs_per_shard")

    base = _with_shard(weighted, docs_per_shard)
    data_dir = os.path.join(out_dir, "data")
    todo = [g for g in range(num_groups)
            if not manifest["groups"].get(str(g), {}).get("committed")]
    nonempty = _nonempty_groups(base, num_groups) if todo else set()
    for g in todo:
        t0 = time.perf_counter()
        # exactly-once resume: each group owns its subdirectory; an
        # uncommitted (crashed mid-write) group is wiped before rewriting,
        # so re-running after any failure never duplicates rows.
        group_dir = os.path.join(data_dir, f"group={g}")
        if os.path.exists(group_dir):
            shutil.rmtree(group_dir)
        if g in nonempty:
            part = base.filter(
                F.pmod(F.col("shard_id"), F.lit(num_groups)) == g)
            metrics, _ = _pack_write(part, docs_per_shard,
                                     _parquet_writer(group_dir))
        else:
            metrics = _EMPTY_GROUP_METRICS
        manifest["groups"][str(g)] = {
            "committed": True, **metrics,
            "wall_sec": round(time.perf_counter() - t0, 2),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(manifest_path, "w") as f:
            json.dump(manifest, f, indent=1)
    return manifest


def read_packed_shards(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))


def packed_max_shard(out_dir: str) -> int:
    """Max shard id from the hive directory names (ALL group dirs,
    committed or not) — a dirname scan, no data read."""
    import glob

    ids = [int(os.path.basename(p).split("=", 1)[1])
           for p in glob.glob(os.path.join(out_dir, "data", "group=*",
                                           "shard_id=*"))]
    return max(ids) if ids else -1


def packed_committed_max_shard(out_dir: str) -> int:
    """Max shard id counting ONLY manifest-committed groups — the right
    boundary source for append pre-checks, since an orphan dir from a
    crashed append would otherwise inflate the boundary and make the
    documented retry-the-same-batch path impossible."""
    import glob

    with open(os.path.join(out_dir, "manifest.json")) as f:
        manifest = json.load(f)
    ids = [
        int(os.path.basename(p).split("=", 1)[1])
        for k, v in manifest["groups"].items() if v.get("committed")
        for p in glob.glob(os.path.join(out_dir, "data", f"group={k}",
                                        "shard_id=*"))
    ]
    return max(ids) if ids else -1


def append_packed_shards(weighted_new: DataFrame, out_dir: str,
                         min_doc_id: int | None = None) -> dict:
    """``Similarity.add_documents`` for the PLAIN manifest store: pack the
    new documents into fresh shards and commit them as one extra group
    (integer group id past the build's, so partition-type inference stays
    uniform; the WAND/serving readers just see more (shard, term) runs —
    shards are doc-disjoint, so per-shard top-k merging is unchanged).

    Same invariant as :func:`append_packed_shards_iceberg` (the
    reference's new-docs-enter-the-tail-shard rule, docsim.py:367-416):
    new doc_ids must start at the NEXT SHARD BOUNDARY —
    ``(max_shard + 1) · docs_per_shard`` — not merely above the index
    max. This is the reader's contract, not pedantry: the WAND shard
    kernel holds exactly one packed run per (shard, term)
    (wand.py::_shard_topk_factory), so a second run for a tail shard
    would silently shadow the first. Exactly-once: a crashed append
    leaves an uncommitted group dir; the next append wipes every
    data/group=* dir not committed in the manifest BEFORE computing the
    boundary, so retrying the same batch succeeds (manifest commit is
    last). ``min_doc_id``: pass the batch's precomputed min to skip the
    extra pass over the weighted lineage."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    dps = int(manifest["params"]["docs_per_shard"])
    num_groups = int(manifest["params"]["num_groups"])
    # an interrupted BUILD records nothing for its unfinished groups (the
    # committed flag is only ever written True), so completeness = every
    # build group key present-and-committed
    missing = [g for g in range(num_groups)
               if not manifest["groups"].get(str(g), {}).get("committed")]
    if missing:
        raise ValueError(
            f"append needs a fully committed store — build groups "
            f"{missing} are uncommitted; finish the interrupted build "
            "first (resume=True)")
    # wipe orphan group dirs (a crashed append's partial write — with the
    # build proven complete above, any dir outside the manifest is one);
    # until this runs, readers would see the orphan's rows
    import glob as _glob
    import shutil as _shutil

    committed_keys = {k for k, v in manifest["groups"].items()
                      if v.get("committed")}
    for p in _glob.glob(os.path.join(out_dir, "data", "group=*")):
        if os.path.basename(p).split("=", 1)[1] not in committed_keys:
            _shutil.rmtree(p)
    max_shard = packed_committed_max_shard(out_dir)
    boundary = (max_shard + 1) * dps
    mn = (min_doc_id if min_doc_id is not None else
          weighted_new.agg(F.min("doc_id").alias("mn")).collect()[0]["mn"])
    if mn is None:
        return manifest
    if int(mn) < boundary:
        raise ValueError(
            f"append_packed_shards needs doc_ids >= {boundary} (next "
            f"shard boundary; max committed shard {max_shard}; the WAND "
            f"reader holds one run per (shard, term), so new docs cannot "
            f"extend a committed tail shard); got {mn}.")
    g = max(int(k) for k in manifest["groups"]) + 1 \
        if manifest["groups"] else 0
    group_dir = os.path.join(out_dir, "data", f"group={g}")
    if os.path.exists(group_dir):
        _shutil.rmtree(group_dir)
    t0 = time.perf_counter()
    metrics, _ = _pack_write(_with_shard(weighted_new, dps), dps,
                             _parquet_writer(group_dir))
    manifest["groups"][str(g)] = {
        "committed": True, "append": True, **metrics,
        "wall_sec": round(time.perf_counter() - t0, 2),
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


# --- term-bucketed plain postings (relational path) --------------------------

def _bucket_salt(weighted: DataFrame, n_buckets: int,
                 salt_threshold: int, dfs: DataFrame | None,
                 salts: int) -> DataFrame:
    """Shared write prep for the term-bucketed store: bucket = term_id %
    n_buckets, plus head-term salting (terms with df ≥ salt_threshold split
    on doc_id % salts so no write partition is df-sized)."""
    df = weighted.withColumn(
        "bucket", F.pmod(F.col("term_id"), F.lit(n_buckets))
    )
    if dfs is not None:
        heads = dfs.filter(F.col("df") >= salt_threshold).select("term_id")
        df = df.join(F.broadcast(heads.withColumn("_head", F.lit(1))),
                     "term_id", "left")
        salt = F.when(F.col("_head").isNotNull(),
                      F.pmod(F.col("doc_id"), F.lit(salts))).otherwise(F.lit(0))
        df = df.withColumn("salt", salt).drop("_head")
    else:
        df = df.withColumn("salt", F.lit(0))
    return df


def write_postings_bucketed(weighted: DataFrame, out_dir: str,
                            n_buckets: int = 64,
                            salt_threshold: int = 1_000_000,
                            dfs: DataFrame | None = None,
                            salts: int = 16) -> None:
    """Plain postings partitioned by ``bucket = term_id % n_buckets`` with
    explicit head-term salting: terms with df ≥ salt_threshold additionally
    split on ``salt = doc_id % salts`` so no single write partition (and no
    single parquet file) is df-sized. Query-side pruning: a term's postings
    live only in its bucket directory (+ min/max term_id row-group stats).
    """
    (
        _bucket_salt(weighted, n_buckets, salt_threshold, dfs, salts)
        .repartition("bucket", "salt")
        .sortWithinPartitions("term_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


def max_doc_id_bucketed(out_dir: str) -> int | None:
    """Footer-stats max(doc_id) over a bucketed store — parquet row-group
    statistics only, no Spark job and no data pages read. None for an
    empty store. (The append boundary guard at 10^9-doc scale must not
    scan a postings column to learn one scalar.)"""
    import pyarrow.dataset as pads

    ds = pads.dataset(out_dir, format="parquet", partitioning="hive")
    mx = None
    for frag in ds.get_fragments():
        frag.ensure_complete_metadata()
        for rg in frag.row_groups:
            st = (rg.statistics or {}).get("doc_id")
            if st is None or st.get("max") is None:
                # stats missing (foreign writer): fall back to one
                # column scan of this fragment
                t = frag.to_table(columns=["doc_id"])
                import pyarrow.compute as pc

                v = pc.max(t.column("doc_id")).as_py()
            else:
                v = st["max"]
            if v is not None and (mx is None or v > mx):
                mx = v
    return mx


def append_postings_bucketed(new_rows: DataFrame, out_dir: str,
                             n_buckets: int = 64,
                             salt_threshold: int = 1_000_000,
                             dfs: DataFrame | None = None,
                             salts: int = 16) -> None:
    """``add_documents`` for the term-bucketed plain store (positional or
    weighted): append the new documents' rows into the SAME
    bucket-partition layout instead of rebuilding. Readers are unchanged —
    bucket pruning and term_id pushdown see the appended files exactly
    like the originals (each bucket directory simply gains files), and the
    served reader derives its key-packing bound from the data at query
    time, so longer appended docs are safe.

    Boundary guard (the reference's new-docs-enter-the-tail invariant,
    docsim.py:367-416, same contract as
    :func:`append_packed_shards_iceberg`): new doc_ids must lie strictly
    above the store's current max doc_id, else old and new rows for one
    doc could both exist. The check reads parquet footer statistics only
    (:func:`max_doc_id_bucketed`) — no data scan. ``n_buckets`` must match
    the build (bucket dirs are the layout)."""
    mn = new_rows.agg(F.min("doc_id").alias("mn")).collect()[0]["mn"]
    if mn is None:
        return
    mx = max_doc_id_bucketed(out_dir)
    if mx is not None and int(mn) <= int(mx):
        raise ValueError(
            f"append_postings_bucketed needs doc_ids > {mx} (store max); "
            f"got {mn}. Interleaved ids need the streaming incremental "
            "store + compact().")
    (
        _bucket_salt(new_rows, n_buckets, salt_threshold, dfs, salts)
        .repartition("bucket", "salt")
        .sortWithinPartitions("term_id", "doc_id")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(out_dir)
    )


def read_postings_bucketed(spark: SparkSession, out_dir: str,
                           term_ids: list[int] | None = None,
                           n_buckets: int = 64) -> DataFrame:
    """Scan pruned to the query terms' buckets + term_id pushdown."""
    df = spark.read.parquet(out_dir)
    if term_ids:
        buckets = sorted({t % n_buckets for t in term_ids})
        df = df.filter(F.col("bucket").isin(buckets)).filter(
            F.col("term_id").isin([int(t) for t in term_ids])
        )
    return df


# --- Iceberg-backed store (north rule: "Iceberg-backed shard tables") --------

def write_packed_shards_iceberg(weighted: DataFrame, table_loc: str,
                                docs_per_shard: int = 32768,
                                num_groups: int = 8,
                                resume: bool = True) -> "IceTable":
    """Packed shard store as an Iceberg-semantics table: each shard group is
    one snapshot append whose summary carries the lineage + build metrics
    that manifest.json carried before. Resume reads committed groups from
    the snapshot log; a crash mid-write leaves only unreferenced staged
    files (no wipe-before-rewrite needed — commits are atomic)."""
    from gensim_spark.index.icetable import IceTable, PartitionField

    try:
        table = IceTable.load(table_loc)
        props = table.meta["properties"]
        if int(props["docs_per_shard"]) != docs_per_shard:
            raise ValueError("resume with different docs_per_shard")
        if not resume:
            raise FileExistsError(f"table exists at {table_loc} (resume off)")
    except FileNotFoundError:
        table = IceTable.create(
            table_loc, PACKED_SCHEMA,
            partition_spec=[PartitionField("shard_id", "shard_id",
                                           "identity")],
            properties={"docs_per_shard": str(docs_per_shard),
                        "num_groups": str(num_groups),
                        "write.format": "packed-postings-v1"},
        )
    committed = {
        int(s.summary["group"]) for s in table.snapshots
        if s.operation == "append" and "group" in s.summary
    }
    base = _with_shard(weighted, docs_per_shard)
    todo = [g for g in range(num_groups) if g not in committed]
    nonempty = _nonempty_groups(base, num_groups) if todo else set()
    for g in todo:
        t0 = time.perf_counter()
        if g in nonempty:
            part = base.filter(
                F.pmod(F.col("shard_id"), F.lit(num_groups)) == g)
            metrics, (write_uuid, files) = _pack_write(
                part, docs_per_shard, _staged_writer(table))
        else:
            # an empty group commits a snapshot with no files, so resume
            # and appenders see every group of the build as committed
            metrics, write_uuid, files = (_EMPTY_GROUP_METRICS,
                                          f"empty-{g}", [])
        # the snapshot publishes data + lineage metrics atomically together
        table.commit_staged(files, write_uuid, summary={
            "group": g, **metrics,
            "wall_sec": round(time.perf_counter() - t0, 2),
        })
    return table


def append_packed_shards_iceberg(weighted_new: DataFrame,
                                 table_loc: str) -> "IceTable":
    """``Similarity.add_documents`` for the snapshot store
    (docsim.py:367-416 buffer-until-shardsize → close a NEW shard): pack
    the new documents into fresh shards and commit ONE append snapshot.

    The WAND reader holds one packed run per (shard, term), so appended
    documents must land in shards no existing snapshot wrote — i.e. their
    doc_ids must start at the next shard boundary (the reference has the
    same invariant: new docs always enter the fresh tail shard). Violations
    raise; for arbitrary interleaved ids use the streaming store +
    ``streaming.incremental.compact`` (the reopen_shard path)."""
    from gensim_spark.index.icetable import IceTable

    spark = weighted_new.sparkSession
    table = IceTable.load(table_loc)
    docs_per_shard = int(table.meta["properties"]["docs_per_shard"])
    existing = read_packed_shards_iceberg(spark, table_loc)
    row = existing.agg(F.max("shard_id").alias("mx")).collect()[0]
    max_shard = -1 if row["mx"] is None else int(row["mx"])
    min_id = weighted_new.agg(F.min("doc_id").alias("mn")).collect()[0]["mn"]
    boundary = (max_shard + 1) * docs_per_shard
    if min_id is None:
        return table
    if min_id < boundary:
        raise ValueError(
            f"add_documents needs doc_ids >= {boundary} (next shard "
            f"boundary; max committed shard {max_shard}); got {min_id}. "
            "Use the streaming incremental store + compact() for "
            "interleaved ids.")
    t0 = time.perf_counter()
    metrics, (write_uuid, files) = _pack_write(
        _with_shard(weighted_new, docs_per_shard), docs_per_shard,
        _staged_writer(table))
    table.commit_staged(files, write_uuid, summary={
        "append_batch": len(table.snapshots), **metrics,
        "wall_sec": round(time.perf_counter() - t0, 2),
    })
    return table


def read_packed_shards_iceberg(spark: SparkSession, table_loc: str,
                               snapshot_id: int | None = None,
                               shard_ids: list[int] | None = None) -> DataFrame:
    """Scan the packed store at the current (or a time-traveled) snapshot,
    with manifest-level shard pruning."""
    from gensim_spark.index.icetable import IceTable

    table = IceTable.load(table_loc)
    pred = None
    if shard_ids is not None:
        wanted = set(shard_ids)
        pred = lambda p: p.get("shard_id") in wanted  # noqa: E731
    return table.scan(spark, snapshot_id=snapshot_id, partition_pred=pred)


def write_postings_bucketed_iceberg(weighted: DataFrame, table_loc: str,
                                    n_buckets: int = 64,
                                    salt_threshold: int = 1_000_000,
                                    dfs: DataFrame | None = None,
                                    salts: int = 16) -> "IceTable":
    """Term-bucketed plain postings as an Iceberg-semantics table:
    ``bucket = term_id mod n_buckets`` is the partition transform, salting
    is the same head-term guard as the parquet path. One overwrite
    snapshot; incremental loads can append further snapshots."""
    from gensim_spark.index.icetable import IceTable, PartitionField

    df = weighted
    if dfs is not None:
        heads = dfs.filter(F.col("df") >= salt_threshold).select("term_id")
        df = df.join(F.broadcast(heads.withColumn("_head", F.lit(1))),
                     "term_id", "left")
        salt = F.when(F.col("_head").isNotNull(),
                      F.pmod(F.col("doc_id"), F.lit(salts))).otherwise(F.lit(0))
        df = df.withColumn("salt", salt).drop("_head")
    else:
        df = df.withColumn("salt", F.lit(0))
    try:
        table = IceTable.load(table_loc)
        stored = int(table.meta["properties"]["n_buckets"])
        if stored != n_buckets:
            # the reader prunes partitions with the STORED n_buckets; files
            # written under a different modulus would silently miss rows
            raise ValueError(
                f"table at {table_loc} was created with n_buckets={stored}; "
                f"writer passed n_buckets={n_buckets}")
    except FileNotFoundError:
        table = IceTable.create(
            table_loc,
            "doc_id bigint, term_id bigint, weight double, salt int",
            partition_spec=[PartitionField("term_id", "bucket",
                                           f"mod[{n_buckets}]")],
            properties={"n_buckets": str(n_buckets)},
        )
    df = df.withColumn("bucket", F.pmod(F.col("term_id"), F.lit(n_buckets)))
    df = df.repartition("bucket", "salt").sortWithinPartitions(
        "term_id", "doc_id"
    )
    table.append(df, operation="overwrite",
                 summary={"n_buckets": n_buckets, "salts": salts})
    return table


def read_postings_bucketed_iceberg(spark: SparkSession, table_loc: str,
                                   term_ids: list[int] | None = None,
                                   snapshot_id: int | None = None) -> DataFrame:
    """Query-side scan planning on the Iceberg metadata: partition pruning
    to the query terms' buckets PLUS min/max term_id file skipping from the
    manifest column bounds — files are excluded before Spark opens any of
    them. Residual term_id filter is pushed into the parquet scan."""
    from gensim_spark.index.icetable import IceTable

    table = IceTable.load(table_loc)
    if not term_ids:
        return table.scan(spark, snapshot_id=snapshot_id)
    n_buckets = int(table.meta["properties"]["n_buckets"])
    tids = sorted({int(t) for t in term_ids})
    buckets = {t % n_buckets for t in tids}

    def part_pred(p: dict) -> bool:
        return p.get("bucket") in buckets

    def stats_pred(fentry: dict) -> bool:
        lo = fentry.get("lower-bounds", {}).get("term_id")
        hi = fentry.get("upper-bounds", {}).get("term_id")
        if lo is None or hi is None:
            return True  # no stats → cannot skip
        return any(lo <= t <= hi for t in tids)

    out = table.scan(spark, snapshot_id=snapshot_id,
                     partition_pred=part_pred, stats_pred=stats_pred)
    return out.filter(F.col("term_id").isin(tids))


def delete_docs_iceberg(spark: SparkSession, table_loc: str,
                        doc_ids, compact: bool = False) -> "IceTable":
    """Remove documents from a live bucketed postings store WITHOUT a
    rebuild: one Iceberg-v2 equality-delete commit on ``doc_id``
    (merge-on-read — a web-corpus takedown/refresh path; the reference's
    in-memory ``Similarity`` index can only rebuild shards). Every
    subsequent ``read_postings_bucketed_iceberg`` scan drops the docs'
    postings via the store's broadcast anti-join; pre-delete snapshots
    still see them (time travel), and a re-append of the same doc_id after
    the delete is visible, per the spec's sequence-ordering rule.

    At 10^12-doc scale the delete frame is takedown-sized (thousands of
    ids, not corpus-sized) — the anti-join stays a broadcast and the
    commit writes one tiny delete file, never touching the posting data.
    ``compact=True`` folds the deletes into fresh data files right away
    (copy-on-write ``rewrite_data_files``) — the amortization knob: cheap
    deletes accumulate merge-on-read cost per query; periodic compaction
    resets it to zero."""
    from gensim_spark.index.icetable import IceTable

    table = IceTable.load(table_loc)
    if isinstance(doc_ids, DataFrame):
        if "doc_id" not in doc_ids.columns:
            # an equality delete on the wrong column would silently drop
            # the wrong documents from a live index — require the name
            raise ValueError(
                f"delete frame must carry a 'doc_id' column; got "
                f"{doc_ids.columns}")
        dels = doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
        n = None
    else:
        ids = sorted({int(d) for d in doc_ids})
        dels = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
        n = len(ids)
    table.delete_rows(dels, ["doc_id"],
                      summary={"deleted-doc-ids": n if n is not None
                               else "dataframe"})
    if compact:
        table.rewrite_data_files(spark, summary={"after": "delete_docs"})
    return table
