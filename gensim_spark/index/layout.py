"""Sharded index layout + checkpointed build.

Physical design (SURVEY.md §2.5/§7.1 M4; reference analogue:
``gensim.similarities.Similarity`` doc-range shards, docsim.py:260-758):

- **Doc-range shards**: ``shard_id = doc_id // docs_per_shard`` — every shard
  holds complete documents (all their terms), so top-k is computable per
  shard and merged (two-stage top-k), exactly gensim's shard query fan-out
  (docsim.py:480-503) as a Spark scan.
- **Packed runs** (format v2, ``packing.py``): within a shard, one row per
  term: sorted doc_ids delta+varint packed, the weights as a per-run
  dictionary of distinct float32 values (``weight_dict``) plus one 1- or
  2-byte code per posting (``weight_code``; 4 B only past 65,536 distinct
  weights, which a run of a default 32,768-doc shard cannot reach), and
  block-max skip metadata. The table property ``write.format`` is
  ``packed-postings-v2``; readers and writers refuse any other value with
  :class:`PackedFormatError` (a v1 store, with float32 ``weight_blob``, is
  rebuilt, never decoded). One pack task per shard sorts its postings by
  (term, doc) and packs them an Arrow batch at a time
  (``packing.pack_runs``, one set of numpy calls per batch, not one Python
  call per run). Build and append run that one plan (``_pack_write``). The
  packed store is an ``icetable`` snapshot table rooted at the index
  directory (``metadata/`` + ``data/``), identity-partitioned on shard_id:
  one file per shard, min/max stats on ``term_id`` for run-level pruning
  inside it, zstd pages (``icetable`` writes every table that way).
- **Term-bucketed postings** (``write_postings_bucketed``): the relational
  scoring path and the positional store — an ``icetable`` snapshot table
  partitioned by ``bucket = term_id mod n_buckets`` (the modulus is the
  table property ``n_buckets``, so readers and appenders take it from the
  table). A query plans only its terms' bucket files, pruned again by the
  manifests' term_id bounds. **Head-term salting** splits any term with df
  above a threshold across ``salt`` sub-partitions to bound the largest
  shuffle/file partition (explicit skew handling; the salt column is part
  of the layout, queries just aggregate across salts). One writer, one
  appender and one reader; the ``*_iceberg`` names are the same functions.
- **Snapshot log**: the build commits shard-groups one at a time, each as
  one append snapshot whose summary records the group's lineage + metrics;
  a re-run skips committed groups (resume-from-checkpoint). The snapshot
  log is the only commit record: every reader (Spark scan, WAND, the
  pyarrow serving node) plans its files from a snapshot, so the staged
  files of a crashed write are never read. One aggregate up front finds
  the groups that hold postings; an empty group commits a snapshot with
  zero metrics, no files and no Spark job.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gensim_spark.index import packing

PACKED_SCHEMA = "shard_id long, term_id long, n long, " + ", ".join(
    f"{c} binary" for c in packing.RUN_COLUMNS)
PACKED_FORMAT = "packed-postings-v2"


class PackedFormatError(ValueError):
    """The store at a packed-store path was written in another packed
    format (or is not a packed store)."""


def _load_store(out_dir: str):
    """The packed table at ``out_dir``, refused unless its ``write.format``
    is :data:`PACKED_FORMAT` — the one format check every packed reader
    and writer goes through."""
    from gensim_spark.index.icetable import IceTable

    table = IceTable.load(out_dir)
    fmt = table.meta["properties"].get("write.format")
    if fmt != PACKED_FORMAT:
        raise PackedFormatError(
            f"packed store at {out_dir} has write.format {fmt!r}; this "
            f"version reads and appends only {PACKED_FORMAT!r}. Rebuild the "
            "store with resume=False (build_index --no-resume).")
    return table


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


def _pack_write(base: DataFrame, docs_per_shard: int, table) -> tuple:
    """The one pack plan every packed writer runs: ``base`` (doc_id,
    term_id, weight, shard_id) → every shard packed whole by one task
    (repartition by shard, sort by (shard, term, doc), batch-pack) → files
    staged in ``table`` (uncommitted: the caller commits them together with
    the metrics). Metrics come from the PACKED output (column-pruned:
    term_id + n only), not a second shuffle of the raw postings; docs ride
    the write job via the accumulator (shards are doc-disjoint, so
    per-shard counts sum exactly). Returns (metrics, write_uuid, files)."""
    spark = base.sparkSession
    docs_acc = spark.sparkContext.accumulator(0)
    packed = (
        base.repartition("shard_id")
        .sortWithinPartitions("shard_id", "term_id", "doc_id")
        .mapInArrow(_pack_partition_fn(docs_acc, docs_per_shard),
                    schema=PACKED_SCHEMA)
    )
    write_uuid, staging, files = table.stage_write(packed)
    agg = (
        spark.read.schema(PACKED_SCHEMA).parquet(staging)
        .select("term_id", "n")
        .agg(F.countDistinct("term_id").alias("terms"),
             F.sum("n").alias("postings"))
        .collect()[0]
    )
    return ({"docs": docs_acc.value, "terms": int(agg["terms"]),
             "postings": int(agg["postings"] or 0)}, write_uuid, files)


def _nonempty_groups(base: DataFrame, num_groups: int) -> set[int]:
    """Shard groups that hold any postings — one aggregate, so empty
    groups (every corpus with fewer shards than groups has some) launch no
    pack job at all."""
    rows = (base.select(F.pmod(F.col("shard_id"), F.lit(num_groups))
                        .alias("g")).distinct().collect())
    return {int(r["g"]) for r in rows}


_EMPTY_GROUP_METRICS = {"docs": 0, "terms": 0, "postings": 0}


def open_packed_store(out_dir: str, docs_per_shard: int, num_groups: int,
                resume: bool):
    """The packed table at ``out_dir``: the existing one when resuming
    (refused with :class:`PackedFormatError` if it is not format v2), else
    a fresh one. Replacing removes only the table's own ``metadata``
    and ``data`` directories — ``vocab/``, ``positional/`` and ``doclen/``
    beside them stay."""
    import shutil

    from gensim_spark.index.icetable import IceTable, PartitionField

    if resume:
        try:
            table = _load_store(out_dir)
        except FileNotFoundError:
            pass
        else:
            props = table.meta["properties"]
            if (int(props["docs_per_shard"]), int(props["num_groups"])) \
                    != (docs_per_shard, num_groups):
                raise ValueError(
                    "resume with different docs_per_shard or num_groups")
            return table
    for sub in ("metadata", "data"):
        shutil.rmtree(os.path.join(out_dir, sub), ignore_errors=True)
    return IceTable.create(
        out_dir, PACKED_SCHEMA,
        partition_spec=[PartitionField("shard_id", "shard_id", "identity")],
        properties={"docs_per_shard": str(docs_per_shard),
                    "num_groups": str(num_groups),
                    "write.format": PACKED_FORMAT})


def _committed_groups(table) -> set[int]:
    return {int(s.summary["group"]) for s in table.snapshots
            if "group" in s.summary}


def write_packed_shards(weighted: DataFrame, out_dir: str,
                        docs_per_shard: int = 32768,
                        num_groups: int = 8,
                        resume: bool = True) -> "IceTable":
    """weighted (doc_id, term_id, weight) → the packed shard table rooted
    at ``out_dir``.

    Shards are built in ``num_groups`` commit units (group = shard_id %
    num_groups). One aggregate up front finds the groups that hold
    postings; each of those is one pack plan (filter → repartition by shard
    → sort within partitions by (term, doc) → batch-pack) staged as parquet
    files and committed as one append snapshot whose summary carries the
    group id and its docs/terms/postings metrics. An empty group launches
    no Spark job: it commits a snapshot with no files and zero metrics.

    ``resume=True`` skips the groups the snapshot log records as committed;
    a build killed mid-group left only unreferenced staged files, which no
    reader plans. ``resume=False`` replaces an existing table.

    docs_per_shard default mirrors the reference shardsize 32768
    (docsim.py:305).
    """
    table = open_packed_store(out_dir, docs_per_shard, num_groups, resume)
    base = _with_shard(weighted, docs_per_shard)
    todo = [g for g in range(num_groups)
            if g not in _committed_groups(table)]
    nonempty = _nonempty_groups(base, num_groups) if todo else set()
    for g in todo:
        t0 = time.perf_counter()
        if g in nonempty:
            part = base.filter(
                F.pmod(F.col("shard_id"), F.lit(num_groups)) == g)
            metrics, write_uuid, files = _pack_write(part, docs_per_shard,
                                                     table)
        else:
            metrics, write_uuid, files = (_EMPTY_GROUP_METRICS,
                                          f"empty-{g}", [])
        # the snapshot publishes data + lineage metrics atomically together
        table.commit_staged(files, write_uuid, summary={
            "group": g, **metrics,
            "wall_sec": round(time.perf_counter() - t0, 2),
        })
    return table


def next_shard_boundary(out_dir: str) -> int:
    """First doc id an append may use: ``(max committed shard + 1) ·
    docs_per_shard``, from the current snapshot's ``shard_id`` partition
    values (metadata only — no Spark job, no data file opened). Raises if
    a build group is uncommitted: an interrupted build must finish
    (``resume=True``) before anything is appended past it."""
    table = _load_store(out_dir)
    props = table.meta["properties"]
    missing = sorted(set(range(int(props["num_groups"])))
                     - _committed_groups(table))
    if missing:
        raise ValueError(
            f"append needs a fully committed store — build groups "
            f"{missing} are uncommitted; finish the interrupted build "
            "first (resume=True)")
    shards = [f["partition"]["shard_id"] for f in table.plan_files()]
    return (max(shards, default=-1) + 1) * int(props["docs_per_shard"])


def append_packed_shards(weighted_new: DataFrame, out_dir: str,
                         min_doc_id: int | None = None) -> "IceTable":
    """``Similarity.add_documents`` for the packed store (docsim.py:367-416
    buffer-until-shardsize → close a NEW shard): pack the new documents
    into fresh shards and commit them as ONE append snapshot.

    The WAND reader holds one packed run per (shard, term)
    (wand.py::_shard_topk_factory), so appended documents must land in
    shards no committed snapshot wrote: their doc_ids must start at
    :func:`next_shard_boundary` (the reference has the same invariant: new
    docs always enter the fresh tail shard). Violations raise; for
    arbitrary interleaved ids use the streaming store +
    ``streaming.incremental.compact`` (the reopen_shard path). A crashed
    append leaves only unreferenced staged files, so retrying the same
    batch succeeds. ``min_doc_id``: pass the batch's precomputed min to
    skip the extra pass over the weighted lineage."""
    boundary = next_shard_boundary(out_dir)
    table = _load_store(out_dir)
    dps = int(table.meta["properties"]["docs_per_shard"])
    mn = (min_doc_id if min_doc_id is not None else
          weighted_new.agg(F.min("doc_id").alias("mn")).collect()[0]["mn"])
    if mn is None:
        return table
    if int(mn) < boundary:
        raise ValueError(
            f"append_packed_shards needs doc_ids >= {boundary} (next "
            f"shard boundary; the WAND reader holds one run per (shard, "
            f"term), so new docs cannot extend a committed tail shard); "
            f"got {mn}. Use the streaming incremental store + compact() "
            "for interleaved ids.")
    t0 = time.perf_counter()
    metrics, write_uuid, files = _pack_write(
        _with_shard(weighted_new, dps), dps, table)
    table.commit_staged(files, write_uuid, summary={
        "append_batch": len(table.snapshots), **metrics,
        "wall_sec": round(time.perf_counter() - t0, 2),
    })
    return table


def packed_files(out_dir: str, snapshot_id: int | None = None,
                 shard_ids=None) -> list[dict]:
    """Data-file entries (``path``, ``partition`` = {"shard_id": …}, row
    count and column bounds) of the packed store at the current (or a
    time-travelled) snapshot, pruned to ``shard_ids`` — planned from the
    snapshot's manifests alone, no file opened. Every packed reader, Spark
    or pyarrow, reads exactly these files; a store in another packed format
    raises :class:`PackedFormatError` here, before any file is read."""
    pred = None
    if shard_ids is not None:
        wanted = {int(s) for s in shard_ids}
        pred = lambda p: p.get("shard_id") in wanted  # noqa: E731
    return _load_store(out_dir).plan_files(snapshot_id=snapshot_id,
                                           partition_pred=pred)


def read_packed_shards(spark: SparkSession, out_dir: str,
                       snapshot_id: int | None = None,
                       shard_ids: list[int] | None = None) -> DataFrame:
    """Scan the packed store at the current (or a time-travelled) snapshot,
    with manifest-level shard pruning."""
    files = packed_files(out_dir, snapshot_id, shard_ids)
    if not files:
        return spark.createDataFrame([], PACKED_SCHEMA)
    return spark.read.parquet(*[f["path"] for f in files])


# --- term-bucketed postings (relational path) -------------------------------

class BucketedFormatError(ValueError):
    """The path at a bucketed-store location holds no snapshot table — e.g.
    a plain hive-partitioned parquet store written by an earlier version."""


def load_bucketed(out_dir: str, n_buckets: int | None = None) -> "IceTable":
    """The bucketed table at ``out_dir`` — the one load every bucketed
    reader, writer and appender goes through. A directory without a table
    raises :class:`BucketedFormatError`; an explicit ``n_buckets`` that
    differs from the stored one raises ``ValueError`` (pruning by the wrong
    modulus would silently miss rows)."""
    from gensim_spark.index.icetable import IceTable

    try:
        table = IceTable.load(out_dir)
    except FileNotFoundError:
        if not os.path.isdir(out_dir):
            raise
        raise BucketedFormatError(
            f"{out_dir} is not a bucketed snapshot table (no metadata/); a "
            "plain-parquet store from an earlier version is not read. "
            "Rebuild the index with build_index --positional.") from None
    stored = int(table.meta["properties"]["n_buckets"])
    if n_buckets is not None and n_buckets != stored:
        raise ValueError(f"table at {out_dir} was created with "
                         f"n_buckets={stored}; caller passed "
                         f"n_buckets={n_buckets}")
    return table


def _bucket_salt(weighted: DataFrame, n_buckets: int,
                 salt_threshold: int, dfs: DataFrame | None,
                 salts: int) -> DataFrame:
    """Write prep for the term-bucketed store: bucket = term_id %
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


def _stage_bucketed(table, df: DataFrame) -> tuple[str, list[dict]]:
    """Stage ``df`` (repartitioned on (bucket, salt), term- then
    doc-sorted within each file): a writer killed before the commit leaves
    only staged files, which no reader plans."""
    write_uuid, _staging, files = table.stage_write(
        df.repartition("bucket", "salt").sortWithinPartitions("term_id",
                                                              "doc_id"))
    return write_uuid, files


def write_postings_bucketed(weighted: DataFrame, out_dir: str,
                            n_buckets: int = 64,
                            salt_threshold: int = 1_000_000,
                            dfs: DataFrame | None = None,
                            salts: int = 16) -> "IceTable":
    """Postings (weighted or positional rows, any columns beside
    ``doc_id``/``term_id``) → the term-bucketed snapshot table at
    ``out_dir``, as one ``overwrite`` snapshot. ``bucket = term_id mod
    n_buckets`` is the partition transform and is stored as the table
    property ``n_buckets``; head-term salting additionally splits terms
    with df ≥ salt_threshold on ``salt = doc_id % salts``, so no write
    partition (and no file) is df-sized. The schema is the frame's. An
    existing table keeps its modulus: another ``n_buckets`` raises."""
    from gensim_spark.index.icetable import IceTable, PartitionField

    df = _bucket_salt(weighted, n_buckets, salt_threshold, dfs, salts)
    try:
        table = load_bucketed(out_dir, n_buckets)
    except (FileNotFoundError, BucketedFormatError):
        table = IceTable.create(
            out_dir, ", ".join(f"{f.name} {f.dataType.simpleString()}"
                               for f in df.schema),
            partition_spec=[PartitionField("term_id", "bucket",
                                           f"mod[{n_buckets}]")],
            properties={"n_buckets": str(n_buckets)})
    write_uuid, files = _stage_bucketed(table, df)
    table.commit_staged(files, write_uuid, operation="overwrite",
                        summary={"n_buckets": n_buckets, "salts": salts})
    return table


def max_doc_id_bucketed(out_dir: str) -> int | None:
    """max(doc_id) over the committed files of the bucketed store, from
    the doc_id upper bounds in its manifests — no Spark job and no data
    file opened, and staged files of a crashed write never count. None for
    an empty store."""
    return max((f["upper-bounds"]["doc_id"]
                for f in load_bucketed(out_dir).plan_files()
                if f["record-count"]), default=None)


def append_postings_bucketed(new_rows: DataFrame, out_dir: str,
                             n_buckets: int | None = None,
                             salt_threshold: int = 1_000_000,
                             dfs: DataFrame | None = None,
                             salts: int = 16) -> "IceTable":
    """``add_documents`` for the term-bucketed store: commit the new
    documents' rows as one ``append`` snapshot, bucketed by the table's
    stored ``n_buckets`` (an explicit, different ``n_buckets`` raises)
    and cast to the table's column types. Readers plan the new files like
    the originals; a crashed append is never read.

    Boundary guard (the reference's new-docs-enter-the-tail invariant,
    docsim.py:367-416, same contract as :func:`append_packed_shards`): new
    doc_ids must lie strictly above the store's current max doc_id
    (:func:`max_doc_id_bucketed`, manifest bounds only), else old and new
    rows for one doc could both exist. The batch's min doc_id is read from
    the staged files' footer bounds, so the guard costs no Spark job; a
    refused batch leaves only staged files, which no reader plans."""
    table = load_bucketed(out_dir, n_buckets)
    df = _bucket_salt(new_rows, int(table.meta["properties"]["n_buckets"]),
                      salt_threshold, dfs, salts)
    # the table's column types, so the new files read with the old ones
    df = df.select(*[F.col(f["name"]).cast(f["type"])
                     for f in table.meta["schema"]["fields"]])
    write_uuid, files = _stage_bucketed(table, df)
    mn = min((f["lower-bounds"]["doc_id"] for f in files
              if "doc_id" in f["lower-bounds"]), default=None)
    if mn is None:
        return table
    mx = max_doc_id_bucketed(out_dir)
    if mx is not None and int(mn) <= int(mx):
        raise ValueError(
            f"append_postings_bucketed needs doc_ids > {mx} (store max); "
            f"got {mn}. Interleaved ids need the streaming incremental "
            "store + compact().")
    table.commit_staged(files, write_uuid, operation="append",
                        summary={"append_batch": len(table.snapshots)})
    return table


def term_file_pred(n_buckets: int, term_ids):
    """Manifest-entry predicate for a term query: the file's bucket
    partition holds one of ``term_ids`` and its term_id bounds can contain
    one — files are excluded before anything opens them."""
    tids = sorted({int(t) for t in term_ids})
    buckets = {t % n_buckets for t in tids}

    def keep(fentry: dict) -> bool:
        if fentry["partition"].get("bucket") not in buckets:
            return False
        lo = fentry.get("lower-bounds", {}).get("term_id")
        hi = fentry.get("upper-bounds", {}).get("term_id")
        return lo is None or hi is None or any(lo <= t <= hi for t in tids)

    return keep


def read_postings_bucketed(spark: SparkSession, out_dir: str,
                           term_ids: list[int] | None = None,
                           n_buckets: int | None = None,
                           snapshot_id: int | None = None) -> DataFrame:
    """Scan of the bucketed store at the current (or a time-travelled)
    snapshot, planned from the manifests: pruned to the query terms'
    buckets (the stored ``n_buckets``) and term_id bounds before Spark
    opens a file, with the term_id filter pushed into the parquet scan.
    Equality deletes (:func:`delete_docs_iceberg`) apply."""
    table = load_bucketed(out_dir, n_buckets)
    if not term_ids:
        return table.scan(spark, snapshot_id=snapshot_id)
    tids = sorted({int(t) for t in term_ids})
    pred = term_file_pred(int(table.meta["properties"]["n_buckets"]), tids)
    return (table.scan(spark, snapshot_id=snapshot_id, stats_pred=pred)
            .filter(F.col("term_id").isin(tids)))


# both spellings stay bound: bench.py and __spark_entry__.py call each by name
write_postings_bucketed_iceberg = write_postings_bucketed
read_postings_bucketed_iceberg = read_postings_bucketed


def delete_docs_iceberg(spark: SparkSession, table_loc: str,
                        doc_ids, compact: bool = False) -> "IceTable":
    """Remove documents from a live bucketed postings store WITHOUT a
    rebuild: one Iceberg-v2 equality-delete commit on ``doc_id``
    (merge-on-read — a web-corpus takedown/refresh path; the reference's
    in-memory ``Similarity`` index can only rebuild shards). Every
    subsequent ``read_postings_bucketed`` scan drops the docs'
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
    table = load_bucketed(table_loc)
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
