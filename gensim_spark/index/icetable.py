"""Iceberg-semantics table layer for the index store.

The north rule stores shards in *Iceberg tables*. This sandbox has no
Iceberg Spark runtime jar, no pyiceberg, and no network, so this module
implements the Apache Iceberg **table format semantics** (spec v2,
HadoopCatalog flavor) in pure Python over parquet data files:

- ``metadata/v<N>.metadata.json`` + ``metadata/version-hint.text`` with the
  HadoopTableOperations commit protocol: metadata files are immutable,
  claimed via atomic ``os.link`` (fails if the version exists → optimistic
  retry), then the hint advances via atomic ``os.replace``.
- snapshots: every commit (``append`` / ``overwrite`` / ``replace`` /
  rollback) creates a snapshot with parent-snapshot-id, sequence-number,
  timestamp, operation, and a summary carrying standard metrics
  (added-data-files, added-records, total-records) plus caller lineage.
- manifests: one per commit, listing data files with partition tuple,
  record count, file size, and per-column lower/upper bounds harvested from
  the real parquet footers — used for partition pruning AND min/max file
  skipping at scan planning time, exactly like Iceberg's scan planning.
- time travel: ``scan(snapshot_id=...)`` / ``scan(as_of_ms=...)``;
  ``rollback(snapshot_id)``; ``expire_snapshots(keep_last=...)`` deletes
  unreferenced manifests + data files.
- partition transforms: ``identity``, ``bucket[N]`` (hash-based, pmod of the
  cross-engine hash60 — semantics-equivalent to Iceberg's murmur3 bucket,
  not byte-compatible), ``truncate[W]`` and ``mod[N]``.

Deviation from the spec (documented, forced by the environment): manifest
files and manifest lists are JSON, not Avro — fastavro/avro are not
installed here and the container is offline. Field layout mirrors the Avro
schemas, so swapping the serializer restores on-disk spec compliance.

Reference analogue: gensim's ``Similarity`` shard persistence + pickled
index metadata (gensim/similarities/docsim.py:260-478 save/close_shard/
reopen_shard); snapshots replace its mutable in-place shard list with an
append-only, time-travelable log.
"""

from __future__ import annotations

import json
import os
import time
import uuid as _uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gensim_spark.functions.hashing import hash60

FORMAT_VERSION = 2
_MAX_COMMIT_RETRIES = 20


class CommitConflict(Exception):
    """Another writer claimed the metadata version we targeted."""


def spec_compat_map() -> dict[str, str]:
    """Map each JSON artifact this layer writes to its Apache Iceberg spec
    counterpart — the contract that keeps the "swap the serializer and the
    layout is spec-compliant" claim honest. Keys are our on-disk artifacts,
    values the spec's (format-version 2):

    - ``metadata/v<N>.metadata.json`` → TableMetadata JSON (spec: identical
      format; ours adds a human-oriented ``schema.ddl`` convenience field).
    - ``metadata/version-hint.text`` → HadoopCatalog version-hint.text
      (byte-identical semantics).
    - ``snap-<id>-<uuid>.manifest-list.json`` ``entries[]`` → the
      ``manifest_file`` Avro records of a manifest list (same field names:
      manifest_path, manifest_length, partition_spec_id, content,
      sequence_number, min_sequence_number, added_snapshot_id,
      added_data_files_count, existing_data_files_count,
      deleted_data_files_count, added_rows_count).
    - ``manifest-<id>-<uuid>.json`` ``added-files[]`` → ``manifest_entry``
      Avro records with status=ADDED; each entry carries the ``data_file``
      struct fields (path≙file_path, partition, record-count≙record_count,
      file-size-in-bytes≙file_size_in_bytes, bounds≙lower_bounds/
      upper_bounds decoded to native values instead of binary).
    - ``bucket[N]`` partition transform → spec bucket transform with
      hash60-pmod in place of murmur3 (semantics-equal, not byte-equal).
    """
    return {
        "metadata/v<N>.metadata.json": "TableMetadata JSON",
        "metadata/version-hint.text": "HadoopCatalog version hint",
        "snap-*.manifest-list.json": "manifest list (Avro manifest_file records)",
        "manifest-*.json": "manifest (Avro manifest_entry + data_file records)",
        "bucket[N] transform": "bucket transform (hash60 pmod vs murmur3)",
    }


# --- partition transforms ----------------------------------------------------

@dataclass(frozen=True)
class PartitionField:
    source: str        # source column name
    name: str          # partition column name (e.g. "bucket")
    transform: str     # identity | bucket[N] | truncate[W] | mod[N]

    def spark_expr(self):
        t = self.transform
        col = F.col(self.source)
        if t == "identity":
            return col
        if t.startswith("bucket["):
            n = int(t[len("bucket["):-1])
            return F.pmod(hash60(col.cast("string")), F.lit(n))
        if t.startswith("mod["):
            n = int(t[len("mod["):-1])
            return F.pmod(col, F.lit(n))
        if t.startswith("truncate["):
            w = int(t[len("truncate["):-1])
            return (F.floor(col / F.lit(w)) * F.lit(w)).cast("long")
        raise ValueError(f"unknown transform {t!r}")


# --- metadata model ----------------------------------------------------------

@dataclass
class Snapshot:
    snapshot_id: int
    parent_snapshot_id: int | None
    sequence_number: int
    timestamp_ms: int
    operation: str                      # append | overwrite | replace
    manifest: str                       # delta manifest filename (metadata/-rel)
    summary: dict[str, Any] = field(default_factory=dict)
    manifest_list: str | None = None    # snap-<id>.manifest-list.json (spec:
    #   one manifest-list per snapshot holding its FULL state; older tables
    #   written before round 3 lack it and fall back to the parent walk)
    schema_id: int = 0


class IceTable:
    """A single Iceberg-semantics table rooted at ``location``."""

    def __init__(self, location: str, meta: dict, version: int):
        self.location = location
        self.meta = meta
        self.version = version

    # --- paths ---------------------------------------------------------------

    @property
    def _meta_dir(self) -> str:
        return os.path.join(self.location, "metadata")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.location, "data")

    def _metadata_path(self, version: int) -> str:
        return os.path.join(self._meta_dir, f"v{version}.metadata.json")

    # --- create / load -------------------------------------------------------

    @classmethod
    def create(cls, location: str, schema_ddl: str,
               partition_spec: list[PartitionField] | None = None,
               properties: dict[str, str] | None = None) -> "IceTable":
        meta_dir = os.path.join(location, "metadata")
        os.makedirs(meta_dir, exist_ok=True)
        if os.path.exists(os.path.join(meta_dir, "version-hint.text")):
            raise FileExistsError(f"table already exists at {location}")
        os.makedirs(os.path.join(location, "data"), exist_ok=True)
        spec = [pf.__dict__ for pf in (partition_spec or [])]
        meta = {
            "format-version": FORMAT_VERSION,
            "table-uuid": str(_uuid.uuid4()),
            "location": location,
            "last-sequence-number": 0,
            "last-updated-ms": _now_ms(),
            "schema": {"type": "struct", "schema-id": 0, "ddl": schema_ddl,
                       "fields": _ddl_fields(schema_ddl)},
            "current-schema-id": 0,
            "last-column-id": len(_ddl_fields(schema_ddl)),
            "partition-spec": spec,
            "default-spec-id": 0,
            "properties": properties or {},
            "current-snapshot-id": None,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        table = cls(location, meta, version=0)
        table._write_version(1, meta)
        return table

    @classmethod
    def load(cls, location: str) -> "IceTable":
        meta_dir = os.path.join(location, "metadata")
        with open(os.path.join(meta_dir, "version-hint.text")) as f:
            version = int(f.read().strip())
        # HadoopTableOperations refresh: the hint is a hint — probe forward
        # for committed versions a crashed writer linked but never hinted.
        while os.path.exists(os.path.join(meta_dir,
                                          f"v{version + 1}.metadata.json")):
            version += 1
        with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as f:
            meta = json.load(f)
        return cls(location, meta, version)

    def refresh(self) -> "IceTable":
        fresh = IceTable.load(self.location)
        self.meta, self.version = fresh.meta, fresh.version
        return self

    # --- snapshots -----------------------------------------------------------

    @property
    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**{k.replace("-", "_"): v for k, v in s.items()})
                for s in self.meta["snapshots"]]

    @property
    def current_snapshot(self) -> Snapshot | None:
        cur = self.meta["current-snapshot-id"]
        if cur is None:
            return None
        return next(s for s in self.snapshots if s.snapshot_id == cur)

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot | None:
        """Latest ancestor of the current branch committed ≤ timestamp_ms
        (snapshot-log based, like Iceberg's as-of-timestamp)."""
        best = None
        for entry in self.meta["snapshot-log"]:
            if entry["timestamp-ms"] <= timestamp_ms:
                best = entry["snapshot-id"]
        if best is None:
            return None
        return next(s for s in self.snapshots if s.snapshot_id == best)

    # --- write path ----------------------------------------------------------

    def append(self, df: DataFrame, summary: dict[str, Any] | None = None,
               operation: str = "append") -> Snapshot:
        """Commit ``df`` as a new snapshot (fast-append: one new manifest,
        prior manifests untouched). ``operation='overwrite'``/'replace'
        makes the new snapshot's manifest the ONLY live one."""
        write_uuid, _staging, files = self.stage_write(df)
        return self._commit_files(files, operation,
                                  dict(summary or {}), write_uuid)

    def stage_write(self, df: DataFrame) -> tuple[str, str, list[dict]]:
        """Phase 1 of a two-phase commit: run the Spark write into a unique
        uncommitted directory under data/ and harvest manifest entries from
        the parquet footers. Nothing references the files until
        :meth:`commit_staged`; a crash here leaves only orphans (cleaned by
        ``remove_orphans``), never partial table state. Pages are zstd, for
        every table (Iceberg's default Parquet codec since 1.4)."""
        spec = [PartitionField(**pf) for pf in self.meta["partition-spec"]]
        write_uuid = str(_uuid.uuid4())[:13]
        staging = os.path.join(self._data_dir, write_uuid)
        out = df
        part_names = [pf.name for pf in spec]
        for pf in spec:
            if pf.name not in out.columns:
                out = out.withColumn(pf.name, pf.spark_expr())
        # Iceberg keeps partition values IN the data files; Spark's
        # partitionBy strips its columns from the files, so the directory
        # layout uses a p_-prefixed copy and the real column stays data.
        # (No leading "_" or ".": pyarrow's dataset discovery skips such
        # directories by default.)
        for name in part_names:
            out = out.withColumn(f"p_{name}", F.col(name))
        writer = out.write.mode("overwrite").option("compression", "zstd")
        if part_names:
            writer = writer.partitionBy(*[f"p_{n}" for n in part_names])
        writer.parquet(staging)
        return write_uuid, staging, _collect_file_stats(staging, part_names)

    def commit_staged(self, files: list[dict], write_uuid: str,
                      summary: dict[str, Any] | None = None,
                      operation: str = "append") -> Snapshot:
        """Phase 2: publish staged files as a snapshot."""
        return self._commit_files(files, operation, dict(summary or {}),
                                  write_uuid)

    def delete_rows(self, df: DataFrame, equality_cols: list[str],
                    summary: dict[str, Any] | None = None) -> Snapshot:
        """Commit an Iceberg-v2 **equality delete**: rows of ``df``'s
        ``equality_cols`` values become a delete file; at read time a data
        row is dropped when its values equality-match ANY delete row AND its
        data file's sequence number is strictly below the delete's (spec
        rule: an equality delete applies only to data written BEFORE it, so
        a later re-append of the same key is visible). Null values match
        null, per the spec's equality semantics.

        Merge-on-read: nothing is rewritten here — ``scan()`` applies the
        deletes as a broadcast anti-join; ``rewrite_data_files()`` is the
        copy-on-write compaction that folds them into fresh data files.
        Global-scope unpartitioned delete files (spec-permitted); the
        equality columns are recorded by NAME rather than field id (this
        layer's schema has no field ids — documented deviation, same class
        as JSON manifests)."""
        missing = [c for c in equality_cols if c not in df.columns]
        if missing:
            raise ValueError(f"equality columns not in delete frame: {missing}")
        write_uuid = str(_uuid.uuid4())[:13]
        staging = os.path.join(self._data_dir, f"delete-{write_uuid}")
        df.select(*equality_cols).distinct().write.mode("overwrite") \
            .parquet(staging)
        files = _collect_file_stats(staging, [])
        for fentry in files:
            fentry["content"] = 2  # iceberg: 2 = equality deletes
            fentry["equality-cols"] = list(equality_cols)
        return self._commit_files(files, "delete", dict(summary or {}),
                                  write_uuid, content=1)

    def rewrite_data_files(self, spark: SparkSession,
                           summary: dict[str, Any] | None = None) -> Snapshot:
        """Copy-on-write compaction: materialize the current merge-on-read
        state into fresh data files and commit them as a ``replace``
        snapshot, whose manifest list starts fresh — all delete manifests
        (and the anti-joins they cost every scan) drop out of the live
        state. Old files stay on disk for time travel until
        ``expire_snapshots``."""
        live = self.scan(spark)
        return self.append(live, operation="replace",
                           summary={"compaction": "rewrite_data_files",
                                    **(summary or {})})

    def remove_orphans(self, older_than_s: float = 3 * 3600.0) -> int:
        """Delete data files not referenced by ANY snapshot (crashed staged
        writes). Returns the number removed.

        ``older_than_s`` is the retention interval: files modified within it
        are kept even when unreferenced, because a concurrent writer may be
        between ``stage_write`` and ``commit_staged`` — exactly why real
        Iceberg's ``remove_orphan_files`` defaults to a 3-day threshold.
        """
        # a stale handle would treat files committed by another writer
        # since load() as orphans — liveness must come from the CURRENT
        # table version
        self.refresh()
        live = set()
        for s in self.meta["snapshots"]:
            for name in self._state_manifest_names(s):
                for fentry in self._read_manifest(name):
                    live.add(os.path.realpath(fentry["path"]))
        removed = 0
        cutoff = time.time() - older_than_s
        for root, _dirs, names in os.walk(self._data_dir):
            for name in names:
                p = os.path.join(root, name)
                if (name.endswith(".parquet")
                        and os.path.realpath(p) not in live
                        and os.path.getmtime(p) <= cutoff):
                    os.unlink(p)
                    removed += 1
        return removed

    def _commit_files(self, files: list[dict], operation: str,
                      summary: dict[str, Any], write_uuid: str,
                      content: int = 0) -> Snapshot:
        added_records = sum(f["record-count"] for f in files)
        added_bytes = sum(f["file-size-in-bytes"] for f in files)
        for attempt in range(_MAX_COMMIT_RETRIES):
            self.refresh()
            parent = self.meta["current-snapshot-id"]
            seq = self.meta["last-sequence-number"] + 1
            snap_id = _new_snapshot_id()
            manifest_name = f"manifest-{snap_id}-{write_uuid}.json"
            manifest = {
                "manifest-format": "json (avro in the iceberg spec; no avro "
                                   "writer available in this environment)",
                "snapshot-id": snap_id,
                "sequence-number": seq,
                "added-files": files,
            }
            with open(os.path.join(self._meta_dir, manifest_name), "w") as f:
                json.dump(manifest, f, indent=1)
            prev_total = 0
            cur = self.current_snapshot
            if cur is not None and operation in ("append", "delete"):
                prev_total = int(cur.summary.get("total-records", 0))
            if operation == "delete":
                # merge-on-read: data-file totals are untouched; the exact
                # surviving count is unknowable without a scan (spec keeps
                # total-records as the DATA row count here too)
                total = prev_total
            elif operation == "append":
                total = prev_total + added_records
            else:
                total = added_records
            full_summary = {
                "operation": operation,
                ("added-delete-files" if content == 1
                 else "added-data-files"): str(len(files)),
                ("added-equality-deletes" if content == 1
                 else "added-records"): str(added_records),
                "added-files-size": str(added_bytes),
                "total-records": str(total),
                **{str(k): str(v) for k, v in summary.items()},
            }
            # Manifest list (spec: each snapshot points at ONE manifest list
            # holding its FULL state). Append inherits the parent's entries;
            # overwrite/replace starts fresh. This is what makes
            # expire_snapshots safe: a retained snapshot's state never
            # depends on expired ancestors' snapshot entries.
            new_entry = {
                "manifest_path": manifest_name,
                "manifest_length": os.path.getsize(
                    os.path.join(self._meta_dir, manifest_name)),
                "partition_spec_id": self.meta.get("default-spec-id", 0),
                "content": content,  # 0=data manifest, 1=deletes manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_data_files_count": len(files),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": added_records,
            }
            if operation in ("append", "delete") and cur is not None:
                entries = self._manifest_list_entries(cur) + [new_entry]
            else:
                entries = [new_entry]
            mlist_name = f"snap-{snap_id}-{write_uuid}.manifest-list.json"
            with open(os.path.join(self._meta_dir, mlist_name), "w") as f:
                json.dump({"manifest-list-format":
                           "json (avro in the iceberg spec; no avro writer "
                           "available in this environment)",
                           "entries": entries}, f, indent=1)
            snap = {
                "snapshot-id": snap_id,
                "parent-snapshot-id": parent,
                "sequence-number": seq,
                "timestamp-ms": _now_ms(),
                "operation": operation,
                "manifest": manifest_name,
                "manifest-list": mlist_name,
                "schema-id": self.meta.get("current-schema-id", 0),
                "summary": full_summary,
            }
            new_meta = json.loads(json.dumps(self.meta))
            new_meta["snapshots"].append(snap)
            new_meta["current-snapshot-id"] = snap_id
            new_meta["last-sequence-number"] = seq
            new_meta["last-updated-ms"] = snap["timestamp-ms"]
            new_meta["snapshot-log"].append(
                {"timestamp-ms": snap["timestamp-ms"], "snapshot-id": snap_id}
            )
            new_meta["metadata-log"].append(
                {"timestamp-ms": snap["timestamp-ms"],
                 "metadata-file": f"v{self.version}.metadata.json"}
            )
            try:
                self._write_version(self.version + 1, new_meta)
            except CommitConflict:
                os.unlink(os.path.join(self._meta_dir, manifest_name))
                os.unlink(os.path.join(self._meta_dir, mlist_name))
                continue
            self.meta, self.version = new_meta, self.version + 1
            return Snapshot(**{k.replace("-", "_"): v for k, v in snap.items()})
        raise CommitConflict(
            f"gave up after {_MAX_COMMIT_RETRIES} optimistic retries")

    def _write_version(self, new_version: int, meta: dict) -> None:
        """HadoopTableOperations commit: write temp metadata, atomically
        claim v<N> via os.link (EEXIST → conflict), advance the hint."""
        tmp = os.path.join(self._meta_dir, f".tmp-{_uuid.uuid4()}.json")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        target = self._metadata_path(new_version)
        try:
            os.link(tmp, target)
        except FileExistsError as e:
            raise CommitConflict(f"v{new_version} already committed") from e
        finally:
            os.unlink(tmp)
        hint_tmp = os.path.join(self._meta_dir, f".hint-{_uuid.uuid4()}")
        with open(hint_tmp, "w") as f:
            f.write(str(new_version))
        os.replace(hint_tmp, os.path.join(self._meta_dir,
                                          "version-hint.text"))

    # --- maintenance ---------------------------------------------------------

    def rollback(self, snapshot_id: int) -> None:
        """Move the current pointer back to an existing snapshot (a new
        metadata version; history is preserved, like Iceberg rollback)."""
        if all(s.snapshot_id != snapshot_id for s in self.snapshots):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        new_meta = json.loads(json.dumps(self.meta))
        new_meta["current-snapshot-id"] = snapshot_id
        new_meta["last-updated-ms"] = _now_ms()
        new_meta["snapshot-log"].append(
            {"timestamp-ms": new_meta["last-updated-ms"],
             "snapshot-id": snapshot_id}
        )
        self._write_version(self.version + 1, new_meta)
        self.meta, self.version = new_meta, self.version + 1

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop all but the last ``keep_last`` snapshots of the current
        history; delete manifests and data files no longer referenced by any
        surviving snapshot. Returns {snapshots, manifests, data_files}
        removal counts.

        Commit-then-clean, like real Iceberg: the trimmed metadata commits
        FIRST (refresh + optimistic retry on conflict, same protocol as
        ``_commit_files``), and files are unlinked only after the commit
        succeeded — a lost race or a crash can strand unreferenced files
        for ``remove_orphans``, never metadata that points at deleted
        files. Kept snapshots that predate manifest-lists get one
        synthesized and persisted before their ancestors leave the
        snapshot list (their state would otherwise silently truncate to
        the snapshots still listed)."""
        for _attempt in range(_MAX_COMMIT_RETRIES):
            self.refresh()
            snaps = self.meta["snapshots"]
            if len(snaps) <= keep_last:
                return {"snapshots": 0, "manifests": 0, "data_files": 0}
            keep = snaps[-keep_last:]
            if self.meta["current-snapshot-id"] not in {
                s["snapshot-id"] for s in keep
            }:
                raise ValueError("cannot expire the current snapshot")
            drop = snaps[:-keep_last]
            # Liveness over the FULL state of every kept snapshot (its
            # manifest list = the ancestor closure of its appends), not
            # just its own delta manifest — an append snapshot's state
            # includes files added by expired ancestors, which must
            # survive. Computed (with the drop snapshots' state) BEFORE
            # the commit, while the parent-walk fallback still sees the
            # full snapshot list.
            live_manifests: set[str] = set()
            for s in keep:
                live_manifests.update(self._state_manifest_names(s))
            live_files = set()
            for name in live_manifests:
                for fentry in self._read_manifest(name):
                    live_files.add(fentry["path"])
            drop_state = [(s, self._state_manifest_names(s)) for s in drop]

            new_meta = json.loads(json.dumps(self.meta))
            kept_meta = new_meta["snapshots"][-keep_last:]
            synthesized: list[str] = []
            for s_meta in kept_meta:
                if s_meta.get("manifest-list") is None:
                    entries = self._manifest_list_entries(s_meta)
                    mlist_name = (f"snap-{s_meta['snapshot-id']}-"
                                  f"{_uuid.uuid4().hex}.manifest-list.json")
                    with open(os.path.join(self._meta_dir, mlist_name),
                              "w") as f:
                        json.dump({"manifest-list-format":
                                   "json (avro in the iceberg spec; no "
                                   "avro writer in this environment)",
                                   "entries": entries}, f, indent=1)
                    s_meta["manifest-list"] = mlist_name
                    synthesized.append(mlist_name)
            new_meta["snapshots"] = kept_meta
            dropped_ids = {s["snapshot-id"] for s in drop}
            new_meta["snapshot-log"] = [
                e for e in new_meta["snapshot-log"]
                if e["snapshot-id"] not in dropped_ids
            ]
            new_meta["last-updated-ms"] = _now_ms()
            try:
                self._write_version(self.version + 1, new_meta)
            except CommitConflict:
                for name in synthesized:
                    os.unlink(os.path.join(self._meta_dir, name))
                continue
            self.meta, self.version = new_meta, self.version + 1
            break
        else:
            raise CommitConflict(
                f"gave up after {_MAX_COMMIT_RETRIES} optimistic retries")

        # clean-up phase: only after the trimmed metadata is durable
        removed_data = 0
        removed_manifests = 0
        for _s, state_names in drop_state:
            for name in state_names:
                if name in live_manifests:
                    continue
                for fentry in self._read_manifest(name):
                    if (fentry["path"] not in live_files
                            and os.path.exists(fentry["path"])):
                        os.unlink(fentry["path"])
                        removed_data += 1
                mpath = os.path.join(self._meta_dir, name)
                if os.path.exists(mpath):
                    os.unlink(mpath)
                    removed_manifests += 1
                live_manifests.add(name)  # shared-by-dropped: delete once
        for s, _names in drop_state:
            mlist = s.get("manifest-list")
            if mlist is not None:
                mlpath = os.path.join(self._meta_dir, mlist)
                if os.path.exists(mlpath):
                    os.unlink(mlpath)
        return {"snapshots": len(drop_state),
                "manifests": removed_manifests,
                "data_files": removed_data}

    # --- read path -----------------------------------------------------------

    def _manifest_files(self, snap: dict | Snapshot) -> list[dict]:
        name = snap["manifest"] if isinstance(snap, dict) else snap.manifest
        return self._read_manifest(name)

    def _read_manifest(self, name: str) -> list[dict]:
        with open(os.path.join(self._meta_dir, name)) as f:
            return json.load(f)["added-files"]

    def _manifest_list_entries(self, snap: dict | Snapshot) -> list[dict]:
        """The snapshot's manifest-list entries = its FULL state (spec
        layout). Tables written before the manifest-list existed fall back
        to the parent walk and synthesize equivalent entries."""
        if isinstance(snap, Snapshot):
            mlist = snap.manifest_list
        else:
            mlist = snap.get("manifest-list")
        if mlist is not None:
            with open(os.path.join(self._meta_dir, mlist)) as f:
                return json.load(f)["entries"]
        return [{"manifest_path": s.manifest,
                 "added_snapshot_id": s.snapshot_id,
                 "sequence_number": s.sequence_number}
                for s in reversed(self._live_manifests(_as_snapshot(snap)))]

    def _state_manifest_names(self, snap: dict | Snapshot) -> list[str]:
        return [e["manifest_path"] for e in self._manifest_list_entries(snap)]

    def _live_manifests(self, snapshot: Snapshot) -> list[Snapshot]:
        """Manifest-holding ancestors of ``snapshot``: walk parents back to
        the most recent overwrite/replace (which truncates history).
        Pre-manifest-list fallback only — requires every ancestor to still
        be present in the snapshot list."""
        by_id = {s.snapshot_id: s for s in self.snapshots}
        chain = []
        cur: Snapshot | None = snapshot
        while cur is not None:
            chain.append(cur)
            if cur.operation in ("overwrite", "replace"):
                break
            cur = by_id.get(cur.parent_snapshot_id)
        return chain

    def plan_files(self, snapshot_id: int | None = None,
                   as_of_ms: int | None = None,
                   partition_pred: Callable[[dict], bool] | None = None,
                   stats_pred: Callable[[dict], bool] | None = None,
                   ) -> list[dict]:
        """Scan planning: data-file entries of the chosen snapshot, filtered
        by partition values and column bounds BEFORE any file is opened."""
        if snapshot_id is not None and as_of_ms is not None:
            raise ValueError("choose snapshot_id or as_of_ms, not both")
        snap: Snapshot | None
        if snapshot_id is not None:
            snap = next((s for s in self.snapshots
                         if s.snapshot_id == snapshot_id), None)
            if snap is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
        elif as_of_ms is not None:
            snap = self.snapshot_as_of(as_of_ms)
        else:
            snap = self.current_snapshot
        if snap is None:
            return []
        out = []
        for entry in self._manifest_list_entries(snap):
            if entry.get("content", 0) == 1:
                continue  # deletes manifest — see plan_delete_files
            seq = entry.get("sequence_number", 0)
            for fentry in self._read_manifest(entry["manifest_path"]):
                if partition_pred and not partition_pred(fentry["partition"]):
                    continue
                if stats_pred and not stats_pred(fentry):
                    continue
                fentry = dict(fentry)
                # data sequence number (inherited from the manifest entry,
                # like the spec's inheritance rule) — what equality-delete
                # application orders on
                fentry["_seq"] = seq
                out.append(fentry)
        return out

    def plan_delete_files(self, snapshot_id: int | None = None,
                          as_of_ms: int | None = None) -> list[dict]:
        """Equality-delete file entries of the chosen snapshot, each with
        ``_seq`` (the delete's sequence number) and ``equality-cols``."""
        if snapshot_id is not None and as_of_ms is not None:
            raise ValueError("choose snapshot_id or as_of_ms, not both")
        if snapshot_id is not None:
            snap = next((s for s in self.snapshots
                         if s.snapshot_id == snapshot_id), None)
            if snap is None:
                raise ValueError(f"unknown snapshot {snapshot_id}")
        elif as_of_ms is not None:
            snap = self.snapshot_as_of(as_of_ms)
        else:
            snap = self.current_snapshot
        if snap is None:
            return []
        out = []
        for entry in self._manifest_list_entries(snap):
            if entry.get("content", 0) != 1:
                continue
            seq = entry.get("sequence_number", 0)
            for fentry in self._read_manifest(entry["manifest_path"]):
                fentry = dict(fentry)
                fentry["_seq"] = seq
                out.append(fentry)
        return out

    def scan(self, spark: SparkSession, snapshot_id: int | None = None,
             as_of_ms: int | None = None,
             partition_pred: Callable[[dict], bool] | None = None,
             stats_pred: Callable[[dict], bool] | None = None,
             apply_deletes: bool = True) -> DataFrame:
        """DataFrame over the planned files (time travel + pruning). Empty
        plan → empty DataFrame with the table schema.

        Merge-on-read: live equality deletes are applied as broadcast
        anti-joins, honoring the spec's ordering rule — a delete at sequence
        s removes only rows from data files with sequence < s, so keys
        re-appended after the delete survive. When the snapshot has no
        delete files (the common case, and every post-compaction state) the
        plan is the plain multi-file parquet scan, unchanged."""
        files = self.plan_files(snapshot_id, as_of_ms, partition_pred,
                                stats_pred)
        part_names = [pf["name"] for pf in self.meta["partition-spec"]]
        if not files:
            ddl = self.meta["schema"]["ddl"]
            if part_names:
                # parse the column NAMES — a substring test would miss a
                # partition column whose name suffixes another column
                # ("id" vs "doc_id"), diverging from the non-empty scan
                cols = {c.strip().split()[0]
                        for c in ddl.split(",") if c.strip()}
                extra = [f"{p} bigint" for p in part_names if p not in cols]
                if extra:
                    ddl = ddl + ", " + ", ".join(extra)
            return spark.createDataFrame([], ddl)
        deletes = (self.plan_delete_files(snapshot_id, as_of_ms)
                   if apply_deletes else [])
        if not deletes:
            # partition values live in the data files (see stage_write), so
            # the planned file list reads directly — no directory inference.
            return spark.read.parquet(*[f["path"] for f in files])
        # group data files by sequence number so each scan leg carries its
        # seq as a literal (one leg per commit generation, not per file)
        by_seq: dict[int, list[str]] = {}
        for fentry in files:
            by_seq.setdefault(fentry["_seq"], []).append(fentry["path"])
        legs = [
            spark.read.parquet(*paths).withColumn("__seq", F.lit(seq))
            for seq, paths in sorted(by_seq.items())
        ]
        df = legs[0]
        for leg in legs[1:]:
            df = df.unionByName(leg)
        # one anti-join per distinct equality-column set (in practice one);
        # delete rows of a set union together carrying their own seq
        by_cols: dict[tuple, list[dict]] = {}
        for dentry in deletes:
            by_cols.setdefault(tuple(dentry["equality-cols"]), []) \
                .append(dentry)
        for eq_cols, dentries in by_cols.items():
            dlegs = [
                spark.read.parquet(d["path"])
                .select(*[F.col(c).alias(f"__d_{c}") for c in eq_cols])
                .withColumn("__dseq", F.lit(d["_seq"]))
                for d in dentries
            ]
            dels = dlegs[0]
            for leg in dlegs[1:]:
                dels = dels.unionByName(leg)
            cond = F.col("__seq") < F.col("__dseq")
            for c in eq_cols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"__d_{c}"))
            df = df.join(F.broadcast(dels), cond, "left_anti")
        return df.drop("__seq")

    def history(self) -> list[dict]:
        return list(self.meta["snapshot-log"])


# --- helpers -----------------------------------------------------------------

def _now_ms() -> int:
    return int(time.time() * 1000)


def _as_snapshot(snap: dict | Snapshot) -> Snapshot:
    if isinstance(snap, Snapshot):
        return snap
    return Snapshot(**{k.replace("-", "_"): v for k, v in snap.items()})


def _new_snapshot_id() -> int:
    return _uuid.uuid4().int >> 75  # 53-bit positive id


def _ddl_fields(ddl: str) -> list[dict]:
    """Iceberg schemas carry field ids; derive them from DDL order."""
    fields = []
    for i, part in enumerate(ddl.split(",")):
        toks = part.strip().split()
        if len(toks) >= 2:
            fields.append({"id": i + 1, "name": toks[0],
                           "type": " ".join(toks[1:]), "required": False})
    return fields


def _collect_file_stats(staging: str, part_names: list[str]) -> list[dict]:
    """Walk the staged write, harvesting per-file record counts, column
    min/max bounds and compressed column sizes (Iceberg's
    ``column_sizes``, keyed by column name here) from the parquet footers
    (pyarrow), plus the partition tuple from the directory path — the
    manifest entry fields."""
    import pyarrow.parquet as pq

    out = []
    for root, _dirs, names in os.walk(staging):
        for name in sorted(names):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(root, staging)
            partition = {}
            for piece in rel.split(os.sep):
                if "=" in piece:
                    k, v = piece.split("=", 1)
                    k = k[2:] if k.startswith("p_") else k
                    try:
                        partition[k] = int(v)
                    except ValueError:
                        partition[k] = v
            md = pq.ParquetFile(path).metadata
            lower, upper, sizes = {}, {}, {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    cname = col.path_in_schema
                    sizes[cname] = (sizes.get(cname, 0)
                                    + col.total_compressed_size)
                    stats = col.statistics
                    if stats is None or not stats.has_min_max:
                        continue
                    mn, mx = stats.min, stats.max
                    if isinstance(mn, bytes):
                        continue
                    if cname not in lower or mn < lower[cname]:
                        lower[cname] = mn
                    if cname not in upper or mx > upper[cname]:
                        upper[cname] = mx
            out.append({
                "content": "data",
                "path": path,
                "file-format": "parquet",
                "partition": partition,
                "record-count": md.num_rows,
                "file-size-in-bytes": os.path.getsize(path),
                "column-sizes": sizes,
                "lower-bounds": _jsonable(lower),
                "upper-bounds": _jsonable(upper),
            })
    return out


def _jsonable(bounds: dict) -> dict:
    out = {}
    for k, v in bounds.items():
        if hasattr(v, "isoformat"):
            out[k] = v.isoformat()
        elif isinstance(v, (int, float, str, bool)):
            out[k] = v
        else:
            out[k] = str(v)
    return out
