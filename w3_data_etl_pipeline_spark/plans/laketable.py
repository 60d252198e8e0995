"""LakeTable: a snapshot-versioned, bucket-partitioned parquet table
with Iceberg-style semantics, implemented from scratch on the public
Spark + parquet APIs (no Iceberg/Delta jars exist in this image —
SURVEY.md §7.4.5 fallback; the interface mirrors what `MERGE INTO` +
snapshot metadata give you on a real lakehouse so the sink is
swappable).

Layout::

    <root>/
      _meta/v000000000001.json   # snapshot: schema/ledger + per-bucket
                                 # manifest POINTERS (O(n_buckets), not
                                 # O(files) — see _write_snapshot)
      _meta/current              # pointer file (atomic os.replace)
      manifests/b00007-<hash>.json  # content-addressed per-bucket file
                                 # lists, structurally shared across
                                 # snapshots (Iceberg manifest files)
      data/c000000000001-<uuid>/_bucket=K/part-*.parquet  # write-once dirs
      lineage/                   # per-(batch, bucket) metrics rows

Semantics:

* **Snapshot isolation** — a snapshot manifest lists exactly the data
  files that make up a version; readers resolve ``current`` once and
  see an immutable file set.
* **Optimistic concurrency** — a commit writes ``v{N+1}.json`` with
  ``open(..., 'x')``; a concurrent committer loses the race and
  retries against the new current (same protocol as Iceberg's
  atomic swap).
* **Bucketed copy-on-write MERGE** — rows are hash-bucketed by key
  (``pmod(xxhash64(keys), n_buckets)``); a merge rewrites only the
  buckets the batch touches. At 100 TB / 4096 buckets a microbatch
  touching 1% of keys rewrites ~1% of the table, not all of it; the
  join is key-partitioned on both sides.
* **Exactly-once ledger** — every snapshot carries the set of applied
  ``batch_id``s; re-applying a batch (foreachBatch retry, checkpoint
  replay overlap) is a metadata no-op. Defense in depth: the MERGE
  itself is idempotent (max-LSN guard per key). The set is stored as
  a contiguous-prefix high-watermark + tiny overflow map, so manifest
  size is O(live files), NOT O(commit history).
* **Additive schema evolution** — a batch carrying new columns widens
  the table schema (nullable add); old files are read through the
  widened schema (missing columns -> NULL), exactly like Iceberg
  ``ALTER TABLE ADD COLUMNS``. Generalizes the reference's
  ``ALTER TABLE ... ADD COLUMN IF NOT EXISTS`` discipline
  (reference src/common_package/browser_tasks.py:14-18 and 7
  siblings; SURVEY.md §1.3).

The reference analogue of ``merge`` is its incremental IP-dimension
upsert (anti-join insert + NULL-only enrichment,
reference src/common_package/ip_tasks.py:27-33,94-108), scaled up to
full I/U/D semantics.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_COLS = {"op", "lsn", "event_ts", "_bucket"}
LSN_COL = "_lsn"
OP_COL = "_op"  # persisted only in merge-on-read delta files
# data-sequence number (Iceberg's data_sequence_number analogue): the
# COMMIT VERSION that wrote a file, recovered for free from the file
# path (every write targets data/c{version:012d}-{uuid}/...). Never
# persisted as a column — derived at scan time (with_seq=True) so
# merge-on-read resolution can break equal-_lsn ties deterministically
# toward the later commit. Row-level MOR DML depends on this: a
# delete tombstone / update image keeps the stored row's _lsn (so
# racing CDC max-LSN rules are unchanged) and wins only by sequence.
SEQ_COL = "_seq"
# row lineage (Iceberg spec-v3 row-lineage analogue), opt-in per table:
# _row_id is a PERMANENT per-row identifier and _last_seq the commit
# that last CHANGED the row. Storage follows Iceberg's null-means-
# inherit rule so appends stay zero-cost: a row whose materialized
# _row_id is NULL inherits first_row_id(file) + its position in the
# file (_metadata.row_index); a NULL _last_seq inherits the file's
# data-sequence number. Rewrites that CARRY rows (compact, COW merge,
# COW DML, rebucket, merge_into) materialize both so carried rows
# neither change identity nor look freshly updated; paths that write a
# NEW IMAGE of an existing row (COW-merge event winners, DML updates)
# materialize the old _row_id and leave _last_seq NULL (= updated by
# this commit). Boundary, same as Iceberg equality deletes: the MOR
# CDC fast path (merge mode='mor') never reads the target, so its
# images get FRESH ids — the old id retires with the superseded row.
ROWID_COL = "_row_id"
LASTSEQ_COL = "_last_seq"


class CommitConflictError(RuntimeError):
    """A concurrent COW commit rewrote buckets this merge also
    rewrote — the merge must be re-run against the current snapshot
    (delta appends never raise this; they rebase automatically)."""


class ConstraintViolation(ValueError):
    """A write contained rows failing a CHECK constraint; the commit
    was aborted (no snapshot advanced; the attempt's data files are
    orphans for the periodic expire scan). Carries
    ``{constraint_name: violating_row_count}``."""

    def __init__(self, counts: dict):
        self.counts = counts
        super().__init__(f"CHECK constraint(s) violated: {counts}")


@dataclass
class MergeStats:
    batch_id: int
    applied: bool
    version: int
    input_rows: int = 0
    deduped_rows: int = 0  # events consumed from the batch (pre-dedup count)
    touched_buckets: int = 0
    output_rows: int = 0
    skew_prereduced: bool = False  # hot-key guard pre-reduce fired
    lineage: list[dict] = field(default_factory=list)
    stage_id: str | None = None  # set when the commit was staged (WAP), not applied
    rejected: bool = False  # staged commit failed its audit and was abandoned


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # ABSOLUTE root, unconditionally: the JVM's working directory
        # is pinned at session start, so a relative root would write
        # data files against the JVM's CWD while Python-side listing/
        # manifest code resolves against the (movable) process CWD —
        # silently committing empty snapshots. Normalizing here also
        # keeps shallow-clone shared paths and the expire_snapshots
        # ownership guard CWD-independent.
        self.root = os.path.abspath(root)
        self._meta = os.path.join(self.root, "_meta")
        self._data = os.path.join(self.root, "data")
        self._manifest_dir = os.path.join(self.root, "manifests")
        self.lineage_dir = os.path.join(self.root, "lineage")
        # manifest files are immutable + content-addressed, so entries
        # cache safely; bounded FIFO so a 10^5-commit stream doesn't
        # accumulate O(history) dead manifests in driver memory
        self._manifest_cache: dict[str, list] = {}
        # sidecar bloom bytes (content-addressed, immutable): bounded
        # FIFO keyed by relpath, hit repeatedly within one prune pass
        self._bloom_cache: dict[str, bytes] = {}

    # ---------------- snapshot plumbing ----------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 64,
        row_lineage: bool = False,
    ) -> "LakeTable":
        t = LakeTable(spark, root)
        os.makedirs(t._meta, exist_ok=True)
        os.makedirs(t._data, exist_ok=True)
        if LSN_COL not in schema.fieldNames():
            schema = T.StructType(schema.fields + [T.StructField(LSN_COL, T.LongType(), True)])
        snap = {
            "version": 0,
            "schema": schema.jsonValue(),
            "key_cols": key_cols,
            "n_buckets": n_buckets,
            "files": [],
            "ledger": {"hwm": -1, "extra": {}},
            "parent": None,
            "committed_at": None,
            "operation": "create",
            "row_lineage": bool(row_lineage),
            "next_row_id": 0,
        }
        t._write_snapshot(snap)
        return t

    def enable_row_lineage(self) -> int:
        """Turn on row lineage for an existing table (Iceberg v3's
        ``row-lineage`` table property; enable-only, like the spec —
        ids, once handed out, must never be reassigned). One metadata
        commit: the flag flips and every live file entry missing a
        ``first_row_id`` is backfilled from ``next_row_id`` (pre-
        enable rows thereby get inherited ids lazily, no data I/O).
        Idempotent; returns the snapshot version carrying the flag."""
        # the backfill happens at _write_snapshot's choke point
        return self._commit_meta(
            "enable-row-lineage",
            lambda snap: None if snap.get("row_lineage") else {"row_lineage": True},
        )

    def clone(
        self, dest_root: str, version: int | None = None, deep: bool = False
    ) -> "LakeTable":
        """Clone this table (the Delta ``CLONE`` / Iceberg
        snapshot-ref-copy analogue) at ``version`` (default current).

        ``deep=False`` (shallow, the default) is a METADATA-ONLY
        commit: the clone's v0 references the source's live data/DV
        files and index sidecars by absolute path — zero bytes copied,
        O(metadata) regardless of table size, which is what makes
        "branch a 100 TB table for an experiment" a sub-second
        operation. Everything else is a fresh table: its own history,
        its own exactly-once ledger (hwm reset — replaying a stream
        into the clone re-applies from scratch, by design), its own
        refs. Schema identity (field ids, rename epochs, defaults),
        constraints, declared write order, row-lineage state, and
        column stats carry over, so reads/CDC over the clone resolve
        pre-clone files exactly as the source would. Writes to the
        clone land under the clone's root; maintenance naturally
        un-shares (compaction folds referenced files into local ones),
        and the clone's ``expire_snapshots`` NEVER deletes shared
        files it doesn't own (guarded by path ownership — the same
        contract as Delta shallow-clone VACUUM). The one documented
        hazard is inherited from Delta/Iceberg: expiring the SOURCE's
        snapshots can drop files a shallow clone still references.

        ``deep=True`` hard-links every referenced file into the
        clone's own tree instead (falling back to a byte copy across
        filesystems): still no data duplication on one filesystem,
        but the clone owns its inodes — the source can be vacuumed or
        deleted outright and the clone keeps reading."""
        import shutil as _sh

        snap = self.snapshot(version)
        t = LakeTable(self.spark, dest_root)
        if os.path.exists(t._meta):
            raise ValueError(f"clone destination already exists: {dest_root}")
        os.makedirs(t._meta)
        os.makedirs(t._data)

        # normalize against an ABSOLUTE root: a table opened with a
        # relative root must not hand the clone CWD-relative shared
        # paths — they would dodge expire_snapshots' isabs ownership
        # guard (the clone's GC could collect the SOURCE's files) and
        # re-resolve against whatever CWD the reader happens to have
        src_root = os.path.abspath(self.root)

        def _abs(rel: str) -> str:
            return os.path.abspath(rel) if os.path.isabs(rel) else os.path.join(src_root, rel)

        entries = []
        for f in snap["files"]:
            e = dict(f)
            if deep:
                src, rel = _abs(f["path"]), f["path"]
                if os.path.isabs(rel):  # cloning a clone: re-home it
                    rel = os.path.join("data", "cloned", self._file_key(rel))
                dst = os.path.join(dest_root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(src, dst)
                except OSError:
                    _sh.copy2(src, dst)
                e["path"] = rel
            else:
                e["path"] = _abs(f["path"])
            for key in ("cset", "cbloom"):
                d = f.get(key)
                if not d:
                    continue
                e[key] = dict(d)
                for c, ref in d.items():
                    if isinstance(ref, str) and ref.startswith("idx:"):
                        sidecar = _abs(ref[4:])
                        if deep:
                            rel = (
                                ref[4:]
                                if not os.path.isabs(ref[4:])
                                else os.path.join("_meta", "index", os.path.basename(ref[4:]))
                            )
                            dst = os.path.join(dest_root, rel)
                            os.makedirs(os.path.dirname(dst), exist_ok=True)
                            if not os.path.exists(dst):
                                try:
                                    os.link(sidecar, dst)
                                except OSError:
                                    _sh.copy2(sidecar, dst)
                            e[key][c] = "idx:" + rel
                        else:
                            e[key][c] = "idx:" + sidecar
            entries.append(e)
        new = dict(snap)
        new.pop("manifests", None)  # pointers are recomputed under dest
        new.pop("sink_hwm", None)
        new.update(
            version=0,
            files=entries,
            parent=None,
            operation="clone-deep" if deep else "clone",
            clone_source=src_root,
            clone_source_version=snap["version"],
            ledger={"hwm": -1, "extra": {}},
        )
        t._write_snapshot(new)
        return t

    # ---------------- exactly-once ledger ----------------
    #
    # The applied-batch set is stored COMPACTED: a contiguous-prefix
    # high-watermark ("every batch_id <= hwm applied") plus a small
    # out-of-order overflow map. Streaming batch_ids are consecutive,
    # so `extra` folds into `hwm` every commit and the manifest's
    # ledger stays O(1) instead of O(applied batches) — at 10^5
    # microbatches the old full-dict form rewrote the entire history
    # as JSON on every commit (a driver-side scale-killer).

    @staticmethod
    def _ledger_migrate(ledger: dict) -> dict:
        if "hwm" in ledger and "extra" in ledger:
            return {"hwm": ledger["hwm"], "extra": dict(ledger["extra"])}
        # pre-compaction format: {batch_id: {...}} — fold it
        out = {"hwm": -1, "extra": {k: True for k in ledger}}
        return LakeTable._ledger_fold(out)

    @staticmethod
    def _ledger_fold(ledger: dict) -> dict:
        hwm, extra = ledger["hwm"], ledger["extra"]
        while str(hwm + 1) in extra:
            hwm += 1
            del extra[str(hwm)]
        return {"hwm": hwm, "extra": extra}

    @staticmethod
    def _ledger_contains(ledger: dict, batch_id: int) -> bool:
        led = LakeTable._ledger_migrate(ledger)
        return batch_id <= led["hwm"] or str(batch_id) in led["extra"]

    @staticmethod
    def _ledger_add(ledger: dict, batch_id: int) -> dict:
        led = LakeTable._ledger_migrate(ledger)
        if batch_id > led["hwm"]:
            led["extra"][str(batch_id)] = True
        return LakeTable._ledger_fold(led)

    def _snap_path(self, version: int) -> str:
        return os.path.join(self._meta, f"v{version:012d}.json")

    # -- split manifests (Iceberg manifest-file analogue) --------------
    #
    # The snapshot JSON does NOT inline the file list: it stores one
    # pointer per non-empty bucket to an immutable, CONTENT-ADDRESSED
    # per-bucket manifest file (manifests/b{bucket}-{fingerprint}.json)
    # holding that bucket's file entries. A commit touching k buckets
    # therefore writes k manifest files + an O(n_buckets) pointer map —
    # NOT O(table files) of JSON: at 100 TB / ~10^6 files the inline
    # format rewrote ~10^2 MB of metadata per microbatch, the split
    # format ~10^2 KB. Unchanged buckets share their parent's manifest
    # by construction (same entries -> same fingerprint -> same path,
    # which already exists and is skipped). Content addressing also
    # makes optimistic-race losers safe: a loser's manifests are either
    # shared (identical content) or orphans for expire_snapshots — they
    # are never deleted at race time because a concurrent winner may
    # legitimately point at the same fingerprint.
    # Pre-split snapshots (inline "files") load unchanged.

    _MANIFEST_CACHE_MAX = 8192
    _STAT_KEYS = (
        "path", "kind", "epoch", "rows", "bytes", "lsn_min", "lsn_max", "cmin", "cmax",
        # row-lineage id base: MUST be fingerprinted — two entry lists
        # differing only in assigned id ranges are different manifests
        # (content addressing would otherwise skip the second write)
        "first_row_id",
    )

    @classmethod
    def _bucket_fingerprint(cls, entries: list[dict]) -> str:
        import hashlib

        # json.dumps(sort_keys) so the cmin/cmax dicts hash
        # deterministically regardless of build order
        lines = sorted(
            "|".join(
                json.dumps(e.get(k), sort_keys=True, default=str)
                for k in cls._STAT_KEYS
            )
            for e in entries
        )
        return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]

    def _load_manifest(self, rel: str) -> list[dict]:
        hit = self._manifest_cache.get(rel)
        if hit is None:
            with open(os.path.join(self.root, rel)) as f:
                hit = json.load(f)
            if len(self._manifest_cache) >= self._MANIFEST_CACHE_MAX:
                self._manifest_cache.pop(next(iter(self._manifest_cache)))
            self._manifest_cache[rel] = hit
        return hit

    def _write_snapshot(self, snap: dict) -> None:
        snap = dict(snap)  # callers keep their materialized copy
        snap["committed_at"] = time.time()
        # the dml audit record describes ONE commit; every commit path
        # copies its parent dict, so strip it here unless this commit
        # set it (operation is always set fresh by every path)
        if snap.get("operation") not in ("delete", "update", "merge-into"):
            snap.pop("dml", None)
        # field-id reconciliation at the SINGLE commit choke point:
        # any column the (possibly additively evolved) schema carries
        # without an id gets a fresh one here, so every commit path
        # (merge/overwrite/compact/rollback) keeps ids complete without
        # knowing about them. Rename/drop pre-set the meta themselves
        # and this is then a no-op.
        self._ensure_field_meta(snap)
        snap.update(
            self._evolved_field_meta(snap, T.StructType.fromJson(snap["schema"]))
        )
        files = snap.pop("files")
        if snap.get("row_lineage"):
            # row-id assignment at the SINGLE commit choke point
            # (Iceberg v3 first-row-id inheritance): every entry not
            # yet carrying a first_row_id — files this commit wrote,
            # or the whole table on the enable-row-lineage backfill —
            # claims [next_row_id, next_row_id + rows). Shared carried
            # entries are immutable by convention, so assignment
            # REPLACES the dict rather than mutating (a mutation would
            # silently corrupt the manifest cache and the parent
            # snapshot's materialized copy). Entries without a row
            # count (stats write failed) stay unassigned — their rows
            # read a NULL _row_id rather than a colliding one.
            nxt = int(snap.get("next_row_id") or 0)
            assigned = []
            for e in files:
                if (
                    "first_row_id" not in e
                    and e.get("rows") is not None
                    # deletion vectors hold no data rows: assigning an
                    # id range would burn ids and shift nothing
                    and e.get("kind", "base") != "dv"
                ):
                    e = {**e, "first_row_id": nxt}
                    nxt += int(e["rows"])
                assigned.append(e)
            files = assigned
            snap["next_row_id"] = nxt
        snap.pop("manifests", None)  # stale parent pointers: recompute
        # provenance fast path: snapshot() records which manifest each
        # bucket's entries came from; a bucket whose entry list is
        # IDENTICALLY the parent's (same dict objects, same order —
        # commit paths filter/concatenate entries, never rebuild them)
        # reuses the parent pointer after an O(entries) identity scan,
        # no fingerprint hashing. Only touched buckets pay hash +
        # write, so commit-metadata CPU is O(touched entries +
        # n_buckets), not O(table files).
        src: dict[int, str] = snap.pop("_bucket_src", {})
        by_bucket: dict[int, list[dict]] = {}
        for e in files:
            by_bucket.setdefault(e["bucket"], []).append(e)
        snap["n_files"] = len(files)
        manifests: dict[str, str] = {}
        os.makedirs(self._manifest_dir, exist_ok=True)
        for b, entries in by_bucket.items():
            prev = src.get(b)
            if prev is not None:
                cached = self._manifest_cache.get(prev)
                if (
                    cached is not None
                    and len(cached) == len(entries)
                    and all(x is y for x, y in zip(entries, cached))
                ):
                    manifests[str(b)] = prev
                    continue
            fp = self._bucket_fingerprint(entries)
            rel = os.path.join("manifests", f"b{b:05d}-{fp}.json")
            full = os.path.join(self.root, rel)
            if not os.path.exists(full):
                tmp = full + f".tmp.{uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as f:
                    json.dump(entries, f)
                # same name => same content, so a concurrent identical
                # write replaced by either party is byte-equal
                os.replace(tmp, full)
                # same bounded-FIFO discipline as _load_manifest: a
                # long-running stream's write path must not accumulate
                # O(history) dead entry lists in driver memory
                if len(self._manifest_cache) >= self._MANIFEST_CACHE_MAX:
                    self._manifest_cache.pop(next(iter(self._manifest_cache)))
                self._manifest_cache[rel] = entries
            manifests[str(b)] = rel
        snap["manifests"] = manifests
        path = self._snap_path(snap["version"])
        # atomic CONTENT, exclusive NAME: dump to a private tmp, then
        # os.link(tmp, path) — link fails with FileExistsError if a
        # concurrent committer won the version (the optimistic race,
        # same as the old open('x')), and a reader listing _meta/ can
        # never observe a half-written v*.json (the old in-place dump
        # could tear under version_at()/history()/expire_snapshots()).
        stmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(stmp, "w") as f:
            json.dump(snap, f)
        try:
            os.link(stmp, path)
        finally:
            os.remove(stmp)
        tmp = path + f".ptr.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(snap["version"]))
        os.replace(tmp, os.path.join(self._meta, "current"))

    # -- the optimistic commit contract ----------------------------------
    #
    # Every commit claims version N+1 through _write_snapshot's
    # exclusive link. A writer that loses the claim re-reads and tries
    # again a fixed number of times, then raises CommitConflictError.
    # Recompute paths (metadata edits, overwrite, compact, DML,
    # merge_into, rebucket, rollback) redo their work against the
    # winner; only the ledgered rebase (_land: merge and publish) keeps
    # its already-durable data files and rebases the manifest instead.

    _COMMIT_ATTEMPTS = 4  # metadata and recompute paths
    _REBASE_ATTEMPTS = 10  # the ledgered rebase and the streaming sink

    def _optimistic(self, what: str, attempt, attempts: int | None = None):
        """Run ``attempt()`` until it returns without losing the
        version race (``FileExistsError``); return its result."""
        n = attempts or self._COMMIT_ATTEMPTS
        for _ in range(n):
            try:
                return attempt()
            except FileExistsError:
                continue  # lost the version race: re-read and retry
        raise CommitConflictError(f"{what} lost the commit race {n} times")

    def _commit_meta(self, operation: str, mutate, base: dict | None = None) -> int:
        """One metadata-only commit. ``mutate(snap)`` validates against
        the freshly read snapshot and returns the fields to change, or
        None when nothing changes (the current version is returned).
        The new snapshot copies ``snap`` — or ``base``, for a rollback
        that restores another version's state — plus the changes."""

        def attempt() -> int:
            snap = self.snapshot()
            changes = mutate(snap)
            if changes is None:
                return snap["version"]
            new = dict(snap if base is None else base)
            new.update(
                changes,
                version=snap["version"] + 1,
                parent=snap["version"],
                operation=operation,
            )
            self._write_snapshot(new)
            return new["version"]

        return self._optimistic(operation, attempt)

    def _claim(self, new: dict, lin_path: str | None) -> bool:
        """Claim ``new``'s version. A loser deletes ONLY the lineage
        file it wrote for that version (uuid-named, so never a
        winner's) and returns False."""
        try:
            self._write_snapshot(new)
            return True
        except FileExistsError:
            if lin_path is not None and os.path.exists(lin_path):
                os.remove(lin_path)
            return False

    def current_version(self) -> int:
        with open(os.path.join(self._meta, "current")) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> dict:
        """Load a snapshot with its file list MATERIALIZED: ``files``
        holds every entry (concatenated from the per-bucket manifests,
        cached — only manifests this process hasn't seen are read).
        Entries are shared, immutable-by-convention dicts; consumers
        filter/concatenate them but never mutate in place."""
        if version is None:
            version = self.current_version()
        with open(self._snap_path(version)) as f:
            snap = json.load(f)
        if "files" not in snap:
            files: list[dict] = []
            src: dict[int, str] = {}
            for b, rel in sorted(
                snap["manifests"].items(), key=lambda kv: int(kv[0])
            ):
                files.extend(self._load_manifest(rel))
                src[int(b)] = rel
            snap["files"] = files
            # provenance for _write_snapshot's unchanged-bucket fast
            # path; stripped before serialization
            snap["_bucket_src"] = src
        self._ensure_field_meta(snap)
        return snap

    # -- field ids (Iceberg spec-v2 column identity) --------------------
    #
    # Every column owns a PERSISTENT FIELD ID; data files resolve their
    # columns by the (id -> name) mapping of the SCHEMA EPOCH they were
    # written under ("epoch" on each manifest entry, name_log in the
    # snapshot). Rename and drop are therefore pure metadata commits:
    # old files keep their physical names and the reader aliases them
    # to the current names by id — a rename never forks history, and a
    # re-added column (fresh id) never resurrects dropped data that
    # happens to share its name. Pre-field-id snapshots migrate lazily:
    # ids are assigned positionally and epoch-0 files map identically
    # (sound because, before the first rename, current names == written
    # names; additive evolution never changed a name).

    def _ensure_field_meta(self, snap: dict) -> None:
        if "field_ids" in snap:
            return
        names = [f.name for f in self.schema(snap).fields if f.name != LSN_COL]
        snap["field_ids"] = {n: i + 1 for i, n in enumerate(names)}
        snap["next_field_id"] = len(names) + 1
        snap["schema_epoch"] = 0
        snap["name_log"] = {"0": {str(i + 1): n for i, n in enumerate(names)}}

    @staticmethod
    def _evolved_field_meta(snap: dict, schema: T.StructType) -> dict:
        """Field metadata for a commit whose (additively) evolved
        ``schema`` may carry columns the snapshot has no id for yet.
        New columns get fresh ids and are recorded in the CURRENT
        epoch's map (no epoch bump: files of this epoch written before
        the add simply lack the column and read as NULL). Returns
        copies — never mutates ``snap``'s nested dicts (they may be
        shared with cached manifest entries)."""
        fids = dict(snap["field_ids"])
        nxt = snap["next_field_id"]
        epoch = snap["schema_epoch"]
        log = {k: dict(v) for k, v in snap["name_log"].items()}
        emap = log.setdefault(str(epoch), {})
        for f_ in schema.fields:
            if f_.name == LSN_COL or f_.name in fids:
                continue
            fids[f_.name] = nxt
            emap[str(nxt)] = f_.name
            nxt += 1
        return {
            "field_ids": fids,
            "next_field_id": nxt,
            "schema_epoch": epoch,
            "name_log": log,
        }

    def rename_column(self, old: str, new: str) -> int:
        """History-safe column rename (Iceberg ``ALTER ... RENAME``):
        a metadata-only commit — no data file is touched. Old files
        keep the old physical name; readers alias it by field id, so
        reads, the change feed, and time travel all see one continuous
        column. Key columns and ``_lsn`` never rename (the bucket
        function and merge protocol are keyed on them)."""

        def mutate(snap: dict) -> dict:
            schema = self.schema(snap)
            if old in snap["key_cols"] or old == LSN_COL:
                raise ValueError(f"cannot rename key/meta column {old!r}")
            if old not in schema.fieldNames():
                raise ValueError(f"no such column {old!r}")
            if new in schema.fieldNames() or new == LSN_COL:
                raise ValueError(f"column {new!r} already exists")
            self._guard_generated_refs(snap, old, "rename")
            fid = snap["field_ids"][old]
            epoch = snap["schema_epoch"] + 1
            fids = dict(snap["field_ids"])
            del fids[old]
            fids[new] = fid
            log = {k: dict(v) for k, v in snap["name_log"].items()}
            log[str(epoch)] = {
                str(i): (new if i == fid else n)
                for n, i in snap["field_ids"].items()
            }
            new_schema = T.StructType(
                [
                    T.StructField(new if f_.name == old else f_.name, f_.dataType, f_.nullable)
                    for f_ in schema.fields
                ]
            )
            return dict(
                schema=new_schema.jsonValue(),
                field_ids=fids,
                name_log=log,
                schema_epoch=epoch,
            )

        return self._commit_meta("rename-column", mutate)

    def drop_column(self, name: str) -> int:
        """History-safe column drop: metadata-only. Old files keep the
        physical column; readers simply never select it. A later
        re-add under the same name gets a FRESH field id, so the
        dropped data can never resurrect (old epochs' maps don't know
        the new id -> those files read the column as NULL)."""

        def mutate(snap: dict) -> dict:
            schema = self.schema(snap)
            if name in snap["key_cols"] or name == LSN_COL:
                raise ValueError(f"cannot drop key/meta column {name!r}")
            if name not in schema.fieldNames():
                raise ValueError(f"no such column {name!r}")
            self._guard_generated_refs(snap, name, "drop")
            self._guard_spec_refs(snap, name, "drop")
            fid = snap["field_ids"][name]
            epoch = snap["schema_epoch"] + 1
            fids = dict(snap["field_ids"])
            del fids[name]
            log = {k: dict(v) for k, v in snap["name_log"].items()}
            log[str(epoch)] = {
                str(i): n for n, i in fids.items()
            }
            new_schema = T.StructType(
                [f_ for f_ in schema.fields if f_.name != name]
            )
            return dict(
                schema=new_schema.jsonValue(),
                field_ids=fids,
                name_log=log,
                schema_epoch=epoch,
            )

        return self._commit_meta("drop-column", mutate)

    def add_column(
        self,
        name: str,
        dtype: str,
        initial_default=None,
        write_default=None,
        generated_as: str | None = None,
    ) -> int:
        """Explicit ADD COLUMN with optional defaults (Iceberg spec-v3
        ``initial-default`` / ``write-default``): a metadata-only
        commit — no data file is touched.

        * ``initial_default``: what rows written BEFORE the add read
          for this column (instead of NULL). Sound because the add
          bumps the schema epoch: pre-add files resolve through an
          epoch map that lacks the new field id, and that miss now
          yields the default. A re-add after ``drop_column`` gets a
          fresh id, so EVERY older file is "pre-add" — dropped data
          never resurrects through a default.
        * ``write_default``: what a writer that does not supply the
          column writes (instead of NULL) — full-image CDC semantics:
          a batch lacking the column sets it to the write default on
          the rows it touches, exactly like SQL ``INSERT`` with an
          omitted DEFAULT column.

        Defaults are JSON scalars (str/int/float/bool; dates and
        timestamps as ISO strings — they are CAST to the declared
        type at plan time) and are keyed by FIELD ID, so they survive
        renames. Additive-by-merge evolution (a batch carrying a new
        column) still works and still means NULL-filled history — use
        this API when history should read a value instead.

        ``generated_as`` (Delta ``GENERATED ALWAYS AS`` analogue): a
        Spark SQL expression over the table's OTHER columns, computed
        at WRITE time whenever a batch omits the column (full-image
        CDC semantics — the touched row's generated value always
        reflects its current other columns). A batch that SUPPLIES
        the column is validated against the expression inside the
        merge's existing pre-pass (null-safe equality, 'D' tombstones
        exempt) and rejected on mismatch before anything commits —
        Delta's convention. History written before the add reads
        ``initial_default``/NULL (generation is write-time, not a
        read-time backfill). Renaming or dropping a REFERENCED column
        is blocked while the generation stands; the generated column
        itself renames freely (field-id keyed). Mutually exclusive
        with ``write_default``."""
        dt = T.DataType.fromDDL(dtype)  # needs the live session's parser
        for v, which in ((initial_default, "initial"), (write_default, "write")):
            if v is not None and not isinstance(v, (str, int, float, bool)):
                raise ValueError(
                    f"{which}_default must be a JSON scalar, got {type(v).__name__}"
                )
        if generated_as is not None:
            if write_default is not None:
                raise ValueError("generated_as and write_default are mutually exclusive")
            # resolve (not just parse) NOW, against the current schema:
            # an expression over a typo'd/nonexistent column is rejected
            # at add time instead of failing every later merge at
            # analysis time (self-reference also lands here — the new
            # column is not in the schema yet)
            self._expr_refs(generated_as, self.schema(self.snapshot()))

        def mutate(snap: dict) -> dict:
            schema = self.schema(snap)
            if name in schema.fieldNames() or name == LSN_COL:
                raise ValueError(f"column {name!r} already exists")
            fid = snap["next_field_id"]
            epoch = snap["schema_epoch"] + 1
            fids = dict(snap["field_ids"])
            fids[name] = fid
            log = {k: dict(v) for k, v in snap["name_log"].items()}
            log[str(epoch)] = {str(i): n for n, i in fids.items()}
            defaults = {k: dict(v) for k, v in (snap.get("defaults") or {}).items()}
            if (
                initial_default is not None
                or write_default is not None
                or generated_as is not None
            ):
                defaults[str(fid)] = {
                    "initial": initial_default,
                    "write": write_default,
                }
                if generated_as is not None:
                    defaults[str(fid)]["generated"] = generated_as
            return dict(
                schema=T.StructType(
                    schema.fields + [T.StructField(name, dt, True)]
                ).jsonValue(),
                field_ids=fids,
                next_field_id=fid + 1,
                name_log=log,
                schema_epoch=epoch,
                defaults=defaults,
            )

        return self._commit_meta("add-column", mutate)

    def alter_column_default(self, name: str, write_default=None) -> int:
        """SET / DROP the column's WRITE default (SQL ``ALTER COLUMN
        ... SET DEFAULT`` / ``DROP DEFAULT``): affects only rows
        written AFTER this commit by writers that omit the column.
        The initial-default is immutable (Iceberg v3: it describes
        already-written history — changing it would silently rewrite
        what old files mean). ``write_default=None`` drops it."""
        if write_default is not None and not isinstance(
            write_default, (str, int, float, bool)
        ):
            raise ValueError(
                f"write_default must be a JSON scalar, got {type(write_default).__name__}"
            )

        def mutate(snap: dict) -> dict:
            if name not in self.schema(snap).fieldNames() or name == LSN_COL:
                raise ValueError(f"no such column {name!r}")
            fid = str(snap["field_ids"][name])
            defaults = {k: dict(v) for k, v in (snap.get("defaults") or {}).items()}
            d = defaults.setdefault(fid, {"initial": None, "write": None})
            d["write"] = write_default
            if d["initial"] is None and d["write"] is None:
                del defaults[fid]
            return {"defaults": defaults}

        return self._commit_meta("alter-column-default", mutate)

    def alter_column_type(self, name: str, dtype: str) -> int:
        """Explicit safe type widening (``ALTER COLUMN ... TYPE``):
        metadata-only, same promotion set as merge-time widening
        (int->long, float->double — old files read through the wide
        schema). Key columns never promote: xxhash64 hashes int and
        long differently, so a key widening would silently re-bucket
        the table (same protection as ``_unify_schema``)."""
        dt = T.DataType.fromDDL(dtype)

        def mutate(snap: dict) -> dict | None:
            schema = self.schema(snap)
            if name not in schema.fieldNames() or name == LSN_COL:
                raise ValueError(f"no such column {name!r}")
            if name in snap["key_cols"]:
                raise ValueError(f"cannot widen bucketing key column {name!r}")
            cur = schema[name].dataType
            if cur.typeName() == dt.typeName():
                return None  # idempotent no-op
            if (cur.typeName(), dt.typeName()) not in self._PROMOTIONS:
                raise ValueError(
                    f"unsafe type change {cur.typeName()} -> {dt.typeName()} "
                    f"(allowed: {sorted(self._PROMOTIONS)})"
                )
            return {
                "schema": T.StructType(
                    [
                        T.StructField(name, dt, True) if f_.name == name else f_
                        for f_ in schema.fields
                    ]
                ).jsonValue()
            }

        return self._commit_meta("alter-column-type", mutate)

    @staticmethod
    def _default_value(snap: dict, col: str, which: str):
        """``col``'s initial/write default scalar, or None. Field-id
        keyed: a renamed column keeps its defaults."""
        fid = (snap.get("field_ids") or {}).get(col)
        d = (snap.get("defaults") or {}).get(str(fid)) if fid is not None else None
        return d.get(which) if d else None

    @staticmethod
    def _generated_expr(snap: dict, col: str) -> "str | None":
        """``col``'s generation expression, or None. Field-id keyed
        like scalar defaults (renaming the generated column itself is
        safe; renaming a column the expression REFERENCES is blocked
        at rename time)."""
        fid = (snap.get("field_ids") or {}).get(col)
        d = (snap.get("defaults") or {}).get(str(fid)) if fid is not None else None
        return d.get("generated") if d else None

    def _expr_refs(self, expr: str, schema: T.StructType) -> "set[str]":
        """The schema columns ``expr`` actually RESOLVES against,
        derived by analysis, not regex: drop one column at a time and
        see whether the expression stops analyzing. A column name
        inside a string literal of an unrelated expression is never a
        false reference, and an expression over a typo'd/nonexistent
        name fails HERE (against the full schema) with a clear error
        instead of at the first later merge. Metadata-path cost: one
        no-data analysis per schema column."""
        ck = (expr, tuple(f_.name for f_ in schema.fields))
        cache = getattr(self, "_refs_cache", None)
        if cache is None:
            cache = self._refs_cache = {}
        hit = cache.get(ck)
        if hit is not None:
            return set(hit)
        spark = self.spark or SparkSession.getActiveSession()
        empty = spark.createDataFrame([], schema)
        try:
            empty.select(F.expr(expr)).schema
        except Exception as e:
            raise ValueError(
                f"expression {expr!r} does not resolve against the table "
                f"schema {schema.fieldNames()}: {e}"
            ) from None
        refs = set()
        # the negative probes RAISE analysis errors by design — mute
        # Spark's ERROR-level SQLQueryContextLogger JSON spew for the
        # duration (single-driver; restored immediately)
        sc = spark.sparkContext
        sc.setLogLevel("FATAL")
        try:
            for f_ in schema.fields:
                try:
                    empty.drop(f_.name).select(F.expr(expr)).schema
                except Exception:
                    refs.add(f_.name)
        finally:
            sc.setLogLevel("WARN")
        if len(cache) >= 256:
            cache.pop(next(iter(cache)))
        cache[ck] = frozenset(refs)
        return refs

    def _guard_generated_refs(self, snap: dict, col: str, verb: str) -> None:
        """Renaming/dropping a column a generation expression REFERENCES
        would silently break every later write's computed value —
        blocked, Delta's convention. The generated column itself is
        free to rename (field-id keyed) or drop (takes its expression
        with it). References come from expression RESOLUTION
        (``_expr_refs``), so a name that merely appears inside a
        string literal never blocks its rename/drop."""
        schema = self.schema(snap)
        refs = [
            g_col
            for g_col, g in self._generated_cols(snap).items()
            if g_col != col and col in self._expr_refs(g, schema)
        ]
        if refs:
            raise ValueError(
                f"cannot {verb} column {col!r}: referenced by generated "
                f"column(s) {sorted(refs)} — drop the generated column first"
            )

    @classmethod
    def _generated_cols(cls, snap: dict) -> dict[str, str]:
        """All generated columns under their CURRENT names."""
        out = {}
        for c in (snap.get("field_ids") or {}):
            g = cls._generated_expr(snap, c)
            if g is not None:
                out[c] = g
        return out

    @classmethod
    def _missing_col(
        cls, snap: dict, dt: T.DataType, col: str, scalar_only: bool = False
    ) -> F.Column:
        """The value a writer that did not supply ``col`` writes: its
        generation expression when declared (computed from the row's
        OTHER supplied columns — Delta GENERATED ALWAYS AS), else its
        write-default scalar, else NULL. ``scalar_only`` callers
        (merge_into — clause expressions live in a t./s. alias space
        where a bare-name generation expression would not resolve)
        get a clear error instead of a silently wrong fill."""
        g = cls._generated_expr(snap, col)
        if g is not None:
            if scalar_only:
                # merge_into recomputes generated columns in its own
                # post-image projection (bare-name space); reaching
                # here means a caller skipped that pre-check
                raise ValueError(
                    f"generated column {col!r} cannot be filled in a "
                    "t./s. alias space — recompute it from the "
                    "post-image projection"
                )
            return F.expr(g).cast(dt)
        v = cls._default_value(snap, col, "write")
        return F.lit(v).cast(dt)

    _EQ_INDEXABLE = ("string", "long", "integer", "short", "byte")

    def alter_skip_columns(self, cols: list[str]) -> int:
        """Opt columns into the per-file EQUALITY index (Iceberg's
        Puffin bloom-blob analogue): every file a later commit writes
        additionally records, per listed column, its exact distinct
        set (ndv <= 64) or a 1 KiB bloom (ndv <= 4096), and
        read_where()/prune_files() use them to skip files for
        ``col = val`` predicates that min/max bounds can't touch on an
        unclustered layout. Metadata-only commit; columns are tracked
        by FIELD ID so the index survives renames. Restricted to
        string/integer types — equality on floats or timestamps is
        ill-posed across engines. Pass [] to stop indexing (existing
        entries keep pruning; they describe immutable files)."""

        def mutate(snap: dict) -> dict:
            schema = self.schema(snap)
            types = {f_.name: f_.dataType.typeName() for f_ in schema.fields}
            fids = snap.get("field_ids") or {}
            want = []
            for c in cols:
                if c == LSN_COL or c not in types:
                    raise ValueError(f"no such column {c!r}")
                if types[c] not in self._EQ_INDEXABLE:
                    raise ValueError(
                        f"column {c!r} ({types[c]}) is not equality-indexable"
                    )
                if c not in fids:
                    raise ValueError(f"column {c!r} has no field id")
                want.append(fids[c])
            return {"skip_fids": sorted(want)}

        return self._commit_meta("set-skip-columns", mutate)

    def analyze(self, cols: "list[str] | None" = None) -> dict:
        """ANALYZE TABLE — table-level column statistics (the Iceberg
        ``ANALYZE``/Puffin theta-sketch analogue; the per-FILE manifest
        stats the engine already keeps answer "can this file match",
        this answers "what does this COLUMN look like"). ONE
        distributed pass over the RESOLVED table (all columns
        aggregated together) computes per scalar column: approximate
        NDV (HyperLogLog++, rsd 5%), null count, min/max; plus the
        exact resolved row count. Persisted in the snapshot as a
        metadata commit (``col_stats``, stamped with the version
        analyzed — consumers can see how stale it is), surfaced by
        ``stats()`` and the maintain CLI.

        The report also RECOMMENDS, from the measured shape:
        ``equality_index`` candidates (indexable type, NDV within the
        bloom cap, mostly non-null — the columns ``alter_skip_columns``
        pays off on) and ``write_order`` candidates (numeric/orderable,
        high-NDV — the columns whose min/max bounds a declared sort
        makes selective). O(table) by design: schedule it like a
        compaction, not per commit."""
        snap = self.snapshot()
        schema = self.schema(snap)
        scalars = [
            f_ for f_ in schema.fields
            if f_.name != LSN_COL and not f_.dataType.typeName().startswith(
                ("array", "map", "struct", "binary")
            )
        ]
        if cols is not None:
            want = set(cols)
            unknown = want - {f_.name for f_ in scalars}
            if unknown:
                raise ValueError(f"unknown/unsupported columns: {sorted(unknown)}")
            scalars = [f_ for f_ in scalars if f_.name in want]
        if not scalars:
            raise ValueError("no analyzable scalar columns")
        df = self.read()
        aggs = [F.count(F.lit(1)).alias("_n")]
        for f_ in scalars:
            c = f_.name
            aggs += [
                F.approx_count_distinct(c, rsd=0.05).alias(f"_ndv_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"_nul_{c}"),
                F.min(c).alias(f"_min_{c}"),
                F.max(c).alias(f"_max_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        n = int(row["_n"])
        columns: dict = {}
        rec_eq: list[str] = []
        rec_wo: list[str] = []
        for f_ in scalars:
            c = f_.name
            tn = f_.dataType.typeName()
            ndv = int(row[f"_ndv_{c}"])
            nul = int(row[f"_nul_{c}"])
            columns[c] = {
                "type": tn,
                "ndv": ndv,
                "nulls": nul,
                "min": self._json_bound(row[f"_min_{c}"]),
                "max": self._json_bound(row[f"_max_{c}"]),
            }
            nonnull = n - nul
            if (
                tn in self._EQ_INDEXABLE
                and 1 < ndv
                and ndv * self._BLOOM_BITS_PER_EL <= self._BLOOM_MAX_BITS
                and nonnull > n // 2
            ):
                rec_eq.append(c)
            if tn.startswith(self._Z_TYPES) and nonnull and ndv > max(64, n // 100):
                rec_wo.append(c)
        report = {
            "analyzed_version": snap["version"],
            "rows": n,
            "columns": columns,
            "recommend": {"equality_index": rec_eq, "write_order": rec_wo},
        }
        report["version"] = self._commit_meta(
            "analyze", lambda cur: {"col_stats": report}
        )
        return report

    def col_stats(self, version: int | None = None) -> "dict | None":
        """The last persisted ANALYZE report at ``version`` (None if
        the table was never analyzed). ``analyzed_version`` inside it
        says which snapshot the numbers describe."""
        cs = self.snapshot(version).get("col_stats")
        return dict(cs) if cs else None

    def alter_write_order(
        self,
        cols: "list[str] | None",
        zorder: bool = False,
        target_rows: int | None = None,
    ) -> int:
        """Declare a table WRITE ORDER (the Iceberg sort-order table
        metadata analogue; Delta's OPTIMIZE ZORDER made a standing
        property): from this commit on, every BASE-file write — COW
        merges, overwrite, compact, COW DML rewrites, rebucket — sorts
        each bucket's rows by ``cols`` (Morton/z-order when ``zorder``,
        for multi-column predicates) and, with ``target_rows``, splits
        the bucket into value-contiguous files of at most that many
        rows. That is what turns manifest min/max file skipping from a
        maintenance-window property (only right after an explicitly
        clustered ``compact(cluster_by=...)``) into a STANDING one:
        the very next microbatch's rewrite is already clustered, so
        ``read_where`` on the sort columns prunes files continuously.
        ``target_rows`` matters: without a split, each bucket is one
        file spanning its full value range and bounds prune nothing.

        Costs, honestly: one extra in-partition sort per base write
        (no extra exchange — it rides the existing bucket partitioning)
        plus, for zorder, one approxQuantile pass over the write set
        per commit (the grid-cell bounds); and MOR delta appends are
        deliberately NOT sorted (delta buckets are exempt from
        predicate pruning anyway — resolution needs them whole).
        ``read_keys``' row-group In()-skip gets less effective (rows
        are no longer key-sorted inside base files); its correctness
        is unaffected (the semi join is the authority).

        ``cols=None`` clears the order. Metadata-only commit,
        optimistic retry. Versioned like constraints: time travel and
        rollback see the order that was active at that snapshot."""
        wo = None
        if cols is not None:
            if not cols:
                raise ValueError("write order needs at least one column "
                                 "(or None to clear)")
            schema = self.schema()
            for c in cols:
                if c not in schema.fieldNames():
                    raise ValueError(f"unknown write-order column {c!r}")
            if zorder and len(cols) < 2:
                raise ValueError("zorder needs at least 2 columns")
            if zorder:
                for c in cols:  # fail at ALTER time, not mid-write
                    tn = schema[c].dataType.typeName()
                    if not tn.startswith(self._Z_TYPES):
                        raise ValueError(
                            f"z-order column {c!r} ({tn}) is not numeric"
                        )
            if target_rows is not None and target_rows < 1:
                raise ValueError("target_rows must be >= 1")
            wo = {
                "cols": list(cols),
                "zorder": bool(zorder),
                "target_rows": int(target_rows) if target_rows else None,
            }
        return self._commit_meta(
            "set-write-order" if wo else "clear-write-order",
            lambda snap: {"write_order": wo},
        )

    def write_order(self, version: int | None = None) -> "dict | None":
        """The declared write order at ``version`` (None if unset)."""
        wo = self.snapshot(version).get("write_order")
        return dict(wo) if wo else None

    def add_constraint(self, name: str, expr: str, validate: bool = True) -> int:
        """ALTER TABLE ADD CONSTRAINT CHECK (the Delta constraints
        analogue): from this commit on, every write path that adds or
        changes rows (merge COW+MOR, overwrite, delete/update,
        merge_into) aborts with ConstraintViolation if any written
        row fails ``expr`` — SQL CHECK semantics, so a row passes when
        the expression is TRUE **or NULL** (unknown), and MOR delete
        tombstones (op='D', value columns legitimately NULL) are
        exempt. Enforcement is free at scale: the violation count
        rides the write job itself as a Spark ``Observation`` — zero
        extra passes over the data — and a violated write aborts
        BEFORE the snapshot commit, so readers never see a bad row.
        Maintenance rewrites (compact, rebucket) carry existing rows
        and do not re-check.

        validate=True (default, Delta's behavior) first proves the
        EXISTING table satisfies the constraint — one pruned scan,
        the only O(table) step, opt out for a known-clean table.
        Metadata-only commit, optimistic retry."""
        if not name or not name.replace("_", "").isalnum():
            raise ValueError(f"constraint name {name!r} must be [a-zA-Z0-9_]+")
        # fail fast on an unparseable expression (and on columns the
        # schema lacks) before any scan or commit
        self.spark.createDataFrame([], self.schema()).select(F.expr(expr))
        if (self.snapshot().get("constraints") or {}).get(name) not in (None, expr):
            raise ValueError(
                f"constraint {name!r} already exists with a different "
                "expression — drop it first"
            )
        if validate:
            bad = self.read().filter(
                F.expr(expr).eqNullSafe(F.lit(False))
            ).count()
            if bad:
                raise ConstraintViolation({name: bad})

        def mutate(snap: dict) -> dict:
            cons = dict(snap.get("constraints") or {})
            if cons.get(name) not in (None, expr):
                raise ValueError(
                    f"constraint {name!r} already exists with a different "
                    "expression — drop it first"
                )
            cons[name] = expr
            return {"constraints": cons}

        return self._commit_meta("add-constraint", mutate)

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only commit)."""

        def mutate(snap: dict) -> dict:
            cons = dict(snap.get("constraints") or {})
            if name not in cons:
                raise ValueError(f"no such constraint {name!r}")
            del cons[name]
            return {"constraints": cons}

        return self._commit_meta("drop-constraint", mutate)

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Active CHECK constraints at ``version`` (name -> SQL)."""
        return dict(self.snapshot(version).get("constraints") or {})

    def schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.snapshot()
        return T.StructType.fromJson(snap["schema"])

    # ---------------- read path ----------------

    def _bucket_expr(self, snap: dict) -> F.Column:
        keys = [F.col(c) for c in snap["key_cols"]]
        return F.pmod(F.xxhash64(*keys), F.lit(snap["n_buckets"])).cast("int")

    # scan-time data-sequence column: the commit version encoded in
    # every data path (data/c{version:012d}-{uuid}/...), try_cast so a
    # foreign path yields NULL instead of an ANSI cast error
    _SEQ_EXPR = (
        "try_cast(regexp_extract(_metadata.file_path, '/c([0-9]{12})-', 1)"
        " as bigint)"
    )

    def _read_files(
        self,
        files: list[str],
        schema: T.StructType,
        with_seq: bool = False,
        with_lineage: bool = False,
        with_fpath: bool = False,
        with_pos: bool = False,
    ) -> DataFrame:
        if not files:
            df = self.spark.createDataFrame([], schema)
            if with_seq:
                df = df.withColumn(SEQ_COL, F.lit(None).cast("long"))
            if with_lineage or with_fpath:
                df = df.withColumn("_fpath", F.lit(None).cast("string"))
            if with_lineage:
                df = df.withColumn("_ridx", F.lit(None).cast("long"))
            if with_pos:
                df = df.withColumn("_fkey", F.lit(None).cast("string"))
                df = df.withColumn("_fpos", F.lit(None).cast("long"))
            return df
        paths = [os.path.join(self.root, f) for f in files]
        # explicit schema => old files missing newly-added columns read as NULL
        df = self.spark.read.schema(schema).parquet(*paths)
        if with_seq:
            df = df.withColumn(SEQ_COL, F.expr(self._SEQ_EXPR))
        if with_lineage or with_fpath:
            # the raw ingredients of inherited row lineage (and of
            # verify(deep)'s per-file audit): which file a row came
            # from — and, for lineage, its position in it
            df = df.withColumn("_fpath", F.col("_metadata.file_path"))
        if with_lineage:
            df = df.withColumn("_ridx", F.col("_metadata.row_index"))
        if with_pos:
            # (file key, row position): the coordinates deletion-vector
            # masks are expressed in — independent columns from the
            # lineage pair above so the two features compose freely
            df = df.withColumn(
                "_fkey",
                F.substring_index(F.col("_metadata.file_path"), "/", -3),
            ).withColumn("_fpos", F.col("_metadata.row_index"))
        return df

    def _read_entries(
        self,
        entries: list[dict],
        snap: dict,
        phys: T.StructType,
        with_seq: bool = False,
        with_lineage: bool = False,
        with_fpath: bool = False,
        with_pos: bool = False,
    ) -> DataFrame:
        """Field-id-aware scan of manifest ENTRIES: files are grouped
        by the schema epoch they were written under; each group is
        read with that epoch's physical column names (resolved by
        field id through ``name_log``) and aliased to the CURRENT
        names, so renames never fork history. A current column whose
        id wasn't live at a file's epoch reads as NULL — a re-added
        name (fresh id) can never resurrect dropped data. The common
        case — no rename/drop ever happened — collapses to a single
        identity-mapped read, the exact plan `_read_files` produced
        before field ids existed."""
        fids = snap["field_ids"]
        log = snap["name_log"]
        if with_lineage:
            # materialized lineage columns ride the physical read; files
            # written before (or without) materialization read NULL and
            # fall through to inheritance below
            for lc in (ROWID_COL, LASTSEQ_COL):
                if lc not in phys.fieldNames():
                    phys = T.StructType(
                        phys.fields + [T.StructField(lc, T.LongType(), True)]
                    )
        by_epoch: dict[int, list[str]] = {}
        for e in entries:
            by_epoch.setdefault(int(e.get("epoch", 0)), []).append(e["path"])
        ident_paths: list[str] = []
        mapped: list[DataFrame] = []
        for epoch, paths in sorted(by_epoch.items()):
            emap = log.get(str(epoch))
            if emap is None:
                ident_paths.extend(paths)  # unknown epoch: trust names
                continue
            read_fields: list[T.StructField] = []
            cols: list[F.Column] = []
            identity = True
            for f_ in phys.fields:
                if f_.name in (LSN_COL, OP_COL, ROWID_COL, LASTSEQ_COL):
                    read_fields.append(f_)
                    cols.append(F.col(f_.name))
                    continue
                fid = fids.get(f_.name)
                old = emap.get(str(fid)) if fid is not None else None
                if old is None:
                    # column id didn't exist at this epoch: rows
                    # predate the column -> its initial-default
                    # (Iceberg v3 initial-default), else NULL
                    iv = self._default_value(snap, f_.name, "initial")
                    cols.append(F.lit(iv).cast(f_.dataType).alias(f_.name))
                    identity = False
                else:
                    read_fields.append(T.StructField(old, f_.dataType, True))
                    cols.append(F.col(old).alias(f_.name))
                    if old != f_.name:
                        identity = False
            if identity:
                ident_paths.extend(paths)
            else:
                extras = (
                    ([F.col(SEQ_COL)] if with_seq else [])
                    + ([F.col("_fpath")] if (with_lineage or with_fpath) else [])
                    + ([F.col("_ridx")] if with_lineage else [])
                    + ([F.col("_fkey"), F.col("_fpos")] if with_pos else [])
                )
                mapped.append(
                    self._read_files(
                        paths,
                        T.StructType(read_fields),
                        with_seq=with_seq,
                        with_lineage=with_lineage,
                        with_fpath=with_fpath,
                        with_pos=with_pos,
                    ).select(*(cols + extras))
                )
        out = None
        if ident_paths:
            out = self._read_files(
                ident_paths, phys, with_seq=with_seq,
                with_lineage=with_lineage, with_fpath=with_fpath,
                with_pos=with_pos,
            )
        for df in mapped:
            out = df if out is None else out.unionByName(df)
        if out is None:
            out = self.spark.createDataFrame([], phys)
            if with_seq:
                out = out.withColumn(SEQ_COL, F.lit(None).cast("long"))
            if with_lineage or with_fpath:
                out = out.withColumn("_fpath", F.lit(None).cast("string"))
            if with_lineage:
                out = out.withColumn("_ridx", F.lit(None).cast("long"))
            if with_pos:
                out = out.withColumn("_fkey", F.lit(None).cast("string"))
                out = out.withColumn("_fpos", F.lit(None).cast("long"))
        if with_lineage:
            # inherited row lineage: NULL materialized values resolve to
            # first_row_id(file) + row position / the file's data-
            # sequence number. The per-FILE map is O(manifest) rows and
            # broadcast — an equi-join on the path's last 3 segments
            # (c{version}-{uuid}/_bucket=N/part-*.parquet is unique),
            # never a LIKE (that would plan a nested-loop join).
            lin_rows = []
            for e in entries:
                m = re.search(r"c(\d{12})-", e["path"])
                lin_rows.append(
                    (
                        "/".join(e["path"].split("/")[-3:]),
                        e.get("first_row_id"),
                        int(m.group(1)) if m else None,
                    )
                )
            lmap = self.spark.createDataFrame(
                lin_rows or [(None, None, None)],
                "_lkey string, _frid long, _fseq long",
            )
            out = out.join(
                F.broadcast(lmap),
                F.substring_index(F.col("_fpath"), "/", -3).eqNullSafe(
                    F.col("_lkey")
                ),
                "left",
            )
            out = (
                out.withColumn(
                    ROWID_COL,
                    F.coalesce(F.col(ROWID_COL), F.col("_frid") + F.col("_ridx")),
                )
                .withColumn(
                    LASTSEQ_COL, F.coalesce(F.col(LASTSEQ_COL), F.col("_fseq"))
                )
                .drop(
                    *([] if with_fpath else ["_fpath"]),
                    "_ridx", "_lkey", "_frid", "_fseq",
                )
            )
        return out

    # ----- deletion vectors (Iceberg v3 positional-delete analogue) ----
    #
    # A DV file is a bucket-scoped parquet of (file key, row position)
    # pairs naming physical rows that are DELETED from the snapshot's
    # data files — manifest kind='dv'. Masks apply by broadcast
    # ANTI-JOIN on (_fkey, _fpos) at scan time, BEFORE MOR resolution,
    # so they never add a shuffle: after a DV-only delete on a COW
    # table a full read is still exchange-free (the headline advantage
    # over equality-tombstone MOR, whose resolution costs a key
    # shuffle). delete_where(mode='dv') masks EVERY physical version
    # of a matched key — masking only the winning row would resurrect
    # the previous version. A bucket rewrite (COW merge / compact /
    # DML / rebucket) folds the bucket's masks away with the files
    # they reference.
    _DV_SCHEMA = "_dv_fkey string, _dv_pos long"
    _DV_BROADCAST_MAX = 4_000_000  # masked positions; ~100 MB broadcast

    @staticmethod
    def _file_key(path: str) -> str:
        """Last-3-segments file key — c{ver}-{uuid}/_bucket=N/part-*
        is unique per data file; the same key the row-lineage join
        and _verify_deep use (substring_index(_metadata.file_path,
        '/', -3) reduces to it, scheme-independently)."""
        return "/".join(path.split("/")[-3:])

    def _scan(
        self,
        files: list[dict],
        snap: dict,
        meta_snap: dict | None = None,
        phys: T.StructType | None = None,
        with_lineage: bool = False,
        keep_pos: bool = False,
    ) -> tuple[DataFrame, bool]:
        """THE manifest-entry scan every reader and fold path goes
        through: splits deletion-vector entries out of ``files``,
        reads the data entries (field-id/epoch-aware, with scan-time
        data-sequence numbers whenever MOR deltas are present), and
        applies the snapshot's DV masks for the scanned buckets.
        Returns ``(df, has_delta)`` — has_delta tells the caller
        whether max-LSN resolution is still required. Masks are
        re-derived from ``snap`` by bucket, so a caller passing a
        bounds-pruned file list can never lose one. ``meta_snap``
        overrides the snapshot used for field-id/epoch resolution
        (the change feed reads snap_a's files through snap_b's
        name_log). With no DV entries in scope this is plan-identical
        to the pre-DV direct _read_entries call."""
        meta = meta_snap or snap
        data = [f for f in files if f.get("kind", "base") != "dv"]
        bks = {f["bucket"] for f in data}
        dv = [
            f
            for f in snap["files"]
            if f.get("kind", "base") == "dv" and f["bucket"] in bks
        ]
        has_delta = any(f.get("kind", "base") == "delta" for f in data)
        df = self._read_entries(
            data,
            meta,
            phys or self._phys_schema(meta),
            with_seq=has_delta,
            with_lineage=with_lineage,
            with_pos=bool(dv) or keep_pos,
        )
        if dv:
            mask = (
                self.spark.read.schema(self._DV_SCHEMA)
                .parquet(*[os.path.join(self.root, f["path"]) for f in dv])
                .select(
                    F.col("_dv_fkey").alias("_fkey"),
                    F.col("_dv_pos").alias("_fpos"),
                )
            )
            known = [f.get("rows") for f in dv]
            if all(r is not None for r in known) and sum(known) <= self._DV_BROADCAST_MAX:
                mask = F.broadcast(mask)
            df = df.join(mask, ["_fkey", "_fpos"], "left_anti")
            if not keep_pos:
                df = df.drop("_fkey", "_fpos")
        return df, has_delta

    def _phys_schema(self, snap: dict) -> T.StructType:
        """On-disk read schema: table schema + the _op tombstone column
        (present only in MOR delta files; NULL when read from base)."""
        s = self.schema(snap)
        if OP_COL not in s.fieldNames():
            s = T.StructType(s.fields + [T.StructField(OP_COL, T.StringType(), True)])
        return s

    def _resolve(self, df: DataFrame, snap: dict) -> DataFrame:
        """Merge-on-read resolution: last writer (max _lsn, commit
        tie-break) wins per key; 'D' tombstones drop the key. Exactly
        the microbatch dedup semantics applied at read time — one
        shuffle on the key. The commit tie-break is the scan-derived
        data-sequence number (``with_seq=True`` on the entry read):
        at equal _lsn the LATER COMMIT's row wins — what makes
        row-level MOR DML sound, since its tombstones/updates keep
        the stored _lsn and outrank only by sequence."""
        from ..operators.dedupe import latest_by_key

        order = (
            [LSN_COL]
            + ([SEQ_COL] if SEQ_COL in df.columns else [])
            + (["commit"] if "commit" in df.columns else [])
        )
        latest = latest_by_key(df, snap["key_cols"], order)
        if SEQ_COL in latest.columns:
            latest = latest.drop(SEQ_COL)
        return latest.filter(F.col(OP_COL).isNull() | (F.col(OP_COL) != "D"))

    def read(
        self,
        version: int | None = None,
        include_meta: bool = False,
        include_lineage: bool = False,
    ) -> DataFrame:
        """Resolved table state. ``include_lineage=True`` (requires the
        table's ``row_lineage`` flag) additionally returns ``_row_id``
        (permanent per-row identifier) and ``_last_seq`` (commit that
        last changed the row) — Iceberg v3 row lineage, derived by the
        null-means-inherit rule (see ROWID_COL)."""
        snap = self.snapshot(version)
        if include_lineage and not snap.get("row_lineage"):
            raise ValueError(
                "row lineage is not enabled on this table "
                "(LakeTable.enable_row_lineage / create(row_lineage=True))"
            )
        df, has_delta = self._scan(
            snap["files"], snap, with_lineage=include_lineage
        )
        if has_delta:
            df = self._resolve(df, snap)
        if not include_meta:
            df = df.drop(LSN_COL, OP_COL)
        else:
            df = df.drop(OP_COL)
        return df

    def read_keys(self, keys: list[tuple], version: int | None = None) -> DataFrame:
        """Point/batch lookup with BUCKET PRUNING: hash each requested
        key to its bucket and scan only those buckets' files — at 4096
        buckets a k-key lookup touches ≤ k/4096 of the table's files,
        the LakeTable analogue of Iceberg partition pruning. Returns
        exactly the requested keys' current rows."""
        snap = self.snapshot(version)
        key_cols = snap["key_cols"]
        n = snap["n_buckets"]
        import pyspark.sql.functions as sf

        want_buckets = set()
        # lookup schema uses the table's ACTUAL key-column types: hashing a
        # string-typed literal where the stored key is e.g. bigint would
        # xxhash64 to a different bucket and silently prune the right one
        schema = self.schema(snap)
        lookup_schema = T.StructType([schema[c] for c in key_cols])
        lookup = self.spark.createDataFrame([tuple(k) for k in keys], lookup_schema)
        for r in lookup.select(
            sf.pmod(sf.xxhash64(*[sf.col(c) for c in key_cols]), sf.lit(n)).cast("int").alias("b")
        ).distinct().collect():
            want_buckets.add(r["b"])
        files = [f for f in snap["files"] if f["bucket"] in want_buckets]
        df, has_delta = self._scan(files, snap)
        # ROW-GROUP SKIPPING inside the surviving buckets: merge writes
        # each bucket's rows key-sorted (_first_per_key's window sort
        # is (_bucket, keys asc, ...) and the partitioned write keeps
        # it), so parquet row-group min/max stats on the key columns
        # are tight. Pushing per-column In() filters (a SUPERSET of the
        # requested tuples — every row of a wanted key passes, so
        # MOR resolution below stays correct; the semi join is the
        # authority) lets the scan skip row groups footer-only. Guarded
        # to small lookup sets: a giant In() list costs more in filter
        # eval than it saves.
        if len(keys) <= 256:
            cond = None
            for i, c in enumerate(key_cols):
                vals = sorted({k[i] for k in keys})
                f_ = F.col(c).isin(vals)
                cond = f_ if cond is None else cond & f_
            df = df.filter(cond)
        if has_delta:
            df = self._resolve(df, snap)
        df = df.drop(LSN_COL, OP_COL)
        return df.join(F.broadcast(lookup), key_cols, "left_semi")

    def _semi_prune(
        self, keys_df: DataFrame, snap: dict, probe_limit: int
    ) -> tuple[DataFrame, list[dict], list, bool, set[int], int]:
        """Shared pruning core for ``read_semi`` / ``explain_semi_skipping``.

        Projects ``keys_df`` to the table's key columns CAST to the
        table's key types (a mistyped literal would xxhash64 to a
        different bucket and silently prune the right one — same
        hazard ``read_keys`` guards against). When the distinct key
        set fits ``probe_limit`` the keys are additionally REBUILT as
        a literal DataFrame from the single collected sample, so a
        non-deterministic input plan (unordered limit, sample) cannot
        diverge between the pruning decision and the closing semi
        join; past the limit the projected plan is re-evaluated by
        the bucket job and the caller's join — a non-deterministic
        large keys_df must be materialized by the caller. Two stages:

        1. BUCKET pruning (always): hash the distinct keys to bucket
           ids — one tiny Spark job whose driver-side result is at
           most ``n_buckets`` ints — and keep only those buckets'
           files. Exact, never over-prunes: a key lives in exactly
           one bucket, and keeping the bucket keeps EVERY version of
           the key, so MOR last-writer-wins resolution is untouched.
        2. FILE refinement (only when the distinct key set fits
           ``probe_limit``): evaluate a per-column OR-of-equalities
           tree through ``prune_files`` so the surviving buckets'
           files are additionally admitted by key min/max bounds and
           the equality index (exact set / bloom) when one exists on
           the key columns. The tree is a per-column SUPERSET of the
           requested tuples, and a file holding ANY row of a wanted
           key always admits that key's value — so no version of a
           wanted key is ever dropped (prune_files' delta-bucket
           exemption additionally keeps MOR buckets whole).

        Returns (keys, files, sampled_keys, small, want_buckets,
        bucket_stage_file_count)."""
        from .predicate import And, Or, Pred

        schema = self.schema(snap)
        key_cols = snap["key_cols"]
        n = snap["n_buckets"]
        keys = (
            keys_df.select(
                *[F.col(c).cast(schema[c].dataType).alias(c) for c in key_cols]
            )
            .na.drop()
            .distinct()
        )
        sample = keys.limit(probe_limit + 1).collect()
        small = 0 < len(sample) <= probe_limit
        if small:
            lookup_schema = T.StructType([schema[c] for c in key_cols])
            keys = self.spark.createDataFrame(
                [tuple(r[c] for c in key_cols) for r in sample], lookup_schema
            )
        want = {
            r["b"]
            for r in keys.select(
                F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n))
                .cast("int")
                .alias("b")
            )
            .distinct()
            .collect()
        }
        files = [
            f
            for f in snap["files"]
            if f["bucket"] in want and f.get("kind", "base") != "dv"
        ]  # data entries only — _scan re-attaches the buckets' DV masks
        bucket_stage = len(files)
        if small:
            tree = And(
                [
                    Or([Pred(c, "=", v) for v in {r[c] for r in sample}])
                    for c in key_cols
                ]
            )
            files = self.prune_files(dict(snap, files=files), tree)
        return keys, files, sample, small, want, bucket_stage

    def _reader_schema(self, snap: dict) -> T.StructType:
        """The schema ``read()`` (and the pruned readers) actually
        return: the logical schema minus the internal LSN column —
        empty-result shortcuts must match it exactly or a
        unionByName with a populated result would fail."""
        return T.StructType(
            [f for f in self.schema(snap).fields if f.name != LSN_COL]
        )

    def read_semi(
        self, keys_df: DataFrame, version: int | None = None, probe_limit: int = 1024
    ) -> DataFrame:
        """Runtime join-key file pruning — the dynamic-partition-pruning
        / Iceberg runtime-filtering analogue for LakeTable scans. Given
        a (typically small, already-filtered) DataFrame carrying the
        table's key columns — e.g. the filtered dimension side of a
        star join — return exactly this table's current rows for those
        keys while opening only the files that can hold them: bucket
        pruning always (≤ keys/n_buckets of the table), plus per-file
        key-bounds + equality-index refinement when the distinct key
        set fits ``probe_limit`` (see ``_semi_prune``). At 100 TB this
        is the difference between a dim-filtered join scanning every
        live fact file and scanning O(matching buckets): Spark's own
        DPP needs a partitioned catalog source, so the manifest layer
        supplies it here. Result ≡ ``read().join(keys, key_cols,
        "left_semi")`` regardless of how selective the pruning was —
        the closing semi join is the authority, pruning is only an
        I/O optimisation."""
        snap = self.snapshot(version)
        key_cols = snap["key_cols"]
        keys, files, sample, small, _, _ = self._semi_prune(
            keys_df, snap, probe_limit
        )
        if not files or not sample:
            return self.spark.createDataFrame([], self._reader_schema(snap))
        df, has_delta = self._scan(files, snap)
        if small:
            # row-group skipping inside surviving files: per-column
            # In() is a superset of the wanted tuples (every row of a
            # wanted key passes), so MOR resolution below stays exact.
            cond = None
            for c in key_cols:
                e = F.col(c).isin(sorted({r[c] for r in sample}))
                cond = e if cond is None else cond & e
            df = df.filter(cond)
        if has_delta:
            df = self._resolve(df, snap)
        df = df.drop(LSN_COL, OP_COL)
        rhs = F.broadcast(keys) if small else keys
        return df.join(rhs, key_cols, "left_semi")

    def read_in(
        self,
        col: str,
        values_df: DataFrame,
        version: int | None = None,
        probe_limit: int = 1024,
    ) -> DataFrame:
        """Runtime IN-list file skipping on an ARBITRARY column — the
        non-key half of the DPP story (``read_semi`` covers the key
        columns): given a DataFrame of wanted values for ``col``
        (e.g. the distinct langs a filtered dim admits), prune files
        through the manifest value bounds and the equality index when
        one exists on ``col``, then apply the exact filter. When the
        distinct value set exceeds ``probe_limit`` nothing prunes and
        the scan falls back to a left-semi join — result is identical
        either way: ``read().join(values, col, 'left_semi')``.
        Unlike ``read_semi`` there is no bucket stage (the layout
        hashes keys, not ``col``), so pruning bites only where the
        data is clustered or equality-indexed on ``col`` — pair with
        ``compact(cluster_by=[col])`` or ``alter_skip_columns``."""
        from .predicate import And, Or, Pred

        snap = self.snapshot(version)
        schema = self.schema(snap)
        if col not in schema.fieldNames():
            raise ValueError(f"unknown column {col!r}")
        src = col if col in values_df.columns else None
        if src is None:
            if len(values_df.columns) != 1:
                raise ValueError(
                    f"values_df must carry column {col!r} or exactly one column"
                )
            src = values_df.columns[0]
        vals_df = (
            values_df.select(F.col(src).cast(schema[col].dataType).alias(col))
            .na.drop()
            .distinct()
        )
        sample = vals_df.limit(probe_limit + 1).collect()
        if not sample:
            return self.spark.createDataFrame([], self._reader_schema(snap))
        if len(sample) <= probe_limit:
            vals = sorted({r[col] for r in sample})
            files = self.prune_files(snap, Or([Pred(col, "=", v) for v in vals]))
            df, has_delta = self._scan(files, snap)
            if has_delta:
                df = self._resolve(df, snap)
            df = df.drop(LSN_COL, OP_COL)
            return df.filter(F.col(col).isin(vals))
        return self.read(version).join(vals_df, col, "left_semi")

    def join_bucketed(
        self,
        other: "LakeTable",
        on: "list[tuple[str, str] | str] | None" = None,
        how: str = "inner",
        where: str | None = None,
        other_where: str | None = None,
        version: int | None = None,
        other_version: int | None = None,
        select: "list[str] | None" = None,
        buckets: "list[int] | None" = None,
    ) -> DataFrame:
        """Storage-partitioned join with ``other`` (the Iceberg SPJ /
        Spark bucketed-join analogue): a zero-shuffle equi-join
        executed one co-located bucket group at a time on executors —
        see ``streaming.source.LakeTableJoinSource`` for the full
        contract (key coverage, compatible bucket counts, output
        naming). ``on`` is a list of left column names or
        ``(left, right)`` pairs, defaulting to the positional pairing
        of the two tables' bucket keys; ``where``/``other_where``
        take ``read_where``-style SQL predicate strings that prune
        each side's manifests before the join. At 100 TB the
        alternative — Exchange-ing both tables on the join key — is
        the single largest cost in a typical star rebuild; this scan
        never plans an Exchange at all (plan-pinned in
        tests/test_spj.py)."""
        from ..streaming.source import LakeTableJoinSource  # lazy: no cycle

        self.spark.dataSource.register(LakeTableJoinSource)
        if on is None:
            pairs = list(zip(self.snapshot()["key_cols"], other.snapshot()["key_cols"]))
        else:
            pairs = [(p, p) if isinstance(p, str) else tuple(p) for p in on]
        r = (
            self.spark.read.format("laketable_join")
            .option("left", self.root)
            .option("right", other.root)
            .option("how", how)
            .option("on", ",".join(f"{a}:{b}" for a, b in pairs))
        )
        if where is not None:
            r = r.option("leftWhere", where)
        if other_where is not None:
            r = r.option("rightWhere", other_where)
        if version is not None:
            r = r.option("leftVersionAsOf", version)
        if other_version is not None:
            r = r.option("rightVersionAsOf", other_version)
        if select is not None:
            r = r.option("columns", ",".join(select))
        if buckets is not None:
            # restrict to co-located bucket GROUPS (ids at the coarser
            # count) — the incremental join-view path recomputes only
            # groups either side's change feed touched
            r = r.option("buckets", ",".join(str(b) for b in buckets))
        return r.load()

    def explain_join(
        self,
        other: "LakeTable",
        how: str = "inner",
        where: str | None = None,
        other_where: str | None = None,
        version: int | None = None,
        other_version: int | None = None,
    ) -> dict:
        """Dry-run ``join_bucketed``'s planning decision — O(metadata),
        no data file opened (the ``explain_skipping`` analogue for the
        storage-partitioned join). Reports how many co-located bucket
        groups the join would execute vs skip (empty required side),
        and per side how many files/bytes the ``where`` predicates
        admit vs prune — the numbers that decide whether a selective
        view refresh reads gigabytes or kilobytes."""
        lsnap = self.snapshot(version)
        rsnap = other.snapshot(other_version)
        bl, br = lsnap["n_buckets"], rsnap["n_buckets"]
        if max(bl, br) % min(bl, br) != 0:
            raise ValueError(f"incompatible bucket counts {bl} vs {br}")
        bc = min(bl, br)

        def side(t: "LakeTable", snap: dict, w) -> tuple[dict, dict]:
            live = [f for f in snap["files"] if f.get("kind", "base") != "dv"]
            adm = (
                {f["path"] for f in t.prune_files(snap, str(w))}
                if w is not None
                else None
            )
            kept = [f for f in live if adm is None or f["path"] in adm]
            by_group: dict[int, int] = {}
            for f in kept:
                g = f["bucket"] % bc
                by_group[g] = by_group.get(g, 0) + 1
            stats = {
                "files_total": len(live),
                "files_admitted": len(kept),
                "bytes_admitted": sum(f.get("bytes") or 0 for f in kept),
                "bytes_total": sum(f.get("bytes") or 0 for f in live),
            }
            return stats, by_group

        lstat, lg = side(self, lsnap, where)
        rstat, rg = side(other, rsnap, other_where)
        need_l = how in ("inner", "left", "semi", "anti")
        need_r = how in ("inner", "right", "semi")
        run = []
        for g in range(bc):
            if need_l and not lg.get(g):
                continue
            if need_r and not rg.get(g):
                continue
            if how == "full" and not lg.get(g) and not rg.get(g):
                continue
            run.append(g)
        return {
            "how": how,
            "bucket_counts": (bl, br),
            "groups_total": bc,
            "groups_run": len(run),
            "groups_skipped": bc - len(run),
            "left": lstat,
            "right": rstat,
        }

    def explain_semi_skipping(
        self, keys_df: DataFrame, version: int | None = None, probe_limit: int = 1024
    ) -> dict:
        """Dry-run ``read_semi``'s pruning decision — no data file is
        opened (only the tiny key-hash job runs). Reports the bucket
        stage and the bounds/equality-index refinement separately so
        an operator can see WHICH lever pruned (and whether adding an
        equality index on the key columns would help)."""
        snap = self.snapshot(version)
        _keys, files, sample, small, want, bucket_stage = self._semi_prune(
            keys_df, snap, probe_limit
        )
        total_bytes = sum(f.get("bytes") or 0 for f in snap["files"])
        kept_bytes = sum(f.get("bytes") or 0 for f in files)
        return {
            "version": snap["version"],
            "n_buckets": snap["n_buckets"],
            "buckets_wanted": len(want),
            "files_total": len(snap["files"]),
            "files_kept_bucket_stage": bucket_stage,
            "files_kept": len(files),
            "files_skipped": len(snap["files"]) - len(files),
            "bytes_total": total_bytes,
            "bytes_kept": kept_bytes,
            "bytes_skipped": total_bytes - kept_bytes,
            "refined": small,
            "keys_sampled": len(sample),
        }

    # ----- declared partition spec (Iceberg partition transforms) -----
    #
    # The Iceberg table-spec partition pillar: a DECLARED list of
    # (transform, source-column) fields beside the native key-bucket
    # layout. Every data file a later commit writes holds rows of
    # exactly ONE partition tuple (the write splits on transform
    # values), the manifest entry records that tuple (spec id + value
    # list, field-id keyed), and prune_files evaluates predicates
    # against the tuple BEFORE the min/max bounds — partition pruning
    # is exact by construction (a day-partitioned file cannot straddle
    # days), where bounds pruning is only as tight as the clustering.
    # Spec evolution is a metadata-only commit like rebucket: old
    # files keep their original spec id + tuple and keep pruning under
    # it; new writes use the new spec; compaction migrates.
    #
    # Transforms (Iceberg names and integer encodings): identity,
    # years/months/days (date|timestamp, offsets since 1970-01-01),
    # hours (timestamp), truncate[W] (string prefix / integer floor-
    # to-width with positive remainder). hash-bucketing is NOT a spec
    # transform here — it is the table's native key layout already.

    _SPEC_TYPES = {
        "identity": ("string", "bigint", "int", "smallint", "tinyint", "date"),
        "years": ("date", "timestamp"),
        "months": ("date", "timestamp"),
        "days": ("date", "timestamp"),
        "hours": ("timestamp",),
        "truncate": ("string", "bigint", "int", "smallint", "tinyint"),
    }
    _SPEC_INT_TYPES = ("bigint", "int", "smallint", "tinyint")

    @staticmethod
    def _parse_spec_field(item) -> tuple:
        """``'days(ts)'`` | ``'truncate(repo, 8)'`` | ``('days','ts')``
        | ``('truncate','repo',8)`` -> (transform, col, param|None)."""
        if isinstance(item, str):
            m = re.fullmatch(
                r"\s*(\w+)\s*\(\s*([A-Za-z_]\w*)\s*(?:,\s*(\d+)\s*)?\)\s*", item
            )
            if not m:
                raise ValueError(
                    f"bad partition field {item!r} — use e.g. 'days(ts)', "
                    "'identity(lang)' or 'truncate(repo, 8)'"
                )
            return m.group(1).lower(), m.group(2), (
                int(m.group(3)) if m.group(3) else None
            )
        t = str(item[0]).lower()
        param = int(item[2]) if len(item) > 2 and item[2] is not None else None
        return t, str(item[1]), param

    def alter_partition_spec(self, fields) -> int:
        """Declare (or change) the table's partition spec — a
        metadata-only commit; no data file is touched. ``fields`` is a
        list of transform strings/tuples (``_parse_spec_field``);
        ``None``/``[]`` reverts to unpartitioned (spec 0). Identical
        field lists reuse their existing spec id (Iceberg's spec-id
        reuse); otherwise a fresh id is appended — specs are NEVER
        mutated in place, because existing files prune under the spec
        id they were written with. Source columns are recorded by
        FIELD ID (+ their type), so the spec survives renames; DROPPING
        a column the CURRENT spec references is blocked."""
        parsed = [self._parse_spec_field(x) for x in (fields or [])]

        def mutate(snap: dict) -> dict | None:
            schema = self.schema(snap)
            fids = snap["field_ids"]
            new_fields = []
            for t, col, param in parsed:
                if t not in self._SPEC_TYPES:
                    raise ValueError(
                        f"unknown transform {t!r} — one of {sorted(self._SPEC_TYPES)}"
                    )
                if col == LSN_COL or col not in schema.fieldNames():
                    raise ValueError(f"no such partitionable column {col!r}")
                simple = schema[col].dataType.simpleString()
                if simple not in self._SPEC_TYPES[t]:
                    raise ValueError(
                        f"{t}({col}): type {simple} unsupported — needs one of "
                        f"{self._SPEC_TYPES[t]}"
                        + (" (use days()/hours() for timestamps)" if t == "identity" else "")
                    )
                if t == "truncate":
                    if not param or param < 1:
                        raise ValueError("truncate needs a width >= 1: truncate(col, W)")
                elif param is not None:
                    raise ValueError(f"{t} takes no parameter")
                new_fields.append(
                    {"transform": t, "fid": fids[col], "param": param, "src": simple}
                )
            specs = {
                k: list(v)
                for k, v in (snap.get("partition_specs") or {"0": []}).items()
            }
            target = None
            for sid, flds in specs.items():
                if flds == new_fields:
                    target = int(sid)
                    break
            if target is None:
                target = max(int(k) for k in specs) + 1
                specs[str(target)] = new_fields
            if target == int(snap.get("default_spec", 0) or 0):
                return None  # no-op: already the default
            return {"partition_specs": specs, "default_spec": target}

        return self._commit_meta("set-partition-spec", mutate)

    def _guard_spec_refs(self, snap: dict, col: str, verb: str) -> None:
        """Dropping a column the CURRENT partition spec references
        would silently stop partitioning every later write — blocked
        (Iceberg's REPLACE PARTITION FIELD discipline). Renames are
        free: spec fields are field-id keyed."""
        fid = (snap.get("field_ids") or {}).get(col)
        cur = (snap.get("partition_specs") or {}).get(
            str(snap.get("default_spec", 0) or 0)
        ) or []
        if fid is not None and any(f["fid"] == fid for f in cur):
            raise ValueError(
                f"cannot {verb} column {col!r}: referenced by the current "
                "partition spec — alter_partition_spec([...]) it away first"
            )

    @staticmethod
    def _pt_expr(fld: dict, src: str) -> F.Column:
        """The transform as a pure-codegen Column over current column
        name ``src`` (session TZ is UTC — epoch math is exact)."""
        t, p = fld["transform"], fld.get("param")
        c = F.col(src)
        if t == "identity":
            return c
        if t == "days":
            if fld["src"] == "date":
                return F.datediff(c, F.lit("1970-01-01"))
            return F.floor(c.cast("double") / 86400).cast("int")
        if t == "hours":
            return F.floor(c.cast("double") / 3600).cast("int")
        if t == "months":
            return (F.year(c) - 1970) * 12 + F.month(c) - 1
        if t == "years":
            return F.year(c) - 1970
        if t == "truncate":
            if fld["src"] == "string":
                return F.substring(c, 1, p)
            # Iceberg integer truncate: v - (((v % W) + W) % W)
            return c - F.pmod(c, F.lit(p))
        raise ValueError(f"unknown transform {t!r}")

    @classmethod
    def _pt_decode(cls, fld: dict, raw: "str | None"):
        """Hive-escaped partition dirname value -> typed tuple value
        (None = the transform source was NULL for every row)."""
        from urllib.parse import unquote

        if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        v = unquote(raw)
        t = fld["transform"]
        if t in ("years", "months", "days", "hours"):
            return int(v)
        if fld["src"] in cls._SPEC_INT_TYPES:
            return int(v)
        return v  # string / ISO date — lexicographic == value order

    @staticmethod
    def _pt_range(fld: dict, v) -> "tuple | None":
        """The CLOSED range of SOURCE-column values (in ``_json_bound``
        encoding) a partition-tuple value covers — the 'degenerate
        exact bounds' view of a transform tuple."""
        import datetime as _dt

        t, p, src = fld["transform"], fld.get("param"), fld["src"]
        if t == "identity":
            return v, v
        if t == "truncate":
            if isinstance(v, int):
                return v, v + p - 1
            return v, v + "\U0010ffff"  # every string with this prefix
        iso = lambda d: d.isoformat(sep=" ", timespec="microseconds")  # noqa: E731
        if t == "days":
            if src == "date":
                s = (_dt.date(1970, 1, 1) + _dt.timedelta(days=v)).isoformat()
                return s, s
            lo = _dt.datetime(1970, 1, 1) + _dt.timedelta(days=v)
            return iso(lo), iso(lo + _dt.timedelta(days=1, microseconds=-1))
        if t == "hours":
            lo = _dt.datetime(1970, 1, 1) + _dt.timedelta(hours=v)
            return iso(lo), iso(lo + _dt.timedelta(hours=1, microseconds=-1))
        if t in ("months", "years"):
            if t == "months":
                y, m = 1970 + v // 12, v % 12 + 1
                y2, m2 = (y, m + 1) if m < 12 else (y + 1, 1)
            else:
                y, m, y2, m2 = 1970 + v, 1, 1971 + v, 1
            if src == "date":
                return (
                    _dt.date(y, m, 1).isoformat(),
                    (_dt.date(y2, m2, 1) - _dt.timedelta(days=1)).isoformat(),
                )
            return (
                iso(_dt.datetime(y, m, 1)),
                iso(_dt.datetime(y2, m2, 1) - _dt.timedelta(microseconds=1)),
            )
        return None

    # ----- predicate-driven file skipping (Iceberg lower/upper_bounds) -----

    _PRUNE_OPS = ("=", "==", "<", "<=", ">", ">=", "is_null", "is_not_null")

    # snapshot fields the engine owns — user props (merge(props=...))
    # may not shadow them
    _ENGINE_SNAP_KEYS = frozenset(
        {
            "version", "schema", "key_cols", "n_buckets", "files",
            "ledger", "parent", "committed_at", "operation", "manifests",
            "row_lineage", "next_row_id", "field_ids", "name_log",
            "next_field_id", "schema_epoch", "defaults", "constraints",
            "col_stats", "skip_fids", "write_order", "dml", "sink_hwm",
            "clone_source", "clone_source_version", "n_files", "_bucket_src",
            "partition_specs", "default_spec",
        }
    )
    _NULL_OPS = ("is_null", "is_not_null")

    # equality-skipping index parameters (Iceberg Puffin bloom-blob
    # analogue). Blooms are NDV-SIZED at ~10 bits/element (k=7 probes
    # => fpp ~0.8%) — a fixed-size bloom saturates exactly at the file
    # sizes where skipping matters most. Small blooms (<= _BLOOM_INLINE
    # bits) inline into the manifest entry; larger ones are written as
    # content-addressed SIDECAR files under _meta/index/ (the Puffin
    # file analogue) referenced by path, capped at _BLOOM_MAX_BITS
    # (1 MiB => files up to ~838k distinct values; beyond that nothing
    # is stored — unknown never mis-prunes, it just doesn't prune).
    _BLOOM_K = 7
    _BLOOM_BITS_PER_EL = 10
    _BLOOM_INLINE = 8192  # bits; <= 1 KiB base64s into the manifest
    _BLOOM_MAX_BITS = 1 << 23
    _CSET_MAX = 64  # exact distinct-set cap (categorical columns)

    @staticmethod
    def _eq_hash(v) -> tuple[int, int]:
        """Two independent 64-bit hashes of an equality-indexable
        value (string or integer), identical at build and probe time.
        Floats/timestamps are not indexable (equality on them is
        ill-posed across engines)."""
        import hashlib

        if isinstance(v, bool) or not isinstance(v, (str, int)):
            raise TypeError(f"not equality-indexable: {type(v).__name__}")
        raw = v.encode("utf-8") if isinstance(v, str) else b"i:%d" % v
        d = hashlib.md5(raw).digest()
        return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big")

    @classmethod
    def _bloom_bits_for(cls, ndv: int) -> int | None:
        m = 1024
        while m < cls._BLOOM_BITS_PER_EL * ndv:
            m <<= 1
            if m > cls._BLOOM_MAX_BITS:
                return None
        return m

    @classmethod
    def _bloom_build(cls, values) -> bytes | None:
        """Bitset over the distinct values (numpy-vectorized probe
        scatter), or None when the column is not indexable or too
        distinct for the size cap."""
        import numpy as np

        m = cls._bloom_bits_for(len(values))
        if m is None:
            return None
        try:
            pairs = [cls._eq_hash(v) for v in values]
        except TypeError:
            return None
        h1 = np.array([p[0] for p in pairs], dtype=np.uint64)
        h2 = np.array([p[1] for p in pairs], dtype=np.uint64)
        mask = np.uint64(m - 1)  # m is a power of two
        bits = np.zeros(m // 8, dtype=np.uint8)
        for j in range(cls._BLOOM_K):
            pos = (h1 + np.uint64(j) * h2) & mask
            np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                             np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))
        return bits.tobytes()

    @classmethod
    def _bloom_probe(cls, raw: bytes, val) -> bool:
        """False => the value is PROVABLY absent from the file."""
        try:
            h1, h2 = cls._eq_hash(val)
        except TypeError:
            return True  # unindexable probe value: cannot prune
        m = len(raw) * 8
        for j in range(cls._BLOOM_K):
            p = (h1 + j * h2) % m
            if not (raw[p >> 3] >> (p & 7)) & 1:
                return False
        return True

    def _bloom_maybe(self, ref: str, val) -> bool:
        """Resolve an inline (``b64:...``) or sidecar (``idx:<rel>``)
        bloom reference and probe it. Sidecar bytes are cached (small
        bounded FIFO — probes during one prune_files pass hit the same
        few files repeatedly)."""
        import base64

        if ref.startswith("b64:"):
            return self._bloom_probe(base64.b64decode(ref[4:]), val)
        rel = ref[4:]  # "idx:<relpath>"
        raw = self._bloom_cache.get(rel)
        if raw is None:
            try:
                with open(os.path.join(self.root, rel), "rb") as f:
                    raw = f.read()
            except FileNotFoundError:
                return True  # sidecar GC'd ahead of us: cannot prune
            if len(self._bloom_cache) >= 64:
                self._bloom_cache.pop(next(iter(self._bloom_cache)))
            self._bloom_cache[rel] = raw
        return self._bloom_probe(raw, val)

    def _bloom_store(self, raw: bytes) -> str:
        """Inline small blooms; write large ones as content-addressed
        sidecars (idempotent: same bits => same path, os.link race is
        benign)."""
        import base64
        import hashlib

        if len(raw) * 8 <= self._BLOOM_INLINE:
            return "b64:" + base64.b64encode(raw).decode("ascii")
        name = hashlib.sha1(raw).hexdigest() + ".bloom"
        rel = os.path.join("_meta", "index", name)
        path = os.path.join(self.root, rel)
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "wb") as f:
                f.write(raw)
            try:
                os.link(tmp, path)
            except FileExistsError:
                pass  # concurrent writer stored identical content
            finally:
                os.remove(tmp)
        return "idx:" + rel

    @classmethod
    def _bound_excludes(
        cls, entry: dict, col: str, op: str, val, bloom_resolver=None
    ) -> bool:
        """True iff the file's manifest bounds PROVE no row satisfies
        ``col <op> val`` (NULL rows never satisfy a comparison, and
        bounds cover exactly the non-NULL rows). Missing bounds —
        pre-stats manifests, untracked types, all-NULL columns — never
        exclude. ``bloom_resolver`` (an instance's ``_bloom_maybe``)
        additionally resolves sidecar bloom refs; without it only
        inline blooms participate."""
        if op in cls._NULL_OPS:
            # null-count stats (Iceberg null_value_counts): IS NULL
            # skips files with zero nulls in the column, IS NOT NULL
            # skips files where the column is entirely NULL (the case
            # min/max bounds cannot see — an all-NULL column has no
            # bounds at all). Unknown counts never prune.
            nc = (entry.get("cnull") or {}).get(col)
            if nc is None:
                return False
            if op == "is_null":
                return nc == 0
            rows = entry.get("rows")
            return rows is not None and nc == rows
        if op in ("=", "=="):
            # equality index first: exact distinct set (categorical
            # columns), then the per-file bloom — both PROVE absence,
            # independent of any clustering, where min/max bounds on a
            # hashed layout span the domain and prove nothing
            s = (entry.get("cset") or {}).get(col)
            if s is not None:
                try:
                    if cls._json_bound(val) not in s:
                        return True
                except TypeError:
                    pass
            bb = (entry.get("cbloom") or {}).get(col)
            if bb is not None:
                if bloom_resolver is not None:
                    if not bloom_resolver(bb, val):
                        return True
                elif bb.startswith("b64:"):
                    # classmethod context (no table handle): inline
                    # blooms only; sidecar refs stay unknown => keep
                    import base64

                    if not cls._bloom_probe(base64.b64decode(bb[4:]), val):
                        return True
        lo = (entry.get("cmin") or {}).get(col)
        hi = (entry.get("cmax") or {}).get(col)
        if lo is None or hi is None:
            return False
        return cls._range_excludes(lo, hi, op, val)

    @staticmethod
    def _range_excludes(lo, hi, op, val) -> bool:
        """True iff a CLOSED [lo, hi] value range PROVES no element
        satisfies ``<op> val`` — shared by manifest bounds and
        partition-tuple pruning."""
        try:
            if op in ("=", "=="):
                return val < lo or val > hi
            if op == "<":
                return lo >= val
            if op == "<=":
                return lo > val
            if op == ">":
                return hi <= val
            if op == ">=":
                return hi < val
        except TypeError:
            return False  # incomparable predicate/bound types: keep
        return False

    def prune_files(self, snap: dict, predicates: list[tuple]) -> list[dict]:
        """Manifest entries that can contain rows matching the AND of
        ``predicates`` (each ``(col, op, value)``, op in _PRUNE_OPS).
        O(metadata) — no file is opened. MOR safety: a bucket holding
        ANY delta file is exempt (kept whole): last-writer-wins
        resolution needs every version of a key, and skipping the
        delta carrying a key's latest (non-matching) row would let a
        stale matching row win. Base-only buckets prune per file —
        each live key's single current row either matches (its file is
        kept) or is filtered out anyway.

        Rename-safe: bounds live in manifests under the PHYSICAL name
        the file was written with, so each predicate column resolves
        through its field id to the file's epoch name before the
        lookup (after ``rename a->c; rename b->a``, a predicate on
        current ``a`` must check old files' ``b`` bounds — a raw
        name lookup would read original ``a``'s and mis-prune). A
        base file whose epoch PREDATES the column's existence holds
        only NULLs for it, and NULL never satisfies a comparison, so
        it prunes outright.

        ``predicates`` may also be a SQL predicate STRING over the
        supported subset (AND/OR/parens, comparisons, IS [NOT] NULL,
        IN, BETWEEN — plans/predicate.py): the parsed tree is
        evaluated compositionally — AND excludes a file when any
        branch proves exclusion, OR only when every branch does, so
        ``lang = 'py' OR lang IS NULL`` keeps exactly the files either
        side admits. Unknown always keeps."""
        from .predicate import (
            And,
            Or,
            ParseError,
            Pred,
            evaluate_excludes,
            parse_predicate,
        )

        if isinstance(predicates, str):
            try:
                tree = parse_predicate(predicates)
            except ParseError:
                # the documented contract (plans/predicate.py): a
                # predicate outside the prunable subset (functions,
                # arithmetic, NOT, ...) falls back to a plain filtered
                # scan — tree=None keeps every file; the row-level
                # F.expr filter downstream still applies it exactly
                # (truly malformed SQL surfaces there as an analysis
                # error instead of a misleading prune failure)
                tree = None
        elif isinstance(predicates, (And, Or, Pred)):
            tree = predicates  # pre-built AST (read_semi's IN trees)
        else:
            leaves = []
            for col, op, val in predicates:
                if op not in self._PRUNE_OPS:
                    raise ValueError(f"unsupported prune op {op!r}")
                if op in self._NULL_OPS:
                    leaves.append(Pred(col, op))
                elif val is not None:
                    leaves.append(Pred(col, "=" if op == "==" else op, val))
            tree = And(leaves) if leaves else None
        fids = snap.get("field_ids") or {}
        log = snap.get("name_log") or {}

        def _phys(col: str, epoch: int) -> str | None:
            """Column's physical name at ``epoch``; None => the column
            (by id) did not exist in files of that epoch."""
            fid = fids.get(col)
            if fid is None:
                return col  # meta column / pre-field-id snapshot
            emap = log.get(str(epoch))
            if emap is None:
                return col  # unknown epoch: trust the current name
            return emap.get(str(fid))

        specs = snap.get("partition_specs") or {}

        def _pt_excludes(f: dict, p: "Pred") -> bool:
            """Partition-tuple pruning, evaluated BEFORE bounds: the
            file's declared tuple (under the spec it was WRITTEN with)
            is an exact single-partition guarantee, so exclusion here
            never depends on clustering. Files from pre-spec commits
            have no tuple and fall through to bounds."""
            pt = f.get("pt")
            if not specs or pt is None:
                return False
            fields = specs.get(str(f.get("spec", 0))) or []
            fid = fids.get(p.col)
            if fid is None:
                return False
            for i, fld in enumerate(fields):
                if i >= len(pt) or fld["fid"] != fid:
                    continue
                v = pt[i]
                if v is None:
                    # the whole file's source column is NULL
                    return p.op != "is_null"
                if p.op == "is_null":
                    return True  # transforms are null-preserving
                if p.op == "is_not_null":
                    return False
                val = self._json_bound(p.val)
                if val is None:
                    return False
                rng = self._pt_range(fld, v)
                if rng is not None and self._range_excludes(
                    rng[0], rng[1], p.op, val
                ):
                    return True
            return False

        def _leaf_excludes(f: dict, p: "Pred") -> bool:
            if _pt_excludes(f, p):
                return True
            pcol = _phys(p.col, int(f.get("epoch", 0)))
            if pcol is None:
                # column born after this file: every row is NULL, so
                # IS NULL matches (keep) and everything else excludes
                return p.op != "is_null"
            val = None if p.op in self._NULL_OPS else self._json_bound(p.val)
            if val is None and p.op not in self._NULL_OPS:
                return False  # unencodable literal: unknown keeps
            return self._bound_excludes(
                f, pcol, p.op, val, bloom_resolver=self._bloom_maybe
            )

        delta_buckets = {
            f["bucket"] for f in snap["files"] if f.get("kind", "base") == "delta"
        }
        # DV entries are masks, not data: they never satisfy a predicate
        # themselves and _scan re-attaches them by bucket at read time,
        # so pruning excludes them (a dv entry admitted here would
        # otherwise mark its bucket 'touched' in DML for no reason)
        return [
            f
            for f in snap["files"]
            if f.get("kind", "base") != "dv"
            and (
                f["bucket"] in delta_buckets
                or tree is None
                or not evaluate_excludes(tree, lambda p, _f=f: _leaf_excludes(_f, p))
            )
        ]

    def read_where(
        self, predicates: "list[tuple] | str", version: int | None = None
    ) -> DataFrame:
        """Filtered table scan with FILE-LEVEL data skipping: files
        whose manifest value bounds exclude the predicate conjunction
        are never opened (prune_files), the surviving files still get
        the predicate pushed into the parquet scan (row-group
        skipping), and the exact filter is applied on top — so the
        result equals ``read().filter(...)`` regardless of how
        selective the bounds were. Pair with
        ``compact(cluster_by=[...])`` to give the bounds something to
        bite on: after a clustered rewrite a selective predicate opens
        O(matching) files instead of every live file."""
        snap = self.snapshot(version)
        files = self.prune_files(snap, predicates)
        df, has_delta = self._scan(files, snap)
        if has_delta:
            df = self._resolve(df, snap)
        df = df.drop(LSN_COL, OP_COL)
        cond = self._pred_cond(predicates)
        return df.filter(cond) if cond is not None else df

    @staticmethod
    def _pred_cond(predicates: "list[tuple] | str"):
        """The exact row-level Column for ``predicates`` — for a SQL
        string the predicate itself (the parser accepts only
        Spark-evaluable SQL, so a pruned scan + this filter equals
        read().filter(...) verbatim), for tuples the conjunction."""
        if isinstance(predicates, str):
            return F.expr(predicates)
        cond = None
        for col, op, val in predicates:
            c = F.col(col)
            if op == "is_null":
                e = c.isNull()
            elif op == "is_not_null":
                e = c.isNotNull()
            else:
                e = {
                    "=": c == val,
                    "==": c == val,
                    "<": c < val,
                    "<=": c <= val,
                    ">": c > val,
                    ">=": c >= val,
                }[op]
            cond = e if cond is None else cond & e
        return cond

    def explain_skipping(
        self, predicates: "list[tuple] | str", version: int | None = None
    ) -> dict:
        """Dry-run the file-skipping decision for ``predicates`` —
        O(metadata), no data file opened, no scan started. The
        operator's answer to "would this predicate prune, and if not,
        why": how many files/bytes the scan would open vs skip, and
        how many survivors are only kept because their bucket holds
        MOR deltas (the resolution exemption — compaction is the fix
        if that number dominates)."""
        snap = self.snapshot(version)
        kept = self.prune_files(snap, predicates)
        kept_paths = {f["path"] for f in kept}
        # data entries only: DV masks are neither kept nor skipped by a
        # predicate — they ride the surviving buckets (reported below)
        data = [f for f in snap["files"] if f.get("kind", "base") != "dv"]
        delta_buckets = {
            f["bucket"] for f in data if f.get("kind", "base") == "delta"
        }
        base_only = [f for f in data if f["bucket"] not in delta_buckets]
        kept_if_no_deltas = (
            self.prune_files(dict(snap, files=base_only), predicates)
            if delta_buckets
            else kept
        )
        total_bytes = sum(f.get("bytes") or 0 for f in data)
        kept_bytes = sum(f.get("bytes") or 0 for f in kept)
        kept_buckets = {f["bucket"] for f in kept}
        return {
            "version": snap["version"],
            "files_total": len(data),
            "files_kept": len(kept),
            "files_skipped": len(data) - len(kept),
            "dv_mask_files": sum(
                1
                for f in snap["files"]
                if f.get("kind", "base") == "dv" and f["bucket"] in kept_buckets
            ),
            "bytes_total": total_bytes,
            "bytes_kept": kept_bytes,
            "bytes_skipped": total_bytes - kept_bytes,
            "kept_for_delta_resolution": sum(
                1 for f in kept if f["bucket"] in delta_buckets
            ),
            "base_files_admitted_by_stats": len(kept_if_no_deltas),
            # attribution: files ONLY the declared partition tuple could
            # exclude (min/max bounds alone would have admitted them) —
            # the operator's measure of what the partition spec buys
            # over clustering on this predicate
            "skipped_by_partition_only": (
                len(
                    self.prune_files(
                        dict(
                            snap,
                            files=[
                                {k: v for k, v in f.items() if k != "pt"}
                                for f in data
                            ],
                        ),
                        predicates,
                    )
                )
                - len(kept)
                if any(f.get("pt") is not None for f in data)
                else 0
            ),
            "paths_kept_sample": sorted(kept_paths)[:10],
        }

    @staticmethod
    def _files_by_bucket(snap: dict) -> dict[int, tuple[str, ...]]:
        by: dict[int, list[str]] = {}
        for f in snap["files"]:
            by.setdefault(f["bucket"], []).append(f["path"])
        return {b: tuple(sorted(ps)) for b, ps in by.items()}

    def changed_buckets(self, from_version: int, to_version: int | None = None) -> set[int]:
        """Buckets whose file sets differ between the two snapshots —
        the pruning unit for the change feed. With split manifests the
        diff is a POINTER compare (content-addressed names: equal
        pointer <=> identical file entries) — O(n_buckets), no
        manifest file read; pre-split snapshots fall back to the
        O(file metadata) entry compare."""
        sa = self.snapshot(from_version)
        sb = self.snapshot(to_version)
        ma, mb = sa.get("manifests"), sb.get("manifests")
        if ma is not None and mb is not None:
            return {
                int(k) for k in (set(ma) | set(mb)) if ma.get(k) != mb.get(k)
            }
        a = self._files_by_bucket(sa)
        b = self._files_by_bucket(sb)
        return {k for k in (set(a) | set(b)) if a.get(k) != b.get(k)}

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        include_preimage: bool = False,
        include_row_ids: bool = False,
    ) -> DataFrame:
        """Change-data-feed between two snapshots (Iceberg/Delta CDF
        analogue): one row per key whose stored state differs, with
        ``_change_type`` in {'insert','update','delete'}. Deletes carry
        the pre-image values, inserts/updates the post-image. With
        ``include_preimage`` an updated key emits TWO rows —
        'update_preimage' (old values) and 'update_postimage' (new) —
        the Delta CDF row shape that downstream incremental view
        maintenance needs to retract the old contribution (a pure
        explode over the same single-join plan, no second pass).

        Scale path: only buckets whose FILE SETS changed between the
        versions are read on either side (``changed_buckets``) — a
        microbatch that touched k of 4096 buckets diffs k/4096 of the
        table, and the per-key compare is a key-equi full-outer join
        of two identically-bucketed sides (AQE plans it; both inputs
        are pre-hashed subsets, never the whole table).

        ``include_row_ids`` (requires the table's ``row_lineage``
        flag) adds ``_row_id`` — the Iceberg v3 changelog-scan shape:
        deletes carry the retired id, inserts the new one, updates the
        surviving identity (post-image side; on a COW table that
        equals the pre-image id — the MOR fast path re-identifies, see
        ROWID_COL). Identity rides OUTSIDE the value compare, so a
        MOR-refreshed id alone never fabricates an 'update' row."""
        # pin 'current' ONCE: resolving it separately for snapshot() and
        # changed_buckets() lets a commit land in between, making the
        # bucket-prune set disagree with snap_b and silently mis-diff
        if to_version is None:
            to_version = self.current_version()
        snap_a = self.snapshot(from_version)
        snap_b = self.snapshot(to_version)
        keys = snap_b["key_cols"]
        if include_row_ids and not snap_b.get("row_lineage"):
            raise ValueError(
                "include_row_ids requires row lineage "
                "(LakeTable.enable_row_lineage / create(row_lineage=True))"
            )
        changed = self.changed_buckets(from_version, to_version)
        phys = self._phys_schema(snap_b)  # widened schema reads both sides
        value_cols = [
            f.name for f in self.schema(snap_b).fields
            if f.name not in keys and f.name != LSN_COL
        ]

        def _side(snap: dict) -> DataFrame:
            files = [f for f in snap["files"] if f["bucket"] in changed]
            # field-id meta from snap_b: name_log is append-only, so it
            # resolves snap_a-era epochs too — the feed sees ONE
            # continuous column across a rename boundary. DV masks come
            # from each SIDE's snapshot (_scan's ``snap`` arg), so a
            # dv-delete between the versions diffs as deletes.
            df, has_delta = self._scan(
                files, snap, meta_snap=snap_b, phys=phys,
                with_lineage=include_row_ids,
            )
            if has_delta:
                df = self._resolve(df, snap)
            else:
                df = df.filter(F.col(OP_COL).isNull() | (F.col(OP_COL) != "D"))
            # identity stays OUTSIDE the compared struct: a MOR-
            # refreshed _row_id must not read as a value change
            rid = [F.col(ROWID_COL).alias("_rid")] if include_row_ids else []
            return df.select(*keys, F.struct(*value_cols).alias("_vals"), *rid)

        a = _side(snap_a).withColumnRenamed("_vals", "_old")
        b = _side(snap_b).withColumnRenamed("_vals", "_new")
        if include_row_ids:
            a = a.withColumnRenamed("_rid", "_rid_old")
            b = b.withColumnRenamed("_rid", "_rid_new")
        j = a.join(b, on=keys, how="full_outer").filter(
            F.col("_old").isNull()
            | F.col("_new").isNull()
            | ~F.col("_old").eqNullSafe(F.col("_new"))
        )
        rid_out = (
            # post-image identity when the row survives, the retired
            # id on a delete (Iceberg v3 changelog-scan convention)
            [F.coalesce(F.col("_rid_new"), F.col("_rid_old")).alias(ROWID_COL)]
            if include_row_ids
            else []
        )
        if not include_preimage:
            img = F.when(F.col("_new").isNull(), F.col("_old")).otherwise(F.col("_new"))
            return j.withColumn(
                "_change_type",
                F.when(F.col("_old").isNull(), F.lit("insert"))
                .when(F.col("_new").isNull(), F.lit("delete"))
                .otherwise(F.lit("update")),
            ).select(
                *keys,
                *[img.getField(c).alias(c) for c in value_cols],
                "_change_type",
                *rid_out,
            )
        _no_rid = F.lit(None).cast("long")
        row = lambda ct, img, rid=_no_rid: F.struct(  # noqa: E731
            F.lit(ct).alias("_change_type"), img.alias("_img"), rid.alias("_rid")
        )
        ro = F.col("_rid_old") if include_row_ids else _no_rid
        rn = F.col("_rid_new") if include_row_ids else _no_rid
        rows = (
            F.when(F.col("_old").isNull(), F.array(row("insert", F.col("_new"), rn)))
            .when(F.col("_new").isNull(), F.array(row("delete", F.col("_old"), ro)))
            .otherwise(
                F.array(
                    # pre-image keeps its pre-change identity,
                    # post-image the surviving one (equal on COW)
                    row("update_preimage", F.col("_old"), ro),
                    row("update_postimage", F.col("_new"), rn),
                )
            )
        )
        ex = j.select(*keys, F.explode(rows).alias("_r"))
        return ex.select(
            *keys,
            *[F.col("_r._img").getField(c).alias(c) for c in value_cols],
            F.col("_r._change_type").alias("_change_type"),
            *([F.col("_r._rid").alias(ROWID_COL)] if include_row_ids else []),
        )

    def lineage(self) -> DataFrame:
        from ..schemas import LINEAGE

        if not os.path.isdir(self.lineage_dir) or not any(
            n.endswith(".parquet") for _, _, fs in os.walk(self.lineage_dir) for n in fs
        ):
            return self.spark.createDataFrame([], LINEAGE)
        return self.spark.read.parquet(self.lineage_dir)

    def stats(self, version: int | None = None) -> dict:
        """O(metadata) table statistics from the snapshot manifest —
        no data file is opened (Iceberg's ``SELECT ... FROM
        db.table.files`` analogue). Row totals are manifest sums:
        EXACT table cardinality when the snapshot holds only base
        files (base files carry one live row per key and no
        tombstones), an upper bound when MOR deltas are pending
        (duplicates/deletes resolve at read time) — ``rows_exact``
        says which. ``delta_debt`` (pending delta rows / base rows)
        is the row-mass compaction signal ``compact(min_delta_rows=
        ...)`` consumes; at 100 TB it is the difference between
        compacting 4096 buckets on a file-count trigger and
        compacting the handful that hold actual read amplification.
        Files from pre-stats manifests count into
        ``files_without_stats`` and are excluded from row/byte sums
        (consumers must treat totals as partial when it is > 0)."""
        snap = self.snapshot(version)
        per_kind = {"base": {"files": 0, "rows": 0, "bytes": 0},
                    "delta": {"files": 0, "rows": 0, "bytes": 0},
                    "dv": {"files": 0, "rows": 0, "bytes": 0}}
        buckets_with_deltas: set[int] = set()
        no_stats = 0
        lsn_max = None
        for f in snap["files"]:
            kind = f.get("kind", "base")
            k = per_kind[kind]
            k["files"] += 1
            if f.get("rows") is None:
                no_stats += 1
            else:
                k["rows"] += f["rows"]
                k["bytes"] += f.get("bytes") or 0
            if kind == "delta":
                buckets_with_deltas.add(f["bucket"])
            if f.get("lsn_max") is not None:
                lsn_max = f["lsn_max"] if lsn_max is None else max(lsn_max, f["lsn_max"])
        base, delta, dv = per_kind["base"], per_kind["delta"], per_kind["dv"]
        return {
            "version": snap["version"],
            "n_buckets": snap["n_buckets"],
            "key_cols": list(snap["key_cols"]),
            "ledger_hwm": snap["ledger"]["hwm"],
            "base_files": base["files"],
            "delta_files": delta["files"],
            # deletion vectors: masked positions are pending READ debt
            # like delta rows (an anti-join per scan until compaction
            # folds them), and their rows subtract from the totals —
            # so row totals are upper bounds whenever dv files exist
            "dv_files": dv["files"],
            "dv_rows": dv["rows"],
            "files_without_stats": no_stats,
            "rows": base["rows"] + delta["rows"],
            "rows_exact": delta["files"] == 0 and no_stats == 0
            and dv["files"] == 0,
            "bytes": base["bytes"] + delta["bytes"],
            "delta_rows": delta["rows"],
            "delta_debt": (
                round((delta["rows"] + dv["rows"]) / base["rows"], 4)
                if base["rows"]
                else None
            ),
            "buckets_with_deltas": len(buckets_with_deltas),
            "lsn_max": lsn_max,
            "write_order": snap.get("write_order"),
            # last ANALYZE, if any: which snapshot it described (the
            # staleness signal) — full report via col_stats()
            "analyzed_version": (snap.get("col_stats") or {}).get(
                "analyzed_version"
            ),
        }

    def files(self, version: int | None = None) -> DataFrame:
        """Manifest entries as a DataFrame — the Iceberg
        ``db.table.files`` metadata table analogue (path, bucket,
        kind, rows, bytes, lsn bounds per live data file). O(metadata):
        built from the snapshot manifest, no data file opened. Entries
        from pre-stats manifests carry NULL stats columns."""
        snap = self.snapshot(version)
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("bucket", T.IntegerType()),
                T.StructField("kind", T.StringType()),
                T.StructField("rows", T.LongType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("lsn_min", T.LongType()),
                T.StructField("lsn_max", T.LongType()),
                # per-value-column bounds as JSON maps (Iceberg
                # lower_bounds/upper_bounds); NULL for pre-stats files
                T.StructField("cmin", T.StringType()),
                T.StructField("cmax", T.StringType()),
                # per-column null counts (Iceberg null_value_counts)
                T.StructField("cnull", T.StringType()),
                # declared partition spec id + tuple (Iceberg files
                # table's partition column); NULL for pre-spec files
                T.StructField("spec_id", T.IntegerType()),
                T.StructField("partition", T.StringType()),
            ]
        )
        rows = [
            (
                f["path"],
                int(f["bucket"]),
                f.get("kind", "base"),
                f.get("rows"),
                f.get("bytes"),
                f.get("lsn_min"),
                f.get("lsn_max"),
                json.dumps(f["cmin"], sort_keys=True) if f.get("cmin") else None,
                json.dumps(f["cmax"], sort_keys=True) if f.get("cmax") else None,
                json.dumps(f["cnull"], sort_keys=True) if f.get("cnull") else None,
                int(f["spec"]) if f.get("spec") is not None else None,
                json.dumps(f["pt"]) if f.get("pt") is not None else None,
            )
            for f in snap["files"]
        ]
        return self.spark.createDataFrame(rows, schema)

    def partitions(self, version: int | None = None) -> DataFrame:
        """Per-bucket rollup of the manifest — the Iceberg
        ``db.table.partitions`` metadata table analogue. O(metadata):
        one row per non-empty bucket with file/row/byte totals split
        by kind, plus the bucket's LSN high-water mark. The operator
        view for skew and compaction triage ("which buckets carry the
        delta debt / the row mass") without opening a data file; rows
        are manifest sums, so delta rows are pre-resolution counts
        (same caveat as stats())."""
        snap = self.snapshot(version)
        per: dict[int, dict] = {}
        for f in snap["files"]:
            b = per.setdefault(
                int(f["bucket"]),
                {
                    "base_files": 0, "delta_files": 0, "dv_files": 0,
                    "rows": 0, "bytes": 0, "delta_rows": 0, "dv_rows": 0,
                    "lsn_max": None, "no_stats": 0,
                },
            )
            kind = f.get("kind", "base")
            b[f"{kind}_files" if kind in ("delta", "dv") else "base_files"] += 1
            if f.get("rows") is None:
                b["no_stats"] += 1
            elif kind == "dv":
                # masks, not data: masked-position count reported
                # separately, never into the row/byte totals
                b["dv_rows"] += f["rows"]
            else:
                b["rows"] += f["rows"]
                b["bytes"] += f.get("bytes") or 0
                if kind == "delta":
                    b["delta_rows"] += f["rows"]
            if f.get("lsn_max") is not None:
                b["lsn_max"] = (
                    f["lsn_max"]
                    if b["lsn_max"] is None
                    else max(b["lsn_max"], f["lsn_max"])
                )
        schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType()),
                T.StructField("base_files", T.IntegerType()),
                T.StructField("delta_files", T.IntegerType()),
                T.StructField("dv_files", T.IntegerType()),
                T.StructField("rows", T.LongType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("delta_rows", T.LongType()),
                T.StructField("dv_rows", T.LongType()),
                T.StructField("lsn_max", T.LongType()),
                T.StructField("files_without_stats", T.IntegerType()),
            ]
        )
        rows = [
            (
                b,
                d["base_files"], d["delta_files"], d["dv_files"],
                d["rows"], d["bytes"], d["delta_rows"], d["dv_rows"],
                d["lsn_max"], d["no_stats"],
            )
            for b, d in sorted(per.items())
        ]
        return self.spark.createDataFrame(rows, schema)

    def verify(self, version: int | None = None, deep: bool = False) -> dict:
        """Table integrity check — the lakehouse ``fsck`` (the Delta
        FSCK / Iceberg snapshot-validation analogue; the reference's
        psql-backed pipeline leans on Postgres for this class of
        invariant, a lake layout must check its own).

        SHALLOW (default) is O(metadata), driver-side, no data file
        opened: every live manifest entry's data file exists on disk
        with the recorded size; no path is referenced twice (a
        double-counted file would double rows silently); bucket ids
        are in range; equality-index bloom sidecars referenced by
        ``cset`` resolve; the exactly-once ledger is well-formed
        (every overflow id strictly above the folded hwm); and the
        retained commit log loads (tolerating concurrent expiry,
        like ``history()``).

        DEEP (``deep=True``) adds ONE distributed Spark job over the
        live (and readable) files that recomputes per-file row counts
        and LSN bounds against the manifest stats and re-hashes every
        row's key columns to assert the row lives in its file's
        bucket — the invariant ALL bucket/key/semi pruning rests on
        (a misbucketed row would be invisible to read_keys/read_semi
        forever). O(table) by design: schedule it like a compaction,
        not per commit; the per-file aggregate collected back is
        O(files) — metadata-scale, same justification as stats().

        Returns a JSON-able report: ``ok`` is the verdict, the rest
        is evidence (example lists capped at 20 per category, full
        counts in ``error_counts``)."""
        snap = self.snapshot(version)
        rep: dict = {
            "version": snap["version"],
            "files": len(snap["files"]),
            "missing_files": [],
            "size_mismatches": [],
            "duplicate_paths": [],
            "bad_bucket_ids": [],
            "missing_index_sidecars": [],
            "ledger_ok": True,
            "error_counts": {},
            "deep": None,
        }

        def note(key: str, item) -> None:
            rep["error_counts"][key] = rep["error_counts"].get(key, 0) + 1
            if len(rep[key]) < 20:
                rep[key].append(item)

        seen: set[str] = set()
        readable: list[dict] = []
        for f in snap["files"]:
            p = f["path"]
            if p in seen:
                note("duplicate_paths", p)
            seen.add(p)
            b = f.get("bucket")
            if not isinstance(b, int) or not 0 <= b < snap["n_buckets"]:
                note("bad_bucket_ids", {"path": p, "bucket": b})
            try:
                size = os.path.getsize(os.path.join(self.root, p))
            except OSError:
                note("missing_files", p)
                continue
            if f.get("bytes") is not None and size != f["bytes"]:
                note(
                    "size_mismatches",
                    {"path": p, "manifest": f["bytes"], "disk": size},
                )
                continue  # a torn file would also fail the parquet read
            readable.append(f)
            for col, ref in (f.get("cset") or {}).items():
                if (
                    isinstance(ref, str)
                    and ref.startswith("idx:")
                    and not os.path.exists(os.path.join(self.root, ref[4:]))
                ):
                    note(
                        "missing_index_sidecars",
                        {"path": p, "column": col, "ref": ref},
                    )
        led = self._ledger_migrate(snap["ledger"])
        try:
            rep["ledger_ok"] = all(int(k) > led["hwm"] for k in led["extra"])
        except (TypeError, ValueError):
            rep["ledger_ok"] = False
        if version is None:
            # loadability sweep of the retained commit log (history()
            # already skips snapshots expired or torn under our feet)
            rep["history_snapshots"] = len(self.history())
        if deep:
            rep["deep"] = self._verify_deep(snap, readable)
        rep["ok"] = (
            not rep["error_counts"]
            and rep["ledger_ok"]
            and (rep["deep"] is None or rep["deep"]["ok"])
        )
        return rep

    def _verify_deep(self, snap: dict, entries: list[dict]) -> dict:
        """The distributed half of ``verify``: one field-id-aware scan
        of ``entries`` tagged with the originating file, aggregated
        per file (count, LSN bounds, the set of buckets its rows hash
        to under the CURRENT key columns and bucket count) and checked
        against each manifest entry. Pre-stats entries (rows=None)
        skip the count/bounds compare but still get the bucket check."""
        out: dict = {
            "files_checked": len(entries),
            "rows_scanned": 0,
            "row_count_mismatches": [],
            "lsn_bound_violations": [],
            "misbucketed_files": [],
            "dv_dangling_refs": [],
        }
        dv_entries = [f for f in entries if f.get("kind", "base") == "dv"]
        entries = [f for f in entries if f.get("kind", "base") != "dv"]
        if not entries and not dv_entries:
            out["ok"] = True
            return out
        df = self._read_entries(
            entries, snap, self._phys_schema(snap), with_fpath=True
        )
        agg = (
            df.withColumn("_vb", self._bucket_expr(snap))
            .groupBy("_fpath")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(LSN_COL).alias("lmin"),
                F.max(LSN_COL).alias("lmax"),
                F.collect_set("_vb").alias("row_buckets"),
            )
            .collect()
        )
        # the same last-3-segment key _read_entries' lineage join uses:
        # c{version}-{uuid}/_bucket=N/part-*.parquet is unique, and it
        # strips the file:/ scheme _metadata.file_path carries
        by_key = {"/".join(r["_fpath"].split("/")[-3:]): r for r in agg}

        def note(key: str, item) -> None:
            if len(out[key]) < 20:
                out[key].append(item)

        for e in entries:
            r = by_key.get("/".join(e["path"].split("/")[-3:]))
            n = int(r["n"]) if r is not None else 0  # 0-row files don't aggregate
            out["rows_scanned"] += n
            if e.get("rows") is not None and n != e["rows"]:
                note(
                    "row_count_mismatches",
                    {"path": e["path"], "manifest": e["rows"], "actual": n},
                )
            if r is None:
                continue
            if (
                e.get("lsn_min") is not None
                and r["lmin"] is not None
                and (r["lmin"] < e["lsn_min"] or r["lmax"] > e["lsn_max"])
            ):
                note(
                    "lsn_bound_violations",
                    {
                        "path": e["path"],
                        "manifest": [e["lsn_min"], e["lsn_max"]],
                        "actual": [r["lmin"], r["lmax"]],
                    },
                )
            buckets = {int(b) for b in r["row_buckets"] if b is not None}
            if buckets and buckets != {int(e["bucket"])}:
                note(
                    "misbucketed_files",
                    {
                        "path": e["path"],
                        "bucket": e["bucket"],
                        "row_buckets": sorted(buckets),
                    },
                )
        if dv_entries:
            # deletion-vector audit: recount each dv file against its
            # manifest entry, and check every (file key, position) it
            # masks names a LIVE same-bucket data file at a position
            # inside that file's recorded row count — a dangling ref
            # is inert at read time (the anti-join just misses) but
            # means the mask no longer covers what the delete matched.
            dvdf = (
                self.spark.read.schema(self._DV_SCHEMA)
                .parquet(
                    *[os.path.join(self.root, f["path"]) for f in dv_entries]
                )
                .withColumn("_fpath", F.col("_metadata.file_path"))
            )
            live = self.spark.createDataFrame(
                [
                    (self._file_key(e["path"]), e.get("rows"), int(e["bucket"]))
                    for e in entries
                ]
                or [(None, None, None)],
                "_lk string, _lrows long, _lbucket int",
            )
            agg2 = (
                dvdf.join(
                    F.broadcast(live),
                    F.col("_dv_fkey").eqNullSafe(F.col("_lk")),
                    "left",
                )
                .groupBy("_fpath")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        (
                            F.col("_lk").isNull()
                            | (
                                F.col("_lrows").isNotNull()
                                & (F.col("_dv_pos") >= F.col("_lrows"))
                            )
                            # a mask must stay in its target's bucket —
                            # a cross-bucket ref would silently miss on
                            # any bucket-pruned read
                            | (
                                F.col("_lbucket").isNotNull()
                                & (
                                    F.regexp_extract(
                                        F.col("_fpath"), "_bucket=([0-9]+)", 1
                                    ).cast("int")
                                    != F.col("_lbucket")
                                )
                            )
                        ).cast("long")
                    ).alias("dangling"),
                )
                .collect()
            )
            by_key2 = {self._file_key(r["_fpath"]): r for r in agg2}
            for e in dv_entries:
                r = by_key2.get(self._file_key(e["path"]))
                n = int(r["n"]) if r is not None else 0
                out["rows_scanned"] += n
                if e.get("rows") is not None and n != e["rows"]:
                    if len(out["row_count_mismatches"]) < 20:
                        out["row_count_mismatches"].append(
                            {"path": e["path"], "manifest": e["rows"], "actual": n}
                        )
                if r is not None and int(r["dangling"] or 0):
                    if len(out["dv_dangling_refs"]) < 20:
                        out["dv_dangling_refs"].append(
                            {"path": e["path"], "count": int(r["dangling"])}
                        )
        out["ok"] = not (
            out["row_count_mismatches"]
            or out["lsn_bound_violations"]
            or out["misbucketed_files"]
            or out["dv_dangling_refs"]
        )
        return out

    def snapshots(self) -> DataFrame:
        """The commit log as a DataFrame — the Iceberg
        ``db.table.snapshots`` metadata table analogue (``history()``
        returns the same rows as plain dicts). O(retained versions)
        raw JSON reads, no manifest or data file opened."""
        schema = T.StructType(
            [
                T.StructField("version", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("parent", T.LongType()),
                T.StructField("committed_at", T.DoubleType()),
                T.StructField("n_files", T.LongType()),
                T.StructField("n_buckets", T.IntegerType()),
                T.StructField("ledger_hwm", T.LongType()),
                T.StructField("rollback_of", T.LongType()),
            ]
        )
        rows = [
            (
                h["version"],
                h.get("operation"),
                h.get("parent"),
                h.get("committed_at"),
                h.get("n_files"),
                h.get("n_buckets"),
                h.get("ledger_hwm"),
                h.get("rollback_of"),
            )
            for h in self.history()
        ]
        return self.spark.createDataFrame(rows, schema)

    def manifests(self, version: int | None = None) -> DataFrame:
        """One row per bucket-manifest pointer — the Iceberg
        ``db.table.manifests`` metadata table analogue, and the
        operator view of COMMIT COST: ``shared_with_parent`` marks
        buckets whose pointer is byte-identical to the parent
        snapshot's (the provenance fast path — commits pay metadata
        only for touched buckets), so ``count(NOT shared)`` is the
        number of manifests this commit actually wrote. O(n_buckets)
        pointer compares + O(touched entries) manifest reads for the
        per-manifest entry/row sums; no data file opened."""
        snap = self.snapshot(version)
        ptrs: dict[str, str] = snap.get("manifests") or {}
        parent_ptrs: dict[str, str] = {}
        if snap.get("parent") is not None:
            try:
                parent_ptrs = self.snapshot(snap["parent"]).get("manifests") or {}
            except (FileNotFoundError, json.JSONDecodeError):
                parent_ptrs = {}  # parent expired/torn: nothing provably shared
        schema = T.StructType(
            [
                T.StructField("bucket", T.IntegerType()),
                T.StructField("path", T.StringType()),
                T.StructField("entries", T.IntegerType()),
                T.StructField("rows", T.LongType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("shared_with_parent", T.BooleanType()),
            ]
        )
        rows = []
        for b_str, rel in sorted(ptrs.items(), key=lambda kv: int(kv[0])):
            entries = self._load_manifest(rel)
            with_stats = [e["rows"] for e in entries if e.get("rows") is not None]
            rows.append(
                (
                    int(b_str),
                    rel,
                    len(entries),
                    # NULL means "stats unknown", never "sums to zero"
                    sum(with_stats) if with_stats else None,
                    sum(e.get("bytes") or 0 for e in entries)
                    if any(e.get("bytes") is not None for e in entries)
                    else None,
                    parent_ptrs.get(b_str) == rel,
                )
            )
        return self.spark.createDataFrame(rows, schema)

    def refs(self) -> DataFrame:
        """Every named ref — the Iceberg ``db.table.refs`` metadata
        table analogue: ``main`` plus each branch (type='branch',
        version=head, forked_from set) and tag (type='tag', version=
        pinned). O(refs) metadata reads."""
        schema = T.StructType(
            [
                T.StructField("name", T.StringType()),
                T.StructField("type", T.StringType()),
                T.StructField("version", T.LongType()),
                T.StructField("forked_from", T.LongType()),
            ]
        )
        rows: list[tuple] = [("main", "branch", self.current_version(), None)]
        for name, info in sorted(self.branches().items()):
            rows.append((name, "branch", info.get("head"), info.get("forked_from")))
        for name, v in sorted(self.tags().items()):
            rows.append((name, "tag", v, None))
        return self.spark.createDataFrame(rows, schema)

    def compact_lineage(self, max_files: int = 64) -> dict:
        """Consolidate the per-(batch, bucket) lineage parquet files —
        a 10^5-microbatch stream otherwise leaves 10^5 tiny audit
        files whose open overhead dominates ``lineage()`` reads.

        Safety model (the lineage dir is append-only, never
        rewritten): the file list is snapshotted first, those files
        are merged driver-side (pyarrow, O(lineage rows) memory — run
        periodically so the audit stays small) into ONE consolidated
        file committed via tmp+rename, and only the snapshotted
        originals are then deleted. A concurrent WRITER is never
        affected (its new files are outside the snapshot); a
        concurrent ``lineage()`` reader may transiently double-count
        rows in the instant between the rename and the deletes —
        never lose them. No multi-file atomic swap exists on a plain
        filesystem; audit consumers needing an exact point-in-time
        view should read between maintenance runs."""
        import pyarrow.parquet as pq

        if not os.path.isdir(self.lineage_dir):
            return {"compacted_files": 0, "rows": 0}
        # advisory lock: two concurrent compactions would each
        # consolidate the same snapshotted file list and leave TWO
        # all-rows files — doubled audit rows forever (the delete
        # try/except only protects the original tiny files). One
        # compaction at a time; a crashed holder's lock goes stale
        # after 10 minutes.
        lock = os.path.join(self.lineage_dir, ".compact.lock")
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            try:
                stale = time.time() - os.path.getmtime(lock) > 600
            except OSError:
                stale = False
            if not stale:
                return {"compacted_files": 0, "rows": 0, "skipped": "locked"}
            # single-winner takeover: os.rename the stale lock to a
            # unique name — exactly one racer succeeds (a plain
            # os.remove lets B's staleness check predate A's takeover,
            # B then removes the lock A just recreated and BOTH
            # compactions run, doubling the audit rows forever)
            taken = lock + f".stale.{uuid.uuid4().hex[:8]}"
            try:
                os.rename(lock, taken)
            except OSError:
                return {"compacted_files": 0, "rows": 0, "skipped": "locked"}
            try:
                os.remove(taken)  # we won; the dead holder's lock is ours
            except FileNotFoundError:
                pass
            return self.compact_lineage(max_files)
        try:
            files = sorted(
                os.path.join(dp, n)
                for dp, _dirs, names in os.walk(self.lineage_dir)
                for n in names
                if n.endswith(".parquet")
            )
            if len(files) <= max_files:
                return {"compacted_files": 0, "rows": 0, "files": len(files)}
            import pyarrow as pa

            tables = [pq.read_table(p) for p in files]
            merged = pa.concat_tables(tables)
            out = os.path.join(
                self.lineage_dir, f"lineage-compacted-{uuid.uuid4().hex[:8]}.parquet"
            )
            tmp = out + ".tmp"
            pq.write_table(merged, tmp)
            os.replace(tmp, out)
            for p in files:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
            return {"compacted_files": len(files), "rows": merged.num_rows}
        finally:
            try:
                os.remove(lock)
            except FileNotFoundError:
                pass

    def version_at(self, ts: float) -> int:
        """Largest RETAINED version committed at or before ``ts``
        (Iceberg timestamp time travel). O(retained versions) raw
        JSON reads. Raises ValueError when ``ts`` predates the oldest
        retained snapshot — that history has been expired."""
        best = None
        for n in os.listdir(self._meta):
            if not (n.startswith("v") and n.endswith(".json")):
                continue
            try:
                with open(os.path.join(self._meta, n)) as f:
                    raw = json.load(f)
            except FileNotFoundError:
                continue  # expired by a concurrent maintenance run
            except json.JSONDecodeError:
                continue  # pre-atomic-commit torn file (legacy writer)
            at = raw.get("committed_at")
            if at is not None and at <= ts and (best is None or raw["version"] > best):
                best = raw["version"]
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before {ts} "
                "(history expired?)"
            )
        return best

    def read_as_of(self, ts: float, include_meta: bool = False) -> DataFrame:
        """Timestamp time travel: the table as of wall-clock ``ts``."""
        return self.read(self.version_at(ts), include_meta=include_meta)

    def history(self) -> list[dict]:
        """Commit log from the retained snapshot JSONs (the Iceberg
        ``db.table.snapshots`` metadata-table analogue): one row per
        retained version with its operation, parent, commit time, and
        file/manifest counts. O(retained versions) raw JSON reads —
        no manifest file is opened, no data touched. Expired versions
        are absent (their JSONs are gone), matching time travel."""
        out = []
        for n in sorted(os.listdir(self._meta)):
            if not (n.startswith("v") and n.endswith(".json")):
                continue
            try:
                with open(os.path.join(self._meta, n)) as f:
                    raw = json.load(f)
            except FileNotFoundError:
                continue  # expired by a concurrent maintenance run
            except json.JSONDecodeError:
                continue  # pre-atomic-commit torn file (legacy writer)
            entry = {
                "version": raw["version"],
                "operation": raw.get("operation"),
                "parent": raw.get("parent"),
                "committed_at": raw.get("committed_at"),
                "n_files": raw.get(
                    "n_files", len(raw.get("files") or []) or None
                ),
                "n_buckets": raw.get("n_buckets"),
                "ledger_hwm": raw["ledger"]["hwm"],
            }
            if "rollback_of" in raw:
                entry["rollback_of"] = raw["rollback_of"]
            out.append(entry)
        return out

    # ---------------- write path ----------------

    def overwrite(self, df: DataFrame, lsn: int = 0) -> int:
        """Replace the whole table (idempotent drop-and-rebuild — the
        reference's dominant table-maintenance mode, SURVEY.md §1.4)."""

        def attempt() -> int:
            snap = self.snapshot()
            src = self._align_keys(df, snap)
            if LSN_COL not in src.columns:
                src = src.withColumn(LSN_COL, F.lit(lsn).cast("long"))
            new = dict(snap)
            new.update(
                version=snap["version"] + 1,
                files=self._write_data(src, snap, version=snap["version"] + 1),
                parent=snap["version"],
                operation="overwrite",
                schema=self._unify_schema(
                    self.schema(snap), src.schema, protect=tuple(snap["key_cols"])
                ).jsonValue(),
            )
            self._write_snapshot(new)
            return new["version"]

        return self._optimistic("overwrite", attempt)

    # numeric types _zvalue can scale into equal-width buckets
    _Z_TYPES = ("long", "integer", "short", "byte", "double", "float", "decimal")

    def _zvalue(self, df: DataFrame, cols: list[str], bits_per_col: int | None = None):
        """Z-value (Morton code) column expression: each z-order
        column is scaled to a ``2^B``-cell EQUAL-FREQUENCY grid
        (approxQuantile boundaries over THIS rewrite set — one pass,
        all columns at once) and the cells' bits are interleaved into
        one long, entirely in codegen. Equal-frequency, not
        equal-width: real columns are skewed (a web-log latency or a
        payment amount packs 90% of rows into 10% of the range), and
        equal-width cells would leave the z-curve degenerate in that
        dimension — measured on the events table, an equal-width grid
        admitted 40/44 files for a second-dimension slab that the
        quantile grid prunes to a handful (Delta's OPTIMIZE ZORDER
        range_partition_id makes the same choice). NULL scales to
        cell 0 (sorts first, like null-first lexicographic). Numeric
        columns only: hashing a string would destroy the locality
        z-order exists to preserve."""
        for c in cols:
            tn = df.schema[c].dataType.typeName()
            if not tn.startswith(self._Z_TYPES):
                raise ValueError(f"z-order column {c!r} ({tn}) is not numeric")
        n = len(cols)
        # 16 equal-frequency cells per column by default. The cell
        # index is a LINEAR indicator sum (one codegen'd comparison
        # per cut): expression cost grows with 2^B, so B defaults low
        # — at file-skipping granularity ~16 cells/dimension already
        # buys up to a 16x per-dimension skip, and the alternatives
        # measured worse (a 2^6-term chain fell out of whole-stage
        # codegen at 18 s vs 4 s; a nested-WHEN binary search
        # duplicates subtrees exponentially — 3.5 MiB task binaries,
        # 34 s). Raise bits_per_col only for rewrites emitting
        # thousands of files per bucket group, where the data scan
        # dominates the extra comparisons anyway.
        B = bits_per_col or 4
        proj = df.select(
            *[F.col(c).cast("double").alias(f"_z{j}") for j, c in enumerate(cols)]
        )
        probs = [k / (1 << B) for k in range(1, 1 << B)]
        qs = proj.approxQuantile([f"_z{j}" for j in range(n)], probs, 1.0 / (1 << (B + 4)))
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            cuts = sorted(set(qs[j]))  # dedupe: skewed ties collapse cells
            v = F.col(c).cast("double")
            idx = F.lit(0).cast("long")
            for qv in cuts:
                idx = idx + F.when(v > F.lit(float(qv)), 1).otherwise(0)
            for i in range(B):
                z = z.bitwiseOR(
                    F.shiftleft(F.shiftright(idx, i).bitwiseAND(F.lit(1)), i * n + j)
                )
        return z.alias("_zvalue")

    def _write_data(
        self,
        df: DataFrame,
        snap: dict,
        version: int,
        kind: str = "base",
        pre_bucketed: bool = False,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        zorder: bool = False,
        enforce_constraints: bool = True,
    ) -> list[dict]:
        # write-once, collision-free: two optimistic writers racing for
        # the same version number must NEVER target the same directory —
        # with a shared data/c{version} path the loser's mode('overwrite')
        # would delete the winner's already-committed part files. The
        # uuid suffix makes every write attempt its own directory; the
        # manifest references files by path, so losers are mere orphans
        # that expire_snapshots collects.
        rel = os.path.join("data", f"c{version:012d}-{uuid.uuid4().hex[:8]}")
        out = os.path.join(self.root, rel)
        # CHECK constraints ride the write job as an Observation —
        # zero extra passes; a violated write aborts before the
        # caller can commit a snapshot (SQL CHECK: NULL passes; MOR
        # 'D' tombstones exempt — their value columns are NULL by
        # construction). Maintenance rewrites pass enforce=False.
        obs = None
        cons = (snap.get("constraints") or {}) if enforce_constraints else {}
        if cons:
            from pyspark.sql import Observation

            aggs = []
            for cname in sorted(cons):
                v = F.expr(cons[cname]).eqNullSafe(F.lit(False))
                if OP_COL in df.columns:
                    v = v & F.coalesce(F.col(OP_COL) != "D", F.lit(True))
                aggs.append(F.sum(v.cast("long")).alias(cname))
            obs = Observation()
            df = df.observe(obs, *aggs)
        if not pre_bucketed:
            # one write task per bucket up to the cluster's parallelism:
            # small clusters don't pay 4x task overhead, big ones use
            # every core
            par = self.spark.sparkContext.defaultParallelism
            df = df.withColumn("_bucket", self._bucket_expr(snap)).repartition(
                max(1, min(snap["n_buckets"], par)), "_bucket"
            )
        if cluster_by is None and kind == "base":
            # declared table write order (alter_write_order): every
            # base write is clustered by default — an explicit
            # cluster_by (a targeted compact) still overrides
            wo = snap.get("write_order")
            if wo and all(c in df.columns for c in wo["cols"]):
                cluster_by = wo["cols"]
                zorder = bool(wo.get("zorder"))
                if max_records_per_file is None:
                    max_records_per_file = wo.get("target_rows")
        # declared partition spec: compute the transform columns and
        # split the write on them — every emitted file then holds rows
        # of exactly ONE partition tuple (recorded in its manifest
        # entry below), the invariant partition-granular pruning needs.
        # DV masks carry no source columns; writes that lack a source
        # column (partial maintenance shapes) fall back to untupled.
        spec_id = int(snap.get("default_spec", 0) or 0)
        spec_fields = (snap.get("partition_specs") or {}).get(str(spec_id)) or []
        ptcols: list[str] = []
        if spec_fields and kind != "dv":
            cur_names = {i: n for n, i in (snap.get("field_ids") or {}).items()}
            srcs = [cur_names.get(fld["fid"]) for fld in spec_fields]
            if all(s is not None and s in df.columns for s in srcs):
                for i, (fld, s) in enumerate(zip(spec_fields, srcs)):
                    df = df.withColumn(f"_pt{i}", self._pt_expr(fld, s))
                ptcols = [f"_pt{i}" for i in range(len(spec_fields))]
        if cluster_by and zorder and len(cluster_by) > 1:
            # Z-ORDER clustering (Iceberg rewrite_data_files zorder /
            # Delta OPTIMIZE ZORDER BY analogue): lexicographic sort
            # makes bounds tight on the FIRST column only — a predicate
            # on the second prunes nothing. Interleaving the bits of
            # each column's equal-width bucket index gives every
            # emitted file a small hyper-rectangle footprint in value
            # space, so bounds stay selective on EVERY z-order column
            # at once. Pure codegen: equal-frequency cells per column
            # (one approxQuantile pass over the rewrite set — this is
            # a maintenance op) and a shift/or chain, no UDF, no window.
            df = df.sortWithinPartitions("_bucket", self._zvalue(df, cluster_by))
        elif cluster_by:
            # value clustering (Iceberg sort-order rewrite): sorting
            # each task's stream by (_bucket, cluster cols) keeps the
            # per-bucket dirs contiguous AND makes every emitted file a
            # contiguous value range, so the manifest cmin/cmax bounds
            # are tight and read_where skips non-matching files.
            # max_records_per_file splits a bucket into several such
            # ranges — the skipping granularity knob.
            df = df.sortWithinPartitions("_bucket", *cluster_by)
        writer = df.write.partitionBy("_bucket", *ptcols).mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(out)
        if obs is not None:
            bad = {k: int(v) for k, v in obs.get.items() if v}
            if bad:
                # eager cleanup of this attempt's private dir; the
                # grace-gated orphan scan is the crash backstop
                shutil.rmtree(out, ignore_errors=True)
                raise ConstraintViolation(bad)
        files = []
        for dirpath, _dirs, names in os.walk(out):
            comps = dict(
                c.split("=", 1)
                for c in os.path.relpath(dirpath, out).split(os.sep)
                if "=" in c
            )
            for n in names:
                if n.endswith(".parquet"):
                    b = int(comps["_bucket"])
                    full = os.path.join(dirpath, n)
                    entry = {
                        "path": os.path.relpath(full, self.root),
                        "bucket": b,
                        "kind": kind,
                        # schema epoch the physical column names were
                        # written under — _read_entries resolves them
                        # back to current names by field id
                        "epoch": snap.get("schema_epoch", 0),
                    }
                    if ptcols:
                        entry["spec"] = spec_id
                        entry["pt"] = [
                            self._pt_decode(fld, comps.get(f"_pt{i}"))
                            for i, fld in enumerate(spec_fields)
                        ]
                    files.append(entry)
        # footer-only reads: measured 42 ms for 256 files on this
        # host — noise against a multi-second commit (a thread pool
        # was tried and its dispatch overhead exceeded the I/O).
        # Equality-index columns (skip_fids, opt-in) additionally read
        # back just those columns of the files this commit wrote —
        # page-cache-warm, O(batch) worst case.
        want = set(snap.get("skip_fids") or [])
        eq_cols = tuple(
            n for n, i in (snap.get("field_ids") or {}).items() if i in want
        )
        for f in files:
            f.update(self._file_stats(os.path.join(self.root, f["path"]), eq_cols))
        return files

    # longest string bound persisted to the manifest: parquet writers
    # may truncate binary stats (Spark pads a truncated max so it stays
    # a valid upper bound, but belt-and-braces we only trust values
    # comfortably below any truncation threshold)
    _MAX_STR_BOUND = 48

    @classmethod
    def _json_bound(cls, v):
        """Normalize a parquet statistics value (or a predicate value)
        into a JSON-storable, order-preserving form. Returns None for
        types we don't track. ISO strings keep date/timestamp ordering;
        hex keeps bytes ordering."""
        import datetime

        if isinstance(v, bool) or v is None:
            return None  # boolean bounds prune nothing useful
        if isinstance(v, (int, float)):
            return v
        if isinstance(v, str):
            return v if len(v) <= cls._MAX_STR_BOUND else None
        if isinstance(v, datetime.datetime):
            # ONE encoding for every comparison surface: parquet stats
            # (pyarrow returns tz-aware UTC for micros columns), pushed
            # DataSource literals (tz-aware session values) and
            # partition-tuple ranges (naive UTC) — a '+00:00' suffix
            # on one side would make exact-boundary exclusions fail
            # conservatively. Session TZ is pinned UTC.
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return v.isoformat(sep=" ", timespec="microseconds")
        if isinstance(v, datetime.date):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.hex() if len(v) <= cls._MAX_STR_BOUND else None
        return None

    def _file_stats(self, path: str, eq_cols: tuple = ()) -> dict:
        """Per-file manifest stats — the analogue of an Iceberg
        manifest entry's ``record_count`` / ``file_size_in_bytes`` /
        ``lower_bounds``/``upper_bounds``. Footer-only: no data pages
        are read, one metadata parse per file THIS commit wrote (on a
        real cluster these stats ride the task commit messages instead;
        locally the driver reads the footers it just wrote — O(files
        per commit)). ``cmin``/``cmax`` hold per-VALUE-column bounds
        for every scalar column whose every row group carries exact
        min/max — the inputs to predicate-driven file skipping
        (prune_files/read_where), the top 100 TB lever beyond bucket
        pruning: an analytical filter over a clustered table opens only
        the files whose bounds intersect it. Advisory by contract: a
        commit never fails over stats, and every consumer treats
        missing keys as unknown (pre-upgrade manifests carry none)."""
        import pyarrow.parquet as pq

        out: dict = {"rows": None, "bytes": None, "lsn_min": None, "lsn_max": None}
        try:
            out["bytes"] = os.path.getsize(path)
            md = pq.ParquetFile(path).metadata
            out["rows"] = md.num_rows
            cmin: dict = {}
            cmax: dict = {}
            cnull: dict = {}
            for i in range(md.num_columns):
                name = md.schema.column(i).name
                if name == OP_COL or "." in name:  # scalar leaves only
                    continue
                mins: list = []
                maxs: list = []
                nulls: list = []
                complete = True
                nulls_complete = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None:
                        complete = nulls_complete = False
                        break
                    # null counts are independent of min/max: an
                    # all-NULL column has no bounds but a definite
                    # null_count — exactly the file IS NOT NULL must
                    # be able to skip (Iceberg null_value_counts)
                    if st.null_count is None:
                        nulls_complete = False
                    else:
                        nulls.append(st.null_count)
                    if not st.has_min_max:
                        complete = False
                    else:
                        mins.append(st.min)
                        maxs.append(st.max)
                if nulls_complete and name != LSN_COL:
                    cnull[name] = int(sum(nulls))
                if not (complete and mins):
                    continue
                lo = self._json_bound(min(mins))
                hi = self._json_bound(max(maxs))
                if lo is None or hi is None:
                    continue
                if name == LSN_COL:
                    out["lsn_min"] = int(lo)
                    out["lsn_max"] = int(hi)
                else:
                    cmin[name] = lo
                    cmax[name] = hi
            if cmin:
                out["cmin"] = cmin
                out["cmax"] = cmax
            if cnull:
                out["cnull"] = cnull
            if eq_cols:
                # equality index (opt-in via alter_skip_columns): one
                # COLUMN readback per file this commit wrote — the only
                # stats item that touches data pages. ndv <= _CSET_MAX
                # stores the exact distinct set (zero false positives,
                # the categorical-column case); above that an
                # ndv-sized bloom at ~10 bits/element — inline in the
                # manifest up to 1 KiB, a content-addressed sidecar
                # under _meta/index/ beyond (the Puffin-file analogue),
                # nothing past the 1 MiB cap (~838k distinct values;
                # unknown never mis-prunes).
                import pyarrow.parquet as pq2

                present = {md.schema.column(i).name for i in range(md.num_columns)}
                want = [c for c in eq_cols if c in present]
                if want:
                    tbl = pq2.read_table(path, columns=want)
                    cset: dict = {}
                    cbloom: dict = {}
                    for c in want:
                        vals = [
                            v for v in tbl.column(c).unique().to_pylist()
                            if v is not None
                        ]
                        if not vals:
                            continue
                        if len(vals) <= self._CSET_MAX:
                            js = [self._json_bound(v) for v in vals]
                            if all(v is not None for v in js):
                                cset[c] = sorted(js, key=lambda x: (str(type(x)), str(x)))
                                continue
                        b = self._bloom_build(vals)
                        if b is not None:
                            cbloom[c] = self._bloom_store(b)
                    if cset:
                        out["cset"] = cset
                    if cbloom:
                        out["cbloom"] = cbloom
        except Exception:
            pass  # advisory only
        return out

    # Iceberg's safe widening promotions (spec v2 "promotion"): the
    # parquet reader up-casts old files at scan time (verified on
    # Spark 4's vectorized reader), so no rewrite is needed.
    _PROMOTIONS = {("integer", "long"), ("float", "double")}

    def _align_keys(self, df: DataFrame, snap: dict) -> DataFrame:
        """Cast incoming KEY columns (and ``lsn``) to the declared
        types before any bucket hash. _unify_schema already refuses to
        promote a key's stored type (xxhash64 hashes int 3 and bigint
        3 to different values), but an events frame whose key merely
        ARRIVED narrower — a VALUES literal, a JSON source inferring
        int — would otherwise hash into the wrong bucket and silently
        duplicate the key instead of upserting it."""
        types = {f.name: f.dataType for f in self.schema(snap).fields}
        out = []
        changed = False
        for c in df.columns:
            dt = df.schema[c].dataType
            if c in snap["key_cols"] and c in types and dt != types[c]:
                out.append(F.col(c).cast(types[c]).alias(c))
                changed = True
            elif c == "lsn" and not isinstance(dt, T.LongType):
                out.append(F.col(c).cast("long").alias(c))
                changed = True
            else:
                out.append(F.col(c))
        return df.select(*out) if changed else df

    @classmethod
    def _unify_schema(
        cls, base: T.StructType, incoming: T.StructType, protect: tuple = ()
    ) -> T.StructType:
        """Additive + widening schema evolution: new incoming columns
        are appended; an existing column whose incoming type is a safe
        widening of the stored type promotes the table schema. Columns
        in ``protect`` (the bucketing keys) never promote — xxhash64
        hashes int and long to different values, so a key-type change
        would silently re-bucket the table."""
        inc = {f_.name: f_ for f_ in incoming.fields}
        fields = []
        for f_ in base.fields:
            g = inc.get(f_.name)
            if (
                g is not None
                and f_.name not in protect
                and (f_.dataType.typeName(), g.dataType.typeName()) in cls._PROMOTIONS
            ):
                fields.append(T.StructField(f_.name, g.dataType, True))
            else:
                fields.append(f_)
        names = set(base.fieldNames())
        for f_ in incoming.fields:
            if f_.name not in names and f_.name not in META_COLS:
                fields.append(T.StructField(f_.name, f_.dataType, True))
        return T.StructType(fields)

    # ---------------- MERGE (the CDC apply) ----------------

    def merge(
        self,
        events: DataFrame,
        batch_id: int,
        mode: str = "cow",
        stage_id: str | None = None,
        covered_batch_ids: "tuple[int, ...]" = (),
        props: "dict | None" = None,
    ) -> MergeStats:
        """Apply one microbatch of change events (raw or pre-deduped).

        ``props``: user snapshot properties (the Iceberg snapshot
        summary analogue) committed ATOMICALLY with the merge — e.g. a
        derived view's source cursors, which must move iff the data
        moved. Keys must not collide with engine snapshot fields;
        values must be JSON-serializable. Properties carry forward on
        subsequent commits (each commit copies its parent dict) until
        overwritten. Not supported with ``stage_id`` (a staged
        commit's snapshot is written at publish).

        ``covered_batch_ids``: additional ledger ids this commit
        atomically marks applied alongside ``batch_id`` — for callers
        whose one physical merge covers a RANGE of logical batches
        (the change-feed follower nets several upstream versions per
        step). Keeping the covered prefix contiguous lets the ledger's
        hwm fold, so ledger size stays O(1) instead of O(applied
        steps). Not supported with ``stage_id`` (a staged commit's
        ledger entry is written at publish).

        events columns: key_cols + (lsn, op) + value columns
        (op: 'I'|'U' upsert full row, 'D' delete). Safe to call twice
        with the same batch_id (ledger no-op) and safe under
        duplicate/stale events (max-LSN guard).

        Stale-DELETE contract (the one reordering the guard cannot
        absorb): once a key's delete has left the tombstone horizon —
        immediately for COW (tombstones are not persisted), at the
        compaction fold for MOR — the key's stored LSN memory is gone,
        so a stale lower-LSN upsert arriving in a LATER batch legally
        resurrects the key. Same boundary as Iceberg/Delta COW
        deletes; sources must not reorder a key's events across its
        delete by more than the compaction cadence (a Kafka-style
        key-partitioned source never does). Verified by the
        randomized batching property test
        (tests/test_merge_property.py).

        The within-batch max-LSN dedup is FUSED into the single
        bucket-partitioned pass both modes already make (sort by
        (key, lsn desc, commit desc) inside each bucket partition,
        keep the first row per key), so a raw batch costs exactly ONE
        full-row shuffle — no separate dedup exchange.

        mode='cow' (copy-on-write): rewrites the touched buckets;
        read-optimized, write cost ∝ touched-bucket bytes.
        mode='mor' (merge-on-read): appends the deduped batch as delta
        files; write cost ∝ batch bytes (the CDC-throughput path),
        readers pay one max-LSN window until compact() folds deltas.

        stage_id (write-audit-publish, Iceberg's wap.id analogue):
        when set, the merge runs in full — data files become durable —
        but the commit is written to a STAGED ref instead of claiming
        a snapshot version: ``current`` does not move and readers see
        nothing. Audit the result with ``read_staged(stage_id)``, then
        ``publish(stage_id)`` (strict fast-forward against whatever
        main looks like then) or ``abandon(stage_id)``. Returns
        MergeStats(applied=False, stage_id=...).
        """
        snap = self.snapshot()
        if covered_batch_ids and stage_id is not None:
            raise ValueError("covered_batch_ids is not supported with stage_id")
        if props:
            if stage_id is not None:
                raise ValueError("props is not supported with stage_id")
            bad = set(props) & self._ENGINE_SNAP_KEYS
            if bad:
                raise ValueError(f"props collide with engine snapshot fields: {sorted(bad)}")
        if self._ledger_contains(snap["ledger"], batch_id):
            return MergeStats(batch_id=batch_id, applied=False, version=snap["version"])

        keys = snap["key_cols"]
        events = self._align_keys(events, snap)
        # additive + widening schema evolution (keys protected)
        schema = self._unify_schema(self.schema(snap), events.schema, protect=tuple(keys))

        deduped = events.withColumn("_bucket", self._bucket_expr(snap))
        # Lineage/touched-bucket pre-pass. Deliberately NOT a
        # persist-then-collect: the agg needs only (lsn, _bucket),
        # so Catalyst prunes every other column — including the
        # enrichment UDF, whose output is unused here — and the
        # job moves two longs per row instead of materializing the
        # full batch into the columnar cache (measured ~2s/batch
        # of serial cache-build at 750k-row batches, the dominant
        # Amdahl term at high core counts). The write job below
        # recomputes the batch from its (deterministic) source.
        lin_rows = (
            deduped.groupBy("_bucket")
            .agg(
                F.min("lsn").alias("min_lsn"),
                F.max("lsn").alias("max_lsn"),
                F.count("*").alias("applied_count"),
                # rides the existing pre-pass for free: merge treats any
                # non-'D' op as a FULL-image upsert, so an op='P'
                # (partial image: NULL = keep stored value) reaching here
                # would silently overwrite stored values with NULLs.
                # Callers must hydrate first (LakeTable.hydrate_patches /
                # apply_batch(patches=...)).
                F.max((F.col("op") == "P").cast("int")).alias("_has_p"),
                # generated-column enforcement rides the same pre-pass:
                # a batch that SUPPLIES a generated column must agree
                # with its expression (null-safe, tombstones exempt) —
                # Delta's GENERATED ALWAYS AS write contract. Checked
                # only over the incoming batch: carried/old rows are
                # never re-validated (pre-add history legally differs).
                *[
                    F.max(
                        (
                            ~F.col(c).eqNullSafe(F.expr(g))
                            & (F.col("op") != "D")
                        ).cast("int")
                    ).alias(f"_genbad_{c}")
                    for c, g in self._generated_cols(snap).items()
                    if c in events.columns
                ],
            )
            .collect()
        )
        if any(r["_has_p"] for r in lin_rows):
            raise ValueError(
                f"batch {batch_id} contains op='P' partial-image events; "
                "merge() applies full images only — hydrate them first "
                "(LakeTable.hydrate_patches) or enable patch probing in "
                "apply_batch (patches='auto')"
            )
        bad_gen = sorted(
            {
                k[len("_genbad_"):]
                for r in lin_rows
                for k in r.asDict()
                if k.startswith("_genbad_") and r[k]
            }
        )
        if bad_gen:
            raise ValueError(
                f"batch {batch_id} supplies generated column(s) {bad_gen} "
                "with values that contradict their generation expressions — "
                "omit the column (the engine computes it) or fix the writer"
            )
        touched = [r["_bucket"] for r in lin_rows]
        touched_set = set(touched)
        old_files = [f for f in snap["files"] if f["bucket"] in touched_set]
        kept_files = [f for f in snap["files"] if f["bucket"] not in touched_set]
        version = snap["version"] + 1
        value_cols = [f_.name for f_ in schema.fields if f_.name not in keys and f_.name != LSN_COL]

        # 2x cores (capped at n_buckets): two waves of reduce tasks
        # smooth bucket-size imbalance; one task per core leaves the
        # slowest bucket as a straggler wave of its own
        par = self.spark.sparkContext.defaultParallelism
        n_part = max(1, min(snap["n_buckets"], 2 * par))
        tie = [F.col("commit").desc_nulls_last()] if "commit" in value_cols else []

        # HOT-KEY GUARD: a key is indivisible in the bucket shuffle
        # (its bucket is one reduce task), so a Zipf-hot key turns the
        # merge into one straggler task dragging 2x-cores-1 idle
        # peers. Detection is FREE — the lineage pre-pass above
        # already counted rows per bucket. When one bucket is
        # pathological (>4x the mean and >50k rows), pre-reduce the
        # batch with a SALTED per-(salt, key) max-LSN window: the salt
        # (hash of lsn, so (key, lsn) ties stay co-grouped for the
        # commit tie-break) splits the hot key across n_part balanced
        # groups, each keeping one winner, so <= n_part rows per key
        # reach the bucket shuffle. Gated because it costs an extra
        # full-row exchange — worth it only when the straggler term
        # dominates; uniform batches keep the single-shuffle plan.
        skew_prereduced = False
        counts = [r["applied_count"] for r in lin_rows]
        if counts:
            mx = max(counts)
            if mx > 50_000 and mx > 4 * (sum(counts) / len(counts)):
                skew_prereduced = True
                salt = F.pmod(F.xxhash64("lsn"), F.lit(n_part))
                pre_tie = (
                    [F.col("commit").desc_nulls_last()]
                    if "commit" in deduped.columns
                    else []
                )
                w = Window.partitionBy("_salt", *keys).orderBy(
                    F.col("lsn").desc_nulls_last(), *pre_tie
                )
                deduped = (
                    deduped.withColumn("_salt", salt)
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn", "_salt")
                )

        if mode == "mor":
            # merge-on-read: repartition the batch by _bucket (the
            # only shuffle), dedup per key inside each bucket
            # partition via the fused window, append as delta files
            # — 'D' rows are KEPT as tombstones; readers resolve
            # with the max-LSN window, compact() folds.
            delta = deduped.select(
                # cast to the unified schema: a batch narrower than a
                # promoted column (int event into a long column) must
                # land wide so delta + base files stay read-compatible
                *[
                    F.col(c).cast(schema[c].dataType).alias(c)
                    for c in deduped.columns
                    if c in schema.fieldNames()
                ],
                F.col("lsn").alias(LSN_COL),
                F.col("op").alias(OP_COL),
                F.col("_bucket"),
            )
            # batch-missing value columns -> write-default (else NULL)
            # so old+new files align; full-image semantics: an omitted
            # DEFAULT column is SET to its default on touched rows
            for c in value_cols:
                if c not in delta.columns and c != OP_COL:
                    delta = delta.withColumn(
                        c, self._missing_col(snap, schema[c].dataType, c)
                    )
            part = delta.repartition(n_part, "_bucket")
            delta_dd = self._first_per_key(
                part, keys, [F.col(LSN_COL).desc_nulls_last()] + tie
            )
            new_files = (
                self._write_data(delta_dd, snap, version, kind="delta", pre_bucketed=True)
                if touched
                else []
            )
            if stage_id is not None:
                st = self._commit_staged(
                    snap, schema, batch_id, new_files, lin_rows, touched, "delta", stage_id
                )
            else:
                st = self._commit_merge(
                    snap, schema, batch_id, version, new_files, lin_rows, touched,
                    kind="delta", covered=covered_batch_ids, props=props,
                )
            st.skew_prereduced = skew_prereduced
            return st

        # COW as ONE bucket-partitioned pass (no join): union the
        # touched buckets' rows with the RAW batch, repartition by
        # _bucket (the only shuffle), sort within partitions by
        # (key asc, _lsn desc, event-before-target, commit desc),
        # keep the first row per key, drop 'D' winners. Within-batch
        # duplicates, stale events, AND the target's previous row
        # all resolve in this one window — the dedup costs no extra
        # exchange. The output is already partitioned by _bucket so
        # the write adds no further exchange.
        phys = T.StructType(schema.fields + [T.StructField(OP_COL, T.StringType(), True)])
        # data-sequence tie-break among TARGET rows (base vs MOR
        # delta/DML images at equal _lsn); events still outrank all
        # target rows at equal _lsn via _src
        lineage_on = bool(snap.get("row_lineage"))
        tgt, tgt_seq = self._scan(
            old_files, snap, phys=phys, with_lineage=lineage_on
        )
        tgt = tgt.withColumn(
            "_bucket", self._bucket_expr(snap)
        ).withColumn("_src", F.lit(0))
        ev_aligned = deduped.select(
            *[F.col(k) for k in keys],
            *[
                (
                    F.col(c).cast(schema[c].dataType)
                    if c in deduped.columns
                    # batch-missing column: write-default (else NULL)
                    else self._missing_col(snap, schema[c].dataType, c)
                ).alias(c)
                for c in value_cols
            ],
            F.col("lsn").alias(LSN_COL),
            F.col("op").alias(OP_COL),
            F.col("_bucket"),
            F.lit(1).alias("_src"),
            *([F.lit(None).cast("long").alias(SEQ_COL)] if tgt_seq else []),
            *(
                [
                    F.lit(None).cast("long").alias(ROWID_COL),
                    F.lit(None).cast("long").alias(LASTSEQ_COL),
                ]
                if lineage_on
                else []
            ),
        )
        both = tgt.unionByName(ev_aligned)
        part = both.repartition(n_part, "_bucket")
        seq_tie = [F.col(SEQ_COL).desc_nulls_last()] if tgt_seq else []
        carry = None
        if lineage_on:
            # row-lineage carry: an event winner REPLACES the stored
            # row, so it inherits the stored row's permanent _row_id
            # (NULL when the key is a true insert -> fresh inherited
            # id) and resets _last_seq to NULL (= changed by this
            # commit); a target winner keeps both materialized values.
            wk = Window.partitionBy("_bucket", *keys)
            old_rid = F.max(
                F.when(F.col("_src") == 0, F.col(ROWID_COL))
            ).over(wk)
            carry = {
                ROWID_COL: F.when(F.col("_src") == 1, old_rid).otherwise(
                    F.col(ROWID_COL)
                ),
                LASTSEQ_COL: F.when(
                    F.col("_src") == 1, F.lit(None).cast("long")
                ).otherwise(F.col(LASTSEQ_COL)),
            }
        merged = self._first_per_key(
            part,
            keys,
            [F.col(LSN_COL).desc_nulls_last(), F.col("_src").desc()]
            + seq_tie
            + tie,
            carry=carry,
        )
        merged = merged.filter(
            F.col(OP_COL).isNull() | (F.col(OP_COL) != "D")
        ).drop("_src", OP_COL, *([SEQ_COL] if tgt_seq else []))

        new_files = (
            self._write_data(merged, snap, version, pre_bucketed=True) if touched else []
        )
        if stage_id is not None:
            st = self._commit_staged(
                snap, schema, batch_id, new_files, lin_rows, touched, "base", stage_id
            )
        else:
            st = self._commit_merge(
                snap, schema, batch_id, version, new_files, lin_rows, touched,
                kind="base", covered=covered_batch_ids, props=props,
            )
        st.skew_prereduced = skew_prereduced
        return st

    @staticmethod
    def _first_per_key(
        df: DataFrame,
        keys: list[str],
        order: list[F.Column],
        carry: dict[str, F.Column] | None = None,
    ) -> DataFrame:
        """Keep the first row per key after sorting each _bucket
        partition by (keys asc, *order). Valid as a per-key dedup
        because _bucket is a function of the key: every row of a key
        lands in the same bucket partition. One sort, no extra
        exchange beyond the _bucket repartition the caller already
        paid. ``carry`` columns (window expressions over
        Window.partitionBy('_bucket', *keys) — e.g. the row-lineage
        old-id carry) are computed BEFORE the winner filter so they
        can see losing rows; their required sort (_bucket, keys) is a
        prefix of the dedup sort, so they cost no extra sort or
        exchange."""
        w = Window.partitionBy("_bucket").orderBy(
            *([F.col(k).asc() for k in keys] + order)
        )
        prev_same = None
        for k in keys:
            e = F.lag(F.col(k)).over(w).eqNullSafe(F.col(k))
            prev_same = e if prev_same is None else (prev_same & e)
        is_first = ~F.coalesce(prev_same, F.lit(False))
        df = df.withColumn("_first", is_first)
        for name, col in (carry or {}).items():
            df = df.withColumn(name, col)
        return df.filter(F.col("_first")).drop("_first")

    def _write_lineage(self, lineage: list[dict], version: int, batch_id: int) -> str:
        # driver-side pyarrow write: ~n_buckets tiny rows — spinning
        # up a Spark job for this cost seconds per microbatch and
        # anti-scaled with executor threads
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.lineage_dir, exist_ok=True)
        tbl = pa.Table.from_pylist(
            lineage,
            schema=pa.schema(
                [
                    ("batch_id", pa.int64()),
                    ("partition_bucket", pa.int32()),
                    ("min_lsn", pa.int64()),
                    ("max_lsn", pa.int64()),
                    ("applied_count", pa.int64()),
                    ("snapshot_version", pa.int64()),
                ]
            ),
        )
        # collision-free name: a concurrent winner racing for the same
        # version must not share our path (its committed lineage would be
        # silently overwritten, then deleted by our race-loss cleanup).
        # Returning the exact path lets the caller remove ONLY the file
        # this attempt wrote.
        path = os.path.join(
            self.lineage_dir,
            f"lineage-v{version:012d}-b{batch_id}-{uuid.uuid4().hex[:8]}.parquet",
        )
        pq.write_table(tbl, path)
        return path

    def _commit_merge(
        self,
        snap: dict,
        schema: T.StructType,
        batch_id: int,
        version: int,
        new_files: list[dict],
        lin_rows,
        touched: list[int],
        kind: str = "base",
        covered: "tuple[int, ...]" = (),
        props: "dict | None" = None,
    ) -> MergeStats:
        """Ledgered commit of a merge whose data files — written for
        ``version``, ``snap``'s successor — are already durable. The
        first attempt claims ``version`` on ``snap`` itself; a lost
        race rebases through ``_land``."""
        pending = self._pending(snap, schema, batch_id, new_files, lin_rows, touched, kind)
        return self._land(pending, "merge", snap=snap, covered=covered, props=props)

    def _pending(
        self,
        snap: dict,
        schema: T.StructType,
        batch_id: int,
        new_files: list[dict],
        lin_rows,
        touched: list[int],
        kind: str,
    ) -> dict:
        """A merge result whose data files are durable but whose
        snapshot is not yet claimed: the new file entries, the unified
        schema, the lineage pre-pass rows (stamped when a version
        lands), and what ``_land`` checks a later main against — the
        base's files in every touched bucket, its schema epoch and its
        bucket count. A staged commit persists exactly this."""
        by_bucket = self._files_by_bucket(snap)
        return {
            "batch_id": int(batch_id),
            "kind": kind,
            "schema": schema.jsonValue(),
            "base_version": snap["version"],
            "base_schema_epoch": snap.get("schema_epoch", 0),
            "base_n_buckets": snap["n_buckets"],
            "base_touched": {
                str(b): list(by_bucket.get(b, ())) for b in touched
            },
            "touched": [int(b) for b in touched],
            "new_files": new_files,
            "lin_rows": [
                {
                    "_bucket": int(r["_bucket"]),
                    "min_lsn": int(r["min_lsn"]),
                    "max_lsn": int(r["max_lsn"]),
                    "applied_count": int(r["applied_count"]),
                }
                for r in lin_rows
            ],
        }

    def _rebase_conflict(self, pending: dict, cur: dict) -> str | None:
        """Why ``pending`` cannot rebase onto ``cur``, or None."""
        if cur.get("schema_epoch", 0) != pending["base_schema_epoch"]:
            # a rename/drop: the files were written under the old
            # identity map
            return "schema identity changed (rename/drop on main)"
        if cur["n_buckets"] != pending.get("base_n_buckets", cur["n_buckets"]):
            # the files' bucket labels are under the old bucket
            # function; even a delta append would poison every
            # bucket-pruned path (point lookups, CDF, compaction folds)
            return (
                f"concurrent rebucket ({pending['base_n_buckets']} -> "
                f"{cur['n_buckets']})"
            )
        if pending["kind"] != "delta":
            cur_by = self._files_by_bucket(cur)
            base = pending["base_touched"]
            if any(
                tuple(cur_by.get(b, ())) != tuple(base.get(str(b), ()))
                for b in pending["touched"]
            ):
                return "concurrent commit modified rewritten buckets"
        return None

    def _land(
        self,
        pending: dict,
        operation: str,
        snap: dict | None = None,
        covered: "tuple[int, ...]" = (),
        props: "dict | None" = None,
    ) -> MergeStats:
        """The ledgered rebase shared by merge and publish: claim the
        next version for ``pending``'s durable files. The first attempt
        uses ``snap`` when given (the snapshot a merge already read);
        every other attempt re-reads main and rebases onto it:

        * a delta append commutes with any concurrent commit (read
          resolution is by _lsn, order-free);
        * a COW rewrite rebases only if main left every touched bucket
          unchanged — otherwise the data it read is stale;
        * a rebucket or a schema-epoch change always conflicts;
        * a batch main already ledgered (a replay won) returns
          applied=False, so exactly-once holds.

        A conflict raises CommitConflictError and the caller re-runs
        the merge. Lineage rows carry the version that lands; a loser
        deletes only its own lineage file. Retry cost is manifest
        arithmetic — no data is rewritten."""
        batch_id = pending["batch_id"]
        stage_id = pending.get("stage_id")
        what = f"publish {stage_id!r}" if stage_id else f"batch {batch_id}"
        touched = set(pending["touched"])
        schema = T.StructType.fromJson(pending["schema"])
        cur = snap
        for _ in range(self._REBASE_ATTEMPTS):
            if cur is None:
                cur = self.snapshot()
                if self._ledger_contains(cur["ledger"], batch_id):
                    return MergeStats(
                        batch_id=batch_id,
                        applied=False,
                        version=cur["version"],
                        stage_id=stage_id,
                    )
                why = self._rebase_conflict(pending, cur)
                if why:
                    raise CommitConflictError(
                        f"{what}: {why}; re-run the merge against the "
                        f"current snapshot v{cur['version']}"
                    )
            version = cur["version"] + 1
            if pending["kind"] == "delta":
                files = cur["files"] + pending["new_files"]
            else:
                files = [
                    f for f in cur["files"] if f["bucket"] not in touched
                ] + pending["new_files"]
            # per-partition lineage/metrics (north rule): offset range +
            # applied count per bucket, tagged with the commit version
            lineage = [
                {
                    "batch_id": batch_id,
                    "partition_bucket": r["_bucket"],
                    "min_lsn": r["min_lsn"],
                    "max_lsn": r["max_lsn"],
                    "applied_count": r["applied_count"],
                    "snapshot_version": version,
                }
                for r in pending["lin_rows"]
            ]
            new = dict(cur)
            new.update(
                version=version,
                schema=self._unify_schema(
                    self.schema(cur), schema, protect=tuple(cur["key_cols"])
                ).jsonValue(),
                files=files,
                parent=cur["version"],
                ledger=functools.reduce(
                    self._ledger_add, [*covered, batch_id], cur["ledger"]
                ),
                operation=f"{operation}-{'mor' if pending['kind'] == 'delta' else 'cow'}",
            )
            if props:
                new.update(props)  # atomic with the data commit
            lin_path = self._write_lineage(lineage, version, batch_id) if lineage else None
            if self._claim(new, lin_path):
                return MergeStats(
                    batch_id=batch_id,
                    applied=True,
                    version=version,
                    deduped_rows=sum(r["applied_count"] for r in pending["lin_rows"]),
                    touched_buckets=len(touched),
                    lineage=lineage,
                    stage_id=stage_id,
                )
            cur = None
        raise CommitConflictError(f"{what}: commit retries exhausted")

    # ---------------- write-audit-publish (staged commits) ----------------
    #
    # Iceberg's WAP pattern (wap.id + cherry-pick / audit branch +
    # fast_forward) for CDC ingest: apply a suspect batch WITHOUT
    # moving ``current``, run validation queries against the staged
    # result, then publish (a pure-metadata fast-forward commit) or
    # abandon (data files become grace-gated orphans). Staged refs
    # live OUTSIDE the v*.json namespace on purpose: a staged commit
    # must never occupy a version number, or every optimistic claim
    # loop in merge/compact/rename/rollback would collide with it
    # forever (current never reaches it, so version=current+1 would
    # retry the same taken number).

    def _staged_path(self, stage_id: str) -> str:
        if (
            not stage_id
            or stage_id != os.path.basename(stage_id)
            or ".." in stage_id
            or stage_id.startswith(".")
        ):
            raise ValueError(f"invalid stage_id {stage_id!r}")
        return os.path.join(self._meta, f"staged-{stage_id}.json")

    def staged_ids(self) -> list[str]:
        """Stage ids with a live staged commit (audit-pending)."""
        try:
            names = os.listdir(self._meta)
        except FileNotFoundError:
            return []
        return sorted(
            n[len("staged-") : -len(".json")]
            for n in names
            if n.startswith("staged-") and n.endswith(".json")
        )

    def _load_staged(self, stage_id: str) -> dict:
        try:
            with open(self._staged_path(stage_id)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(f"no staged commit {stage_id!r}") from None

    def _commit_staged(
        self,
        snap: dict,
        schema: T.StructType,
        batch_id: int,
        new_files: list[dict],
        lin_rows,
        touched: list[int],
        kind: str,
        stage_id: str,
    ) -> MergeStats:
        """Stage 1 of WAP: persist the pending commit (``_pending``) as
        a staged ref. Lineage is written at PUBLISH with the final
        version, so abandoned stages leave no audit rows.
        Exclusive-create: a duplicate stage_id is an error, not an
        overwrite."""
        doc = self._pending(snap, schema, batch_id, new_files, lin_rows, touched, kind)
        doc.update(stage_id=stage_id, created_at=time.time())
        path = self._staged_path(stage_id)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        try:
            os.link(tmp, path)  # atomic content, exclusive name
        finally:
            os.remove(tmp)
        return MergeStats(
            batch_id=batch_id,
            applied=False,
            version=snap["version"],
            deduped_rows=sum(r["applied_count"] for r in doc["lin_rows"]),
            touched_buckets=len(touched),
            stage_id=stage_id,
        )

    def read_staged(
        self, stage_id: str, include_meta: bool = False, scope: str = "table"
    ) -> DataFrame:
        """Audit view of a staged commit.

        scope='table' (default): exactly the table publish() would
        produce if it ran against the STAGE-TIME base (a later main
        commit can still conflict a COW publish — that is what publish
        re-checks). Full-table invariants run here; cost is a table
        scan.

        scope='batch': only the STAGED files — the batch's deduped
        change rows for a delta (MOR) stage, the rewritten touched
        buckets for a COW stage. O(batch) / O(touched data), the
        scale-correct view for per-batch audits in a streaming loop
        (delete tombstones are dropped unless include_meta, since they
        carry no new column values to validate)."""
        if scope not in ("table", "batch"):
            raise ValueError(f"scope must be 'table' or 'batch', got {scope!r}")
        doc = self._load_staged(stage_id)
        base = self.snapshot(doc["base_version"])
        schema = T.StructType.fromJson(doc["schema"])
        pseudo = dict(base)
        self._ensure_field_meta(pseudo)
        pseudo.update(self._evolved_field_meta(pseudo, schema))
        touched_set = set(doc["touched"])
        if scope == "batch":
            files = list(doc["new_files"])
        elif doc["kind"] == "delta":
            files = base["files"] + doc["new_files"]
        else:
            files = [
                f for f in base["files"] if f["bucket"] not in touched_set
            ] + doc["new_files"]
        pseudo["schema"] = doc["schema"]
        pseudo["files"] = files
        if scope == "batch":
            # staged files only — merges never stage DV entries, so a
            # direct entry read (no mask, no seq) is exact
            df = self._read_entries(
                files, pseudo, self._phys_schema(pseudo), with_seq=False
            )
            has_delta = False
        else:
            df, has_delta = self._scan(files, pseudo)
        if scope == "batch":
            if not include_meta and OP_COL in df.columns:
                df = df.filter(
                    F.coalesce(F.col(OP_COL) != F.lit("D"), F.lit(True))
                )
        elif has_delta:
            df = self._resolve(df, pseudo)
        return df.drop(OP_COL) if include_meta else df.drop(LSN_COL, OP_COL)

    def publish(self, stage_id: str) -> MergeStats:
        """Stage 2 of WAP: fast-forward the staged commit onto main.
        Pure metadata — no data is rewritten. Same ledgered rebase as a
        live merge (``_land``): a delta stage commutes with any main
        advance; a COW stage publishes only if main left every bucket
        it rewrote untouched; a rename/drop or rebucket on main since
        the stage conflicts — ``CommitConflictError`` tells the caller
        to re-merge the batch against current. If main already applied
        this batch_id (e.g. a replay raced the audit), the stage is
        dropped and applied=False returned — exactly-once holds."""
        st = self._land(self._load_staged(stage_id), "publish")
        self.abandon(stage_id)
        return st

    def abandon(self, stage_id: str) -> bool:
        """Drop a staged commit. Its data files become unreferenced
        and are collected by the grace-gated orphan walk."""
        try:
            os.remove(self._staged_path(stage_id))
            return True
        except FileNotFoundError:
            return False

    # ---------------- tags (named immutable refs) ----------------
    #
    # Iceberg's `tag` retention refs: a human name pinned to one
    # snapshot version. Tags make a point-in-time state addressable
    # ("training-run-17", "audited-2026-Q2") and RETAINED — the
    # expiry walk keeps a tagged snapshot and everything it
    # references alive regardless of keep_last, so time travel to a
    # tag never hits the expired-history error. Like staged refs,
    # tags live outside the v*.json namespace and never occupy a
    # version number.

    def _tag_path(self, name: str) -> str:
        if (
            not name
            or name != os.path.basename(name)
            or ".." in name
            or name.startswith(".")
        ):
            raise ValueError(f"invalid tag name {name!r}")
        return os.path.join(self._meta, f"tag-{name}.json")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin ``version`` (default: current) under ``name``.
        Exclusive-create: re-tagging an existing name is an error
        (drop it first) — a tag that silently moved would defeat its
        audit purpose. Raises if the target snapshot is already
        expired."""
        snap = self.snapshot(version)  # raises if expired/unknown
        doc = {
            "name": name,
            "version": snap["version"],
            "created_at": time.time(),
        }
        path = self._tag_path(name)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        try:
            os.link(tmp, path)  # atomic content, exclusive name
        finally:
            os.remove(tmp)
        return snap["version"]

    def tags(self) -> dict[str, int]:
        """name -> pinned version for every live tag."""
        try:
            names = os.listdir(self._meta)
        except FileNotFoundError:
            return {}
        out: dict[str, int] = {}
        for n in sorted(names):
            if not (n.startswith("tag-") and n.endswith(".json")):
                continue
            try:
                with open(os.path.join(self._meta, n)) as f:
                    doc = json.load(f)
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # dropped or in-flight concurrently
            out[doc["name"]] = int(doc["version"])
        return out

    def tag_version(self, name: str) -> int:
        try:
            with open(self._tag_path(name)) as f:
                return int(json.load(f)["version"])
        except FileNotFoundError:
            raise ValueError(f"no tag {name!r}") from None

    def read_tag(self, name: str, include_meta: bool = False) -> DataFrame:
        """Time travel by name: the table as of the tagged snapshot."""
        return self.read(self.tag_version(name), include_meta=include_meta)

    def drop_tag(self, name: str) -> bool:
        """Unpin a tag; the snapshot it pointed at becomes expirable
        again on the next expire_snapshots run."""
        try:
            os.remove(self._tag_path(name))
            return True
        except FileNotFoundError:
            return False

    # ---------------- branches (named writable refs) ----------------
    #
    # Iceberg's `branch` retention refs, writable: where a tag pins one
    # snapshot read-only and a WAP stage holds exactly ONE audited
    # commit, a branch accepts a whole SEQUENCE of merges / compactions
    # / schema changes through the normal commit protocol (optimistic
    # retries, exactly-once ledger, per-batch lineage) without moving
    # main — the multi-batch audit / repair / dev-test pattern ("apply
    # this afternoon's WAL to `repair`, validate the whole line, then
    # fast-forward main"). Branch snapshots live under
    # _meta/branches/<name>/ — outside the v*.json namespace, so like
    # tags and stages they never consume a main version number — while
    # DATA files, split manifests, and index sidecars stay in the
    # shared content-addressed stores: a branch commit costs the same
    # as a main commit, and unchanged buckets share the fork point's
    # manifests by fingerprint. expire_snapshots() on main pins every
    # file, manifest, and sidecar any live branch references, exactly
    # like tags and staged commits.
    #
    # fast_forward(name) is Iceberg's fastForwardBranch adapted to the
    # split namespace: it publishes the branch head onto main as ONE
    # metadata-only commit (no data rewritten — the head's manifest
    # pointers are reused verbatim), re-stamping the branch's per-batch
    # lineage rows to the published version so the audit trail survives
    # the squash. Like Iceberg it requires main to be an ancestor of
    # the branch head; because the namespaces are split that means main
    # must still be AT the fork point — if main advanced, the branch no
    # longer descends from current and the caller must re-merge
    # (CommitConflictError), the same contract publish() applies to COW
    # stages. The squash makes fast-forward one-shot per fork: continue
    # work by re-forking from the published version (keeps the restamped
    # audit rows exactly-once).

    def _branches_root(self) -> str:
        return os.path.join(self._meta, "branches")

    def _branch_dir(self, name: str) -> str:
        if (
            not name
            or name != os.path.basename(name)
            or ".." in name
            or name.startswith(".")
        ):
            raise ValueError(f"invalid branch name {name!r}")
        return os.path.join(self._branches_root(), name)

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Fork ``version`` (default: current) as writable branch
        ``name``. Exclusive-create (mkdir is the winner-picks lock).
        The fork-point snapshot JSON is copied RAW into the branch
        namespace — same manifest pointers, zero data or manifest
        I/O — and becomes the branch's first version; branch merges
        number onward from there."""
        v = self.current_version() if version is None else int(version)
        with open(self._snap_path(v)) as f:  # raises if expired/unknown
            raw = json.load(f)
        bdir = self._branch_dir(name)
        try:
            os.makedirs(bdir)
        except FileExistsError:
            raise ValueError(f"branch {name!r} already exists") from None
        raw["operation"] = "branch-create"
        raw["branch"] = name
        with open(os.path.join(bdir, f"v{v:012d}.json"), "w") as f:
            json.dump(raw, f)
        with open(os.path.join(bdir, "branch.json"), "w") as f:
            json.dump(
                {"name": name, "forked_from": v, "created_at": time.time()}, f
            )
        # current pointer last: a handle opened mid-create sees a
        # complete namespace or none (branch() checks branch.json)
        with open(os.path.join(bdir, "current"), "w") as f:
            f.write(str(v))
        return v

    def branches(self) -> dict[str, dict]:
        """name -> {"head": int, "forked_from": int} for live branches
        (mid-create / mid-drop namespaces are skipped)."""
        try:
            names = os.listdir(self._branches_root())
        except FileNotFoundError:
            return {}
        out: dict[str, dict] = {}
        for n in sorted(names):
            bdir = os.path.join(self._branches_root(), n)
            try:
                with open(os.path.join(bdir, "branch.json")) as f:
                    doc = json.load(f)
                with open(os.path.join(bdir, "current")) as f:
                    head = int(f.read().strip())
            except (FileNotFoundError, json.JSONDecodeError, ValueError):
                continue
            out[n] = {"head": head, "forked_from": int(doc["forked_from"])}
        return out

    def branch(self, name: str) -> "LakeTable":
        """A writable handle on branch ``name``: merge / read /
        read_where / change_feed / time travel / compact / history /
        even staged WAP commits all run against the branch's own
        snapshot line through the identical machinery. Branch lineage
        is kept in an isolated per-branch audit dir until fast_forward
        re-stamps it onto main. Maintenance that reasons about GLOBAL
        reachability (expire_snapshots) and ref management are
        main-only and raise on a handle; history older than the fork
        point is addressable on main, not the handle."""
        bdir = self._branch_dir(name)
        if not os.path.isfile(os.path.join(bdir, "branch.json")):
            raise ValueError(f"no branch {name!r}")
        return _BranchHandle(self, name)

    def _restamp_branch_lineage(self, h: "LakeTable", version: int) -> str | None:
        """Consolidate a branch's per-batch audit rows into ONE parquet
        in main's lineage dir with snapshot_version re-stamped to the
        publishing commit (batch ids, buckets, LSN ranges, applied
        counts survive the squash verbatim). Driver-side pyarrow,
        O(branch batches x buckets) rows — same cost class as
        _write_lineage."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        if not os.path.isdir(h.lineage_dir):
            return None
        parts = sorted(
            os.path.join(dp, n)
            for dp, _dirs, names in os.walk(h.lineage_dir)
            for n in names
            if n.endswith(".parquet")
        )
        if not parts:
            return None
        tbl = pa.concat_tables([pq.read_table(p) for p in parts])
        if tbl.num_rows == 0:
            return None
        i = tbl.schema.get_field_index("snapshot_version")
        tbl = tbl.set_column(
            i, "snapshot_version", pa.array([version] * tbl.num_rows, pa.int64())
        )
        os.makedirs(self.lineage_dir, exist_ok=True)
        path = os.path.join(
            self.lineage_dir,
            f"lineage-v{version:012d}-ff-{uuid.uuid4().hex[:8]}.parquet",
        )
        pq.write_table(tbl, path)
        return path

    def fast_forward(self, name: str) -> MergeStats:
        """Publish branch ``name``'s head onto main as one
        metadata-only commit. Main must still be at the branch's fork
        point (see the section comment); a branch with no commits
        fast-forwards as a no-op (applied=False). The branch ref
        survives — ``drop_branch`` when done."""
        bdir = self._branch_dir(name)
        try:
            with open(os.path.join(bdir, "branch.json")) as f:
                bdoc = json.load(f)
        except FileNotFoundError:
            raise ValueError(f"no branch {name!r}") from None
        h = _BranchHandle(self, name)
        head = h.snapshot()  # materialized files + manifest provenance
        fork = int(bdoc["forked_from"])
        if head["version"] == fork:
            return MergeStats(
                batch_id=-1, applied=False, version=self.current_version()
            )
        # one attempt: a lost version race means main moved past the
        # fork, which no retry can undo
        cur = self.snapshot()
        if cur["version"] == fork:
            new = dict(head)
            new.pop("branch", None)
            new.update(
                version=cur["version"] + 1,
                parent=cur["version"],
                operation="fast-forward",
                ff_branch=name,
                ff_head=head["version"],
            )
            if self._claim(new, self._restamp_branch_lineage(h, new["version"])):
                cur_paths = {g["path"] for g in cur["files"]}
                return MergeStats(
                    batch_id=-1,
                    applied=True,
                    version=new["version"],
                    touched_buckets=len(
                        {f["bucket"] for f in head["files"] if f["path"] not in cur_paths}
                    ),
                )
        raise CommitConflictError(
            f"fast_forward {name!r}: main advanced past the fork point "
            f"(v{fork} -> v{self.current_version()}), so the branch no longer "
            f"descends from current; re-merge its batches or re-fork"
        )

    def drop_branch(self, name: str) -> bool:
        """Remove the branch ref, its snapshot line, and its private
        audit rows. Data files / manifests / sidecars only the branch
        referenced become unreferenced and are collected by the
        grace-gated orphan walk."""
        bdir = self._branch_dir(name)
        found = os.path.isdir(bdir)
        shutil.rmtree(bdir, ignore_errors=True)
        shutil.rmtree(
            os.path.join(self.root, "lineage-branches", name), ignore_errors=True
        )
        return found

    # ---------------- maintenance ----------------

    def compact(
        self,
        min_deltas: int | None = None,
        min_delta_rows: int | None = None,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        zorder: bool = False,
        where: "list[tuple] | str | None" = None,
    ) -> int:
        """Fold MOR deltas into base files and collapse small files.

        Concurrency: compaction is optimistic like merge — if another
        writer commits the contended version first, the whole fold is
        recomputed against the winner's snapshot and retried (the fold
        set may have changed; this attempt's uuid-dir data files become
        orphans for the periodic expire scan). Raises
        CommitConflictError after ``_COMMIT_ATTEMPTS`` lost races.

        Both thresholds None: full rewrite — resolve once, rewrite
        every bucket as kind='base' (also collapses small base files).

        min_deltas=k: PARTIAL compaction — rewrite only buckets whose
        delta-file count is >= k, leave every other file untouched
        (Iceberg's per-partition rewrite_data_files analogue). This is
        the knob a long-running MOR stream needs: without it delta
        count — and so read amplification — grows linearly with
        microbatch count; with it, cost per compaction is bounded by
        the hot buckets' bytes, not the table's.

        min_delta_rows=r: fold buckets whose PENDING DELTA ROW MASS
        (manifest stats, O(metadata)) is >= r. Row mass, not file
        count, is what readers actually pay — a hot bucket can cross
        a read-amplification budget in 2 fat deltas while a cold one
        sits harmlessly on 10 near-empty ones; a count trigger folds
        the wrong bucket first. A delta file from a pre-stats manifest
        has unknown mass and conservatively marks its bucket
        foldable. Thresholds OR together. Returns the current version
        unchanged when no bucket crosses (no empty snapshots).

        cluster_by=[cols]: the rewrite additionally SORTS each bucket
        by the given value columns and (with max_records_per_file)
        splits it into value-contiguous files, making the manifest
        cmin/cmax bounds selective — the Iceberg sort-order
        rewrite_data_files analogue that turns read_where's file
        skipping from a no-op (hash-bucketed layout: every file spans
        the full value range) into O(matching files).

        zorder=True (with 2+ cluster_by columns): sort on the Morton
        code of the columns' equal-width grid cells instead of
        lexicographically, so every emitted file covers a small
        hyper-rectangle and bounds prune on EVERY z-order column, not
        just the first (Iceberg rewrite zorder / Delta OPTIMIZE
        ZORDER BY analogue; numeric columns only).

        where=<predicates>: SCOPE the rewrite (Delta ``OPTIMIZE ...
        WHERE`` / Iceberg filtered rewrite_data_files analogue) — only
        buckets holding at least one file whose manifest bounds
        intersect the predicate are rewritten; composes with the
        thresholds (intersection) and cluster_by. At 100 TB you
        optimize the hot date range, not the table. Granularity is
        the bucket (keys live in exactly one bucket, so folding whole
        buckets is value-neutral no matter what the predicate says);
        scoping deliberately BYPASSES read-side pruning's MOR
        delta-bucket exemption and judges delta files by their own
        bounds — a delta bucket entirely outside the predicate is
        simply left alone, which a read could not do."""
        return self._optimistic(
            "compact",
            lambda: self._compact_once(
                min_deltas, min_delta_rows, cluster_by, max_records_per_file,
                zorder, where,
            ),
        )

    def _compact_once(
        self,
        min_deltas: int | None,
        min_delta_rows: int | None = None,
        cluster_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        zorder: bool = False,
        where: "list[tuple] | str | None" = None,
    ) -> int:
        snap = self.snapshot()
        scope: set[int] | None = None
        if where is not None:
            # bucket scope from file bounds. Re-labeling delta entries
            # as base bypasses prune_files' read-side delta-bucket
            # exemption ON PURPOSE: this is not a read — a bucket folds
            # wholly or not at all, so judging delta files by their own
            # bounds can only leave an out-of-scope bucket alone, never
            # mis-resolve one.
            relabeled = dict(
                snap,
                files=[
                    {**f, "kind": "base"}
                    for f in snap["files"]
                    # DV entries carry no value bounds to judge — scope
                    # is decided by the DATA files; a scoped bucket's
                    # dv masks fold with it via the bucket-whole fold
                    if f.get("kind", "base") != "dv"
                ],
            )
            scope = {f["bucket"] for f in self.prune_files(relabeled, where)}
            if not scope:
                return snap["version"]
        if min_deltas is None and min_delta_rows is None:
            if scope is None:
                fold_files = snap["files"]
                kept_files: list[dict] = []
            else:
                fold_files = [f for f in snap["files"] if f["bucket"] in scope]
                kept_files = [f for f in snap["files"] if f["bucket"] not in scope]
            if not fold_files:
                return snap["version"]
        else:
            from collections import Counter

            dc: Counter = Counter()
            rows: Counter = Counter()
            unknown: set[int] = set()
            for f in snap["files"]:
                # deletion vectors are read debt exactly like delta
                # rows (one anti-join per scan until folded), so they
                # count toward both compaction triggers
                if f.get("kind", "base") not in ("delta", "dv"):
                    continue
                dc[f["bucket"]] += 1
                if f.get("rows") is None:
                    unknown.add(f["bucket"])
                else:
                    rows[f["bucket"]] += f["rows"]
            fold = set()
            if min_deltas is not None:
                fold |= {b for b, c in dc.items() if c >= min_deltas}
            if min_delta_rows is not None:
                fold |= {b for b, r in rows.items() if r >= min_delta_rows}
                fold |= unknown  # unknown mass: fold conservatively
            if scope is not None:
                fold &= scope
            if not fold:
                return snap["version"]
            fold_files = [f for f in snap["files"] if f["bucket"] in fold]
            kept_files = [f for f in snap["files"] if f["bucket"] not in fold]
        # resolving a bucket subset is safe: _bucket is a pure function
        # of the key, so every row of a key lives in exactly one bucket
        # and all of that bucket's files are in the fold set. DV masks
        # apply inside the fold read and the folded buckets' dv entries
        # are in fold_files, so the rewrite retires them with the files
        # they mask.
        df, has_delta = self._scan(
            fold_files,
            snap,
            # compact destroys the inheritance base (files are folded
            # away), so it must MATERIALIZE lineage: reading with
            # lineage turns the derived values into plain columns the
            # rewrite below persists
            with_lineage=bool(snap.get("row_lineage")),
        )
        if has_delta:
            df = self._resolve(df, snap)
        df = df.drop(OP_COL)
        version = snap["version"] + 1
        files = self._write_data(
            df,
            snap,
            version,
            kind="base",
            cluster_by=cluster_by,
            max_records_per_file=max_records_per_file,
            zorder=zorder,
            enforce_constraints=False,  # carries existing rows only
        )
        new = dict(snap)
        new.update(
            version=version,
            files=kept_files + files,
            parent=snap["version"],
            operation="compact",
        )
        self._write_snapshot(new)
        return version

    def delete_where(
        self,
        predicates: "list[tuple] | str",
        mode: str = "cow",
    ) -> dict:
        """Row-level DELETE FROM ... WHERE (the Iceberg/Delta DELETE
        analogue; the reference has no row-level DML at all — its only
        subtractive path is the weekly drop-and-rebuild,
        /root/reference/src/dags/w3c.py:249-396).

        Rows where the predicate is TRUE are removed; FALSE and NULL
        rows are kept (SQL three-valued DELETE semantics). Granularity
        is the bucket: file skipping (manifest bounds / null counts /
        equality indexes) first narrows to the files the predicate
        could touch, their buckets are resolved (MOR deltas folded,
        max-LSN) and rewritten as base files minus the matched rows,
        and every other bucket's files are carried by reference —
        commit cost ∝ touched-bucket bytes, exactly compact()'s bound,
        NOT table size. A predicate that matches nothing (bounds
        over-admit, zero rows hit) returns without committing an empty
        snapshot. Optimistic commit with recompute-on-conflict, same
        contract as merge/compact. Surviving rows keep their stored
        _lsn, so a racing CDC stream's max-LSN rules are unchanged:
        a later upsert of a deleted key legally re-inserts it (same
        boundary as the stale-DELETE contract on merge()).

        mode='cow' (default) rewrites the touched buckets —
        read-optimized. mode='mor' appends per-matched-key DELETE
        tombstones as delta files instead (the Iceberg
        equality-delete / Delta deletion-vector scale analogue):
        write cost ∝ MATCHED rows, not touched-bucket bytes — at
        100 TB a selective DELETE writes kilobytes where COW would
        rewrite every touched gigabyte bucket. Tombstones keep the
        stored row's _lsn and win resolution by data-sequence number
        (the later commit), so CDC max-LSN semantics are untouched;
        readers pay the standard MOR window until compact() folds.
        """
        return self._dml("delete", predicates, None, mode)

    def update_where(
        self,
        predicates: "list[tuple] | str",
        assignments: dict[str, str],
        mode: str = "cow",
    ) -> dict:
        """Row-level UPDATE ... SET ... WHERE (Iceberg/Delta UPDATE
        analogue). ``assignments`` maps column -> SQL expression; every
        right-hand side is evaluated against the PRE-update row (SQL
        UPDATE semantics — assignments never see each other), cast to
        the column's declared type so the table schema is stable. Key
        columns and the LSN column are not assignable (a key rewrite
        would silently move rows across buckets — express that as
        delete + insert through merge()). Matching, granularity, cost
        bound, no-op early return, and commit semantics are exactly
        delete_where's — including mode='mor', which appends the
        updated images as delta files (cost ∝ matched rows; the image
        keeps the stored _lsn and wins by data-sequence number)."""
        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        return self._dml("update", predicates, assignments, mode)

    def _dml(
        self,
        what: str,
        predicates: "list[tuple] | str",
        assignments: dict[str, str] | None,
        mode: str = "cow",
    ) -> dict:
        if mode not in ("cow", "mor", "dv"):
            raise ValueError(f"mode must be 'cow', 'mor' or 'dv', got {mode!r}")
        if mode == "dv" and what != "delete":
            # Iceberg v3 DVs are delete-only; an update is a DV delete
            # of the old positions plus an insert of full new images,
            # which is exactly what mode='mor' already writes
            raise ValueError("mode='dv' supports delete_where only")
        if assignments is not None:
            snap = self.snapshot()
            protected = set(snap["key_cols"]) | {LSN_COL, OP_COL}
            table_cols = {f.name for f in self.schema(snap).fields}
            gen = self._generated_cols(snap)
            for c in assignments:
                if c in protected:
                    raise ValueError(
                        f"column {c!r} is a key/system column and cannot be "
                        "assigned; delete + re-insert through merge() instead"
                    )
                if c not in table_cols:
                    raise ValueError(f"unknown column {c!r} in SET clause")
                if c in gen:
                    raise ValueError(
                        f"column {c!r} is GENERATED ALWAYS AS ({gen[c]}) and "
                        "cannot be assigned directly — assign its referenced "
                        "columns and it recomputes"
                    )
        return self._optimistic(
            f"{what}_where",
            lambda: self._dml_once(what, predicates, assignments, mode),
        )

    def _dml_once(
        self,
        what: str,
        predicates: "list[tuple] | str",
        assignments: dict[str, str] | None,
        mode: str = "cow",
    ) -> dict:
        snap = self.snapshot()
        admitted = self.prune_files(snap, predicates)
        touched = {f["bucket"] for f in admitted}
        no_op = {
            "operation": what,
            "version": snap["version"],
            "applied": False,
            "rows_changed": 0,
            "buckets_rewritten": 0,
            "files_skipped": len(snap["files"]) - len(admitted),
        }
        if not touched:
            return no_op
        # widen to every file of the touched buckets: a key's rows live
        # in exactly one bucket and MOR resolution needs all of them
        fold_files = [f for f in snap["files"] if f["bucket"] in touched]
        kept_files = [f for f in snap["files"] if f["bucket"] not in touched]
        lineage_on = bool(snap.get("row_lineage"))
        df, has_delta = self._scan(
            fold_files, snap, with_lineage=lineage_on,
            keep_pos=(mode == "dv"),
        )
        raw = df  # pre-resolution physical rows (DV mode masks ALL of
        # a matched key's versions, not just the resolved winner)
        if has_delta:
            df = self._resolve(df, snap)
        df = df.drop(OP_COL, *(["_fkey", "_fpos"] if mode == "dv" else []))
        hit = self._pred_cond(predicates).eqNullSafe(F.lit(True))
        # one counting pass (predicate pushed into the pruned scan):
        # buys the no-op early exit when bounds over-admitted, and the
        # honest rows_changed audit; bounded by touched-bucket bytes
        n_hit = df.filter(hit).count()
        if n_hit == 0:
            return dict(no_op, files_skipped=len(snap["files"]) - len(fold_files))
        types = {f.name: f.dataType for f in self.schema(snap).fields}
        # GENERATED ALWAYS AS under UPDATE (Delta's rule): an assigned
        # referenced column recomputes the generated value from the
        # POST-update row, so the stored value never goes stale against
        # its expression. Direct assignment of a generated column was
        # rejected in _dml.
        regen: dict[str, str] = {}
        if assignments is not None:
            schema_now = self.schema(snap)
            for g_col, g in self._generated_cols(snap).items():
                if self._expr_refs(g, schema_now) & set(assignments):
                    regen[g_col] = g
        version = snap["version"] + 1
        dml_audit = {
            "predicate": predicates
            if isinstance(predicates, str)
            else [list(p) for p in predicates],
            "set": assignments,
            "rows_changed": n_hit,
            "mode": mode,
        }
        if mode == "dv":
            # positional deletion vectors (Iceberg v3 DV / Delta
            # deletion-vector analogue): append (file key, position)
            # pairs naming EVERY physical row of the matched keys —
            # base rows, MOR images, tombstones alike (masking only the
            # resolved winner would resurrect the previous version).
            # Matched keys come from the RESOLVED view, so SQL DELETE
            # semantics hold under pending deltas. Write cost ∝ masked
            # positions (two tiny columns — no key strings, no value
            # columns); and unlike equality tombstones the masks add NO
            # resolution shuffle at read time: a DV-only table scans
            # exchange-free through one broadcast anti-join.
            hit_keys = (
                df.filter(hit).select(*snap["key_cols"]).distinct()
            )
            par = self.spark.sparkContext.defaultParallelism
            dv_rows = (
                raw.join(hit_keys, snap["key_cols"], "left_semi")
                .select(
                    F.col("_fkey").alias("_dv_fkey"),
                    F.col("_fpos").alias("_dv_pos"),
                    self._bucket_expr(snap).alias("_bucket"),
                )
                .repartition(max(1, min(len(touched), par)), "_bucket")
            )
            files = self._write_data(
                dv_rows, snap, version, kind="dv", pre_bucketed=True,
                enforce_constraints=False,
            )
            new = dict(snap)
            new.update(
                version=version,
                files=snap["files"] + files,
                parent=snap["version"],
                operation=what,
                dml=dml_audit,
            )
            self._write_snapshot(new)
            return {
                "operation": what,
                "version": version,
                "applied": True,
                "rows_changed": n_hit,
                "buckets_rewritten": 0,
                "dv_files": len(files),
                "files_skipped": len(snap["files"]) - len(fold_files),
            }
        if mode == "mor":
            # merge-on-read DML: append only the MATCHED rows' new
            # images as delta files — tombstones for delete, updated
            # full rows for update. Each image keeps the stored row's
            # _lsn (racing CDC max-LSN rules unchanged; a strictly
            # later upsert still wins) and outranks the stored row
            # purely by data-sequence number (this commit is later).
            # Cost ∝ matched rows; every pre-existing file carries by
            # reference. The Iceberg equality-delete / Delta
            # deletion-vector scale path.
            # lineage: the tombstone/image names the row it supersedes
            # (same _row_id); _last_seq resets to NULL = changed by
            # this commit. Both are longs outside the table schema, so
            # they bypass the types[] cast map.
            keep = set(snap["key_cols"]) | {LSN_COL, ROWID_COL}
            if assignments is None:
                img = df.filter(hit).select(
                    *[
                        (
                            F.col(c)
                            if c in keep
                            else F.lit(None).cast(
                                types[c] if c in types else T.LongType()
                            )
                        ).alias(c)
                        for c in df.columns
                    ],
                    F.lit("D").alias(OP_COL),
                )
            else:
                sets = {
                    c: F.expr(e).cast(types[c]) for c, e in assignments.items()
                }
                if lineage_on:
                    sets[LASTSEQ_COL] = F.lit(None).cast("long")
                # ONE select: every RHS sees the pre-update row
                img = df.filter(hit).select(
                    *[sets.get(c, F.col(c)).alias(c) for c in df.columns],
                    F.lit("U").alias(OP_COL),
                )
                if regen:
                    # second projection over the POST-update image
                    img = img.select(
                        *[
                            (
                                F.expr(regen[c]).cast(types[c])
                                if c in regen
                                else F.col(c)
                            ).alias(c)
                            for c in img.columns
                        ]
                    )
            files = self._write_data(img, snap, version, kind="delta")
            new = dict(snap)
            new.update(
                version=version,
                files=snap["files"] + files,
                parent=snap["version"],
                operation=what,
                dml=dml_audit,
            )
            self._write_snapshot(new)
            return {
                "operation": what,
                "version": version,
                "applied": True,
                "rows_changed": n_hit,
                "buckets_rewritten": 0,
                "delta_files": len(files),
                "files_skipped": len(snap["files"]) - len(fold_files),
            }
        if assignments is None:
            out = df.filter(~hit)
        else:
            new_cols = {
                c: F.when(hit, F.expr(e).cast(types[c])).otherwise(F.col(c))
                for c, e in assignments.items()
            }
            if lineage_on:
                # updated rows: changed by THIS commit (NULL inherits
                # the new file's sequence); carried rows keep theirs
                new_cols[LASTSEQ_COL] = F.when(
                    hit, F.lit(None).cast("long")
                ).otherwise(F.col(LASTSEQ_COL))
            # ONE select: every RHS sees the pre-update row
            if regen:
                # materialize the hit marker BEFORE the update so the
                # recompute projection (which sees post-update values)
                # still knows which rows matched the pre-update predicate
                marked = df.withColumn("_dml_hit", hit)
                out = marked.select(
                    *[new_cols.get(c, F.col(c)).alias(c) for c in df.columns],
                    F.col("_dml_hit"),
                )
                out = out.select(
                    *[
                        (
                            F.when(
                                F.col("_dml_hit"),
                                F.expr(regen[c]).cast(types[c]),
                            ).otherwise(F.col(c))
                            if c in regen
                            else F.col(c)
                        ).alias(c)
                        for c in df.columns
                    ]
                )
            else:
                out = df.select(
                    *[new_cols.get(c, F.col(c)).alias(c) for c in df.columns]
                )
        files = self._write_data(out, snap, version, kind="base")
        new = dict(snap)
        new.update(
            version=version,
            files=kept_files + files,
            parent=snap["version"],
            operation=what,
            dml=dml_audit,
        )
        self._write_snapshot(new)
        return {
            "operation": what,
            "version": version,
            "applied": True,
            "rows_changed": n_hit,
            "buckets_rewritten": len(touched),
            "files_skipped": len(snap["files"]) - len(fold_files),
        }

    def merge_into(
        self,
        source: DataFrame,
        clauses: list[tuple],
        insert_lsn: int = 0,
        mode: str = "cow",
    ) -> dict:
        """Generic MERGE INTO (the Delta ``merge``/Iceberg ``MERGE
        INTO`` clause API; merge() stays the CDC fast path for
        op-tagged event streams — this is the ad-hoc-source shape):

        ``clauses`` is an ORDERED list of
          ("update", condition|None, {col: sql_expr}),
          ("delete", condition|None, None),
          ("insert", condition|None, {col: sql_expr}|None)
        — per row the FIRST applicable clause wins (Delta semantics);
        a matched row no update/delete clause accepts is kept
        unchanged, an unmatched source row no insert clause accepts is
        dropped. Conditions and expressions see the target row as
        ``t.<col>`` and the source row as ``s.<col>``; insert None
        means insert the source columns as-is. Update/insert
        expressions cast to the column's declared type; key columns
        follow the join and are not assignable; updated/kept rows keep
        the stored ``_lsn``, inserted rows take ``s.lsn`` when the
        source carries one, else ``insert_lsn``.

        A source with two rows for one key is ambiguous and raises
        (Delta's multiple-source-rows error) — pre-aggregate instead.
        Cost bound: only buckets the SOURCE keys hash into are
        resolved (MOR fold) and rewritten; the rest carry by
        reference. Optimistic commit, recompute-on-conflict. The
        commit stamps a ``dml`` audit record (clause shapes + per-
        action row counts) scoped to its own snapshot.

        mode='mor' (merge-on-read, completing the DML triad's
        symmetry with delete_where/update_where): instead of
        rewriting the touched buckets, append ONLY the claimed rows'
        images as delta files — post-images for update/insert
        clauses, 'D' tombstones (keys + stored _lsn, value columns
        NULL) for delete clauses; kept and copied rows write nothing.
        Write cost ∝ claimed rows, not touched-bucket bytes; images
        keep the stored _lsn and win resolution purely by
        data-sequence number (this commit is later), so CDC max-LSN
        rules are untouched and compact() folds them — identical
        semantics to the COW mode by construction, pinned by the
        twin test.

        ``nmbs_update`` / ``nmbs_delete`` clauses are the SQL ``WHEN
        NOT MATCHED BY SOURCE THEN UPDATE/DELETE`` forms (Delta's
        whenNotMatchedBySource*): they fire on TARGET rows with no
        source match — conditions/SET exprs see ``t.<col>`` only
        (``s.*`` is NULL there). This is the one clause family that
        must read beyond the source's buckets (a target row absent
        from the source can live anywhere — same as Delta, whose NMBS
        merges scan the whole target), so their presence widens the
        fold to every live bucket; the COW rewrite then drops back to
        bucket granularity — only buckets holding a source row or an
        NMBS-claimed row are rewritten, the rest carry by reference.
        The canonical use is table sync: update+insert+nmbs_delete
        makes the target exactly mirror the source."""
        kinds = {c[0] for c in clauses}
        if not clauses or kinds - {
            "update", "delete", "insert", "nmbs_update", "nmbs_delete"
        }:
            raise ValueError(
                "clauses must be a non-empty list of (update|delete|insert|"
                f"nmbs_update|nmbs_delete, condition, sets) tuples, got "
                f"{sorted(kinds) or clauses!r}"
            )
        if mode not in ("cow", "mor"):
            raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
        return self._optimistic(
            "merge_into",
            lambda: self._merge_into_once(source, clauses, insert_lsn, mode),
        )

    def _merge_into_once(
        self, source: DataFrame, clauses: list[tuple], insert_lsn: int,
        mode: str = "cow",
    ) -> dict:
        snap = self.snapshot()
        keys = snap["key_cols"]
        schema = self.schema(snap)
        table_cols = [f.name for f in schema.fields]
        types = {f.name: f.dataType for f in schema.fields}
        for k in keys:
            if k not in source.columns:
                raise ValueError(f"source is missing key column {k!r}")
        gen = self._generated_cols(snap)
        for kind, _, sets in clauses:
            for c in sets or {}:
                if c in keys or c == LSN_COL:
                    raise ValueError(
                        f"column {c!r} is a key/system column and cannot be "
                        "assigned in a merge clause"
                    )
                if c not in table_cols:
                    raise ValueError(f"unknown column {c!r} in {kind} clause")
                if c in gen:
                    raise ValueError(
                        f"column {c!r} is GENERATED ALWAYS AS ({gen[c]}) and "
                        "cannot be assigned in a merge clause — assign its "
                        "referenced columns and it recomputes"
                    )

        src = self._align_keys(source, snap)
        if "op" in src.columns:
            src = src.drop("op")
        # ambiguity guard + touched-bucket discovery in ONE metadata-
        # sized pass: per-bucket row/key counts (O(n_buckets) rows back)
        src = src.withColumn("_bucket", self._bucket_expr(snap))
        amb = (
            src.groupBy("_bucket")
            .agg(
                F.count("*").alias("n_rows"),
                F.count_distinct(*[F.col(k) for k in keys]).alias("n_keys"),
            )
            .collect()
        )
        if any(r["n_rows"] != r["n_keys"] for r in amb):
            raise ValueError(
                "merge_into source has multiple rows for the same key "
                "(ambiguous merge) — pre-aggregate the source first"
            )
        has_nmbs = any(kind.startswith("nmbs_") for kind, _, _ in clauses)
        touched = {r["_bucket"] for r in amb}
        if has_nmbs:
            # NMBS rows can live in any bucket: fold everything, then
            # rewrite at bucket granularity from the claim counts below
            touched |= {f["bucket"] for f in snap["files"]}
        if not touched:
            return {
                "operation": "merge-into",
                "version": snap["version"],
                "applied": False,
                "rows": {},
                "buckets_rewritten": 0,
            }
        fold_files = [f for f in snap["files"] if f["bucket"] in touched]
        kept_files = [f for f in snap["files"] if f["bucket"] not in touched]
        lineage_on = bool(snap.get("row_lineage"))
        tgt, has_delta = self._scan(fold_files, snap, with_lineage=lineage_on)
        if has_delta:
            tgt = self._resolve(tgt, snap)
        tgt = tgt.drop(OP_COL)

        t_side = tgt.select(
            *[F.col(k).alias(f"_tk_{k}") for k in keys],
            F.struct(*[F.col(c) for c in tgt.columns]).alias("t"),
        )
        s_cols = [c for c in src.columns if c != "_bucket"]
        s_side = src.select(
            *[F.col(k).alias(f"_sk_{k}") for k in keys],
            F.struct(*[F.col(c) for c in s_cols]).alias("s"),
        )
        cond = None
        for k in keys:
            e = F.col(f"_tk_{k}") == F.col(f"_sk_{k}")
            cond = e if cond is None else cond & e
        j = t_side.join(s_side, cond, "full_outer")

        is_m = F.col("t").isNotNull() & F.col("s").isNotNull()
        is_s_only = F.col("t").isNull()
        is_t_only = F.col("s").isNull()
        # first-applicable-clause-wins action column
        for i, (kind, c_sql, _) in enumerate(clauses):
            guard = (
                is_s_only
                if kind == "insert"
                else is_t_only
                if kind.startswith("nmbs_")
                else is_m
            )
            if c_sql is not None:
                guard = guard & F.expr(c_sql).eqNullSafe(F.lit(True))
            action = (action.when if i else F.when)(guard, F.lit(i))
        action = action.otherwise(F.lit(-1))
        j = j.withColumn("_action", action)

        side = (
            F.when(is_m, F.lit("m")).when(is_s_only, F.lit("s")).otherwise(F.lit("t"))
        )
        # with NMBS clauses the claim counts also carry the row's
        # bucket (from the coalesced join keys) so the COW rewrite can
        # stay bucket-granular over the widened fold
        grp = [F.col("_action"), side.alias("_side")]
        if has_nmbs:
            jb = F.pmod(
                F.xxhash64(
                    *[
                        F.coalesce(F.col(f"_tk_{k}"), F.col(f"_sk_{k}"))
                        for k in keys
                    ]
                ),
                F.lit(snap["n_buckets"]),
            ).cast("int")
            j = j.withColumn("_jb", jb)
            grp.append(F.col("_jb"))
        count_rows = j.groupBy(*grp).agg(F.count("*").alias("n")).collect()
        counts: dict = {}
        for r in count_rows:
            k2 = (r["_action"], r["_side"])
            counts[k2] = counts.get(k2, 0) + r["n"]
        if has_nmbs:
            # rewrite a bucket iff it holds a source row (m/s side —
            # the pre-NMBS touched rule) or an NMBS-claimed row
            nmbs_acts = {
                i for i, (k, _, _) in enumerate(clauses) if k.startswith("nmbs_")
            }
            rewritten = {
                r["_jb"]
                for r in count_rows
                if r["_side"] in ("m", "s") or r["_action"] in nmbs_acts
            }
        else:
            rewritten = touched
        _METRIC = {
            "update": "updated",
            "delete": "deleted",
            "insert": "inserted",
            "nmbs_update": "updated",
            "nmbs_delete": "deleted",
        }
        _SIDE = {
            "update": "m",
            "delete": "m",
            "insert": "s",
            "nmbs_update": "t",
            "nmbs_delete": "t",
        }
        rows = {"unchanged": 0, "copied": 0, "updated": 0, "deleted": 0, "inserted": 0}
        for i, (kind, _, _) in enumerate(clauses):
            rows[_METRIC[kind]] += counts.get((i, _SIDE[kind]), 0)
        # Delta's metric split: "unchanged" = MATCHED rows no clause
        # accepted; "copied" = target-only rows the bucket rewrite
        # carries; unmatched-source rows no insert clause accepted are
        # dropped — they were never in the table
        rows["unchanged"] = counts.get((-1, "m"), 0)
        if has_nmbs:
            # only unclaimed target rows in REWRITTEN buckets are
            # copied — the widened fold leaves other buckets untouched
            rows["copied"] = sum(
                r["n"]
                for r in count_rows
                if r["_action"] == -1
                and r["_side"] == "t"
                and r["_jb"] in rewritten
            )
        else:
            rows["copied"] = counts.get((-1, "t"), 0)
        if rows["updated"] == rows["deleted"] == rows["inserted"] == 0:
            return {
                "operation": "merge-into",
                "version": snap["version"],
                "applied": False,
                "rows": rows,
                "buckets_rewritten": 0,
            }

        # drop: source-only rows no insert clause claimed; in COW also
        # the delete-claimed rows (the rewrite simply omits them — MOR
        # keeps them: they become the 'D' tombstone images below)
        drop = is_s_only & (F.col("_action") == -1)
        if mode != "mor":
            for i, (kind, _, _) in enumerate(clauses):
                if kind in ("delete", "nmbs_delete"):
                    drop = drop | (F.col("_action") == i)
        j = j.filter(~drop)
        if has_nmbs and mode != "mor":
            # bucket-granular rewrite over the widened fold: rows in
            # unrewritten buckets carry by reference via their files
            j = j.filter(F.col("_jb").isin(list(rewritten)))
            kept_files = [
                f for f in snap["files"] if f["bucket"] not in rewritten
            ]

        src_has_lsn = "lsn" in s_cols
        out_cols = []
        for c in table_cols:
            if c == LSN_COL:
                ins_val = (
                    F.col("s.lsn").cast("long")
                    if src_has_lsn
                    else F.lit(insert_lsn).cast("long")
                )
                e = F.when(is_s_only, ins_val).otherwise(F.col(f"t.{LSN_COL}"))
                out_cols.append(e.alias(LSN_COL))
                continue
            # matched default: keep t.c; per update clause: its SET expr
            # (pre-image: every expr sees the t/s structs, never another
            # assignment); insert clause: its expr, else s.c when the
            # source carries the column, else NULL (column born later)
            e = F.col(f"t.{c}")
            for i, (kind, _, sets) in enumerate(clauses):
                hit = F.col("_action") == i
                if kind in ("update", "nmbs_update"):
                    if sets and c in sets:
                        e = F.when(hit, F.expr(sets[c]).cast(types[c])).otherwise(e)
                elif kind == "insert":
                    if c in gen:
                        # placeholder: every update/insert-claimed
                        # row's generated columns are recomputed from
                        # the post-image in the projection below
                        iv = F.lit(None).cast(types[c])
                    elif sets is not None and c in sets:
                        iv = F.expr(sets[c]).cast(types[c])
                    elif sets is not None and c not in keys:
                        # explicit-values insert: unspecified non-key
                        # columns take the write-default, else NULL
                        # (Delta whenNotMatchedInsert + DEFAULT)
                        iv = self._missing_col(snap, types[c], c, scalar_only=True)
                    elif c in s_cols:
                        iv = F.col(f"s.{c}").cast(types[c])
                    else:
                        iv = self._missing_col(snap, types[c], c, scalar_only=True)
                    e = F.when(hit, iv).otherwise(e)
            out_cols.append(e.alias(c))
        if lineage_on:
            # row-lineage carry (same rule as the COW merge path):
            # updated rows keep their permanent _row_id but reset
            # _last_seq to NULL (= changed by THIS commit); inserted
            # rows get NULL for both (fresh inherited id); kept/copied
            # rows carry both materialized values unchanged.
            upd = F.lit(False)
            for i, (kind, _, _) in enumerate(clauses):
                if kind in ("update", "nmbs_update"):
                    upd = upd | (F.col("_action") == i)
            out_cols.append(
                F.when(is_s_only, F.lit(None).cast("long"))
                .otherwise(F.col(f"t.{ROWID_COL}"))
                .alias(ROWID_COL)
            )
            out_cols.append(
                F.when(is_s_only | upd, F.lit(None).cast("long"))
                .otherwise(F.col(f"t.{LASTSEQ_COL}"))
                .alias(LASTSEQ_COL)
            )
        version = snap["version"] + 1
        if mode == "mor":
            # images of the CLAIMED rows only: the same out_cols
            # expressions (post-image values, lineage carries, LSN
            # rule) evaluated on clause-hit rows, plus the op tag;
            # delete images then NULL their value columns (the
            # tombstone shape _dml's MOR delete writes — keys, stored
            # _lsn and the retiring _row_id survive)
            del_hit = F.lit(False)
            for i, (kind, _, _) in enumerate(clauses):
                if kind in ("delete", "nmbs_delete"):
                    del_hit = del_hit | (F.col("_action") == i)
            img = j.filter(F.col("_action") >= 0).select(
                *out_cols,
                F.when(del_hit, F.lit("D")).otherwise(F.lit("U")).alias(OP_COL),
            )
            keep = set(keys) | {LSN_COL, ROWID_COL, OP_COL}
            img = img.select(
                *[
                    (
                        F.col(f.name)
                        if f.name in keep
                        else F.when(
                            F.col(OP_COL) == "D",
                            F.lit(None).cast(f.dataType),
                        ).otherwise(F.col(f.name))
                    ).alias(f.name)
                    for f in img.schema.fields
                ]
            )
            if gen:
                # GENERATED ALWAYS AS: recompute from the post-image on
                # every non-tombstone image — an assigned referenced
                # column or a source-supplied value can never leave a
                # generated column stale against its expression
                img = img.select(
                    *[
                        (
                            F.when(F.col(OP_COL) == "D", F.col(c)).otherwise(
                                F.expr(gen[c]).cast(types[c])
                            )
                            if c in gen
                            else F.col(c)
                        ).alias(c)
                        for c in img.columns
                    ]
                )
            files = self._write_data(img, snap, version, kind="delta")
            new = dict(snap)
            new.update(
                version=version,
                files=snap["files"] + files,
                parent=snap["version"],
                operation="merge-into",
                dml={
                    "clauses": [[k, c, s] for k, c, s in clauses],
                    "rows": rows,
                    "mode": mode,
                },
            )
            self._write_snapshot(new)
            return {
                "operation": "merge-into",
                "version": version,
                "applied": True,
                "rows": rows,
                "buckets_rewritten": 0,
                "delta_files": len(files),
            }
        upd_ins = [
            i
            for i, (k2, _, _) in enumerate(clauses)
            if k2 in ("update", "nmbs_update", "insert")
        ]
        if gen and upd_ins:
            # GENERATED ALWAYS AS: recompute every claimed update/
            # insert row's generated columns from the POST-image
            # projection (kept/copied rows carry their stored values)
            claimed = F.col("_action").isin(upd_ins)
            out = j.select(*out_cols, F.col("_action"))
            out = out.select(
                *[
                    (
                        F.when(claimed, F.expr(gen[c]).cast(types[c])).otherwise(
                            F.col(c)
                        )
                        if c in gen
                        else F.col(c)
                    ).alias(c)
                    for c in out.columns
                    if c != "_action"
                ]
            )
        else:
            out = j.select(*out_cols)

        files = self._write_data(out, snap, version, kind="base")
        new = dict(snap)
        new.update(
            version=version,
            files=kept_files + files,
            parent=snap["version"],
            operation="merge-into",
            dml={
                "clauses": [[k, c, s] for k, c, s in clauses],
                "rows": rows,
            },
        )
        self._write_snapshot(new)
        return {
            "operation": "merge-into",
            "version": version,
            "applied": True,
            "rows": rows,
            "buckets_rewritten": len(rewritten),
        }

    def export_iceberg_metadata(self, version: int | None = None) -> str:
        """Write a read-only Iceberg-spec-v2-shaped export of this
        table's snapshot under ``_meta/iceberg/`` and return the
        ``v<N>.metadata.json`` path. See plans/iceberg_export.py for
        the layout and the documented deviations (JSON manifests,
        current-snapshot-only, untested against real readers)."""
        from .iceberg_export import export_iceberg_metadata

        return export_iceberg_metadata(self, version)

    def hydrate_patches(self, events: DataFrame) -> DataFrame:
        """Convert a microbatch containing PARTIAL-image change events
        (op='P': a NULL column means "keep the stored value" — the
        Debezium partial-image shape) into full-row upserts the
        standard ``merge`` applies unchanged.

        Fold semantics per key, in LSN order (documented and mirrored
        by the DuckDB oracle of ``cdc_partial_update``):
        * 'I'/'U' replace every column (an explicit NULL sets NULL);
        * 'D' clears the row (a later 'P' resurrects it from a NULL
          base — only the patched columns are set);
        * 'P' overrides its non-NULL columns.
        Window form of the same fold: presence = op of the LATEST row
        ('D' → absent); column c = value of the latest row DEFINING c
        (non-'P' rows define every column, 'D' as NULL; 'P' defines c
        iff non-NULL).

        Scale path: only the BUCKETS the batch touches are read
        (hash-pruned, k/n_buckets of the table), the stored side is
        semi-joined to the batch's keys before the fold, and the fold
        is ONE window over (stored ∪ batch) rows hash-partitioned by
        key. The hydrated batch then pays merge's normal single
        exchange."""
        snap = self.snapshot()
        keys = snap["key_cols"]
        schema = self.schema(snap)
        value_cols = [
            f.name for f in schema.fields if f.name not in keys and f.name != LSN_COL
        ]
        ev = events.withColumn("_bucket", self._bucket_expr(snap))
        touched = {
            r["_bucket"] for r in ev.select("_bucket").distinct().collect()
        }  # O(n_buckets) metadata collect, same as merge's lineage pre-pass
        files = [f for f in snap["files"] if f["bucket"] in touched]
        base, has_delta = self._scan(files, snap)
        if has_delta:
            from ..operators.dedupe import latest_by_key

            order = (
                [LSN_COL]
                + ([SEQ_COL] if SEQ_COL in base.columns else [])
                + (["commit"] if "commit" in base.columns else [])
            )
            base = latest_by_key(base, keys, order)
        if SEQ_COL in base.columns:
            base = base.drop(SEQ_COL)
        # NOTE: deliberately NOT _resolve — surviving 'D' tombstones
        # stay in the fold as (op='D', lsn) rows: they define every
        # column as NULL AND carry the delete's LSN, so a STALE patch
        # (lsn below the tombstone's) correctly does not resurrect the
        # key. Once compaction drops a tombstone its LSN is gone and a
        # late patch re-inserts — the standard tombstone-retention
        # tradeoff (cf. Kafka compaction delete.retention.ms): size
        # compact cadence to the source's max out-of-orderness.
        batch_keys = ev.select(*keys).distinct()
        stored = (
            base.join(batch_keys, keys, "left_semi")
            .select(
                *keys,
                *[F.col(c) for c in value_cols],
                F.col(LSN_COL).alias("lsn"),
                F.when(F.col(OP_COL) == "D", F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                F.lit(0).alias("_src"),
            )
            .withColumn("_bucket", self._bucket_expr(snap))
        )
        ev_aligned = ev.select(
            *keys,
            *[
                (
                    F.col(c).cast(schema[c].dataType)
                    if c in ev.columns
                    # batch-missing column: a 'P' row reads it as NULL
                    # (= keep the stored value — the patch contract);
                    # a full-image I/U row takes the WRITE DEFAULT,
                    # exactly as the same row sent straight to merge()
                    # would (else NULL)
                    else F.when(
                        F.col("op") == "P",
                        F.lit(None).cast(schema[c].dataType),
                    ).otherwise(self._missing_col(snap, schema[c].dataType, c))
                ).alias(c)
                for c in value_cols
            ],
            F.col("lsn"),
            F.col("op"),
            F.lit(1).alias("_src"),
            F.col("_bucket"),
        )
        both = stored.unionByName(ev_aligned)
        w = Window.partitionBy(*keys).orderBy(
            F.col("lsn").desc_nulls_last(), F.col("_src").desc()
        )
        # the fold must see the WHOLE key partition from every row —
        # the default ordered-window frame is running (unbounded
        # preceding..current), which at the newest row sees only itself
        w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        folded = [
            F.first(
                F.when(
                    (F.col("op") != "P") | F.col(c).isNotNull(),
                    # a 'D' row DEFINES every column — as NULL (the row
                    # is cleared; whatever values the tombstone event
                    # happened to carry must not leak into a resurrect)
                    F.struct(
                        F.when(F.col("op") != "D", F.col(c)).alias("v")
                    ),
                ),
                ignorenulls=True,
            )
            .over(w_full)["v"]
            .alias(c)
            for c in value_cols
        ]
        out = (
            both.select(
                *keys,
                *folded,
                F.max("lsn").over(w).alias("lsn"),
                F.when(F.first("op").over(w) == "D", "D").otherwise("U").alias("op"),
                F.row_number().over(w).alias("_rn"),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return out

    def rebucket(self, n_buckets: int) -> int:
        """Change the table's hash-bucket count (Iceberg
        partition-spec-evolution analogue): full resolved read,
        rewrite every row under the new bucket function, one
        optimistic commit. Bucket count is a per-SNAPSHOT property —
        every consumer (merge, point lookups, change feed, patches)
        derives the bucket expression from the snapshot it reads, so
        old versions stay time-travelable and a cross-rebucket
        ``changes()`` degrades to a correct unpruned full diff (bucket
        ids are not comparable across counts, so every bucket reads as
        changed; the per-key value compare still emits only real
        differences).

        This is the scale knob bucketing otherwise lacks: a table
        created at 64 buckets stops parallelizing past 64 write tasks
        and its per-bucket files outgrow executor memory as the
        keyspace grows 1000x — rebucket to 4096 and every downstream
        exchange re-sizes. Cost: one full COW rewrite (the same bytes
        a full compact() moves)."""

        def attempt() -> int:
            snap = self.snapshot()
            if snap["n_buckets"] == n_buckets:
                return snap["version"]
            # _scan (not raw _read_files): epoch-aware rename/drop
            # mapping + DV masking, and — like compact — a rebucket
            # destroys the row-lineage inheritance base, so it must
            # MATERIALIZE _row_id/_last_seq into the rewritten files
            df, has_delta = self._scan(
                snap["files"], snap,
                with_lineage=bool(snap.get("row_lineage")),
            )
            if has_delta:
                df = self._resolve(df, snap)
            df = df.drop(OP_COL)
            proto = dict(snap)
            proto["n_buckets"] = n_buckets  # _write_data buckets via proto
            version = snap["version"] + 1
            files = self._write_data(
                df, proto, version, kind="base", enforce_constraints=False
            )
            proto.update(
                version=version, files=files, parent=snap["version"], operation="rebucket"
            )
            self._write_snapshot(proto)
            return version

        return self._optimistic("rebucket", attempt)

    def rollback(self, to_version: int) -> int:
        """Roll the table back to ``to_version`` as a NEW commit
        (Iceberg's ``rollback_to_snapshot`` analogue): the head's file
        set, schema, and exactly-once ledger are restored to the
        target's, so a WAL replay from the target's offsets re-applies
        cleanly — the bad batches' ids are no longer in the ledger.
        History is preserved (the bad versions stay readable via
        time travel until expired) and the change feed across the
        rollback shows the inverse diffs. Pure manifest arithmetic:
        no data is read or written.

        Refuses to roll back to a snapshot whose data files have been
        garbage-collected by ``expire_snapshots`` (same restriction as
        Iceberg). Optimistic like merge/compact: a lost version race
        re-reads the winner and retries."""
        target = self.snapshot(to_version)  # raises if manifest expired
        missing = [
            f["path"]
            for f in target["files"]
            if not os.path.exists(os.path.join(self.root, f["path"]))
        ]
        if missing:
            raise ValueError(
                f"cannot rollback to v{to_version}: {len(missing)} data file(s) "
                f"already garbage-collected (first: {missing[0]})"
            )

        def mutate(cur: dict) -> dict | None:
            if cur["version"] == to_version:
                return None
            # row-lineage invariants survive a rollback: the flag is
            # enable-only (ids, once handed out, are never reassigned)
            # and next_row_id never regresses — a rollback past the
            # enable point must not let a later enable re-issue ids
            # already burned by the rolled-back commits.
            changes = {
                "rollback_of": to_version,
                "next_row_id": max(
                    int(cur.get("next_row_id") or 0),
                    int(target.get("next_row_id") or 0),
                ),
            }
            if cur.get("row_lineage") or target.get("row_lineage"):
                changes["row_lineage"] = True
            return changes

        return self._commit_meta("rollback", mutate, base=target)

    def expire_snapshots(
        self,
        keep_last: int = 2,
        scan_orphans: bool = True,
        orphan_grace_sec: float = 3600.0,
        dry_run: bool = False,
        older_than_sec: float | None = None,
    ) -> dict:
        """Drop snapshot manifests older than the newest ``keep_last``
        and DELETE data files referenced by no retained snapshot —
        Iceberg's expire_snapshots + orphan-file cleanup. Bounds disk
        for a long-running stream: without it every COW rewrite's old
        bucket files live forever (O(history) bytes at 10^5
        microbatches). Time travel to an expired version raises
        FileNotFoundError by design. Lineage/metrics rows are never
        expired (they are the audit table, O(buckets) per batch).

        Deletion candidates come from the EXPIRING manifests' file
        lists (incremental: O(expired-history file entries), flat per
        call in a steady-state stream), not a directory walk. With
        ``scan_orphans`` a full walk of data/ additionally collects
        files no live manifest ever referenced — write attempts that
        lost the optimistic-commit race into their uuid-suffixed
        write-once dirs. The streaming maintenance path
        (apply_batch(expire_keep=...)) disables the walk and runs it
        only every ``EXPIRE_ORPHAN_SCAN_EVERY`` applied batches, so
        per-microbatch maintenance cost is O(recent manifests), not
        O(table files).

        ``orphan_grace_sec`` (Iceberg's remove_orphan_files
        ``older_than`` analogue) guards the walk against a CONCURRENT
        IN-FLIGHT writer: a merge writes its data files and manifests
        BEFORE winning the snapshot race, and during that window they
        are indistinguishable from race-loser garbage — an ungated
        walk would delete them and the writer would then commit a
        snapshot referencing vanished files. Walk-found files
        referenced by NO snapshot (retained or expiring) are
        therefore deleted only once older than the grace window;
        files referenced by expiring snapshots have known provenance
        and are deleted immediately. Pass 0 only when no concurrent
        writer can exist (tests, single-writer offline maintenance).

        ``older_than_sec`` (Iceberg's expire ``older_than`` analogue)
        additionally RETAINS every snapshot committed within the last
        N seconds regardless of ``keep_last`` — the time-travel SLA
        knob ("readers may pin any snapshot up to 6h old"), composing
        with count-based retention as a union of retained sets.

        ``dry_run=True`` (the Delta ``VACUUM ... DRY RUN`` analogue)
        computes and returns exactly what a real run would remove —
        same reachability analysis, same grace gating — without
        deleting anything: the operator preview before an irreversible
        history truncation."""
        keep_last = max(1, keep_last)
        versions = sorted(
            int(n[1:-5])
            for n in os.listdir(self._meta)
            if n.startswith("v") and n.endswith(".json")
        )
        cur = self.current_version()
        retained = set(versions[-keep_last:]) | {cur}
        if older_than_sec is not None:
            cutoff = time.time() - older_than_sec
            for v in versions:
                if v in retained:
                    continue
                try:
                    committed = self.snapshot(v).get("committed_at") or 0
                except (FileNotFoundError, json.JSONDecodeError):
                    continue  # expired or torn concurrently: not retained
                if committed >= cutoff:
                    retained.add(v)
        # tagged snapshots are retention-pinned (Iceberg tag refs):
        # a tag names an auditable point-in-time state, so neither its
        # manifest nor any data file it references may be collected
        retained |= {v for v in self.tags().values() if v in set(versions)}
        expiring = [v for v in versions if v not in retained]
        referenced: set[str] = set()
        for v in retained:
            referenced.update(f["path"] for f in self.snapshot(v)["files"])
        # staged (write-audit-publish) commits pin their data files:
        # no v*.json references them yet, so without this the orphan
        # walk would collect an audit-pending batch out from under
        # publish() once it aged past the grace window
        for sid in self.staged_ids():
            try:
                referenced.update(e["path"] for e in self._load_staged(sid)["new_files"])
            except (ValueError, json.JSONDecodeError):
                continue  # abandoned or in-flight concurrently; skip
        candidates = set()
        for v in expiring:
            candidates.update(f["path"] for f in self.snapshot(v)["files"])

        # sidecar bloom refs must be collected NOW, while the expiring
        # snapshots' manifests still exist (their deletion below makes
        # snapshot(v) unreadable); the actual removal happens after the
        # manifest GC, same referenced-vs-candidates scheme
        def _idx_refs(entries) -> set[str]:
            out: set[str] = set()
            for f in entries:
                for ref in (f.get("cbloom") or {}).values():
                    if isinstance(ref, str) and ref.startswith("idx:"):
                        out.add(ref[4:])
            return out

        referenced_idx: set[str] = set()
        for v in retained:
            referenced_idx |= _idx_refs(self.snapshot(v)["files"])
        for sid in self.staged_ids():
            try:
                referenced_idx |= _idx_refs(self._load_staged(sid)["new_files"])
            except (ValueError, json.JSONDecodeError):
                continue
        idx_candidates: set[str] = set()
        for v in expiring:
            idx_candidates |= _idx_refs(self.snapshot(v)["files"])
        # live branches pin every data file, manifest, and index
        # sidecar ANY of their snapshots (or their own staged commits)
        # reference: a branch is a writable ref whose whole line must
        # survive main GC until drop_branch. Cost is O(branch
        # history metadata) — branches are short-lived audit/repair
        # lines by contract (fast_forward is one-shot per fork).
        branch_manifests: set[str] = set()
        for bname in self.branches():
            try:
                h = self.branch(bname)
                bvers = [
                    int(n[1:-5])
                    for n in os.listdir(h._meta)
                    if n.startswith("v") and n.endswith(".json")
                ]
            except (ValueError, FileNotFoundError):
                continue  # dropped concurrently
            for bv in sorted(bvers):
                try:
                    bs = h.snapshot(bv)
                except (FileNotFoundError, json.JSONDecodeError):
                    continue  # expired-by-drop or in-flight
                referenced.update(f["path"] for f in bs["files"])
                referenced_idx |= _idx_refs(bs["files"])
                branch_manifests.update((bs.get("manifests") or {}).values())
            for sid in h.staged_ids():
                try:
                    doc = h._load_staged(sid)
                except (ValueError, json.JSONDecodeError):
                    continue
                referenced.update(e["path"] for e in doc["new_files"])
                referenced_idx |= _idx_refs(doc["new_files"])
        if scan_orphans:
            now = time.time()
            walked = {
                os.path.relpath(os.path.join(dp, n), self.root)
                for dp, _dirs, names in os.walk(self._data)
                for n in names
                if n.endswith(".parquet")
            }
            for rel in walked - referenced - candidates:
                p = os.path.join(self.root, rel)
                try:
                    aged = now - os.path.getmtime(p) >= orphan_grace_sec
                except OSError:
                    continue
                if aged:
                    candidates.add(rel)
        removed_files = 0
        touched_dirs: set[str] = set()
        for rel in candidates - referenced:
            if os.path.isabs(rel):
                # shared file outside this table's root (shallow clone
                # reference): the SOURCE table owns its lifecycle —
                # expiring the snapshot drops the reference, never the
                # file (same contract as Delta shallow-clone VACUUM)
                continue
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                if not dry_run:
                    os.remove(p)
                removed_files += 1
            parts = rel.split(os.sep)
            if len(parts) >= 2 and parts[0] == "data":
                touched_dirs.add(os.path.join(self._data, parts[1]))
        if dry_run:
            touched_dirs = set()  # never prune dirs on a preview
        # prune write dirs emptied by the deletions (only _SUCCESS etc.
        # left) — checks just the dirs we deleted from, not all of data/
        for d in touched_dirs:
            if os.path.isdir(d) and not any(
                fn.endswith(".parquet") for _, _, fns in os.walk(d) for fn in fns
            ):
                shutil.rmtree(d, ignore_errors=True)
        # manifest-file GC mirrors the data-file scheme: retained
        # snapshots pin their pointer targets; candidates come from the
        # expiring snapshots' pointers (incremental) or a walk of
        # manifests/ (scan_orphans — also collects race losers' unshared
        # manifests). Content addressing makes this safe: a manifest
        # referenced by ANY retained snapshot has its exact path in that
        # snapshot's pointer map.
        referenced_manifests: set[str] = set(branch_manifests)
        for v in retained:
            referenced_manifests.update(
                (self.snapshot(v).get("manifests") or {}).values()
            )
        manifest_candidates: set[str] = set()
        for v in expiring:
            manifest_candidates.update(
                (self.snapshot(v).get("manifests") or {}).values()
            )
        if scan_orphans and os.path.isdir(self._manifest_dir):
            now = time.time()
            for n in os.listdir(self._manifest_dir):
                rel = os.path.join("manifests", n)
                # .tmp.* = a writer died between tmp write and rename;
                # age-gated like any other unreferenced file
                if ".json" not in n or rel in referenced_manifests or (
                    rel in manifest_candidates
                ):
                    continue
                try:
                    # same in-flight-writer grace as the data walk
                    if now - os.path.getmtime(
                        os.path.join(self.root, rel)
                    ) >= orphan_grace_sec:
                        manifest_candidates.add(rel)
                except OSError:
                    continue
        removed_manifests = 0
        for rel in manifest_candidates - referenced_manifests:
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                if not dry_run:
                    os.remove(p)
                removed_manifests += 1
            if not dry_run:
                self._manifest_cache.pop(rel, None)
        # sidecar bloom GC mirrors the manifest scheme: content
        # addressing means a shared index survives as long as ANY
        # retained snapshot's entry references it; expiring-referenced
        # sidecars have known provenance (collected above, before the
        # manifest GC), orphan-walk finds are grace-gated like
        # everything else
        idx_dir = os.path.join(self._meta, "index")
        if scan_orphans and os.path.isdir(idx_dir):
            now = time.time()
            for n in os.listdir(idx_dir):
                rel = os.path.join("_meta", "index", n)
                if rel in referenced_idx or rel in idx_candidates:
                    continue
                try:
                    if now - os.path.getmtime(
                        os.path.join(self.root, rel)
                    ) >= orphan_grace_sec:
                        idx_candidates.add(rel)
                except OSError:
                    continue
        removed_idx = 0
        for rel in idx_candidates - referenced_idx:
            if os.path.isabs(rel):
                continue  # shared sidecar owned by a clone's source
            if dry_run:
                removed_idx += int(os.path.exists(os.path.join(self.root, rel)))
                continue
            try:
                os.remove(os.path.join(self.root, rel))
                removed_idx += 1
            except FileNotFoundError:
                pass
            self._bloom_cache.pop(rel, None)
        removed_snaps = 0
        for v in expiring:
            if dry_run:
                removed_snaps += int(os.path.exists(self._snap_path(v)))
                continue
            try:  # a concurrent expire may have removed it already
                os.remove(self._snap_path(v))
                removed_snaps += 1
            except FileNotFoundError:
                pass
        return {
            "removed_snapshots": removed_snaps,
            "removed_files": removed_files,
            "removed_manifests": removed_manifests,
            "removed_index_files": removed_idx,
            "dry_run": dry_run,
        }

    def state_fingerprint(self) -> DataFrame:
        """Per-key sha256(content) — the north-rule equality invariant."""
        snap = self.snapshot()
        df = self.read()
        return df.select(*snap["key_cols"], F.sha2(F.col("content"), 256).alias("content_sha"))


class _BranchHandle(LakeTable):
    """Writable view of one branch: the identical commit / read / merge
    machinery with the snapshot namespace redirected to
    ``_meta/branches/<name>/`` and audit rows to
    ``lineage-branches/<name>/``. Shares the parent's manifest and
    bloom caches (both content-addressed and immutable, so they are
    namespace-safe). Operations that reason about GLOBAL reachability
    or manage refs raise — they must run on main, the only namespace
    from which every reference is enumerable."""

    def __init__(self, parent: LakeTable, name: str):
        super().__init__(parent.spark, parent.root)
        self.branch_name = name
        self._meta = parent._branch_dir(name)
        self.lineage_dir = os.path.join(parent.root, "lineage-branches", name)
        self._manifest_cache = parent._manifest_cache
        self._bloom_cache = parent._bloom_cache

    def _main_only(self, what: str):
        raise ValueError(
            f"{what} must run on the main table, not branch "
            f"{self.branch_name!r} (global reachability / ref management "
            f"is only enumerable from main)"
        )

    def expire_snapshots(self, *a, **k):
        self._main_only("expire_snapshots")

    def create_branch(self, *a, **k):
        self._main_only("create_branch")

    def branch(self, *a, **k):
        self._main_only("branch")

    def branches(self, *a, **k):
        self._main_only("branches")

    def fast_forward(self, *a, **k):
        self._main_only("fast_forward")

    def drop_branch(self, *a, **k):
        self._main_only("drop_branch")
