"""spark-submit entrypoint for LakeTable maintenance operations.

One launchable job for the table-ops a long-running CDC deployment
needs outside the ingest stream itself (all snapshot-committed, all
safe to run concurrently with a live writer — every verb uses the
same optimistic version-race commit the merge path uses):

    compact   fold MOR deltas (optionally only hot buckets)
    expire    drop old snapshot manifests + unreferenced data files
    rollback  restore a previous version's files AND exactly-once
              ledger (bad-batch recovery; replay then converges)
    rebucket  evolve the hash-bucket count for keyspace growth
    stats     O(metadata) manifest statistics (row/byte/debt totals;
              read-only, no snapshot commit, no data file opened)
    history   commit log of retained snapshots (operation/parent/
              counts per version; read-only)
    compact-lineage  consolidate tiny per-batch lineage audit files
              (append-only scheme: consolidate first, then delete
              the snapshotted originals — writers never affected)
    tag / drop-tag / tags   named immutable refs: pin a snapshot
              through expiry until dropped (rollback accepts --to-tag)
    publish / abandon / staged   write-audit-publish: fast-forward or
              drop a staged commit, list audit-pending stage ids
    branch / fast-forward / drop-branch / branches   writable refs:
              fork main into an independent snapshot line, publish its
              head back as one metadata commit, drop it, list heads
    partitions   O(metadata) per-bucket rollup (files/rows/bytes/
              delta debt per bucket; read-only skew + compaction triage)
    analyze   ANALYZE TABLE: persist per-column NDV/nulls/min-max +
              equality-index / write-order recommendations
    set-partition-spec declare Iceberg-style partition transforms
                      (days/identity/truncate...) for later writes
    set-write-order   declare a standing write order (every base write
              clusters + range-splits; --clear removes)
    auto      maintenance autopilot: fsck gate, then fire exactly the
              actions the O(metadata) signals call for (debt compaction,
              small-file collapse, lineage consolidation, stale
              re-ANALYZE, opt-in retention), reporting each decision

    tools/submit.sh --master local[8] -- \
        jobs/maintain.py --table /data/lake/repos compact --min-deltas 8
(launch via ``python jobs/maintain.py`` locally or through
spark-submit on a cluster; the master comes from spark-submit.)
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark import SparkConf

from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
from w3_data_etl_pipeline_spark.session import get_spark

# Verbs that read or commit the table's metadata and files without a
# Spark job. They run on a session that starts on first use, so a
# report or a metadata commit launches no JVM (a cold start costs
# seconds per call). ``fsck --deep`` runs Spark jobs and starts it, as
# does each ``auto`` action that does.
_METADATA_VERBS = frozenset({
    "stats", "history", "fsck", "compact-lineage", "expire", "rollback",
    "clone", "auto", "tag", "drop-tag", "tags", "publish", "abandon", "staged",
    "branch", "fast-forward", "drop-branch", "branches", "explain-skip",
    "drop-constraint", "constraints", "skip-columns", "rename-column",
    "drop-column", "set-default", "set-write-order", "set-partition-spec",
})


class _LazySession:
    """Stands in for the SparkSession and starts it on first use."""

    def __init__(self):
        self._spark = None

    def start(self):
        if self._spark is None:
            self._spark = get_spark(
                "lake_maintain", master=SparkConf().get("spark.master", None)
            )
        return self._spark

    def __getattr__(self, name):
        return getattr(self.start(), name)

    def stop(self):
        if self._spark is not None:
            self._spark.stop()


def _auto(t: LakeTable, args, spark: _LazySession) -> dict:
    """Maintenance autopilot: read the O(metadata) signals once, fire
    only the actions they call for, and say why for each — the single
    verb a scheduler runs on a cadence instead of an operator watching
    stats(). fsck (shallow) gates everything: maintenance that rewrites
    files must not run over a table whose manifests already lie.
    Every fired action uses the same optimistic snapshot-race commits
    the verbs use individually, so the autopilot is safe to run beside
    a live writer."""
    actions: list[dict] = []
    skipped: list[dict] = []

    def act(name: str, reason: str, fn, spark_jobs: bool = True):
        if args.dry_run:
            actions.append({"action": name, "reason": reason, "dry_run": True})
            return None
        if spark_jobs:
            spark.start()
        res = fn()
        actions.append({"action": name, "reason": reason, "result": res})
        return res

    rep = t.verify()
    out = {"verb": "auto", "fsck_ok": rep["ok"], "dry_run": args.dry_run}
    if not rep["ok"]:
        out.update(actions=[], skipped=[], error_counts=rep["error_counts"])
        return out

    st = t.stats()
    # 1. read-amplification debt: pending delta rows + dv masks vs base
    debt = st["delta_debt"] or 0.0
    if debt >= args.debt:
        act(
            "compact",
            f"delta_debt {debt} >= {args.debt} "
            f"({st['delta_rows']} delta rows + {st['dv_rows']} dv masks)",
            lambda: {"version": t.compact(min_deltas=1, min_delta_rows=1)},
        )
    else:
        skipped.append({"action": "compact", "reason": f"delta_debt {debt} < {args.debt}"})

    # 2. small-file collapse (skip when a write order splits on purpose)
    snap = t.snapshot()
    wo = snap.get("write_order")
    sized = [f for f in snap["files"]
             if f.get("kind", "base") == "base" and f.get("bytes")]
    mean_b = (sum(f["bytes"] for f in sized) / len(sized)) if sized else 0
    if wo and wo.get("target_rows"):
        skipped.append({"action": "collapse-small-files",
                        "reason": "write order intentionally splits files"})
    elif sized and len(sized) > 4 * snap["n_buckets"] and mean_b < args.small_bytes:
        act(
            "collapse-small-files",
            f"{len(sized)} base files avg {int(mean_b)}B < {args.small_bytes}B",
            lambda: {"version": t.compact()},
        )
    else:
        skipped.append({"action": "collapse-small-files",
                        "reason": f"{len(sized)} base files avg {int(mean_b)}B"})

    # 3. lineage audit-file consolidation
    import os as _os

    lin_files = sum(
        1
        for _d, _s, names in _os.walk(t.lineage_dir)
        for n in names
        if n.endswith(".parquet")
    ) if _os.path.isdir(t.lineage_dir) else 0
    if lin_files > args.lineage_max_files:
        act(
            "compact-lineage",
            f"{lin_files} lineage files > {args.lineage_max_files}",
            lambda: t.compact_lineage(max_files=args.lineage_max_files),
            spark_jobs=False,
        )
    else:
        skipped.append({"action": "compact-lineage",
                        "reason": f"{lin_files} lineage files"})

    # 4. stale statistics
    if args.analyze_every is not None:
        av = st.get("analyzed_version")
        stale = (t.current_version() - av) if av is not None else None
        if av is None or stale >= args.analyze_every:
            act(
                "analyze",
                "never analyzed" if av is None
                else f"{stale} versions stale >= {args.analyze_every}",
                lambda: {"analyzed_version": t.analyze()["analyzed_version"]},
            )
        else:
            skipped.append({"action": "analyze", "reason": f"{stale} versions stale"})

    # 5. retention (opt-in: expiry deletes history)
    if args.retain is not None:
        act(
            "expire",
            f"retain newest {args.retain} snapshots",
            lambda: t.expire_snapshots(keep_last=args.retain),
            spark_jobs=False,
        )
        if args.dry_run:
            # expire has a real dry-run: report what WOULD go
            actions[-1]["result"] = t.expire_snapshots(
                keep_last=args.retain, dry_run=True
            )
    out.update(actions=actions, skipped=skipped, stats=st)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="LakeTable maintenance verbs")
    p.add_argument("--table", required=True, help="LakeTable root")
    sub = p.add_subparsers(dest="verb", required=True)

    c = sub.add_parser("compact", help="fold MOR deltas into base files")
    c.add_argument("--min-deltas", type=int, default=None,
                   help="partial: only buckets with >= N delta files (default: full)")
    c.add_argument("--min-delta-rows", type=int, default=None,
                   help="partial: only buckets with >= N pending delta rows "
                        "(manifest stats; ORs with --min-deltas)")
    c.add_argument("--cluster-by", default=None,
                   help="comma-separated value columns: sort the rewrite so "
                        "manifest bounds become selective (file skipping)")
    c.add_argument("--zorder", action="store_true",
                   help="with 2+ --cluster-by columns: Morton-code interleave "
                        "so bounds prune on every column, not just the first")
    c.add_argument("--max-records-per-file", type=int, default=None,
                   help="split each bucket into value-contiguous files of <= N "
                        "rows (the skipping granularity knob)")
    c.add_argument("--where", default=None,
                   help="SQL predicate scoping the rewrite to buckets whose "
                        "file bounds intersect it (OPTIMIZE ... WHERE)")

    sub.add_parser("stats", help="O(metadata) manifest stats (no data read)")
    sub.add_parser("history", help="commit log of retained snapshots (read-only)")

    cl = sub.add_parser("compact-lineage",
                        help="consolidate tiny per-batch lineage audit files")
    cl.add_argument("--max-files", type=int, default=64,
                    help="no-op when the lineage dir holds <= N files")

    e = sub.add_parser("expire", help="drop old snapshots + unreferenced files")
    e.add_argument("--keep-last", type=int, default=2)
    e.add_argument("--no-orphan-scan", action="store_true",
                   help="skip the full orphan walk (incremental manifest diff only)")
    e.add_argument("--orphan-grace", type=float, default=3600.0,
                   help="seconds an UNREFERENCED walk-found file must be old before "
                        "deletion (protects a concurrent in-flight writer; 0 only "
                        "when no other writer can exist)")
    e.add_argument("--dry-run", action="store_true",
                   help="preview: report what WOULD be removed, delete nothing")
    e.add_argument("--older-than", type=float, default=None,
                   help="retain every snapshot committed within the last N "
                        "seconds regardless of --keep-last (time-travel SLA)")

    r = sub.add_parser("rollback", help="restore a previous version (files + ledger)")
    grp = r.add_mutually_exclusive_group(required=True)
    grp.add_argument("--to-version", type=int)
    grp.add_argument("--to-tag", help="rollback target by tag name")

    b = sub.add_parser("rebucket", help="evolve the hash-bucket count")
    b.add_argument("--n-buckets", type=int, required=True)

    cn = sub.add_parser("clone", help="branch the table into a new root "
                        "(shallow: metadata-only, shares files; deep: hard-links)")
    cn.add_argument("--dest", required=True, help="destination table root")
    cn.add_argument("--at-version", type=int, default=None)
    cn.add_argument("--deep", action="store_true",
                    help="own the files (survives source vacuum/deletion)")

    tg = sub.add_parser("tag", help="pin a snapshot under a name (retention ref)")
    tg.add_argument("name")
    tg.add_argument("--version", type=int, default=None,
                    help="snapshot to pin (default: current)")

    dt = sub.add_parser("drop-tag", help="unpin a tag (snapshot becomes expirable)")
    dt.add_argument("name")

    sub.add_parser("tags", help="list tags (name -> pinned version; read-only)")

    pu = sub.add_parser("publish", help="fast-forward a staged (WAP) commit onto main")
    pu.add_argument("stage_id")

    ab = sub.add_parser("abandon", help="drop a staged (WAP) commit")
    ab.add_argument("stage_id")

    sub.add_parser("staged", help="list audit-pending staged commits (read-only)")

    br = sub.add_parser("branch", help="fork main as a writable branch ref")
    br.add_argument("name")
    br.add_argument("--version", type=int, default=None,
                    help="fork point (default: current)")

    ff = sub.add_parser("fast-forward",
                        help="publish a branch head onto main (metadata-only; "
                             "conflicts if main advanced past the fork)")
    ff.add_argument("name")

    db = sub.add_parser("drop-branch",
                        help="drop a branch ref (its private files become "
                             "orphan-collectable)")
    db.add_argument("name")

    sub.add_parser("branches", help="list branches (name -> head/fork; read-only)")

    sub.add_parser("partitions", help="O(metadata) per-bucket rollup (read-only)")

    sub.add_parser("manifests", help="per-bucket manifest pointers + "
                   "commit-cost sharing flags (read-only)")
    sub.add_parser("refs", help="all named refs: main, branches, tags "
                   "(read-only)")

    vf = sub.add_parser("fsck",
                        help="table integrity check: manifest vs disk "
                             "(read-only; --deep adds a distributed "
                             "per-file stats + bucket-invariant audit)")
    vf.add_argument("--deep", action="store_true",
                    help="also rescan live files: row counts, LSN "
                         "bounds, key-hash bucket membership")
    vf.add_argument("--at", type=int, default=None,
                    help="verify this snapshot version (default: current)")

    ex = sub.add_parser("explain-skip",
                        help="dry-run file skipping for a SQL predicate "
                             "(files/bytes opened vs skipped; read-only)")
    ex.add_argument("--predicate", required=True,
                    help="SQL subset: comparisons, IS [NOT] NULL, IN, "
                         "BETWEEN, AND/OR/parens")

    ac = sub.add_parser("add-constraint",
                        help="ALTER TABLE ADD CONSTRAINT CHECK: later writes "
                             "abort on violating rows (NULL passes; "
                             "enforcement rides the write job, zero extra "
                             "passes)")
    ac.add_argument("name")
    ac.add_argument("--check", required=True, metavar="SQL_EXPR")
    ac.add_argument("--no-validate", action="store_true",
                    help="skip the one-time existing-data scan")

    dc = sub.add_parser("drop-constraint", help="remove a CHECK constraint")
    dc.add_argument("name")

    sub.add_parser("constraints",
                   help="list active CHECK constraints (read-only)")

    de = sub.add_parser("delete",
                        help="row-level DELETE FROM ... WHERE: file-skip, "
                             "resolve + rewrite only the touched buckets")
    de.add_argument("--predicate", required=True,
                    help="SQL subset: comparisons, IS [NOT] NULL, IN, "
                         "BETWEEN, AND/OR/parens")
    de.add_argument("--mor", action="store_true",
                    help="append per-matched-key tombstones instead of "
                         "rewriting buckets (cost ~ matched rows; "
                         "compact folds them later)")
    de.add_argument("--dv", action="store_true",
                    help="append positional deletion vectors instead "
                         "(cost ~ masked positions; reads stay "
                         "shuffle-free; compact folds them later)")

    up = sub.add_parser("update",
                        help="row-level UPDATE ... SET ... WHERE (RHS sees "
                             "the pre-update row; key/LSN not assignable)")
    up.add_argument("--predicate", required=True)
    up.add_argument("--set", action="append", required=True, metavar="COL=EXPR",
                    dest="assignments",
                    help="repeatable; EXPR is any Spark SQL expression, "
                         "cast back to the column's declared type")
    up.add_argument("--mor", action="store_true",
                    help="append updated images as delta files instead of "
                         "rewriting buckets (cost ~ matched rows)")

    sk = sub.add_parser("skip-columns",
                        help="opt columns into the per-file equality index "
                             "(exact set / bloom) used for '=' file skipping")
    sk.add_argument("--cols", default="",
                    help="comma-separated column names; empty stops indexing")

    acol = sub.add_parser("add-column",
                          help="metadata-only ADD COLUMN with optional "
                               "initial-default (what history reads) and "
                               "write-default (what omitting writers write)")
    acol.add_argument("name")
    acol.add_argument("type", help="Spark DDL type, e.g. string, long, date")
    acol.add_argument("--initial-default", default=None)
    acol.add_argument("--write-default", default=None)

    rc = sub.add_parser("rename-column",
                        help="history-safe metadata-only rename (field-id "
                             "resolved; old files keep the physical name)")
    rc.add_argument("old")
    rc.add_argument("new")

    dcol = sub.add_parser("drop-column",
                          help="history-safe metadata-only drop (a re-add "
                               "gets a fresh id; data never resurrects)")
    dcol.add_argument("name")

    sd = sub.add_parser("set-default",
                        help="SET/DROP the column's write-default "
                             "(initial-default is immutable)")
    sd.add_argument("name")
    sd.add_argument("--write-default", default=None,
                    help="omit to DROP DEFAULT")

    wc = sub.add_parser("widen",
                        help="explicit safe type widening (int->long, "
                             "float->double), metadata-only")
    wc.add_argument("name")
    wc.add_argument("type")

    au = sub.add_parser("auto",
                        help="maintenance autopilot: fsck gate, then "
                             "fire exactly the actions the O(metadata) "
                             "signals call for — debt-triggered partial "
                             "compaction, small-file collapse, lineage "
                             "consolidation, stale re-ANALYZE, optional "
                             "retention — and report every decision")
    au.add_argument("--debt", type=float, default=0.25,
                    help="compact when (delta+dv rows)/base rows >= this "
                         "(default 0.25)")
    au.add_argument("--small-bytes", type=int, default=4 << 20,
                    help="collapse small files when the mean base file "
                         "is under this AND the table averages >4 base "
                         "files/bucket (default 4 MiB; skipped when a "
                         "write order intentionally splits files)")
    au.add_argument("--analyze-every", type=int, default=None,
                    help="re-ANALYZE when the last report is >= N "
                         "versions stale (default: never)")
    au.add_argument("--lineage-max-files", type=int, default=64,
                    help="consolidate lineage when more than N audit "
                         "files accumulated (default 64)")
    au.add_argument("--retain", type=int, default=None,
                    help="ALSO expire snapshots beyond the newest N "
                         "(default: keep everything)")
    au.add_argument("--dry-run", action="store_true",
                    help="report the decisions, mutate nothing")

    an = sub.add_parser("analyze",
                        help="ANALYZE TABLE: one distributed pass over "
                             "the resolved table persisting per-column "
                             "NDV/nulls/min/max plus equality-index and "
                             "write-order recommendations")
    an.add_argument("cols", nargs="*",
                    help="columns to analyze (default: every scalar)")

    swo = sub.add_parser("set-write-order",
                         help="declare a standing write order: every "
                              "base write clusters each bucket by these "
                              "columns so read_where skips files "
                              "continuously, not just after a clustered "
                              "compact")
    swo.add_argument("cols", nargs="*",
                     help="sort columns (empty with --clear)")
    swo.add_argument("--zorder", action="store_true",
                     help="Morton-order the columns (2+ numeric cols)")
    swo.add_argument("--target-rows", type=int, default=None,
                     help="split each bucket into value-contiguous "
                          "files of at most this many rows (without a "
                          "split, bounds have nothing to bite on)")
    swo.add_argument("--clear", action="store_true",
                     help="remove the declared write order")

    sps = sub.add_parser("set-partition-spec",
                         help="declare the partition spec (Iceberg "
                              "transforms): later writes split files "
                              "on the transform tuple and time/value "
                              "windows prune at partition granularity")
    sps.add_argument("fields", nargs="*",
                     help="transform fields, e.g. 'days(ts)' "
                          "'identity(lang)' 'truncate(repo,8)' "
                          "(empty with --clear)")
    sps.add_argument("--clear", action="store_true",
                     help="revert to unpartitioned (spec 0)")

    args = p.parse_args(argv)
    spark = _LazySession()
    if args.verb not in _METADATA_VERBS or (args.verb == "fsck" and args.deep):
        spark.start()
    try:
        t = LakeTable(spark, args.table)
        before = t.current_version()
        if args.verb == "compact":
            after = t.compact(
                min_deltas=args.min_deltas,
                min_delta_rows=args.min_delta_rows,
                cluster_by=(args.cluster_by.split(",") if args.cluster_by else None),
                zorder=args.zorder,
                max_records_per_file=args.max_records_per_file,
                where=args.where,
            )
            out = {"verb": "compact", "version": after}
        elif args.verb == "stats":
            out = {"verb": "stats", **t.stats()}
        elif args.verb == "fsck":
            out = {"verb": "fsck", **t.verify(version=args.at, deep=args.deep)}
        elif args.verb == "history":
            out = {"verb": "history", "entries": t.history()}
        elif args.verb == "compact-lineage":
            out = {"verb": "compact-lineage", **t.compact_lineage(args.max_files)}
        elif args.verb == "expire":
            stats = t.expire_snapshots(
                keep_last=args.keep_last,
                scan_orphans=not args.no_orphan_scan,
                orphan_grace_sec=args.orphan_grace,
                dry_run=args.dry_run,
                older_than_sec=args.older_than,
            )
            out = {"verb": "expire", **{k: v for k, v in stats.items()}}
        elif args.verb == "rollback":
            tv = args.to_version if args.to_version is not None else t.tag_version(args.to_tag)
            after = t.rollback(tv)
            out = {"verb": "rollback", "rollback_of": tv, "version": after}
        elif args.verb == "clone":
            c = t.clone(args.dest, version=args.at_version, deep=args.deep)
            out = {
                "verb": "clone",
                "dest": args.dest,
                "deep": bool(args.deep),
                "source_version": c.snapshot(0).get("clone_source_version"),
            }
        elif args.verb == "tag":
            v = t.create_tag(args.name, version=args.version)
            out = {"verb": "tag", "name": args.name, "pinned_version": v}
        elif args.verb == "drop-tag":
            out = {"verb": "drop-tag", "name": args.name, "dropped": t.drop_tag(args.name)}
        elif args.verb == "tags":
            out = {"verb": "tags", "tags": t.tags()}
        elif args.verb == "publish":
            st = t.publish(args.stage_id)
            out = {"verb": "publish", "stage_id": args.stage_id,
                   "applied": st.applied, "version": st.version}
        elif args.verb == "abandon":
            out = {"verb": "abandon", "stage_id": args.stage_id,
                   "abandoned": t.abandon(args.stage_id)}
        elif args.verb == "staged":
            out = {"verb": "staged", "stage_ids": t.staged_ids()}
        elif args.verb == "branch":
            v = t.create_branch(args.name, version=args.version)
            out = {"verb": "branch", "name": args.name, "forked_from": v}
        elif args.verb == "fast-forward":
            st = t.fast_forward(args.name)
            out = {"verb": "fast-forward", "name": args.name,
                   "applied": st.applied, "version": st.version}
        elif args.verb == "drop-branch":
            out = {"verb": "drop-branch", "name": args.name,
                   "dropped": t.drop_branch(args.name)}
        elif args.verb == "branches":
            out = {"verb": "branches", "branches": t.branches()}
        elif args.verb == "partitions":
            out = {"verb": "partitions",
                   "buckets": [r.asDict() for r in t.partitions().collect()]}
        elif args.verb == "manifests":
            out = {"verb": "manifests",
                   "manifests": [r.asDict() for r in t.manifests().collect()]}
        elif args.verb == "refs":
            out = {"verb": "refs",
                   "refs": [r.asDict() for r in t.refs().collect()]}
        elif args.verb == "explain-skip":
            out = {"verb": "explain-skip", "predicate": args.predicate,
                   **t.explain_skipping(args.predicate)}
        elif args.verb == "add-constraint":
            v = t.add_constraint(args.name, args.check,
                                 validate=not args.no_validate)
            out = {"verb": "add-constraint", "name": args.name,
                   "check": args.check, "version": v}
        elif args.verb == "drop-constraint":
            v = t.drop_constraint(args.name)
            out = {"verb": "drop-constraint", "name": args.name, "version": v}
        elif args.verb == "constraints":
            out = {"verb": "constraints", "constraints": t.constraints()}
        elif args.verb == "delete":
            if args.mor and args.dv:
                raise SystemExit("--mor and --dv are mutually exclusive")
            mode = "dv" if args.dv else ("mor" if args.mor else "cow")
            out = {"verb": "delete", "predicate": args.predicate,
                   **t.delete_where(args.predicate, mode=mode)}
        elif args.verb == "update":
            sets = {}
            for a in args.assignments:
                col, _, expr = a.partition("=")
                if not col or not expr:
                    raise SystemExit(f"--set needs COL=EXPR, got {a!r}")
                sets[col.strip()] = expr.strip()
            out = {"verb": "update", "predicate": args.predicate,
                   **t.update_where(args.predicate, sets,
                                    mode="mor" if args.mor else "cow")}
        elif args.verb == "skip-columns":
            cols = [c for c in args.cols.split(",") if c]
            v = t.alter_skip_columns(cols)
            out = {"verb": "skip-columns", "cols": cols, "version": v}
        elif args.verb == "add-column":
            v = t.add_column(args.name, args.type,
                             initial_default=args.initial_default,
                             write_default=args.write_default)
            out = {"verb": "add-column", "name": args.name,
                   "type": args.type, "version": v}
        elif args.verb == "rename-column":
            v = t.rename_column(args.old, args.new)
            out = {"verb": "rename-column", "old": args.old,
                   "new": args.new, "version": v}
        elif args.verb == "drop-column":
            v = t.drop_column(args.name)
            out = {"verb": "drop-column", "name": args.name, "version": v}
        elif args.verb == "set-default":
            v = t.alter_column_default(args.name,
                                       write_default=args.write_default)
            out = {"verb": "set-default", "name": args.name,
                   "write_default": args.write_default, "version": v}
        elif args.verb == "widen":
            v = t.alter_column_type(args.name, args.type)
            out = {"verb": "widen", "name": args.name,
                   "type": args.type, "version": v}
        elif args.verb == "auto":
            out = _auto(t, args, spark)
        elif args.verb == "analyze":
            rep = t.analyze(args.cols or None)
            out = {"verb": "analyze", **rep}
        elif args.verb == "set-write-order":
            if args.clear == bool(args.cols):
                raise SystemExit("pass sort columns OR --clear")
            v = t.alter_write_order(
                None if args.clear else args.cols,
                zorder=args.zorder, target_rows=args.target_rows,
            )
            out = {"verb": "set-write-order", "version": v,
                   "write_order": t.write_order()}
        elif args.verb == "set-partition-spec":
            if args.clear == bool(args.fields):
                raise SystemExit("pass transform fields OR --clear")
            v = t.alter_partition_spec(None if args.clear else args.fields)
            snap = t.snapshot()
            out = {"verb": "set-partition-spec", "version": v,
                   "default_spec": int(snap.get("default_spec", 0) or 0),
                   "fields": (snap.get("partition_specs") or {}).get(
                       str(snap.get("default_spec", 0) or 0), [])}
        else:
            after = t.rebucket(args.n_buckets)
            out = {"verb": "rebucket", "n_buckets": args.n_buckets, "version": after}
        out["previous_version"] = before
        print(json.dumps(out))
        # fsck is the one verb whose RESULT is a verdict: non-zero
        # exit on corruption so schedulers/alerting can key off it
        return 0 if args.verb != "fsck" or out["ok"] else 3
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
