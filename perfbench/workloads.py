"""The workloads. Each is a closed loop driven from one thread: the
next operation is issued only after the previous one returned.

Every workload runs a fixed schedule (``plan.py``), not one cut by the
clock, so that for a given seed the same operations run and the work
counters repeat exactly: an untimed warm-up commit and read mix, the
timed commits and read mixes, then a query pass (one cold and
``WARM_PASSES`` warm passes over its half of the headline queries) on
the same session, then the checks. Times are steal-corrected walls
(``harness.Measured``).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F

from . import plan
from .harness import (
    StatusStore, driver_rss_mb, gc_seconds, jvm_live_heap_mb, log, measure, median, metric_sum,
)


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []

    def op(self, ok: bool, what: str, expected_failure: bool = False) -> None:
        """One attempted operation; a failure is counted, and unless it
        is the known fault it also makes the run incorrect."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if not expected_failure:
                self.correct = False
                self.notes.append(what)


def _live_heap(spark) -> tuple[float, float]:
    """Driver JVM heap in use after a full collection, and the GC time
    the explicit collections took (left out of ``jvm.gc_s``). Collections
    repeat, half a second apart, until two agree within 1 MB: the blocks
    of broadcasts and shuffles that one collection frees are dropped by
    Spark's ContextCleaner only afterwards (a single collection read 105
    or 206 MB on runs of the same code)."""
    g0 = gc_seconds(spark)
    prev = jvm_live_heap_mb(spark)
    for _ in range(8):
        time.sleep(0.5)
        mb = jvm_live_heap_mb(spark)
        if abs(mb - prev) < 1.0:
            break
        prev = mb
    log(f"live heap {mb:.1f} MB")
    return mb, gc_seconds(spark) - g0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _read_digest(df) -> list:
    """The compared projection of a table read, (key, commit, lang,
    sha256(content)), materialized on the driver through Arrow."""
    t = df.select(
        "repo", "path", "commit", "lang", F.sha2(F.col("content"), 256).alias("sha")
    ).toArrow()
    return plan.digest(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _log_op(what: str, m) -> None:
    log(f"{what} wall {m.raw_wall_s:.2f}s (steal-corrected {m.wall_s:.2f}s) "
        f"cpu {m.cpu_s:.2f}s host steal {m.steal_s:.2f}s")


# ====================================================================== CDC


def run_cdc(spark, tracer, work, name: str, seconds: int, exp: dict, session) -> Result:
    from w3_data_etl_pipeline_spark.plans.laketable import LakeTable
    from w3_data_etl_pipeline_spark.schemas import SOURCE_FILES
    from w3_data_etl_pipeline_spark.streaming import cdc

    shape = plan.SHAPES[name](seconds)
    res = Result()
    if not exp["selfcheck"]:
        res.op(False, "DuckDB reduction differs from oracle.reduce_events (self-check)")
    segs = exp["segments"]

    # ---- set-up: the initial table load, three times; the last load is kept
    loads = []
    for i in range(3):
        root = work(f"table-{i}")
        with measure() as m:
            table = LakeTable.create(spark, root, SOURCE_FILES, plan.KEY_COLS,
                                     n_buckets=shape.n_buckets)
            table.overwrite(spark.read.parquet(exp["snapshot"]), lsn=0)
        _log_op(f"table load {i}", m)
        loads.append(m.wall_s)
        if i < 2:
            shutil.rmtree(root)
    res.e2e["setup_s"] = (session.wall_s + median(loads), "s")

    if tracer.enabled:
        _wrap_program(tracer, LakeTable, cdc)
    orig_snapshot = tracer.original(LakeTable, "snapshot")

    timed: dict[str, list] = {"commit": [], "point": [], "filter": [], "scan": []}
    cold: list = []
    written = []

    def commit(i: int, phase: str):
        batch = spark.read.parquet(segs[i])
        before = _files(table.root)
        parent = orig_snapshot(table) if tracer.enabled else None
        with measure() as m, tracer.span("commit", phase=phase, batch=i) as s:
            stats = cdc.apply_batch(
                table, batch, i, mode=shape.mode, patches=False, salt_partitions=None,
                **shape.apply_kw,
            )
        _log_op(f"commit {i} ({phase})", m)
        if phase == "timed":
            timed["commit"].append(m)
            after = _files(table.root)
            written.append(sum(n for p, n in after.items() if before.get(p) != n))
        else:
            cold.append(m)
        if tracer.enabled:
            s.attrs.update(_commit_facts(table, orig_snapshot, stats, parent))
        res.op(stats.applied, f"commit {i} not applied")

    def read_mix(upto: int, phase: str):
        want = exp["reads"][str(upto)]
        key = tuple(want["key"])
        for kind, call in (
            ("point", lambda: table.read_keys([key])),
            ("filter", lambda: table.read_where(plan.FILTER_PRED)),
            ("scan", lambda: table.read()),
        ):
            if tracer.enabled and kind == "filter":
                skipping = table.explain_skipping(plan.FILTER_PRED)
            with measure() as m, tracer.span("read", kind=kind, phase=phase) as s:
                got = _read_digest(call())
            _log_op(f"{kind} read ({phase})", m)
            (timed[kind] if phase == "timed" else cold).append(m)
            if tracer.enabled:
                if kind == "filter":
                    s.attrs["skipping"] = {k: skipping[k] for k in (
                        "files_kept", "files_skipped", "bytes_kept",
                        "kept_for_delta_resolution")}
                if kind == "scan":
                    s.attrs["delta_files"] = sum(
                        1 for f in orig_snapshot(table)["files"] if f.get("kind") == "delta")
            res.op(got == want[kind],
                   f"{phase} {kind} read after batch {upto} differs from the oracle")

    log("set-up done")
    # ---- warm-up commits and read mix, then the timed schedule
    for i in range(shape.warmup_commits):
        commit(i, "warmup")
    read_mix(i, "warmup")
    log("warm-up done")
    gc0 = gc_seconds(spark)
    for k in range(1, shape.timed_commits + 1):
        i += 1
        commit(i, "timed")
        if k in shape.reads_after:
            read_mix(i, "timed")
    for _ in range(shape.final_read_mixes):
        read_mix(i, "timed")
    log("CDC schedule done")
    qcold, qwarm = _query_pass(spark, tracer, shape.queries, exp, res)
    heap_mb, explicit_gc_s = _live_heap(spark)
    gc_s = gc_seconds(spark) - gc0 - explicit_gc_s
    rss = driver_rss_mb()

    def med(kind, attr="wall_s"):
        return median([getattr(m, attr) for m in timed[kind]])

    events = sum(exp["seg_events"][shape.warmup_commits:])
    E, L = res.e2e, res.layers
    E["apply_eps"] = (events / sum(m.wall_s for m in timed["commit"]), "events/s")
    E["commit_p50_s"] = (med("commit"), "s")
    for kind in ("point", "filter", "scan"):
        E[f"{kind}_read_p50_s"] = (med(kind), "s")
        L[f"{kind}_read_cpu_p50_s"] = (med(kind, "cpu_s"), "cpu-s")
    E["query_cold_s"] = (sum(m.wall_s for m in qcold.values()), "s")
    E["query_warm_s"] = (median([sum(m.wall_s for m in p.values()) for p in qwarm]), "s")
    E["driver_rss_mb"] = (rss, "MB")
    E["jvm_heap_mb"] = (heap_mb, "MB")
    E["write_amp"] = (
        sum(written) / sum(os.path.getsize(p) for p in segs[shape.warmup_commits:]), "ratio")
    L["warmup_s"] = (sum(m.wall_s for m in cold), "s")
    L["commit_cpu_p50_s"] = (med("commit", "cpu_s"), "cpu-s")
    L["commit_raw_wall_p50_s"] = (med("commit", "raw_wall_s"), "s")
    L["host_steal_s"] = (sum(m.steal_s for ms in timed.values() for m in ms), "s")
    for name in shape.queries:
        L[f"query.{name}.cold_s"] = (qcold[name].wall_s, "s")
        L[f"query.{name}.warm_s"] = (median([p[name].wall_s for p in qwarm]), "s")

    # ---- checks: final state, then time-window reads, then exactly-once replay
    fp = table.state_fingerprint().toArrow()
    got_fp = plan.digest(zip(*(fp.column(c).to_pylist() for c in ("repo", "path", "content_sha"))))
    res.op(got_fp == exp["fingerprint"], "state_fingerprint differs from the oracle")
    for tw in exp["time_window"]:
        got = _read_digest(table.read_where(tw["pred"]))
        res.op(tw["want"][0] > 0 and got == tw["want"],
               f"read_where({tw['pred']}) differs from the oracle",
               expected_failure=tw["known_fault"])
    v = table.current_version()
    cdc.apply_batch(table, spark.read.parquet(segs[-1]), shape.n_batches - 1, mode=shape.mode,
                    patches=False, **shape.apply_kw)
    res.op(table.current_version() == v, "re-offered batch_id moved current_version()")
    # the live state written once, with the same session and codec
    live = work("live-state")
    table.read().write.parquet(live)
    E["space_amp"] = (_du(table.root) / _du(live), "ratio")
    log("checks done")

    if tracer.enabled:
        tracer.unwrap()
        _cdc_layers(spark, tracer, table, res, gc_s)
        _query_layers(spark, tracer, res)
    return res


def _query_pass(spark, tracer, names, exp: dict, res: Result):
    """One cold and ``WARM_PASSES`` warm passes over ``names``, each
    query timed to full materialization on the driver (``collect()``:
    every result row computed and returned, unlike ``count()``, which
    lets Spark skip most of the work of several queries). Each result is
    then checked, outside its timing, against the query's DuckDB
    ``oracle_sql`` by ``tools/compare_oracle.py``'s ``value_hash``."""
    import __spark_entry__ as entry
    from bench import HEADLINE

    assert set(names) <= set(HEADLINE)
    data = exp["query_data"]
    qs = entry.queries()
    value_hash = plan.value_hash_fn()

    def one_pass(phase: str) -> dict:
        per = {}
        with tracer.span("pass", phase=phase):
            for name in names:
                with measure() as m, tracer.span("query", query=name, phase=phase) as q:
                    df = qs[name](spark, data)
                    if tracer.enabled and phase == "cold":
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        phases = qe.tracker().phases()
                        q.attrs["plan_ms"] = sum(
                            phases.get(k).get().durationMs()
                            for k in ("analysis", "optimization", "planning")
                            if phases.get(k).isDefined())
                    rows = [tuple(r) for r in df.collect()]
                per[name] = m
                want = exp["queries"][name]
                res.op(sorted(df.columns) == want["columns"] and len(rows) == want["rows"]
                       and value_hash(rows, df.columns) == want["hash"],
                       f"{name} ({phase}) differs from its DuckDB oracle")
        log(f"query pass ({phase}) " + " ".join(f"{n} {m.wall_s:.2f}s" for n, m in per.items()))
        return per

    cold = one_pass("cold")
    warm = [one_pass("warm") for _ in range(plan.WARM_PASSES)]
    return cold, warm


def _query_layers(spark, tracer, res: Result) -> None:
    L = res.layers
    for c in tracer.named("query", phase="cold"):
        L[f"query.{c.attrs['query']}.plan_ms"] = (float(c.attrs.get("plan_ms", 0)), "ms")
    kids = tracer.children()
    groups = {s.group for p in tracer.named("pass", phase="warm")
              for s in tracer.subtree(p, kids) if s.group}
    store = StatusStore(spark)
    ex = store.executions({j["id"] for j in store.jobs() if j["group"] in groups})
    n = plan.WARM_PASSES
    L["query.python_rows"] = (metric_sum(
        ex, lambda x: "Python" in x or "Pandas" in x, "number of output rows") / n, "count")
    L["query.shuffle_bytes"] = (metric_sum(ex, lambda x: True, "shuffle bytes written") / n,
                                "bytes")
    L["query.scan_bytes"] = (metric_sum(ex, lambda x: x.startswith("Scan"),
                                        "size of files read") / n, "bytes")


def _wrap_program(tracer, LakeTable, cdc) -> None:
    tracer.wrap(cdc, "apply_batch", "apply_batch")
    tracer.wrap(cdc, "enrich_changes", "enrich_changes")  # as apply_batch calls it
    for name in ("merge", "compact", "read", "read_keys", "read_where"):
        tracer.wrap(LakeTable, name, name)
    tracer.wrap(LakeTable, "expire_snapshots", "expire_snapshots", keep_result=True)
    tracer.wrap(LakeTable, "snapshot", "snapshot", jobs=False)
    tracer.wrap(LakeTable, "prune_files", "prune_files", jobs=False)


def _commit_facts(table, snapshot, stats, parent: dict) -> dict:
    """Manifest diff of the merge commit against ``parent`` (the
    snapshot before the apply; expiry may already have removed it from
    disk), and of every later commit of the same apply (inline
    compaction) against the one before it."""
    facts = {"files_added": 0, "files_removed": 0, "bytes_added": 0,
             "compact_bytes_rewritten": 0}
    for v in range(stats.version, table.current_version() + 1):
        child = snapshot(table, v)
        old = {f["path"]: f for f in parent["files"]}
        new = {f["path"]: f for f in child["files"]}
        added = [f for p, f in new.items() if p not in old]
        removed = [f for p, f in old.items() if p not in new]
        if v == stats.version:
            facts["files_added"] = len(added)
            facts["files_removed"] = len(removed)
            facts["bytes_added"] = sum(f.get("bytes") or 0 for f in added)
        elif child.get("operation") == "compact":
            facts["compact_bytes_rewritten"] += sum(f.get("bytes") or 0 for f in removed)
        parent = child
    return facts


def _cdc_layers(spark, tracer, table, res: Result, gc_s: float) -> None:
    store = StatusStore(spark)
    jobs = store.jobs()
    kids = tracer.children()
    L = res.layers

    def jobs_of(spans):
        groups = {s.group for s in spans if s.group}
        return [j for j in jobs if j["group"] in groups]

    def busy(js) -> float:
        iv = sorted((j["t0"], j["t1"]) for j in js if j["t0"] and j["t1"])
        total, end = 0.0, None
        for a, b in iv:
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total

    commits = tracer.named("commit", phase="timed")
    per = {k: [] for k in ("merge.s", "merge.spark_jobs", "merge.spark_tasks", "merge.job_s",
                           "merge.driver_s", "merge.scan_bytes", "merge.shuffle_bytes",
                           "snapshot.s", "snapshot.calls")}
    py_rows = py_s = 0.0
    compact_s = compact_calls = expire_s = expire_removed = 0.0
    apply_s = 0.0
    for c in commits:
        sub = tracer.subtree(c, kids)
        apply_s += sum(s.wall for s in sub if s.name == "apply_batch")
        for m in (s for s in sub if s.name == "merge"):
            msub = tracer.subtree(m, kids)
            mj = jobs_of(msub)
            ex = store.executions({j["id"] for j in mj})
            per["merge.s"].append(m.wall)
            per["merge.spark_jobs"].append(len(mj))
            per["merge.spark_tasks"].append(sum(j["tasks"] for j in mj))
            per["merge.job_s"].append(busy(mj))
            per["merge.driver_s"].append(m.wall - busy(mj))
            per["merge.scan_bytes"].append(
                metric_sum(ex, lambda n: n.startswith("Scan"), "size of files read"))
            per["merge.shuffle_bytes"].append(
                metric_sum(ex, lambda n: True, "shuffle bytes written"))
        snaps = [s for s in sub if s.name == "snapshot"]
        per["snapshot.s"].append(sum(s.wall for s in snaps))
        per["snapshot.calls"].append(len(snaps))
        ex = store.executions({j["id"] for j in jobs_of(sub)})
        py_rows += metric_sum(ex, lambda n: "ArrowEvalPython" in n, "number of output rows")
        py_s += metric_sum(ex, lambda n: "ArrowEvalPython" in n, "time to run Python workers")
        for s in sub:
            if s.name == "compact":
                compact_s += s.wall
                compact_calls += 1
            elif s.name == "expire_snapshots":
                expire_s += s.wall
                expire_removed += s.attrs["result"]["removed_files"]
    for k, v in per.items():
        unit = "s" if k.endswith("_s") or k.endswith(".s") else (
            "bytes" if k.endswith("bytes") else "count")
        L[k] = (median(v), unit)
    for k in ("files_added", "files_removed", "bytes_added"):
        L[f"merge.{k}"] = (median([c.attrs[k] for c in commits]),
                           "bytes" if k.startswith("bytes") else "count")
    L["cdc.apply_s"] = (apply_s, "s")
    L["enrich.python_rows"] = (py_rows, "count")
    L["enrich.python_s"] = (py_s, "s")
    L["compact.s"] = (compact_s, "s")
    L["compact.calls"] = (compact_calls, "count")
    L["compact.bytes_rewritten"] = (
        float(sum(c.attrs["compact_bytes_rewritten"] for c in commits)), "bytes")
    L["expire.s"] = (expire_s, "s")
    L["expire.files_removed"] = (expire_removed, "count")

    reads = {k: tracer.named("read", kind=k, phase="timed") for k in ("point", "filter", "scan")}
    pt = reads["point"]
    if pt:
        L["read.point.spark_jobs"] = (median([len(jobs_of(tracer.subtree(s, kids))) for s in pt]),
                                      "count")
        L["read.point.files_opened"] = (median([
            metric_sum(store.executions({j["id"] for j in jobs_of(tracer.subtree(s, kids))}),
                       lambda n: n.startswith("Scan"), "number of files read") for s in pt]),
            "count")
    fl = reads["filter"]
    if fl:
        for key, name, unit in (("files_kept", "files_opened", "count"),
                                ("files_skipped", "files_skipped", "count"),
                                ("bytes_kept", "bytes_opened", "bytes"),
                                ("kept_for_delta_resolution", "kept_for_delta", "count")):
            L[f"read.filter.{name}"] = (median([s.attrs["skipping"][key] for s in fl]), unit)
        L["prune.s"] = (median([
            sum(p.wall for p in tracer.subtree(s, kids) if p.name == "prune_files") for s in fl]),
            "s")
    sc = reads["scan"]
    if sc:
        L["read.scan.delta_files"] = (median([s.attrs["delta_files"] for s in sc]), "count")

    L["meta.bytes"] = (float(_du(os.path.join(table.root, "_meta"))
                             + _du(os.path.join(table.root, "manifests"))), "bytes")
    L["jvm.gc_s"] = (gc_s, "s")
