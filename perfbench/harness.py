"""Process-level plumbing shared by the workloads: the Spark session,
the work directory inside the checkout, per-operation wall, CPU time
and host steal, memory, JVM GC time, Spark's status store, and the
result line."""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
# Spark runs as local[K]: fixed at 4 cores, fewer only on a smaller host
K = min(4, len(os.sched_getaffinity(0)))


_T0 = time.time()


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.time() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


class WorkDir:
    """Scratch space under ``.perfbench/`` in the checkout; JVM and
    Python temp files are pointed there too and removed at exit."""

    def __init__(self, tag: str):
        self.path = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")

    def __call__(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_spark(work: WorkDir):
    from w3_data_etl_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{K}]",
        shuffle_partitions=K,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": work("spark-local"),
            "spark.sql.warehouse.dir": work("warehouse"),
            # the heap starts at its maximum, so G1 never resizes it
            # from run to run; JIT compiler threads never exit, so their
            # CPU time can be told apart for the whole run (tree_cpu_s)
            "spark.driver.extraJavaOptions": (
                "-XX:G1HeapRegionSize=32m -Xms2g -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={work('tmp')}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (parent pid, command name, the stat fields after the name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2 :].split()
        out[int(d)] = (int(fields[1]), st[st.index("(") + 1 : st.rindex(")")], fields)
    return out


def _descendants(procs, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (pp, _, _) in procs.items():
        children.setdefault(pp, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of a JVM's JIT compiler threads."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        if st[st.index("(") + 1 : st.rindex(")")] in _JIT_THREADS:
            ticks += sum(int(x) for x in st[st.rindex(")") + 2 :].split()[11:13])
    return ticks


_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by the program: this
    process (the PySpark driver side) and its descendants (the driver
    JVM and its Python workers, with their reaped children). Returned
    twice: all of it, and without the JVM's JIT compiler threads, whose
    work depends on how warm the JVM is rather than on the operation."""
    procs = _proc_table()
    ticks = jit = 0
    for p in _descendants(procs, os.getpid()):
        ticks += sum(int(x) for x in procs[p][2][11:15])
        if procs[p][1] == "java":
            jit += _jit_ticks(p)
    me = os.times()
    mine = me.user + me.system
    return ticks / _TCK + mine, (ticks - jit) / _TCK + mine


def steal_s() -> float:
    """CPU time the host took from this VM so far, over all its vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


class Measured:
    """Wall, CPU time and host steal of one operation.

    ``wall_s`` is the steal-corrected wall: the wall scaled by the share
    of the program's CPU demand that got a CPU, ``cpu / (cpu + steal)``
    (all of the program's CPU time, JIT threads included). A serial
    phase that lost ``s`` seconds to steal gets ``s`` back; four busy
    threads that lost ``s`` between them get ``s / 4`` back. The
    correction assumes the host's steal during the operation fell on the
    program's threads, which holds on a VM that runs nothing else; a
    loss of parallelism, an I/O wait or a driver-side wait still lengthens
    it, as it does the raw wall."""

    __slots__ = ("raw_wall_s", "cpu_all_s", "cpu_s", "steal_s")

    @property
    def wall_s(self) -> float:
        demand = self.cpu_all_s + self.steal_s
        return self.raw_wall_s * self.cpu_all_s / demand if demand > 0 else self.raw_wall_s


@contextmanager
def measure():
    m = Measured()
    (a0, c0), s0, t0 = tree_cpu_s(), steal_s(), time.time()
    try:
        yield m
    finally:
        m.raw_wall_s = time.time() - t0
        a1, c1 = tree_cpu_s()
        m.cpu_all_s, m.cpu_s, m.steal_s = a1 - a0, c1 - c0, steal_s() - s0


def driver_rss_mb() -> float:
    """Peak resident memory of this process so far: the PySpark driver
    side, where the program's metadata and planning code runs. Inputs
    and expected results are made in a child process (``prep.py``), so
    they are not in it."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still uses right after a full collection:
    what the program keeps alive between operations (cached and
    broadcast blocks, metadata caches, Spark's own bookkeeping)."""
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mem.gc()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ---------------------------------------------------------------- status store

_SCALE = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``10,000``, ``64.2 MiB``, ``total (min,
    med, max ...)\\n4.1 s (...)``) as bytes, seconds or a count."""
    tok = text.strip().split("\n")[-1].split()
    value = float(tok[0].replace(",", ""))
    return value * _SCALE.get(tok[1], 1.0) if len(tok) > 1 else value


def _scala_iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Jobs (by job group) and SQL executions (with per-node metrics)
    from Spark's own status stores."""

    def __init__(self, spark):
        self.spark = spark

    def jobs(self) -> list[dict]:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = []
        for j in _scala_iter(store.jobsList(None)):
            grp = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            out.append(
                {
                    "id": j.jobId(),
                    "group": grp.get() if grp.isDefined() else None,
                    "tasks": j.numTasks(),
                    "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "t1": done.get().getTime() / 1000.0 if done.isDefined() else None,
                }
            )
        return out

    def executions(self, job_ids: set[int]) -> list[dict]:
        """Every SQL execution that ran any of ``job_ids``, as
        ``{"jobs": set, "nodes": [(node_name, metric_name, value)]}``."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        out = []
        for e in _scala_iter(store.executionsList()):
            jobs = {int(j) for j in _scala_iter(e.jobs().keys())}
            if not jobs & job_ids:
                continue
            eid = e.executionId()
            values = store.executionMetrics(eid)
            nodes = []
            for n in _scala_iter(store.planGraph(eid).allNodes()):
                for m in _scala_iter(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        nodes.append((n.name(), m.name(), parse_metric(v.get())))
            out.append({"jobs": jobs, "nodes": nodes})
        return out


def metric_sum(execs: list[dict], node_pred, metric: str) -> float:
    return sum(
        v for e in execs for (node, name, v) in e["nodes"] if name == metric and node_pred(node)
    )


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
