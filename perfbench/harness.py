"""Measurement core: one query call, the cache release after it, one pass.

``measure`` times a query the way ``bench.py`` does -- the builder call
through a write to the noop sink -- and is the per-query function a shared
measurement core can adopt. Everything else here runs outside the timed
region: the job count of the query's job group, the release of what the
query left cached, and the /proc readings taken around each query and pass.
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_TICK = os.sysconf("SC_CLK_TCK")
_JIT_THREAD = re.compile(r"C[12] CompilerThre")  # HotSpot's names, cut to 15 chars


def noop_write(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def persisted(spark: SparkSession) -> tuple[int, float]:
    """RDDs still persisted in the session, and the MB their blocks hold."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    return jsc.getPersistentRDDs().size(), mb


def release(spark: SparkSession) -> tuple[int, float]:
    """Unpersist everything still cached; return what was held before.

    Without this, a later call of a query can reuse a frame an earlier call
    leaked (Spark's cache matches plans), and whether the frame survives
    depends on Python's garbage collector.
    """
    held = persisted(spark)
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    return held


def group_jobs(spark: SparkSession, group: str) -> list[int]:
    """Job ids of a job group, after the status listener has caught up."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def measure(
    spark: SparkSession,
    name: str,
    builder: Builder,
    sf_dir: str,
    group: str,
    tracer: Any = None,
    sink: Callable[[DataFrame], Any] = noop_write,
) -> dict[str, Any]:
    """Run one query call under its own job group and return its record.

    ``latency_s`` spans the builder call through the sink. With a tracer
    the physical plan is also forced between the two (``plan_s``), and the
    tracer adds the per-layer fields; that extra work is tracing overhead.
    A query that raises yields a record with ``error`` instead of a crash.
    """
    sc = spark.sparkContext
    rec: dict[str, Any] = {"query": name, "group": group}
    sc.setJobGroup(group, name)
    try:
        t0 = time.perf_counter()
        df = builder(spark, sf_dir)
        t1 = time.perf_counter()
        t2 = t3 = t1
        if tracer is not None:
            rec["build_jobs"] = len(group_jobs(spark, group))
            t2 = time.perf_counter()
            plan = df._jdf.queryExecution().executedPlan().toString()
            t3 = time.perf_counter()
        out = sink(df)
        t4 = time.perf_counter()
    except Exception as exc:  # one failing query costs one row
        lines = str(exc).strip().splitlines()
        rec["error"] = f"{type(exc).__name__}: {lines[0][:200] if lines else ''}"
    else:
        rec.update(latency_s=t4 - t0, build_s=t1 - t0, action_s=t4 - t3)
        if out is not None:
            rec["output"] = out
        if tracer is not None:
            rec["plan_s"] = t3 - t2
            tracer.record_query(rec, (t0, t1, t2, t3, t4), plan)
    finally:
        sc._jsc.clearJobGroup()
    jobs = group_jobs(spark, group)
    rec["jobs"] = len(jobs)
    if tracer is not None and "error" not in rec:
        tracer.record_exec(spark, rec, jobs)
    rec["leaked_rdds"], rec["leaked_mb"] = release(spark)
    return rec


def run_pass(
    spark: SparkSession,
    queries: dict[str, Builder],
    sf_dir: str,
    tag: str,
    tracer: Any = None,
    sink: Callable[[DataFrame], Any] = noop_write,
) -> dict[str, Any]:
    """Run every query once, back to back, and read the host around it."""
    if tracer is not None:
        tracer.begin_pass(tag)
    steal0 = host_steal_s()
    t0 = time.perf_counter()
    recs, peak_mb = [], 0.0
    cpu, jit = tree_cpu_s(), tree_jit_cpu_s()
    for name, fn in queries.items():
        rec = measure(spark, name, fn, sf_dir, f"{tag}/{name}", tracer, sink)
        cpu0, jit0 = cpu, jit
        cpu, jit = tree_cpu_s(), tree_jit_cpu_s()
        rec["cpu_s"], rec["jit_cpu_s"] = cpu - cpu0, jit - jit0
        recs.append(rec)
        peak_mb = max(peak_mb, tree_hwm_mb())
    wall = time.perf_counter() - t0
    if tracer is not None:
        tracer.end_pass(t0, t0 + wall)
    return {
        "tag": tag,
        "traced": tracer is not None,
        "wall_s": wall,
        "cpu_s": sum(r["cpu_s"] for r in recs),
        "jit_cpu_s": sum(r["jit_cpu_s"] for r in recs),
        "steal_s": host_steal_s() - steal0,
        "loadavg_1m": loadavg_1m(),
        "peak_rss_mb": peak_mb,
        "queries": recs,
    }


# --- /proc readers: the driver process and everything it started ---------


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2 :].split()  # fields from 3 (state) on


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(entry)[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s() -> float:
    """User + system CPU of the tree, reaped children included.

    A live process counts its own time; one that ended was folded into its
    parent's cutime/cstime when reaped, so nothing is counted twice.
    """
    total = 0
    for pid in process_tree():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_jit_cpu_s() -> float:
    """User + system CPU of the JVM's JIT compiler threads in the tree.

    Their time counts only while they live, so the JVM must keep them
    (``-XX:-UseDynamicNumberOfCompilerThreads``); ``tree_cpu_s`` holds it
    either way.
    """
    total = 0
    for pid in process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if not _JIT_THREAD.match(f.read()):
                        continue
                total += sum(int(x) for x in _stat_fields(f"{pid}/task/{tid}")[11:13])
            except OSError:
                continue
    return total / _TICK


def tree_hwm_mb() -> float:
    """Sum of the resident-memory high-water marks (VmHWM) of the tree."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def host_steal_s() -> float:
    """Host-wide CPU steal so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """Value and percentile of the highest rank with ``beyond`` samples above it.

    With n sorted samples that is the (n - beyond)-th smallest, at
    percentile 100 * (n - beyond) / n. Fewer than beyond + 1 samples have
    no such rank.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs at least {beyond + 1}")
    k = n - beyond
    return sorted(samples)[k - 1], 100.0 * k / n
