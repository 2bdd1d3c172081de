"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One Spark session per process, one client in a closed loop: the workload's
queries run back to back through the noop sink, pass after pass, until
``--seconds`` of timed passes are done. Before them, setup starts the
session, imports the registry and runs one untimed warm-up pass at the timed
scale that also collects every output for the oracle check. Everything
cached is released after every query. ``--trace 1`` alternates untraced and
traced passes and reports the per-layer metrics instead of the end-to-end
ones; the untraced/traced difference is the tracing overhead.

Run from the repository root. The run writes only below ``.perfbench/``:
its inputs and scratch files (removed at exit), the oracle cache, the
per-query job counts of earlier runs, and a detail record per run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
# Two task slots on a 4-CPU host leave the other CPUs to the JIT and GC
# threads, the Python driver and the Python workers: measured passes were
# faster and setup shorter than with four slots.
CPUS = 2
MIN_PASSES = 5  # the first timed pass is still warming up; the median skips it
DEADLINE_S = 170  # a run must end within 180 s
# C2 does not finish warming up within a run: its compile backlog keeps one
# or two CPUs busy for minutes, and the code speeds up pass by pass at a pace
# set by host CPU steal, so CPU per pass spread by a quarter across runs. C1
# alone is nearly done within the warm-up pass. Compiler threads are kept
# alive so that their CPU can be read per thread (``jvm.jit_cpu_s``). The
# serial collector made CPU and peak memory per run steadier than G1, whose
# heap grew with GC timing and which had passes with 3-4 s of sudden
# recompilation.
JVM_OPTS = (
    "-XX:TieredStopAtLevel=1",
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-XX:+UseSerialGC",
)


def pinned_env(tmp: str) -> dict[str, str]:
    """The session, fixed from outside and recorded in every output."""
    return {
        "SPARK_GRAFT_CPUS": str(min(CPUS, len(os.sched_getaffinity(0)))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
    }


if __name__ == "__main__":
    # Pin the environment by re-executing before Spark, pandas and DuckDB load.
    _env = pinned_env(os.path.join(WORK, "tmp", str(os.getpid())))
    if any(os.environ.get(k) != v for k, v in _env.items()):
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, **_env})

sys.path.insert(0, ROOT)
from perfbench import harness, inputs  # noqa: E402
from perfbench.layers import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def since_process_start() -> float:
    """Seconds since this process started (exec keeps the start time)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def ship_package(spark, tmp: str) -> None:
    """Put the package on the Python workers' path, as a deployment ships it."""
    path = os.path.join(tmp, "amorphous_mapreduce_spark.zip")
    pkg = os.path.join(ROOT, "amorphous_mapreduce_spark")
    with zipfile.ZipFile(path, "w") as z:
        for d, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, ROOT))
    spark.sparkContext.addPyFile(path)


def shutdown(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    started = harness.process_tree()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
                deadline += 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)  # reap our own children
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run_passes(spark, queries, sf_dir, seconds, trace) -> tuple[list, Tracer | None]:
    """Timed passes for ``seconds``; with ``trace``, odd passes are traced."""
    tracer = Tracer() if trace else None
    passes: list[dict[str, Any]] = []
    end = time.perf_counter() + seconds
    while True:
        traced = trace and len(passes) % 2 == 1
        passes.append(
            harness.run_pass(
                spark, queries, sf_dir, f"p{len(passes)}", tracer if traced else None
            )
        )
        typical = statistics.median(p["wall_s"] for p in passes)
        if len(passes) >= MIN_PASSES + trace and end - time.perf_counter() < typical / 2:
            return passes, tracer


def check_outputs(warm: dict, oracles: dict, sf_dir: str, cache: str) -> dict[str, str]:
    """Oracle status per query, from the outputs the warm-up pass collected."""
    digest = inputs.inputs_digest(sf_dir)
    status = {}
    for rec in warm["queries"]:
        name = rec["query"]
        if "error" in rec:
            status[name] = f"ERROR {rec['error']}"
        elif name not in oracles:
            status[name] = "NO ORACLE"
        else:
            try:
                odf = inputs.oracle_frame(oracles[name], sf_dir, digest, cache)
            except Exception as exc:  # a broken oracle costs one row
                status[name] = f"ORACLE ERROR {type(exc).__name__}: {exc}"[:300]
            else:
                status[name] = inputs.compare(rec.pop("output"), odf)
        rec.pop("output", None)
    return status


def job_counts(passes: list, key: str) -> tuple[dict[str, int], list[str]]:
    """Per-query job count of the timed passes, and queries where it varies.

    Counts are also compared with the earlier run of the same workload and
    seed, whose counts are kept in ``.perfbench/jobs``.
    """
    seen: dict[str, set[int]] = {}
    for p in passes:
        for r in p["queries"]:
            if "error" not in r:
                seen.setdefault(r["query"], set()).add(r["jobs"])
    unstable = sorted(q for q, s in seen.items() if len(s) > 1)
    counts = {q: min(s) for q, s in seen.items()}
    path = os.path.join(WORK, "jobs", f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        unstable += sorted(
            f"{q} (earlier run: {before[q]}, now {n})"
            for q, n in counts.items()
            if q in before and before[q] != n
        )
    else:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(counts, f, indent=1, sort_keys=True)
    return counts, unstable


def end_to_end(passes: list, setup_s: float) -> dict:
    """The gated end-to-end metrics: set-up time, CPU and memory.

    CPU time and resident memory hold steady when the host steals CPU from
    the VM; wall-clock latency does not (see ``latency``).
    """
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
        "peak_rss_mb": (max(p["peak_rss_mb"] for p in passes), "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def latency(passes: list) -> tuple[dict, dict]:
    """Wall-clock latency of the given passes, and its sample counts."""
    lat: dict[str, list[float]] = {}
    for p in passes:
        for r in p["queries"]:
            if "error" not in r:
                lat.setdefault(r["query"], []).append(r["latency_s"])
    samples = [x for xs in lat.values() for x in xs]
    if len(samples) > 10:
        tail_s, tail_pct = harness.tail(samples)
    else:  # failed queries left too few samples: fall back to the maximum
        tail_s, tail_pct = max(samples, default=0.0), 100.0
    metrics = {
        "warm_pass_s": sum(statistics.median(xs) for xs in lat.values()),
        "query_p50_s": statistics.median(samples) if samples else 0.0,
        "query_tail_s": tail_s,
    }
    info = {
        "queries": len(lat),
        "passes": len(passes),
        "samples": len(samples),
        "tail_percentile": tail_pct,
    }
    return {k: {"value": v, "unit": "s"} for k, v in metrics.items()}, info


def per_layer(passes: list, setup: dict, oracle_bad: int, fail_rate: float, tracer: Tracer, cpus: int):
    """Per-layer metrics: summed per traced pass, median over traced passes."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    self_s = tracer.self_times()
    q_self = {s["trace_id"]: self_s[s["id"]] for s in tracer.spans if s["name"] == "query"}

    def per_pass(fn) -> float:
        return statistics.median(fn(p) for p in traced)

    def total(fn) -> float:
        return per_pass(lambda p: sum(fn(r) for r in p["queries"] if "error" not in r))

    def ex(key):
        return total(lambda r: r["exec"][key])

    def plan(key):
        return total(lambda r: r["plan"][key])

    lat, _ = latency(untraced)
    m: dict[str, tuple[float, str]] = {
        **{f"latency.{k}": (v["value"], v["unit"]) for k, v in lat.items()},
        "session.start_s": (setup["session_s"], "s"),
        "registry.import_s": (setup["registry_s"], "s"),
        "warmup.cold_pass_s": (setup["cold_pass_s"], "s"),
        "queries.build_s": (total(lambda r: r["build_s"]), "s"),
        "queries.build_jobs": (total(lambda r: r["build_jobs"]), "count"),
        "queries.build_share": (
            total(lambda r: r["build_s"]) / total(lambda r: r["latency_s"]), "ratio"
        ),
        "queries.self_s": (total(lambda r: q_self[r["group"]]), "s"),
        "queries.failed": (
            per_pass(lambda p: sum("error" in r for r in p["queries"])), "count"
        ),
        "oracle.mismatches": (oracle_bad, "count"),
        "fail_rate": (fail_rate, "ratio"),
        "planning.plan_s": (total(lambda r: r["plan_s"]), "s"),
        **{
            f"planning.{k}": (plan(k), "count")
            for k in ("exchanges", "broadcast_joins", "shuffled_joins", "cached_scans",
                      "python_evals", "trans_ops", "crossp_ops", "vec_ops")
        },
        "exec.action_s": (total(lambda r: r["action_s"]), "s"),
        "exec.jobs": (total(lambda r: r["jobs"]), "count"),
        "exec.stages": (ex("stages"), "count"),
        "exec.tasks": (ex("tasks"), "count"),
        "exec.task_cpu_s": (ex("task_cpu_s"), "s"),
        "exec.task_run_s": (ex("task_run_s"), "s"),
        "exec.gc_s": (ex("gc_s"), "s"),
        "exec.slot_busy_share": (
            ex("task_run_s") / (total(lambda r: r["latency_s"]) * cpus), "ratio"
        ),
        "shuffle.write_mb": (ex("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": (ex("shuffle_read_mb"), "MB"),
        "memory.peak_exec_mb": (
            per_pass(lambda p: max(
                (r["exec"]["peak_exec_mb"] for r in p["queries"] if "error" not in r),
                default=0.0)),
            "MB",
        ),
        "memory.spill_mb": (ex("spill_mb"), "MB"),
        "cache.leaked_rdds": (total(lambda r: r["leaked_rdds"]), "count"),
        "cache.leaked_mb": (total(lambda r: r["leaked_mb"]), "MB"),
        "jvm.jit_cpu_s": (per_pass(lambda p: p["jit_cpu_s"]), "s"),
        "host.steal_s": (per_pass(lambda p: p["steal_s"]), "s"),
        "host.loadavg_1m": (per_pass(lambda p: p["loadavg_1m"]), "load"),
        "trace.overhead_share": (
            per_pass(lambda p: p["wall_s"])
            / statistics.median(p["wall_s"] for p in untraced) - 1,
            "ratio",
        ),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def query_detail(passes: list) -> dict[str, dict[str, float]]:
    """Per query: the median of each numeric field over the passes it ran in."""
    fields: dict[str, dict[str, list[float]]] = {}
    for p in passes:
        for r in p["queries"]:
            if "error" in r:
                continue
            flat = {k: v for k, v in r.items() if isinstance(v, (int, float))}
            for sub in ("exec", "plan"):
                flat.update({f"{sub}.{k}": v for k, v in r.get(sub, {}).items()})
            for k, v in flat.items():
                fields.setdefault(r["query"], {}).setdefault(k, []).append(v)
    return {
        q: {k: statistics.median(v) for k, v in fs.items()} for q, fs in fields.items()
    }


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _on_term(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the shutdown below


def main() -> int:
    tmp = os.environ["TMPDIR"]  # pinned by the re-exec above
    env = pinned_env(tmp)
    os.makedirs(tmp, exist_ok=True)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.signal(signal.SIGTERM, _on_term)
    signal.alarm(DEADLINE_S)
    spark = None
    try:
        ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
        ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
        ap.add_argument("--seed", type=int, required=True)
        ap.add_argument("--seconds", type=int, required=True)
        ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
        args = ap.parse_args()
        if args.seed < 0 or args.seconds < 1:
            ap.error("--seed must be >= 0 and --seconds >= 1")
        wl = WORKLOADS[args.workload]
        sf_dir = os.path.join(tmp, "inputs")

        t = time.perf_counter()
        inputs.make_inputs(args.seed, wl.scale, sf_dir)
        inputs_s = time.perf_counter() - t

        t = time.perf_counter()
        from amorphous_mapreduce_spark import get_spark

        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}/derby -XX:-UsePerfData "
                + " ".join(JVM_OPTS),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        ship_package(spark, tmp)
        session_s = time.perf_counter() - t

        t = time.perf_counter()
        from amorphous_mapreduce_spark.queries_registry import ORACLES, QUERIES

        registry_s = time.perf_counter() - t
        queries = {q: QUERIES[q] for q in wl.queries}

        warm = harness.run_pass(spark, queries, sf_dir, "warmup", sink=lambda df: df.toPandas())
        setup = {
            "inputs_s": inputs_s,
            "session_s": session_s,
            "registry_s": registry_s,
            "cold_pass_s": warm["wall_s"],
            # inputs are the benchmark's own work, not the engine's
            "setup_s": since_process_start() - inputs_s,
        }
        passes, tracer = run_passes(spark, queries, sf_dir, args.seconds, args.trace)
        oracle = check_outputs(warm, ORACLES, sf_dir, os.path.join(WORK, "oracle-cache"))
    finally:
        if spark is not None:
            shutdown(spark)
        signal.alarm(0)
        shutil.rmtree(tmp, ignore_errors=True)

    untraced = [p for p in passes if not p["traced"]]
    calls = [r for p in untraced for r in p["queries"]]
    oracle_bad = sum(s != "OK" for s in oracle.values())
    failed = sum("error" in r for r in calls) + oracle_bad
    attempted = len(calls) + len(oracle)
    fail_rate = failed / attempted
    key = f"{args.workload}-seed{args.seed}"
    jobs, unstable = job_counts(passes, key)
    cpus = int(env["SPARK_GRAFT_CPUS"])
    lat, info = latency(untraced)
    if args.trace:
        metrics = per_layer(passes, setup, oracle_bad, fail_rate, tracer, cpus)
        shown = metrics
    else:
        metrics = end_to_end(passes, setup["setup_s"])
        shown = {**metrics, **lat}
    n = f"{info['samples']} samples"
    notes = {
        "warm_pass_s": f"sum of per-query medians, {info['queries']} queries "
        f"x {info['passes']} passes; not gated",
        "query_p50_s": f"{n}; not gated",
        "query_tail_s": f"p{info['tail_percentile']:.1f} of {n}; not gated",
        "cpu_s": f"median of {info['passes']} passes",
        "trace.overhead_share": "median traced pass vs median untraced pass",
    }

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": wl.scale,
        "session": {**env, "master": f"local[{cpus}]", "py_files": "package zip",
                    "jvm_opts": " ".join(JVM_OPTS)},
        "setup": setup,
        "metrics": metrics,
        "latency": {**lat, **info},
        "fail_rate": fail_rate,
        "oracle": oracle,
        "jobs": jobs,
        "jobs_unstable": unstable,
        "passes": [{k: v for k, v in p.items() if k != "queries"} for p in passes],
        "per_query": query_detail([p for p in passes if p["traced"] == bool(args.trace)]),
        "spans": tracer.spans if tracer else [],
    }
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    out_path = os.path.join(WORK, "out", f"{key}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"scale={wl.scale} session=local[{cpus}] heap={DRIVER_MEM} PYTHONHASHSEED=0 "
          f"{' '.join(JVM_OPTS)}")
    for p in passes:
        print(f"  pass {p['tag']:>4}{' traced' if p['traced'] else '       '} "
              f"wall {p['wall_s']:.3f} s  cpu {p['cpu_s']:.2f} s  jit {p['jit_cpu_s']:.2f} s  "
              f"steal {p['steal_s']:.2f} s  load {p['loadavg_1m']:.2f}")
    bad = {q: s for q, s in oracle.items() if s != "OK"}
    print(f"  oracle check: {len(oracle) - len(bad)}/{len(oracle)} OK"
          + "".join(f"\n    {q}: {s}" for q, s in bad.items()))
    if unstable:
        print(f"  WARNING job counts not repeatable: {', '.join(unstable)}")
    for k, v in shown.items():
        extra = f"  ({notes[k]})" if k in notes else ""
        print(f"  {k} = {v['value']:.4f} {v['unit']}{extra}")
    if not args.trace:
        print(f"  fail_rate = {fail_rate:.4f} ratio  ({failed} of {attempted} attempted)")
    print(f"  detail: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
