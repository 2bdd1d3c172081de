"""Local mimic of the driver's t2 correctness gate.

For every ``queries()`` entry with an ``oracle_sql()`` counterpart, run the
Spark DataFrame and the DuckDB SQL at the same sf_dir and compare:
row count, schema (column names), and an order-insensitive value
comparison (columns sorted by name, rows sorted, exact equality).

Every check is appended to CHECKS.jsonl at the repo root (query, sf dir,
rows, status, timings, UTC timestamp) — a committed audit trail so any
query the per-round driver sample never lands on still has a local
verification record (round-2 verdict item 9).

Usage: python tools/check_oracles.py [--shard k/n] [sf_dir] [query ...]

``--shard k/n`` selects the deterministic 1-based k-th of n name-hash
buckets (md5), so a full battery can be re-verified a rotating quarter
per sitting (--shard 1/4 .. 4/4) as the registry grows (VERDICT_r04
item 6). Every row now also records the driver round (inferred from the
newest BENCH_r{N}.json + 1) so tests/test_gates.py can assert no
query's latest OK row is stale by more than 4 rounds. On every run the
file is first pruned of rows whose query is no longer registered, so
the audit trail and the registry count agree exactly (item 7).
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def dtype_mismatches(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Columns whose pandas dtypes differ between Spark and the oracle.

    The driver hashes values in a width-insensitive way (int32 vs int64
    both hashed green in CORRECTNESS_r01) but IS sensitive to DuckDB
    returning HUGEINT (pandas object dtype) where Spark returns int64 —
    the class of bug canon()'s stringification masked (VERDICT r1 "What's
    wrong" 1-2). So compare dtype KINDS: int≡uint widths collapse,
    datetime units collapse, but object-vs-numeric / float-vs-int /
    bool-vs-int mismatches fail.
    """
    bad = []
    for c in sdf.columns:
        ka, kb = sdf[c].dtype.kind, odf[c].dtype.kind
        ka = "i" if ka == "u" else ka
        kb = "i" if kb == "u" else kb
        if ka != kb:
            bad.append(f"{c}: spark {sdf[c].dtype} vs oracle {odf[c].dtype}")
    return bad


def current_round() -> int:
    """Driver round = newest committed BENCH_r{N}.json + 1."""
    import glob
    import re

    ns = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(ns) + 1) if ns else 1


def prune_checks(path: str, registered: set[str]) -> None:
    """Drop audit rows for queries no longer registered (VERDICT_r04 7)."""
    if not os.path.exists(path):
        return
    with open(path) as f:
        lines = f.readlines()
    kept = [ln for ln in lines if json.loads(ln)["query"] in registered]
    if len(kept) != len(lines):
        with open(path, "w") as f:
            f.writelines(kept)
        print(f"pruned {len(lines) - len(kept)} stale CHECKS.jsonl rows")


def main() -> int:
    argv = sys.argv[1:]
    shard = None
    timeout = None
    resume = False
    skip: set[str] = set()
    while argv and argv[0].startswith("--"):
        if argv[0] == "--shard":
            k, n = argv[1].split("/")
            shard = (int(k) - 1, int(n))
            argv = argv[2:]
        elif argv[0] == "--timeout":
            # Per-query wall-clock budget (spark + duck). On expiry a
            # watchdog thread interrupts the DuckDB connection and
            # cancels all Spark jobs; the query is recorded TIMEOUT and
            # the battery continues — so a brute-force oracle that is
            # infeasible at a big rung self-triages instead of hanging
            # the whole shard (round 8, for the fixtures/sf10 battery).
            timeout = float(argv[1])
            argv = argv[2:]
        elif argv[0] == "--skip":
            skip = set(argv[1].split(","))
            argv = argv[2:]
        elif argv[0] == "--resume":
            # Skip queries whose LATEST CHECKS.jsonl row at this sf_dir is
            # already OK/rows-only — lets a long battery be re-launched
            # (different shard counts, after fixes, after kills) without
            # re-paying completed queries (round 8, the sf10 battery).
            resume = True
            argv = argv[1:]
        else:
            raise SystemExit(f"unknown flag {argv[0]}")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if resume:
        latest: dict[str, str] = {}
        try:
            with open(os.path.join(REPO, "CHECKS.jsonl")) as f:
                for line in f:
                    rec = json.loads(line)
                    if rec["sf_dir"].rstrip("/") == sf_dir.rstrip("/"):
                        latest[rec["query"]] = rec["status"]
        except FileNotFoundError:
            pass
        done = {q for q, st in latest.items() if st in ("OK", "rows-only")}
        skip |= done
        print(f"--resume: skipping {len(done)} already-green queries")

    import hashlib

    import __spark_entry__ as e
    from amorphous_mapreduce_spark import get_spark
    from perfbench.harness import release

    spark = get_spark(app_name="oracle-check")

    def fresh_con():
        c = duckdb.connect()
        # Parallel battery shards each spawn a full-width DuckDB by
        # default (32 threads x N shards thrashes the box); cap
        # per-process threads when running sharded (round 8).
        duck_threads = os.environ.get("SPARK_GRAFT_DUCK_THREADS")
        if duck_threads:
            c.execute(f"SET threads={int(duck_threads)}")
        # Parallel shards also each claim DuckDB's default 80%-of-RAM
        # memory budget; cap per-process so N shards + N Spark drivers
        # coexist on one box (round 8, the fixtures/sf10 battery).
        duck_mem = os.environ.get("SPARK_GRAFT_DUCK_MEM")
        if duck_mem:
            c.execute(f"SET memory_limit='{duck_mem}'")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        return c

    con = fresh_con()

    qs, oracles = e.queries(), e.oracle_sql()
    if shard is not None:
        k, n = shard
        qs = {
            name: fn
            for name, fn in qs.items()
            if int(hashlib.md5(name.encode()).hexdigest(), 16) % n == k
        }
        print(f"shard {k + 1}/{n}: {len(qs)} queries")
    failures = []
    rnd = current_round()
    prune_checks(os.path.join(REPO, "CHECKS.jsonl"), set(e.queries()))
    checks = open(os.path.join(REPO, "CHECKS.jsonl"), "a")

    def record(name: str, status: str, rows: int, ts: float, td: float) -> None:
        checks.write(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "status": status,
                    "rows": rows,
                    "round": rnd,
                    "spark_s": round(ts, 2),
                    "duck_s": round(td, 2),
                    "ts": datetime.datetime.now(datetime.timezone.utc)
                    .isoformat(timespec="seconds"),
                }
            )
            + "\n"
        )
        checks.flush()

    import threading

    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"  {name}: SKIPPED (--skip)")
            continue
        done = None
        timer = None
        if timeout is not None:
            done = threading.Event()

            def _watchdog(ev=done):
                if not ev.wait(timeout):
                    try:
                        con.interrupt()
                    except Exception:
                        pass
                    try:
                        spark.sparkContext.cancelAllJobs()
                    except Exception:
                        pass

            timer = threading.Thread(target=_watchdog, daemon=True)
            timer.start()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            t_spark = time.time() - t0
            if name not in oracles:
                print(
                    f"  {name}: rows-only ({len(sdf)} rows, {t_spark:.1f}s spark) [no oracle]"
                )
                record(name, "rows-only", len(sdf), t_spark, 0.0)
                if done is not None:
                    done.set()
                continue
            t0 = time.time()
            odf = con.sql(oracles[name]).df()
            t_duck = time.time() - t0
        except Exception as ex:
            el = time.time() - t0
            kind = (
                "TIMEOUT"
                if timeout is not None and el >= timeout * 0.95
                else f"ERR {type(ex).__name__}"
            )
            print(f"  {name}: {kind} after {el:.0f}s: {str(ex).splitlines()[0][:160]}")
            record(name, kind, -1, el, 0.0)
            failures.append(name)
            if done is not None:
                done.set()
            # A watchdog that fired during the SPARK phase leaves a
            # pending interrupt on the DuckDB connection that would kill
            # the NEXT query's oracle (measured: InterruptException on
            # the query after a timeout) — reconnect to clear it.
            con = fresh_con()
            continue
        finally:
            if done is not None:
                done.set()
            # a later query must not reuse a frame this one left cached
            release(spark)
        status = "OK"
        if len(sdf) != len(odf):
            status = f"ROWCOUNT {len(sdf)} vs {len(odf)}"
        elif sorted(sdf.columns) != sorted(odf.columns):
            status = f"SCHEMA {sorted(sdf.columns)} vs {sorted(odf.columns)}"
        elif dtype_mismatches(
            sdf.reindex(sorted(sdf.columns), axis=1),
            odf.reindex(sorted(odf.columns), axis=1),
        ):
            status = "DTYPE " + "; ".join(
                dtype_mismatches(
                    sdf.reindex(sorted(sdf.columns), axis=1),
                    odf.reindex(sorted(odf.columns), axis=1),
                )
            )
        else:
            a, b = canon(sdf), canon(odf)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            except AssertionError as ex:
                status = "VALUES " + str(ex).split("\n")[0]
                neq = (a != b) & ~(a.isna() & b.isna())
                bad_cols = [c for c in a.columns if neq[c].any()]
                for c in bad_cols[:3]:
                    i = neq[c].idxmax()
                    status += f" | {c}[{i}]: {a[c][i]!r} vs {b[c][i]!r}"
        ok = status == "OK"
        if not ok:
            failures.append(name)
        print(f"  {name}: {status} ({len(sdf)} rows, spark {t_spark:.1f}s, duck {t_duck:.1f}s)")
        record(name, status, len(sdf), t_spark, t_duck)

    n = len(only & set(qs)) if only else len(qs)
    print(f"\n{n - len(failures)}/{n} queries OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
