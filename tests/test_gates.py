"""No-Spark convention gates (VERDICT_r03 items 1, 9, 10).

Two rounds running, the final burst of commits shipped queries that were
never plan-audited (round 2: decayed_part_leaderboard et al.; round 3:
9 queries).  These gates make the slip a test failure instead of a
judge note:

- PLAN_AUDIT.json must cover every registered query with zero red flags,
  and every plan-audit ``ALLOW`` note must still be needed there.
- Every oracle SQL must EXPLAIN cleanly in DuckDB against the real
  table views (catches f-string salt typos — the bloom_fpr_sweep class
  of bug — in milliseconds, long before an 18-minute battery run).
- CHECKS.jsonl must hold an OK row at BOTH sf0.01 and sf0.1 for every
  registered query (round-3 convention; cdc_net_effect_compaction
  shipped with only the sf0.01 row).

All three run without a SparkSession in a few seconds.
"""

from __future__ import annotations

import json
import os

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _registry():
    from amorphous_mapreduce_spark.queries_registry import ORACLES, QUERIES

    return QUERIES, ORACLES


def test_plan_audit_covers_registry():
    QUERIES, _ = _registry()
    with open(os.path.join(REPO, "PLAN_AUDIT.json")) as f:
        audit = json.load(f)
    audited = {r["query"] for r in audit["results"]}
    missing = sorted(set(QUERIES) - audited)
    assert missing == [], (
        f"{len(missing)} registered queries missing from PLAN_AUDIT.json — "
        f"run `python tools/plan_audit.py` and commit: {missing}"
    )
    assert audit["n_red"] == 0, f"plan audit has {audit['n_red']} red flags"


def test_plan_audit_allowlist_is_not_stale():
    """An ``ALLOW`` note is needed only while its query's committed row
    has the flag and the maxRows proof leaves it unexplained; then the row
    carries the note as "<flag>: allowed — ...". A note whose flag is gone,
    or whose inputs Catalyst bounds, is stale."""
    from tools.plan_audit import ALLOW

    with open(os.path.join(REPO, "PLAN_AUDIT.json")) as f:
        rows = {r["query"]: r for r in json.load(f)["results"]}
    stale = sorted(
        f"{q}: {flag}"
        for q, notes in ALLOW.items()
        for flag in notes
        if flag not in rows.get(q, {}).get("flags", {})
        or not any(n.startswith(f"{flag}: allowed") for n in rows[q]["notes"])
    )
    assert stale == [], (
        "plan_audit ALLOW notes whose flag is absent from the query's "
        f"PLAN_AUDIT.json row or proven bounded there; delete them: {stale}"
    )


def test_every_oracle_explains_in_duckdb():
    sf_dir = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} missing")
    _, ORACLES = _registry()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = []
    for name, sql in ORACLES.items():
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as exc:  # noqa: BLE001 — report every parse failure
            bad.append(f"{name}: {type(exc).__name__}: {exc}")
    assert bad == [], "oracle SQL failed DuckDB EXPLAIN:\n" + "\n".join(bad)


def test_checks_jsonl_has_both_sfs():
    QUERIES, ORACLES = _registry()
    seen: dict[str, set[str]] = {}
    with open(os.path.join(REPO, "CHECKS.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            if rec["status"] in ("OK", "rows-only"):
                seen.setdefault(rec["query"], set()).add(
                    os.path.basename(rec["sf_dir"].rstrip("/"))
                )
    missing = {
        name: sorted({"sf0.01", "sf0.1"} - seen.get(name, set()))
        for name in QUERIES
        if {"sf0.01", "sf0.1"} - seen.get(name, set())
    }
    assert missing == {}, (
        "queries without OK CHECKS.jsonl rows at both sf0.01 and sf0.1 — "
        f"run tools/check_oracles.py at the missing SF: {missing}"
    )


def test_checks_jsonl_freshness():
    """No query's latest OK row may be older than 4 driver rounds
    (VERDICT_r04 item 6) — the sharded battery (`check_oracles.py
    --shard k/4`) must actually rotate through the whole registry.

    Rows written before round 5 carry no round field; they were all
    recorded in rounds <= 4, so they backfill as round 4 (every query
    had a green row in the round-4 close)."""
    import glob
    import re

    ns = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    current = (max(ns) + 1) if ns else 1
    QUERIES, _ = _registry()
    latest_ok: dict[str, int] = {}
    with open(os.path.join(REPO, "CHECKS.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            if rec["status"] in ("OK", "rows-only"):
                r = rec.get("round", 4)
                latest_ok[rec["query"]] = max(
                    latest_ok.get(rec["query"], 0), r
                )
    stale = {
        name: latest_ok.get(name, 0)
        for name in QUERIES
        if latest_ok.get(name, 0) < current - 4
    }
    assert stale == {}, (
        f"queries whose latest OK check is >4 rounds old (current round "
        f"{current}) — re-run their check_oracles shard: {stale}"
    )


def test_checks_jsonl_has_sf1():
    """Round-6 gate (VERDICT_r05 item 1): the full registry must carry
    an OK row at the sf1 fixture rung — the evidence class that caught
    the similarity_lsh_topk quadratic. fixtures/sf1 is gitignored
    (byte-reproducible via tools/make_fixtures.py), but the CHECKS rows
    are committed, so the gate runs everywhere."""
    QUERIES, _ = _registry()
    seen = set()
    with open(os.path.join(REPO, "CHECKS.jsonl")) as f:
        for line in f:
            rec = json.loads(line)
            if rec["status"] in ("OK", "rows-only") and rec["sf_dir"].rstrip(
                "/"
            ).endswith("sf1"):
                seen.add(rec["query"])
    missing = sorted(set(QUERIES) - seen)
    assert missing == [], (
        f"{len(missing)} queries without an OK CHECKS row at the sf1 rung — "
        "run `python tools/make_fixtures.py 10 fixtures/sf1` then "
        f"`python tools/check_oracles.py fixtures/sf1 ...`: {missing}"
    )
