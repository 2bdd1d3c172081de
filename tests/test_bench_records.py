"""bench.py's record building, without Spark: one failing query costs one
row, and the stdout line keeps its key set."""

from __future__ import annotations

import json

from bench import REF_SPIN_RATE, bench_records

STDOUT_KEYS = {
    "metric",
    "value",
    "value_normalized",
    "cpu_load_factor",
    "q1_load_factor",
    "unit",
    "sf",
    "n_queries",
    "queries",
    "full_breakdown",
}


def _recs() -> list[dict]:
    # the shape perfbench.harness.run_pass gives each query
    return [
        {"query": "q1_pricing_summary", "latency_s": 1.9, "jobs": 2},
        {"query": "wordcount", "latency_s": 0.4004, "jobs": 1},
        {"query": "minhash_lsh_pairs", "jobs": 0, "error": "ValueError: bad band"},
        {"query": "recommend_parts", "latency_s": 2.5, "jobs": 7},
    ]


def test_failed_query_costs_one_row():
    full, line = bench_records(_recs(), REF_SPIN_RATE, 0.1)
    assert full["failed"] == {"minhash_lsh_pairs": "ValueError: bad band"}
    assert set(full["queries"]) == {
        "q1_pricing_summary",
        "wordcount",
        "recommend_parts",
    }
    assert full["n_queries"] == line["n_queries"] == 3
    assert full["value"] == line["value"] == round(1.9 + 0.4 + 2.5, 3)
    assert full["queries"]["wordcount"] == 0.4
    assert line["queries"] == {"q1_pricing_summary": 1.9, "recommend_parts": 2.5}
    # q1 took twice its idle reference: the contention normaliser halves value
    assert line["q1_load_factor"] == 2.0
    assert line["value_normalized"] == round(4.8 / 2.0, 3)
    assert line["cpu_load_factor"] == 1.0


def test_stdout_key_set_is_frozen():
    _, line = bench_records(_recs(), REF_SPIN_RATE / 2, 0.01)
    assert set(line) == STDOUT_KEYS
    assert line["full_breakdown"] == "BENCH_LOCAL.json"
    assert line["cpu_load_factor"] == 2.0
    json.dumps(line)  # one JSON line


def test_all_queries_failing_still_gives_a_record():
    recs = [{"query": "q1_pricing_summary", "jobs": 0, "error": "boom"}]
    full, line = bench_records(recs, REF_SPIN_RATE, None)
    assert line["value"] == 0 and line["n_queries"] == 0
    assert line["q1_load_factor"] is None
    assert line["value_normalized"] == 0
    assert full["failed"] == {"q1_pricing_summary": "boom"}
