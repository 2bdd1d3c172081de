"""The benchmark's workloads: a query list and an input scale each.

``scale`` multiplies the sf0.1 row counts of ``tools/make_fixtures.py``
(1.0 = sf0.1, 6e5 lineitem rows). The sizes are set by the run budget: a
run -- session start, warm-up pass, five timed passes, oracle check -- has
to fit in about a minute on a 4-CPU host, so each workload keeps the few
queries of its kind that make a warm pass of a few seconds.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    scale: float
    queries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    "scan_agg": Workload(
        scale=0.3,
        queries=(
            "q1_pricing_summary",
            "q3_shipping_priority",
            "events_sessionize",
            "wordcount",
            "gemm_coordinate",
            "gemm_block",
        ),
        why="Spark execution dominates (scan, codegen, shuffle, join), with the "
        "paper's word-count and outer-product GEMM pipelines; builders do little",
    ),
    "pair_search": Workload(
        scale=0.1,
        queries=(
            "minhash_lsh_pairs",
            "semdedup_manifest",
            "decontaminate",
        ),
        why="LLM-pipeline operators: candidate pairs from self-joins, Python "
        "and Arrow UDFs, the largest plans and the most shuffle",
    ),
}
