"""Determinism audit: every query run twice must match itself exactly.

A single oracle pass can coincidentally agree while a query is still
nondeterministic (e.g. unordered collect_list, float agg order, RNG).
This tool re-executes each registered query in the same session and
compares canonicalised results bit-for-bit.

Usage: python tools/check_determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_oracles import canon  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from amorphous_mapreduce_spark import get_spark
    from perfbench.harness import release

    spark = get_spark(app_name="determinism-check")
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        # released after each run, so the second run cannot reuse the
        # first one's cached frames
        a = canon(fn(spark, sf_dir).toPandas())
        release(spark)
        b = canon(fn(spark, sf_dir).toPandas())
        release(spark)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=True)
            print(f"  {name}: deterministic ({len(a)} rows)")
        except AssertionError as ex:
            failures.append(name)
            print(f"  {name}: NONDETERMINISTIC — {str(ex).splitlines()[0]}")
    print(f"\n{len(failures)} nondeterministic queries" if failures else "\nall deterministic")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
