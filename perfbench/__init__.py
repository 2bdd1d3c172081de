"""The repository's benchmark: three closed-loop workloads over the query registry.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
prints one JSON line; see perfbench/README.md for the metrics and the notes.
"""
