"""Sources/sinks: the engine's scan layer.

The reference's only sources are a line-oriented text file scan
(src/word_count.rs:73-88) and conceptual memory TransOps
(src/outer_product.rs:184-192); its only sink is a JSON trace file
(src/main.rs:22-25). Here the scan layer is Spark's DataSource V2 —
parquet (columnar, predicate/column pushdown), text, json, csv — which
gives scan-level pruning the reference never had.
"""

from amorphous_mapreduce_spark.sources.tables import (
    TABLES,
    load_table,
    read_lines,
)

__all__ = ["TABLES", "load_table", "read_lines"]
