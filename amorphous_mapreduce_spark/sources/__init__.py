"""Sources: the engine's scan layer.

The reference's only sources are a line-oriented text file scan
(src/word_count.rs:73-88) and conceptual memory TransOps
(src/outer_product.rs:184-192); its only sink is a JSON trace file
(src/main.rs:22-25). Here the scan layer is Spark's DataSource V2 over
the fixture's parquet tables (columnar, predicate/column pushdown), the
line-file text scan and a synthetic generator source (``generator``),
which gives scan-level pruning the reference never had. Queries return
DataFrames; writing them out is the caller's ``DataFrameWriter`` call.
"""

from amorphous_mapreduce_spark.sources.tables import (
    TABLES,
    load_table,
    read_lines,
)

__all__ = ["TABLES", "load_table", "read_lines"]
