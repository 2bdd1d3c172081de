"""User-defined function surface: scalar / grouped-agg / table functions.

The reference's extension point is OpTrait (src/op.rs:9-12): any struct
with format/dump can join the op list. The Spark-native equivalents are
the three UDF classes demonstrated here (plus the grouped-map
applyInPandas in operators.gemm and mapInPandas in operators.multimodal):

- scalar pandas UDF (iterator form):
  operators.arrow_kernels.token_count_iter_udf;
- grouped-agg pandas UDF (UDAF): ``geometric_mean()``;
- Python UDTF (table function): ``sentence_splitter()``.

Decorated UDFs need an active SparkSession, so these are lazy factories
(importable without a session; driver scripts import this module early).
"""

from __future__ import annotations

import pandas as pd


def geometric_mean():
    """Grouped-aggregate pandas UDF (the PySpark UDAF surface):
    exp(mean(log(x))) over positive values of the group."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _gm(v: pd.Series) -> float:
        import numpy as np

        pos = v[v > 0]
        if len(pos) == 0:
            return float("nan")
        return float(np.exp(np.log(pos.astype("float64")).mean()))

    return _gm


class _SentenceSplitter:
    """One input text -> one row per sentence ('.', '!', '?' boundaries):
    the table-function analog of the reference's tokenise step."""

    def eval(self, text: str):
        import re

        if text is None:
            return
        for i, raw in enumerate(re.split(r"[.!?]+", text)):
            s = raw.strip()
            if s:
                yield i, s, len(s.split())


def sentence_splitter():
    """Python UDTF class, usable directly or via spark.udtf.register."""
    from pyspark.sql.functions import udtf

    return udtf(
        _SentenceSplitter, returnType="sent_idx int, sentence string, n_words int"
    )
