"""Vector math over array<float|double> columns — JVM-side, no UDFs.

These are the reference's CrossPOp/VecOp primitives (src/op.rs:108-163,
:66-106) as declarative column expressions: an element-wise multiply
(zip_with) followed by an ordered left-fold sum (aggregate). The fold is
sequential in array order and computed in double, so results are
bit-deterministic — required for oracle hash-matching and for stable top-k.

Staying in builtin higher-order functions keeps the hot path inside
whole-stage codegen; a pandas-UDF variant exists in operators.gemm for the
blocked path where np.dot's BLAS beats per-row expression eval.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Ordered-fold double dot product of two equal-length array columns."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm, same ordered-fold discipline as dot_product."""
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a||b|); NULL-safe only as far as the inputs are."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
