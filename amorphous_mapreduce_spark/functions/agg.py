"""Exact (engine-portable) aggregation helpers.

Problem (SURVEY.md §7 "What's hard"): double sums are order-dependent, and
Spark and the DuckDB oracle sum in different orders, so value hashes would
diverge. Fix: accumulate in DECIMAL — decimal addition is associative and
exact — then cast the final value back to double. The double->decimal cast
of each input is unambiguous because the fixture doubles approximate
two-decimal values (distance ~1e-13, never at a rounding boundary).

Products of measures are computed *in decimal* (cast each factor first) so
both engines derive the identical exact decimal before summing. Precisions
are kept small (12,2) so DuckDB's decimal-multiply widening stays under its
38-digit cap.

This is also the right 100 TB posture: decimal HashAggregate is still
JVM-side whole-stage-codegen with map-side partial aggregation; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(12,2)"


def dec(col: Column | str, typ: str = DEC) -> Column:
    """Cast a measure to exact decimal."""
    return (F.col(col) if isinstance(col, str) else col).cast(typ)


def dsum(col: Column | str) -> Column:
    """Order-insensitive exact sum of a double measure, returned as double."""
    return F.sum(dec(col)).cast("double")


def dsum_expr(expr: Column) -> Column:
    """Exact sum of an already-decimal expression, returned as double."""
    return F.sum(expr).cast("double")


def davg(col: Column | str) -> Column:
    """Exact-sum-based average: identical double division on both engines."""
    return dsum(col) / F.count(F.lit(1))


def dsum_scaled(expr: Column, scale: int = 6) -> Column:
    """Exact decimal sum returned as double via an exact scaled BIGINT.

    The plain decimal->double cast is correctly rounded on Spark but
    DOUBLE-ROUNDED in DuckDB once the sum's scaled integer exceeds 2^52
    (DuckDB casts the hugeint payload to double FIRST, then applies the
    scale — two roundings; caught by the sf1 battery on
    q1_pricing_summary's sum_charge). Routing BOTH engines through
    CAST(FLOOR(sum * 10^s) AS BIGINT) -> double -> / 10^s performs the
    identical two-step rounding, engine-portable while the scaled value
    fits int64 (~9.2e18 — sf ~300 for money sums).

    PRECONDITION: ``expr``'s decimal scale must be <= ``scale`` so that
    sum * 10^s is an exact integer (then FLOOR is the identity). The
    FLOOR guards the violated case: without it, Spark's decimal->long
    cast TRUNCATES where DuckDB's decimal->BIGINT cast ROUNDS — a silent
    cross-engine divergence (ADVICE_r06). FLOOR (round toward -inf) is
    defined identically on both engines for every input."""
    m = 10**scale
    return (
        F.floor(F.sum(expr) * F.lit(m)).cast("long").cast("double")
        / F.lit(float(m))
    )

