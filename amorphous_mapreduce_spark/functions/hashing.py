"""Deterministic, engine-portable hashing helpers.

Spark's builtin ``hash()`` (murmur3) has no DuckDB equivalent, so every
operator that must be oracle-checkable derives integers from MD5 hex
digests instead: ``conv(substr(md5(x), 1, 15), 16, 10)`` yields a
non-negative 60-bit integer identically computable in DuckDB as
``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``. MD5 is used as a
stable mixing function, not for security.

All hashing stays JVM-side (builtin md5/conv/substring — whole-stage
codegen), so this is the fast path even at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hex(col: Column | str) -> Column:
    """Lower-case 32-char MD5 hex digest of a string column."""
    return F.md5(F.col(col) if isinstance(col, str) else col)


def hex_hash64(col: Column | str) -> Column:
    """Non-negative 60-bit integer hash from the first 15 MD5 hex chars.

    DuckDB equivalent: ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    """
    return F.conv(F.substring(md5_hex(col), 1, 15), 16, 10).cast("long")
