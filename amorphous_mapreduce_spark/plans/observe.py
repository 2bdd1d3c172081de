"""Inline pipeline instrumentation via Spark's Observation API.

``df.observe(Observation, metrics...)`` attaches accumulator-backed
metrics to a plan node: they are collected as a side effect of the
action that materializes the DataFrame — no second scan, no extra job —
which is the only affordable way to publish per-stage row counts and
violation tallies from a 100 TB pipeline run (a separate ``count()``
per stage would double every scan).

``observed_stage`` standardizes a pipeline-stage contract: rows in, rows
whose ``flag_col`` failed, and an optional integer mass column (e.g.
token counts) — mirroring the reference's per-op trace counters
(src/op.rs:50-63 envelope fields) as live metrics instead of a post-hoc
log. No query or operator calls it yet; tests/test_observe.py pins its
counts against the collected rows and its plan against a second scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed_stage(
    df: DataFrame,
    name: str,
    flag_col: str | None = None,
    mass_col: str | None = None,
) -> tuple[DataFrame, Observation]:
    """Attach (n_rows [, n_flagged] [, total_mass]) metrics to ``df``.

    Returns the instrumented frame and the Observation; read
    ``observation.get`` AFTER an action has materialized the frame.
    """
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if flag_col is not None:
        metrics.append(
            F.sum(F.when(F.col(flag_col), 0).otherwise(1)).alias("n_flagged")
        )
    if mass_col is not None:
        metrics.append(F.sum(F.col(mass_col)).alias("total_mass"))
    return df.observe(obs, *metrics), obs
