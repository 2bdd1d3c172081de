"""Hilbert space-filling curve index — pure integer SQL, both engines.

Z-order (Morton) interleaving is cheap but has long "seams": adjacent
curve positions can be far apart in space, so shard bounding boxes stay
larger than necessary.  The Hilbert curve removes the seams (every step
is a unit step — verified exhaustively for the 256x256 grid in
tests/test_hilbert_layout.py), which is why Delta/Iceberg offer
OPTIMIZE ... BY HILBERT beside Z-order.

This builder emits the classic bit-by-bit xy2d transform (quadrant
digit + rotate/reflect) as ``n_bits`` chained SELECT rounds of integer
div/mod/CASE arithmetic — no bitwise operators, so the same generated
text is valid for Spark SQL (``div``) and DuckDB (``//``).  Each round
reads only the previous round's (hx, hy, hd) columns, keeping the
expression tree linear (the CLAUDE.md scalar-reuse gotcha: nesting all
rounds into one expression doubles the tree per round).

Reference tie-in: G3 tiling / layout mapping (src/outer_product.rs
closest_factor grid walk) — a deterministic index-space transform.
"""

from __future__ import annotations

from typing import TypedDict


class HilbertRound(TypedDict):
    hx: str
    hy: str
    hd: str


def hilbert_rounds(n_bits: int, intdiv: str) -> list[HilbertRound]:
    """Per-round (hx, hy, hd) replacement expressions for xy2d on the
    2^n_bits grid.  Apply round i's three expressions simultaneously
    (they all reference round i-1's columns)."""
    n = 1 << n_bits
    rounds: list[HilbertRound] = []
    for i in range(n_bits):
        s = n >> (i + 1)
        rx = f"((hx {intdiv} {s}) % 2)"
        ry = f"((hy {intdiv} {s}) % 2)"
        quad = f"(CASE WHEN {rx} = 0 THEN {ry} ELSE 3 - {ry} END)"
        rounds.append(
            HilbertRound(
                hd=f"(hd + {s * s} * {quad})",
                hx=(
                    f"(CASE WHEN {ry} = 1 THEN hx"
                    f" WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END)"
                ),
                hy=(
                    f"(CASE WHEN {ry} = 1 THEN hy"
                    f" WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END)"
                ),
            )
        )
    return rounds


def hilbert_cte_chain(n_bits: int, passthrough: str) -> tuple[str, str]:
    """DuckDB chained-CTE text computing hd from (hx, hy) in CTE ``pts``
    (which must expose hx, hy, hd=0 and the passthrough columns).
    Returns (cte_sql_fragment, final_cte_name)."""
    rounds = hilbert_rounds(n_bits, "//")
    parts = []
    prev = "pts"
    for i, r in enumerate(rounds):
        name = f"hb0{i + 1}"
        parts.append(
            f", {name} AS (SELECT {passthrough}, {r['hx']} AS hx,"
            f" {r['hy']} AS hy, {r['hd']} AS hd FROM {prev})"
        )
        prev = name
    return "".join(parts), prev
