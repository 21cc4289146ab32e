"""Z-order (Morton) interleave as shared SQL text.

One generator emits the identical formula for Spark (`div=' DIV '`) and
DuckDB (`div=' // '`) -- unrolled with literal powers of two so neither
engine needs variable bit shifts, and bit-for-bit equal on non-negative
inputs (where truncating and flooring integer division agree).

Used by plans/analytics8.zorder_layout (the locality report + oracle).
"""

from __future__ import annotations

ZORDER_BITS = 16


def zkey_sql(x: str, y: str, div: str, *, bits: int = ZORDER_BITS) -> str:
    """Morton interleave of two ``bits``-bit non-negative ints: bit i of
    x lands at position 2i, of y at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x}){div}{1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({y}){div}{1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"
