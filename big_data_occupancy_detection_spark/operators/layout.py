"""Multi-dimensional data-layout operators (Z-order curve).

Range-sorted layout (``sources.sinks.write_range_sorted_parquet``) gives
file/row-group skipping on ONE leading column. When scans filter on two
independent dimensions (user AND time, key AND value), a linear sort
serves only the first; the classic fix is ordering by a space-filling
curve. ``zvalue16`` interleaves the low 16 bits of two dimensions into a
32-bit Morton (Z-order) key — pure Catalyst bit arithmetic (shifts/and/or,
whole-stage-codegen'd, no UDF) so the same expression is reproducible in
any engine for verification.

Files written in z-key order (``write_range_sorted_parquet`` on the key
column) carry tight min/max on BOTH raw dimensions, so a 2-D predicate
prunes most files at planning time instead of scanning the corpus. 16 bits
per dimension (65k cells/axis) is enough to make row-group stats
selective; beyond two dimensions, interleave more columns at fewer bits
each.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Magic-number bit spread: x16 → bits of x at even positions of a 32-bit
# word (Morton encoding; the constants are the standard interleave masks).
_SPREAD_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(col: Column) -> Column:
    x = col.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_MASKS:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zvalue16(x: Column | str, y: Column | str) -> Column:
    """Morton (Z-order) key from the low 16 bits of two integer columns:
    bit i of ``x`` lands at position 2i, bit i of ``y`` at 2i+1."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    return _spread16(cx).bitwiseOR(F.shiftleft(_spread16(cy), 1))


def zvalue16_sql(x_expr: str, y_expr: str) -> str:
    """The identical Morton key as portable ANSI SQL (DuckDB-runnable) —
    keeps layout keys oracle-verifiable byte-for-byte."""

    def spread(e: str) -> str:
        s = f"(CAST({e} AS BIGINT) & 65535)"
        for shift, mask in _SPREAD_MASKS:
            s = f"((({s} | ({s} << {shift})) & {mask}))"
        return s

    return f"({spread(x_expr)} | ({spread(y_expr)} << 1))"

