"""LSN codec helpers — C6 (SURVEY.md §2.8).

The reference's LSN is a 16-byte binary rendered as 32 hex chars with
unsigned lexicographic order and big-integer increment
(``Lsn.java:62-102, 173-181``).  Our engine keys on monotonic BIGINTs;
these helpers convert between the two representations, preserving order:
a zero-padded hex string of a non-negative bigint sorts identically to
the number.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: Hex width of the rendered LSN (the reference uses 32; 16 covers a
#: 64-bit LSN and keeps the same ordering property).
LSN_HEX_WIDTH = 16


def lsn_to_hex(col: Column, width: int = LSN_HEX_WIDTH) -> Column:
    """bigint -> zero-padded lowercase hex string (order-preserving)."""
    return F.lpad(F.lower(F.hex(col)), width, "0")


def hex_to_lsn(col: Column) -> Column:
    """hex string -> bigint (inverse of lsn_to_hex)."""
    return F.conv(col, 16, 10).cast("bigint")


def lsn_increment(col: Column) -> Column:
    """``Lsn.increment()``: position immediately after this one."""
    return col + F.lit(1)
