"""Hex-prefix → integer: the one cross-engine formula behind every salted
draw, hash bucket and md5-derived hash of the query surface.

A run of lowercase hex chars (an md5 digest or a slice of one) is read as
a big-endian unsigned integer. Both engines give the same value:

- Spark: ``conv()`` on ONE substring — one md5 evaluation per row. The
  strpos-arithmetic form spliced the md5 into one term per hex char and
  Catalyst does not common-subexpression-eliminate the repeats: the md5
  ran 8x per token (6.7x slower on winnowing, 4.6x on SimHash).
- DuckDB: strpos arithmetic, because DuckDB has no ``conv()``; explicit
  bigint casts so the 16^7 factors cannot overflow 32-bit ints.

Oracles and queries build the term here and nowhere else.
"""

from __future__ import annotations

_HEX = "0123456789abcdef"


def hex_int_spark(hex_expr: str, n_hex: int, start: int = 1) -> str:
    """Spark SQL: ``n_hex`` hex chars of ``hex_expr`` from 1-based
    position ``start`` → bigint."""
    return f"cast(conv(substring({hex_expr}, {start}, {n_hex}), 16, 10) as bigint)"


def md5_int_spark(inner: str, n_hex: int) -> str:
    """Spark SQL: first ``n_hex`` hex chars of md5(inner) → bigint."""
    return hex_int_spark(f"md5({inner})", n_hex)


def hex_int_duck(hex_expr: str, n_hex: int, start: int = 1) -> str:
    """DuckDB twin of hex_int_spark: the same value by strpos arithmetic."""
    parts = [
        f"(CAST(strpos('{_HEX}', substring({hex_expr}, {start + k}, 1)) AS BIGINT) - 1)"
        f" * {16 ** (n_hex - 1 - k)}"
        for k in range(n_hex)
    ]
    return "(" + " + ".join(parts) + ")"
