"""Cross-engine deterministic scalar helpers.

The reference's scalar surface is C-level parsing + modular hashing +
minhash ``(a*x+b) mod p`` (/root/reference/util/minhash.cpp:30-45).
Ours must additionally be reproducible across engines — every hash
used by a correctness-checked operator is md5-derived, so Spark and
a SQL oracle (DuckDB) compute bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark-side md5-derived 32-bit unsigned hash (fits in a BIGINT).
# DuckDB equivalent: (('0x' || substr(md5(x), 1, 8))::BIGINT)


def h32(col: Column | str) -> Column:
    """First 32 bits of md5(col) as a non-negative BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """The DuckDB-side rendering of :func:`h32` (ANSI-ish)."""
    return f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT)"

