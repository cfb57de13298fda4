"""Portable hash primitives shared by dedup / similarity / text operators.

Everything here is chosen so a DuckDB oracle can reproduce the value bit-for-bit:
``md5`` is identical across engines, and a 60-bit integer hash is derived from
the first 15 hex chars (Spark ``conv(_,16,10)`` ≡ DuckDB ``CAST('0x'||_ AS
BIGINT)``). Native engine hashes (Spark xxhash64 / DuckDB hash) are NOT
cross-engine stable, so we avoid them in any oracled output. All JVM-side
built-ins — no UDFs in these paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64(c: Column) -> Column:
    """Deterministic 60-bit positive integer hash of a string column."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def hash64_sql(expr: str) -> str:
    """DuckDB rendering of :func:`hash64` for oracle SQL strings."""
    return f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"
