"""Cross-engine-portable expressions: a 60-bit hash and floor rounding.

The dedup/fingerprint kernels default to `xxhash64` (fastest JVM-side hash,
the 100 TB path). The driver's DuckDB oracle cannot evaluate xxhash64, so
the correctness queries use this md5-derived hash instead: the first 15 hex
chars of md5 parsed as an integer — 60 bits, always positive, bit-identical
in Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
(`('0x' || substr(md5(x),1,15))::BIGINT`). md5 is standardized, so both
engines agree byte-for-byte on any UTF-8 string.

Same distribution quality as xxhash64 for bucketing purposes; ~2-3× slower
per call (md5 vs xxh3) — fine for oracle-checked fidelity runs, not the
default for scale runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def phash64(col: Column) -> Column:
    """60-bit positive hash usable verbatim wherever xxhash64 is."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def phash64_sql(expr: str) -> str:
    """The DuckDB twin of `phash64` over a SQL expression string."""
    return f"('0x' || substr(md5(({expr})::VARCHAR),1,15))::BIGINT"


def floor_round(c: Column | str, n: int = 2) -> Column:
    """Round to `n` decimals as floor(x*10^n + 0.5)/10^n: the SAME float ops
    on Spark and DuckDB (the oracle twins spell it out in SQL), unlike
    round(), whose half-up tie handling diverges at double-representation
    boundaries (~1/5k values)."""
    m = int(10**n)
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * m + F.lit(0.5)) / m
