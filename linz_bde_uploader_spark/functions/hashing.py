"""Portable hash expressions.

Engine-independent hashing is the backbone of the dedup/fingerprint
operators: the SAME function must be computable by Spark (for the
distributed implementation) and by any ANSI-ish SQL engine (for
differential testing). We derive integers from md5 hex — md5 is
bit-identical everywhere:

  hash60(s)  = int(md5(s)[17:32], 16)   # 60 bits, fits signed int64
  hash32(s)  = int(md5(s)[24:32], 16)   # 32 bits

Spark:  conv(substring(md5(s), 18, 15), 16, 10) cast bigint
DuckDB: CAST('0x' || substring(md5(s), 18, 15) AS BIGINT)

MinHash permutations use the classic (a*h + b) mod P family with
P = 4294967311 (smallest prime > 2^32): h < 2^32 and a < 2^31 keep
a*h + b < 2^63 (no int64 overflow on either engine).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def hash60(col: Column) -> Column:
    """60-bit portable hash of a string column (JVM-side, no UDF)."""
    return F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast("bigint")


def hash32(col: Column) -> Column:
    """32-bit portable hash of a string column."""
    return F.conv(F.substring(F.md5(col), 25, 8), 16, 10).cast("bigint")


def sql_hash60(expr: str) -> str:
    """DuckDB/ANSI rendering of :func:`hash60` for oracle queries."""
    return f"CAST('0x' || substring(md5({expr}), 18, 15) AS BIGINT)"


def sql_hash32(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 25, 8) AS BIGINT)"


def hash64s(col: Column) -> Column:
    """Signed 64-bit portable hash: md5 chars 1-8 / 9-16 as hi / lo
    32-bit halves, combined in two's complement so the value spans
    the FULL signed-bigint domain (all 64 bit positions usable —
    SimHash needs real bits 32..63, which a 60-bit positive hash
    can't provide). hi*2^32 stays in range because hi is first
    re-centered to [-2^31, 2^31)."""
    hi = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(F.md5(col), 9, 8), 16, 10).cast("bigint")
    signed_hi = hi - F.when(hi >= F.lit(2**31), F.lit(2**32)) \
                      .otherwise(F.lit(0))
    return signed_hi * F.lit(2**32) + lo


def sql_hash64s(expr: str) -> str:
    """DuckDB rendering of :func:`hash64s` (bit-identical)."""
    h = f"CAST('0x' || substring(md5({expr}), 1, 8) AS BIGINT)"
    lo = f"CAST('0x' || substring(md5({expr}), 9, 8) AS BIGINT)"
    return (f"(({h} - CASE WHEN {h} >= 2147483648 THEN 4294967296 "
            f"ELSE 0 END) * 4294967296 + {lo})")


def minhash_perm(h: Column, perm_index: Column) -> Column:
    """Universal-hash permutation ``(a*h + b) mod P`` with
    deterministic per-index coefficients a = 2i+1, b = i*i + 7."""
    a = (F.lit(2) * perm_index + F.lit(1)).cast("bigint")
    b = (perm_index * perm_index + F.lit(7)).cast("bigint")
    return (a * h + b) % F.lit(MINHASH_PRIME)
