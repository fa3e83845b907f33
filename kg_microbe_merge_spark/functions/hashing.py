"""Portable deterministic hashing shared by Spark and the DuckDB oracle.

The approximate-dedup family (MinHash, SimHash, banded LSH) needs hash
values that BOTH engines can reproduce bit-for-bit, so the driver's
DuckDB gate can verify the full pipeline value-for-value instead of the
weaker rows-only check. ``xxhash64`` (Spark) has no DuckDB twin; ``md5``
exists in both. We derive a 60-bit non-negative integer from the first
15 hex chars of the md5 digest:

* Spark:  ``conv(substring(md5(x), 1, 15), 16, 10)`` cast to long
* DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``
* Python: ``int(hashlib.md5(x).hexdigest()[:15], 16)``

15 hex chars = 60 bits < 2^63, so the value is representable as a
signed BIGINT in both engines with no overflow/sign ambiguity. Seeded
variants append ``':<seed>'`` to the input before hashing.

Scale note: JVM md5 over short strings is a few × slower than xxhash64
but still tens of MB/s per core and fully inside whole-stage codegen —
hash cost is never the bottleneck next to the shuffle it feeds. Hot
paths that don't need oracle parity can pass ``F.xxhash64`` instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: divisor for mapping a 60-bit hash onto [0, 1)
HASH60_SPACE = 1 << 60


def hash60(col: Column) -> Column:
    """60-bit non-negative integer hash of a string column (md5-derived),
    reproducible in DuckDB via :func:`hash60_sql`."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_seeded(col: Column, seed: int | Column) -> Column:
    """Seeded 60-bit hash: hash60(x || ':' || seed). ``col`` may be any
    type castable to string (longs render as plain decimals in both
    engines)."""
    s = F.lit(seed) if isinstance(seed, int) else seed
    return hash60(F.concat_ws(":", col.cast("string"), s))


def hash60_sql(expr: str) -> str:
    """DuckDB twin of :func:`hash60` for an arbitrary SQL expression."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def hash60_py(value: str) -> int:
    """Python twin (for pandas-UDF code paths and tests)."""
    import hashlib

    return int(hashlib.md5(value.encode("utf-8")).hexdigest()[:15], 16)


# --- universal-hash slot family (MinHash) ---------------------------------
#
# K-slot MinHash needs K distinct hashes PER SHINGLE. K md5 calls per
# shingle is ~8× slower than the rest of the pipeline; the standard
# construction is a universal hash family over ONE base hash:
#     h_k(s) = (a_k · (s & 0x7FFFFFFF) + b_k) mod (2^31 − 1)
# with (a_k, b_k) deterministic md5-derived constants. All intermediate
# values fit in signed int64 (31-bit s × 31-bit a < 2^62), so both
# engines evaluate the identical exact integer expression — the DuckDB
# oracle inlines the same literals. Collision space 2^31 is ample for
# per-document shingle sets (P[slot collision] ≈ |S|²/2^31).

MERSENNE31 = (1 << 31) - 1


def universal_params(k: int, family: str = "minhash") -> tuple[int, int]:
    """Deterministic (a, b) for slot ``k``: a ∈ [1, p−1], b ∈ [0, p−1]."""
    a = hash60_py(f"{family}-a:{k}") % (MERSENNE31 - 1) + 1
    b = hash60_py(f"{family}-b:{k}") % MERSENNE31
    return a, b


def universal_slot(col: Column, k: int, family: str = "minhash") -> Column:
    """Spark expression for slot ``k`` of the universal family over a
    long column (low 31 bits used)."""
    a, b = universal_params(k, family)
    s = col.bitwiseAND(F.lit(0x7FFFFFFF))
    return (s * F.lit(a) + F.lit(b)) % F.lit(MERSENNE31)


def universal_slot_sql(expr: str, k: int, family: str = "minhash") -> str:
    """DuckDB twin of :func:`universal_slot`."""
    a, b = universal_params(k, family)
    return f"((({expr}) & 2147483647) * {a} + {b}) % 2147483647"
