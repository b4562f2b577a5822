"""Deterministic cross-engine hashing primitives.

The dedup operators need hash functions that DuckDB can reproduce exactly
(the oracle runs the SAME pipeline in SQL), so instead of Spark's
``xxhash64``/``hash`` (engine-private algorithms) everything is built on
md5, which both engines ship:

    Spark : conv(substring(md5(s), 1, 11), 16, 10)  -> bigint  (44 bits)
    DuckDB: CAST('0x' || substr(md5(s), 1, 11) AS BIGINT)

44 bits keeps ``a * h + b`` inside int64 under ANSI overflow checking
(a < 2^18, h < 2^44 → product < 2^62).

MinHash: k=16 signatures from universal hashing
``(a_i * h + b_i) mod P`` with P = 2^61 - 1 (Mersenne prime), banded 4×4
for the LSH candidate join. Constants are generated once from a fixed seed
and templated into BOTH the Spark plan and the oracle SQL.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MD5_HEX_CHARS = 11  # 44 bits
MERSENNE_P = (1 << 61) - 1
NUM_HASHES = 16
BAND_SIZE = 4
NUM_BANDS = NUM_HASHES // BAND_SIZE

_rng = random.Random(42)
MINHASH_AB: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 18), _rng.randrange(0, 1 << 18))
    for _ in range(NUM_HASHES)
]


def md5_long(col: Column) -> Column:
    """44-bit integer hash of a string column, reproducible in DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, MD5_HEX_CHARS), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL computing the same 44-bit hash of ``expr``."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {MD5_HEX_CHARS})) AS BIGINT)"


def _universal_hash(a: int, b: int):
    """Single-arg lambda factory (PySpark infers HOF arity from the Python
    lambda's parameter count, so constants must be closed over, not
    defaulted)."""

    def f(h: Column) -> Column:
        return (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)

    return f


def minhash_signature(hashed_shingles: Column) -> Column:
    """Array of NUM_HASHES minhash values over an array<long> of shingle
    hashes, as ONE aggregate fold (round-11 optimization): the old form
    was NUM_HASHES independent ``array_min(transform(...))`` expressions
    — 16 passes over the shingle array, 16 temp arrays, and 16 separate
    evaluator trees to first-touch-JIT (the dominant slice of the bench's
    cold ``cache_build``). The fold makes one pass, updating all 16
    running minima per element against the constant-folded (a, b) table.
    Values are bit-identical for NON-EMPTY input — ``least`` chains are
    exactly ``array_min``, and ``(a*h+b) % P`` is the same ANSI-safe
    integer arithmetic (pinned by tests/test_round11_opt.py). Every call
    site filters ``size(hs) > 0`` first (empty sets can join no pair);
    an empty array would yield the MAX_LONG seeds where the old form
    gave nulls."""
    ab = F.array(
        *[
            F.struct(
                F.lit(a).cast("long").alias("a"),
                F.lit(b).cast("long").alias("b"),
            )
            for a, b in MINHASH_AB
        ]
    )
    seed = F.array_repeat(
        F.lit((1 << 63) - 1).cast("long"), NUM_HASHES
    )
    return F.aggregate(
        hashed_shingles,
        seed,
        lambda acc, h: F.zip_with(
            acc,
            ab,
            lambda m, c: F.least(
                m, (c["a"] * h + c["b"]) % F.lit(MERSENNE_P)
            ),
        ),
    )
