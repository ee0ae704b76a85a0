"""Portable deterministic hashing shared by Spark queries and DuckDB oracles.

Both engines must derive the *same* integer from the same string so that
minhash permutations, simhash bit votes, LSH bucket ids, and synthetic
dimension keys hash-match across engines. We standardize on:

    Spark : CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT)
    DuckDB: CAST(('0x' || substr(md5(x), 1, 8))::UBIGINT AS BIGINT)

i.e. the first 32 bits of md5 as an unsigned int — md5 is identical
everywhere, and 32 bits keeps every downstream (a*x+b) % p multiply
inside BIGINT range without overflow.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: multiplies of 32-bit values by small constants
# stay < 2^63, so modular arithmetic is exact in BIGINT on both engines.
MINHASH_PRIME = 2_147_483_647


def md5_u32(col: Column | str) -> Column:
    """First 32 bits of md5 as BIGINT (Spark side of the portable hash)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def md5_u32_duckdb(expr: str) -> str:
    """DuckDB-side twin of ``md5_u32`` — used when building oracle SQL."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8))::UBIGINT AS BIGINT)"


def perm_params(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n minhash permutations.

    Derived from a fixed seed sequence (no RNG at runtime — both the
    Spark query and the DuckDB oracle embed the same literals).
    """
    params = []
    a, b = 1103515245, 12345  # classic LCG constants, iterated
    for _ in range(n):
        a = (a * 1103515245 + 12345) % MINHASH_PRIME
        b = (b * 1103515245 + 54321) % MINHASH_PRIME
        aa = a | 1
        # a ≡ 0 (mod p) would make the permutation CONSTANT (x*0+b = b
        # for every input), silently inflating jaccard estimates. The
        # draw a = p-1 is the one value |1 maps onto p itself; remap it
        # to 1 (the identity multiplier — still a proper permutation).
        # No draw in the first 4096 params hits this, so every embedded
        # oracle literal is unchanged; the guard is for wider n.
        if aa % MINHASH_PRIME == 0:
            aa = 1
        params.append((aa, b))
    return params
