"""Cross-engine deterministic hashing.

Every probabilistic operator in ext/ (MinHash, SimHash, LSH planes) is
built on ONE primitive: a 60-bit integer hash both Spark and ANSI-SQL
engines compute identically — the first 15 hex chars of md5 parsed as an
integer. 60 bits (not 64) so the value always fits a signed BIGINT in
any engine. This is what makes the "probabilistic" dedup operators
oracle-checkable: given fixed seeds, the entire pipeline is exact
integer arithmetic with bit-identical results everywhere.

Spark's own hash()/xxhash64() are faster but engine-specific; swap them
in via ``fast=True`` when oracle parity is not needed (production path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus for MinHash permutations. a*h+b stays
# under 2^62 (a < 2^31, h' < 2^31), so the arithmetic never overflows a
# signed 64-bit integer in either engine.
MINHASH_P = 2_147_483_647


def hash60(c: Column | str, *, fast: bool = False) -> Column:
    """60-bit deterministic hash of a string column.

    ``fast=False`` (default): md5-based, bit-identical in any engine —
    use wherever results are oracle-compared.
    ``fast=True``: xxhash64 (JVM, no md5 cost) — production path when
    cross-engine parity is irrelevant; masked to 60 bits so downstream
    bit math is identical in range.
    """
    col = F.col(c) if isinstance(c, str) else c
    if fast:
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 60) - 1))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_seeds(k: int) -> list[tuple[int, int]]:
    """k fixed (a, b) permutation seeds for MinHash, generated by a tiny
    LCG so Spark builders and oracle SQL share the exact same literals.
    a is forced odd (invertible-ish mod 2^31-1), both bounded < 2^31."""
    seeds = []
    x = 88172645463325252  # xorshift64 state (fixed)
    for _ in range(k):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        a = (x % (MINHASH_P - 2)) + 1
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
        b = x % MINHASH_P
        seeds.append((a | 1, b))
    return seeds


def hash60_py(s: str) -> int:
    """Driver/worker-side Python twin of :func:`hash60` — same md5-prefix
    integer, used by the Arrow-batched (mapInPandas) operator stages.
    ASCII-identical to the JVM expression; any unicode divergence would
    surface as an oracle hash mismatch, not silently."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
