"""Stable 64-bit hashing, oracle-side.

The engine's term/shingle hashing runs JVM-side via
``pyspark.sql.functions.xxhash64`` (whole-stage codegen, no Python in
the hot path).  The pytest oracle needs the *same* hash on the driver,
so this module provides a pure-Python XXH64 implementation matching
Spark's semantics (seed 42; strings hashed as UTF-8 bytes; longs hashed
via the 8-byte fast path; multi-argument calls chain the previous hash
as the next seed).  Verified bit-identical against Spark in
tests/test_common.py::test_xxhash64_matches_spark.

Reference analogue: the stable content/URL seahash used for dedup and
identity (/root/reference/src/reddit_dump.rs:223-231,
/root/reference/src/dump_processor.rs:110-115) — same role, public
xxHash algorithm instead.
"""

from __future__ import annotations

_MASK = 0xFFFFFFFFFFFFFFFF
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_DEFAULT_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return ((h * _P1) + _P4) & _MASK


def xxh64_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 over a byte string (unsigned result)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _MASK
        h = ((_rotl(h, 23) * _P2) + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    return _avalanche(h)


def xxh64_long(value: int, seed: int) -> int:
    """XXH64 fast path for a single 64-bit value — Spark hashes
    integral columns this way (not as 8 bytes through the generic
    path's length counter semantics differ: Spark's hashLong)."""
    h = (seed + _P5 + 8) & _MASK
    h ^= _round(0, value & _MASK)
    h = ((_rotl(h, 27) * _P1) + _P4) & _MASK
    return _avalanche(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def xxhash64_str(s: str, seed: int = SPARK_DEFAULT_SEED) -> int:
    """Spark-compatible ``xxhash64(string_col)``: XXH64 of UTF-8 bytes,
    seed 42, returned as signed int64."""
    return _to_signed(xxh64_bytes(s.encode("utf-8"), seed))


def xxhash64_str_long(s: str, v: int, seed: int = SPARK_DEFAULT_SEED) -> int:
    """Spark-compatible ``xxhash64(string_col, long_col)``: chained —
    the hash of the first argument becomes the seed for the second."""
    h1 = xxh64_bytes(s.encode("utf-8"), seed)
    return _to_signed(xxh64_long(v & _MASK, h1))


def term_hash(token: str) -> int:
    """The engine's stable 64-bit term id (signed, Spark-compatible)."""
    return xxhash64_str(token)
