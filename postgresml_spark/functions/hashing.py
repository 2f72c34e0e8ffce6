"""Driver-side twins of Spark SQL's `xxhash64` for strings and longs.

The served BM25 path needs `pmod(xxhash64(term), n_buckets)` for a
handful of query terms to prune partition listing — launching a Spark
job to hash 3 strings costs ~0.2 s of pure scheduling per query
(measured; guide §1.2: remove work before tuning it). XXH64 is a
public, stable algorithm (github.com/Cyan4973/xxHash spec); Spark's
`xxhash64(string)` is XXH64 over the UTF-8 bytes with seed 42.
Parity with the JVM implementation is pinned by a test hashing a
vocabulary sample through both paths.

`spark_xxhash64_long` is the twin of `xxhash64(<long column>)` (Spark's
`XXH64.hashLong`: XXH64 over the 8 little-endian bytes, seed 42). The
sharded served indexes use it to route a refreshed document to its
shard exactly as `serving._doc_shard` does in the Spark build plan.
"""

from __future__ import annotations

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned XXH64 of `data` (default seed 42 = Spark's)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        h = (_rotl(h ^ _round(0, k), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl(h ^ ((k * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64(s: str, seed: int = 42) -> int:
    """Signed 64-bit value equal to Spark SQL `xxhash64(s)`."""
    h = xxh64(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_pmod_xxhash64(s: str, n: int, seed: int = 42) -> int:
    """`pmod(xxhash64(s), n)` with Spark's non-negative pmod."""
    return spark_xxhash64(s, seed) % n


def spark_xxhash64_long(v, seed: int = 42):
    """Spark SQL `xxhash64(v)` for a long ``v``: a signed int for an
    int, an int64 array for an integer array (vectorized with wrapping
    uint64 arithmetic, the 8-byte case of `xxh64`)."""
    if not isinstance(v, np.ndarray):
        h = xxh64(int(v).to_bytes(8, "little", signed=True), seed)
        return h - (1 << 64) if h >= (1 << 63) else h
    u = np.uint64
    with np.errstate(over="ignore"):
        k = v.astype(np.int64).view(np.uint64) * u(_P2)
        k = ((k << u(31)) | (k >> u(33))) * u(_P1)
        h = (u((seed + _P5 + 8) & _M) ^ k)
        h = ((h << u(27)) | (h >> u(37))) * u(_P1) + u(_P4)
        h ^= h >> u(33)
        h *= u(_P2)
        h ^= h >> u(29)
        h *= u(_P3)
        h ^= h >> u(32)
    return h.view(np.int64)
