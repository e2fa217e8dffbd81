"""Driver-side replica of Spark's ``xxhash64`` (XXH64, seed 42) so query
planning can compute partition keys WITHOUT launching a Spark job.

The segment layout buckets terms with ``pmod(xxhash64(term), n_buckets)``
(build.build_segments).
At query time the engine needs the bucket ids of a handful of query terms
to drive parquet partition pruning; paying a full Spark job (collect) for
~10 string hashes added ~0.7 s of fixed latency to EVERY index-backed
positional query. Spark's ``xxhash64`` on a string column is standard
XXH64 over the UTF-8 bytes with seed 42 (org.apache.spark.sql.catalyst.
expressions.XxHash64 → XXH64.hashUnsafeBytes), so a faithful pure-Python
XXH64 gives bit-identical buckets driver-side.

Equality with the JVM implementation is pinned by tests/test_hashing.py
(direct comparison against F.xxhash64 over boundary lengths, unicode, and
the whole fixture vocabulary) — if Spark ever changed the hash, the build
layout itself would change with it, and those tests would fail loudly.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge_round(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _M64


def xxhash64(data: bytes | str, seed: int = 42) -> int:
    """XXH64 of ``data`` with Spark's default seed 42, returned as a SIGNED
    64-bit int — exactly what ``F.xxhash64(col)`` yields for a string/binary
    column (strings are hashed as their UTF-8 bytes)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int) -> int:
    """The partition bucket of ``term`` under the engine's layout rule —
    driver-side twin of ``pmod(xxhash64(term), n_buckets)`` (Java pmod:
    Python's % is already non-negative for a positive modulus)."""
    return xxhash64(term) % n_buckets
