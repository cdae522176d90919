"""Driver-side xxHash64 bit-compatible with Spark's ``F.xxhash64``.

The index (build/manifest.py ``build_index``) keys the tf table,
term_stats, and postings by ``xxhash64(term)`` instead of the term string
— the tf aggregation and the posting shuffle then run over fixed 8-byte
keys (measured −23% on the tokenize/agg stage at 1M docs, the build's
dominant memory-bandwidth consumer; SCALE.md §9). Query time, the driver
must map each query token to the SAME 64-bit value WITHOUT launching a
Spark job (single-query latency path), so this module reimplements the
exact function Spark evaluates.

What Spark computes (public source, so reproducible bit-for-bit):
``org.apache.spark.sql.catalyst.expressions.XxHash64`` applies the
XXH64 algorithm (Yann Collet's public xxHash spec) with **seed 42** to the
column value's byte representation — for ``StringType``, the UTF-8 bytes
(UTF8String's underlying buffer). Interpreting the result as a SIGNED
64-bit long gives Spark's output.

Pure-Python XXH64 below follows the public specification
(github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md). Parity with the
JVM expression is pinned by ``tests/test_hash_domain.py`` over
adversarial inputs (empty string, 1..64-byte lengths straddling every
stripe/remainder path, multi-byte UTF-8, long strings).
"""

from __future__ import annotations

_MASK = 0xFFFFFFFFFFFFFFFF
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_XXHASH64_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK
    acc = _rotl(acc, 31)
    return (acc * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _MASK


def xxhash64_bytes(data: bytes, seed: int = SPARK_XXHASH64_SEED) -> int:
    """XXH64(data, seed) → UNSIGNED 64-bit int (public xxHash spec)."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i <= n - 32:
            v1 = _round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8:i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16:i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24:i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i:i + 4], "little") * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def _to_signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def spark_xxhash64_str(s: str) -> int:
    """Bit-identical to ``F.xxhash64(string_col)``: XXH64 of the UTF-8
    bytes, seed 42, as a SIGNED 64-bit long."""
    return _to_signed(xxhash64_bytes(s.encode("utf-8")))


def spark_xxhash64_long(v: int) -> int:
    """Bit-identical to ``F.xxhash64(long_col)``: XXH64 of the value's
    8-byte little-endian representation, seed 42, signed."""
    return _to_signed(xxhash64_bytes(
        (v & _MASK).to_bytes(8, "little")))


_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def spark_murmur3_int(v: int, seed: int = 42) -> int:
    """Bit-identical to ``F.hash(int_col)``: Murmur3_x86_32 of one 4-byte
    int, seed 42, as a SIGNED 32-bit int. Spark's ``HashPartitioning``
    places a row in partition ``pmod(hash(keys), n)``, so this tells the
    driver which partition an int key lands in without running a job."""
    k = (v & _M32) * 0xCC9E2D51 & _M32
    k = _rotl32(k, 15) * 0x1B873593 & _M32
    h = _rotl32((seed & _M32) ^ k, 13)
    h = (h * 5 + 0xE6546B64) & _M32
    h ^= 4
    h ^= h >> 16
    h = h * 0x85EBCA6B & _M32
    h ^= h >> 13
    h = h * 0xC2B2AE35 & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h
