"""Pure-Python XXH64, used to recompute ``plans.checkpoint``'s bucket of a
conversation (``pmod(xxhash64(conv_id), n)``, Spark's seed 42) without Spark,
so the reference bucket counts do not come from the engine under test."""

from __future__ import annotations

import struct

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned 64-bit XXH64 digest of ``data``."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for a in v:
            h = (((h ^ _round(0, a)) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _round(0, lane), 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ ((lane * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def bucket_of(conv_id: str, n_buckets: int) -> int:
    """``pmod(xxhash64(conv_id), n_buckets)`` as Spark computes it."""
    h = xxh64(conv_id.encode("utf-8"))
    signed = h - (1 << 64) if h >= 1 << 63 else h
    return signed % n_buckets
