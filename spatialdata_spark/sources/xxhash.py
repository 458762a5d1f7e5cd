"""Pure-Python XXH64 (the public xxHash algorithm, Yann Collet's
spec at github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md).

Needed to stamp a Content_Checksum on the zstd chunks the zarr writer
emits (RFC 8878 §3.1.1: the low 32 bits of XXH64(content, seed=0)),
since pyarrow's libzstd writes frames without one.

Pinned in tests against the JVM reference implementation Spark itself
ships — ``F.xxhash64`` on a binary column hashes the raw bytes with
XXH64 (seed 42), so the pin is an independent, in-container
implementation of the same public algorithm, not an echo of this one.
"""

from __future__ import annotations

import struct

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _MASK, 31) * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _MASK


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` with ``seed`` as an unsigned 64-bit int."""
    data = bytes(data)
    n = len(data)
    seed &= _MASK
    pos = 0
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _MASK
        a2 = (seed + _P2) & _MASK
        a3 = seed
        a4 = (seed - _P1) & _MASK
        end = n - 32
        while pos <= end:
            l1, l2, l3, l4 = struct.unpack_from("<QQQQ", data, pos)
            a1 = _round(a1, l1)
            a2 = _round(a2, l2)
            a3 = _round(a3, l3)
            a4 = _round(a4, l4)
            pos += 32
        acc = (_rotl(a1, 1) + _rotl(a2, 7) + _rotl(a3, 12) + _rotl(a4, 18)) & _MASK
        for a in (a1, a2, a3, a4):
            acc = _merge_round(acc, a)
    else:
        acc = (seed + _P5) & _MASK
    acc = (acc + n) & _MASK
    while pos + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, pos)
        acc = (_rotl(acc ^ _round(0, lane), 27) * _P1 + _P4) & _MASK
        pos += 8
    if pos + 4 <= n:
        (lane32,) = struct.unpack_from("<I", data, pos)
        acc = (_rotl(acc ^ (lane32 * _P1 & _MASK), 23) * _P2 + _P3) & _MASK
        pos += 4
    while pos < n:
        acc = (_rotl(acc ^ (data[pos] * _P5 & _MASK), 11) * _P1) & _MASK
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _MASK
    acc ^= acc >> 29
    acc = (acc * _P3) & _MASK
    acc ^= acc >> 32
    return acc
