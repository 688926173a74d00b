"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` expression.

Implements the public XXH64 algorithm (Yann Collet's xxHash spec,
https://github.com/Cyan4973/xxHash) with Spark's per-type dispatch
(int → 4-byte specialization, long → 8-byte specialization, string →
UTF-8 bytes) and Spark's multi-argument chaining rule: the hash of
argument i becomes the seed for argument i+1; NULL arguments are
skipped. Default seed 42, result exposed as a signed 64-bit long —
exactly the column value Spark produces.

Used by the oracle pyrefs (see package docstring) and by the lake's
driver-side key math (bucket of a key, delta-file bloom build and probe),
which must land exactly where the JVM expression put each key.
"""

from __future__ import annotations

import struct

from pyspark.sql import types as T

_M64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def hash_int(value: int, seed: int) -> int:
    """Spark XXH64.hashInt — 4-byte (IntegerType) specialization."""
    h = (seed + _P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M64
    h = (_rotl(h, 23) * _P2 + _P3) & _M64
    return _fmix(h)


def hash_long(value: int, seed: int) -> int:
    """Spark XXH64.hashLong — 8-byte (LongType) specialization."""
    h = (seed + _P5 + 8) & _M64
    k1 = (_rotl((value & _M64) * _P2 & _M64, 31) * _P1) & _M64
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M64
    return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """Canonical XXH64 over a byte string (StringType/BinaryType path)."""
    length = len(data)
    off = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while off + 32 <= length:
            w1, w2, w3, w4 = struct.unpack_from("<QQQQ", data, off)
            v1 = (_rotl((v1 + w1 * _P2) & _M64, 31) * _P1) & _M64
            v2 = (_rotl((v2 + w2 * _P2) & _M64, 31) * _P1) & _M64
            v3 = (_rotl((v3 + w3 * _P2) & _M64, 31) * _P1) & _M64
            v4 = (_rotl((v4 + w4 * _P2) & _M64, 31) * _P1) & _M64
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (h * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + length) & _M64
    while off + 8 <= length:
        (w,) = struct.unpack_from("<Q", data, off)
        h ^= (_rotl((w * _P2) & _M64, 31) * _P1) & _M64
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        off += 8
    if off + 4 <= length:
        (w,) = struct.unpack_from("<I", data, off)
        h ^= (w * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        off += 4
    while off < length:
        h ^= (data[off] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        off += 1
    return _fmix(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def spark_xxhash64(*args) -> int:
    """``F.xxhash64(*cols)`` equivalent. Each arg is a (kind, value) pair
    with kind in {'int','long','str','bytes'}; a bare python value maps
    str→'str', bytes→'bytes', int→'int' (PySpark ``F.lit(i)`` defaults to
    IntegerType). Pass ('long', v) explicitly for LongType columns.
    None values are skipped, matching the expression's null rule."""
    h = SPARK_SEED
    for a in args:
        kind, value = a if isinstance(a, tuple) else (
            "str" if isinstance(a, str) else "bytes" if isinstance(a, (bytes, bytearray)) else "int",
            a,
        )
        if value is None:
            continue
        if kind == "int":
            h = hash_int(int(value), h)
        elif kind == "long":
            h = hash_long(int(value), h)
        elif kind == "str":
            h = hash_bytes(str(value).encode("utf-8"), h)
        elif kind == "bytes":
            h = hash_bytes(bytes(value), h)
        else:
            raise ValueError(f"unknown kind {kind!r}")
    return _to_signed(h)


# Spark's per-type xxhash64 dispatch for the key column types the lake
# buckets on: byte/short/int columns take the 4-byte hashInt, bigint the
# 8-byte hashLong, strings their UTF-8 bytes.
_KIND_BY_TYPE = {
    T.ByteType: "int", T.ShortType: "int", T.IntegerType: "int",
    T.LongType: "long", T.StringType: "str",
}


def xxh64_arg(value, data_type: T.DataType) -> tuple[str, object]:
    """The :func:`spark_xxhash64` argument that hashes ``value`` exactly
    as ``F.xxhash64`` hashes it in a column of ``data_type``. The kind
    comes from the column's declared type, never from the Python value:
    an int32 key and an int64 key with the same value hash differently.
    Raises TypeError for other column types, and for a value that cannot
    live in the column (a bool, or a str for an integral key)."""
    kind = _KIND_BY_TYPE.get(type(data_type))
    if kind is None:
        raise TypeError(f"unsupported key type {data_type.simpleString()}")
    if isinstance(value, bool) or not isinstance(value, str if kind == "str" else int):
        raise TypeError(
            f"{type(value).__name__} key for a {data_type.simpleString()} column")
    return kind, value
