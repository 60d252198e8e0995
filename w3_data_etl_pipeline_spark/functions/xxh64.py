"""Spark-compatible xxHash64 in pure Python.

Two callers need Spark's bucket function,
``pmod(xxhash64(*keys), n_buckets)`` with Spark's seed-42 chained
column hashing (plans/laketable.py ``_bucket_expr``), without running
a Spark job: the streaming SINK (streaming/source.py,
LakeTableStreamWriter) assigns each row to its bucket on EXECUTORS,
where no SparkSession exists, and ``LakeTable.read_keys`` hashes its
lookup keys on the driver. A row hashed into
the wrong bucket silently duplicates its key (see _align_keys) and a
lookup hashed into the wrong bucket silently misses it, so this twin
must be BIT-EXACT with Spark's ``XxHash64`` expression:

* one column: ``xxh64(encoded, seed=42)``
* chained columns: each column's hash seeds the next
  (``hash = xxh64(col_i, seed=hash_prev)``), NULL columns skipped
* the encoding depends on the column's Spark TYPE, not on the Python
  value (an ``int`` key hashes differently from a ``bigint`` key of
  the same value), applied to the value's internal form
  (``DataType.toInternal``: days for dates, micros for timestamps):

  - boolean, byte, short, int, date: 4-byte little-endian int
    (``hashInt``; a boolean as 1/0)
  - bigint, timestamp, timestamp_ntz: 8-byte little-endian long
    (``hashLong``)
  - float / double: the IEEE bits as int / long, with ``-0.0``
    normalized to ``0.0`` and NaN to its canonical bits
  - decimal(p, s): the unscaled value as a long when p <= 18, else
    the unscaled value's minimal big-endian two's-complement bytes
    (``BigInteger.toByteArray``)
  - string: UTF-8 bytes; binary: the raw bytes

Parity is pytest-pinned against ``F.xxhash64`` for every one of these
types (tests/test_stream_sink.py) — the definitive oracle.
"""

from __future__ import annotations

import decimal
import struct

from pyspark.sql import types as T

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` with ``seed`` (unsigned result)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            (l1, l2, l3, l4) = struct.unpack_from("<QQQQ", data, i)
            v1, v2 = _round(v1, l1), _round(v2, l2)
            v3, v4 = _round(v3, l3), _round(v4, l4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        (k1,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


_INT4 = (T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.DateType)
_INT8 = (T.LongType, T.TimestampType, T.TimestampNTZType)
_DEC_CTX = decimal.Context(prec=80)


def _encode(v, dt: T.DataType) -> bytes:
    """The bytes Spark's XxHash64 feeds to XXH64 for one non-NULL
    value ``v`` (internal form) of Spark type ``dt``."""
    if isinstance(dt, _INT4):
        return struct.pack("<i", int(v))
    if isinstance(dt, _INT8):
        return struct.pack("<q", v)
    if isinstance(dt, T.FloatType):
        if v != v:
            return struct.pack("<I", 0x7FC00000)
        return struct.pack("<f", 0.0 if v == 0 else v)
    if isinstance(dt, T.DoubleType):
        if v != v:
            return struct.pack("<Q", 0x7FF8000000000000)
        return struct.pack("<d", 0.0 if v == 0 else v)
    if isinstance(dt, T.DecimalType):
        unscaled = int(
            decimal.Decimal(v)
            .scaleb(dt.scale, _DEC_CTX)
            .to_integral_value(decimal.ROUND_HALF_UP, _DEC_CTX)
        )
        if dt.precision <= 18:
            return struct.pack("<q", unscaled)
        bits = (unscaled if unscaled >= 0 else ~unscaled).bit_length()
        return unscaled.to_bytes(bits // 8 + 1, "big", signed=True)
    if isinstance(dt, T.StringType):
        return v.encode("utf-8")
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    raise TypeError(f"spark_xxhash64 does not support key type {dt.simpleString()}")


def spark_xxhash64(values, types, seed: int = 42) -> int:
    """Spark's ``xxhash64(col1, col2, ...)`` for one row: ``values``
    as Python returns them from Spark (dates, datetimes, Decimals,
    ...), ``types`` their columns' Spark DataTypes. Chained seeds,
    NULLs skipped, SIGNED 64-bit result."""
    h = seed & _M
    for v, dt in zip(values, types, strict=True):
        if v is None:
            continue
        try:
            enc = _encode(dt.toInternal(v), dt)
        except (struct.error, AttributeError, ValueError, OverflowError,
                decimal.InvalidOperation) as e:
            raise TypeError(
                f"cannot hash {v!r} as a {dt.simpleString()} key: {e}"
            ) from None
        h = xxh64(enc, h)
    return _signed(h)


def bucket_of(values, types, n_buckets: int, seed: int = 42) -> int:
    """``pmod(xxhash64(*keys), n_buckets)`` — LakeTable._bucket_expr's
    exact bucket assignment, computed without a SparkSession."""
    return spark_xxhash64(values, types, seed) % n_buckets
