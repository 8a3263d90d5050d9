"""Murmur3 x86 32-bit hash with exact parity to the reference sampler.

The reference's probabilistic sampler keeps a span iff
    murmur3_32(traceID bytes, seed) & 0x3FFF < rate% * 0x4000 / 100
(processor/samplingprocessor/probabilisticsamplerprocessor/
probabilisticsampler.go:103-112,184-234). Spark's built-in ``hash()``
gives the same murmur3_32 on 16-byte ids, but always with seed 42, so
exact parity at a configured seed requires this reimplementation. The
hot path is an Arrow-vectorized numpy kernel over fixed-width (16-byte)
keys — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_C1 = np.uint32(0xCC9E2D51)
_C2 = np.uint32(0x1B873593)
_C3 = np.uint32(0x85EBCA6B)
_C4 = np.uint32(0xC2B2AE35)
_M = np.uint32(5)
_N = np.uint32(0xE6546B64)

NUM_HASH_BUCKETS = 0x4000
BITMASK_HASH_BUCKETS = NUM_HASH_BUCKETS - 1
PERCENTAGE_SCALE_FACTOR = NUM_HASH_BUCKETS / 100.0


def murmur3_32(key: bytes, seed: int = 0) -> int:
    """Scalar reference implementation (any length, incl. tail bytes)."""
    mask = 0xFFFFFFFF
    h = seed & mask
    i = 0
    while i + 4 <= len(key):
        k = int.from_bytes(key[i : i + 4], "little")
        k = (k * 0xCC9E2D51) & mask
        k = ((k << 15) | (k >> 17)) & mask
        k = (k * 0x1B873593) & mask
        h ^= k
        h = ((h << 13) | (h >> 19)) & mask
        h = (h * 5 + 0xE6546B64) & mask
        i += 4
    rem = 0
    tail = len(key) - i
    if tail >= 3:
        rem += key[i + 2] << 16
    if tail >= 2:
        rem += key[i + 1] << 8
    if tail >= 1:
        rem = (rem + key[i]) & mask
        rem = (rem * 0xCC9E2D51) & mask
        rem = ((rem << 15) | (rem >> 17)) & mask
        rem = (rem * 0x1B873593) & mask
        h ^= rem
    h ^= len(key)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h


def murmur3_32_fixed(mat: np.ndarray, seed: int = 0) -> np.ndarray:
    """Vectorized murmur3_32 over an (N, L) uint8 matrix, L % 4 == 0."""
    n, length = mat.shape
    assert length % 4 == 0
    words = np.ascontiguousarray(mat).view("<u4").reshape(n, length // 4)
    h = np.full(n, np.uint32(seed), dtype=np.uint32)
    with np.errstate(over="ignore"):
        for i in range(length // 4):
            k = words[:, i].copy()
            k *= _C1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k *= _C2
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * _M + _N
        h ^= np.uint32(length)
        h ^= h >> np.uint32(16)
        h *= _C3
        h ^= h >> np.uint32(13)
        h *= _C4
        h ^= h >> np.uint32(16)
    return h


def _binary_series_to_mat(s: pd.Series, width: int = 16) -> np.ndarray:
    buf = b"".join(bytes(v) if v is not None else b"\x00" * width for v in s)
    return np.frombuffer(buf, dtype=np.uint8).reshape(len(s), width)


def sampler_bucket_udf(seed: int):
    """Factory: pandas UDF mapping a 16-byte binary id column to its
    14-bit sampler bucket — hash(id, seed) & 0x3FFF."""

    @F.pandas_udf(T.IntegerType())
    def bucket(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int32")
        h = murmur3_32_fixed(_binary_series_to_mat(s), seed=seed)
        return pd.Series((h & np.uint32(BITMASK_HASH_BUCKETS)).astype(np.int32))

    return bucket


def trace_id_col(col: Column) -> Column:
    """Deterministic 16-byte id for an arbitrary string key (md5),
    standing in for the reference's 16-byte TraceID."""
    return F.unhex(F.md5(col.cast("string")))
