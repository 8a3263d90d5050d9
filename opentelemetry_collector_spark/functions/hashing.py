"""Typed SHA-1 hashing with exact byte-encoding parity.

Reference semantics (processor/processorhelper/hasher.go:41-72): the
HASH action replaces an attribute value with the lowercase-hex SHA-1 of
its *typed* byte encoding —
    string → raw UTF-8 bytes
    bool   → one byte, 0x01 / 0x00
    int64  → 8 bytes little-endian
    double → 8 bytes little-endian IEEE-754
    null/empty → empty string (no hash)

Strings and ints stay fully JVM-side (whole-stage codegen); doubles
need the IEEE-754 bit pattern, which Spark SQL cannot produce, so that
one case is an Arrow-vectorized pandas UDF.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def sha1_string(col: Column) -> Column:
    """SHA-1 hex of a string column's UTF-8 bytes (hot path, pure JVM)."""
    return F.sha1(col.cast("string"))


def _le_hex_from_long(col: Column) -> Column:
    """16-char little-endian hex of a long column, JVM-side.

    hex(long) is big-endian two's-complement without leading zeros;
    lpad to 16 then swap the 8 byte pairs.
    """
    be = F.lpad(F.hex(col.cast("long")), 16, "0")
    pairs = [F.substring(be, 1 + 2 * i, 2) for i in range(8)]
    return F.lower(F.concat(*reversed(pairs)))


def sha1_long_le(col: Column) -> Column:
    """SHA-1 hex of the 8-byte little-endian encoding of an int64 (JVM)."""
    return F.sha1(F.unhex(_le_hex_from_long(col)))


def sha1_bool(col: Column) -> Column:
    """SHA-1 hex of the 1-byte bool encoding (constant-folded, JVM)."""
    return F.sha1(F.when(col.cast("boolean"), F.unhex(F.lit("01"))).otherwise(F.unhex(F.lit("00"))))


@F.pandas_udf(T.StringType())
def _sha1_double_udf(s: pd.Series) -> pd.Series:
    bits = s.to_numpy(dtype=np.float64).view("<u8")
    out = [
        None if pd.isna(v) else hashlib.sha1(np.uint64(b).tobytes()).hexdigest()
        for v, b in zip(s, bits)
    ]
    return pd.Series(out, dtype=object)


def sha1_double_le(col: Column) -> Column:
    """SHA-1 hex of the 8-byte LE IEEE-754 encoding of a double.

    Needs the raw bit pattern → Arrow pandas UDF (the only non-JVM case).
    """
    return _sha1_double_udf(col.cast("double"))


def sha1_typed_py(value) -> str:
    """Driver-side golden oracle for tests — same encodings in pure Python."""
    import struct

    if value is None:
        return ""
    if isinstance(value, bool):
        b = b"\x01" if value else b"\x00"
    elif isinstance(value, int):
        b = struct.pack("<q", value)
    elif isinstance(value, float):
        b = struct.pack("<d", value)
    else:
        b = str(value).encode("utf-8")
    return hashlib.sha1(b).hexdigest()
