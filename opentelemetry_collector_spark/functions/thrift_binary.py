"""Minimal TBinaryProtocol reader/writer (no thrift library): the
encoding layer shared by the Zipkin v1 and Jaeger thrift wire formats
(translator/trace/zipkin/zipkinv1_thrift_to_protospan.go and the
jaegerreceiver's thrift handling). Big-endian, strict framing-less
payloads; unknown fields are skippable for forward compatibility."""

from __future__ import annotations

import struct
from collections.abc import Iterator
from contextlib import contextmanager

# TBinaryProtocol type codes
STOP, BOOL, BYTE, DOUBLE = 0, 2, 3, 4
I16, I32, I64, STRING, STRUCT, LIST = 6, 8, 10, 11, 12, 15

# nested STRUCT/LIST levels ``skip`` descends before refusing the
# payload: Go thrift's DEFAULT_RECURSION_DEPTH, well inside Python's
# recursion limit
MAX_DEPTH = 64


class Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self._depth = 0

    def _unpack(self, fmt: str, size: int):
        v = struct.unpack_from(fmt, self.buf, self.pos)[0]
        self.pos += size
        return v

    def byte(self) -> int:
        return self._unpack(">b", 1)

    def bool_(self) -> bool:
        return bool(self._unpack(">b", 1))

    def i16(self) -> int:
        return self._unpack(">h", 2)

    def i32(self) -> int:
        return self._unpack(">i", 4)

    def i64(self) -> int:
        return self._unpack(">q", 8)

    def double(self) -> float:
        return self._unpack(">d", 8)

    def binary(self) -> bytes:
        n = self.i32()
        if n < 0 or self.pos + n > len(self.buf):
            # strict: negative lengths (i32 is signed) would move the
            # cursor BACKWARD — an infinite-loop vector on corrupt
            # payloads — and oversized ones would silently truncate
            raise ValueError("thrift binary length out of bounds")
        v = self.buf[self.pos : self.pos + n]
        self.pos += n
        return v

    def string(self) -> str:
        return self.binary().decode("utf-8", "replace")

    def _list_count(self) -> int:
        n = self.i32()
        if n < 0 or n > len(self.buf) - self.pos:
            # every element takes at least one byte, so a count beyond
            # the bytes left is corrupt; refusing it up front keeps a
            # garbage count (up to 2**31 - 1) from spinning ``skip``
            # over fixed-width elements it never reads
            raise ValueError("thrift list count out of bounds")
        return n

    def skip(self, ftype: int) -> None:
        if ftype in (BOOL, BYTE):
            self.pos += 1
        elif ftype == I16:
            self.pos += 2
        elif ftype == I32:
            self.pos += 4
        elif ftype in (I64, DOUBLE):
            self.pos += 8
        elif ftype == STRING:
            self.binary()
        elif ftype == STRUCT:
            with self._nested():
                while True:
                    t = self.byte()
                    if t == STOP:
                        break
                    self.i16()
                    self.skip(t)
        elif ftype == LIST:
            with self._nested():
                et = self.byte()
                for _ in range(self._list_count()):
                    self.skip(et)
        else:
            raise ValueError(f"unsupported thrift type {ftype}")

    @contextmanager
    def _nested(self):
        if self._depth >= MAX_DEPTH:
            raise ValueError(f"thrift nesting deeper than {MAX_DEPTH}")
        self._depth += 1
        try:
            yield
        finally:
            self._depth -= 1

    def fields(self) -> Iterator[tuple[int, int]]:
        """(field_id, type) until STOP; caller must read or skip the
        value of every yielded field."""
        while True:
            ftype = self.byte()
            if ftype == STOP:
                return
            yield self.i16(), ftype

    def list_header(self, expect: int = STRUCT) -> int:
        et = self.byte()
        if et != expect:
            raise ValueError(f"expected list<{expect}>, got elem type {et}")
        return self._list_count()


class Writer:
    def __init__(self):
        self.out = bytearray()

    def byte(self, v: int):
        self.out += struct.pack(">b", v)

    def i16(self, v: int):
        self.out += struct.pack(">h", v)

    def i32(self, v: int):
        self.out += struct.pack(">i", v)

    def i64(self, v: int):
        self.out += struct.pack(">q", v)

    def double(self, v: float):
        self.out += struct.pack(">d", v)

    def string(self, v: bytes | str):
        if isinstance(v, str):
            v = v.encode()
        self.i32(len(v))
        self.out += v

    def field(self, fid: int, ftype: int):
        self.byte(ftype)
        self.i16(fid)

    def stop(self):
        self.byte(STOP)

    def list_header(self, n: int, elem: int = STRUCT):
        self.byte(elem)
        self.i32(n)


def signed64(hex_str: str) -> int:
    v = int(hex_str, 16)
    return v - (1 << 64) if v >= 1 << 63 else v


def hex16(v: int) -> str:
    return f"{v & 0xFFFFFFFFFFFFFFFF:016x}"
