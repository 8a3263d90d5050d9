"""Minimal MessagePack reader/writer — no msgpack library. The
encoding layer for the Fluentd Forward wire
(``sources/fluentforward.py``; the protocol the reference's
fluentforward receiver decodes,
receiver/fluentforwardreceiver/conversion.go:62-177). Third codec in
the family next to ``thrift_binary.py`` and ``proto_binary.py``.

Implements the public MessagePack spec
(github.com/msgpack/msgpack/blob/master/spec.md): nil/bool, positive/
negative fixint, (u)int 8/16/32/64, float 32/64, fixstr/str 8/16/32,
bin 8/16/32, fixarray/array 16/32, fixmap/map 16/32, and fixext/ext —
enough for every shape the Forward protocol v1 produces, including the
EventTime extension (type 0, 8 bytes: big-endian u32 seconds + u32
nanoseconds, receiver/fluentforwardreceiver/timeext.go:44-68).

Like the sibling codecs, reads are strictly bounded: truncated or
malformed payloads raise ValueError instead of returning plausible
garbage.
"""

from __future__ import annotations

import struct
from contextlib import contextmanager
from dataclasses import dataclass

# nested array/map levels ``Unpacker`` descends before refusing the
# payload, well inside Python's recursion limit
MAX_DEPTH = 64


@dataclass(frozen=True)
class Ext:
    """A MessagePack extension value (type tag + raw payload)."""

    code: int
    data: bytes


class EventTime(Ext):
    """Fluentd EventTime (ext type 0): seconds + nanoseconds."""

    def __init__(self, seconds: int, nanoseconds: int):
        # loud range check, no silent & 0xFFFFFFFF wrap: a pre-1970 or
        # post-2106 timestamp would otherwise decode to a wildly wrong
        # but plausible time
        if not (0 <= seconds <= 0xFFFFFFFF and 0 <= nanoseconds <= 0xFFFFFFFF):
            raise ValueError(
                f"EventTime out of u32 range: {seconds}s {nanoseconds}ns"
            )
        super().__init__(0, struct.pack(">II", seconds, nanoseconds))

    @property
    def seconds(self) -> int:
        return struct.unpack_from(">I", self.data, 0)[0]

    @property
    def nanoseconds(self) -> int:
        return struct.unpack_from(">I", self.data, 4)[0]


def _as_event_time(ext: Ext) -> Ext:
    if ext.code == 0 and len(ext.data) == 8:
        e = EventTime.__new__(EventTime)
        object.__setattr__(e, "code", 0)
        object.__setattr__(e, "data", ext.data)
        return e
    return ext


class Unpacker:
    """Pull-parser over a byte buffer; ``unpack()`` returns one value
    and advances. ``pos < len(buf)`` ⇒ more concatenated values follow
    (the Forward protocol streams events back to back, and
    PackedForward chunks concatenate entries the same way)."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self._depth = 0

    def _need(self, n: int) -> None:
        if self.pos + n > len(self.buf):
            raise ValueError("msgpack value exceeds buffer")

    def _take(self, n: int) -> bytes:
        self._need(n)
        v = self.buf[self.pos : self.pos + n]
        self.pos += n
        return v

    def _u(self, fmt: str, n: int):
        self._need(n)
        v = struct.unpack_from(fmt, self.buf, self.pos)[0]
        self.pos += n
        return v

    def unpack(self):
        self._need(1)
        b = self.buf[self.pos]
        self.pos += 1
        # fix families
        if b <= 0x7F:
            return b
        if b >= 0xE0:
            return b - 0x100
        if 0x80 <= b <= 0x8F:
            return self._map(b & 0x0F)
        if 0x90 <= b <= 0x9F:
            return self._array(b & 0x0F)
        if 0xA0 <= b <= 0xBF:
            return self._str(b & 0x1F)
        if b == 0xC0:
            return None
        if b == 0xC2:
            return False
        if b == 0xC3:
            return True
        if b == 0xC4:
            return self._take(self._u(">B", 1))
        if b == 0xC5:
            return self._take(self._u(">H", 2))
        if b == 0xC6:
            return self._take(self._u(">I", 4))
        if b == 0xC7:  # ext 8
            n = self._u(">B", 1)
            return self._ext(n)
        if b == 0xC8:  # ext 16
            n = self._u(">H", 2)
            return self._ext(n)
        if b == 0xC9:  # ext 32
            n = self._u(">I", 4)
            return self._ext(n)
        if b == 0xCA:
            return self._u(">f", 4)
        if b == 0xCB:
            return self._u(">d", 8)
        if b == 0xCC:
            return self._u(">B", 1)
        if b == 0xCD:
            return self._u(">H", 2)
        if b == 0xCE:
            return self._u(">I", 4)
        if b == 0xCF:
            return self._u(">Q", 8)
        if b == 0xD0:
            return self._u(">b", 1)
        if b == 0xD1:
            return self._u(">h", 2)
        if b == 0xD2:
            return self._u(">i", 4)
        if b == 0xD3:
            return self._u(">q", 8)
        if 0xD4 <= b <= 0xD8:  # fixext 1/2/4/8/16
            return self._ext(1 << (b - 0xD4))
        if b == 0xD9:
            return self._str(self._u(">B", 1))
        if b == 0xDA:
            return self._str(self._u(">H", 2))
        if b == 0xDB:
            return self._str(self._u(">I", 4))
        if b == 0xDC:
            return self._array(self._u(">H", 2))
        if b == 0xDD:
            return self._array(self._u(">I", 4))
        if b == 0xDE:
            return self._map(self._u(">H", 2))
        if b == 0xDF:
            return self._map(self._u(">I", 4))
        raise ValueError(f"unsupported msgpack type byte 0x{b:02x}")

    def _str(self, n: int) -> str:
        # strict, matching the module's malformed-input stance: Go can
        # carry invalid UTF-8 inside a string, Python str cannot, and
        # lossy 'replace' would return plausible garbage downstream
        raw = self._take(n)
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError as e:
            raise ValueError(f"invalid UTF-8 in msgpack str: {e}") from None

    @contextmanager
    def _nested(self):
        if self._depth >= MAX_DEPTH:
            raise ValueError(f"msgpack nesting deeper than {MAX_DEPTH}")
        self._depth += 1
        try:
            yield
        finally:
            self._depth -= 1

    def _array(self, n: int) -> list:
        with self._nested():
            return [self.unpack() for _ in range(n)]

    def _map(self, n: int) -> dict:
        out = {}
        with self._nested():
            for _ in range(n):
                k = self.unpack()
                # wire-legal but container-keyed maps (array/map/ext keys)
                # have no Python-dict representation; keep the codec's
                # single-exception contract (ValueError, not TypeError)
                if isinstance(k, (list, dict, Ext)):
                    raise ValueError(
                        f"unsupported msgpack map key type {type(k).__name__}"
                    )
                out[k] = self.unpack()
        return out

    def _ext(self, n: int) -> Ext:
        code = self._u(">b", 1)
        return _as_event_time(Ext(code, self._take(n)))

    def raw_bin_or_str(self) -> bytes:
        """Raw payload bytes of the next bin- OR str-framed value.
        PackedForward chunks arrive in either framing and their payload
        is concatenated msgpack entries, NOT text (conversion.go:366) —
        a str-framed chunk must never round-trip through UTF-8 (lossy
        decode would corrupt the entry bytes irreversibly)."""
        self._need(1)
        b = self.buf[self.pos]
        self.pos += 1
        if 0xA0 <= b <= 0xBF:
            n = b & 0x1F
        elif b in (0xC4, 0xD9):
            n = self._u(">B", 1)
        elif b in (0xC5, 0xDA):
            n = self._u(">H", 2)
        elif b in (0xC6, 0xDB):
            n = self._u(">I", 4)
        else:
            raise ValueError(f"not a bin/str header: 0x{b:02x}")
        return self._take(n)

    def array_header(self) -> int:
        """Read only an array header (Forward events are top-level
        arrays; decoding headers separately lets the caller inspect
        elements lazily, like msgp.Reader.ReadArrayHeader)."""
        self._need(1)
        b = self.buf[self.pos]
        self.pos += 1
        if 0x90 <= b <= 0x9F:
            return b & 0x0F
        if b == 0xDC:
            return self._u(">H", 2)
        if b == 0xDD:
            return self._u(">I", 4)
        raise ValueError(f"not an array header: 0x{b:02x}")

    def peek_type(self) -> str:
        """Family of the NEXT value without consuming it — the
        carrier-mode detection the spec requires ("Server MUST detect
        the carrier mode by inspecting the second element",
        server.go:139-207)."""
        self._need(1)
        b = self.buf[self.pos]
        if b <= 0x7F or 0xCC <= b <= 0xCF or b >= 0xE0 or 0xD0 <= b <= 0xD3:
            return "int"
        if 0x90 <= b <= 0x9F or b in (0xDC, 0xDD):
            return "array"
        if 0xA0 <= b <= 0xBF or b in (0xD9, 0xDA, 0xDB):
            return "str"
        if b in (0xC4, 0xC5, 0xC6):
            return "bin"
        if 0xD4 <= b <= 0xD8 or b in (0xC7, 0xC8, 0xC9):
            return "ext"
        if 0x80 <= b <= 0x8F or b in (0xDE, 0xDF):
            return "map"
        if b == 0xC0:
            return "nil"
        if b in (0xC2, 0xC3):
            return "bool"
        if b in (0xCA, 0xCB):
            return "float"
        raise ValueError(f"unsupported msgpack type byte 0x{b:02x}")


class Packer:
    def __init__(self):
        self.out = bytearray()

    def pack(self, v) -> "Packer":
        if v is None:
            self.out.append(0xC0)
        elif v is True:
            self.out.append(0xC3)
        elif v is False:
            self.out.append(0xC2)
        elif isinstance(v, EventTime) or isinstance(v, Ext):
            self._ext(v)
        elif isinstance(v, int):
            self._int(v)
        elif isinstance(v, float):
            self.out.append(0xCB)
            self.out += struct.pack(">d", v)
        elif isinstance(v, str):
            self._str(v)
        elif isinstance(v, (bytes, bytearray)):
            self._bin(bytes(v))
        elif isinstance(v, (list, tuple)):
            self.array_header(len(v))
            for item in v:
                self.pack(item)
        elif isinstance(v, dict):
            self.map_header(len(v))
            for k, val in v.items():
                self.pack(k)
                self.pack(val)
        else:
            raise TypeError(f"cannot msgpack-encode {type(v)}")
        return self

    def _int(self, v: int):
        if 0 <= v <= 0x7F:
            self.out.append(v)
        elif -32 <= v < 0:
            self.out.append(v & 0xFF)
        elif 0 <= v <= 0xFF:
            self.out += struct.pack(">BB", 0xCC, v)
        elif 0 <= v <= 0xFFFF:
            self.out += struct.pack(">BH", 0xCD, v)
        elif 0 <= v <= 0xFFFFFFFF:
            self.out += struct.pack(">BI", 0xCE, v)
        elif 0 <= v:
            self.out += struct.pack(">BQ", 0xCF, v)
        elif v >= -(1 << 7):
            self.out += struct.pack(">Bb", 0xD0, v)
        elif v >= -(1 << 15):
            self.out += struct.pack(">Bh", 0xD1, v)
        elif v >= -(1 << 31):
            self.out += struct.pack(">Bi", 0xD2, v)
        else:
            self.out += struct.pack(">Bq", 0xD3, v)

    def _str(self, v: str):
        b = v.encode("utf-8")
        n = len(b)
        if n <= 31:
            self.out.append(0xA0 | n)
        elif n <= 0xFF:
            self.out += struct.pack(">BB", 0xD9, n)
        elif n <= 0xFFFF:
            self.out += struct.pack(">BH", 0xDA, n)
        else:
            self.out += struct.pack(">BI", 0xDB, n)
        self.out += b

    def _bin(self, v: bytes):
        n = len(v)
        if n <= 0xFF:
            self.out += struct.pack(">BB", 0xC4, n)
        elif n <= 0xFFFF:
            self.out += struct.pack(">BH", 0xC5, n)
        else:
            self.out += struct.pack(">BI", 0xC6, n)
        self.out += v

    def _ext(self, v: Ext):
        n = len(v.data)
        fix = {1: 0xD4, 2: 0xD5, 4: 0xD6, 8: 0xD7, 16: 0xD8}
        if n in fix:
            self.out.append(fix[n])
        elif n <= 0xFF:
            self.out += struct.pack(">BB", 0xC7, n)
        elif n <= 0xFFFF:
            self.out += struct.pack(">BH", 0xC8, n)
        else:
            self.out += struct.pack(">BI", 0xC9, n)
        self.out += struct.pack(">b", v.code)
        self.out += v.data

    def array_header(self, n: int):
        if n <= 15:
            self.out.append(0x90 | n)
        elif n <= 0xFFFF:
            self.out += struct.pack(">BH", 0xDC, n)
        else:
            self.out += struct.pack(">BI", 0xDD, n)

    def map_header(self, n: int):
        if n <= 15:
            self.out.append(0x80 | n)
        elif n <= 0xFFFF:
            self.out += struct.pack(">BH", 0xDE, n)
        else:
            self.out += struct.pack(">BI", 0xDF, n)


def packb(v) -> bytes:
    return bytes(Packer().pack(v).out)


def unpackb(buf: bytes):
    u = Unpacker(buf)
    v = u.unpack()
    if u.pos != len(buf):
        raise ValueError("trailing bytes after msgpack value")
    return v
