"""Jaeger PROTOBUF wire format (model.proto Batch — what the
jaegerreceiver's gRPC/protobuf endpoints ingest; translation semantics
as translator/trace/jaeger/jaegerproto_to_traces.go and
traces_to_jaegerproto.go): binary Batch blobs decoded with the shared
proto codec (functions/proto_binary.py) and re-emitted as Jaeger JSON
lines, so the SEMANTIC translation (typed tag coercion, CHILD_OF
parent restore, span.kind, status fallback) is the one implementation
in ``jaeger_json.py`` — the same funnel as the thrift wire
(sources/jaeger_thrift.py).

model.proto field numbers (public jaegertracing/jaeger model.proto,
the dependency the reference's translator consumes):
  Batch:   1 spans(rep Span) 2 process(Process)
  Process: 1 service_name(str) 2 tags(rep KeyValue)
  Span:    1 trace_id(bytes16) 2 span_id(bytes8) 3 operation_name
           4 references(rep SpanRef) 5 flags(varint)
           6 start_time(Timestamp) 7 duration(Duration)
           8 tags(rep KeyValue) 9 logs 10 process 11 process_id
  SpanRef: 1 trace_id(bytes) 2 span_id(bytes)
           3 ref_type(varint: CHILD_OF=0 FOLLOWS_FROM=1)
  KeyValue: 1 key 2 v_type(varint: STRING=0 BOOL=1 INT64=2 FLOAT64=3
           BINARY=4 — NOTE: ordering differs from the thrift Tag enum,
           jaegerproto_to_traces.go:212-224) 3 v_str 4 v_bool(varint)
           5 v_int64(varint) 6 v_float64(fixed64) 7 v_binary(bytes)
  Timestamp/Duration: 1 seconds(varint) 2 nanos(varint)
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..functions.proto_binary import FIXED64, LEN, VARINT, Reader, Writer
from .wirebridge import decode_blobs, encode_lines

# proto ValueType ordinal ↔ this repo's Jaeger-JSON tag type names
_VTYPE_NAMES = {0: "string", 1: "bool", 2: "int64", 3: "float64", 4: "binary"}
_VTYPE_NUMS = {v: k for k, v in _VTYPE_NAMES.items()}


def _hex_to_bytes16(hex_str: str) -> bytes:
    return bytes.fromhex(hex_str.rjust(32, "0"))


def _bytes_to_trace_hex(b: bytes) -> str:
    """16-byte trace id → hex, high half stripped when zero (the same
    convention the thrift decoder emits)."""
    h = b.hex().rjust(32, "0")
    return h[16:] if h[:16] == "0" * 16 else h


def _read_timestamp_us(r: Reader) -> int:
    sec = nanos = 0
    for fid, wt in r.fields():
        if fid == 1 and wt == VARINT:
            sec = r.int64()
        elif fid == 2 and wt == VARINT:
            nanos = r.int64()
        else:
            r.skip(wt)
    return sec * 1_000_000 + nanos // 1_000


def _write_timestamp(us: int) -> Writer:
    w = Writer()
    w.int_(1, us // 1_000_000)
    w.int_(2, (us % 1_000_000) * 1_000)
    return w


def _read_kv(r: Reader) -> dict:
    key, vtype = "", 0
    vals: dict = {}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            key = r.string()
        elif fid == 2 and wt == VARINT:
            vtype = r.varint()
        elif fid == 3 and wt == LEN:
            vals["str"] = r.string()
        elif fid == 4 and wt == VARINT:
            vals["bool"] = bool(r.varint())
        elif fid == 5 and wt == VARINT:
            vals["int64"] = r.int64()
        elif fid == 6 and wt == FIXED64:
            vals["float64"] = r.double()
        elif fid == 7 and wt == LEN:
            vals["binary"] = r.bytes_()
        else:
            r.skip(wt)
    if vtype == 0:
        value = vals.get("str", "")
    elif vtype == 1:
        value = "true" if vals.get("bool") else "false"
    elif vtype == 2:
        value = str(vals.get("int64", 0))
    elif vtype == 3:
        value = repr(vals.get("float64", 0.0))
    else:
        value = vals.get("binary", b"").hex()
    return {"key": key, "type": _VTYPE_NAMES.get(vtype, "string"), "value": value}


def _write_kv(tag: dict) -> Writer:
    w = Writer()
    w.string(1, tag["key"])
    vtype = _VTYPE_NUMS.get(tag.get("type", "string"), 0)
    w.int_(2, vtype)
    if vtype == 0:
        w.string(3, tag["value"], keep_empty=True)
    elif vtype == 1:
        w.bool_(4, tag["value"] == "true")
    elif vtype == 2:
        w.int_(5, int(tag["value"]))
    elif vtype == 3:
        v = float(tag["value"])
        if v != 0.0:
            w.tag(6, FIXED64)
            w.out += struct.pack("<d", v)
    else:
        w.bytes_(7, bytes.fromhex(tag["value"]))
    return w


def _read_span_ref(r: Reader) -> dict:
    trace_b = span_b = b""
    ref_type = 0
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            trace_b = r.bytes_()
        elif fid == 2 and wt == LEN:
            span_b = r.bytes_()
        elif fid == 3 and wt == VARINT:
            ref_type = r.varint()
        else:
            r.skip(wt)
    return {
        "refType": "CHILD_OF" if ref_type == 0 else "FOLLOWS_FROM",
        "traceID": _bytes_to_trace_hex(trace_b),
        "spanID": span_b.hex().rjust(16, "0"),
    }


def _read_span(r: Reader) -> dict:
    sp: dict = {"tags": [], "references": []}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            sp["traceID"] = _bytes_to_trace_hex(r.bytes_())
        elif fid == 2 and wt == LEN:
            sp["spanID"] = r.bytes_().hex().rjust(16, "0")
        elif fid == 3 and wt == LEN:
            sp["operationName"] = r.string()
        elif fid == 4 and wt == LEN:
            sp["references"].append(_read_span_ref(r.message()))
        elif fid == 6 and wt == LEN:
            sp["startTime"] = _read_timestamp_us(r.message())
        elif fid == 7 and wt == LEN:
            sp["duration"] = _read_timestamp_us(r.message())
        elif fid == 8 and wt == LEN:
            sp["tags"].append(_read_kv(r.message()))
        else:
            r.skip(wt)
    return sp


def decode_batch(blob: bytes) -> list[dict]:
    """Binary model.proto Batch → Jaeger-JSON-shaped span dicts."""
    service_name = ""
    spans: list[dict] = []
    r = Reader(blob)
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            spans.append(_read_span(r.message()))
        elif fid == 2 and wt == LEN:
            p_r = r.message()
            for pfid, pwt in p_r.fields():
                if pfid == 1 and pwt == LEN:
                    service_name = p_r.string()
                else:
                    p_r.skip(pwt)
        else:
            r.skip(wt)
    for sp in spans:
        sp["process"] = {"serviceName": service_name}
        # proto3 elides zero/empty scalars on the wire; restore the
        # defaults the JSON layer expects as present fields
        sp.setdefault("operationName", "")
        sp.setdefault("startTime", 0)
        sp.setdefault("duration", 0)
    return spans


def encode_batch(spans: list[dict], service_name: str | None = None) -> bytes:
    """Jaeger-JSON-shaped span dicts → binary model.proto Batch."""
    if service_name is None:
        service_name = (
            spans[0].get("process", {}).get("serviceName", "") if spans else ""
        )
    w = Writer()
    for sp in spans:
        sw = Writer()
        sw.bytes_(1, _hex_to_bytes16(sp["traceID"]))
        sw.bytes_(2, bytes.fromhex(sp["spanID"]))
        if sp.get("operationName") is not None:
            sw.string(3, sp["operationName"])
        for ref in sp.get("references") or []:
            rw = Writer()
            rw.bytes_(1, _hex_to_bytes16(ref["traceID"]))
            rw.bytes_(2, bytes.fromhex(ref["spanID"]))
            rw.int_(3, 0 if ref["refType"] == "CHILD_OF" else 1)
            sw.message(4, rw, keep_empty=True)
        if sp.get("startTime") is not None:
            sw.message(6, _write_timestamp(sp["startTime"]), keep_empty=True)
        if sp.get("duration") is not None:
            sw.message(7, _write_timestamp(sp["duration"]), keep_empty=True)
        for tag in sp.get("tags") or []:
            sw.message(8, _write_kv(tag), keep_empty=True)
        w.message(1, sw, keep_empty=True)
    pw = Writer()
    pw.string(1, service_name)
    w.message(2, pw, keep_empty=True)
    return bytes(w.out)


# -- Spark surface ----------------------------------------------------------
# The shared bridge (sources/wirebridge.py) carries the Jaeger JSON lines of
# sources/jaeger_json.py across the Python boundary.


def jaeger_proto_to_spans(df: DataFrame, bin_col: str = "proto") -> DataFrame:
    """Proto Batch wire → span table via the shared Jaeger JSON
    semantic layer (one JSON line per decoded span)."""
    from .jaeger_json import jaeger_json_to_spans

    return jaeger_json_to_spans(decode_blobs(df, bin_col, decode_batch, "jaeger"))


def spans_to_jaeger_proto(
    spans: DataFrame, service_name: str = "transcripts"
) -> DataFrame:
    """Span table → one proto-encoded single-span Batch per row."""
    from .jaeger_json import spans_to_jaeger_json

    return encode_lines(
        spans_to_jaeger_json(spans, service_name),
        "jaeger",
        lambda sp: encode_batch([sp], service_name),
        "proto",
    )
