"""Zipkin v1 THRIFT wire format (translator/trace/zipkin/
zipkinv1_thrift_to_protospan.go / zipkinv1_thrift_to_traces.go): the
binary TBinaryProtocol-encoded ``list<Span>`` a real Zipkin v1
reporter posts, decoded without any thrift library dependency.

Layering: this module ONLY handles the wire encoding — the shared
pure-Python TBinaryProtocol codec (functions/thrift_binary.py) applied
to the zipkincore structs (Span, Annotation, BinaryAnnotation,
Endpoint), Arrow-batched by the shared bridge (sources/wirebridge.py;
binary parsing is the legitimate Python slow path, SURVEY §4). Each decoded span is
re-emitted as a Zipkin v1 JSON line and the SEMANTIC translation
(annotation kinds, status mapper, lc rename) is delegated to
``zipkin_v1_json.zipkin_v1_json_to_spans`` — one semantic layer, two
wire formats, exactly how the reference funnels both JSON and thrift
into the same protospan converter.

zipkincore.thrift field ids (openzipkin/zipkin-api):
  Span:   1 trace_id(i64) 3 name 4 id(i64) 5 parent_id(i64)
          6 annotations(list) 8 binary_annotations(list) 9 debug(bool)
          10 timestamp(i64) 11 duration(i64) 12 trace_id_high(i64)
  Annotation:        1 timestamp(i64) 2 value(str) 3 host(Endpoint)
  BinaryAnnotation:  1 key(str) 2 value(binary) 3 annotation_type(i32)
                     4 host(Endpoint)
  Endpoint:          1 ipv4(i32) 2 port(i16) 3 service_name(str)
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..functions.thrift_binary import (
    I32,
    I64,
    LIST,
    STRING,
    STRUCT,
    Reader,
    Writer,
    hex16,
    signed64,
)
from .wirebridge import decode_blobs, encode_lines


def _read_endpoint(r: Reader) -> dict:
    ep: dict = {}
    for fid, ftype in r.fields():
        if fid == 3 and ftype == STRING:
            ep["serviceName"] = r.string()
        else:
            r.skip(ftype)
    return ep


def _read_annotation(r: Reader) -> dict:
    ann: dict = {}
    for fid, ftype in r.fields():
        if fid == 1 and ftype == I64:
            ann["timestamp"] = r.i64()
        elif fid == 2 and ftype == STRING:
            ann["value"] = r.string()
        elif fid == 3 and ftype == STRUCT:
            ann["endpoint"] = _read_endpoint(r)
        else:
            r.skip(ftype)
    return ann


def _read_binary_annotation(r: Reader) -> dict:
    b: dict = {}
    atype = 6  # STRING
    raw = b""
    for fid, ftype in r.fields():
        if fid == 1 and ftype == STRING:
            b["key"] = r.string()
        elif fid == 2 and ftype == STRING:
            raw = r.binary()
        elif fid == 3 and ftype == I32:
            atype = r.i32()
        elif fid == 4 and ftype == STRUCT:
            b["endpoint"] = _read_endpoint(r)
        else:
            r.skip(ftype)
    # AnnotationType: BOOL=0 BYTES=1 I16=2 I32=3 I64=4 DOUBLE=5 STRING=6
    # — the reference stringifies typed payloads the same way
    # (zipkinv1_thrift_to_protospan.go typed-value conversion)
    if atype == 6:
        b["value"] = raw.decode("utf-8", "replace")
    elif atype == 0:
        b["value"] = "true" if raw and raw[0] else "false"
    elif atype == 2:
        b["value"] = str(struct.unpack(">h", raw)[0]) if len(raw) == 2 else ""
    elif atype == 3:
        b["value"] = str(struct.unpack(">i", raw)[0]) if len(raw) == 4 else ""
    elif atype == 4:
        b["value"] = str(struct.unpack(">q", raw)[0]) if len(raw) == 8 else ""
    elif atype == 5:
        b["value"] = repr(struct.unpack(">d", raw)[0]) if len(raw) == 8 else ""
    else:
        b["value"] = raw.hex()
    return b


def _read_span(r: Reader) -> dict:
    sp: dict = {}
    tid_low = tid_high = 0
    for fid, ftype in r.fields():
        if fid == 1 and ftype == I64:
            tid_low = r.i64()
        elif fid == 12 and ftype == I64:
            tid_high = r.i64()
        elif fid == 3 and ftype == STRING:
            sp["name"] = r.string()
        elif fid == 4 and ftype == I64:
            sp["id"] = hex16(r.i64())
        elif fid == 5 and ftype == I64:
            sp["parentId"] = hex16(r.i64())
        elif fid == 6 and ftype == LIST:
            sp["annotations"] = [_read_annotation(r) for _ in range(r.list_header())]
        elif fid == 8 and ftype == LIST:
            sp["binaryAnnotations"] = [
                _read_binary_annotation(r) for _ in range(r.list_header())
            ]
        elif fid == 10 and ftype == I64:
            sp["timestamp"] = r.i64()
        elif fid == 11 and ftype == I64:
            sp["duration"] = r.i64()
        else:
            r.skip(ftype)
    sp["traceId"] = (hex16(tid_high) if tid_high else "") + hex16(tid_low)
    return sp


def decode_span_list(blob: bytes) -> list[dict]:
    """TBinaryProtocol list<Span> → v1-JSON-shaped dicts
    (the reference's deserializeThrift, zipkinv1_thrift_to_traces.go)."""
    r = Reader(blob)
    return [_read_span(r) for _ in range(r.list_header())]


# -- encoder (tests + exporter symmetry) ------------------------------------


def _write_endpoint(w: Writer, ep: dict):
    if ep.get("serviceName") is not None:
        w.field(3, STRING)
        w.string(ep["serviceName"])
    w.stop()


def encode_span_list(spans: list[dict]) -> bytes:
    w = Writer()
    w.list_header(len(spans))
    for sp in spans:
        tid = sp["traceId"]
        low = signed64(tid[-16:])
        high = signed64(tid[:-16]) if len(tid) > 16 else 0
        w.field(1, I64)
        w.i64(low)
        if sp.get("name") is not None:
            w.field(3, STRING)
            w.string(sp["name"])
        w.field(4, I64)
        w.i64(signed64(sp["id"]))
        if sp.get("parentId"):
            w.field(5, I64)
            w.i64(signed64(sp["parentId"]))
        if sp.get("annotations"):
            w.field(6, LIST)
            w.list_header(len(sp["annotations"]))
            for a in sp["annotations"]:
                w.field(1, I64)
                w.i64(a["timestamp"])
                w.field(2, STRING)
                w.string(a["value"])
                if a.get("endpoint"):
                    w.field(3, STRUCT)
                    _write_endpoint(w, a["endpoint"])
                w.stop()
        if sp.get("binaryAnnotations"):
            w.field(8, LIST)
            w.list_header(len(sp["binaryAnnotations"]))
            for b in sp["binaryAnnotations"]:
                w.field(1, STRING)
                w.string(b["key"])
                w.field(2, STRING)
                w.string(b["value"])
                w.field(3, I32)
                w.i32(6)  # STRING
                if b.get("endpoint"):
                    w.field(4, STRUCT)
                    _write_endpoint(w, b["endpoint"])
                w.stop()
        if sp.get("timestamp") is not None:
            w.field(10, I64)
            w.i64(sp["timestamp"])
        if sp.get("duration") is not None:
            w.field(11, I64)
            w.i64(sp["duration"])
        if high:
            w.field(12, I64)
            w.i64(high)
        w.stop()
    return bytes(w.out)


# -- Spark surface ----------------------------------------------------------
# The shared bridge (sources/wirebridge.py) carries the v1 JSON lines of
# sources/zipkin_v1_json.py across the Python boundary.


def zipkin_thrift_to_spans(df: DataFrame, bin_col: str = "thrift") -> DataFrame:
    """Thrift wire → span table: wire decode (here; one encoded span
    list per row, one posted request body, the reference's unit of
    work too) + the SHARED v1 semantic translation (zipkin_v1_json.py)
    — the same two-stage funnel as the reference's thrift receiver."""
    from .zipkin_v1_json import zipkin_v1_json_to_spans

    return zipkin_v1_json_to_spans(
        decode_blobs(df, bin_col, decode_span_list, "zipkin_v1")
    )


def spans_to_zipkin_thrift(spans: DataFrame, service_name: str = "transcripts") -> DataFrame:
    """Span table → one thrift-encoded single-span list per row
    (exporter symmetry; batching spans per request is the caller's
    batch operator's job). Goes through the v1 JSON emitter so both
    wire formats share the annotation/binary-annotation semantics."""
    from .zipkin_v1_json import spans_to_zipkin_v1_json

    return encode_lines(
        spans_to_zipkin_v1_json(spans, service_name),
        "zipkin_v1",
        lambda sp: encode_span_list([sp]),
        "thrift",
    )
