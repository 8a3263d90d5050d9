"""Jaeger THRIFT wire format (jaeger.thrift Batch — what the
jaegerreceiver's thrift endpoints ingest; field semantics as
translator/trace/jaeger/jaegerthrift_to_traces.go siblings in the
reference's receiver): TBinaryProtocol Batch{process, spans} decoded
with the shared codec (functions/thrift_binary.py) and re-emitted as
Jaeger JSON lines, so the SEMANTIC translation (typed tag coercion,
CHILD_OF parent restore, span.kind, status fallback) is the one
implementation in ``jaeger_json.py`` — the same one-semantic-layer /
many-wire-formats funnel as the Zipkin pair.

jaeger.thrift field ids:
  Batch:   1 process(Process) 2 spans(list<Span>)
  Process: 1 serviceName(str) 2 tags(list<Tag>)
  Span:    1 traceIdLow(i64) 2 traceIdHigh(i64) 3 spanId(i64)
           4 parentSpanId(i64) 5 operationName(str)
           6 references(list<SpanRef>) 7 flags(i32)
           8 startTime(i64 µs) 9 duration(i64 µs) 10 tags(list<Tag>)
           11 logs(list<Log>)
  Tag:     1 key(str) 2 vType(i32: STRING=0 DOUBLE=1 BOOL=2 LONG=3
           BINARY=4) 3 vStr 4 vDouble 5 vBool 6 vLong 7 vBinary
  SpanRef: 1 refType(i32: CHILD_OF=0 FOLLOWS_FROM=1) 2 traceIdLow
           3 traceIdHigh 4 spanId
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.thrift_binary import (
    BOOL,
    DOUBLE,
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

_VTYPE_NAMES = {0: "string", 1: "float64", 2: "bool", 3: "int64", 4: "binary"}


def _read_tag(r: Reader) -> dict:
    key, vtype = "", 0
    vals: dict = {}
    for fid, ftype in r.fields():
        if fid == 1 and ftype == STRING:
            key = r.string()
        elif fid == 2 and ftype == I32:
            vtype = r.i32()
        elif fid == 3 and ftype == STRING:
            vals["str"] = r.string()
        elif fid == 4 and ftype == DOUBLE:
            vals["double"] = r.double()
        elif fid == 5 and ftype == BOOL:
            vals["bool"] = r.bool_()
        elif fid == 6 and ftype == I64:
            vals["long"] = r.i64()
        elif fid == 7 and ftype == STRING:
            vals["binary"] = r.binary()
        else:
            r.skip(ftype)
    if vtype == 0:
        value = vals.get("str", "")
    elif vtype == 1:
        value = repr(vals.get("double", 0.0))
    elif vtype == 2:
        value = "true" if vals.get("bool") else "false"
    elif vtype == 3:
        value = str(vals.get("long", 0))
    else:
        value = vals.get("binary", b"").hex()
    return {"key": key, "type": _VTYPE_NAMES.get(vtype, "string"), "value": value}


def _read_span_ref(r: Reader) -> dict:
    ref_type, low, high, span_id = 0, 0, 0, 0
    for fid, ftype in r.fields():
        if fid == 1 and ftype == I32:
            ref_type = r.i32()
        elif fid == 2 and ftype == I64:
            low = r.i64()
        elif fid == 3 and ftype == I64:
            high = r.i64()
        elif fid == 4 and ftype == I64:
            span_id = r.i64()
        else:
            r.skip(ftype)
    return {
        "refType": "CHILD_OF" if ref_type == 0 else "FOLLOWS_FROM",
        "traceID": (hex16(high) if high else "") + hex16(low),
        "spanID": hex16(span_id),
    }


def _read_span(r: Reader, service_name: str) -> dict:
    sp: dict = {"tags": [], "references": []}
    low = high = parent = 0
    for fid, ftype in r.fields():
        if fid == 1 and ftype == I64:
            low = r.i64()
        elif fid == 2 and ftype == I64:
            high = r.i64()
        elif fid == 3 and ftype == I64:
            sp["spanID"] = hex16(r.i64())
        elif fid == 4 and ftype == I64:
            parent = r.i64()
        elif fid == 5 and ftype == STRING:
            sp["operationName"] = r.string()
        elif fid == 6 and ftype == LIST:
            sp["references"] = [_read_span_ref(r) for _ in range(r.list_header())]
        elif fid == 8 and ftype == I64:
            sp["startTime"] = r.i64()
        elif fid == 9 and ftype == I64:
            sp["duration"] = r.i64()
        elif fid == 10 and ftype == LIST:
            sp["tags"] = [_read_tag(r) for _ in range(r.list_header())]
        else:
            r.skip(ftype)
    trace_id = (hex16(high) if high else "") + hex16(low)
    sp["traceID"] = trace_id
    # thrift carries the parent as its own field; the JSON model carries
    # it as a CHILD_OF reference — synthesize one when absent (the
    # reference's proto translator does the same normalization)
    if parent and not any(x["refType"] == "CHILD_OF" for x in sp["references"]):
        sp["references"].insert(
            0, {"refType": "CHILD_OF", "traceID": trace_id, "spanID": hex16(parent)}
        )
    sp["process"] = {"serviceName": service_name}
    return sp


def decode_batch(blob: bytes) -> list[dict]:
    """TBinaryProtocol Batch → Jaeger-JSON-shaped span dicts."""
    r = Reader(blob)
    service_name = ""
    spans: list[dict] = []
    for fid, ftype in r.fields():
        if fid == 1 and ftype == STRUCT:
            for pfid, pftype in r.fields():
                if pfid == 1 and pftype == STRING:
                    service_name = r.string()
                else:
                    r.skip(pftype)
        elif fid == 2 and ftype == LIST:
            spans = [_read_span(r, service_name) for _ in range(r.list_header())]
        else:
            r.skip(ftype)
    for sp in spans:
        sp["process"] = {"serviceName": service_name}
    return spans


def encode_batch(spans: list[dict], service_name: str | None = None) -> bytes:
    """Jaeger-JSON-shaped span dicts → TBinaryProtocol Batch."""
    if service_name is None:
        service_name = (
            spans[0].get("process", {}).get("serviceName", "") if spans else ""
        )
    w = Writer()
    w.field(1, STRUCT)  # process
    w.field(1, STRING)
    w.string(service_name)
    w.stop()
    w.field(2, LIST)
    w.list_header(len(spans))
    for sp in spans:
        tid = sp["traceID"]
        low, high = signed64(tid[-16:]), signed64(tid[:-16]) if len(tid) > 16 else 0
        w.field(1, I64)
        w.i64(low)
        if high:
            w.field(2, I64)
            w.i64(high)
        w.field(3, I64)
        w.i64(signed64(sp["spanID"]))
        child = [x for x in sp.get("references") or [] if x["refType"] == "CHILD_OF"]
        if child:
            w.field(4, I64)
            w.i64(signed64(child[0]["spanID"]))
        if sp.get("operationName") is not None:
            w.field(5, STRING)
            w.string(sp["operationName"])
        if sp.get("references"):
            w.field(6, LIST)
            w.list_header(len(sp["references"]))
            for ref in sp["references"]:
                w.field(1, I32)
                w.i32(0 if ref["refType"] == "CHILD_OF" else 1)
                rt = ref["traceID"]
                w.field(2, I64)
                w.i64(signed64(rt[-16:]))
                if len(rt) > 16 and signed64(rt[:-16]):
                    w.field(3, I64)
                    w.i64(signed64(rt[:-16]))
                w.field(4, I64)
                w.i64(signed64(ref["spanID"]))
                w.stop()
        if sp.get("startTime") is not None:
            w.field(8, I64)
            w.i64(sp["startTime"])
        if sp.get("duration") is not None:
            w.field(9, I64)
            w.i64(sp["duration"])
        if sp.get("tags"):
            w.field(10, LIST)
            w.list_header(len(sp["tags"]))
            for t in sp["tags"]:
                w.field(1, STRING)
                w.string(t["key"])
                ttype = t.get("type", "string")
                vtype = {v: k for k, v in _VTYPE_NAMES.items()}.get(ttype, 0)
                w.field(2, I32)
                w.i32(vtype)
                if vtype == 1:
                    w.field(4, DOUBLE)
                    w.double(float(t["value"]))
                elif vtype == 2:
                    w.field(5, BOOL)
                    w.byte(1 if t["value"] == "true" else 0)
                elif vtype == 3:
                    w.field(6, I64)
                    w.i64(int(t["value"]))
                elif vtype == 4:
                    w.field(7, STRING)
                    w.string(bytes.fromhex(t["value"]))
                else:
                    w.field(3, STRING)
                    w.string(t["value"])
                w.stop()
        w.stop()  # end span
    w.stop()  # end batch struct
    return bytes(w.out)


# -- Spark surface ----------------------------------------------------------
# The shared bridge (sources/wirebridge.py) carries the Jaeger JSON lines of
# sources/jaeger_json.py across the Python boundary.


def jaeger_thrift_to_spans(df: DataFrame, bin_col: str = "thrift") -> DataFrame:
    """Thrift Batch wire → span table via the shared Jaeger JSON
    semantic layer (one JSON line per decoded span)."""
    from .jaeger_json import jaeger_json_to_spans

    return jaeger_json_to_spans(decode_blobs(df, bin_col, decode_batch, "jaeger"))


def spans_to_jaeger_thrift(
    spans: DataFrame, service_name: str = "transcripts"
) -> DataFrame:
    """Span table → one thrift-encoded single-span Batch per row."""
    from .jaeger_json import spans_to_jaeger_json

    return encode_lines(
        spans_to_jaeger_json(spans, service_name),
        "jaeger",
        lambda sp: encode_batch([sp], service_name),
        "thrift",
    )
