"""Zipkin v2 protobuf wire (``application/x-protobuf``): the
``ListOfSpans`` encoding the reference's Zipkin receiver parses
(receiver/zipkinreceiver/trace_receiver.go:166-171 via
zipkin-go ``zipkin_proto3.ParseSpans``; span shapes pinned by
receiver/zipkinreceiver/proto_parse_test.go:47-100 — e.g. timestamps
are fixed64 MICROseconds, ids are raw bytes).

Message layout (public openzipkin zipkin-api ``zipkin.proto``):

    ListOfSpans { repeated Span spans = 1; }
    Span { bytes trace_id = 1; bytes parent_id = 2; bytes id = 3;
           Kind kind = 4 (CLIENT=1 SERVER=2 PRODUCER=3 CONSUMER=4);
           string name = 5; fixed64 timestamp = 6; uint64 duration = 7;
           Endpoint local_endpoint = 8; Endpoint remote_endpoint = 9;
           repeated Annotation annotations = 10;
           map<string, string> tags = 11; bool debug = 12;
           bool shared = 13; }
    Endpoint { string service_name = 1; bytes ipv4 = 2; bytes ipv6 = 3;
               int32 port = 4; }
    Annotation { fixed64 timestamp = 1; string value = 2; }

Decoded spans funnel through the v2 JSON semantic layer
(``sources/zipkin_json.py``), so the field semantics (INTERNAL kind =
absent, status tag riding, micro timestamps) stay single-sourced."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.proto_binary import FIXED64, LEN, VARINT, Reader, Writer
from .wirebridge import decode_blobs, encode_lines

_KIND_ENUM = {"CLIENT": 1, "SERVER": 2, "PRODUCER": 3, "CONSUMER": 4}
_KIND_BY_ENUM = {v: k for k, v in _KIND_ENUM.items()}


def _read_endpoint(r: Reader) -> dict:
    ep: dict = {}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            ep["serviceName"] = r.string()
        else:
            r.skip(wt)  # ipv4/ipv6/port: parsed past, not modeled
    return ep


def _write_endpoint(ep: dict) -> Writer:
    w = Writer()
    w.string(1, ep.get("serviceName") or "")
    return w


def _read_tag(r: Reader) -> tuple[str, str]:
    k = v = ""
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            k = r.string()
        elif fid == 2 and wt == LEN:
            v = r.string()
        else:
            r.skip(wt)
    return k, v


def _read_span(r: Reader) -> dict:
    # proto3 zero-elision: absent time fields restore 0 (a zero
    # duration must come back as 0, not null — end_ts = start + dur)
    sp: dict = {"timestamp": 0, "duration": 0}
    tags: dict = {}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            sp["traceId"] = r.bytes_().hex()
        elif fid == 2 and wt == LEN:
            sp["parentId"] = r.bytes_().hex()
        elif fid == 3 and wt == LEN:
            sp["id"] = r.bytes_().hex()
        elif fid == 4 and wt == VARINT:
            kind = _KIND_BY_ENUM.get(r.varint())
            if kind:
                sp["kind"] = kind
        elif fid == 5 and wt == LEN:
            sp["name"] = r.string()
        elif fid == 6 and wt == FIXED64:
            sp["timestamp"] = r.fixed64()
        elif fid == 7 and wt == VARINT:
            sp["duration"] = r.varint()
        elif fid == 8 and wt == LEN:
            sp["localEndpoint"] = _read_endpoint(r.message())
        elif fid == 11 and wt == LEN:
            k, v = _read_tag(r.message())
            tags[k] = v
        else:
            r.skip(wt)  # remote_endpoint/annotations/debug/shared
    if tags:
        sp["tags"] = tags
    return sp


def _write_span(sp: dict) -> Writer:
    w = Writer()
    w.bytes_(1, bytes.fromhex(sp.get("traceId") or ""))
    if sp.get("parentId"):
        w.bytes_(2, bytes.fromhex(sp["parentId"]))
    w.bytes_(3, bytes.fromhex(sp.get("id") or ""))
    w.int_(4, _KIND_ENUM.get(sp.get("kind") or "", 0))
    w.string(5, sp.get("name") or "")
    w.fixed64(6, int(sp.get("timestamp") or 0))
    w.int_(7, int(sp.get("duration") or 0))
    if sp.get("localEndpoint") is not None:
        w.message(8, _write_endpoint(sp["localEndpoint"]), keep_empty=True)
    for k in sorted(sp.get("tags") or {}):
        tag_w = Writer()
        tag_w.string(1, k)
        tag_w.string(2, sp["tags"][k])
        w.message(11, tag_w, keep_empty=True)
    return w


def encode_list_of_spans(spans: list[dict]) -> bytes:
    """v2-JSON-shaped span dicts → binary ``ListOfSpans``."""
    w = Writer()
    for sp in spans:
        w.message(1, _write_span(sp), keep_empty=True)
    return bytes(w.out)


def decode_list_of_spans(blob: bytes) -> list[dict]:
    """Binary ``ListOfSpans`` → v2-JSON-shaped span dicts."""
    spans = []
    r = Reader(blob)
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            spans.append(_read_span(r.message()))
        else:
            r.skip(wt)
    return spans


# -- Spark surface ----------------------------------------------------------
# The shared bridge (sources/wirebridge.py) carries the v2 JSON lines of
# sources/zipkin_json.py across the Python boundary.


def spans_to_zipkin_proto(spans: DataFrame, service_name: str = "transcripts") -> DataFrame:
    """Span table → one binary single-span ``ListOfSpans`` per row
    (the receiver accepts any batching; one-per-row mirrors the other
    proto encoders)."""
    from .zipkin_json import spans_to_zipkin_json

    return encode_lines(
        spans_to_zipkin_json(spans, service_name),
        "zipkin",
        lambda sp: encode_list_of_spans([sp]),
        "proto",
    )


def zipkin_proto_to_spans(df: DataFrame, bin_col: str = "proto") -> DataFrame:
    """Binary ``ListOfSpans`` blobs → span table via the shared v2
    JSON semantic layer (a multi-span list fans out)."""
    from .zipkin_json import zipkin_json_to_spans

    return zipkin_json_to_spans(
        decode_blobs(df, bin_col, decode_list_of_spans, "zipkin")
    )
