"""OTLP BINARY protobuf wire format — the encoding every real OTLP
gRPC client ships and the reference's OTLP receiver decodes
(receiver/otlpreceiver/logs/otlp.go:53-77, trace/otlp.go; message
shapes from the vendored v0.17 proto,
internal/data/opentelemetry-proto-gen/logs/v1/logs.pb.go:158-305 and
trace/v1/trace.pb.go:193-394).

Decoded blobs are re-emitted as the protobuf-JSON (jsonpb) lines the
existing ``otlp_json`` layer speaks — base64 bytes ids, uint64-as-
string nanos, enum names — so the SEMANTIC translation (tree walk,
attribute maps, kind/status restore) is the one implementation in
``otlp_json.py``: the same one-semantic-layer / many-wire-formats
funnel as the thrift pair (sources/jaeger_thrift.py).

Field numbers (from the generated pb.go files above):
  ExportLogsServiceRequest:  1 resource_logs(rep ResourceLogs)
  ExportTraceServiceRequest: 1 resource_spans(rep ResourceSpans)
  ResourceLogs:  1 resource  2 instrumentation_library_logs(rep)
  ResourceSpans: 1 resource  2 instrumentation_library_spans(rep)
  Resource:      1 attributes(rep KeyValue) 2 dropped_count(varint)
  InstrumentationLibraryLogs/Spans: 1 library 2 logs/spans(rep)
  InstrumentationLibrary: 1 name 2 version
  KeyValue: 1 key(str) 2 value(AnyValue)
  AnyValue (oneof): 1 string 2 bool 3 int(varint) 4 double(fixed64)
  LogRecord: 1 time_unix_nano(fixed64) 2 severity_number(varint)
             3 severity_text 4 name 5 body(AnyValue)
             6 attributes(rep KeyValue) 8 flags(fixed32)
             9 trace_id(bytes) 10 span_id(bytes)
  Span: 1 trace_id 2 span_id 3 trace_state 4 parent_span_id 5 name
        6 kind(varint) 7 start_time_unix_nano(fixed64)
        8 end_time_unix_nano(fixed64) 9 attributes(rep KeyValue)
        15 status(Status)
  Status: 2 message 3 code(varint)  [1 deprecated_code skipped]
"""

from __future__ import annotations

import base64
import struct

from pyspark.sql import DataFrame

from ..functions.proto_binary import FIXED64, LEN, VARINT, Reader, Writer
from .wirebridge import decode_blobs, encode_lines

_SPAN_KINDS = [
    "SPAN_KIND_UNSPECIFIED",
    "SPAN_KIND_INTERNAL",
    "SPAN_KIND_SERVER",
    "SPAN_KIND_CLIENT",
    "SPAN_KIND_PRODUCER",
    "SPAN_KIND_CONSUMER",
]
_KIND_TO_NUM = {name: i for i, name in enumerate(_SPAN_KINDS)}


# ---------------------------------------------------------------------------
# shared sub-messages (common.pb.go:85-381)
# ---------------------------------------------------------------------------


def _read_any_value(r: Reader) -> dict:
    v: dict = {}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            v = {"stringValue": r.string()}
        elif fid == 2 and wt == VARINT:
            v = {"boolValue": bool(r.varint())}
        elif fid == 3 and wt == VARINT:
            v = {"intValue": str(r.int64())}  # jsonpb: int64 as string
        elif fid == 4 and wt == FIXED64:
            v = {"doubleValue": r.double()}
        else:
            r.skip(wt)
    return v


def _write_any_value(v: dict) -> Writer:
    w = Writer()
    # a set proto3 oneof member is emitted even when zero-valued
    if "stringValue" in v:
        w.string(1, v["stringValue"], keep_empty=True)
    elif "boolValue" in v:
        w.tag(2, VARINT)
        w.varint(1 if v["boolValue"] else 0)
    elif "intValue" in v:
        w.tag(3, VARINT)
        w.varint(int(v["intValue"]))
    elif "doubleValue" in v:
        w.tag(4, FIXED64)
        w.out += struct.pack("<d", float(v["doubleValue"]))
    return w


def _read_kv(r: Reader) -> dict:
    kv = {"key": "", "value": {}}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            kv["key"] = r.string()
        elif fid == 2 and wt == LEN:
            kv["value"] = _read_any_value(r.message())
        else:
            r.skip(wt)
    return kv


def _write_kv(kv: dict) -> Writer:
    w = Writer()
    w.string(1, kv.get("key", ""))
    w.message(2, _write_any_value(kv.get("value") or {}), keep_empty=True)
    return w


def _read_resource(r: Reader) -> dict:
    attrs = []
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            attrs.append(_read_kv(r.message()))
        else:
            r.skip(wt)
    return {"attributes": attrs}


def _write_resource(res: dict) -> Writer:
    w = Writer()
    for kv in res.get("attributes") or []:
        w.message(1, _write_kv(kv), keep_empty=True)
    return w


def _read_library(r: Reader) -> dict:
    lib = {}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            lib["name"] = r.string()
        else:
            r.skip(wt)
    return lib


def _write_library(lib: dict) -> Writer:
    w = Writer()
    w.string(1, lib.get("name", ""))
    return w


# ---------------------------------------------------------------------------
# logs signal (logs.pb.go:158-305)
# ---------------------------------------------------------------------------


def _read_log_record(r: Reader) -> dict:
    rec: dict = {}
    attrs: list = []
    for fid, wt in r.fields():
        if fid == 1 and wt == FIXED64:
            rec["timeUnixNano"] = str(r.fixed64())
        elif fid == 3 and wt == LEN:
            rec["severityText"] = r.string()
        elif fid == 4 and wt == LEN:
            rec["name"] = r.string()
        elif fid == 5 and wt == LEN:
            rec["body"] = _read_any_value(r.message())
        elif fid == 6 and wt == LEN:
            attrs.append(_read_kv(r.message()))
        else:
            r.skip(wt)
    if attrs:
        rec["attributes"] = attrs
    return rec


def _write_log_record(rec: dict) -> Writer:
    w = Writer()
    w.fixed64(1, int(rec.get("timeUnixNano") or 0))
    w.string(3, rec.get("severityText") or "")
    w.string(4, rec.get("name") or "")
    if rec.get("body") is not None:
        w.message(5, _write_any_value(rec["body"]), keep_empty=True)
    for kv in rec.get("attributes") or []:
        w.message(6, _write_kv(kv), keep_empty=True)
    return w


def decode_logs_request(blob: bytes) -> dict:
    """Binary ExportLogsServiceRequest → jsonpb-shaped dict (the
    ``OTLP_LOGS_SCHEMA`` tree)."""
    resource_logs = []
    r = Reader(blob)
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            rl: dict = {"instrumentationLibraryLogs": []}
            rl_r = r.message()
            for rfid, rwt in rl_r.fields():
                if rfid == 1 and rwt == LEN:
                    rl["resource"] = _read_resource(rl_r.message())
                elif rfid == 2 and rwt == LEN:
                    ill_r = rl_r.message()
                    ill: dict = {"logs": []}
                    for ifid, iwt in ill_r.fields():
                        if ifid == 1 and iwt == LEN:
                            ill["instrumentationLibrary"] = _read_library(
                                ill_r.message()
                            )
                        elif ifid == 2 and iwt == LEN:
                            ill["logs"].append(_read_log_record(ill_r.message()))
                        else:
                            ill_r.skip(iwt)
                    rl["instrumentationLibraryLogs"].append(ill)
                else:
                    rl_r.skip(rwt)
            resource_logs.append(rl)
        else:
            r.skip(wt)
    return {"resourceLogs": resource_logs}


def encode_logs_request(req: dict) -> bytes:
    """jsonpb-shaped dict → binary ExportLogsServiceRequest."""
    w = Writer()
    for rl in req.get("resourceLogs") or []:
        rl_w = Writer()
        if rl.get("resource") is not None:
            rl_w.message(1, _write_resource(rl["resource"]), keep_empty=True)
        for ill in rl.get("instrumentationLibraryLogs") or []:
            ill_w = Writer()
            if ill.get("instrumentationLibrary") is not None:
                ill_w.message(
                    1, _write_library(ill["instrumentationLibrary"]), keep_empty=True
                )
            for rec in ill.get("logs") or []:
                ill_w.message(2, _write_log_record(rec), keep_empty=True)
            rl_w.message(2, ill_w, keep_empty=True)
        w.message(1, rl_w, keep_empty=True)
    return bytes(w.out)


# ---------------------------------------------------------------------------
# trace signal (trace.pb.go:193-394,672-676)
# ---------------------------------------------------------------------------

_B64 = base64.b64encode
_UNB64 = base64.b64decode


def _read_span(r: Reader) -> dict:
    sp: dict = {}
    attrs: list = []
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            sp["traceId"] = _B64(r.bytes_()).decode()
        elif fid == 2 and wt == LEN:
            sp["spanId"] = _B64(r.bytes_()).decode()
        elif fid == 4 and wt == LEN:
            sp["parentSpanId"] = _B64(r.bytes_()).decode()
        elif fid == 5 and wt == LEN:
            sp["name"] = r.string()
        elif fid == 6 and wt == VARINT:
            # unknown enum values (forward-version kinds) must not fail
            # the batch — real proto decoders accept them; fall back to
            # UNSPECIFIED like the .get() paths for zipkin kind /
            # temporality do
            k = r.varint()
            sp["kind"] = (
                _SPAN_KINDS[k] if 0 <= k < len(_SPAN_KINDS) else _SPAN_KINDS[0]
            )
        elif fid == 7 and wt == FIXED64:
            sp["startTimeUnixNano"] = str(r.fixed64())
        elif fid == 8 and wt == FIXED64:
            sp["endTimeUnixNano"] = str(r.fixed64())
        elif fid == 9 and wt == LEN:
            attrs.append(_read_kv(r.message()))
        elif fid == 15 and wt == LEN:
            code = 0
            st_r = r.message()
            for sfid, swt in st_r.fields():
                if sfid == 3 and swt == VARINT:
                    code = st_r.varint()
                else:
                    st_r.skip(swt)
            if code:
                sp["status"] = {"code": code}
        else:
            r.skip(wt)
    if attrs:
        sp["attributes"] = attrs
    return sp


def _write_span(sp: dict) -> Writer:
    w = Writer()
    if sp.get("traceId"):
        w.bytes_(1, _UNB64(sp["traceId"]))
    if sp.get("spanId"):
        w.bytes_(2, _UNB64(sp["spanId"]))
    if sp.get("parentSpanId"):
        w.bytes_(4, _UNB64(sp["parentSpanId"]))
    w.string(5, sp.get("name") or "")
    w.int_(6, _KIND_TO_NUM.get(sp.get("kind") or "SPAN_KIND_UNSPECIFIED", 0))
    w.fixed64(7, int(sp.get("startTimeUnixNano") or 0))
    w.fixed64(8, int(sp.get("endTimeUnixNano") or 0))
    for kv in sp.get("attributes") or []:
        w.message(9, _write_kv(kv), keep_empty=True)
    if sp.get("status") is not None:
        st_w = Writer()
        st_w.int_(3, int(sp["status"].get("code") or 0))
        w.message(15, st_w, keep_empty=True)
    return w


def decode_traces_request(blob: bytes) -> dict:
    """Binary ExportTraceServiceRequest → jsonpb-shaped dict (the
    ``OTLP_TRACES_SCHEMA`` tree)."""
    resource_spans = []
    r = Reader(blob)
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            rs: dict = {"instrumentationLibrarySpans": []}
            rs_r = r.message()
            for rfid, rwt in rs_r.fields():
                if rfid == 1 and rwt == LEN:
                    rs["resource"] = _read_resource(rs_r.message())
                elif rfid == 2 and rwt == LEN:
                    ils_r = rs_r.message()
                    ils: dict = {"spans": []}
                    for ifid, iwt in ils_r.fields():
                        if ifid == 1 and iwt == LEN:
                            ils["instrumentationLibrary"] = _read_library(
                                ils_r.message()
                            )
                        elif ifid == 2 and iwt == LEN:
                            ils["spans"].append(_read_span(ils_r.message()))
                        else:
                            ils_r.skip(iwt)
                    rs["instrumentationLibrarySpans"].append(ils)
                else:
                    rs_r.skip(rwt)
            resource_spans.append(rs)
        else:
            r.skip(wt)
    return {"resourceSpans": resource_spans}


def encode_traces_request(req: dict) -> bytes:
    """jsonpb-shaped dict → binary ExportTraceServiceRequest."""
    w = Writer()
    for rs in req.get("resourceSpans") or []:
        rs_w = Writer()
        if rs.get("resource") is not None:
            rs_w.message(1, _write_resource(rs["resource"]), keep_empty=True)
        for ils in rs.get("instrumentationLibrarySpans") or []:
            ils_w = Writer()
            if ils.get("instrumentationLibrary") is not None:
                ils_w.message(
                    1, _write_library(ils["instrumentationLibrary"]), keep_empty=True
                )
            for sp in ils.get("spans") or []:
                ils_w.message(2, _write_span(sp), keep_empty=True)
            rs_w.message(2, ils_w, keep_empty=True)
        w.message(1, rs_w, keep_empty=True)
    return bytes(w.out)


# ---------------------------------------------------------------------------
# Spark surface: the shared bridge (sources/wirebridge.py) carries the
# jsonpb lines of sources/otlp_json.py across the Python boundary
# ---------------------------------------------------------------------------


def logs_to_otlp_proto(
    df: DataFrame, resource_key: str = "conv_id", library_name: str = "transcripts"
) -> DataFrame:
    """Flat records → one binary ExportLogsServiceRequest blob per
    resource group (the otlp exporter's wire payload)."""
    from .otlp_json import logs_to_otlp_json

    j = logs_to_otlp_json(df, resource_key, library_name)
    return encode_lines(j, "otlp", encode_logs_request, "proto")


def logs_from_otlp_proto(df: DataFrame, bin_col: str = "proto") -> DataFrame:
    """Binary OTLP logs request blobs → flat records via the shared
    protobuf-JSON semantic layer (the otlpreceiver path)."""
    from .otlp_json import logs_from_otlp_json

    return logs_from_otlp_json(
        decode_blobs(df, bin_col, lambda b: [decode_logs_request(b)], "otlp")
    )


def spans_to_otlp_proto(
    spans: DataFrame, library_name: str = "transcripts"
) -> DataFrame:
    """Span table → one binary ExportTraceServiceRequest blob per
    trace."""
    from .otlp_json import spans_to_otlp_json

    j = spans_to_otlp_json(spans, library_name)
    return encode_lines(j, "otlp", encode_traces_request, "proto")


def otlp_proto_to_spans(df: DataFrame, bin_col: str = "proto") -> DataFrame:
    """Binary OTLP trace request blobs → span table."""
    from .otlp_json import otlp_json_to_spans

    return otlp_json_to_spans(
        decode_blobs(df, bin_col, lambda b: [decode_traces_request(b)], "otlp")
    )


# ---------------------------------------------------------------------------
# metric signal (metrics.pb.go:293-390 tagged-union Metric,
# IntDataPoint:889-914 / DoubleDataPoint:987-1012 — note the v0.17
# vintage encodes datapoint values and nanos as FIXED64, not varint)
# ---------------------------------------------------------------------------

_TEMPORALITY_ENUM = {
    "AGGREGATION_TEMPORALITY_UNSPECIFIED": 0,
    "AGGREGATION_TEMPORALITY_DELTA": 1,
    "AGGREGATION_TEMPORALITY_CUMULATIVE": 2,
}
_TEMPORALITY_BY_ENUM = {v: k for k, v in _TEMPORALITY_ENUM.items()}


def _read_string_kv(r: Reader) -> dict:
    kv = {"key": "", "value": ""}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            kv["key"] = r.string()
        elif fid == 2 and wt == LEN:
            kv["value"] = r.string()
        else:
            r.skip(wt)
    return kv


def _write_string_kv(kv: dict) -> Writer:
    w = Writer()
    w.string(1, kv.get("key") or "")
    w.string(2, kv.get("value") or "")
    return w


def _read_number_dp(r: Reader, int_side: bool) -> dict:
    # proto3 zero-elision: absent fields restore their jsonpb defaults
    dp: dict = {"timeUnixNano": "0", "value": "0" if int_side else 0.0}
    labels: list = []
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            labels.append(_read_string_kv(r.message()))
        elif fid == 2 and wt == FIXED64:
            dp["startTimeUnixNano"] = str(r.fixed64())
        elif fid == 3 and wt == FIXED64:
            dp["timeUnixNano"] = str(r.fixed64())
        elif fid == 4 and wt == FIXED64:
            if int_side:
                v = r.fixed64()  # sfixed64 (Go int64 with fixed64 tag)
                dp["value"] = str(v - (1 << 64) if v >= 1 << 63 else v)
            else:
                dp["value"] = r.double()
        else:
            r.skip(wt)
    if labels:
        dp["labels"] = labels
    return dp


def _write_number_dp(dp: dict, int_side: bool) -> Writer:
    w = Writer()
    for kv in dp.get("labels") or []:
        w.message(1, _write_string_kv(kv), keep_empty=True)
    w.fixed64(2, int(dp.get("startTimeUnixNano") or 0))
    w.fixed64(3, int(dp.get("timeUnixNano") or 0))
    if int_side:
        v = int(dp.get("value") or 0)
        w.fixed64(4, v + (1 << 64) if v < 0 else v)
    else:
        w.double(4, float(dp.get("value") or 0.0))
    return w


def _read_gauge(r: Reader, int_side: bool) -> dict:
    dps = []
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            dps.append(_read_number_dp(r.message(), int_side))
        else:
            r.skip(wt)
    return {"dataPoints": dps}


def _read_sum(r: Reader, int_side: bool) -> dict:
    out: dict = {"dataPoints": []}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            out["dataPoints"].append(_read_number_dp(r.message(), int_side))
        elif fid == 2 and wt == VARINT:
            name = _TEMPORALITY_BY_ENUM.get(r.varint())
            if name and name != "AGGREGATION_TEMPORALITY_UNSPECIFIED":
                out["aggregationTemporality"] = name
        elif fid == 3 and wt == VARINT:
            out["isMonotonic"] = bool(r.varint())
        else:
            r.skip(wt)
    return out


def _write_points(w: Writer, payload: dict, int_side: bool) -> None:
    for dp in payload.get("dataPoints") or []:
        w.message(1, _write_number_dp(dp, int_side), keep_empty=True)


def _read_metric(r: Reader) -> dict:
    m: dict = {}
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            m["name"] = r.string()
        elif fid == 2 and wt == LEN:
            m["description"] = r.string()
        elif fid == 3 and wt == LEN:
            m["unit"] = r.string()
        elif fid == 4 and wt == LEN:
            m["intGauge"] = _read_gauge(r.message(), True)
        elif fid == 5 and wt == LEN:
            m["doubleGauge"] = _read_gauge(r.message(), False)
        elif fid == 6 and wt == LEN:
            m["intSum"] = _read_sum(r.message(), True)
        elif fid == 7 and wt == LEN:
            m["doubleSum"] = _read_sum(r.message(), False)
        else:
            r.skip(wt)
    return m


def _write_metric(m: dict) -> Writer:
    w = Writer()
    w.string(1, m.get("name") or "")
    w.string(2, m.get("description") or "")
    w.string(3, m.get("unit") or "")
    unions = (
        (4, "intGauge", True, False),
        (5, "doubleGauge", False, False),
        (6, "intSum", True, True),
        (7, "doubleSum", False, True),
    )
    for fid, key, int_side, is_sum in unions:
        payload = m.get(key)
        if payload is None:
            continue
        pw = Writer()
        _write_points(pw, payload, int_side)
        if is_sum:
            pw.int_(
                2, _TEMPORALITY_ENUM.get(payload.get("aggregationTemporality") or "", 0)
            )
            pw.bool_(3, bool(payload.get("isMonotonic")))
        w.message(fid, pw, keep_empty=True)
    return w


def encode_metrics_request(metrics: list[dict]) -> bytes:
    """jsonpb-shaped Metric dicts → binary ExportMetricsServiceRequest
    (metrics_service.pb.go: resource_metrics=1 → ResourceMetrics
    {resource=1, instrumentation_library_metrics=2} → ILM
    {instrumentation_library=1, metrics=2}); one ResourceMetrics/ILM
    wrapping, mirroring the logs/traces encoders' one-group-per-blob
    layout."""
    w = Writer()
    rm_w = Writer()
    ilm_w = Writer()
    for m in metrics:
        ilm_w.message(2, _write_metric(m), keep_empty=True)
    rm_w.message(2, ilm_w, keep_empty=True)
    w.message(1, rm_w, keep_empty=True)
    return bytes(w.out)


def decode_metrics_request(blob: bytes) -> list[dict]:
    """Binary ExportMetricsServiceRequest → list of jsonpb-shaped
    Metric dicts (the granularity of sources/otlp_json's metric
    lines), walking every ResourceMetrics/ILM group."""
    metrics: list[dict] = []
    r = Reader(blob)
    for fid, wt in r.fields():
        if fid == 1 and wt == LEN:
            rm_r = r.message()
            for rfid, rwt in rm_r.fields():
                if rfid == 2 and rwt == LEN:
                    ilm_r = rm_r.message()
                    for ifid, iwt in ilm_r.fields():
                        if ifid == 2 and iwt == LEN:
                            metrics.append(_read_metric(ilm_r.message()))
                        else:
                            ilm_r.skip(iwt)
                else:
                    rm_r.skip(rwt)
        else:
            r.skip(wt)
    return metrics


def metrics_to_otlp_proto(dps: DataFrame) -> DataFrame:
    """Datapoint rows → one binary ExportMetricsServiceRequest blob
    per metric (the otlp exporter's metric wire payload)."""
    from .otlp_json import metrics_to_otlp_json

    return encode_lines(
        metrics_to_otlp_json(dps), "otlp", lambda m: encode_metrics_request([m]), "proto"
    )


def metrics_from_otlp_proto(df: DataFrame, bin_col: str = "proto") -> DataFrame:
    """Binary OTLP metrics request blobs → datapoint rows; a request
    carrying several metrics fans out to several Metric lines before
    the shared JSON semantic layer."""
    from .otlp_json import metrics_from_otlp_json

    return metrics_from_otlp_json(
        decode_blobs(df, bin_col, decode_metrics_request, "otlp")
    )
