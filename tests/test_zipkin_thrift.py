"""Zipkin v1 thrift wire format: pure-Python TBinaryProtocol codec
goldens + the Spark decode path feeding the shared v1 semantics
(zipkinv1_thrift_to_protospan.go)."""

import struct

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sources.zipkin_thrift import (
    decode_span_list,
    encode_span_list,
    spans_to_zipkin_thrift,
    zipkin_thrift_to_spans,
)

SPAN = {
    "traceId": "00000000000004d2" + "00000000000010e1",
    "id": "00000000000004d3",
    "parentId": "00000000000004d2",
    "name": "get /api",
    "timestamp": 1_700_000_000_000_000,
    "duration": 1500,
    "annotations": [
        {"timestamp": 1_700_000_000_000_000, "value": "sr",
         "endpoint": {"serviceName": "front"}},
        {"timestamp": 1_700_000_000_001_500, "value": "ss",
         "endpoint": {"serviceName": "front"}},
    ],
    "binaryAnnotations": [
        {"key": "http.status_code", "value": "404",
         "endpoint": {"serviceName": "front"}},
        {"key": "conv_id", "value": "conv-1"},
        {"key": "turn_idx", "value": "3"},
    ],
}


class TestCodec:
    def test_round_trip(self):
        back = decode_span_list(encode_span_list([SPAN, SPAN]))
        assert len(back) == 2
        got = back[0]
        for k in ("traceId", "id", "parentId", "name", "timestamp", "duration"):
            assert got[k] == SPAN[k], k
        assert [a["value"] for a in got["annotations"]] == ["sr", "ss"]
        assert got["annotations"][0]["endpoint"]["serviceName"] == "front"
        assert {b["key"]: b["value"] for b in got["binaryAnnotations"]} == {
            "http.status_code": "404", "conv_id": "conv-1", "turn_idx": "3",
        }

    def test_unknown_fields_are_skipped(self):
        # forward-compat: splice an unknown i32 field (id 99) into a span
        blob = bytearray(encode_span_list([SPAN]))
        # insert after the list header (1 byte type + 4 byte count)
        unknown = struct.pack(">bhi", 8, 99, 7)  # I32 field id=99 value=7
        blob[5:5] = unknown
        back = decode_span_list(bytes(blob))
        assert back[0]["name"] == SPAN["name"]

    def test_negative_i64_ids(self):
        span = dict(SPAN, id="fffffffffffffffe", traceId="f" * 16)
        span["id"] = "fffffffffffffffe"
        back = decode_span_list(encode_span_list([span]))
        assert back[0]["id"] == "fffffffffffffffe"
        assert back[0]["traceId"] == "f" * 16

    def test_typed_binary_annotation_values(self):
        # hand-encode an I64-typed binary annotation (AnnotationType 4)
        from opentelemetry_collector_spark.functions.thrift_binary import (
            I32, I64, LIST, STRING, Writer,
        )

        w = Writer()
        w.list_header(1)                    # list<struct>[1]
        w.field(4, I64); w.i64(1)           # span id
        w.field(1, I64); w.i64(2)           # trace id
        w.field(8, LIST); w.list_header(1)
        w.field(1, STRING); w.string(b"n")
        w.field(2, STRING); w.string(struct.pack(">q", 12345))
        w.field(3, I32); w.i32(4)           # AnnotationType.I64
        w.stop()                             # end binary annotation
        w.stop()                             # end span
        back = decode_span_list(bytes(w.out))
        assert back[0]["binaryAnnotations"][0]["value"] == "12345"

    @pytest.mark.parametrize("count", [50_000_000, 2**31 - 1, -1])
    def test_garbage_list_count_refused_not_spun(self, count):
        # 13 bytes: list<struct>[1] whose span opens with an unknown
        # field holding a list<bool> of ``count`` elements; skipping it
        # must refuse the count, not step the cursor ``count`` times
        import time

        from opentelemetry_collector_spark.functions.thrift_binary import (
            BOOL, LIST, Writer,
        )

        w = Writer()
        w.list_header(1)
        w.field(99, LIST)
        w.list_header(count, BOOL)
        assert len(w.out) == 13
        t0 = time.perf_counter()
        with pytest.raises(ValueError, match="list count"):
            decode_span_list(bytes(w.out))
        assert time.perf_counter() - t0 < 1.0

    def test_deep_nesting_refused_not_recursed(self):
        # 6,005 bytes: list<struct>[1] whose span opens 2,000 nested
        # unknown struct fields; skipping them must stop at the depth
        # limit with ValueError, not raise RecursionError
        from opentelemetry_collector_spark.functions.thrift_binary import (
            STRUCT, Writer,
        )

        w = Writer()
        w.list_header(1)
        for _ in range(2000):
            w.field(99, STRUCT)
        assert len(w.out) == 6005
        with pytest.raises(ValueError, match="nesting deeper than 64"):
            decode_span_list(bytes(w.out))


class TestSparkPath:
    # slow lane: thrift wire roundtrips; span_wire_roundtrips driver row re-verifies
    pytestmark = pytest.mark.slow
    def test_thrift_request_to_spans(self, spark):
        df = spark.createDataFrame(
            [(bytearray(encode_span_list([SPAN])),)], "thrift binary"
        )
        r = zipkin_thrift_to_spans(df).first()
        assert r["trace_id"] == "conv-1" and r["turn_idx"] == 3
        assert r["kind"] == "SERVER"          # sr/ss annotations
        assert r["status_code"] == 5          # http 404 → NOT_FOUND
        assert r["attrs"]["http.status_code"] == "404"
        assert r["start_ts"].timestamp() == 1_700_000_000.0

    def test_span_table_round_trip(self, spark, tiny_transcripts):
        from opentelemetry_collector_spark.operators.traces import (
            transcripts_to_spans,
        )
        from opentelemetry_collector_spark.plans.pipeline import parse_stage

        spans = transcripts_to_spans(
            parse_stage(tiny_transcripts, engine="jvm")
        ).cache()
        back = zipkin_thrift_to_spans(spans_to_zipkin_thrift(spans))
        key = [
            "trace_id", "span_id", "parent_span_id", "turn_idx",
            "name", "kind", "status_code",
        ]
        assert back.count() == spans.count()
        assert back.select(key).subtract(spans.select(key)).count() == 0
        assert spans.select(key).subtract(back.select(key)).count() == 0
