"""Fluentd Forward msgpack wire: the shared MessagePack codec
(functions/msgpack_binary.py), the three carrier modes + gzip
PackedForward (receiver/fluentforwardreceiver/conversion.go), and the
Spark transcript round trip."""

import gzip
import struct

import pytest

from opentelemetry_collector_spark.functions.msgpack_binary import (
    EventTime,
    Ext,
    Packer,
    Unpacker,
    packb,
    unpackb,
)
from opentelemetry_collector_spark.sources.fluentforward import (
    decode_event,
    decode_forward_stream,
    encode_forward_event,
    encode_message_events,
    encode_packed_forward_event,
    fluent_to_log_records,
    fluent_to_transcripts,
    packb_event,
    transcripts_to_fluent,
)


class TestMsgpackCodec:
    @pytest.mark.parametrize(
        "v",
        [
            None, True, False,
            0, 1, 127, 128, 255, 256, 65535, 65536, 2**32 - 1, 2**32, 2**63 - 1,
            -1, -32, -33, -128, -129, -(2**15), -(2**31) - 1, -(2**63),
            0.0, 1.5, -2.25,
            "", "hi", "x" * 31, "x" * 32, "x" * 300, "x" * 70000,
            b"", b"\x00\x01\xff", b"y" * 300,
            [], [1, "a", None], list(range(20)),
            {}, {"k": 1}, {"a": [1, {"b": b"c"}]},
        ],
    )
    def test_round_trip(self, v):
        assert unpackb(packb(v)) == v

    def test_large_array_and_map_headers(self):
        arr = list(range(70000))
        assert unpackb(packb(arr)) == arr
        m = {f"k{i}": i for i in range(20)}
        assert unpackb(packb(m)) == m

    def test_event_time_ext_layout(self):
        # timeext.go:44-50 — fixext8 type 0, big-endian u32 sec + u32 ns
        et = EventTime(1_700_000_000 & 0xFFFFFFFF, 123_456_789)
        blob = packb(et)
        assert blob[0] == 0xD7 and struct.unpack_from(">b", blob, 1)[0] == 0
        back = unpackb(blob)
        assert isinstance(back, EventTime)
        assert back.seconds == 1_700_000_000 & 0xFFFFFFFF
        assert back.nanoseconds == 123_456_789

    def test_non_time_ext_stays_generic(self):
        back = unpackb(packb(Ext(7, b"abc")))
        assert isinstance(back, Ext) and not isinstance(back, EventTime)
        assert back.code == 7 and back.data == b"abc"

    def test_truncated_raises_value_error(self):
        blob = packb({"key": "value", "n": 123456})
        for cut in range(1, len(blob)):
            with pytest.raises(ValueError):
                unpackb(blob[:cut])

    def test_trailing_bytes_raise(self):
        with pytest.raises(ValueError):
            unpackb(packb(1) + b"\x00")

    def test_container_map_keys_raise_value_error(self):
        """Wire-legal maps keyed by array/map/ext have no Python-dict
        form; the codec's single-exception contract is ValueError, not
        the TypeError a bare dict insert would leak."""
        # fixmap{ [1]: 2 }
        with pytest.raises(ValueError, match="map key"):
            unpackb(bytes([0x81, 0x91, 0x01, 0x02]))
        # fixmap{ {1: 2}: 3 }
        with pytest.raises(ValueError, match="map key"):
            unpackb(bytes([0x81, 0x81, 0x01, 0x02, 0x03]))
        # fixmap{ ext: 1 }
        with pytest.raises(ValueError, match="map key"):
            unpackb(bytes([0x81]) + packb(Ext(7, b"x")) + bytes([0x01]))

    def test_float32_decodes(self):
        blob = b"\xca" + struct.pack(">f", 1.5)
        assert unpackb(blob) == 1.5

    def test_peek_type_families(self):
        cases = [
            (packb(5), "int"), (packb(-5), "int"), (packb(2**40), "int"),
            (packb([1]), "array"), (packb("s"), "str"), (packb(b"b"), "bin"),
            (packb(EventTime(1, 2)), "ext"), (packb({"a": 1}), "map"),
            (packb(None), "nil"), (packb(True), "bool"), (packb(1.5), "float"),
        ]
        for blob, want in cases:
            assert Unpacker(blob).peek_type() == want, want


class TestCodecStrictness:
    def test_event_time_rejects_out_of_range(self):
        from opentelemetry_collector_spark.functions.msgpack_binary import (
            EventTime,
        )

        with pytest.raises(ValueError):
            EventTime(-1, 0)  # pre-1970
        with pytest.raises(ValueError):
            EventTime(1 << 32, 0)  # post-2106
        with pytest.raises(ValueError):
            EventTime(0, 1 << 32)
        assert EventTime(0xFFFFFFFF, 999_999_999).seconds == 0xFFFFFFFF

    def test_str_rejects_invalid_utf8(self):
        from opentelemetry_collector_spark.functions.msgpack_binary import (
            Unpacker,
        )

        # fixstr of length 1 whose payload byte is invalid UTF-8
        with pytest.raises(ValueError, match="invalid UTF-8"):
            Unpacker(bytes([0xA1, 0x92])).unpack()

    def test_deep_nesting_refused_not_recursed(self):
        # 3,001 bytes of nested one-element arrays: refused at the depth
        # limit with ValueError, not RecursionError; 64 levels still decode
        with pytest.raises(ValueError, match="nesting deeper than 64"):
            unpackb(b"\x91" * 3000 + b"\x00")
        v = unpackb(b"\x91" * 64 + b"\x00")
        for _ in range(64):
            (v,) = v
        assert v == 0
        with pytest.raises(ValueError, match="nesting deeper than 64"):
            unpackb(b"\x81\x00" * 65 + b"\x00")

    def test_raw_bin_or_str_keeps_bytes(self):
        from opentelemetry_collector_spark.functions.msgpack_binary import (
            Unpacker,
        )

        payload = bytes([0x92, 0x01, 0xA1, 0x6D])
        for header in (bytes([0xC4, 4]), bytes([0xA0 | 4]), bytes([0xD9, 4])):
            u = Unpacker(header + payload)
            assert u.raw_bin_or_str() == payload
        with pytest.raises(ValueError, match="not a bin/str"):
            Unpacker(bytes([0x01])).raw_bin_or_str()

    def test_nested_bytes_in_attr_map_encodes(self):
        blob = packb_event(
            ["t", 1, {"message": "m", "meta": {"sig": b"ab", "n": [1, b"c"]}}]
        )
        (rec,) = decode_forward_stream(blob)
        assert rec["attrs"]["meta"] == '{"sig": "ab", "n": [1, "c"]}'


ENTRIES = [
    (1_700_000_000_123_456_000, {"message": "hello [info]", "conv_id": "c1",
                                 "turn_idx": 0, "role": "user"}),
    (1_700_000_001_000_000_000, {"log": "tool out", "conv_id": "c1",
                                 "turn_idx": 1, "role": "tool", "ok": True,
                                 "latency": 1.25, "n": 7}),
]


class TestForwardModes:
    @pytest.mark.parametrize(
        "encode",
        [
            lambda: encode_message_events("svc.a", ENTRIES),
            lambda: encode_forward_event("svc.a", ENTRIES),
            lambda: encode_packed_forward_event("svc.a", ENTRIES),
            lambda: encode_packed_forward_event("svc.a", ENTRIES, compress=True),
        ],
        ids=["message", "forward", "packed", "packed_gzip"],
    )
    def test_all_modes_decode_identically(self, encode):
        recs = decode_forward_stream(encode())
        assert [r["body"] for r in recs] == ["hello [info]", "tool out"]
        assert [r["time_ns"] for r in recs] == [e[0] for e in ENTRIES]
        for r in recs:
            assert r["attrs"]["fluent.tag"] == "svc.a"
        # message/log keys became the body, NOT attributes
        assert "message" not in recs[0]["attrs"] and "log" not in recs[1]["attrs"]
        # typed attrs survive per insertToAttributeMap
        assert recs[1]["attrs"]["ok"] is True
        assert recs[1]["attrs"]["latency"] == 1.25
        assert recs[1]["attrs"]["n"] == 7

    def test_integer_time_is_seconds(self):
        blob = packb_event(["t", 1_700_000_000, {"message": "m"}])
        (rec,) = decode_forward_stream(blob)
        assert rec["time_ns"] == 1_700_000_000 * 1_000_000_000

    def test_binary_record_keys_and_values(self):
        # conversion.go:149-156 — some clients send binary map keys
        blob = packb_event(["t", 1, {b"message": b"body", b"k": b"v"}])
        (rec,) = decode_forward_stream(blob)
        assert rec["body"] == "body" and rec["attrs"]["k"] == "v"

    def test_nested_values_json_encode(self):
        blob = packb_event(
            ["t", 1, {"message": "m", "deep": {"a": [1, 2]}, "arr": [True]}]
        )
        (rec,) = decode_forward_stream(blob)
        assert rec["attrs"]["deep"] == '{"a": [1, 2]}'
        assert rec["attrs"]["arr"] == "[true]"

    def test_message_mode_with_options_ack(self):
        blob = packb_event(["t", 1, {"message": "m"}, {"chunk": "abc=="}])
        (rec,) = decode_forward_stream(blob)
        assert rec["body"] == "m"

    def test_packed_forward_str_entries(self):
        # entries may arrive as msgpack str instead of bin
        # (conversion.go:366). A real client frames the RAW entry
        # bytes under the str header — they are msgpack, not UTF-8
        # (the leading 0x92 fixarray byte alone is invalid UTF-8), so
        # the decoder must take the payload without text decoding.
        inner = Packer()
        inner.pack([1, {"message": "m"}])
        raw = bytes(inner.out)
        assert raw[0] == 0x92  # genuinely not valid UTF-8 text
        p = Packer()
        p.array_header(2)
        p.pack("t")
        if len(raw) <= 31:
            header = bytes([0xA0 | len(raw)])  # fixstr over raw bytes
        else:
            header = bytes([0xD9, len(raw)])
        blob = bytes(p.out) + header + raw
        (rec,) = decode_forward_stream(blob)
        assert rec["body"] == "m"

    def test_gzip_flag_respected_only_when_set(self):
        inner = Packer()
        inner.pack([1, {"message": "m"}])
        gz = gzip.compress(bytes(inner.out), mtime=0)
        with_flag = packb_event(["t", gz, {"compressed": "gzip"}])
        assert decode_forward_stream(with_flag)[0]["body"] == "m"
        without_flag = packb_event(["t", gz, {}])
        with pytest.raises(ValueError):
            decode_forward_stream(without_flag)

    def test_concatenated_event_stream(self):
        blob = (
            encode_message_events("a", ENTRIES[:1])
            + encode_forward_event("b", ENTRIES)
            + encode_packed_forward_event("c", ENTRIES[1:], compress=True)
        )
        recs = decode_forward_stream(blob)
        assert [r["attrs"]["fluent.tag"] for r in recs] == ["a", "b", "b", "c"]

    def test_non_map_record_rejected(self):
        with pytest.raises(ValueError):
            decode_forward_stream(packb_event(["t", 1, [1, 2]]))

    def test_non_string_body_rejected(self):
        # conversion.go:170-171: message must be string-able, not e.g. int
        with pytest.raises(ValueError):
            decode_forward_stream(packb_event(["t", 1, {"message": 42}]))

    def test_bad_array_lengths_rejected(self):
        with pytest.raises(ValueError):
            decode_event(Unpacker(packb(["t"])))  # len 1
        with pytest.raises(ValueError):
            decode_forward_stream(packb(["t", [[1, {"m": "x"}]], {}, {}]))  # len 4 forward

    def test_unknown_time_ext_rejected(self):
        p = Packer()
        p.array_header(3)
        p.pack("t")
        p.pack(Ext(5, b"\x00" * 8))
        p.pack({"message": "m"})
        with pytest.raises(ValueError):
            decode_forward_stream(bytes(p.out))


class TestSparkPath:
    @pytest.mark.parametrize(
        "mode", ["message", "forward", "packed_forward", "packed_forward_gzip"]
    )
    def test_transcript_round_trip(self, spark, tiny_transcripts, mode):
        sel = tiny_transcripts.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        back = fluent_to_transcripts(transcripts_to_fluent(sel, mode=mode))
        want = {tuple(r) for r in sel.collect()}
        got = {tuple(r) for r in back.collect()}
        assert got == want

    def test_log_record_form_carries_tag(self, spark, tiny_transcripts):
        wire = transcripts_to_fluent(tiny_transcripts, mode="forward", tag="svc.x")
        recs = fluent_to_log_records(wire)
        row = recs.limit(1).collect()[0]
        assert row["attrs"]["fluent.tag"] == "svc.x"
        assert row["body"].startswith("[")
