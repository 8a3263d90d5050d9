"""Unit tests for the exact-parity function layer (hashing, murmur3,
parse), verified against independent pure-Python goldens."""

import hashlib
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.functions.hashing import (
    sha1_bool,
    sha1_double_le,
    sha1_long_le,
    sha1_string,
    sha1_typed_py,
)
from opentelemetry_collector_spark.functions.mmh3 import (
    murmur3_32,
    murmur3_32_fixed,
    sampler_bucket_udf,
    trace_id_col,
)
from opentelemetry_collector_spark.functions.parse import (
    extract_arrow_udf,
    extract_struct,
    named_groups,
)


class TestSha1Typed:
    # slow lane: typed-hash parity matrix; hash_redact driver row re-verifies
    pytestmark = pytest.mark.slow
    # goldens per hasher.go:41-72 byte encodings
    def test_string(self, spark):
        df = spark.createDataFrame([("covfefe",), (None,)], "v string")
        got = [r[0] for r in df.select(sha1_string(F.col("v"))).collect()]
        assert got[0] == hashlib.sha1(b"covfefe").hexdigest()
        assert got[1] is None

    @pytest.mark.parametrize("v", [0, 1, -1, 123456789, -987654321, 2**62])
    def test_long_le(self, spark, v):
        df = spark.createDataFrame([(v,)], "v long")
        got = df.select(sha1_long_le(F.col("v"))).first()[0]
        assert got == hashlib.sha1(struct.pack("<q", v)).hexdigest()

    @pytest.mark.parametrize("v", [0.0, 1.5, -2.25, 3.141592653589793, 1e300])
    def test_double_le(self, spark, v):
        df = spark.createDataFrame([(v,)], "v double")
        got = df.select(sha1_double_le(F.col("v"))).first()[0]
        assert got == hashlib.sha1(struct.pack("<d", v)).hexdigest()

    @pytest.mark.parametrize("v", [True, False])
    def test_bool(self, spark, v):
        df = spark.createDataFrame([(v,)], "v boolean")
        got = df.select(sha1_bool(F.col("v"))).first()[0]
        assert got == hashlib.sha1(b"\x01" if v else b"\x00").hexdigest()

    def test_py_oracle_agrees(self):
        assert sha1_typed_py("x") == hashlib.sha1(b"x").hexdigest()
        assert sha1_typed_py(True) == hashlib.sha1(b"\x01").hexdigest()
        assert sha1_typed_py(7) == hashlib.sha1(struct.pack("<q", 7)).hexdigest()
        assert sha1_typed_py(7.5) == hashlib.sha1(struct.pack("<d", 7.5)).hexdigest()


class TestMurmur3:
    # Standard murmur3_x86_32 test vectors (public reference values).
    @pytest.mark.parametrize(
        "key,seed,expected",
        [
            (b"", 0, 0),
            (b"", 1, 0x514E28B7),
            (b"\xff\xff\xff\xff", 0, 0x76293B50),
            (b"\x21\x43\x65\x87", 0, 0xF55B516B),
            (b"\x21\x43\x65\x87", 0x5082EDEE, 0x2362F9DE),
            (b"\x21\x43\x65", 0, 0x7E4A8634),
            (b"\x21\x43", 0, 0xA0F7B07A),
            (b"\x21", 0, 0x72661CF4),
            (b"\x00\x00\x00\x00", 0, 0x2362F9DE),
            (b"aaaa", 0x9747B28C, 0x5A97808A),
            (b"Hello, world!", 0x9747B28C, 0x24884CBA),
        ],
    )
    def test_scalar_vectors(self, key, seed, expected):
        assert murmur3_32(key, seed) == expected

    def test_vectorized_matches_scalar(self):
        rng = np.random.default_rng(7)
        mat = rng.integers(0, 256, size=(500, 16), dtype=np.uint8)
        for seed in (0, 22, 0x9747B28C):
            vec = murmur3_32_fixed(mat, seed)
            for i in range(0, 500, 37):
                assert int(vec[i]) == murmur3_32(mat[i].tobytes(), seed)

    def test_bucket_udf(self, spark):
        df = spark.createDataFrame([(f"conv-{i}",) for i in range(50)], "conv_id string")
        rows = df.select(
            "conv_id", sampler_bucket_udf(22)(trace_id_col(F.col("conv_id"))).alias("b")
        ).collect()
        for r in rows:
            tid = hashlib.md5(r["conv_id"].encode()).digest()
            assert r["b"] == (murmur3_32(tid, 22) & 0x3FFF)


class TestParse:
    PAT = r"\[(?P<level>\w+)\] (?P<comp>\w+): (?P<msg>.*?) duration=(?P<dur>\d+)ms"

    def test_named_groups(self):
        assert named_groups(self.PAT) == ["level", "comp", "msg", "dur"]
        with pytest.raises(ValueError):
            named_groups(r"(\w+) no groups named")
        with pytest.raises(ValueError):
            named_groups(r"(?P<a>\w+) (\w+)")  # unnamed group present

    def test_arrow_refuses_non_re2_pattern_at_plan_build(self):
        # lookaround and backreferences compile in Python `re` and Java
        # but not in RE2: refuse them in the driver, not inside a task
        for pat in (r"(?P<a>\w+)(?=x)", r"(?P<a>\w)(?P=a)"):
            with pytest.raises(ValueError, match="RE2"):
                extract_arrow_udf(pat)

    @pytest.mark.parametrize("engine", ["arrow", "jvm"])
    def test_extract(self, spark, engine):
        df = spark.createDataFrame(
            [
                ("[error] planner: step failed duration=42ms",),
                ("free text no structure",),
                (None,),
                # \d and \w are ASCII-only in RE2 and Java (Python `re`
                # matched both rows): Arabic-Indic digits, accented level
                ("[error] planner: x duration=\u0664\u0662ms",),
                ("[\u00e9rror] planner: x duration=42ms",),
            ],
            "text string",
        )
        col = (
            extract_arrow_udf(self.PAT)(F.col("text"))
            if engine == "arrow"
            else extract_struct(F.col("text"), self.PAT)
        )
        rows = df.select(col.alias("p")).collect()
        assert rows[0]["p"].asDict() == {
            "level": "error",
            "comp": "planner",
            "msg": "step failed",
            "dur": "42",
        }
        for r in rows[1:]:
            assert all(v is None for v in r["p"].asDict().values()), r


class TestSeverity:
    def test_round_trip_all_24(self, spark):
        from opentelemetry_collector_spark.functions.severity import (
            SEVERITY_NUMBER_TO_TEXT, severity_number, severity_text,
        )

        rows = [(n,) for n in range(1, 25)]
        df = spark.createDataFrame(rows, "n int")
        got = dict(
            df.select("n", severity_text(F.col("n")).alias("t")).collect()
        )
        assert got == SEVERITY_NUMBER_TO_TEXT
        back = spark.createDataFrame([(t,) for t in got.values()], "t string")
        got2 = dict(
            back.select("t", severity_number(F.col("t")).alias("n")).collect()
        )
        assert got2 == {t: n for n, t in SEVERITY_NUMBER_TO_TEXT.items()}

    def test_bands_and_unknowns(self, spark):
        from opentelemetry_collector_spark.functions.severity import (
            severity_band, severity_number,
        )

        df = spark.createDataFrame(
            [("warn",), ("ERROR3",), ("nonsense",)], "t string"
        )
        nums = [r[0] for r in df.select(severity_number(F.col("t"))).collect()]
        assert nums == [13, 19, 0]
        b = spark.createDataFrame([(13,), (19,), (0,), (25,)], "n int")
        bands = [r[0] for r in b.select(severity_band(F.col("n"))).collect()]
        assert bands == ["WARN", "ERROR", None, None]
