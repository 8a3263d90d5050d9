"""Kafka connector plumbing: option building (pure) + classpath
gating (no broker in this environment)."""

import pytest

from opentelemetry_collector_spark.streaming.kafka import (
    KafkaConfig,
    kafka_available,
    kafka_sink_options,
    kafka_source_options,
    read_kafka_transcripts,
)


class TestKafkaConfig:
    def test_source_options(self):
        cfg = KafkaConfig(
            brokers=["b1:9092", "b2:9092"],
            topic="transcripts",
            starting_offsets="latest",
            max_offsets_per_trigger=50_000,
            extra={"kafka.security.protocol": "SSL"},
        )
        opts = kafka_source_options(cfg)
        assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
        assert opts["subscribe"] == "transcripts"
        assert opts["startingOffsets"] == "latest"
        assert opts["maxOffsetsPerTrigger"] == "50000"
        assert opts["kafka.security.protocol"] == "SSL"

    def test_sink_options(self):
        opts = kafka_sink_options(KafkaConfig(brokers=["b:9092"], topic="out"))
        assert opts == {"kafka.bootstrap.servers": "b:9092", "topic": "out"}

    def test_validation(self):
        with pytest.raises(ValueError):
            KafkaConfig(brokers=[], topic="t")
        with pytest.raises(ValueError):
            KafkaConfig(brokers=["b:9092"], topic="")

    def test_gated_when_package_absent(self, spark):
        if kafka_available(spark):
            pytest.skip("kafka package present; gate not exercised")
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            read_kafka_transcripts(spark, KafkaConfig(brokers=["b:9092"], topic="t"))

    def test_e2e_gate_is_environmental_not_code(self):
        """Why no Kafka round trip has ever executed here, recorded
        mechanically: the spark-sql-kafka jar is not in the local
        Spark distribution. If it appears, this test fails — the signal
        to replace the gate with a real readStream→writeStream round
        trip. The network half of the gate is
        ``test_e2e_gate_has_no_egress``."""
        import glob
        import os

        import pyspark

        jars = glob.glob(
            os.path.join(os.path.dirname(pyspark.__file__), "jars", "*kafka*")
        )
        assert not jars, f"kafka jar now present: {jars} — wire the e2e test"

    @pytest.mark.slow
    def test_e2e_gate_has_no_egress(self):
        """The other half of the gate: no network to fetch the jar or
        reach a broker. It opens an outbound socket, so it runs only in
        the full lane."""
        import socket

        try:
            socket.create_connection(("repo1.maven.org", 443), timeout=3).close()
            reachable = True
        except OSError:
            reachable = False
        assert not reachable, "network now reachable — fetch the jar and wire e2e"
