"""Structured Streaming pipeline: file-source receiver, watermarked
window aggregation, foreachBatch multi-sink routing with exactly-once
warehouse commits, and stateful batch emission."""

import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sinks import Warehouse
from opentelemetry_collector_spark.streaming import (
    batch_emitter_state,
    start_routed_stream,
    stream_transcripts,
    streaming_windowed_counts,
)


@pytest.fixture()
def source_dir(spark, tiny_transcripts, tmp_path):
    """Transcript parquet laid out as N arriving files."""
    d = str(tmp_path / "incoming")
    (
        tiny_transcripts.repartition(4)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .write.parquet(d)
    )
    return d


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()
        raise AssertionError("stream did not drain in time")


class TestStreamingPipeline:
    def test_windowed_counts_match_batch(self, spark, tiny_transcripts, source_dir, tmp_path):
        src = stream_transcripts(spark, source_dir)
        agg = streaming_windowed_counts(src)
        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_win"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = {
            (r["window_start"], r["role"]): r["n_turns"]
            for r in spark.table("win_counts").collect()
        }
        expect = {
            (r["window_start"], r["role"]): r["n_turns"]
            for r in tiny_transcripts.groupBy(
                F.window("ts", "5 minutes").start.cast("timestamp").cast("long").alias("window_start"),
                "role",
            )
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .collect()
        }
        assert got == expect

    def test_routed_stream_counts_conserved(self, spark, tiny_transcripts, source_dir, tmp_path):
        wh = Warehouse(str(tmp_path / "wh"))
        src = stream_transcripts(spark, source_dir, max_files_per_trigger=2)
        q = start_routed_stream(src, wh, checkpoint_dir=str(tmp_path / "ckpt_route"))
        _await(q)
        n = tiny_transcripts.count()
        # archive = everything, summed across micro-batch epochs
        assert wh.read_sink(spark, "archive").count() == n
        # errors sink matches the batch route predicate
        from opentelemetry_collector_spark.plans.pipeline import parse_stage

        expect_err = (
            parse_stage(tiny_transcripts)
            .filter(F.col("level").isin("warn", "error"))
            .count()
        )
        assert wh.read_sink(spark, "errors").count() == expect_err
        # each epoch is one run: one manifest with the receiver counters
        manifests = list(wh._manifests())
        assert len(manifests) == 2  # 4 files, 2 per trigger
        assert all(len(m["sinks"]) == 6 for m in manifests)
        assert sum(m["counters"]["accepted"] for m in manifests) == n
        # the per-epoch aggregates sum to the batch aggregate
        from opentelemetry_collector_spark.plans.pipeline import aggregate_combined

        keys = ["group_set", "conv_id", "role", "tool", "window_start"]
        got = (
            wh.read_sink(spark, "archive_agg")
            .groupBy(keys)
            .agg(F.sum("n_turns").alias("n_turns"))
        )
        want = aggregate_combined(tiny_transcripts).select(*keys, "n_turns")
        assert got.subtract(want).count() == 0
        assert want.subtract(got).count() == 0

    def test_redaction_honoured(self, spark, tiny_transcripts, source_dir, tmp_path):
        """The stream commits through the batch compile, so
        ``redact_sensitive`` hashes the text of sensitive-tool turns."""
        from opentelemetry_collector_spark.plans.pipeline import PipelineConfig

        wh = Warehouse(str(tmp_path / "wh_redact"))
        src = stream_transcripts(spark, source_dir)
        q = start_routed_stream(
            src, wh, checkpoint_dir=str(tmp_path / "ckpt_redact"),
            config=PipelineConfig(redact_sensitive=True),
        )
        _await(q)
        key = ["conv_id", "turn_idx", "text"]
        sensitive = F.col("tool") == "python"
        assert tiny_transcripts.filter(sensitive).count() > 0
        want = tiny_transcripts.withColumn(
            "text", F.when(sensitive, F.sha1("text")).otherwise(F.col("text"))
        ).select(key)
        got = wh.read_sink(spark, "archive").select(key)
        assert got.count() == want.count()
        assert got.subtract(want).count() == 0
        assert want.subtract(got).count() == 0

    def test_replayed_epoch_resumes_without_doubling(
        self, spark, tiny_transcripts, source_dir, tmp_path
    ):
        """An epoch Spark re-runs under the same id (its checkpoint
        commit lost after the sink commit) resumes its committed run:
        the rows are not written twice."""
        wh = Warehouse(str(tmp_path / "wh_replay"))
        ckpt = tmp_path / "ckpt_replay"

        def run():
            src = stream_transcripts(spark, source_dir)  # one epoch
            _await(start_routed_stream(src, wh, checkpoint_dir=str(ckpt)))

        run()
        (manifest,) = wh._manifests()
        for f in ("0", ".0.crc"):  # the restart re-runs epoch 0
            (ckpt / "commits" / f).unlink()
        run()
        assert (ckpt / "commits" / "0").exists()  # ... and it did
        assert wh.read_sink(spark, "archive").count() == tiny_transcripts.count()
        assert list(wh._manifests()) == [manifest]  # resumed, not rewritten

    # slow lane: stream==batch on sf parquet; streaming_parity driver row re-verifies
    @pytest.mark.slow
    def test_stream_equals_batch_on_sf_parquet(self, spark, tmp_path):
        """The stream==batch invariant (the strongest check available
        without a driver streaming oracle): replay the sf0.001 parquet
        through stream_transcripts in multi-epoch availableNow mode and
        assert every routed sink's final content equals the batch
        pipeline's routed output row-for-row on every column."""
        from opentelemetry_collector_spark.plans.pipeline import run_pipeline
        from opentelemetry_collector_spark.plans.shared_sql import (
            _derive_transcripts,
        )

        transcripts = _derive_transcripts(spark, "/root/testdata/sf0.001").cache()
        src_dir = str(tmp_path / "sf_incoming")
        (
            transcripts.repartition(6)
            .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
            .write.parquet(src_dir)
        )

        wh = Warehouse(str(tmp_path / "wh_parity"))
        src = stream_transcripts(spark, src_dir, max_files_per_trigger=2)
        q = start_routed_stream(src, wh, checkpoint_dir=str(tmp_path / "ckpt_parity"))
        _await(q)

        batch = run_pipeline(spark, transcripts)
        for sink, batch_df in batch["routed"].items():
            got = wh.read_sink(spark, sink)
            cols = sorted(batch_df.columns)
            want = batch_df.select(cols)
            have = got.select(cols)
            assert have.count() == want.count(), sink
            assert have.subtract(want).count() == 0, f"{sink}: extra rows"
            assert want.subtract(have).count() == 0, f"{sink}: missing rows"
        batch["enriched"].unpersist()
        transcripts.unpersist()

    def test_batch_emitter_size_trigger(self, spark, tiny_transcripts, source_dir, tmp_path):
        src = stream_transcripts(spark, source_dir)
        emitted = batch_emitter_state(src, batch_size=5)
        q = (
            emitted.writeStream.format("memory")
            .queryName("batches")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_batch"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        rows = spark.table("batches").collect()
        assert rows, "some conversations must exceed batch_size turns"
        # per conv: emitted batches == floor(turns/5), each exactly 5 rows
        per_conv = tiny_transcripts.groupBy("conv_id").count().collect()
        turns = {r["conv_id"]: r["count"] for r in per_conv}
        got = {}
        for r in rows:
            assert r["batch_rows"] == 5
            got[r["conv_id"]] = max(got.get(r["conv_id"], 0), r["batch_seq"])
        for conv, n in turns.items():
            assert got.get(conv, 0) == n // 5, conv


class TestStreamIdentity:
    def test_namespace_is_spelling_invariant(self, tmp_path, monkeypatch):
        from opentelemetry_collector_spark.streaming.pipeline import (
            stream_identity,
        )

        d = tmp_path / "ckpt"
        d.mkdir()
        monkeypatch.chdir(tmp_path)
        absolute = stream_identity(str(d))
        relative = stream_identity("ckpt")
        dotted = stream_identity(str(tmp_path / "." / "ckpt"))
        assert absolute == relative == dotted
        other = tmp_path / "ckpt2"
        other.mkdir()
        assert stream_identity(str(other)) != absolute

    def test_identity_treats_file_uri_and_remote_uris_sanely(self, tmp_path):
        from opentelemetry_collector_spark.streaming.pipeline import (
            stream_identity,
        )

        d = tmp_path / "ckpt_uri"
        d.mkdir()
        # a file: URI is the same checkpoint as its plain spelling
        assert stream_identity(f"file:{d}") == stream_identity(str(d))
        # remote URIs: trailing-slash invariant, and NOT cwd-dependent
        # (realpath would silently prepend the driver CWD)
        a = stream_identity("hdfs://nn/ckpt")
        assert a == stream_identity("hdfs://nn/ckpt/")
        assert a != stream_identity("hdfs://nn/other")

class TestStreamingDedup:
    def test_duplicate_deliveries_dropped(self, spark, tiny_transcripts, tmp_path):
        from opentelemetry_collector_spark.streaming import streaming_dedup

        # the same batch delivered twice (two file copies)
        d = str(tmp_path / "dups")
        sel = tiny_transcripts.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        sel.coalesce(1).write.mode("overwrite").parquet(d)
        sel.coalesce(1).write.mode("append").parquet(d)
        src = stream_transcripts(spark, d)
        q = (
            streaming_dedup(src)
            .writeStream.format("memory")
            .queryName("deduped")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        n_unique = tiny_transcripts.count()
        assert spark.table("deduped").count() == n_unique


class TestStreamingSessions:
    def test_matches_batch_sessionization(self, spark, tiny_transcripts, source_dir, tmp_path):
        from opentelemetry_collector_spark.streaming import streaming_session_counts

        src = stream_transcripts(spark, source_dir)
        q = (
            streaming_session_counts(src)
            .writeStream.format("memory")
            .queryName("sessions")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = {
            (r["conv_id"], r["session_start"]): r["n_turns"]
            for r in spark.table("sessions").collect()
        }
        want = {
            (r["conv_id"], r["session_start"]): r["n_turns"]
            for r in tiny_transcripts.groupBy(
                F.session_window("ts", "10 minutes"), "conv_id"
            )
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(
                "conv_id",
                F.col("session_window.start").cast("timestamp").cast("long").alias("session_start"),
                "n_turns",
            )
            .collect()
        }
        assert got == want
