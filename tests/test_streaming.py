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
        q = start_routed_stream(
            spark, src, wh, checkpoint_dir=str(tmp_path / "ckpt_route")
        )
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
            spark, src, wh, checkpoint_dir=str(tmp_path / "ckpt_redact"),
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

    def test_epoch_with_per_sink_commit_keeps_its_rows(
        self, spark, tiny_transcripts, source_dir, tmp_path
    ):
        """A warehouse from before epochs were whole runs may hold a
        per-sink commit of an epoch: on replay that sink keeps its rows
        and the other sinks commit as the epoch's run."""
        from opentelemetry_collector_spark.streaming.pipeline import stream_identity

        wh = Warehouse(str(tmp_path / "wh_upgrade"))
        ckpt = str(tmp_path / "ckpt_upgrade")
        run_id = f"{stream_identity(ckpt)}-epoch-0"
        wh.write_sink("errors", tiny_transcripts.limit(3), run_id=run_id)

        src = stream_transcripts(spark, source_dir)  # one epoch
        q = start_routed_stream(spark, src, wh, checkpoint_dir=ckpt)
        _await(q)  # raises if the epoch's run raised
        assert wh.read_sink(spark, "errors").count() == 3
        assert wh.read_sink(spark, "archive").count() == tiny_transcripts.count()
        assert wh.has_run("archive_agg", run_id)
        assert not wh.has_run("errors_agg", run_id)

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
        q = start_routed_stream(
            spark, src, wh, checkpoint_dir=str(tmp_path / "ckpt_parity")
        )
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

    def test_legacy_epoch_snapshot_honored(self, spark, tiny_transcripts, source_dir, tmp_path):
        """One-time migration: a sink epoch committed by a pre-
        namespacing build under run_id 'epoch-N' must NOT be committed
        a second time under the namespaced id when that epoch replays —
        but ONLY for a checkpoint that provably predates namespacing
        (Spark offsets already on disk, no marker yet)."""
        wh = Warehouse(str(tmp_path / "wh_legacy"))
        # simulate the pre-change build having committed epoch 0 for
        # the archive sink (single availableNow epoch with no file cap)
        legacy_rows = tiny_transcripts.limit(3).select("conv_id", "turn_idx")
        wh.write_sink("archive", legacy_rows, run_id="epoch-0")
        assert wh.has_run("archive", "epoch-0")

        # a pre-namespacing checkpoint: offsets exist, marker does not
        ckpt = tmp_path / "ckpt_legacy"
        (ckpt / "offsets").mkdir(parents=True)
        src = stream_transcripts(spark, source_dir)
        q = start_routed_stream(spark, src, wh, checkpoint_dir=str(ckpt))
        _await(q)
        # archive kept the legacy snapshot (3 rows), no double commit;
        # the other sinks committed normally under the new namespace
        assert wh.read_sink(spark, "archive").count() == 3
        assert wh.read_sink(spark, "errors").count() > 0

    def test_fresh_checkpoint_ignores_legacy_snapshots(
        self, spark, tiny_transcripts, source_dir, tmp_path
    ):
        """A brand-new stream (fresh checkpoint) must commit its own
        epochs even when some OTHER pre-namespacing stream left an
        'epoch-N' snapshot in the shared warehouse — the unscoped skip
        was silent data loss."""
        wh = Warehouse(str(tmp_path / "wh_fresh"))
        foreign = tiny_transcripts.limit(3).select("conv_id", "turn_idx")
        wh.write_sink("archive", foreign, run_id="epoch-0")

        src = stream_transcripts(spark, source_dir)
        q = start_routed_stream(
            spark, src, wh, checkpoint_dir=str(tmp_path / "ckpt_fresh")
        )
        _await(q)
        # the new stream's archive commit landed ON TOP of the foreign
        # legacy snapshot instead of being silently skipped
        assert wh.read_sink(spark, "archive").count() > 3

    def test_namespaced_but_markerless_checkpoint_is_not_legacy(
        self, tmp_path
    ):
        """A checkpoint written by a NAMESPACED build that predates
        the marker (offsets on disk, no marker, but the warehouse
        commit log already holds this stream's '<stream_id>-epoch-N'
        runs) must classify legacy=False — pinning it legacy would
        re-enable the silent epoch skip against any other stream's
        true-legacy 'epoch-N' snapshot, forever."""
        from opentelemetry_collector_spark.streaming.pipeline import (
            _legacy_epoch_mode,
        )

        wh = Warehouse(str(tmp_path / "wh_mkless"))
        # the previous (namespaced, marker-less) incarnation committed
        commit = {"snapshot_id": "s1", "run_id": "abc-epoch-0",
                  "sink": "archive", "rows": 1, "path": "p"}
        wh._commit(commit)
        ckpt = tmp_path / "ckpt_mkless"
        (ckpt / "offsets").mkdir(parents=True)
        assert _legacy_epoch_mode(str(ckpt), "abc", warehouse=wh) is False

        # control: same checkpoint shape where the log holds a true
        # unscoped 'epoch-N' snapshot and nothing namespaced for this
        # stream stays legacy (genuinely pre-namespacing resume)
        wh2 = Warehouse(str(tmp_path / "wh_mkless2"))
        wh2._commit({"snapshot_id": "s2", "run_id": "epoch-0",
                     "sink": "archive", "rows": 1, "path": "p"})
        ckpt2 = tmp_path / "ckpt_mkless2"
        (ckpt2 / "offsets").mkdir(parents=True)
        assert _legacy_epoch_mode(str(ckpt2), "abc", warehouse=wh2) is True

    def test_zero_commit_namespaced_checkpoint_is_not_legacy(self, tmp_path):
        """A namespaced checkpoint that wrote offsets but stopped
        BEFORE its first sink commit leaves neither a marker nor any
        '<stream_id>-epoch-N' run in the log. When the warehouse holds
        no unscoped 'epoch-N' snapshot at all, there is nothing a
        legacy resume could double-commit — classifying it legacy
        would pin the cross-stream epoch-skip forever, so it must be
        non-legacy. (Residual window, documented in _legacy_epoch_mode:
        if ANOTHER stream's true-legacy epoch-N snapshots share the
        warehouse, the zero-commit case is indistinguishable from a
        genuine legacy resume and still classifies legacy.)"""
        from opentelemetry_collector_spark.streaming.pipeline import (
            _legacy_epoch_mode,
        )

        wh = Warehouse(str(tmp_path / "wh_zero"))
        ckpt = tmp_path / "ckpt_zero"
        (ckpt / "offsets").mkdir(parents=True)
        assert _legacy_epoch_mode(str(ckpt), "abc", warehouse=wh) is False
        # and the marker pins it across later resumes
        assert _legacy_epoch_mode(str(ckpt), "abc", warehouse=wh) is False

    def test_has_legacy_epochs_probe(self, tmp_path):
        """Scoped run_ids, null/corrupt manifests, and non-epoch runs
        must not read as legacy; only an exact unscoped 'epoch-N' does."""
        wh = Warehouse(str(tmp_path / "wh_probe"))
        assert wh.has_legacy_epochs() is False
        wh._commit({"snapshot_id": "a", "run_id": "abc-epoch-3",
                    "sink": "s", "rows": 1, "path": "p"})
        wh._commit({"snapshot_id": "b", "run_id": None,
                    "sink": "s", "rows": 1, "path": "p"})
        wh._commit({"snapshot_id": "c", "run_id": "batch-42",
                    "sink": "s", "rows": 1, "path": "p"})
        assert wh.has_legacy_epochs() is False
        wh._commit({"snapshot_id": "d", "run_id": "epoch-7",
                    "sink": "s", "rows": 1, "path": "p"})
        assert wh.has_legacy_epochs() is True

    def test_has_stream_runs_tolerates_null_run_id(self, tmp_path):
        """A manifest with run_id: null (or a corrupt non-string) must
        not abort the marker-less stream-start probe."""
        wh = Warehouse(str(tmp_path / "wh_null"))
        wh._commit({"snapshot_id": "n", "run_id": None,
                    "sink": "s", "rows": 1, "path": "p"})
        assert wh.has_stream_runs("abc") is False
        wh._commit({"snapshot_id": "m", "run_id": "abc-epoch-0",
                    "sink": "s", "rows": 1, "path": "p"})
        assert wh.has_stream_runs("abc") is True

    def test_marker_pins_mode_across_resume(self, tmp_path):
        """Once a checkpoint records legacy=False, later resumes (which
        now DO have offsets on disk) stay non-legacy."""
        from opentelemetry_collector_spark.streaming.pipeline import (
            _legacy_epoch_mode,
        )

        ckpt = tmp_path / "ckpt_pin"
        assert _legacy_epoch_mode(str(ckpt), "abc") is False
        (ckpt / "offsets").mkdir(parents=True)
        assert _legacy_epoch_mode(str(ckpt), "abc") is False

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

    def test_remote_checkpoint_probed_via_hadoop_fs(
        self, spark, tmp_path, monkeypatch
    ):
        """Force the Hadoop FileSystem branch (what hdfs:// / s3a://
        would take) against the local FS: offsets detection, marker
        write, and marker re-read must behave exactly like the local
        branch."""
        import opentelemetry_collector_spark.streaming.pipeline as sp

        monkeypatch.setattr(sp, "_local_path", lambda p: None)

        fresh = tmp_path / "ckpt_remote_fresh"
        uri = f"file:{fresh}"
        assert sp._legacy_epoch_mode(uri, "abc", spark=spark) is False
        assert (fresh / "_namespace_marker.json").exists()
        # marker pins the mode even after offsets appear
        (fresh / "offsets").mkdir()
        assert sp._legacy_epoch_mode(uri, "abc", spark=spark) is False

        legacy = tmp_path / "ckpt_remote_legacy"
        (legacy / "offsets").mkdir(parents=True)
        assert sp._legacy_epoch_mode(f"file:{legacy}", "abc", spark=spark) is True

    def test_remote_checkpoint_without_session_raises(self, monkeypatch):
        import opentelemetry_collector_spark.streaming.pipeline as sp
        from pyspark.sql import SparkSession

        monkeypatch.setattr(
            SparkSession, "getActiveSession", staticmethod(lambda: None)
        )
        with pytest.raises(ValueError, match="active SparkSession"):
            sp._legacy_epoch_mode("hdfs://nn/ckpt", "abc")


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
