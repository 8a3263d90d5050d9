"""Warehouse sink layer: snapshot commits, lineage, metrics,
idempotent resume — the durability contract of the north rule."""

import json
import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sinks import Warehouse, run_and_write
from opentelemetry_collector_spark.plans.pipeline import PipelineConfig


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "warehouse"))


class TestWarehouse:
    def test_write_commit_and_count(self, spark, tiny_transcripts, wh):
        r = wh.write_sink("archive", tiny_transcripts, "run1", lineage_keys=("conv_id",))
        assert not r.skipped
        assert r.rows == tiny_transcripts.count()
        # manifest exists and is complete
        m = wh.committed(r.snapshot_id)
        assert m["rows"] == r.rows and m["sink"] == "archive"
        # lineage covers all partitions and sums to the total
        assert sum(p["rows"] for p in m["lineage"]) == r.rows
        assert all("min_conv_id" in p for p in m["lineage"])

    def test_resume_skips_committed(self, spark, tiny_transcripts, wh):
        r1 = wh.write_sink("archive", tiny_transcripts, "run1")
        r2 = wh.write_sink("archive", tiny_transcripts, "run1")
        assert not r1.skipped and r2.skipped
        assert r2.rows == r1.rows
        # reading back sees exactly one snapshot's rows
        got = wh.read_sink(spark, "archive")
        assert got.count() == r1.rows

    def test_same_run_different_input_refuses(self, spark, tiny_transcripts, wh):
        wh.write_sink("archive", tiny_transcripts, "run1", input_fingerprint="fpA")
        with pytest.raises(ValueError, match="different input fingerprint"):
            wh.write_sink("archive", tiny_transcripts, "run1", input_fingerprint="fpB")

    def test_new_run_appends_snapshot(self, spark, tiny_transcripts, wh):
        r1 = wh.write_sink("archive", tiny_transcripts, "run1")
        r2 = wh.write_sink("archive", tiny_transcripts, "run2")
        assert r1.snapshot_id != r2.snapshot_id
        assert wh.read_sink(spark, "archive").count() == r1.rows + r2.rows

    def test_orphan_snapshot_is_replaced_not_double_counted(
        self, spark, tiny_transcripts, wh
    ):
        # simulate a crash: data directory exists but no commit manifest
        r_probe = wh.write_sink("probe", tiny_transcripts, "runX")
        orphan_dir = os.path.join(wh.root, "archive", f"snap={r_probe.snapshot_id}")
        os.makedirs(orphan_dir)
        with open(os.path.join(orphan_dir, "garbage.txt"), "w") as f:
            f.write("partial write")
        # same run_id/sink writes cleanly over the orphan
        r = wh.write_sink("archive", tiny_transcripts, "runX")
        assert not r.skipped
        assert wh.read_sink(spark, "archive").count() == r.rows


class TestRunAndWrite:
    def test_end_to_end_counts_conserved(self, spark, tiny_transcripts, wh):
        results = run_and_write(spark, tiny_transcripts, wh, "run1")
        n = tiny_transcripts.count()
        # archive receives everything (sent == received, the testbed
        # PerfTestValidator invariant, testbed/testbed/validator.go:45-50)
        assert results["archive"].rows == n
        # every routed sink's aggregate table committed too
        assert set(results) == {
            "errors", "tool_calls", "archive",
            "errors_agg", "tool_calls_agg", "archive_agg",
        }
        # metrics table reflects the commit log
        m = {r["sink"]: r["sent"] for r in wh.metrics_table(spark).collect()}
        assert m["archive"] == n
        assert m["errors"] == results["errors"].rows

    def test_sequential_path_commits_every_sink(
        self, spark, tiny_transcripts, wh
    ):
        """concurrent=False submits the sink writes one by one; the
        commits and the sent counters are the concurrent path's."""
        results = run_and_write(
            spark, tiny_transcripts, wh, "run1", concurrent=False
        )
        assert len(results) == 6
        assert not any(r.skipped for r in results.values())
        assert results["archive"].rows == tiny_transcripts.count()
        m = {r["sink"]: r["sent"] for r in wh.metrics_table(spark).collect()}
        assert m == {name: r.rows for name, r in results.items()}

    def test_resume_after_partial_run(self, spark, tiny_transcripts, wh):
        # first: commit only one sink (simulating a crash after it)
        from opentelemetry_collector_spark.plans.pipeline import run_pipeline

        res = run_pipeline(spark, tiny_transcripts, PipelineConfig(persist=False))
        wh.write_sink("errors", res["routed"]["errors"], "run1")

        # resume: full run skips the committed sink, completes the rest
        results = run_and_write(spark, tiny_transcripts, wh, "run1")
        assert results["errors"].skipped
        assert not results["archive"].skipped
        # totals identical to a fresh complete run
        assert wh.read_sink(spark, "errors").count() == results["errors"].rows

    def test_routed_rows_match_reread(self, spark, tiny_transcripts, wh):
        """Routed-row equality through the sink: what was written is
        exactly what the route stage produced (per-turn text equality
        under stable (conv_id, turn_idx) ordering)."""
        from opentelemetry_collector_spark.plans.pipeline import run_pipeline

        res = run_pipeline(spark, tiny_transcripts, PipelineConfig(persist=False))
        expect = res["routed"]["errors"].select("conv_id", "turn_idx", "text")
        run_and_write(spark, tiny_transcripts, wh, "run1")
        got = wh.read_sink(spark, "errors").select("conv_id", "turn_idx", "text")
        assert got.subtract(expect).count() == 0
        assert expect.subtract(got).count() == 0


class TestPartitionedLayout:
    def test_partitioned_write_prunes_on_read(self, spark, tiny_transcripts, wh):
        r = wh.write_sink(
            "part_archive", tiny_transcripts, "run1", partition_layout=True
        )
        assert r.rows == tiny_transcripts.count()
        # directory layout is _day=/...,_bucket=/...
        import os as _os

        days = [d for d in _os.listdir(r.path) if d.startswith("_day=")]
        assert days, _os.listdir(r.path)
        # a day+bucket-filtered read shows PartitionFilters in the scan
        raw = spark.read.parquet(r.path)
        one_day = days[0].split("=", 1)[1]
        q = raw.filter((F.col("_day") == one_day) & (F.col("_bucket") == 3))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "_day" in plan, plan

    def test_partitioned_read_back_round_trips(self, spark, tiny_transcripts, wh):
        wh.write_sink("part_rt", tiny_transcripts, "run1", partition_layout=True)
        got = wh.read_sink(spark, "part_rt")
        key = ["conv_id", "turn_idx", "text"]
        assert got.select(key).subtract(tiny_transcripts.select(key)).count() == 0
        assert got.count() == tiny_transcripts.count()


class TestIcebergGate:
    def test_gate_reports_absent_here(self, spark):
        from opentelemetry_collector_spark.sources.tables import iceberg_available

        if iceberg_available(spark):
            pytest.skip("iceberg runtime present; gate not exercised")
        assert iceberg_available(spark) is False

    def test_gate_is_environmental_not_code(self):
        """Why no query has ever run against real Iceberg metadata here,
        recorded mechanically (mirror of test_kafka's e2e gate): the
        iceberg-spark-runtime jar is in neither the pyspark wheel's jars
        nor $SPARK_HOME/jars, AND the sandbox has no network to fetch
        it. If either probe starts passing this test fails — the signal
        to bind the warehouse interface to a real Iceberg catalog."""
        import glob
        import os
        import socket

        import pyspark

        jar_dirs = [
            os.path.join(os.path.dirname(pyspark.__file__), "jars"),
            os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars"),
        ]
        jars = [
            j for d in jar_dirs for j in glob.glob(os.path.join(d, "*iceberg*"))
        ]
        assert not jars, f"iceberg jar now present: {jars} — wire a real catalog"
        try:
            socket.create_connection(("repo1.maven.org", 443), timeout=3).close()
            reachable = True
        except OSError:
            reachable = False
        assert not reachable, "network now reachable — fetch the jar and bind it"


class TestConcurrentWrites:
    def test_materialize_concurrent_results_and_errors(self):
        import time as _time

        from opentelemetry_collector_spark.plans.pipeline import (
            materialize_concurrent,
        )

        order = []

        def mk(name, delay):
            def fn():
                _time.sleep(delay)
                order.append(name)
                return name.upper()
            return fn

        # slowest submitted first still returns a complete result map
        res = materialize_concurrent({"a": mk("a", 0.2), "b": mk("b", 0.0)})
        assert res == {"a": "A", "b": "B"}
        assert order == ["b", "a"]  # genuinely concurrent

        def boom():
            raise RuntimeError("sink failed")

        done = []
        with pytest.raises(RuntimeError, match="sink failed"):
            # the healthy action still runs to completion (drain-then-
            # raise: no half-submitted state)
            materialize_concurrent(
                {"bad": boom, "good": lambda: done.append(1)}
            )
        assert done == [1]
        assert materialize_concurrent({}) == {}

    @pytest.mark.slow
    def test_run_and_write_concurrent_equals_sequential(
        self, spark, tiny_transcripts, wh
    ):
        """Concurrent submission changes scheduling only: same commits,
        same rows, same lineage totals as the sequential path.

        Slow lane: runs the full sink pipeline twice; the fast lane
        keeps the concurrent-default run_and_write e2e tests, one
        sequential (concurrent=False) e2e test and the driver-side
        scheduling unit test above."""
        seq = run_and_write(
            spark, tiny_transcripts, wh, "runC-seq", concurrent=False
        )
        con = run_and_write(spark, tiny_transcripts, wh, "runC-con")
        assert set(seq) == set(con)
        for name in seq:
            assert con[name].rows == seq[name].rows, name
            assert not con[name].skipped
        key = ["conv_id", "turn_idx", "text"]
        a = spark.read.parquet(seq["archive"].path).select(key)
        b = spark.read.parquet(con["archive"].path).select(key)
        assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0

    def test_concurrent_spark_action_failure_isolated(
        self, spark, tmp_path
    ):
        """A REAL failing Spark job (runtime raise inside one sink's
        computation) must not poison a concurrently-submitted healthy
        write: the good sink's parquet commits completely, and the
        failure surfaces after the drain."""
        from opentelemetry_collector_spark.plans.pipeline import (
            materialize_concurrent,
        )

        good_path = str(tmp_path / "good")
        df = spark.range(100).withColumnRenamed("id", "v")
        bad = df.select(
            F.when(F.col("v") < 50, F.col("v")).otherwise(
                F.raise_error(F.lit("poisoned partition"))
            ).alias("v")
        )
        with pytest.raises(Exception, match="poisoned partition"):
            materialize_concurrent(
                {
                    "bad": lambda: bad.write.mode("overwrite").parquet(
                        str(tmp_path / "bad")
                    ),
                    "good": lambda: df.write.mode("overwrite").parquet(
                        good_path
                    ),
                }
            )
        assert spark.read.parquet(good_path).count() == 100
