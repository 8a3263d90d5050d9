"""Warehouse sink layer: snapshot commits, lineage, metrics,
idempotent resume — the durability contract of the north rule."""

import json
import os

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sinks import Warehouse, run_and_write
from opentelemetry_collector_spark.sinks.warehouse import _fingerprint
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
        assert list(m["sinks"]) == ["archive"]  # the one-entry manifest
        e = m["sinks"]["archive"]
        assert e["rows"] == r.rows
        # lineage covers all partitions and sums to the total
        assert sum(p["rows"] for p in e["lineage"]) == r.rows
        assert all("min_conv_id" in p for p in e["lineage"])

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

    def test_one_manifest_commits_every_sink(self, spark, tiny_transcripts, wh):
        """One run, one manifest: an entry per sink, each with its own
        ``sink=<s>`` directory, so walking each result's path counts
        each file once."""
        results = run_and_write(spark, tiny_transcripts, wh, "run1")
        assert len(results) == 6
        assert not any(r.skipped for r in results.values())
        assert len({r.snapshot_id for r in results.values()}) == 1
        m = wh.committed(results["archive"].snapshot_id)
        assert set(m["sinks"]) == set(results)
        assert os.listdir(os.path.join(wh.root, "_commits")) == [
            f"{results['archive'].snapshot_id}.json"
        ]
        files = set()
        for name, r in results.items():
            assert os.path.basename(r.path) == f"sink={name}"
            assert m["sinks"][name]["observed_sent"] == r.rows
            assert sum(f["rows"] for f in r.lineage) == r.rows
            files |= {os.path.join(r.path, f["file"]) for f in r.lineage}
        assert len(files) == sum(len(r.lineage) for r in results.values())
        sent = {r["sink"]: r["sent"] for r in wh.metrics_table(spark).collect()}
        assert sent == {name: r.rows for name, r in results.items()}

    def test_receiver_counters_ride_the_write(self, spark, tiny_transcripts, wh):
        """accepted / parse refused are observed on the enriched frame,
        before the fan-out clones rows, and land in the run manifest."""
        from opentelemetry_collector_spark.plans.pipeline import parse_stage

        results = run_and_write(spark, tiny_transcripts, wh, "run1")
        counters = wh.committed(results["archive"].snapshot_id)["counters"]
        refused = parse_stage(tiny_transcripts, engine="jvm").filter("NOT parsed").count()
        assert counters == {
            "accepted": tiny_transcripts.count(),
            "parse_refused": refused,
        }
        assert refused > 0  # the fixture does hold unparseable turns

    def test_resume_after_partial_run(self, spark, tiny_transcripts, wh):
        """Resume is all-or-nothing per run: the run commits in one
        manifest, so there is no partly committed run to finish."""
        first = run_and_write(spark, tiny_transcripts, wh, "run1", input_fingerprint="fpA")
        n_errors = first["errors"].rows

        # a committed run comes back whole, every sink skipped
        again = run_and_write(spark, tiny_transcripts, wh, "run1", input_fingerprint="fpA")
        assert set(again) == set(first) and all(r.skipped for r in again.values())
        assert {k: r.rows for k, r in again.items()} == {k: r.rows for k, r in first.items()}

        # a crash between the data write and the manifest rename: the
        # data stays, the manifest does not; the rerun rewrites the run
        os.remove(os.path.join(wh.root, "_commits", f"{first['errors'].snapshot_id}.json"))
        with pytest.raises(FileNotFoundError):
            wh.read_sink(spark, "errors")  # uncommitted data is invisible
        redo = run_and_write(spark, tiny_transcripts, wh, "run1", input_fingerprint="fpA")
        assert not any(r.skipped for r in redo.values())
        assert wh.read_sink(spark, "errors").count() == n_errors  # not doubled
        assert wh.read_sink(spark, "errors_agg").count() == first["errors_agg"].rows

        # the same run_id over different input is a misuse, not a resume
        with pytest.raises(ValueError, match="different input fingerprint"):
            run_and_write(spark, tiny_transcripts, wh, "run1", input_fingerprint="fpB")

    def test_refuses_run_id_with_per_sink_commits(self, spark, tiny_transcripts, wh):
        """A sink already committed under the run_id by ``write_sink``
        would be counted twice by a whole-run rewrite."""
        wh.write_sink("errors", tiny_transcripts, "run1")
        with pytest.raises(ValueError, match="per-sink commits"):
            run_and_write(spark, tiny_transcripts, wh, "run1")
        # an aggregate table counts too: a crash may leave only it committed
        wh.write_sink("errors_agg", tiny_transcripts.limit(3), "run2")
        with pytest.raises(ValueError, match="per-sink commits"):
            run_and_write(spark, tiny_transcripts, wh, "run2")
        assert wh.committed(_fingerprint("run2")) is None

    def test_lost_committed_directory_fails_the_read(self, spark, tiny_transcripts, wh):
        """Only a sink committed with 0 rows may lack its directory; a
        committed sink whose files are gone must fail loudly, not read
        back short."""
        import shutil

        results = run_and_write(spark, tiny_transcripts, wh, "run1")
        assert results["errors"].rows > 0
        shutil.rmtree(results["errors"].path)
        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            wh.read_sink(spark, "errors").count()

    def test_route_matching_nothing_commits_zero_rows(self, spark, tiny_transcripts, wh):
        """A sink no row reaches gets no partition directory: it commits
        0 rows, its aggregate too, and reading it finds no snapshot."""
        from opentelemetry_collector_spark.plans.pipeline import RouteRule

        routes = [RouteRule("archive"), RouteRule("none", include=lambda df: F.lit(False))]
        results = run_and_write(
            spark, tiny_transcripts, wh, "run1", PipelineConfig(routes=routes)
        )
        assert results["none"].rows == 0 and results["none_agg"].rows == 0
        assert results["archive"].rows == tiny_transcripts.count()
        with pytest.raises(FileNotFoundError):
            wh.read_sink(spark, "none")

    def test_routed_rows_match_reread(self, spark, tiny_transcripts, wh):
        """Routed-row equality through the sink: what was written is
        exactly what the route stage produced (per-turn text equality
        under stable (conv_id, turn_idx) ordering)."""
        from opentelemetry_collector_spark.plans.pipeline import run_pipeline

        res = run_pipeline(spark, tiny_transcripts, PipelineConfig())
        res["enriched"].unpersist()  # the route stage's frame, uncached
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


class TestCommitPlanShape:
    """The commit's plan shape, pinned without timing: the fan-out is
    one write, so the job count does not grow with the routes, and no
    cached frame sits anywhere in the run."""

    def _run(self, spark, path, wh, run_id, routes):
        """(job count, physical plans) of one run_and_write, from Spark's
        status tracker and SQL store. Jobs are counted under a job group,
        plus any new ungrouped job: a job submitted from another driver
        thread does not inherit the group."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = spark._jsparkSession.sharedState().statusStore()
        seq = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava

        def executions():
            return {e.executionId(): e for e in seq(store.executionsList())}

        before, ungrouped = set(executions()), set(tracker.getJobIdsForGroup())
        persistent = sc._jsc.getPersistentRDDs().size()
        sc.setJobGroup(run_id, run_id)
        try:
            run_and_write(
                spark, spark.read.parquet(path), wh, run_id, PipelineConfig(routes=routes)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        # nothing the run persisted is left behind
        assert sc._jsc.getPersistentRDDs().size() == persistent
        jobs = set(tracker.getJobIdsForGroup(run_id))
        jobs |= set(tracker.getJobIdsForGroup()) - ungrouped
        plans = [e.physicalPlanDescription() for i, e in executions().items() if i not in before]
        return len(jobs), plans

    def test_jobs_do_not_grow_with_routes_and_nothing_is_cached(
        self, spark, tiny_transcripts, wh, tmp_path
    ):
        from opentelemetry_collector_spark.plans.pipeline import RouteRule, default_routes

        path = str(tmp_path / "in")  # an uncached input, as in production
        tiny_transcripts.write.parquet(path)
        five = default_routes() + [
            RouteRule("user", include=lambda df: F.col("role") == "user"),
            RouteRule("info", include=lambda df: F.col("level") == "info"),
        ]
        jobs3, plans3 = self._run(spark, path, wh, "shape-3", default_routes())
        jobs5, plans5 = self._run(spark, path, wh, "shape-5", five)
        assert jobs3 > 0 and jobs3 == jobs5
        assert plans3 and len(plans3) == len(plans5)
        for plan in plans3 + plans5:
            for node in ("InMemoryRelation", "InMemoryTableScan", "TableCacheQueryStage"):
                assert node not in plan, plan
