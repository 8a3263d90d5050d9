"""Warehouse sink layer: snapshot commits, lineage, metrics,
idempotent resume — the durability contract of the north rule."""

import os
import re

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.sinks import Warehouse, run_and_write
from opentelemetry_collector_spark.sinks.warehouse import _fingerprint
from opentelemetry_collector_spark.plans.pipeline import PipelineConfig, RouteRule

# the smallest route set: one sink, everything, and its aggregate
ARCHIVE_ONLY = PipelineConfig(routes=[RouteRule("archive")])


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "warehouse"))


class TestWarehouse:
    """The commit contract of one run — manifest, resume, refusal,
    snapshots — on the archive-only route set."""

    def test_write_commit_and_count(self, spark, tiny_transcripts, wh):
        r = run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY)["archive"]
        assert not r.skipped
        assert r.rows == tiny_transcripts.count()
        # manifest exists and is complete
        m = wh.committed(r.snapshot_id)
        assert m["run_id"] == "run1"
        assert m["sinks"]["archive"]["rows"] == r.rows
        # lineage covers every file and sums to the total
        assert sum(p["rows"] for p in m["sinks"]["archive"]["lineage"]) == r.rows
        assert all("min_conv_id" in p for p in r.lineage)

    def test_resume_skips_committed(self, spark, tiny_transcripts, wh):
        first = run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY)
        # a committed run comes back whole, every sink skipped
        again = run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY)
        assert not any(r.skipped for r in first.values())
        assert set(again) == set(first) and all(r.skipped for r in again.values())
        assert {k: r.rows for k, r in again.items()} == {k: r.rows for k, r in first.items()}
        # reading back sees exactly one snapshot's rows
        assert wh.read_sink(spark, "archive").count() == first["archive"].rows

    def test_same_run_different_input_refuses(self, spark, tiny_transcripts, wh):
        run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY, input_fingerprint="fpA")
        # the same run_id over different input is a misuse, not a resume
        with pytest.raises(ValueError, match="different input fingerprint"):
            run_and_write(
                spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY, input_fingerprint="fpB"
            )

    def test_new_run_appends_snapshot(self, spark, tiny_transcripts, wh):
        # a second run_id over the same input is a second snapshot, and
        # the sink reads back both
        r1 = run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY)["archive"]
        r2 = run_and_write(spark, tiny_transcripts, wh, "run2", ARCHIVE_ONLY)["archive"]
        assert r1.snapshot_id != r2.snapshot_id
        assert wh.read_sink(spark, "archive").count() == r1.rows + r2.rows

    def test_orphan_snapshot_is_replaced_not_double_counted(
        self, spark, tiny_transcripts, wh
    ):
        # a crashed attempt left a file in the run's snapshot directory
        # and no commit manifest
        orphan_dir = os.path.join(wh.root, "routed", f"snap={_fingerprint('runX')}", "sink=archive")
        os.makedirs(orphan_dir)
        stray = os.path.join(orphan_dir, "part-stray.parquet")
        with open(stray, "w") as f:
            f.write("partial write")
        # the same run_id writes cleanly over the orphan
        r = run_and_write(spark, tiny_transcripts, wh, "runX", ARCHIVE_ONLY)["archive"]
        assert not r.skipped
        assert not os.path.exists(stray)  # overwritten, not read
        assert wh.read_sink(spark, "archive").count() == r.rows == tiny_transcripts.count()


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
        # routed files carry their conv_id ranges from the parquet
        # footers (their ts ranges: test_committed_format_is_zstd_with_ts_bounds)
        assert results["archive"].lineage
        for f in results["archive"].lineage:
            assert f["min_conv_id"] <= f["max_conv_id"]
        assert len(files) == sum(len(r.lineage) for r in results.values())
        # the commit log's sent counters and committed bytes, the latter
        # the sizes of the files on disk
        metrics = {r["sink"]: r for r in wh.metrics_table(spark).collect()}
        assert {s: r["sent"] for s, r in metrics.items()} == {
            name: r.rows for name, r in results.items()
        }
        on_disk = {
            name: sum(os.path.getsize(os.path.join(r.path, f["file"])) for f in r.lineage)
            for name, r in results.items()
        }
        assert {s: r["bytes"] for s, r in metrics.items()} == on_disk
        assert on_disk["archive"] > 0

    def test_committed_format_is_zstd_with_ts_bounds(self, spark, tiny_transcripts, wh):
        """Every committed file of both tables is zstd parquet, and the
        fixture's TIMESTAMP ts is INT64 TIMESTAMP(MICROS) with footer
        min/max, so each routed file's lineage carries its ts range."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        results = run_and_write(spark, tiny_transcripts, wh, "run1")
        assert results["archive"].lineage and results["archive_agg"].lineage
        for name, r in results.items():
            for f in r.lineage:
                md = pq.ParquetFile(os.path.join(r.path, f["file"])).metadata
                chunks = [
                    md.row_group(g).column(c)
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)
                ]
                assert {c.compression for c in chunks} == {"ZSTD"}, (name, f["file"])
                if name.endswith("_agg"):
                    continue
                ts = [c for c in chunks if c.path_in_schema == "ts"]
                assert ts and all(c.physical_type == "INT64" for c in ts)
                assert all(c.statistics.has_min_max for c in ts)
                assert md.schema.to_arrow_schema().field("ts").type == pa.timestamp("us", "UTC")
                assert f["min_ts"] <= f["max_ts"], (name, f)

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

        # a crash between the data write and the manifest rename: the
        # data stays, the manifest does not; the rerun rewrites the run
        os.remove(os.path.join(wh.root, "_commits", f"{first['errors'].snapshot_id}.json"))
        with pytest.raises(FileNotFoundError):
            wh.read_sink(spark, "errors")  # uncommitted data is invisible
        redo = run_and_write(spark, tiny_transcripts, wh, "run1", input_fingerprint="fpA")
        assert not any(r.skipped for r in redo.values())
        assert wh.read_sink(spark, "errors").count() == n_errors  # not doubled
        assert wh.read_sink(spark, "errors_agg").count() == first["errors_agg"].rows

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

    def test_deleted_part_file_fails_the_read(self, spark, tiny_transcripts, wh):
        """read_sink reads the files the manifest lists: one deleted after
        the commit fails the read instead of being counted as absent."""
        r = run_and_write(spark, tiny_transcripts, wh, "run1")["archive"]
        assert len(r.lineage) > 1  # the other files would still read
        os.remove(os.path.join(r.path, r.lineage[0]["file"]))
        with pytest.raises(Exception, match="PATH_NOT_FOUND"):
            wh.read_sink(spark, "archive").count()

    def test_truncated_part_file_is_refused_by_name(self, spark, tiny_transcripts, wh):
        """A committed file cut short after the commit is refused before
        any scan, by its size against the manifest's."""
        r = run_and_write(spark, tiny_transcripts, wh, "run1")["archive"]
        part = os.path.join(r.path, r.lineage[0]["file"])
        os.truncate(part, os.path.getsize(part) // 2)
        with pytest.raises(ValueError, match=f"committed file {re.escape(part)} is"):
            wh.read_sink(spark, "archive")

    def test_stray_file_in_committed_directory_is_not_read(
        self, spark, tiny_transcripts, wh
    ):
        r = run_and_write(spark, tiny_transcripts, wh, "run1")["archive"]
        tiny_transcripts.limit(5).write.parquet(os.path.join(wh.root, "stray"))
        (stray,) = [
            f for f in os.listdir(os.path.join(wh.root, "stray")) if f.endswith(".parquet")
        ]
        os.rename(
            os.path.join(wh.root, "stray", stray),
            os.path.join(r.path, "part-99999-stray.snappy.parquet"),
        )
        assert wh.read_sink(spark, "archive").count() == r.rows

    def test_null_ts_turn_counted_in_every_grouping_set(self, spark, tiny_transcripts, wh):
        """A turn without a timestamp has no event-time window, but it is
        still a turn of its conversation, role and tool: only ``by_window``
        sees it as a NULL key, so the run commits and conserves."""
        first = tiny_transcripts.orderBy("conv_id", "turn_idx").first()
        null_ts = (F.col("conv_id") == first.conv_id) & (F.col("turn_idx") == first.turn_idx)
        df = tiny_transcripts.withColumn(
            "ts", F.when(null_ts, F.lit(None)).otherwise(F.col("ts"))
        )
        results = run_and_write(spark, df, wh, "run1")
        agg = wh.read_sink(spark, "archive_agg")
        assert results["archive"].rows == tiny_transcripts.count()
        for group_set, key in [
            ("by_conv", "conv_id"),
            ("by_role", "role"),
            ("by_tool", "tool"),
            ("by_window", "window_start"),
        ]:
            rows = agg.filter(F.col("group_set") == group_set)
            assert rows.agg(F.sum("n_turns")).first()[0] == results["archive"].rows, group_set
        (conv,) = agg.filter(
            (F.col("group_set") == "by_conv") & (F.col("conv_id") == first.conv_id)
        ).collect()
        assert conv.n_turns == tiny_transcripts.filter(F.col("conv_id") == first.conv_id).count()
        (no_window,) = agg.filter(
            (F.col("group_set") == "by_window") & F.col("window_start").isNull()
        ).collect()
        assert no_window.n_turns == 1
        for s in ("archive", "errors", "tool_calls"):
            by_conv = (
                wh.read_sink(spark, f"{s}_agg")
                .filter(F.col("group_set") == "by_conv")
                .agg(F.sum("n_turns"))
                .first()[0]
            )
            assert by_conv == results[s].rows, s

    def test_route_matching_nothing_commits_zero_rows(self, spark, tiny_transcripts, wh):
        """A sink no row reaches gets no partition directory: it commits
        0 rows, its aggregate too, and reading it finds no snapshot."""
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

    def test_footer_rows_short_of_sent_refuse_commit(
        self, spark, tiny_transcripts, wh, monkeypatch
    ):
        """A sink whose part-file footers hold fewer rows than were sent
        to it (a file lost or truncated in the write) is not committed."""
        from opentelemetry_collector_spark.sinks import warehouse

        footers = warehouse._footer_lineage
        monkeypatch.setattr(
            warehouse, "_footer_lineage", lambda path, keys: footers(path, keys)[1:]
        )
        with pytest.raises(RuntimeError, match="lineage sums to .* refusing to commit"):
            run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY)
        assert os.listdir(os.path.join(wh.root, "_commits")) == []

    def test_routed_file_lost_before_aggregate_refuses_commit(
        self, spark, tiny_transcripts, wh, monkeypatch
    ):
        """The aggregate write's by-conversation turns must equal the rows
        sent to each sink: a routed part file lost after the routed write
        passed its footer check is caught at commit, not aggregated short."""
        write = wh.write_partitioned

        def lose_a_file(table, *args, **kwargs):
            entries = write(table, *args, **kwargs)
            if table == "routed":
                e = entries["errors"]
                os.remove(os.path.join(e["path"], e["lineage"][0]["file"]))
            return entries

        monkeypatch.setattr(wh, "write_partitioned", lose_a_file)
        with pytest.raises(RuntimeError, match="sink 'errors'.* refusing to commit"):
            run_and_write(spark, tiny_transcripts, wh, "run1")
        assert os.listdir(os.path.join(wh.root, "_commits")) == []

    def test_crash_before_manifest_rename_rewrites_both_tables(
        self, spark, tiny_transcripts, wh, monkeypatch
    ):
        """A crash after both writes but before the manifest rename leaves
        the routed and aggregate snapshot directories with no manifest; the
        next attempt of the run rewrites both and commits once."""
        commit, calls = wh._commit_sinks, []

        def crash_once(*args, **kwargs):
            calls.append(1)
            if len(calls) == 1:
                raise OSError("crashed before the manifest rename")
            return commit(*args, **kwargs)

        monkeypatch.setattr(wh, "_commit_sinks", crash_once)
        with pytest.raises(OSError, match="crashed"):
            run_and_write(spark, tiny_transcripts, wh, "run1")
        snap = f"snap={_fingerprint('run1')}"
        commits = os.path.join(wh.root, "_commits")

        def part_files():
            return {
                os.path.join(d, f)
                for table in ("routed", "aggregates")
                for d, _dirs, files in os.walk(os.path.join(wh.root, table, snap))
                for f in files
                if f.endswith(".parquet")
            }

        orphans = part_files()
        assert {os.path.dirname(os.path.dirname(f)) for f in orphans} == {
            os.path.join(wh.root, "routed", snap),
            os.path.join(wh.root, "aggregates", snap),
        }
        assert os.listdir(commits) == []
        redo = run_and_write(spark, tiny_transcripts, wh, "run1")
        assert not any(r.skipped for r in redo.values())
        assert part_files() and not orphans & part_files()  # both rewritten
        assert os.listdir(commits) == [f"{redo['archive'].snapshot_id}.json"]
        assert redo["archive"].rows == tiny_transcripts.count()
        for name, r in redo.items():  # nothing doubled
            assert wh.read_sink(spark, name).count() == r.rows, name


class TestReadSink:
    """``read_sink`` takes the schema from the manifests: no job runs
    before the read's own action, and a manifest older than the field
    still reads, by footer inference."""

    @staticmethod
    def _new_jobs(spark, read):
        """(read's result, the ungrouped job ids that appeared while it ran)."""
        sc = spark.sparkContext
        tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup())
        got = read()
        bus.waitUntilEmpty()
        return got, set(tracker.getJobIdsForGroup()) - before

    def test_read_launches_no_job_and_returns_the_inferred_schema(
        self, spark, tiny_transcripts, wh
    ):
        results = run_and_write(spark, tiny_transcripts, wh, "run1")
        for sink in ("archive", "archive_agg"):
            got, jobs = self._new_jobs(spark, lambda: wh.read_sink(spark, sink))
            assert not jobs, sink
            # what Spark's footer inference returns: every column
            # nullable (the written frame's ``parsed`` is not), no
            # ``sink`` partition column
            r = results[sink]
            inferred = spark.read.parquet(*[os.path.join(r.path, f["file"]) for f in r.lineage])
            assert got.schema == inferred.schema, sink
            assert "sink" not in got.columns
            assert all(f.nullable for f in got.schema.fields)
        assert "parsed" in wh.read_sink(spark, "archive").columns

    def test_manifest_without_schema_reads_by_inference(self, spark, tiny_transcripts, wh):
        import json

        r = run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY)["archive"]
        want = wh.read_sink(spark, "archive")
        key = lambda row: (row.conv_id, row.turn_idx)  # noqa: E731
        want_rows = sorted(want.collect(), key=key)
        path = wh._commit_path(r.snapshot_id)
        with open(path) as f:
            m = json.load(f)
        for e in m["sinks"].values():
            del e["schema"]
        with open(path, "w") as f:
            json.dump(m, f)
        got, jobs = self._new_jobs(spark, lambda: wh.read_sink(spark, "archive"))
        assert jobs  # the footer-inference job
        assert got.schema == want.schema
        assert sorted(got.collect(), key=key) == want_rows
        # one run with the field and one without: the schemas are not
        # all recorded, so the read infers them
        run_and_write(spark, tiny_transcripts, wh, "run2", ARCHIVE_ONLY)
        both = wh.read_sink(spark, "archive")
        assert both.schema == want.schema and both.count() == 2 * r.rows


class TestManifestReader:
    def test_manifest_without_sinks_is_refused(self, spark, wh):
        """A manifest that is not a run manifest is refused as
        malformed, not half-read."""
        wh._commit({"snapshot_id": "x", "sink": "a", "rows": 1, "path": "p"})
        with pytest.raises(ValueError, match="no sinks object"):
            wh.read_sink(spark, "a")
        with pytest.raises(ValueError, match="no sinks object"):
            wh.metrics_table(spark)

    def test_truncated_manifest_is_refused_by_name(self, spark, tiny_transcripts, wh):
        """A truncated manifest fails every read closed, and the error
        names the file rather than surfacing a bare JSON decode error."""
        r = run_and_write(spark, tiny_transcripts, wh, "run1", ARCHIVE_ONLY)["archive"]
        path = wh._commit_path(r.snapshot_id)
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text[: len(text) // 2])
        refused = f"manifest {re.escape(path)} is not valid JSON"
        with pytest.raises(ValueError, match=refused):
            wh.read_sink(spark, "archive")
        with pytest.raises(ValueError, match=refused):
            wh.metrics_table(spark)


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
        nor $SPARK_HOME/jars. If it appears this test fails — the signal
        to bind the warehouse interface to a real Iceberg catalog. The
        network half of the gate is ``test_gate_has_no_egress``."""
        import glob
        import os

        import pyspark

        jar_dirs = [
            os.path.join(os.path.dirname(pyspark.__file__), "jars"),
            os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars"),
        ]
        jars = [
            j for d in jar_dirs for j in glob.glob(os.path.join(d, "*iceberg*"))
        ]
        assert not jars, f"iceberg jar now present: {jars} — wire a real catalog"

    @pytest.mark.slow
    def test_gate_has_no_egress(self):
        """The other half of the gate: no network to fetch the jar. It
        opens an outbound socket, so it runs only in the full lane."""
        import socket

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

    def test_fanout_in_codegen_and_one_metrics_node_per_write(
        self, spark, tiny_transcripts, wh, tmp_path
    ):
        """The routed write's fan-out runs inside whole-stage codegen
        (``* Generate``), and each of the two writes carries exactly one
        ``CollectMetrics``: the counters are one pass over the input rows,
        not a second one over the cloned rows."""
        from opentelemetry_collector_spark.plans.pipeline import default_routes

        path = str(tmp_path / "in")
        tiny_transcripts.write.parquet(path)
        _, plans = self._run(spark, path, wh, "shape-codegen", default_routes())
        # the executed operator tree: the text before the node details,
        # AQE's final plan where there is one
        trees = [
            p.split("\n\n")[0].split("== Initial Plan ==")[0]
            for p in plans
            if "InsertIntoHadoopFsRelationCommand" in p
        ]
        assert len(trees) == 2, plans
        routed = [t for t in trees if "Generate" in t]
        assert len(routed) == 1 and "* Generate" in routed[0], routed
        for tree in trees:
            assert tree.count("CollectMetrics") == 1, tree
