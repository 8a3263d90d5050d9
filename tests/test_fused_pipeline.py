"""The tagged fan-out and its single-shuffle aggregation (what
``run_and_write`` commits) must produce exactly the per-sink results of
the reference-shaped per-sink frames."""

from pyspark.sql import functions as F

from opentelemetry_collector_spark.plans.pipeline import (
    PipelineConfig,
    aggregate_combined,
    compile_routed,
    parse_stage,
    route_stage,
    route_stage_tagged,
)


class TestFusedEquivalence:
    def test_tagged_routes_match_per_sink_frames(self, spark, tiny_transcripts):
        parsed = parse_stage(tiny_transcripts, engine="jvm")
        routes = PipelineConfig().routes
        tagged = route_stage_tagged(parsed, routes)
        per_sink = route_stage(parsed, routes)
        for sink, df in per_sink.items():
            a = tagged.filter(F.col("sink") == sink).drop("sink")
            assert a.count() == df.count(), sink
            key = ["conv_id", "turn_idx", "text"]
            assert a.select(key).subtract(df.select(key)).count() == 0, sink

    def test_tagged_aggregates_match_per_sink(self, spark, tiny_transcripts):
        parsed = parse_stage(tiny_transcripts, engine="jvm")
        routes = PipelineConfig().routes
        tagged_agg = aggregate_combined(route_stage_tagged(parsed, routes), by=("sink",))
        for sink, df in route_stage(parsed, routes).items():
            want = aggregate_combined(df)
            got = tagged_agg.filter(F.col("sink") == sink).drop("sink")
            assert got.subtract(want).count() == 0, sink
            assert want.subtract(got).count() == 0, sink

    def test_single_exchange_for_all_aggregates(self, spark, tiny_transcripts):
        """Every sink's four groupings are one Expand under one Exchange."""
        parsed = parse_stage(tiny_transcripts, engine="jvm")
        tagged = route_stage_tagged(parsed, PipelineConfig().routes)
        agg = aggregate_combined(tagged, by=("sink",))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Expand [") == 1, plan
        assert plan.count("Exchange") == 1, plan

    def test_compile_routed_counts(self, spark, tiny_transcripts):
        tagged, received = compile_routed(spark, tiny_transcripts, PipelineConfig())
        n = tiny_transcripts.count()
        per_sink = {
            r["sink"]: r["n"]
            for r in tagged.groupBy("sink").agg(F.count("*").alias("n")).collect()
        }
        assert per_sink["archive"] == n
        assert received.get["accepted"] == n
        assert set(per_sink) == {"errors", "tool_calls", "archive"}
        # each route's sent count, taken before the fan-out, is exactly
        # the rows the fan-out emits for it — the errors route's NULL
        # predicate on unparsed rows included
        assert {s: received.get[s] for s in per_sink} == per_sink
        assert received.get["parse_refused"] > 0
