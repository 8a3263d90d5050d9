"""Physical-plan quality gates: the properties that make the pipeline
scale are asserted here so a regression (lost broadcast, extra
shuffle, broken pushdown) fails CI, not the 100 TB run."""

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark import datagen
from opentelemetry_collector_spark.plans.pipeline import (
    PipelineConfig,
    aggregate_combined,
    default_routes,
    enrich_stage,
    parse_stage,
    route_stage,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def parquet_transcripts(spark, tiny_transcripts, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "transcripts")
    tiny_transcripts.write.parquet(p)
    return spark.read.parquet(p)


class TestPlanQuality:
    def test_enrich_joins_are_broadcast(self, spark, parquet_transcripts):
        enriched = enrich_stage(
            parse_stage(parquet_transcripts, engine="jvm"),
            datagen.role_lookup_df(spark),
            datagen.tool_lookup_df(spark),
        )
        plan = plan_of(enriched)
        assert plan.count("BroadcastHashJoin") == 2, plan
        assert "SortMergeJoin" not in plan

    def test_filter_pushdown_reaches_scan(self, spark, parquet_transcripts):
        q = parquet_transcripts.filter(F.col("conv_id") == "conv-42").select("text")
        plan = plan_of(q)
        assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,conv-42)]" in plan, plan

    def test_column_pruning_reaches_scan(self, spark, parquet_transcripts):
        q = parse_stage(parquet_transcripts, engine="jvm").select("conv_id", "level")
        plan = plan_of(q)
        # the scan must read only the columns the parse projection needs
        assert "ReadSchema: struct<conv_id:string,text:string>" in plan, plan

    def test_route_stage_adds_no_shuffle(self, spark, parquet_transcripts):
        parsed = parse_stage(parquet_transcripts, engine="jvm")
        for sink, df in route_stage(parsed, PipelineConfig().routes).items():
            assert "Exchange" not in plan_of(df), sink

    def test_grouping_sets_single_shuffle(self, spark, parquet_transcripts):
        agg = aggregate_combined(parse_stage(parquet_transcripts, engine="jvm"))
        plan = plan_of(agg)
        # one expand + one exchange: 4 aggregations for one shuffle
        assert plan.count("Exchange") == 1, plan
        assert "Expand" in plan

    def test_aggregate_has_partial_map_side(self, spark, parquet_transcripts):
        agg = (
            parse_stage(parquet_transcripts, engine="jvm")
            .groupBy("role")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = plan_of(agg)
        # partial_count before the exchange = map-side combine
        assert "partial_count" in plan, plan

    def test_arrow_parse_runs_once_per_row(
        self, spark, parquet_transcripts, monkeypatch
    ):
        """A route filter on a parsed field must not be pushed below the
        Arrow parse: that would run the UDF over every row and again
        over the survivors (two ArrowEvalPython nodes)."""
        from opentelemetry_collector_spark.plans import entry_queries

        # the flagship queries over the parquet transcripts table
        monkeypatch.setattr(
            entry_queries, "_derive_transcripts", lambda *_: parquet_transcripts
        )
        for q in (
            entry_queries.q_pipeline_errors_agg,
            entry_queries.q_pipeline_routed_rows,
        ):
            plan = plan_of(q(spark, ""))
            assert plan.count("ArrowEvalPython") == 1, f"{q.__name__}\n{plan}"
        enriched = enrich_stage(
            parse_stage(parquet_transcripts),
            datagen.role_lookup_df(spark),
            datagen.tool_lookup_df(spark),
        )
        errors = route_stage(enriched, default_routes())["errors"]
        plan = plan_of(errors.groupBy("level").agg(F.count(F.lit(1))))
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_column_pruning_drops_unused_arrow_parse(self, spark, parquet_transcripts):
        plan = plan_of(parse_stage(parquet_transcripts).select("conv_id"))
        assert "ArrowEvalPython" not in plan, plan

    def test_whole_stage_codegen_covers_parse(self, spark, parquet_transcripts):
        plan = plan_of(parse_stage(parquet_transcripts, engine="jvm"))
        # "*(n)" node prefixes mark whole-stage-codegen stages in the
        # compact plan string
        assert "*(1) Project" in plan, plan

    @staticmethod
    def _shuffles(plan: str) -> int:
        """Count DISTINCT shuffle exchanges: 'Exchange hashpartitioning'
        node lines, excluding ReusedExchange references (whose line
        text repeats the referenced exchange's description) and
        de-duplicating by plan_id — a cached relation's build plan is
        re-PRINTED under every InMemoryTableScan that reads it, but an
        exchange with the same plan_id executes once."""
        import re

        seen, n = set(), 0
        for line in plan.splitlines():
            if "Exchange hashpartitioning" not in line or "ReusedExchange" in line:
                continue
            m = re.search(r"\[plan_id=(\d+)\]", line)
            if m:
                if m.group(1) in seen:
                    continue
                seen.add(m.group(1))
            n += 1
        return n

    def _assert_single_join_shuffle_side(self, spark, lsh_pairs):
        docs = datagen.make_transcripts_df(spark, n_convs=5).selectExpr(
            "cast(turn_idx as long) as doc_id", "text"
        )
        # assert under the AT-SCALE join regime (sort-merge, no
        # broadcast, no AQE tiny-data rewrites): on 10^9 docs every
        # side outgrows the broadcast threshold, and that is the plan
        # whose shuffle budget matters
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            # shuffles: the cap window's band-key exchange (1, shared
            # by both self-join sides) + pair dedup (1) + for minhash
            # the verify's id_a/id_b joins (the pair list twice, the
            # source's (id, text) once — its exchange is reused by
            # the second side). With broadcast forced off this regime
            # models a pair list too big to broadcast; under AQE +
            # default threshold a small one broadcasts at runtime and
            # the verify exchanges vanish. The shingle arrays are
            # built after the verify joins, for surviving pairs only,
            # never through the band join
            plan = plan_of(lsh_pairs(docs, hot_bucket_limit=None))
            n = self._shuffles(plan)
            assert n <= 9, f"{n} shuffles\n{plan}"
            # the DEFAULT hot-bucket cap is shuffle-neutral and keeps
            # Catalyst's map-side partial WindowGroupLimit pruning
            capped = plan_of(lsh_pairs(docs))
            n_capped = self._shuffles(capped)
            assert n_capped <= n, f"cap added shuffles: {n_capped} > {n}\n{capped}"
            assert "WindowGroupLimit" in capped and "Partial" in capped, capped
            for p in (plan, capped):
                # nothing is persisted: both self-join sides read one
                # exchange instead of a cached frame
                assert "InMemoryTableScan" not in p, p
                assert "ReusedExchange" in p, p
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        return plan, capped

    def test_minhash_lsh_single_join_shuffle_side(self, spark):
        from opentelemetry_collector_spark.trainingdata import minhash_lsh_pairs

        for plan in self._assert_single_join_shuffle_side(spark, minhash_lsh_pairs):
            # the corpus-sized band exchange must be SKINNY: any exchange
            # partitioned on the band keys must not carry the shingle array
            for line in plan.splitlines():
                if "Exchange hashpartitioning(band_" in line:
                    assert "sh#" not in line, f"shingles in band shuffle:\n{line}"

    def test_simhash_lsh_single_join_shuffle_side(self, spark):
        from opentelemetry_collector_spark.trainingdata import simhash_lsh_pairs

        self._assert_single_join_shuffle_side(spark, simhash_lsh_pairs)

    def test_embed_near_dup_bucket_join_carries_no_vectors(self, spark):
        """The embedding near-dup bucket self-join must move only
        (id, bucket) — vector arrays and norms join back AFTER the
        candidate pairs are known (round-3 verdict item 3), so the
        candidate exchange never carries the ~0.5 KB/row payload."""
        import random

        from opentelemetry_collector_spark.trainingdata import (
            embedding_near_dup_pairs,
        )

        random.seed(7)
        rows = [(i, [random.random() for _ in range(8)]) for i in range(30)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            plan = plan_of(embedding_near_dup_pairs(df, n_bits=4, threshold=0.5))
            lines = plan.splitlines()
            bucket_exchanges = [
                i
                for i, ln in enumerate(lines)
                if "Exchange hashpartitioning(bucket" in ln
            ]
            assert len(bucket_exchanges) >= 1, plan
            for i in bucket_exchanges:
                # the exchange's child Project computes (id, bucket)
                # only: no norm column and no vector payload alias
                child = lines[i + 1]
                assert "norm" not in child and "AS v_a" not in child and "AS v_b" not in child, child
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_stratified_sample_is_pure_pushed_filter(self, spark, tmp_path):
        """stratified_sample must compile to a codegen filter over the
        scan — no Exchange, no Python eval — so at 100 TB it is a
        predicate inside the read, not a job of its own."""
        from opentelemetry_collector_spark.trainingdata import stratified_sample

        p = str(tmp_path / "docs")
        spark.createDataFrame(
            [(i, "en" if i % 2 else "de") for i in range(100)],
            "doc_id long, lang string",
        ).write.parquet(p)
        df = stratified_sample(
            spark.read.parquet(p), {"en": 0.5}, "lang", "doc_id"
        )
        plan = plan_of(df)
        assert "Exchange" not in plan, plan
        assert "Python" not in plan and "ArrowEval" not in plan, plan
        # "*(1) Filter" = the filter runs inside whole-stage codegen
        # stage 1 (executedPlan().toString() marks codegen stages with
        # "*(n)"; the literal word only appears in formatted explain)
        assert "*(1) Filter" in plan, plan

    def test_repetition_query_one_shuffle_one_arrow_pass(self, spark):
        """td_repetition must cost exactly the conversation-assembly
        shuffle plus ONE Arrow UDF pass — the metrics themselves add
        no exchange (they are a pure function of the assembled doc)."""
        from opentelemetry_collector_spark.plans.trainingdata_queries import (
            q_td_repetition,
        )

        df = q_td_repetition(spark, "/root/testdata/sf0.001")
        plan = plan_of(df)
        assert plan.count("Exchange") <= 2, plan  # groupBy (+AQE read)
        assert plan.count("ArrowEvalPython") == 1, plan

    def test_decontam_broadcasts_eval_never_shuffles_corpus_ngrams(self, spark):
        """contamination() must broadcast the eval n-gram set (the
        corpus side never shuffles its n-grams) and its only
        corpus-side exchange is the final per-doc count, partially
        aggregated map-side — so at 100 TB the wire carries at most
        one small row per contaminated document."""
        from opentelemetry_collector_spark.trainingdata import contamination

        docs = datagen.make_transcripts_df(spark, n_convs=5).selectExpr(
            "cast(turn_idx as long) as doc_id", "text"
        )
        ev = docs.limit(3)
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            plan = plan_of(contamination(docs, ev, n=3))
            assert "BroadcastHashJoin" in plan, plan
            assert "SortMergeJoin" not in plan, plan
            # shuffles: eval-side distinct (tiny) + final groupBy — the
            # exploded corpus n-grams never hit an exchange
            n = self._shuffles(plan)
            assert n <= 2, f"{n} shuffles\n{plan}"
            assert "partial_count" in plan, plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_chunk_dedup_shuffles_hashes_not_text(self, spark):
        """chunk_dedup_stats exchanges carry md5 chunk hashes and ids
        only — the document text never crosses the wire."""
        from opentelemetry_collector_spark.trainingdata import chunk_dedup_stats

        docs = datagen.make_transcripts_df(spark, n_convs=5).selectExpr(
            "cast(turn_idx as long) as doc_id", "text"
        )
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.adaptive.enabled",
            )
        }
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            plan = plan_of(chunk_dedup_stats(docs))
            lines = plan.splitlines()
            # every shuffle's child projects hashes/ids, never text
            for i, ln in enumerate(lines):
                if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln:
                    assert "text" not in lines[i + 1], lines[i + 1]
            # boilerplate groupBy(h) + per-doc join(h) + final
            # groupBy(id) — bounded shuffle budget
            n = self._shuffles(plan)
            assert n <= 3, f"{n} shuffles\n{plan}"
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_topk_uses_take_ordered(self, spark, parquet_transcripts):
        q = (
            parquet_transcripts.groupBy("conv_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"))
            .limit(5)
        )
        plan = plan_of(q)
        assert "TakeOrderedAndProject" in plan, plan


class TestWireCodecPlans:
    """A wire round trip reads its source once and crosses into Python
    once per direction: the OTLP metric decoder explodes its four
    union arms in one pass instead of unioning one branch per arm,
    which re-ran the scan (and, for the proto arm, both Python maps)
    once per branch."""

    @pytest.fixture(scope="class")
    def parquet_dps(self, spark, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("wire") / "dps")
        spark.createDataFrame(
            [
                ("a", "IntGauge", "UNSPECIFIED", {"k": "v"}, 1, None),
                ("b", "DoubleGauge", "UNSPECIFIED", {}, None, 0.5),
                ("c", "IntSum", "DELTA", None, 2, None),
                ("d", "DoubleSum", "CUMULATIVE", {}, None, 1.5),
            ],
            "name string, data_type string, temporality string,"
            " labels map<string,string>, int_value long, double_value double",
        ).withColumn("ts", F.current_timestamp()).write.parquet(p)
        return spark.read.parquet(p)

    @pytest.fixture(scope="class")
    def parquet_spans(self, spark, tiny_transcripts, tmp_path_factory):
        from opentelemetry_collector_spark.operators.traces import transcripts_to_spans

        p = str(tmp_path_factory.mktemp("wire") / "spans")
        transcripts_to_spans(parse_stage(tiny_transcripts, engine="jvm")).write.parquet(p)
        return spark.read.parquet(p)

    def test_metric_arms_scan_once(self, parquet_dps):
        from opentelemetry_collector_spark.sources import otlp_json, otlp_proto

        arms = {
            "otlp_json": otlp_json.metrics_from_otlp_json(
                otlp_json.metrics_to_otlp_json(parquet_dps)
            ),
            "otlp_proto": otlp_proto.metrics_from_otlp_proto(
                otlp_proto.metrics_to_otlp_proto(parquet_dps)
            ),
        }
        for name, df in arms.items():
            plan = plan_of(df)
            assert plan.count("FileScan parquet") == 1, f"{name}\n{plan}"
            python_maps = 2 if name == "otlp_proto" else 0
            assert plan.count("MapInPandas") == python_maps, f"{name}\n{plan}"

    def test_binary_span_arms_cross_python_once_each_way(self, parquet_spans):
        from opentelemetry_collector_spark.plans.operator_queries import (
            _span_wire_codecs,
        )

        codecs = _span_wire_codecs()
        for name in (
            "otlp_proto", "zipkin_v2_proto", "zipkin_v1_thrift",
            "jaeger_thrift", "jaeger_proto",
        ):
            plan = plan_of(codecs[name](parquet_spans))
            assert plan.count("FileScan parquet") == 1, f"{name}\n{plan}"
            assert plan.count("MapInPandas") == 2, f"{name}\n{plan}"


class TestSingleScanPlans:
    """The hostmetrics scrape and the per-sink count queries read their
    source once: every scraper's datapoints explode from one array, and
    every count is one aggregate, where each used to be a union with
    one branch (and one scan) per scraper or per sink."""

    @pytest.mark.parametrize(
        "name",
        ["hostmetrics_scrape", "route_fanout_counts", "obsreport_counts",
         "config_pipeline"],
    )
    def test_source_scanned_once(self, spark, name):
        from opentelemetry_collector_spark.plans.entry_queries import QUERIES

        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = plan_of(df)
        assert plan.count("FileScan parquet") == 1, plan
        assert "Union" not in optimized_of(df), optimized_of(df)
