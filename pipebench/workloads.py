"""The two workloads, built only from the pipeline's public functions.

Every op rebuilds its DataFrame from ``spark.read.parquet``: collecting
the same DataFrame twice lets Spark reuse the first run's shuffle output
and skip most of the work.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from opentelemetry_collector_spark import datagen
from opentelemetry_collector_spark.plans.pipeline import (
    PipelineConfig,
    default_routes,
    enrich_stage,
    materialize_concurrent,
    parse_stage,
    route_stage,
    run_pipeline,
)
from opentelemetry_collector_spark.sinks.warehouse import Warehouse, run_and_write


class Tracer:
    """Spans kept in memory; written out once the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record the enclosed block as a span; yields the span's id."""
        span_id, start = next(self._ids), time.perf_counter()
        try:
            yield span_id
        finally:
            self.spans.append(
                {"id": span_id, "parent": parent, "name": name,
                 "start": start, "end": time.perf_counter()}
            )


class TracedWarehouse(Warehouse):
    """Records one ``write_sink`` span per sink under a parent span."""

    def __init__(self, root: str, tracer: Tracer, parent: int):
        super().__init__(root)
        self.tracer, self.parent = tracer, parent

    def write_sink(self, sink, df, *args, **kwargs):
        with self.tracer.span(f"write_sink:{sink}", self.parent):
            return super().write_sink(sink, df, *args, **kwargs)


def errors_rollup(spark, path: str):
    """parse -> enrich -> route(errors) -> count and summed duration per
    role_class x level x 5-minute window."""
    enriched = enrich_stage(
        parse_stage(spark.read.parquet(path)),
        datagen.role_lookup_df(spark),
        datagen.tool_lookup_df(spark),
    )
    errors = route_stage(enriched, default_routes())["errors"]
    window_start = F.floor(F.col("ts").cast("timestamp").cast("long") / 300) * 300
    return errors.groupBy("role_class", "level", window_start.alias("window_start")).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("duration_ms").cast("long")).alias("sum_duration_ms"),
    )


def errors_agg_op(spark, path: str):
    return errors_rollup(spark, path).collect()


def pipeline_commit_op(spark, path: str, warehouse: Warehouse, run_id: str):
    """The shipped production path: ``run_and_write`` with the default
    config into a fresh warehouse."""
    return run_and_write(
        spark, spark.read.parquet(path), warehouse, run_id, config=PipelineConfig()
    )


def committed_bytes(results: dict) -> int:
    total = 0
    for r in results.values():
        for dirpath, _dirs, files in os.walk(r.path):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in files if f.endswith(".parquet")
            )
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefixes(workload: str, wh_dir: str):
    """Cumulative prefixes of the workload's DAG, each forced through the
    noop sink: [(layer, fn(spark, path))]. A layer's self time is its
    prefix's time minus the previous one's. ``pipeline_commit`` ends
    with the whole op, which writes a fresh warehouse under ``wh_dir``."""

    def scan(spark, path):
        return spark.read.parquet(path)

    def parsed(spark, path):
        return parse_stage(scan(spark, path))

    def enriched(spark, path):
        return enrich_stage(
            parsed(spark, path), datagen.role_lookup_df(spark), datagen.tool_lookup_df(spark)
        )

    def force(fn):
        return lambda spark, path: _noop(fn(spark, path))

    common = [("scan", force(scan)), ("parse", force(parsed)), ("enrich", force(enriched))]
    if workload == "errors_agg":
        return common + [
            ("route", force(lambda s, p: route_stage(enriched(s, p), default_routes())["errors"])),
            ("aggregate", force(errors_rollup)),
        ]

    def pipeline(with_aggregates: bool):
        # run_pipeline's persisted fan-out, forced without the warehouse
        def run(spark, path):
            res = run_pipeline(spark, scan(spark, path), PipelineConfig())
            frames = dict(res["routed"])
            if with_aggregates:
                frames.update({f"{k}_agg": v for k, v in res["aggregates_combined"].items()})
            try:
                materialize_concurrent({k: (lambda df=df: _noop(df)) for k, df in frames.items()})
            finally:
                res["enriched"].unpersist()

        return run

    commits = itertools.count()

    def commit(spark, path):
        n = next(commits)
        pipeline_commit_op(spark, path, Warehouse(os.path.join(wh_dir, str(n))), f"prefix-{n}")

    return common + [
        ("route", pipeline(False)), ("aggregate", pipeline(True)), ("commit", commit)
    ]
