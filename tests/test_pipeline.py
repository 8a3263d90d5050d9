"""End-to-end pipeline golden test: routed-row equality + per-turn text
equality + per-sink aggregate counts, verified against an independent
pandas oracle over the deterministic tiny table — the batch analog of
the reference testbed's sent==received validation
(testbed/testbed/validator.go:45-50,124-404)."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_spark.datagen import (
    make_transcripts_pdf,
    role_lookup_pdf,
    tool_lookup_pdf,
)
from opentelemetry_collector_spark.plans.pipeline import (
    TRANSCRIPT_PATTERN,
    PipelineConfig,
    run_pipeline,
)


@pytest.fixture(scope="module")
def oracle_pdf():
    """Pandas oracle: same parse/enrich/route computed independently."""
    pdf = make_transcripts_pdf(30, seed=42)
    pat = re.compile(TRANSCRIPT_PATTERN)

    extracted = pdf["text"].str.extract(pat)
    pdf = pd.concat([pdf, extracted], axis=1)
    pdf = pdf.merge(role_lookup_pdf(), on="role", how="left")
    pdf = pdf.merge(tool_lookup_pdf(), on="tool", how="left")
    return pdf


@pytest.fixture(scope="module")
def result(spark):
    from opentelemetry_collector_spark.datagen import make_transcripts_df

    df = make_transcripts_df(spark, n_convs=30, seed=42)
    res = run_pipeline(spark, df, PipelineConfig())
    yield res
    res["enriched"].unpersist()


def routed_oracle(oracle_pdf, sink):
    if sink == "errors":
        return oracle_pdf[oracle_pdf["level"].isin(["warn", "error"])]
    if sink == "tool_calls":
        return oracle_pdf[oracle_pdf["role"] == "tool"]
    return oracle_pdf


@pytest.mark.parametrize("sink", ["errors", "tool_calls", "archive"])
def test_routed_row_equality(result, oracle_pdf, sink):
    got = (
        result["routed"][sink]
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        routed_oracle(oracle_pdf, sink)[["conv_id", "turn_idx", "text"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    # routed-row equality AND per-turn text equality under stable order
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("sink", ["errors", "tool_calls", "archive"])
def test_per_sink_aggregate_counts(result, oracle_pdf, sink):
    want_rows = routed_oracle(oracle_pdf, sink)
    aggs = result["aggregates_combined"][sink]

    def counts(group_set, key, cond=None):
        df = aggs.filter(F.col("group_set") == group_set)
        if cond is not None:
            df = df.filter(cond)
        return {r[key]: r["n_turns"] for r in df.collect()}

    assert counts("by_role", "role") == want_rows.groupby("role").size().to_dict()
    assert counts("by_conv", "conv_id") == want_rows.groupby("conv_id").size().to_dict()
    # by_tool keeps the reference's non-null-attribute semantics
    assert (
        counts("by_tool", "tool", F.col("tool").isNotNull())
        == want_rows[want_rows.tool.notna()].groupby("tool").size().to_dict()
    )

    epoch_s = want_rows["ts"].astype("datetime64[us]").astype("int64") // 10**6
    win = (epoch_s // 300 * 300).astype(int)
    assert counts("by_window", "window_start") == want_rows.groupby(win).size().to_dict()


def test_enrich_lookup_semantics(result):
    enriched = result["enriched"].toPandas()
    # matched dim rows enriched
    assert (enriched.loc[enriched.role == "user", "role_class"] == "human").all()
    assert (enriched.loc[enriched.role == "assistant", "severity_number"] == 10).all()
    # 'shell' tool absent from dim ⇒ NULL enrich (missing from_attribute no-op)
    shell = enriched[enriched.tool == "shell"]
    assert len(shell) > 0 and shell["tool_category"].isna().all()
    sensitive = enriched[enriched.tool == "python"]
    assert len(sensitive) > 0 and sensitive["is_sensitive"].all()


def test_metrics_conservation(spark, oracle_pdf, tmp_path):
    """The obsreport counters ride the run manifest: receiver accepted
    and each sink's sent count, on the same input as the oracle."""
    from opentelemetry_collector_spark.datagen import make_transcripts_df
    from opentelemetry_collector_spark.sinks import Warehouse, run_and_write

    wh = Warehouse(str(tmp_path / "wh"))
    df = make_transcripts_df(spark, n_convs=30, seed=42)
    results = run_and_write(spark, df, wh, "run1", PipelineConfig())
    m = wh.committed(results["archive"].snapshot_id)
    sent = {sink: e["observed_sent"] for sink, e in m["sinks"].items()}
    assert m["counters"]["accepted"] == len(oracle_pdf)
    assert sent["archive"] == len(oracle_pdf)
    assert sent["tool_calls"] == (oracle_pdf.role == "tool").sum()
    assert sent["errors"] == oracle_pdf.level.isin(["warn", "error"]).sum()


def test_parse_engines_agree(spark):
    from opentelemetry_collector_spark.datagen import make_transcripts_df
    from opentelemetry_collector_spark.plans.pipeline import parse_stage

    df = make_transcripts_df(spark, n_convs=20, seed=42)
    cols = ["conv_id", "turn_idx", "level", "component", "msg", "duration_ms", "parsed"]
    a = parse_stage(df, engine="arrow").select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    j = parse_stage(df, engine="jvm").select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, j)


def test_disk_only_storage_level_equivalent(spark):
    """The storage_level knob changes WHERE the enriched frame is
    cached (executor heap vs local dirs), never WHAT any sink sees —
    the cluster bench runs with DISK_ONLY to keep executor heaps flat,
    so pin that the routed output is identical and the persist really
    carries the requested level. The baseline run's frame must be
    unpersisted BEFORE the DISK_ONLY run: Spark's CacheManager matches
    by logical plan and silently ignores a persist of an already-cached
    plan ("Asked to cache already cached data"), keeping the old level."""
    from pyspark import StorageLevel
    from opentelemetry_collector_spark.datagen import make_transcripts_df

    df = make_transcripts_df(spark, n_convs=30, seed=43)
    base = run_pipeline(spark, df, PipelineConfig())
    expected = {s: r.count() for s, r in base["routed"].items()}
    archive_pdf = (
        base["routed"]["archive"].select("conv_id", "turn_idx", "text").toPandas()
    )
    base["enriched"].unpersist()

    res = run_pipeline(
        spark, df, PipelineConfig(storage_level="DISK_ONLY")
    )
    assert res["enriched"].storageLevel == StorageLevel.DISK_ONLY
    for sink, routed in res["routed"].items():
        assert routed.count() == expected[sink], sink
    got = (
        res["routed"]["archive"].select("conv_id", "turn_idx", "text").toPandas()
    )
    key = ["conv_id", "turn_idx"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        archive_pdf.sort_values(key).reset_index(drop=True),
    )
    res["enriched"].unpersist()
