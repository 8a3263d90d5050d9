"""Driver queries + DuckDB oracles for the operator surface that was
previously verified only by pytest: expr filter, resource processor,
resource_to_label, metric-name filter, splitTrace, the four span/log
translators (OTLP, Zipkin, Jaeger, OpenCensus) as round-trip identity
queries, and the config-compiled pipeline builder.

Round-trip queries encode the strongest invariant a translator has:
table → wire JSON → table must be the identity on every field
(testbed/testbed/validator.go:124-404 diffs the same way); the oracle
computes the expected table directly from events in SQL, so any field
the translator drops or distorts breaks the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .shared_sql import _TRANSCRIPTS_FROM_EVENTS, _derive_transcripts, _register

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# spans derived from transcripts, mirrored in both engines: span_id is
# the md5-prefix content hash (operators/traces.py:36), parent links by
# lag, kind by role, status from the parsed level, times in micros.
_SPANS_SQL = f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
sp AS (
  SELECT conv_id AS trace_id,
         substr(md5(conv_id || '#' || CAST(turn_idx AS VARCHAR)), 1, 16) AS span_id,
         lag(substr(md5(conv_id || '#' || CAST(turn_idx AS VARCHAR)), 1, 16))
             OVER (PARTITION BY conv_id ORDER BY turn_idx) AS parent_span_id,
         turn_idx,
         role || '/' || coalesce(tool, '-') AS name,
         CASE role WHEN 'user' THEN 'SERVER' WHEN 'tool' THEN 'CLIENT'
                   ELSE 'INTERNAL' END AS kind,
         CASE WHEN regexp_extract(text, '\\[(\\w+)\\]', 1) = 'error'
              THEN 2 ELSE 0 END AS status_code,
         epoch_us(ts) AS start_us,
         epoch_us(ts) + CASE WHEN regexp_matches(text, 'duration=(\\d+)ms')
                             THEN CAST(regexp_extract(text, 'duration=(\\d+)ms', 1) AS BIGINT)
                             ELSE 0 END * 1000 AS end_us
  FROM t
)
"""

_SPAN_COLS = [
    "trace_id", "span_id", "parent_span_id", "turn_idx",
    "name", "kind", "status_code",
]


def _span_roundtrip_select(back: DataFrame) -> DataFrame:
    return back.select(
        *_SPAN_COLS,
        F.unix_micros(F.col("start_ts").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("end_ts").cast("timestamp")).alias("end_us"),
    )


_SPAN_ORACLE = (
    _SPANS_SQL
    + "SELECT trace_id, span_id, parent_span_id, CAST(turn_idx AS INT) AS turn_idx,"
    " name, kind, CAST(status_code AS INT) AS status_code, start_us, end_us FROM sp"
)


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.traces import transcripts_to_spans
    from .pipeline import parse_stage

    t = _derive_transcripts(spark, sf_dir)
    return transcripts_to_spans(parse_stage(t, engine="jvm"))


# datapoints derived from events, mirrored in both engines: the
# metric wire matrix's source table and its expected rows.
_DP_FROM_EVENTS_SPARK = """
SELECT 'events.' || event_type AS name,
       CASE WHEN event_type IN ('click', 'view') THEN 'IntSum' ELSE 'DoubleSum' END AS data_type,
       CASE WHEN event_type IN ('click', 'view') THEN 'DELTA' ELSE 'CUMULATIVE' END AS temporality,
       map('m', event_type) AS labels,
       ts,
       CASE WHEN event_type IN ('click', 'view')
            THEN CAST(floor(value) AS BIGINT) END AS int_value,
       CASE WHEN NOT event_type IN ('click', 'view')
            THEN CAST(round(value, 6) AS DOUBLE) END AS double_value
FROM events
"""


def _dp_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "events")
    return spark.sql(_DP_FROM_EVENTS_SPARK)


def _dp_roundtrip_select(back: DataFrame) -> DataFrame:
    return back.select(
        "name", "data_type", "temporality",
        F.element_at(F.col("labels"), "m").alias("m"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "int_value",
        F.round(F.col("double_value"), 6).alias("double_value"),
    )


_DP_ORACLE_BASE = """
SELECT 'events.' || event_type AS name,
       CASE WHEN event_type IN ('click', 'view') THEN 'IntSum' ELSE 'DoubleSum' END AS data_type,
       CASE WHEN event_type IN ('click', 'view') THEN 'DELTA' ELSE 'CUMULATIVE' END AS temporality,
       event_type AS m, epoch_us(ts) AS ts_us,
       CASE WHEN event_type IN ('click', 'view')
            THEN CAST(floor(value) AS BIGINT) END AS int_value,
       CASE WHEN NOT event_type IN ('click', 'view')
            THEN CAST(round(value, 6) AS DOUBLE) END AS double_value
FROM events
"""


# ---------------------------------------------------------------------------
# expr filter (internal/processor/filterexpr/matcher.go:29-62,148-164)
# ---------------------------------------------------------------------------


def q_expr_filter_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter match_type ``expr`` over a datapoint table derived from
    events: a metric is kept when ANY of its datapoints satisfies
    ``Label("code") != "500" && HasLabel("bucket")``. Exercises the
    compile (matcher.go createEnv, incl. the missing-label
    empty-string default) and the any-datapoint window semantics."""
    from ..operators.exprfilter import filter_metrics_expr

    _register(spark, sf_dir, "events")
    events = spark.table("events")
    dps = events.select(
        F.concat(F.lit("events."), F.col("event_type")).alias("name"),
        F.col("event_id"),
        F.map_filter(
            F.create_map(
                F.lit("code"),
                F.when(F.col("event_type") == "error", F.lit("500")),
                F.lit("bucket"),
                F.when(F.col("value") >= 100, (F.col("event_id") % 3).cast("string")),
            ),
            lambda _k, v: v.isNotNull(),
        ).alias("labels"),
    )
    kept = filter_metrics_expr(
        dps, 'Label("code") != "500" && HasLabel("bucket")', action="include"
    )
    return kept.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_id")
    )


def _oracle_expr_filter_metrics() -> str:
    return """
WITH dp AS (
  SELECT 'events.' || event_type AS name, event_id,
         CASE WHEN event_type = 'error' THEN '500' END AS code,
         CASE WHEN value >= 100 THEN CAST(event_id % 3 AS VARCHAR) END AS bucket
  FROM events
),
m AS (
  SELECT name FROM dp GROUP BY name
  HAVING max(CASE WHEN coalesce(code, '') <> '500' AND bucket IS NOT NULL
             THEN 1 ELSE 0 END) = 1
)
SELECT dp.name, CAST(count(*) AS BIGINT) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id
FROM dp JOIN m USING (name)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# resource processor (processor/resourceprocessor/resource_processor.go:29-61)
# ---------------------------------------------------------------------------


def q_resource_processor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four attribute actions over the resource map: INSERT only
    fills missing keys, UPDATE only touches present keys, UPSERT is
    unconditional, DELETE removes — verified by the final map shape
    per event_type."""
    from ..operators.attributes import Action
    from ..operators.span import ResourceProcessor

    _register(spark, sf_dir, "events")
    events = spark.table("events")
    seeded = events.select(
        "event_type",
        F.map_filter(
            F.create_map(
                F.lit("env"),
                F.when(F.col("event_type") == "click", F.lit("prod")),
                F.lit("ver"), F.lit("1"),
                F.lit("tmp"),
                F.when(F.col("event_type") == "error", F.lit("x")),
            ),
            lambda _k, v: v.isNotNull(),
        ).alias("resource_attrs"),
    )
    proc = ResourceProcessor(
        [
            Action("env", "insert", value="dev"),
            Action("ver", "update", value="2"),
            Action("svc", "upsert", value="api"),
            Action("tmp", "delete"),
        ]
    )
    out = proc(seeded)
    m = F.col("resource_attrs")
    return out.groupBy(
        F.element_at(m, "env").alias("env"),
        F.element_at(m, "ver").alias("ver"),
        F.element_at(m, "svc").alias("svc"),
        F.map_contains_key(m, F.lit("tmp")).alias("has_tmp"),
    ).agg(F.count(F.lit(1)).alias("n"))


def _oracle_resource_processor() -> str:
    return """
SELECT CASE WHEN event_type = 'click' THEN 'prod' ELSE 'dev' END AS env,
       '2' AS ver, 'api' AS svc, FALSE AS has_tmp,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# resource_to_label (exporter/exporterhelper/resource_to_label.go:36-55)
# ---------------------------------------------------------------------------


def q_resource_to_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource attrs copied into datapoint labels with the
    datapoint's own label winning on collision."""
    from ..operators.metrics import resource_to_label

    _register(spark, sf_dir, "events")
    events = spark.table("events")
    dps = events.select(
        F.concat(F.lit("events."), F.col("event_type")).alias("name"),
        F.map_filter(
            F.create_map(
                F.lit("k"), F.when(F.col("event_id") % 2 == 0, F.lit("dp"))
            ),
            lambda _k, v: v.isNotNull(),
        ).alias("labels"),
        F.create_map(
            F.lit("k"), F.lit("res"), F.lit("region"), F.lit("eu")
        ).alias("resource_attrs"),
    )
    out = resource_to_label(dps)
    return out.groupBy(
        "name",
        F.element_at(F.col("labels"), "k").alias("k"),
        F.element_at(F.col("labels"), "region").alias("region"),
    ).agg(F.count(F.lit(1)).alias("n"))


def _oracle_resource_to_label() -> str:
    return """
SELECT 'events.' || event_type AS name,
       CASE WHEN event_id % 2 = 0 THEN 'dp' ELSE 'res' END AS k,
       'eu' AS region, CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# metric filterprocessor (processor/filterprocessor/filter_processor.go:90-113)
# ---------------------------------------------------------------------------


def q_metric_filter_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed strict-exclude then regexp-include over metric names
    (both filterset flavors, §2.4)."""
    from ..operators.metrics import filter_metric_names

    _register(spark, sf_dir, "events")
    events = spark.table("events")
    dps = events.select(
        F.concat(F.lit("events."), F.col("event_type")).alias("name"), "event_id"
    )
    step1 = filter_metric_names(
        dps, ["events.click", "events.view"], "strict", action="exclude"
    )
    step2 = filter_metric_names(
        step1, [r"events\.(error|signup|purchase)"], "regexp", action="include"
    )
    return step2.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("sum_id")
    )


def _oracle_metric_filter_names() -> str:
    return """
SELECT 'events.' || event_type AS name, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS sum_id
FROM events
WHERE 'events.' || event_type NOT IN ('events.click', 'events.view')
  AND regexp_matches('events.' || event_type, 'events\\.(error|signup|purchase)')
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# splitTrace (processor/batchprocessor/splittraces.go:22-65)
# ---------------------------------------------------------------------------


def q_split_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """send_batch_max_size splitting: stable turn order chunked into
    batches of ≤7 per conversation; per-batch_id histogram pins both
    the chunk boundaries and the ordering."""
    from ..operators.batch import split_batches

    t = _derive_transcripts(spark, sf_dir)
    sp = split_batches(t, ["conv_id"], ["turn_idx"], 7)
    return sp.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("conv_id").alias("n_convs"),
        F.sum("turn_idx").alias("sum_turns"),
    )


def _oracle_split_batches() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
b AS (
  SELECT conv_id, turn_idx,
         (row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1) // 7
           AS batch_id
  FROM t
)
SELECT CAST(batch_id AS BIGINT) AS batch_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(sum(turn_idx) AS BIGINT) AS sum_turns
FROM b
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# config-compiled pipeline (service/builder/pipelines_builder.go:120-203)
# ---------------------------------------------------------------------------


def q_config_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A declarative spec compiled by ``compile_spec`` must behave
    exactly like the SQL the oracle states: attributes (upsert+insert)
    → filter (regexp include + strict exclude) → two routed sinks with
    per-sink counts and an inserted-attribute count proving the
    attributes stage ran before the filter, every sink counted in one
    aggregate."""
    from .config import compile_spec
    from .pipeline import parse_stage, route_counts

    t = _derive_transcripts(spark, sf_dir)
    parsed = parse_stage(t, engine="jvm")
    with_attrs = parsed.withColumn(
        "attrs",
        F.map_filter(
            F.create_map(
                F.lit("level"), F.col("level"),
                F.lit("role"), F.col("role"),
                F.lit("chan"),
                F.when(F.col("role") == "tool", F.lit("t")),
            ),
            lambda _k, v: v.isNotNull(),
        ),
    )
    spec = {
        "processors": [
            {
                "type": "attributes",
                "actions": [
                    {"key": "src", "action": "upsert", "value": "cfg"},
                    {"key": "chan", "action": "insert", "value": "default"},
                ],
            },
            {
                "type": "filter",
                "include": {
                    "match_type": "regexp",
                    "attributes": [{"key": "level", "value": "warn|error"}],
                },
                "exclude": {
                    "match_type": "strict",
                    "attributes": [{"key": "role", "value": "system"}],
                },
            },
        ],
        "exporters": {"errors": {"include_levels": ["error"]}, "all": {}},
    }
    chain, routes = compile_spec(spec)
    filtered = chain(with_attrs)

    def attr_is(key: str, value: str) -> Column:
        return (F.element_at(F.col("attrs"), key) == value).cast("long")

    def sink_row(r, sent: Column) -> Column:
        keep = r.predicate(filtered)
        return F.struct(
            F.lit(r.sink).alias("sink"),
            sent.alias("sent"),
            F.sum(F.when(keep, attr_is("chan", "default"))).alias("n_chan_default"),
            F.sum(F.when(keep, attr_is("src", "cfg"))).alias("n_src_cfg"),
        )

    rows = F.array(*map(sink_row, routes, route_counts(filtered, routes)))
    return filtered.agg(rows.alias("rows")).select(F.inline("rows"))


def _oracle_config_pipeline() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
p AS (SELECT *, regexp_extract(text, '\\[(\\w+)\\]', 1) AS level FROM t),
f AS (
  SELECT *, CASE WHEN role = 'tool' THEN 't' ELSE 'default' END AS chan
  FROM p
  WHERE regexp_matches(level, 'warn|error') AND role <> 'system'
)
SELECT 'errors' AS sink, CAST(count(*) AS BIGINT) AS sent,
       CAST(sum(CASE WHEN chan = 'default' THEN 1 ELSE 0 END) AS BIGINT) AS n_chan_default,
       CAST(count(*) AS BIGINT) AS n_src_cfg
FROM f WHERE level = 'error'
UNION ALL
SELECT 'all', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN chan = 'default' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT)
FROM f
"""


# ---------------------------------------------------------------------------
# consolidated wire matrices — one driver row per wire FAMILY so every
# codec keeps a green CORRECTNESS row inside the driver's 50-query
# budget (round-3 verdict item 1). Each matrix unions its codecs'
# round trips with a `format` tag, every branch reading the same
# source frame.
# ---------------------------------------------------------------------------


def _span_wire_codecs():
    from ..sources.jaeger_json import jaeger_json_to_spans, spans_to_jaeger_json
    from ..sources.jaeger_proto import jaeger_proto_to_spans, spans_to_jaeger_proto
    from ..sources.jaeger_thrift import jaeger_thrift_to_spans, spans_to_jaeger_thrift
    from ..sources.opencensus_json import oc_json_to_spans, spans_to_oc_json
    from ..sources.otlp_json import otlp_json_to_spans, spans_to_otlp_json
    from ..sources.otlp_proto import otlp_proto_to_spans, spans_to_otlp_proto
    from ..sources.zipkin_json import spans_to_zipkin_json, zipkin_json_to_spans
    from ..sources.zipkin_proto import spans_to_zipkin_proto, zipkin_proto_to_spans
    from ..sources.zipkin_thrift import spans_to_zipkin_thrift, zipkin_thrift_to_spans
    from ..sources.zipkin_v1_json import (
        spans_to_zipkin_v1_json,
        zipkin_v1_json_to_spans,
    )

    return {
        "otlp_json": lambda sp: otlp_json_to_spans(spans_to_otlp_json(sp)),
        "otlp_proto": lambda sp: otlp_proto_to_spans(spans_to_otlp_proto(sp)),
        "zipkin_v2_json": lambda sp: zipkin_json_to_spans(spans_to_zipkin_json(sp)),
        "zipkin_v2_proto": lambda sp: zipkin_proto_to_spans(spans_to_zipkin_proto(sp)),
        "zipkin_v1_json": lambda sp: zipkin_v1_json_to_spans(
            spans_to_zipkin_v1_json(sp)
        ),
        "zipkin_v1_thrift": lambda sp: zipkin_thrift_to_spans(
            spans_to_zipkin_thrift(sp)
        ),
        "jaeger_json": lambda sp: jaeger_json_to_spans(spans_to_jaeger_json(sp)),
        "jaeger_thrift": lambda sp: jaeger_thrift_to_spans(spans_to_jaeger_thrift(sp)),
        "jaeger_proto": lambda sp: jaeger_proto_to_spans(spans_to_jaeger_proto(sp)),
        "oc_json": lambda sp: oc_json_to_spans(spans_to_oc_json(sp)),
    }


def q_span_wire_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL ten trace wire formats as one tagged identity matrix: span
    table → wire → back must be the identity per format. Each of the
    ten branches reads the spans frame directly; nothing is persisted."""
    sp = _spans(spark, sf_dir)
    out = None
    for name, fn in _span_wire_codecs().items():
        # tag FIRST — the oracle emits it first, and query/oracle
        # column order stays positionally aligned repo-wide
        part = _span_roundtrip_select(fn(sp)).select(
            F.lit(name).alias("format"), "*"
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_span_wire_roundtrips() -> str:
    fmts = ", ".join(f"('{name}')" for name in _span_wire_codecs())
    return (
        _SPANS_SQL
        + "SELECT f.format, trace_id, span_id, parent_span_id,"
        " CAST(turn_idx AS INT) AS turn_idx, name, kind,"
        " CAST(status_code AS INT) AS status_code, start_us, end_us"
        f" FROM sp CROSS JOIN (VALUES {fmts}) AS f(format)"
    )


_TRANSCRIPT_ID_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def q_log_wire_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP log wire identity matrix (protobuf-JSON + binary
    protobuf): transcripts → wire → back per format."""
    from ..sources.otlp_json import logs_from_otlp_json, logs_to_otlp_json
    from ..sources.otlp_proto import logs_from_otlp_proto, logs_to_otlp_proto

    t = _derive_transcripts(spark, sf_dir)
    codecs = {
        "otlp_json": lambda d: logs_from_otlp_json(logs_to_otlp_json(d)),
        "otlp_proto": lambda d: logs_from_otlp_proto(logs_to_otlp_proto(d)),
    }
    out = None
    for name, fn in codecs.items():
        part = fn(t).select(
            F.lit(name).alias("format"),
            *_TRANSCRIPT_ID_COLS,
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_log_wire_roundtrips() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS})
SELECT f.format, conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
FROM t CROSS JOIN (VALUES ('otlp_json'), ('otlp_proto')) AS f(format)
"""


def q_fluentforward_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluentd Forward msgpack wire identity across ALL carrier modes
    (receiver/fluentforwardreceiver/conversion.go:62-177): transcripts
    → Message / Forward / PackedForward / gzip-PackedForward blobs →
    back; per-turn text, attrs, and µs timestamps must survive every
    mode."""
    from ..sources.fluentforward import fluent_to_transcripts, transcripts_to_fluent

    t = _derive_transcripts(spark, sf_dir)
    out = None
    for mode in ("message", "forward", "packed_forward", "packed_forward_gzip"):
        part = fluent_to_transcripts(transcripts_to_fluent(t, mode=mode)).select(
            F.lit(mode).alias("mode"),
            *_TRANSCRIPT_ID_COLS,
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_fluentforward_roundtrip() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS})
SELECT m.mode, conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us
FROM t CROSS JOIN (VALUES ('message'), ('forward'), ('packed_forward'),
                   ('packed_forward_gzip')) AS m(mode)
"""


def _prom_rw_roundtrip(d: DataFrame) -> DataFrame:
    """Remote-write arm: dp rows → snappy(WriteRequest) blobs → sample
    rows → dp shape. The wire is TYPELESS samples, so the type columns
    are re-attached by the documented inference: the exporter's own
    ``_total`` naming rule (helper.go:174-213) marks counters — every
    name it produced with that suffix came from a cumulative sum (the
    only sum kind validateMetrics lets through), everything else is a
    gauge."""
    from ..sources.prometheus_remote_write import (
        metrics_to_remote_write,
        remote_write_to_samples,
    )

    back = remote_write_to_samples(metrics_to_remote_write(d, label_keys=["m"]))
    is_counter = F.col("name").endswith("_total")
    return back.select(
        "name",
        F.when(is_counter, F.lit("DoubleSum"))
        .otherwise(F.lit("DoubleGauge"))
        .alias("data_type"),
        F.when(is_counter, F.lit("CUMULATIVE"))
        .otherwise(F.lit("UNSPECIFIED"))
        .alias("temporality"),
        "labels",
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        F.lit(None).cast("long").alias("int_value"),
        F.col("value").alias("double_value"),
    )


def q_metric_wire_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric wire identity matrix: OTLP protobuf-JSON, OTLP binary
    protobuf, OpenCensus JSON, and Prometheus exposition text over the
    same datapoint frame. The OC arm DROPS the DELTA rows (no OC
    representation); the prometheus arm additionally applies the
    wire's own documented lossiness — name sanitization, the receiver's
    always-float64 rule (metricsbuilder.go:224-226), and millisecond
    timestamps — and the oracle mirrors each transform per-format."""
    from ..sources.opencensus_json import metrics_to_oc_json, oc_json_to_metrics
    from ..sources.otlp_json import metrics_from_otlp_json, metrics_to_otlp_json
    from ..sources.otlp_proto import metrics_from_otlp_proto, metrics_to_otlp_proto
    from ..sources.prometheus_text import metrics_to_prom_text, prom_text_to_metrics

    dps = _dp_rows(spark, sf_dir)
    codecs = {
        "otlp_json": lambda d: metrics_from_otlp_json(metrics_to_otlp_json(d)),
        "otlp_proto": lambda d: metrics_from_otlp_proto(metrics_to_otlp_proto(d)),
        "oc_json": lambda d: oc_json_to_metrics(
            metrics_to_oc_json(d, label_keys=["m"])
        ),
        "prom_text": lambda d: prom_text_to_metrics(
            metrics_to_prom_text(d, label_keys=["m"])
        ),
        "prom_rw": _prom_rw_roundtrip,
    }
    out = None
    for name, fn in codecs.items():
        part = _dp_roundtrip_select(fn(dps)).select(
            F.lit(name).alias("format"), "*"
        )
        out = part if out is None else out.unionByName(part)
    return out


def _oracle_metric_wire_roundtrips() -> str:
    return f"""
WITH base AS ({_DP_ORACLE_BASE})
SELECT f.format, base.* FROM base
CROSS JOIN (VALUES ('otlp_json'), ('otlp_proto')) AS f(format)
UNION ALL
SELECT 'oc_json' AS format, base.* FROM base
WHERE base.data_type <> 'IntSum'
UNION ALL
SELECT 'prom_text' AS format, replace(base.name, '.', '_') AS name,
       'DoubleSum' AS data_type, 'CUMULATIVE' AS temporality, m,
       (ts_us // 1000) * 1000 AS ts_us,
       CAST(NULL AS BIGINT) AS int_value, double_value
FROM base WHERE base.temporality = 'CUMULATIVE'
UNION ALL
SELECT 'prom_rw' AS format,
       replace(base.name, '.', '_') || '_total' AS name,
       'DoubleSum' AS data_type, 'CUMULATIVE' AS temporality, m,
       (ts_us // 1000) * 1000 AS ts_us,
       CAST(NULL AS BIGINT) AS int_value, double_value
FROM base WHERE base.temporality = 'CUMULATIVE'
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# loggingexporter (exporter/loggingexporter/logging_exporter.go)
# ---------------------------------------------------------------------------


def _go_time_sql(us: str) -> str:
    """DuckDB mirror of sinks.logging_exporter.go_time_string: Go
    ``time.Unix(0, ns).String()`` under UTC — trailing-zero-trimmed
    fraction, omitted when zero, ``+0000 UTC`` suffix."""
    frac = f"rtrim(lpad(CAST({us} % 1000000 AS VARCHAR), 6, '0'), '0')"
    return (
        f"strftime(make_timestamp({us}), '%Y-%m-%d %H:%M:%S')"
        f" || CASE WHEN {frac} <> '' THEN '.' || {frac} ELSE '' END"
        f" || ' +0000 UTC'"
    )


def q_logging_exporter_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """loggingexporter debug rendering for the trace signal
    (logging_exporter.go:308-355): every span becomes the exact
    indented text block the Go exporter writes at level=debug — the
    oracle reassembles the identical string in SQL, so one
    mis-padded label, wrong enum name, or drifted Go-time format
    breaks the value hash."""
    from ..sinks.logging_exporter import format_spans_debug

    return format_spans_debug(_spans(spark, sf_dir))


def _oracle_logging_exporter_spans() -> str:
    def attr(label: str, value_sql: str) -> str:
        return f"chr(10) || '    {label.ljust(15)}: ' || {value_sql}"

    return (
        _SPANS_SQL
        + """
SELECT trace_id, span_id,
  'Span #' || CAST(row_number() OVER (PARTITION BY trace_id ORDER BY turn_idx) - 1 AS VARCHAR)
  || """
        + " || ".join(
            [
                attr("Trace ID", "md5(trace_id)"),
                attr("Parent ID", "coalesce(parent_span_id, '')"),
                attr("ID", "span_id"),
                attr("Name", "name"),
                attr("Kind", "'SPAN_KIND_' || kind"),
                attr("Start time", "(" + _go_time_sql("start_us") + ")"),
                attr("End time", "(" + _go_time_sql("end_us") + ")"),
                attr(
                    "Status code",
                    "CASE status_code WHEN 2 THEN 'STATUS_CODE_ERROR' ELSE 'STATUS_CODE_UNSET' END",
                ),
                attr("Status message", "''"),
            ]
        )
        + " AS debug\nFROM sp"
    )


def q_logging_exporter_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """loggingexporter debug rendering for the log signal
    (logging_exporter.go:453-487, logLogRecord at 216-222): raw-nanos
    Timestamp line, severity text, body, and the sorted-key attribute
    map built from the parse stage's extracted fields."""
    from ..sinks.logging_exporter import format_logs_debug
    from .pipeline import parse_stage

    t = _derive_transcripts(spark, sf_dir)
    return format_logs_debug(parse_stage(t, engine="jvm"))


def _oracle_logging_exporter_logs() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
p AS (
  SELECT conv_id, turn_idx, role, text, ts,
         regexp_extract(text, '\\[(\\w+)\\]', 1) AS level,
         regexp_extract(text, '\\] (\\w+):', 1) AS component,
         regexp_extract(text, 'duration=(\\d+)ms', 1) AS duration_ms
  FROM t
)
SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
  'LogRecord #' || CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS VARCHAR)
  || chr(10) || 'Timestamp: ' || CAST(epoch_us(ts) * 1000 AS VARCHAR)
  || chr(10) || 'Severity: ' || upper(level)
  || chr(10) || 'ShortName: ' || component
  || chr(10) || 'Body: ' || text
  || chr(10) || 'Attributes:'
  || chr(10) || '     -> component: STRING(' || component || ')'
  || chr(10) || '     -> duration_ms: STRING(' || duration_ms || ')'
  || chr(10) || '     -> role: STRING(' || role || ')'
  AS debug
FROM p
"""


# datapoints from events with a per-point event_id label: exercises
# the Data-point-labels rendering AND gives #i numbering a total
# order (ts alone can collide across users)
_LABELED_DPS_SQL = """
SELECT
  'events.' || event_type AS name,
  CASE WHEN event_type IN ('click', 'view') THEN 'IntSum' ELSE 'DoubleSum' END
    AS data_type,
  CASE WHEN event_type IN ('click', 'view') THEN 'DELTA' ELSE 'CUMULATIVE' END
    AS temporality,
  ts,
  event_id,
  CASE WHEN event_type IN ('click', 'view')
       THEN CAST(floor(value) AS BIGINT) END AS int_value,
  CASE WHEN NOT event_type IN ('click', 'view')
       THEN CAST(round(value, 6) AS DOUBLE) END AS double_value
FROM events
"""


def q_logging_exporter_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """loggingexporter debug rendering for the metric signal
    (logging_exporter.go:357-390): descriptor block on each metric's
    first point, labeled int/double datapoint blocks after — the
    oracle reassembles the exact text including the %f double
    rendering and proto temporality enum names."""
    from ..sinks.logging_exporter import format_metrics_debug

    _register(spark, sf_dir, "events")
    dps = (
        spark.sql(_LABELED_DPS_SQL)
        .withColumn(
            "labels",
            F.create_map(F.lit("event_id"), F.col("event_id").cast("string")),
        )
        .drop("event_id")
    )
    return format_metrics_debug(
        dps, point_order=F.col("labels")["event_id"].cast("long")
    )


def _oracle_logging_exporter_metrics() -> str:
    point_value = (
        "CASE WHEN int_value IS NOT NULL THEN CAST(int_value AS VARCHAR)"
        " ELSE printf('%f', double_value) END"
    )
    return f"""
WITH dp AS ({_LABELED_DPS_SQL}),
idx AS (
  SELECT *,
         dense_rank() OVER (ORDER BY name) - 1 AS metric_idx,
         row_number() OVER (PARTITION BY name ORDER BY ts, event_id) - 1 AS dp_idx
  FROM dp
)
SELECT name, CAST(dp_idx AS INT) AS dp_idx,
  CASE WHEN dp_idx = 0 THEN
    'Metric #' || CAST(metric_idx AS VARCHAR)
    || chr(10) || 'Descriptor:'
    || chr(10) || '     -> Name: ' || name
    || chr(10) || '     -> Description: '
    || chr(10) || '     -> Unit: '
    || chr(10) || '     -> DataType: ' || data_type
    || chr(10) || '     -> IsMonotonic: false'
    || chr(10) || '     -> AggregationTemporality: AGGREGATION_TEMPORALITY_' || temporality
    || chr(10)
  ELSE '' END
  || CASE WHEN int_value IS NOT NULL THEN 'IntDataPoints' ELSE 'DoubleDataPoints' END
  || ' #' || CAST(dp_idx AS VARCHAR)
  || chr(10) || 'Data point labels:'
  || chr(10) || '     -> event_id: ' || CAST(event_id AS VARCHAR)
  || chr(10) || 'StartTime: 0'
  || chr(10) || 'Timestamp: ' || CAST(epoch_us(ts) * 1000 AS VARCHAR)
  || chr(10) || 'Value: ' || {point_value}
  AS debug
FROM idx
"""


def q_logging_exporter_debug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three loggingexporter signal renderings as one tagged union
    (signal, k1, k2, debug): spans keyed by (trace_id, span_id), logs
    by (conv_id, turn_idx), metrics by (name, dp_idx). One driver row
    proves the exact Go debug text for every signal."""
    sp = q_logging_exporter_spans(spark, sf_dir).select(
        F.lit("spans").alias("signal"),
        F.col("trace_id").alias("k1"),
        F.col("span_id").alias("k2"),
        "debug",
    )
    lg = q_logging_exporter_logs(spark, sf_dir).select(
        F.lit("logs").alias("signal"),
        F.col("conv_id").alias("k1"),
        F.col("turn_idx").cast("string").alias("k2"),
        "debug",
    )
    mt = q_logging_exporter_metrics(spark, sf_dir).select(
        F.lit("metrics").alias("signal"),
        F.col("name").alias("k1"),
        F.col("dp_idx").cast("string").alias("k2"),
        "debug",
    )
    return sp.unionByName(lg).unionByName(mt)


def _oracle_logging_exporter_debug() -> str:
    def keyed(sql: str, signal: str, k1: str, k2: str) -> str:
        return (
            f"SELECT '{signal}' AS signal, CAST({k1} AS VARCHAR) AS k1,"
            f" CAST({k2} AS VARCHAR) AS k2, debug FROM ({sql})"
        )

    return (
        keyed(_oracle_logging_exporter_spans(), "spans", "trace_id", "span_id")
        + "\nUNION ALL\n"
        + keyed(_oracle_logging_exporter_logs(), "logs", "conv_id", "turn_idx")
        + "\nUNION ALL\n"
        + keyed(_oracle_logging_exporter_metrics(), "metrics", "name", "dp_idx")
    )


def q_resource_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource matrix — the former ``resource_processor`` (all four
    attribute actions over the resource map) and ``resource_to_label``
    (resource attrs copied into datapoint labels, datapoint winning on
    collision) rows consolidated under the 50-row driver budget."""
    proc = q_resource_processor(spark, sf_dir).select(
        F.lit("processor").alias("rp_case"),
        F.col("env").alias("k1"),
        F.col("ver").alias("k2"),
        F.col("svc").alias("k3"),
        F.col("has_tmp").cast("string").alias("k4"),
        F.col("n").cast("long").alias("n"),
    )
    lab = q_resource_to_label(spark, sf_dir).select(
        F.lit("to_label").alias("rp_case"),
        F.col("name").alias("k1"),
        F.col("k").alias("k2"),
        F.col("region").alias("k3"),
        F.lit("").alias("k4"),
        F.col("n").cast("long").alias("n"),
    )
    return proc.unionByName(lab)


def _oracle_resource_matrix() -> str:
    return f"""
SELECT 'processor' AS rp_case, env AS k1, ver AS k2, svc AS k3,
       CAST(has_tmp AS VARCHAR) AS k4, n
FROM ({_oracle_resource_processor()})
UNION ALL
SELECT 'to_label' AS rp_case, name AS k1, k AS k2, region AS k3,
       '' AS k4, n
FROM ({_oracle_resource_to_label()})
"""


def q_range_session_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join: every signup event opens a
    one-hour window; errors by the same user inside the window are
    counted per signup (the engine-neutral oracle is DuckDB's plain
    inequality join). Exercises the bucketed equi-join path end to
    end — bucket width = the window length, so each interval explodes
    to ≤2 buckets."""
    from ..operators import point_in_interval_join

    _register(spark, sf_dir, "events")
    e = spark.table("events")
    windows = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        F.expr("ts + INTERVAL 1 HOUR").alias("w_end"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    joined = point_in_interval_join(
        errors, windows, on="ts", start="w_start", end="w_end",
        by="user_id", bucket_width=3600.0,
    )
    return joined.groupBy("signup_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_errors"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("sum_value"),
    )


def _oracle_range_session_errors() -> str:
    return """
WITH s AS (
  SELECT event_id AS signup_id, user_id, ts AS w_start,
         ts + INTERVAL 1 HOUR AS w_end
  FROM events WHERE event_type = 'signup'
), err AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'error'
)
SELECT s.signup_id, CAST(s.user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_errors,
       round(CAST(sum(CAST(err.value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
FROM s JOIN err ON err.user_id = s.user_id
               AND err.ts >= s.w_start AND err.ts < s.w_end
GROUP BY 1, 2
"""


def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution via the as-of join operator: each
    purchase event gets the user's most recent click at-or-before the
    purchase (DuckDB ``ASOF JOIN`` is the engine-neutral oracle).
    The right side is deduplicated to one row per (user_id, ts) —
    max(event_id) — so boundary ties are deterministic in both
    engines; gap is exact integer microseconds.

    Runs through ``asof_join_bucketed`` (the round-5 hot-key-safe
    two-phase variant; 1-day buckets over the month-long event range),
    so the skew-proof production path carries this driver-oracle row;
    it is equivalence-locked to plain ``asof_join`` across directions,
    tolerance and hot keys in tests/test_asof.py::TestBucketed."""
    from ..operators import asof_join_bucketed

    _register(spark, sf_dir, "events")
    e = spark.table("events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts", "value"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    j = asof_join_bucketed(
        purchases, clicks, on="ts", by="user_id", bucket_width=86400.0
    )
    return j.select(
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("value").alias("purchase_value"),
        F.col("click_id").cast("long").alias("click_id"),
        # parquet timestamps load as TIMESTAMP_NTZ; session TZ is
        # pinned UTC so the cast to instant is lossless
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_r").cast("timestamp"))
        ).cast("long").alias("gap_us"),
    )


def _oracle_asof_attribution() -> str:
    return """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT CAST(p.purchase_id AS BIGINT) AS purchase_id,
       CAST(p.user_id AS BIGINT) AS user_id,
       p.value AS purchase_value,
       CAST(c.click_id AS BIGINT) AS click_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# ---------------------------------------------------------------------------
# hostmetricsreceiver scrape roundtrip
# ---------------------------------------------------------------------------

# deterministic counter derivation shared verbatim by both engines:
# every expression below is valid Spark SQL AND DuckDB SQL over the
# events view, so the oracle can reproduce the exact counters the
# snapshots were rendered from. Magnitudes are chosen so every derived
# quantity the scrapers compute (mem used, swap used, fault minor,
# fs reserved, …) stays positive.
_HM_SPECIALS: dict[str, str] = {
    "mem_total_kb": "33554432 + event_id % 997",
    "mem_free_kb": "8000000 + (event_id * 3) % 9001",
    "buffers_kb": "200000 + event_id % 101",
    "cached_kb": "4000000 + (event_id * 7) % 1009",
    "sreclaim_kb": "300000 + event_id % 211",
    "sunreclaim_kb": "90000 + event_id % 97",
    "swap_total_kb": "2097152 + event_id % 503",
    "swap_free_kb": "1000000 + event_id % 499",
    "swap_cached_kb": "40000 + event_id % 97",
    "load1": "CAST(event_id % 3200 AS DOUBLE) / 100",
    "load5": "CAST((event_id * 3) % 3200 AS DOUBLE) / 100",
    "load15": "CAST((event_id * 5) % 3200 AS DOUBLE) / 100",
    "tcp_established": "event_id % 4",
    "tcp_listen": "(event_id * 3) % 3",
    "tcp_time_wait": "(event_id * 5) % 2",
    "vm_pgfault": "(event_id * 13 + 7) % 1000000 + 1000000",
    "vm_pgmajfault": "(event_id * 11 + 3) % 1000000",
    "fs_total_b": "500000000000 + (event_id % 1009) * 4096",
    "fs_free_b": "200000000000 + (event_id % 2003) * 4096",
    "fs_avail_b": "190000000000 + (event_id % 2003) * 4096",
    "inodes_total": "3276800 + event_id % 701",
    "inodes_free": "1000000 + event_id % 691",
    "procs_running": "event_id % 64",
    "procs_blocked": "event_id % 7",
}


def _hm_counters() -> dict[str, str]:
    from ..sources.hostmetrics import COUNTER_COLS

    out: dict[str, str] = {}
    for i, name in enumerate(COUNTER_COLS):
        out[name] = _HM_SPECIALS.get(
            name, f"(event_id * {3 + 2 * i} + {17 * i + 5}) % 1000000"
        )
    return out


_HM_IDS = ("host_id", "scrape_id", "ts")
# every 20th event is a scrape: ~500 snapshots × 60-odd datapoints at
# sf0.01 keeps the matrix in the same row band as the other wires
_HM_FILTER = "event_id % 20 = 0"


def q_hostmetrics_scrape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hostmetricsreceiver as a parse stage: deterministic counters →
    /proc-format snapshot text → ALL eight scrapers back to datapoint
    rows (sources/hostmetrics.py; receiver/hostmetricsreceiver).  The
    oracle recomputes every datapoint straight from the counter
    arithmetic, so a mis-parsed field, wrong unit scaling
    (jiffies/USER_HZ, sectors×512, page×4096), dropped label, or
    drifted state name breaks the value hash."""
    from ..sources.hostmetrics import render_snapshots, scrape_snapshots
    from ..trainingdata.text import ensure_compute_parallelism

    _register(spark, sf_dir, "events")
    # the snapshot set is small on disk but render+parse cost is per
    # ROW (format_string + regex over 8 sections), so re-split an
    # under-split scan before the CPU-bound stages (text.py:43)
    counters = (
        ensure_compute_parallelism(
            spark.table("events").filter(F.expr(_HM_FILTER))
        )
        .select(
            F.concat(
                F.lit("host-"), (F.col("event_id") % 8).cast("string")
            ).alias("host_id"),
            F.col("event_id").alias("scrape_id"),
            F.col("ts"),
            *[F.expr(sql).alias(name) for name, sql in _hm_counters().items()],
        )
    )
    snaps = render_snapshots(counters, id_cols=_HM_IDS)
    dps = scrape_snapshots(snaps, id_cols=_HM_IDS)
    return dps.select(
        "host_id",
        "scrape_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "name", "unit", "data_type", "monotonic", "temporality",
        "labels", "int_value", "double_value",
    )


def _oracle_hostmetrics_scrape() -> str:
    """Generated arm-per-datapoint oracle: the same counter SQL the
    Spark derivation ran, pushed through each scraper's documented
    value formula — the independent path that never sees the /proc
    text."""
    from ..sources.hostmetrics import CPU_STATES

    counters = ",\n    ".join(
        f"{sql} AS {name}" for name, sql in _hm_counters().items()
    )
    base = (
        "WITH c AS (\n  SELECT 'host-' || CAST(event_id % 8 AS VARCHAR) AS host_id,\n"
        "    event_id AS scrape_id, epoch_us(ts) AS ts_us,\n    "
        + counters
        + f"\n  FROM events WHERE {_HM_FILTER}\n)\n"
    )
    arms: list[str] = []

    def arm(
        name: str, unit: str, dtype: str, mono: bool, labels: str,
        int_expr: str | None = None, dbl_expr: str | None = None,
        where: str | None = None,
    ) -> None:
        iv = f"CAST({int_expr} AS BIGINT)" if int_expr else "CAST(NULL AS BIGINT)"
        dv = f"CAST({dbl_expr} AS DOUBLE)" if dbl_expr else "CAST(NULL AS DOUBLE)"
        temp = "CUMULATIVE" if dtype.endswith("Sum") else "UNSPECIFIED"
        arms.append(
            f"SELECT host_id, scrape_id, ts_us, '{name}' AS name,"
            f" '{unit}' AS unit, '{dtype}' AS data_type,"
            f" CAST({1 if mono else 0} AS BIGINT) AS monotonic,"
            f" '{temp}' AS temporality, '{labels}' AS labels,"
            f" {iv} AS int_value, {dv} AS double_value FROM c"
            + (f" WHERE {where}" if where else "")
        )

    # cpu: /proc/stat field order user nice system idle iowait irq
    # softirq steal → counter column suffixes by that order
    fld_names = ("user", "nice", "system", "idle", "iowait", "irq",
                 "softirq", "steal")
    for cpu in (0, 1):
        for fld_idx, state in CPU_STATES:
            col = f"cpu{cpu}_{fld_names[fld_idx - 1]}"
            arm("system.cpu.time", "s", "DoubleSum", True,
                f"cpu=cpu{cpu},state={state}",
                dbl_expr=f"CAST({col} AS DOUBLE) / 100")
    for state, expr in (
        ("used", "(mem_total_kb - mem_free_kb - buffers_kb - cached_kb"
                 " - sreclaim_kb) * 1024"),
        ("free", "mem_free_kb * 1024"),
        ("buffered", "buffers_kb * 1024"),
        ("cached", "(cached_kb + sreclaim_kb) * 1024"),
        ("slab_reclaimable", "sreclaim_kb * 1024"),
        ("slab_unreclaimable", "sunreclaim_kb * 1024"),
    ):
        arm("system.memory.usage", "By", "IntSum", False,
            f"state={state}", int_expr=expr)
    for minutes, col in (("1m", "load1"), ("5m", "load5"), ("15m", "load15")):
        arm(f"system.cpu.load_average.{minutes}", "1", "DoubleGauge",
            False, "", dbl_expr=col)
    for name, unit, direction, expr in (
        ("io", "By", "read", "d_sectors_read * 512"),
        ("io", "By", "write", "d_sectors_written * 512"),
        ("operations", "{operations}", "read", "d_reads"),
        ("operations", "{operations}", "write", "d_writes"),
        ("merged", "{operations}", "read", "d_reads_merged"),
        ("merged", "{operations}", "write", "d_writes_merged"),
    ):
        arm(f"system.disk.{name}", unit, "IntSum", True,
            f"device=sda,direction={direction}", int_expr=expr)
    arm("system.disk.io_time", "s", "DoubleSum", True, "device=sda",
        dbl_expr="CAST(d_ms_io AS DOUBLE) / 1000")
    arm("system.disk.operation_time", "s", "DoubleSum", True,
        "device=sda,direction=read",
        dbl_expr="CAST(d_ms_reading AS DOUBLE) / 1000")
    arm("system.disk.operation_time", "s", "DoubleSum", True,
        "device=sda,direction=write",
        dbl_expr="CAST(d_ms_writing AS DOUBLE) / 1000")
    arm("system.disk.pending_operations", "{operations}", "IntSum",
        False, "device=sda", int_expr="d_io_in_progress")
    for name, unit, field in (
        ("packets", "{packets}", "packets"),
        ("dropped", "{packets}", "drop"),
        ("errors", "{errors}", "errs"),
        ("io", "By", "bytes"),
    ):
        arm(f"system.network.{name}", unit, "IntSum", True,
            "device=eth0,direction=receive", int_expr=f"n_rx_{field}")
        arm(f"system.network.{name}", unit, "IntSum", True,
            "device=eth0,direction=transmit", int_expr=f"n_tx_{field}")
    for state, col in (
        ("ESTABLISHED", "tcp_established"), ("LISTEN", "tcp_listen"),
        ("TIME_WAIT", "tcp_time_wait"),
    ):
        arm("system.network.connections", "{connections}", "IntSum",
            False, f"protocol=tcp,state={state}", int_expr=col,
            where=f"{col} > 0")
    for state, expr in (
        ("used", "(swap_total_kb - swap_free_kb - swap_cached_kb) * 1024"),
        ("free", "swap_free_kb * 1024"),
        ("cached", "swap_cached_kb * 1024"),
    ):
        arm("system.paging.usage", "By", "IntSum", False,
            f"state={state}", int_expr=expr)
    for typ, direction, col in (
        ("major", "page_in", "vm_pswpin"),
        ("major", "page_out", "vm_pswpout"),
        ("minor", "page_in", "vm_pgpgin"),
        ("minor", "page_out", "vm_pgpgout"),
    ):
        arm("system.paging.operations", "{operations}", "IntSum", True,
            f"direction={direction},type={typ}", int_expr=f"{col} * 4096")
    arm("system.paging.faults", "{faults}", "IntSum", True,
        "type=major", int_expr="vm_pgmajfault")
    arm("system.paging.faults", "{faults}", "IntSum", True,
        "type=minor", int_expr="vm_pgfault - vm_pgmajfault")
    arm("system.processes.count", "{processes}", "IntSum", False,
        "status=running", int_expr="procs_running")
    arm("system.processes.count", "{processes}", "IntSum", False,
        "status=blocked", int_expr="procs_blocked")
    arm("system.processes.created", "{processes}", "IntSum", True, "",
        int_expr="processes_created")
    fs_labels = "device=/dev/sda1,mode=rw,mountpoint=/,state={},type=ext4"
    for state, expr in (
        ("used", "fs_total_b - fs_free_b"), ("free", "fs_avail_b"),
        ("reserved", "fs_free_b - fs_avail_b"),
    ):
        arm("system.filesystem.usage", "By", "IntSum", False,
            fs_labels.format(state), int_expr=expr)
    for state, expr in (
        ("used", "inodes_total - inodes_free"), ("free", "inodes_free"),
    ):
        arm("system.filesystem.inodes.usage", "{inodes}", "IntSum",
            False, fs_labels.format(state), int_expr=expr)
    return base + "\nUNION ALL\n".join(arms)


OP_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "logging_exporter_debug": q_logging_exporter_debug,
    "expr_filter_metrics": q_expr_filter_metrics,
    "resource_matrix": q_resource_matrix,
    "asof_attribution": q_asof_attribution,
    "range_session_errors": q_range_session_errors,
    "split_batches": q_split_batches,
    "span_wire_roundtrips": q_span_wire_roundtrips,
    "log_wire_roundtrips": q_log_wire_roundtrips,
    "fluentforward_roundtrip": q_fluentforward_roundtrip,
    "metric_wire_roundtrips": q_metric_wire_roundtrips,
    "hostmetrics_scrape": q_hostmetrics_scrape,
    "config_pipeline": q_config_pipeline,
}

OP_ORACLES: dict[str, str] = {
    "logging_exporter_debug": _oracle_logging_exporter_debug(),
    "expr_filter_metrics": _oracle_expr_filter_metrics(),
    "resource_matrix": _oracle_resource_matrix(),
    "asof_attribution": _oracle_asof_attribution(),
    "range_session_errors": _oracle_range_session_errors(),
    "split_batches": _oracle_split_batches(),
    "span_wire_roundtrips": _oracle_span_wire_roundtrips(),
    "log_wire_roundtrips": _oracle_log_wire_roundtrips(),
    "fluentforward_roundtrip": _oracle_fluentforward_roundtrip(),
    "metric_wire_roundtrips": _oracle_metric_wire_roundtrips(),
    "hostmetrics_scrape": _oracle_hostmetrics_scrape(),
    "config_pipeline": _oracle_config_pipeline(),
}
