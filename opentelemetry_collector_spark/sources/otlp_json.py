"""OTLP protobuf-JSON translation: flat records ↔ the nested
``resourceLogs`` tree.

The reference's fileexporter writes one protobuf-JSON
ExportLogsServiceRequest per batch (exporter/fileexporter/
file_exporter.go:36-75) and the OTLP receiver reads the same shape
back (receiver/otlpreceiver/logs/otlp.go:53-77); the tree is
Logs → []ResourceLogs → []InstrumentationLibraryLogs → []LogRecord
(consumer/pdata/log.go:31-33, v0.17 field names). Attributes ride as
key/value lists with typed value wrappers ({"stringValue": …},
consumer/pdata/common.go:38-46).

Spark mapping (SURVEY.md §1.4): one conversation = one resource group,
so the flat transcript table round-trips through
``groupBy(conv_id).collect_list`` on the way out and
``from_json → explode ×3`` on the way back — all JVM-side json/struct
expressions, no Python. A Metric line's four union arms explode in one
pass, so its source is read once. The binary OTLP codec reaches these
functions through the shared bridge (``wirebridge.py``).

Scale note: a resource group's records must fit one row on the way
out (collect_list per conv_id) — exactly the batch granularity the
reference holds in memory per export; pathological conversations are
capped upstream by split_batches (batch.py)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_KV_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField(
                "value",
                T.StructType([T.StructField("stringValue", T.StringType())]),
            ),
        ]
    )
)

LOG_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("timeUnixNano", T.StringType()),  # proto JSON: uint64 as string
        T.StructField("severityText", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("body", T.StructType([T.StructField("stringValue", T.StringType())])),
        T.StructField("attributes", _KV_SCHEMA),
    ]
)

OTLP_LOGS_SCHEMA = T.StructType(
    [
        T.StructField(
            "resourceLogs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "resource",
                            T.StructType([T.StructField("attributes", _KV_SCHEMA)]),
                        ),
                        T.StructField(
                            "instrumentationLibraryLogs",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField(
                                            "instrumentationLibrary",
                                            T.StructType(
                                                [T.StructField("name", T.StringType())]
                                            ),
                                        ),
                                        T.StructField(
                                            "logs", T.ArrayType(LOG_RECORD_SCHEMA)
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def _ns_string_to_micros(c: Column) -> Column:
    """uint64-string nanos → long micros, EXACTLY: an epoch-nano value
    (~1.7e18) exceeds double's 2^53 integer range, so floating
    ``floor(x / 1000)`` is off by ±1µs — divide in DECIMAL (exact) and
    truncate."""
    return (c.cast("decimal(38,0)") / F.lit(1000)).cast("long")


def _map_to_kvlist(m: Column) -> Column:
    """map<string,string> → sorted OTLP attribute KV list (sorted for
    the canonical ordering the reference's tests compare with,
    common.go:577-583)."""
    entries = F.map_entries(m)
    kvs = F.transform(
        entries,
        lambda e: F.struct(
            e["key"].alias("key"),
            F.struct(e["value"].alias("stringValue")).alias("value"),
        ),
    )
    return F.array_sort(kvs)


def _kvlist_to_map(kvs: Column) -> Column:
    return F.map_from_entries(
        F.transform(kvs, lambda e: F.struct(e["key"], e["value"]["stringValue"]))
    )


def logs_to_otlp_json(
    df: DataFrame,
    resource_key: str = "conv_id",
    library_name: str = "transcripts",
) -> DataFrame:
    """Flat records → one OTLP-JSON request line per resource group.

    Expects columns: conv_id, turn_idx, role, text, tool, ts. Output:
    (conv_id, otlp json string) — the fileexporter's
    line-per-batch format."""
    record = F.struct(
        # micros × 1000, not seconds × 1e9: timeUnixNano keeps the
        # full sub-second precision the proto field carries
        (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1_000))
        .cast("string")
        .alias("timeUnixNano"),
        F.col("role").alias("severityText"),
        F.concat_ws("/", F.col(resource_key), F.col("turn_idx").cast("string")).alias(
            "name"
        ),
        F.struct(F.col("text").alias("stringValue")).alias("body"),
        _map_to_kvlist(
            F.map_filter(
                F.create_map(
                    F.lit("turn_idx"), F.col("turn_idx").cast("string"),
                    F.lit("tool"), F.col("tool"),
                ),
                lambda _k, v: v.isNotNull(),
            )
        ).alias("attributes"),
    )
    grouped = (
        df.withColumn("_rec", record)
        .groupBy(resource_key)
        .agg(
            # order records by the NUMERIC turn index — the stable pdata
            # slice order; sorting by the name string would put turn 10
            # before turn 2
            F.sort_array(
                F.collect_list(F.struct(F.col("turn_idx").alias("_ord"), F.col("_rec")))
            ).alias("_pairs")
        )
        .withColumn("_recs", F.transform(F.col("_pairs"), lambda p: p["_rec"]))
    )
    payload = F.struct(
        F.array(
            F.struct(
                F.struct(
                    F.array(
                        F.struct(
                            F.lit("conv_id").alias("key"),
                            F.struct(F.col(resource_key).alias("stringValue")).alias(
                                "value"
                            ),
                        )
                    ).alias("attributes")
                ).alias("resource"),
                F.array(
                    F.struct(
                        F.struct(F.lit(library_name).alias("name")).alias(
                            "instrumentationLibrary"
                        ),
                        F.col("_recs").alias("logs"),
                    )
                ).alias("instrumentationLibraryLogs"),
            )
        ).alias("resourceLogs")
    )
    return grouped.select(
        F.col(resource_key), F.to_json(payload).alias("otlp")
    )


# ---------------------------------------------------------------------------
# traces: resourceSpans tree (consumer/pdata/trace.go:31-33 shape,
# jsonpb field names of the v0.17 proto: instrumentationLibrarySpans,
# bytes ids as base64, enums as names)
# ---------------------------------------------------------------------------

_OTLP_KIND_NAMES = {
    "INTERNAL": "SPAN_KIND_INTERNAL",
    "SERVER": "SPAN_KIND_SERVER",
    "CLIENT": "SPAN_KIND_CLIENT",
    "PRODUCER": "SPAN_KIND_PRODUCER",
    "CONSUMER": "SPAN_KIND_CONSUMER",
}

_OTLP_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("traceId", T.StringType()),   # base64 (jsonpb bytes)
        T.StructField("spanId", T.StringType()),
        T.StructField("parentSpanId", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("kind", T.StringType()),      # enum name
        T.StructField("startTimeUnixNano", T.StringType()),
        T.StructField("endTimeUnixNano", T.StringType()),
        T.StructField("attributes", _KV_SCHEMA),
        T.StructField("status", T.StructType([T.StructField("code", T.IntegerType())])),
    ]
)

OTLP_TRACES_SCHEMA = T.StructType(
    [
        T.StructField(
            "resourceSpans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "resource",
                            T.StructType([T.StructField("attributes", _KV_SCHEMA)]),
                        ),
                        T.StructField(
                            "instrumentationLibrarySpans",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField(
                                            "instrumentationLibrary",
                                            T.StructType(
                                                [T.StructField("name", T.StringType())]
                                            ),
                                        ),
                                        T.StructField(
                                            "spans", T.ArrayType(_OTLP_SPAN_SCHEMA)
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


def spans_to_otlp_json(
    spans: DataFrame, library_name: str = "transcripts"
) -> DataFrame:
    """Span table → one OTLP-JSON ExportTraceServiceRequest line per
    trace (conversation = resource group, like the logs path): jsonpb
    shape of the v0.17 trace proto — base64 bytes ids, enum NAMES for
    kind, uint64-as-string nanos, zero-valued status omitted."""
    b64 = lambda hex_col: F.base64(F.unhex(hex_col))  # noqa: E731
    kind_name = F.lit(None).cast("string")
    for k, name in _OTLP_KIND_NAMES.items():
        kind_name = F.when(F.col("kind") == k, F.lit(name)).otherwise(kind_name)
    record = F.struct(
        b64(F.md5(F.col("trace_id"))).alias("traceId"),
        b64(F.col("span_id")).alias("spanId"),
        b64(F.col("parent_span_id")).alias("parentSpanId"),
        F.col("name").alias("name"),
        kind_name.alias("kind"),
        (F.unix_micros(F.col("start_ts").cast("timestamp")) * 1000)
        .cast("string")
        .alias("startTimeUnixNano"),
        (F.unix_micros(F.col("end_ts").cast("timestamp")) * 1000)
        .cast("string")
        .alias("endTimeUnixNano"),
        _map_to_kvlist(
            F.create_map(
                F.lit("conv_id"), F.col("trace_id"),
                F.lit("turn_idx"), F.col("turn_idx").cast("string"),
            )
        ).alias("attributes"),
        F.when(
            F.col("status_code") != 0,
            F.struct(F.col("status_code").cast("int").alias("code")),
        ).alias("status"),
    )
    grouped = (
        spans.withColumn("_rec", record)
        .groupBy("trace_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("turn_idx").alias("_ord"), F.col("_rec")))
            ).alias("_pairs")
        )
        .withColumn("_recs", F.transform(F.col("_pairs"), lambda p: p["_rec"]))
    )
    payload = F.struct(
        F.array(
            F.struct(
                F.struct(
                    F.array(
                        F.struct(
                            F.lit("conv_id").alias("key"),
                            F.struct(F.col("trace_id").alias("stringValue")).alias(
                                "value"
                            ),
                        )
                    ).alias("attributes")
                ).alias("resource"),
                F.array(
                    F.struct(
                        F.struct(F.lit(library_name).alias("name")).alias(
                            "instrumentationLibrary"
                        ),
                        F.col("_recs").alias("spans"),
                    )
                ).alias("instrumentationLibrarySpans"),
            )
        ).alias("resourceSpans")
    )
    return grouped.select(
        F.col("trace_id"),
        F.to_json(payload, {"ignoreNullFields": "true"}).alias("otlp"),
    )


def otlp_json_to_spans(df: DataFrame, json_col: str = "otlp") -> DataFrame:
    """OTLP-JSON trace request lines → span table (receiver path):
    from_json + three explodes; enum names map back, absent status
    restores 0, absent parent restores NULL."""
    parsed = df.select(F.from_json(F.col(json_col), OTLP_TRACES_SCHEMA).alias("req"))
    rs = parsed.select(F.explode("req.resourceSpans").alias("rs"))
    ils = rs.select(F.explode("rs.instrumentationLibrarySpans").alias("ils"))
    rec = ils.select(F.explode("ils.spans").alias("r"))
    attrs = _kvlist_to_map(F.col("r.attributes"))
    kind_back = F.lit(None).cast("string")
    for k, name in _OTLP_KIND_NAMES.items():
        kind_back = F.when(F.col("r.kind") == name, F.lit(k)).otherwise(kind_back)
    unb64 = lambda c: F.lower(F.hex(F.unbase64(c)))  # noqa: E731
    nanos_to_ts = lambda c: F.timestamp_micros(_ns_string_to_micros(c))  # noqa: E731
    return rec.select(
        F.element_at(attrs, "conv_id").alias("trace_id"),
        unb64(F.col("r.spanId")).alias("span_id"),
        F.when(
            F.col("r.parentSpanId").isNotNull(), unb64(F.col("r.parentSpanId"))
        ).alias("parent_span_id"),
        F.element_at(attrs, "turn_idx").cast("int").alias("turn_idx"),
        F.col("r.name").alias("name"),
        F.coalesce(kind_back, F.lit("INTERNAL")).alias("kind"),
        nanos_to_ts(F.col("r.startTimeUnixNano")).alias("start_ts"),
        nanos_to_ts(F.col("r.endTimeUnixNano")).alias("end_ts"),
        F.coalesce(F.col("r.status.code"), F.lit(0)).alias("status_code"),
    )


# ---------------------------------------------------------------------------
# metrics: resourceMetrics tree (v0.17 tagged-union Metric —
# metric.go:158-167: intGauge/doubleGauge/intSum/doubleSum with
# StringKeyValue labels and uint64-string nanos; histograms/summary
# carry bucket payloads the flat datapoint schema reserves but the
# transcript-derived metrics never emit, so they are not translated)
# ---------------------------------------------------------------------------

_LABELS_SCHEMA = T.ArrayType(
    T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
    )
)

_INT_DP = T.StructType(
    [
        T.StructField("labels", _LABELS_SCHEMA),
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("value", T.StringType()),  # int64 as string
    ]
)
_DOUBLE_DP = T.StructType(
    [
        T.StructField("labels", _LABELS_SCHEMA),
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _sum_schema(dp: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("dataPoints", T.ArrayType(dp)),
            T.StructField("aggregationTemporality", T.StringType()),
            T.StructField("isMonotonic", T.BooleanType()),
        ]
    )


_OTLP_METRIC_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField(
            "intGauge",
            T.StructType([T.StructField("dataPoints", T.ArrayType(_INT_DP))]),
        ),
        T.StructField(
            "doubleGauge",
            T.StructType([T.StructField("dataPoints", T.ArrayType(_DOUBLE_DP))]),
        ),
        T.StructField("intSum", _sum_schema(_INT_DP)),
        T.StructField("doubleSum", _sum_schema(_DOUBLE_DP)),
    ]
)

_TEMPORALITY_NAMES = {
    "DELTA": "AGGREGATION_TEMPORALITY_DELTA",
    "CUMULATIVE": "AGGREGATION_TEMPORALITY_CUMULATIVE",
}


def metrics_to_otlp_json(dps: DataFrame) -> DataFrame:
    """Datapoint rows (operators.metrics schema, gauge/sum types) →
    one OTLP-JSON Metric line per metric name with the v0.17
    tagged-union field set by data_type."""
    is_int = F.col("data_type").isin("IntGauge", "IntSum")
    labels = F.array_sort(
        F.transform(
            F.map_entries(
                F.coalesce(
                    F.col("labels"),
                    F.map_from_arrays(
                        F.array().cast("array<string>"),
                        F.array().cast("array<string>"),
                    ),
                )
            ),
            lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")),
        )
    )
    nanos = (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).cast("string")
    int_dp = F.struct(
        labels.alias("labels"),
        nanos.alias("timeUnixNano"),
        F.col("int_value").cast("string").alias("value"),
    )
    double_dp = F.struct(
        labels.alias("labels"),
        nanos.alias("timeUnixNano"),
        F.col("double_value").alias("value"),
    )
    grouped = (
        dps.filter(
            F.col("data_type").isin("IntGauge", "DoubleGauge", "IntSum", "DoubleSum")
        )
        .withColumn("_idp", F.when(is_int, int_dp))
        .withColumn("_ddp", F.when(~is_int, double_dp))
        .groupBy("name", "data_type", "temporality")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("ts").alias("_ord"), F.col("_idp")))
            ).alias("_ipairs"),
            F.sort_array(
                F.collect_list(F.struct(F.col("ts").alias("_ord"), F.col("_ddp")))
            ).alias("_dpairs"),
        )
        .withColumn("_idps", F.transform("_ipairs", lambda p: p["_idp"]))
        .withColumn("_ddps", F.transform("_dpairs", lambda p: p["_ddp"]))
    )
    temp_name = F.lit(None).cast("string")
    for t, name in _TEMPORALITY_NAMES.items():
        temp_name = F.when(F.col("temporality") == t, F.lit(name)).otherwise(temp_name)
    dt = F.col("data_type")
    payload = F.struct(
        F.col("name"),
        F.when(dt == "IntGauge", F.struct(F.col("_idps").alias("dataPoints"))).alias(
            "intGauge"
        ),
        F.when(
            dt == "DoubleGauge", F.struct(F.col("_ddps").alias("dataPoints"))
        ).alias("doubleGauge"),
        F.when(
            dt == "IntSum",
            F.struct(
                F.col("_idps").alias("dataPoints"),
                temp_name.alias("aggregationTemporality"),
                F.lit(True).alias("isMonotonic"),
            ),
        ).alias("intSum"),
        F.when(
            dt == "DoubleSum",
            F.struct(
                F.col("_ddps").alias("dataPoints"),
                temp_name.alias("aggregationTemporality"),
                F.lit(True).alias("isMonotonic"),
            ),
        ).alias("doubleSum"),
    )
    return grouped.select(F.to_json(payload, {"ignoreNullFields": "true"}).alias("otlp"))


def metrics_from_otlp_json(df: DataFrame, json_col: str = "otlp") -> DataFrame:
    """OTLP-JSON Metric lines → datapoint rows: the union field picks
    (data_type, value column); gauges restore UNSPECIFIED temporality.

    One pass: each line becomes four ``(data_type, temporality,
    int_side, dataPoints)`` arms, one per union field, and their points
    explode once (an absent arm's NULL points explode to nothing). The
    double points are cast to the int points' string-valued type so the
    arms share one type; Spark's double → string → double is exact."""
    m = df.select(F.from_json(F.col(json_col), _OTLP_METRIC_SCHEMA).alias("m")).select(
        "m.*"
    )
    temp_back = F.lit(None).cast("string")
    for t, name in _TEMPORALITY_NAMES.items():
        temp_back = F.when(
            F.coalesce(
                F.col("intSum.aggregationTemporality"),
                F.col("doubleSum.aggregationTemporality"),
            )
            == name,
            F.lit(t),
        ).otherwise(temp_back)
    points_type = T.ArrayType(_INT_DP)
    arms = F.array(
        *(
            F.struct(
                F.lit(dtype).alias("data_type"),
                (temp_back if dtype.endswith("Sum") else F.lit("UNSPECIFIED")).alias(
                    "temporality"
                ),
                F.lit(int_side).alias("int_side"),
                F.col(f"{union_col}.dataPoints").cast(points_type).alias("dataPoints"),
            )
            for dtype, union_col, int_side in (
                ("IntGauge", "intGauge", True),
                ("DoubleGauge", "doubleGauge", False),
                ("IntSum", "intSum", True),
                ("DoubleSum", "doubleSum", False),
            )
        )
    )
    dp = m.select("name", F.inline(arms)).select(
        "name", "data_type", "temporality", "int_side",
        F.explode("dataPoints").alias("dp"),
    )
    int_side = F.col("int_side")
    return dp.select(
        "name", "data_type", "temporality",
        F.map_from_entries(
            F.coalesce(F.col("dp.labels"), F.array().cast(_LABELS_SCHEMA))
        ).alias("labels"),
        F.timestamp_micros(_ns_string_to_micros(F.col("dp.timeUnixNano"))).alias("ts"),
        F.when(int_side, F.col("dp.value").cast("long")).alias("int_value"),
        F.when(~int_side, F.col("dp.value").cast("double")).alias("double_value"),
    )


def logs_from_otlp_json(df: DataFrame, json_col: str = "otlp") -> DataFrame:
    """OTLP-JSON request lines → flat records (the receiver path):
    from_json + three explodes walk the tree; the record count equals
    LogRecordCount() (log.go:85-97) by construction."""
    parsed = df.select(F.from_json(F.col(json_col), OTLP_LOGS_SCHEMA).alias("req"))
    rl = parsed.select(F.explode("req.resourceLogs").alias("rl"))
    ill = rl.select(
        _kvlist_to_map(F.col("rl.resource.attributes")).alias("resource_attrs"),
        F.explode("rl.instrumentationLibraryLogs").alias("ill"),
    )
    rec = ill.select(
        "resource_attrs",
        F.col("ill.instrumentationLibrary.name").alias("library"),
        F.explode("ill.logs").alias("r"),
    )
    attrs = _kvlist_to_map(F.col("r.attributes"))
    return rec.select(
        F.element_at(F.col("resource_attrs"), "conv_id").alias("conv_id"),
        F.element_at(attrs, "turn_idx").cast("int").alias("turn_idx"),
        F.col("r.severityText").alias("role"),
        F.col("r.body.stringValue").alias("text"),
        F.element_at(attrs, "tool").alias("tool"),
        F.timestamp_micros(_ns_string_to_micros(F.col("r.timeUnixNano"))).alias("ts"),
        F.col("library"),
    )
