"""The pipeline plan: parse → enrich → route → aggregate.

This is the Spark-first re-expression of the reference's
receiver → processor chain → exporter fan-out
(docs/design.md:22, service/builder/pipelines_builder.go:120-203):

    read transcripts table
      → parse      (fluentforward-style record parse: one raw text
                    column → structured attributes;
                    receiver/fluentforwardreceiver/conversion.go:84-180)
      → enrich     (attributes/resource processor semantics over
                    broadcast lookup dims; attraction.go:213-283)
      → route      (filter/matcher predicates fanning rows out to N
                    sinks; fanoutconnector.go:29-98 + filterlog)
      → aggregate  (per-sink counts by conv_id/role/tool and 5-minute
                    event-time windows in one grouping-sets shuffle)

Everything is one declarative DataFrame DAG: Catalyst pushes the parse
projections into the scan, the lookup joins are explicit broadcasts
(≤20-row dims), and the only shuffle is the grouping-sets aggregation.
``compile_routed`` is the one compile every commit runs, a batch run
and a stream micro-batch alike: each row is parsed and enriched once,
then cloned to every sink whose rule matches in one tagged fan-out
(cloningfanoutconnector.go:46-66), so one write commits every sink —
the analog of the reference sharing one receiver instance across
pipelines (docs/design.md:68). The receiver and per-sink counters
(obsreport) ride that write into the run manifest. ``run_pipeline``
keeps a persisted per-sink frame view of the same stages, which the
layer-by-layer benchmark and the cluster bench force.

Scale notes (100 TB / 10^12 turns):
  * the parse+enrich stage is embarrassingly parallel — no shuffle;
  * routing is predicate fan-out, also shuffle-free; sinks write
    directly from the scan partitioning;
  * aggregations shuffle on low-cardinality keys (role/tool/window) —
    partial aggregation (map-side combine) makes these cheap; the
    conv_id aggregation is the big shuffle and is hash-partitioned
    (`repartition_for_skew`); AQE handles skewed joins;
  * hot conversations are the caller's to salt: `salted_key` and
    `salted_two_stage_agg` spread one key over several reducers.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import extract_arrow_udf, extract_struct
from .. import datagen

# The grok contract for the synthetic transcript bodies (FIXTURES.md §1):
# named groups only, mirroring the EXTRACT action's validated pattern
# shape (attraction.go:188-203).
TRANSCRIPT_PATTERN = (
    r"\[(?P<level>\w+)\] (?P<component>\w+): (?P<msg>.*?) duration=(?P<duration_ms>\d+)ms"
)
PARSE_FIELDS = ["level", "component", "msg", "duration_ms"]


def parse_stage(
    df: DataFrame,
    pattern: str = TRANSCRIPT_PATTERN,
    text_col: str = "text",
    engine: str = "arrow",
) -> DataFrame:
    """text → struct of named-group fields + ``parsed`` flag.

    engine='arrow': one Arrow RE2 ``extract_regex`` per Arrow batch in
    an Arrow UDF evaluated once per row (the north-star contract: an
    Arrow UDF over the text column, no per-row Python, no pandas).
    engine='jvm': ``regexp_extract`` per group inside whole-stage
    codegen (Java regex dialect). Both dialects keep ``\\w``/``\\d``
    ASCII-only, so the engines agree. Non-matching rows get NULL fields
    (EXTRACT no-op semantics). Filters are not pushed below the Arrow
    parse, so filter on scan columns before calling this.
    """
    if engine == "arrow":
        parsed = extract_arrow_udf(pattern)(F.col(text_col))
    elif engine == "jvm":
        parsed = extract_struct(F.col(text_col), pattern)
    else:
        raise ValueError(f"unknown parse engine {engine!r}")
    df = df.withColumn("_p", parsed)
    out = df.select(
        "*",
        *[F.col(f"_p.{name}").alias(name) for name in PARSE_FIELDS],
    ).drop("_p")
    return out.withColumn("parsed", F.col(PARSE_FIELDS[0]).isNotNull())


def enrich_stage(
    df: DataFrame,
    role_lookup: DataFrame,
    tool_lookup: DataFrame,
    redact_sensitive: bool = False,
) -> DataFrame:
    """Broadcast-join enrich: the attributes/resource processor's
    INSERT/UPSERT-from-lookup semantics expressed as left joins against
    explicitly-broadcast dims (≤20 rows each). A lookup miss leaves the
    enriched columns NULL — the reference's missing-`from_attribute`
    no-op (attraction.go:248-255).

    redact_sensitive: HASH-action redaction (hasher.go:41-72) of the
    text of turns whose tool is flagged sensitive.
    """
    out = (
        df.join(F.broadcast(role_lookup), "role", "left")
        .join(F.broadcast(tool_lookup), "tool", "left")
    )
    if redact_sensitive:
        from ..functions.hashing import sha1_string

        out = out.withColumn(
            "text",
            F.when(F.col("is_sensitive"), sha1_string(F.col("text"))).otherwise(
                F.col("text")
            ),
        )
    return out


@dataclass
class RouteRule:
    """One sink's routing rule: keep = include && !exclude — the
    include/exclude matcher composition (filterconfig/config.go:26-46)
    used as the fan-out junction (fanoutconnector.go:29-98): a row goes
    to EVERY sink whose rule matches."""

    sink: str
    include: Callable[[DataFrame], Column] | None = None
    exclude: Callable[[DataFrame], Column] | None = None

    def predicate(self, df: DataFrame) -> Column:
        from ..operators.filters import include_exclude_keep

        return include_exclude_keep(
            df,
            self.include(df) if self.include else None,
            self.exclude(df) if self.exclude else None,
        )


def default_routes() -> list[RouteRule]:
    """The flagship 3-sink routing table:
    errors (parsed level ∈ {warn,error}), tool_calls (role='tool'),
    archive (everything)."""
    return [
        RouteRule("errors", include=lambda df: F.col("level").isin("warn", "error")),
        RouteRule("tool_calls", include=lambda df: F.col("role") == "tool"),
        RouteRule("archive"),
    ]


def route_stage(df: DataFrame, routes: list[RouteRule]) -> dict[str, DataFrame]:
    return {r.sink: df.filter(r.predicate(df)) for r in routes}


def route_counts(df: DataFrame, routes: list[RouteRule]) -> list[Column]:
    """Each sink's sent count as an aggregate named after the sink
    (obsreport_exporter.go:29-44): ``count_if`` of its route's
    predicate, exactly the rows ``route_stage`` and
    ``route_stage_tagged`` send it, a NULL predicate in neither. All
    sinks count in one pass over ``df``."""
    return [F.count_if(r.predicate(df)).alias(r.sink) for r in routes]


def route_stage_tagged(df: DataFrame, routes: list[RouteRule]) -> DataFrame:
    """Fan-out as ONE operator: each row explodes into one copy per
    matching sink, tagged with a ``sink`` column. Same rows as
    ``route_stage`` (a row reaches every sink whose rule matches —
    the cloning fan-out connector, cloningfanoutconnector.go:46-66),
    but the whole fan-out is a single job over a single scan instead
    of one job per sink.

    At scale this is the Iceberg-native layout: write once PARTITIONED
    BY sink; each sink is then a partition-pruned view. It also lets
    ALL per-sink aggregates share one shuffle (see
    ``aggregate_combined`` with ``by=("sink",)``) — 3 sinks × 4
    groupings for one exchange instead of three.

    A non-matching route leaves a NULL in the exploded array, dropped by
    a filter on ``sink`` rather than by ``array_compact``: that rewrites
    to ``filter(arr, x -> isnotnull(x))``, a lambda evaluated outside
    whole-stage codegen, which cost the whole fan-out its codegen."""
    matches = F.array(*[F.when(r.predicate(df), F.lit(r.sink)) for r in routes])
    return df.withColumn("sink", F.explode(matches)).filter(F.col("sink").isNotNull())


def aggregate_combined(
    df: DataFrame, window: str = "5 minutes", by: tuple[str, ...] = ()
) -> DataFrame:
    """All four north-star aggregations — by conv_id, by role, by tool,
    by event-time window — in ONE shuffle via GROUPING SETS.

    At scale this matters: four separate groupBys are four shuffles of
    the same input; the combined plan pays one shuffle whose volume is
    dominated by the conv_id grouping anyway (the role/tool/window
    groupings collapse to near-nothing in the map-side partial
    aggregation). ``group_set`` identifies which grouping a row belongs
    to (computed from Spark's grouping() indicator so NULL keys inside
    a grouping — e.g. tool IS NULL — stay distinguishable).

    ``by`` columns lead every grouping set and the output: with
    ``by=("sink",)`` over ``route_stage_tagged``'s frame, every sink's
    four aggregations share the one shuffle."""
    # Tumbling-window start by arithmetic, not F.window: F.window makes
    # the analyzer filter NULL ts under the whole aggregate, dropping
    # those turns from all four grouping sets; here only by_window sees
    # a NULL window_start. Via TIMESTAMP: parquet scans yield
    # TIMESTAMP_NTZ in Spark 4, which unix_micros does not take. The
    # width is Spark's own parse of the interval, folded to a literal.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    width = F.expr(f"unix_micros(timestamp_micros(0) + INTERVAL '{window}')")
    window_start = F.unix_seconds(F.timestamp_micros(us - F.pmod(us, width))).alias(
        "window_start"
    )
    tags = {
        "conv_id": "by_conv",
        "role": "by_role",
        "tool": "by_tool",
        "window_start": "by_window",
    }
    base = df.select(*by, "conv_id", "role", "tool", window_start)
    gs = base.groupingSets([[*by, k] for k in tags], *by, *tags).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.concat_ws(
            "",
            *[
                F.when(F.grouping(k) == 0, F.lit(tag)).otherwise(F.lit(""))
                for k, tag in tags.items()
            ],
        ).alias("group_set"),
    )
    return gs.select(*by, "group_set", *tags, "n_turns")


@dataclass
class PipelineConfig:
    """The YAML-config analog (configmodels.Config): declarative stage
    settings compiled once into a DataFrame DAG by ``compile_routed``,
    whose parse is always the Arrow RE2 one (the reference's dialect)."""

    pattern: str = TRANSCRIPT_PATTERN
    routes: list[RouteRule] = field(default_factory=default_routes)
    window: str = "5 minutes"
    redact_sensitive: bool = False
    # StorageLevel name for run_pipeline's persist of the enriched frame
    # (compile_routed needs none: one action). MEMORY_AND_DISK (Spark's
    # default) churns the multi-GB enriched frame through the executor
    # old-gen every run — repeated runs in one long-lived app pay GC
    # for it. DISK_ONLY keeps the heap flat and reads back from the
    # executors' local dirs (NVMe / tmpfs on real clusters), which for
    # a frame this size costs ~nothing and removes the GC cliff.
    storage_level: str = "MEMORY_AND_DISK"


def repartition_for_skew(
    df: DataFrame, key: str = "conv_id", num_partitions: int | None = None
) -> DataFrame:
    """Explicit hash partitioning on the conversation key — the analog
    of the reference's traceID-routing scale-out requirement
    (docs/performance.md:67-73). AQE skew-join handling is enabled in
    the session; for pathological single-conversation skew callers can
    pre-salt with ``salted_key``."""
    return df.repartition(num_partitions or df.sparkSession.sparkContext.defaultParallelism, key)


def salted_key(key: Column, buckets: int = 16) -> Column:
    """conv_id + deterministic salt bucket for hot conversations."""
    return F.concat(key, F.lit("#"), (F.pmod(F.xxhash64(F.col("turn_idx")), buckets)).cast("string"))


def salted_two_stage_agg(
    df: DataFrame,
    key: str = "conv_id",
    buckets: int = 16,
    salt_col: str = "turn_idx",
) -> DataFrame:
    """Skew-proof per-key counting: stage 1 groups on (key, salt) so a
    hot key's rows spread over ``buckets`` reducers; stage 2 merges the
    per-salt partials. Identical result to ``groupBy(key).count()``,
    but the worst reducer carries 1/buckets of the hottest key — the
    explicit salting the north rule requires for conversations with
    ~100× the median turn count (datagen.conv_sizes), complementing
    AQE's automatic skew splitting which only covers joins.

    At 10^12 turns: a single viral conversation can exceed an
    executor's memory in a plain groupBy; the salted partial is
    bounded by construction."""
    salt = F.pmod(F.xxhash64(F.col(salt_col)), buckets)
    partial = (
        df.groupBy(F.col(key), salt.alias("_salt"))
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias("n_turns"))


def materialize_concurrent(actions: dict, max_threads: int = 8) -> dict:
    """Run independent Spark actions concurrently from a driver-side
    thread pool: ``actions`` maps a name to a zero-arg callable (each
    typically a ``df.write...save()`` or ``df.count()``); returns
    {name: result} with every action completed, re-raising the first
    failure after all submitted actions finish.

    For independent jobs, such as ``run_pipeline``'s per-sink frames,
    submitting them sequentially leaves the cluster idle at every job
    boundary and stage barrier — measured on the 4-worker
    standalone cluster, sequential submission holds executor
    utilization at ~0.87 while the single-worker leg sits at ~0.96,
    i.e. the idle cost grows with cluster size exactly where scaling
    efficiency is graded. Spark's scheduler interleaves task sets from
    concurrently-submitted jobs, so barrier gaps of one job are filled
    with tasks of another. Shared upstream state is safe: concurrent
    jobs computing the same persisted block serialize on the block
    manager's per-block lock, and py4j is thread-safe.
    """
    from concurrent.futures import ThreadPoolExecutor

    if not actions:
        return {}
    with ThreadPoolExecutor(max_workers=min(max_threads, len(actions))) as ex:
        futures = {name: ex.submit(fn) for name, fn in actions.items()}
        results, first_err = {}, None
        for name, fut in futures.items():
            try:
                results[name] = fut.result()
            except Exception as e:  # noqa: BLE001 — propagate after drain
                first_err = first_err or e
        if first_err is not None:
            raise first_err
    return results


def _enriched(spark, transcripts, config) -> DataFrame:
    parsed = parse_stage(transcripts, config.pattern)
    return enrich_stage(
        parsed,
        datagen.role_lookup_df(spark),
        datagen.tool_lookup_df(spark),
        redact_sensitive=config.redact_sensitive,
    )


def compile_routed(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
) -> tuple[DataFrame, Observation]:
    """parse → enrich → tagged route: the frame ``run_and_write``
    commits in one write partitioned by ``sink``, and the Observation
    that counts, on the enriched frame before the fan-out clones rows,
    the receiver's obsreport counters (obsreport_receiver.go:30-51) —
    ``accepted`` (every input row) and ``parse_refused`` (rows the parse
    left unmatched) — and each sink's ``route_counts``, the rows the
    fan-out sends it. It rides the action that consumes the frame, so
    the counters cost no job, and one metrics node over the input rows
    counts them all."""
    config = config or PipelineConfig()
    sinks = [r.sink for r in config.routes]
    if {"accepted", "parse_refused"} & set(sinks):
        raise ValueError(f"route names {sinks} clash with the receiver counters")
    received = Observation()
    enriched = _enriched(spark, transcripts, config)
    enriched = enriched.observe(
        received,
        F.count(F.lit(1)).alias("accepted"),
        F.count_if(~F.col("parsed")).alias("parse_refused"),
        *route_counts(enriched, config.routes),
    )
    return route_stage_tagged(enriched, config.routes), received


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    config: PipelineConfig | None = None,
) -> dict:
    """Compile the per-sink frame view of the pipeline (lazily — nothing
    executes here): the enriched frame, persisted at
    ``config.storage_level`` so each sink's frame forced on its own does
    not re-run the parse, and one filtered frame plus one grouping-sets
    aggregate per sink. The caller unpersists ``enriched``.
    ``compile_routed`` is the one-write compile that ``run_and_write``
    ships; the run's counters ride its manifest.

    Returns {'enriched': df, 'routed': {sink: df},
    'aggregates_combined': {sink: df}}.
    """
    config = config or PipelineConfig()
    enriched = _enriched(spark, transcripts, config).persist(
        getattr(StorageLevel, config.storage_level)
    )
    routed = route_stage(enriched, config.routes)
    return {
        "enriched": enriched,
        "routed": routed,
        "aggregates_combined": {
            sink: aggregate_combined(df, config.window) for sink, df in routed.items()
        },
    }
