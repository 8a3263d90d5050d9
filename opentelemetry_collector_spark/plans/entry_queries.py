"""Driver-contract query registry: each entry pairs a Spark
implementation (running this package's real operators) with an
equivalent ANSI-SQL oracle DuckDB can run on the same parquet tables.

The transcript pipeline queries first derive a deterministic
transcripts table from the driver's ``events`` table with
SQL-expressible transforms (window row_number for turn ordering, CASE
maps for role/tool, string assembly for the grok-able body) — both
engines derive the identical table, then the Spark side runs the real
parse → enrich → route → aggregate operators while the oracle computes
the same result in one SQL statement.

Dialect notes: both engines accept ``||`` concat, CAST AS STRING,
CASE, floor; epoch-seconds extraction differs (Spark CAST(ts AS LONG),
DuckDB epoch_us//1000000) and is templated via {EPOCH}. All computed
numeric columns are CAST explicitly (DuckDB's floor → double, sum(int)
→ hugeint would otherwise diverge).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table
from .pipeline import TRANSCRIPT_PATTERN

# ---------------------------------------------------------------------------
# shared derivation: events → transcripts (identical in both dialects)
# ---------------------------------------------------------------------------

from .shared_sql import _TRANSCRIPTS_FROM_EVENTS, _derive_transcripts, _register  # noqa: F401

# role → role_class as the oracle folds it: datagen.ROLE_LOOKUP's
# mapping, which the Spark side joins broadcast in enrich_stage
_ROLE_CLASS_CASE = """
  CASE role WHEN 'user' THEN 'human' WHEN 'assistant' THEN 'model'
            WHEN 'system' THEN 'control' WHEN 'tool' THEN 'machine' END
"""

_DUCK_EPOCH = "(epoch_us({col}) // 1000000)"


def _epoch_s(col: F.Column) -> F.Column:
    """Epoch seconds from TIMESTAMP or TIMESTAMP_NTZ (parquet scans
    yield NTZ in Spark 4; with the session pinned UTC the two agree
    with DuckDB's epoch_us of the naive value)."""
    return col.cast("timestamp").cast("long")


# ---------------------------------------------------------------------------
# pipeline queries (flagship)
# ---------------------------------------------------------------------------


def q_pipeline_errors_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: parse → enrich → route(errors) → aggregate by
    role_class × level × 5-min window, counting turns and summing the
    parsed duration. Exercises the Arrow parse UDF, the broadcast
    enrich join, the route predicate and the windowed aggregation."""
    from .. import datagen
    from .pipeline import default_routes, enrich_stage, parse_stage, route_stage

    t = _derive_transcripts(spark, sf_dir)
    enriched = enrich_stage(
        parse_stage(t, TRANSCRIPT_PATTERN, engine="arrow"),
        datagen.role_lookup_df(spark),
        datagen.tool_lookup_df(spark),
    )
    routed = route_stage(enriched, default_routes())["errors"]
    return (
        routed.groupBy(
            "role_class",
            "level",
            (F.floor(_epoch_s(F.col("ts")) / 300) * 300).alias("window_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("duration_ms").cast("long")).alias("sum_duration_ms"),
        )
    )


def _oracle_pipeline_errors_agg() -> str:
    epoch = _DUCK_EPOCH.format(col="ts")
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
p AS (
  SELECT *,
    regexp_extract(text, '\\[(\\w+)\\] (\\w+): (.*?) duration=(\\d+)ms', 1) AS level,
    CAST(regexp_extract(text, '\\[(\\w+)\\] (\\w+): (.*?) duration=(\\d+)ms', 4) AS BIGINT) AS duration_ms
  FROM t
)
SELECT {_ROLE_CLASS_CASE} AS role_class, level,
       CAST(floor({epoch} / 300) * 300 AS BIGINT) AS window_start,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(duration_ms) AS BIGINT) AS sum_duration_ms
FROM p
WHERE level IN ('warn', 'error')
GROUP BY 1, 2, 3
"""


def q_pipeline_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row equality + per-turn text equality for the errors
    sink: the exact rows, keyed by (conv_id, turn_idx), that the route
    stage fans out — the per-row invariant of the north star."""
    from .pipeline import parse_stage

    t = _derive_transcripts(spark, sf_dir)
    parsed = parse_stage(t, TRANSCRIPT_PATTERN, engine="arrow")
    return parsed.filter(F.col("level").isin("warn", "error")).select(
        "conv_id", "turn_idx", "role", "text"
    )


def _oracle_pipeline_routed_rows() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS})
SELECT conv_id, turn_idx, role, text
FROM t
WHERE regexp_extract(text, '\\[(\\w+)\\]', 1) IN ('warn', 'error')
"""


def q_route_fanout_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Include/exclude routing (filterlog semantics) fanning the
    transcripts to 3 sinks; per-sink sent counts — the obsreport
    exporter counters (obsreport_exporter.go:29-44)."""
    from ..operators.filters import AttributeCondition, MatchProperties, matcher
    from .pipeline import RouteRule, parse_stage, route_stage

    t = _derive_transcripts(spark, sf_dir)
    parsed = parse_stage(t, TRANSCRIPT_PATTERN, engine="jvm").withColumn(
        "attrs",
        F.map_filter(
            F.create_map(
                F.lit("level"), F.col("level"),
                F.lit("role"), F.col("role"),
                F.lit("tool"), F.col("tool"),
            ),
            lambda _k, v: v.isNotNull(),
        ),
    )
    routes = [
        RouteRule(
            "errors",
            include=matcher(
                MatchProperties("regexp", attributes=[AttributeCondition("level", "warn|error")])
            ),
            exclude=matcher(
                MatchProperties("strict", attributes=[AttributeCondition("role", "system")])
            ),
        ),
        RouteRule(
            "tool_calls",
            include=matcher(
                MatchProperties("strict", attributes=[AttributeCondition("tool")])
            ),
        ),
        RouteRule("archive"),
    ]
    routed = route_stage(parsed, routes)
    parts = [
        df.agg(F.lit(sink).alias("sink"), F.count(F.lit(1)).alias("sent"))
        for sink, df in routed.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _oracle_route_fanout_counts() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
p AS (SELECT *, regexp_extract(text, '\\[(\\w+)\\]', 1) AS level FROM t)
SELECT 'errors' AS sink, CAST(count(*) AS BIGINT) AS sent FROM p
 WHERE regexp_matches(level, 'warn|error') AND role <> 'system'
UNION ALL
SELECT 'tool_calls', CAST(count(*) AS BIGINT) FROM p WHERE tool IS NOT NULL
UNION ALL
SELECT 'archive', CAST(count(*) AS BIGINT) FROM p
"""


# ---------------------------------------------------------------------------
# operator-level queries on the driver tables
# ---------------------------------------------------------------------------


def q_parse_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACT named-group parse of events.props (the attributes
    processor's EXTRACT action, attraction.go:263-283), aggregated by
    the extracted key bucket."""
    from ..functions.parse import extract_struct

    _register(spark, sf_dir, "events")
    events = spark.table("events")
    parsed = events.withColumn(
        "k", extract_struct(F.col("props"), r'"k": (?P<kval>\d+)')["kval"].cast("long")
    )
    return (
        parsed.filter(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
    )


def _oracle_parse_extract_props() -> str:
    return """
SELECT CAST(k % 10 AS BIGINT) AS k_bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k FROM events)
WHERE k IS NOT NULL
GROUP BY 1
"""


def q_span_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-processor rename chain (span.go:105-221): to_attributes
    extracts the event id out of each transcript body into the attrs
    map, replacing it with an ``{event_id}`` placeholder in the name;
    then from_attributes rebuilds a ``level/component`` span name from
    two attributes (all-or-nothing)."""
    from ..operators.span import rename_from_attributes, rename_to_attributes
    from .pipeline import parse_stage

    t = _derive_transcripts(spark, sf_dir)
    parsed = parse_stage(t, engine="jvm")
    spans = parsed.select(
        "conv_id",
        "turn_idx",
        F.col("text").alias("name"),
        F.map_filter(
            F.create_map(
                F.lit("level"), F.col("level"),
                F.lit("component"), F.col("component"),
            ),
            lambda _k, v: v.isNotNull(),
        ).alias("attrs"),
    )
    renamed = rename_to_attributes(spans, [r"event (?P<event_id>\d+)"])
    rebuilt = rename_from_attributes(renamed, ["level", "component"], separator="/")
    return rebuilt.select(
        "conv_id",
        "turn_idx",
        F.col("name").alias("span_name"),
        F.element_at(F.col("attrs"), "event_id").alias("event_id"),
    )


def _oracle_span_rename() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
p AS (
  SELECT conv_id, turn_idx, text,
    regexp_extract(text, '\\[(\\w+)\\] (\\w+): (.*?) duration=(\\d+)ms', 1) AS level,
    regexp_extract(text, '\\[(\\w+)\\] (\\w+): (.*?) duration=(\\d+)ms', 2) AS component,
    regexp_extract(text, 'event (\\d+)', 1) AS event_id
  FROM t
)
SELECT conv_id, turn_idx,
       -- to_attributes placeholder applies first, then from_attributes
       -- (present for every parsed row) overwrites the whole name
       CASE WHEN level <> '' AND component <> ''
            THEN level || '/' || component
            WHEN event_id <> ''
            THEN regexp_replace(text, 'event (\\d+)', 'event {{event_id}}')
            ELSE text END AS span_name,
       CASE WHEN event_id <> '' THEN event_id END AS event_id
FROM p
"""


def q_enrich_broadcast_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join enrich chain customer → nation → region (the
    resource-processor lookup-enrich analog), aggregated per region.
    Money sums go through DECIMAL so both engines are order-exact; the
    final column is cast to rounded DOUBLE so both engines emit the
    identical dtype (the driver's value hash is dtype-sensitive)."""
    _register(spark, sf_dir, "customer", "nation", "region")
    customer = spark.table("customer")
    nation = spark.table("nation")
    region = spark.table("region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(20,4)")).cast("double"), 6
            ).alias("sum_acctbal"),
        )
    )


def _oracle_enrich_broadcast_region() -> str:
    return """
SELECT r_name AS region_name, CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(20,4))) AS DOUBLE), 6) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
"""


def q_filter_strict_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filterset strict membership (strictfilterset.go:37-40) over
    orders.o_orderpriority, counting survivors per status."""
    from ..operators.filters import filterset_predicate

    _register(spark, sf_dir, "orders")
    orders = spark.table("orders")
    keep = filterset_predicate(
        F.col("o_orderpriority"), ["1-URGENT", "2-HIGH"], "strict"
    )
    return (
        orders.filter(keep)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(20,4)")).cast("double"), 6
            ).alias("sum_price"),
        )
    )


def _oracle_filter_strict_priority() -> str:
    return """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,4))) AS DOUBLE), 6) AS sum_price
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY 1
"""


def q_filterset_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filterset matrix — the former ``filter_strict_priority``
    (strict membership over orders) and ``metric_filter_names``
    (strict-exclude → regexp-include composition over metric names)
    rows consolidated under the 50-row driver budget; each case keeps
    its full value check (counts + a summed measure, cast to one
    schema)."""
    from .operator_queries import q_metric_filter_names

    strict = q_filter_strict_priority(spark, sf_dir).select(
        F.lit("strict_priority").alias("fs_case"),
        F.col("o_orderstatus").alias("key"),
        F.col("n").cast("long").alias("n"),
        F.col("sum_price").cast("double").alias("agg_val"),
    )
    names = q_metric_filter_names(spark, sf_dir).select(
        F.lit("metric_names").alias("fs_case"),
        F.col("name").alias("key"),
        F.col("n").cast("long").alias("n"),
        F.col("sum_id").cast("double").alias("agg_val"),
    )
    return strict.unionByName(names)


def _oracle_filterset_matrix() -> str:
    # composed from the standalone sub-oracles (same pattern as
    # _oracle_resource_matrix) so a precision or predicate change in
    # either can never silently drift from the matrix row
    from .operator_queries import _oracle_metric_filter_names

    return f"""
SELECT 'strict_priority' AS fs_case, o_orderstatus AS key, n,
       sum_price AS agg_val
FROM ({_oracle_filter_strict_priority()})
UNION ALL
SELECT 'metric_names' AS fs_case, name AS key, n,
       CAST(sum_id AS DOUBLE) AS agg_val
FROM ({_oracle_metric_filter_names()})
"""


# DDSketch binning constants shared verbatim by the Spark query and
# the DuckDB oracle (both engines consume the same Python-computed
# double literals, so the only cross-engine float surface is ln/pow,
# whose ≤1-ulp spread is absorbed by the coarse round(…, 3) below)
_PCT_ALPHA = 0.01
_PCT_GAMMA = (1.0 + _PCT_ALPHA) / (1.0 - _PCT_ALPHA)
import math as _math

_PCT_LN_G = _math.log(_PCT_GAMMA)
_PCT_REP = 2.0 * _PCT_GAMMA / (_PCT_GAMMA + 1.0)


def q_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (5 min → 1 h → 1 d)
    over events via the cascade operator — each coarser level
    re-aggregates the finer one, so the raw table is scanned once.
    The 300 s slice reproduces the former ``agg_window_5min`` row
    exactly (that row consolidated into this one); the coarser levels
    pin the cascade's re-aggregation rules (sum of counts, exact
    derived avg, max of maxes, set-union distinct) against a direct
    GROUP BY oracle. ``u_distinct`` is the EXACT distinct-user
    cascade (collect_set → set-union — the non-cascadable measure the
    operator used to refuse); the HLL sketch variant of the same
    measure is error-bound-tested in tests/test_rollup.py (a DuckDB
    oracle can't reproduce DataSketches estimates bit-for-bit).
    p50/p95/p99 come from the DDSketch-style log-histogram cascade
    (``percentile_rollup``) joined on the same grain; the oracle
    replays the identical binning/selection math in SQL, so the row
    checks my cascade against an independent implementation of the
    same sketch. Decimal value column so sums are order-independent
    in both engines."""
    from ..operators import percentile_rollup, rollup_cascade

    _register(spark, sf_dir, "events")
    levels = (300.0, 3600.0, 86400.0)
    e = spark.table("events").select(
        "ts",
        "event_type",
        F.col("value").cast("decimal(20,6)").alias("v"),
        "user_id",
        "value",
    )
    out = rollup_cascade(
        e,
        ts="ts",
        keys="event_type",
        measures={
            "n": ("count", "*"),
            "v_sum": ("sum", "v"),
            "v_avg": ("avg", "v"),
            "v_max": ("max", "v"),
            "u_distinct": ("distinct", "user_id"),
        },
        levels=levels,
    )
    pct = percentile_rollup(
        e,
        ts="ts",
        keys="event_type",
        value="value",
        levels=levels,
        percentiles=(0.5, 0.95, 0.99),
        alpha=_PCT_ALPHA,
    ).select(
        "level_sec", "bucket_start", "event_type", "p50", "p95", "p99"
    )
    joined = out.join(pct, ["level_sec", "bucket_start", "event_type"], "inner")
    # round(6) on every emitted double — the repo-wide oracle-parity
    # convention: BigDecimal.doubleValue (Spark) vs int128/10^scale
    # (DuckDB) conversions can differ by 1 ulp on >15-digit sums.
    # Percentiles round to 3: their value chain crosses engine libm
    # pow (≤ ~1.5 ulp spread at magnitude ~500); 3 decimals keeps the
    # flip probability ~1e-10/value while the unrounded alpha bound is
    # pinned by pytest.
    return joined.select(
        "level_sec",
        "bucket_start",
        "event_type",
        "n",
        F.round(F.col("v_sum").cast("double"), 6).alias("v_sum"),
        F.round(F.col("v_avg").cast("double"), 6).alias("v_avg"),
        F.round(F.col("v_max").cast("double"), 6).alias("v_max"),
        "u_distinct",
        F.round(F.col("p50"), 3).alias("p50"),
        F.round(F.col("p95"), 3).alias("p95"),
        F.round(F.col("p99"), 3).alias("p99"),
    )


def _oracle_rollup_multires() -> str:
    """The sum/avg/max/count half cascades in SQL exactly as the
    operator does; distinct and percentiles are computed DIRECTLY from
    raw at every resolution — the semantic definition the cascade must
    equal (set-union and histogram merge are exact, so cascade ==
    direct; tests/test_rollup.py pins that equality independently).
    The percentile half replays the identical DDSketch binning with
    the same Python-computed gamma/ln_g/rep literals the Spark side
    uses."""
    epoch = _DUCK_EPOCH.format(col="ts")
    off = 1 << 40
    g, ln_g, rep = repr(_PCT_GAMMA), repr(_PCT_LN_G), repr(_PCT_REP)

    def udist(w: int) -> str:
        return f"""(
  SELECT CAST(es // {w} * {w} AS BIGINT) AS bucket_start, event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS u_distinct
  FROM b GROUP BY 1, 2
)"""

    def pct(w: int) -> str:
        def est(col: str) -> str:
            return f"""round(CASE
        WHEN {col} > 0 THEN round({rep} * power({g}, {col} - {off} - 1), 9)
        WHEN {col} = 0 THEN 0.0
        ELSE -round({rep} * power({g}, -{col} - {off} - 1), 9) END, 3)"""

        return f"""(
  WITH h AS (
    SELECT CAST(es // {w} * {w} AS BIGINT) AS bucket_start, event_type,
           CASE WHEN x > 0 THEN CAST(ceil(ln(x) / {ln_g}) AS BIGINT) + {off}
                WHEN x = 0 THEN 0
                ELSE -(CAST(ceil(ln(-x) / {ln_g}) AS BIGINT) + {off}) END AS o,
           count(*) AS cnt
    FROM b WHERE x IS NOT NULL GROUP BY 1, 2, 3
  ), c AS (
    SELECT bucket_start, event_type, o,
           sum(cnt) OVER (PARTITION BY bucket_start, event_type
                          ORDER BY o) AS cum,
           sum(cnt) OVER (PARTITION BY bucket_start, event_type) AS nn
    FROM h
  ), q AS (
    SELECT bucket_start, event_type,
           min(CASE WHEN cum >= ceil(0.5 * nn) THEN o END) AS b50,
           min(CASE WHEN cum >= ceil(0.95 * nn) THEN o END) AS b95,
           min(CASE WHEN cum >= ceil(0.99 * nn) THEN o END) AS b99
    FROM c GROUP BY 1, 2
  )
  SELECT bucket_start, event_type, {est('b50')} AS p50,
         {est('b95')} AS p95, {est('b99')} AS p99
  FROM q
)"""

    def level(w: int, src: str) -> str:
        return f"""
SELECT CAST({w}.0 AS DOUBLE) AS level_sec, l.bucket_start, l.event_type,
       l.n, round(CAST(l.sv AS DOUBLE), 6) AS v_sum,
       CASE WHEN l.cv = 0 THEN NULL
            ELSE round(CAST(l.sv AS DOUBLE) / l.cv, 6) END AS v_avg,
       round(CAST(l.mv AS DOUBLE), 6) AS v_max,
       u.u_distinct, p.p50, p.p95, p.p99
FROM {src} l
JOIN {udist(w)} u
  ON u.bucket_start = l.bucket_start AND u.event_type = l.event_type
JOIN {pct(w)} p
  ON p.bucket_start = l.bucket_start AND p.event_type = l.event_type"""

    return f"""
WITH b AS (
  SELECT {epoch} AS es, event_type, CAST(value AS DECIMAL(20,6)) AS v,
         user_id, value AS x
  FROM events
), l1 AS (
  SELECT CAST(es // 300 * 300 AS BIGINT) AS bucket_start, event_type,
         CAST(count(*) AS BIGINT) AS n, sum(v) AS sv, count(v) AS cv,
         max(v) AS mv
  FROM b GROUP BY 1, 2
), l2 AS (
  SELECT CAST(bucket_start // 3600 * 3600 AS BIGINT) AS bucket_start,
         event_type, CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv,
         sum(cv) AS cv, max(mv) AS mv
  FROM l1 GROUP BY 1, 2
), l3 AS (
  SELECT CAST(bucket_start // 86400 * 86400 AS BIGINT) AS bucket_start,
         event_type, CAST(sum(n) AS BIGINT) AS n, sum(sv) AS sv,
         sum(cv) AS cv, max(mv) AS mv
  FROM l2 GROUP BY 1, 2
)
{level(300, 'l1')}
UNION ALL
{level(3600, 'l2')}
UNION ALL
{level(86400, 'l3')}
"""


def q_batch_trigger_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic batch-processor trigger metrics per event_type at
    send_batch_size=100 (batch_processor.go:38-40, metrics.go:27-30)."""
    from ..operators.batch import batch_trigger_metrics

    _register(spark, sf_dir, "events")
    return batch_trigger_metrics(spark.table("events"), ["event_type"], 100)


def _oracle_batch_trigger_counts() -> str:
    return """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS record_count,
       CAST(floor(count(*) / 100) AS BIGINT) AS batch_size_trigger_send,
       CAST(CASE WHEN count(*) % 100 > 0 THEN 1 ELSE 0 END AS BIGINT) AS timeout_trigger_send,
       CAST(floor(count(*) / 100) + CASE WHEN count(*) % 100 > 0 THEN 1 ELSE 0 END AS BIGINT) AS num_batches
FROM events
GROUP BY 1
"""


def q_hash_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-action redaction over documents.text (hasher.go:41-72
    semantics; sha256 digest here because the DuckDB oracle lacks
    sha1 — the byte-exact sha1 path is pinned by unit tests)."""
    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    return docs.filter(F.col("lang") == "en").select(
        "doc_id", F.sha2(F.col("text"), 256).alias("text_redacted")
    )


def _oracle_hash_redact() -> str:
    return "SELECT doc_id, sha256(text) AS text_redacted FROM documents WHERE lang = 'en'"


def q_sampler_priority_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sampling.priority override semantics at 0% base rate: only
    priority>0 rows survive (probabilisticsampler.go:135-181). The
    priority attribute is derived from events.value so the oracle can
    reproduce the kept set exactly."""
    from ..operators.sampler import ProbabilisticSampler

    _register(spark, sf_dir, "events")
    events = spark.table("events")
    with_attrs = events.select(
        "event_id",
        F.col("event_id").cast("string").alias("conv_id"),
        F.create_map(
            F.lit("sampling.priority"),
            F.when(F.col("event_type") == "error", F.lit("1"))
            .when(F.col("event_type") == "signup", F.lit("garbage"))
            .otherwise(F.lit("0")),
        ).alias("attrs"),
    )
    sampler = ProbabilisticSampler(0.0, hash_seed=22, id_col="conv_id")
    return sampler(with_attrs).select("event_id")


def _oracle_sampler_priority_override() -> str:
    # base rate 0%: deferred rows (unparseable 'garbage') hash to
    # bucket < 0 — impossible — so only priority>0 survives.
    return "SELECT event_id FROM events WHERE event_type = 'error'"


def q_sampler_murmur3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based sampling at 15%/seed 22 over event ids — exact
    murmur3 keep-set. The oracle is a literal id-list materialized by
    ``murmur3_oracle_sql`` from the pure-Python reference hash (itself
    property-tested against the vectorized kernel)."""
    from ..operators.sampler import ProbabilisticSampler

    _register(spark, sf_dir, "events")
    events = spark.table("events").select(
        "event_id", F.col("event_id").cast("string").alias("conv_id")
    )
    return ProbabilisticSampler(15.0, hash_seed=22, id_col="conv_id")(events).select(
        "event_id"
    )


def murmur3_oracle_sql(sf_dir: str | None = None) -> str:
    """Strong oracle for the murmur3 sampler keep-set: murmur3 is not
    SQL-expressible, so the expected ids are precomputed with the
    scalar pure-Python reference implementation (functions/mmh3.py:33,
    itself property-tested against the vectorized kernel) and emitted
    as a literal IN-list the driver's DuckDB runs against the events
    view. Reads the same sf dir the comparison runs at
    (SPARK_GRAFT_SF_DIR, default the driver's sf0.01)."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    from ..functions.mmh3 import (
        BITMASK_HASH_BUCKETS,
        PERCENTAGE_SCALE_FACTOR,
        murmur3_32,
    )

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    ids = (
        pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["event_id"])
        .column("event_id")
        .to_pylist()
    )
    scaled = int(15.0 * PERCENTAGE_SCALE_FACTOR)
    keep = [
        i
        for i in ids
        if (
            murmur3_32(hashlib.md5(str(i).encode()).digest(), seed=22)
            & BITMASK_HASH_BUCKETS
        )
        < scaled
    ]
    if not keep:
        # tiny sf dir / low rate can produce an empty keep-set;
        # "IN ()" is a SQL syntax error, so emit an always-false
        # predicate with the same (empty) result shape instead
        return "SELECT event_id FROM events WHERE FALSE"
    vals = ", ".join(str(i) for i in sorted(keep))
    return f"SELECT event_id FROM events WHERE event_id IN ({vals})"


def q_sampler_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both probabilisticsampler semantics as one tagged matrix
    (consolidates the former ``sampler_murmur3`` +
    ``sampler_priority_override`` rows under the 50-row driver
    budget; r5 freed the slot for ``hostmetrics_scrape``):

    * ``mode='murmur3_15pct'`` — exact murmur3 keep-set at 15%/seed 22
      (probabilisticsampler.go:88-133, functions/mmh3.py:33);
    * ``mode='priority_zero'`` — sampling.priority override at 0% base
      rate: only priority>0 survives
      (probabilisticsampler.go:135-181).
    """
    m = q_sampler_murmur3(spark, sf_dir).select(
        F.lit("murmur3_15pct").alias("mode"), "event_id"
    )
    p = q_sampler_priority_override(spark, sf_dir).select(
        F.lit("priority_zero").alias("mode"), "event_id"
    )
    return m.unionByName(p)


def sampler_matrix_oracle_sql(sf_dir: str | None = None) -> str:
    """Matrix oracle: the murmur3 literal keep-set (strong,
    non-SQL-expressible half, see ``murmur3_oracle_sql``) unioned with
    the priority-override arm's plain SQL."""
    return (
        "SELECT 'murmur3_15pct' AS mode, event_id FROM ("
        + murmur3_oracle_sql(sf_dir)
        + ") UNION ALL SELECT 'priority_zero' AS mode, event_id"
        " FROM events WHERE event_type = 'error'"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup matrix — the former ``dedup_exact`` and
    ``dedup_survivors`` rows consolidated under the 50-row driver
    budget, both semantics kept value-exact:

    * ``metric='cluster'``: clusters by the prefix fingerprint (md5 of
      the first 5 lowercased whitespace tokens) — k1 = fp,
      v1 = keep_doc_id (lowest id), v2 = cluster_size;
    * ``metric='survivors'``: keep the lowest doc_id per whole-text
      normalized-md5 cluster (trainingdata.exact_dedup_clusters) and
      count survivors per (source, lang) — k1 = source, k2 = lang,
      v1 = n_survivors.
    """
    from ..trainingdata import exact_dedup_clusters

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    fp = F.md5(
        F.concat_ws(" ", F.slice(F.split(F.lower(F.trim(F.col("text"))), " +"), 1, 5))
    )
    clusters = (
        docs.withColumn("fp", fp)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            F.lit("cluster").alias("metric"),
            F.col("fp").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("keep_doc_id").cast("long").alias("v1"),
            F.col("cluster_size").cast("long").alias("v2"),
        )
    )
    survivors = (
        docs.join(
            exact_dedup_clusters(docs).select(F.col("keep_id").alias("doc_id")),
            "doc_id",
            "inner",
        )
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_survivors"))
        .select(
            F.lit("survivors").alias("metric"),
            F.col("source").alias("k1"),
            F.col("lang").alias("k2"),
            F.col("n_survivors").cast("long").alias("v1"),
            F.lit(None).cast("long").alias("v2"),
        )
    )
    return clusters.unionByName(survivors)


def _oracle_dedup_exact() -> str:
    return """
SELECT 'cluster' AS metric,
       md5(array_to_string(list_slice(string_split_regex(lower(trim(text)), ' +'), 1, 5), ' ')) AS k1,
       CAST(NULL AS VARCHAR) AS k2,
       CAST(min(doc_id) AS BIGINT) AS v1,
       CAST(count(*) AS BIGINT) AS v2
FROM documents
GROUP BY 2
UNION ALL
SELECT 'survivors' AS metric, source AS k1, lang AS k2,
       CAST(count(*) AS BIGINT) AS v1, CAST(NULL AS BIGINT) AS v2
FROM documents JOIN (
  SELECT min(doc_id) AS keep_id
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
) c ON doc_id = keep_id
GROUP BY 2, 3
"""


def q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation analytics matrix — two formerly separate rows
    consolidated under the 50-row driver budget, both semantics kept
    value-exact:

    * ``turn_gaps``: per-role count/sum/max of inter-turn gaps
      (ts − lag(ts) within conv_id ordered by turn_idx) — the
      stable-turn-ordering invariant as an analytic query; integer
      sums keep both engines exact;
    * ``topk``: top-20 hottest conversations by turn count
      (deterministic tie-break by conv_id) — TakeOrderedAndProject
      inside the union branch, no full sort."""
    t = _derive_transcripts(spark, sf_dir)
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gap = _epoch_s(F.col("ts")) - _epoch_s(F.lag("ts").over(w))
    gaps = (
        t.withColumn("gap_s", gap)
        .filter(F.col("gap_s").isNotNull())
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_s").alias("v1"),
            F.max("gap_s").alias("v2"),
        )
        .select(
            F.lit("turn_gaps").alias("metric"),
            F.col("role").alias("key"),
            "n", "v1", "v2",
        )
    )
    topk = (
        t.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("conv_id"))
        .limit(20)
        .select(
            F.lit("topk").alias("metric"),
            F.col("conv_id").alias("key"),
            "n",
            F.lit(0).cast("long").alias("v1"),
            F.lit(0).cast("long").alias("v2"),
        )
    )
    return gaps.union(topk)


def _oracle_conversation_stats() -> str:
    epoch = _DUCK_EPOCH.format(col="ts")
    epoch_lag = _DUCK_EPOCH.format(col="lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)")
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
g AS (SELECT role, {epoch} - {epoch_lag} AS gap_s FROM t)
SELECT 'turn_gaps' AS metric, role AS key,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(gap_s) AS BIGINT) AS v1,
       CAST(max(gap_s) AS BIGINT) AS v2
FROM g WHERE gap_s IS NOT NULL
GROUP BY 2
UNION ALL
SELECT 'topk', key, n, 0, 0 FROM (
  SELECT conv_id AS key, CAST(count(*) AS BIGINT) AS n
  FROM t GROUP BY 1
  ORDER BY n DESC, key
  LIMIT 20
)
"""


def q_obsreport_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """obsreport per-stage dispositions (obsreport_receiver.go:30-51,
    obsreport_processor.go:29-38, obsreport_exporter.go:29-44) for the
    flagship pipeline: receiver accepted, parse-stage parsed/unparsed
    (the EXTRACT no-op path), severity enrich, and per-sink sent —
    one (stage, name, n) row each, unioned in a single plan."""
    from ..functions.severity import severity_number
    from .pipeline import PipelineConfig, parse_stage, route_stage

    t = _derive_transcripts(spark, sf_dir)
    parsed = parse_stage(t, engine="jvm")

    def one(stage: str, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).alias("n"),
        )

    parts = [
        one("receiver", "accepted", t),
        one("processor", "parsed", parsed.filter(F.col("parsed"))),
        one("processor", "unparsed", parsed.filter(~F.col("parsed"))),
        one(
            "processor",
            "error_severity",
            parsed.filter(severity_number(F.col("level")) >= 17),
        ),
    ]
    for sink, df in route_stage(parsed, PipelineConfig().routes).items():
        parts.append(one("exporter", f"sent_{sink}", df))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _oracle_obsreport_counts() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
p AS (
  SELECT *, regexp_matches(text, '\\[(\\w+)\\] (\\w+): (.*?) duration=(\\d+)ms') AS parsed,
         regexp_extract(text, '\\[(\\w+)\\]', 1) AS level
  FROM t
)
SELECT 'receiver' AS stage, 'accepted' AS name, CAST(count(*) AS BIGINT) AS n FROM t
UNION ALL
SELECT 'processor', 'parsed', CAST(count(*) AS BIGINT) FROM p WHERE parsed
UNION ALL
SELECT 'processor', 'unparsed', CAST(count(*) AS BIGINT) FROM p WHERE NOT parsed
UNION ALL
SELECT 'processor', 'error_severity', CAST(count(*) AS BIGINT) FROM p
WHERE parsed AND upper(level) IN ('ERROR', 'ERROR2', 'ERROR3', 'ERROR4', 'FATAL', 'FATAL2', 'FATAL3', 'FATAL4')
UNION ALL
SELECT 'exporter', 'sent_errors', CAST(count(*) AS BIGINT) FROM p
WHERE parsed AND level IN ('warn', 'error')
UNION ALL
SELECT 'exporter', 'sent_tool_calls', CAST(count(*) AS BIGINT) FROM p WHERE role = 'tool'
UNION ALL
SELECT 'exporter', 'sent_archive', CAST(count(*) AS BIGINT) FROM p
"""


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 10 minutes) per conversation via Spark's
    built-in session_window — the event-time sessionization the batch
    processor's timeout trigger approximates, exact in the batch
    world. Emits one row per (conv, session): start epoch + turn count."""
    t = _derive_transcripts(spark, sf_dir)
    return (
        t.groupBy(F.session_window("ts", "10 minutes"), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").cast("timestamp").cast("long").alias(
                "session_start"
            ),
            "n_turns",
        )
    )


def _oracle_session_windows() -> str:
    epoch = _DUCK_EPOCH.format(col="ts")
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
g AS (
  -- gap comparison at MICROsecond precision (Spark sessionizes on the
  -- full timestamp; only the emitted session_start truncates to
  -- seconds)
  SELECT conv_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 600000000 OR
                   lag(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM t
  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
), s AS (
  SELECT conv_id, us,
         sum(new_session) OVER (PARTITION BY conv_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT conv_id, CAST(min(us) // 1000000 AS BIGINT) AS session_start,
       CAST(count(*) AS BIGINT) AS n_turns
FROM s
GROUP BY conv_id, session_id
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation: quality-filter → exact dedup →
    per-language survivor stats (docs, total tokens under BOTH
    tokenizers: whitespace and the BPE-ish pre-split) — the canonical
    pretraining-corpus cleanup expressed as one plan. Carries the
    driver-verified row for the token-count primitives (the standalone
    token_count_by_lang query was consolidated here — same grouping,
    same whitespace tokenizer — to hold the 50-row budget)."""
    from ..trainingdata import (
        bpe_ish_token_count,
        exact_dedup_clusters,
        quality_score,
        token_count,
    )

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    good = docs.filter(quality_score(F.col("text")) >= 0.5)
    survivors = good.join(
        exact_dedup_clusters(good).select(F.col("keep_id").alias("doc_id")),
        "doc_id",
        "inner",
    )
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.sum(bpe_ish_token_count(F.col("text"))).alias("total_bpe_tokens"),
    )


def _oracle_curation_pipeline() -> str:
    # quality_score inlined (same formula as td_lang_quality's oracle)
    toks = "string_split_regex(lower(trim(text)), ' +')"
    en_stop = "[" + ", ".join(
        f"'{w}'"
        for w in [
            "the", "a", "an", "and", "or", "is", "are", "was", "of", "to",
            "in", "on", "for", "with", "it", "this", "that", "as",
        ]
    ) + "]"
    n_toks = f"CAST(len({toks}) AS DOUBLE)"
    stop_ratio = f"CAST(len(list_filter({toks}, t -> list_contains({en_stop}, t))) AS DOUBLE) / {n_toks}"
    punct_ratio = (
        "CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)"
        " / CAST(length(text) AS DOUBLE)"
    )
    score = (
        f"round(0.4 * least({n_toks} / 64.0, 1.0)"
        f" + 0.4 * least(({stop_ratio}) * 4.0, 1.0)"
        f" + 0.2 * (1.0 - least(({punct_ratio}) * 10.0, 1.0)), 6)"
    )
    return f"""
WITH good AS (
  SELECT * FROM documents WHERE {score} >= 0.5
), c AS (
  SELECT min(doc_id) AS keep_id
  FROM good
  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split_regex(lower(trim(text)), ' +'))) AS BIGINT) AS total_tokens,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens
FROM good JOIN c ON doc_id = keep_id
GROUP BY 1
"""


def q_trace_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace signal: conversation=trace, turn=span (deterministic md5
    span ids, lag-linked parents); per-trace span/root/error counts
    and wall duration — the tail-sampling decision view."""
    from ..operators.traces import trace_summaries, transcripts_to_spans
    from .pipeline import parse_stage

    t = _derive_transcripts(spark, sf_dir)
    spans = transcripts_to_spans(parse_stage(t, engine="jvm"))
    return trace_summaries(spans)


def _oracle_trace_summaries() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS}),
p AS (
  SELECT conv_id AS trace_id, turn_idx, ts,
    regexp_extract(text, '\\[(\\w+)\\]', 1) AS level,
    CASE WHEN regexp_matches(text, '\\[(\\w+)\\] (\\w+): (.*?) duration=(\\d+)ms')
         THEN CAST(regexp_extract(text, 'duration=(\\d+)ms', 1) AS BIGINT)
         ELSE 0 END AS duration_ms,
    lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_turn
  FROM t
)
SELECT trace_id, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN prev_turn IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_roots,
       CAST(sum(CASE WHEN level = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       -- microsecond-exact, matching the unix_micros span path
       CAST((max(epoch_us(ts) + duration_ms * 1000)
             - min(epoch_us(ts))) // 1000 AS BIGINT) AS duration_ms
FROM p
GROUP BY 1
"""


_METRICS_FROM_EVENTS = """
SELECT
  'events.' || event_type                            AS name,
  CASE WHEN event_type IN ('click', 'view') THEN 'IntSum' ELSE 'DoubleSum' END
                                                     AS data_type,
  CASE WHEN event_type IN ('click', 'view') THEN 'DELTA' ELSE 'CUMULATIVE' END
                                                     AS temporality,
  ts,
  CASE WHEN event_type IN ('click', 'view')
       THEN CAST(CAST(floor(value) AS BIGINT) AS BIGINT) END        AS int_value,
  CASE WHEN NOT event_type IN ('click', 'view')
       THEN CAST(round(value, 6) AS DOUBLE) END                     AS double_value
FROM events
"""


def q_metrics_temporality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics signal: derive a datapoint table from events (IntSum
    DELTA for click/view, DoubleSum CUMULATIVE for the rest) and run
    the temporality roll-up — DELTA sums increments, CUMULATIVE takes
    the latest value by event time (metric.go:22-28 semantics) — plus
    the prometheus-receiver start-time/reset adjustment
    (metrics_adjuster.go:188-316) over every CUMULATIVE series:
    ``adj_points`` = points emitted after initial/reset removal,
    ``adj_total`` = sum of baseline-subtracted values. The derived
    series values are non-monotonic, so resets fire constantly —
    every branch of the adjuster is exercised and the oracle
    recomputes the identical segmentation with SQL windows."""
    from ..operators.metrics import adjust_cumulative, temporality_totals

    _register(spark, sf_dir, "events")
    dps = spark.sql(_METRICS_FROM_EVENTS).withColumn(
        "labels",
        F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>")),
    )
    totals = temporality_totals(dps)
    adj = (
        adjust_cumulative(dps.filter(F.col("temporality") == "CUMULATIVE"))
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).alias("adj_points"),
            F.round(F.sum("adjusted_value"), 6).alias("adj_total"),
        )
    )
    # CUMULATIVE latest-by-ts needs a deterministic tie-break: restrict
    # the emitted latest_value to DELTA=NULL side and make it exact by
    # rounding at derivation (already 6dp).
    return totals.join(adj, "name", "left").select(
        "name", "temporality", "n_points", "delta_total",
        F.when(F.col("temporality") == "CUMULATIVE", F.col("latest_value")).alias(
            "latest_value"
        ),
        F.when(F.col("temporality") == "CUMULATIVE", F.col("adj_points")).alias(
            "adj_points"
        ),
        F.when(F.col("temporality") == "CUMULATIVE", F.col("adj_total")).alias(
            "adj_total"
        ),
    )


def _oracle_metrics_temporality() -> str:
    # DuckDB: arg_max implements max_by; ties on ts broken identically
    # because within a name the max-ts row is unique in this data --
    # verified by the row-count gate if that ever changes.
    duck_metrics = _METRICS_FROM_EVENTS.replace("AS STRING", "AS VARCHAR")
    return f"""
WITH dp AS ({duck_metrics}),
totals AS (
  SELECT name, temporality, CAST(count(*) AS BIGINT) AS n_points,
         round(sum(CASE WHEN temporality = 'DELTA'
                        THEN coalesce(double_value, CAST(int_value AS DOUBLE)) END), 6)
           AS delta_total,
         CASE WHEN temporality = 'CUMULATIVE'
              THEN round(arg_max(coalesce(double_value, CAST(int_value AS DOUBLE)), ts), 6)
         END AS latest_value
  FROM dp
  GROUP BY 1, 2
),
cum AS (
  SELECT name, ts, coalesce(double_value, CAST(int_value AS DOUBLE)) AS raw
  FROM dp WHERE temporality = 'CUMULATIVE'
),
mark AS (
  SELECT name, ts, raw,
         CASE WHEN lag(raw) OVER w IS NULL OR raw < lag(raw) OVER w
              THEN 1 ELSE 0 END AS st
  FROM cum WINDOW w AS (PARTITION BY name ORDER BY ts, raw)
),
seg AS (
  SELECT name, ts, raw, st,
         sum(st) OVER (PARTITION BY name ORDER BY ts, raw) AS sg
  FROM mark
),
adj AS (
  SELECT name, st, raw - first_value(raw) OVER ws AS av
  FROM seg WINDOW ws AS (PARTITION BY name, sg ORDER BY ts, raw)
),
adjsum AS (
  SELECT name, CAST(count(*) AS BIGINT) AS adj_points,
         round(sum(av), 6) AS adj_total
  FROM adj WHERE st = 0 GROUP BY name
)
SELECT t.name, t.temporality, t.n_points, t.delta_total, t.latest_value,
       CASE WHEN t.temporality = 'CUMULATIVE' THEN a.adj_points END AS adj_points,
       CASE WHEN t.temporality = 'CUMULATIVE' THEN a.adj_total END AS adj_total
FROM totals t LEFT JOIN adjsum a ON t.name = a.name
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (the classic agg benchmark),
    decimal-exact."""
    _register(spark, sf_dir, "lineitem")
    li = spark.table("lineitem")
    disc = F.col("l_extendedprice").cast("decimal(20,4)") * (
        F.lit(1).cast("decimal(20,4)") - F.col("l_discount").cast("decimal(20,4)")
    )
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(20,4)")).cast("double"), 6
            ).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(20,4)")).cast("double"), 6
            ).alias("sum_base_price"),
            F.round(F.sum(disc).cast("double"), 6).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _oracle_tpch_q1() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE), 6) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE), 6) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4)) * (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))) AS DOUBLE), 6) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream == batch: the sf transcripts replayed as a file-source
    STREAM (availableNow) through the watermarked 5-minute window
    aggregation, landed in a memory sink in complete mode — the final
    table must equal the batch aggregation exactly, which is why the
    batch SQL is a valid oracle (the invariant the reference's
    receiver→batch-processor path guarantees regardless of arrival
    batching, batch_processor.go:115-171)."""
    import hashlib
    import shutil
    import tempfile
    import os

    from ..streaming.pipeline import stream_transcripts, streaming_windowed_counts

    t = _derive_transcripts(spark, sf_dir)
    # deterministic per-sf scratch dirs, wiped on entry: repeated
    # correctness passes REUSE the same paths instead of leaking one
    # parquet copy of the transcripts + one checkpoint per invocation
    # into the temp dir (a multi-pass campaign would fill the disk)
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"otelcol_stream_parity_{key}")
    src_dir = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(src_dir, exist_ok=True)
    t.select("conv_id", "turn_idx", "role", "text", "tool", "ts").write.mode(
        "overwrite"
    ).parquet(src_dir)
    src = stream_transcripts(spark, src_dir, max_files_per_trigger=8)
    q = (
        streaming_windowed_counts(src)
        .writeStream.format("memory")
        .queryName("streaming_parity_sink")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table("streaming_parity_sink")


def _oracle_streaming_parity() -> str:
    return f"""
WITH t AS ({_TRANSCRIPTS_FROM_EVENTS})
SELECT CAST((epoch_us(ts) // 300000000) * 300 AS BIGINT) AS window_start,
       role, CAST(count(*) AS BIGINT) AS n_turns
FROM t
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

from .operator_queries import OP_ORACLES, OP_QUERIES  # noqa: E402
from .trainingdata_queries import TD_ORACLES, TD_QUERIES  # noqa: E402

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pipeline_errors_agg": q_pipeline_errors_agg,
    "pipeline_routed_rows": q_pipeline_routed_rows,
    "route_fanout_counts": q_route_fanout_counts,
    "parse_extract_props": q_parse_extract_props,
    "span_rename": q_span_rename,
    "enrich_broadcast_region": q_enrich_broadcast_region,
    "filterset_matrix": q_filterset_matrix,
    "rollup_multires": q_rollup_multires,
    "batch_trigger_counts": q_batch_trigger_counts,
    "hash_redact": q_hash_redact,
    "sampler_matrix": q_sampler_matrix,
    "dedup_exact": q_dedup_exact,
    "curation_pipeline": q_curation_pipeline,
    "conversation_stats": q_conversation_stats,
    "session_windows": q_session_windows,
    "obsreport_counts": q_obsreport_counts,
    "metrics_temporality": q_metrics_temporality,
    "trace_summaries": q_trace_summaries,
    "tpch_q1": q_tpch_q1,
    "streaming_parity": q_streaming_parity,
    **OP_QUERIES,
    **TD_QUERIES,
}

ORACLES: dict[str, str] = {
    "pipeline_errors_agg": _oracle_pipeline_errors_agg(),
    "pipeline_routed_rows": _oracle_pipeline_routed_rows(),
    "route_fanout_counts": _oracle_route_fanout_counts(),
    "parse_extract_props": _oracle_parse_extract_props(),
    "span_rename": _oracle_span_rename(),
    "enrich_broadcast_region": _oracle_enrich_broadcast_region(),
    "filterset_matrix": _oracle_filterset_matrix(),
    "rollup_multires": _oracle_rollup_multires(),
    "batch_trigger_counts": _oracle_batch_trigger_counts(),
    "hash_redact": _oracle_hash_redact(),
    # sampler_matrix: oracle injected in __spark_entry__ (the murmur3
    # keep-set half is a literal IN-list, not static SQL — see
    # sampler_matrix_oracle_sql)
    "dedup_exact": _oracle_dedup_exact(),
    "curation_pipeline": _oracle_curation_pipeline(),
    "conversation_stats": _oracle_conversation_stats(),
    "session_windows": _oracle_session_windows(),
    "obsreport_counts": _oracle_obsreport_counts(),
    "metrics_temporality": _oracle_metrics_temporality(),
    "trace_summaries": _oracle_trace_summaries(),
    "tpch_q1": _oracle_tpch_q1(),
    "streaming_parity": _oracle_streaming_parity(),
    **OP_ORACLES,
    **TD_ORACLES,
}
