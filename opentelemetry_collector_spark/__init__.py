"""opentelemetry_collector_spark — a PySpark-native telemetry pipeline engine.

A from-scratch reimplementation of the OpenTelemetry Collector's
receiver → processor → exporter dataflow semantics (reference:
/root/reference, Go, v0.17.0-dev) as a batch/streaming table pipeline:

    read (source table) → parse (vectorized grok/EXTRACT)
      → enrich (broadcast-join lookups; attributes/resource processor actions)
      → route (include/exclude matcher predicates → N sinks)
      → aggregate (per-sink counts by keys + event-time windows)

Everything is declarative DataFrame/SQL so Catalyst optimizes it; Arrow
pandas UDFs are used only where exact byte-level parity with the
reference requires it (murmur3 trace-id sampling, typed SHA-1 hashing).
"""

__version__ = "0.1.0"

# Python workers that unpickle a by-reference package UDF import this
# __init__ first; zipcache keeps their per-task import-cache refresh
# from re-reading every zip on sys.path. It imports nothing heavy, and
# nothing else may be imported here for the same reason.
from . import zipcache  # noqa: E402,F401
