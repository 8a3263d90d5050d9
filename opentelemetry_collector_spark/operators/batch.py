"""Batch-processor count semantics, deterministically re-expressed.

The reference's batch processor accumulates items and emits when
``itemCount >= send_batch_size`` or on timeout
(processor/batchprocessor/batch_processor.go:38-40,115-171), recording
``batch_size_trigger_send`` / ``timeout_trigger_send`` /
``batch_send_size`` metrics (metrics.go:27-30); ``send_batch_max_size``
splits oversized batches (splittraces.go:22-65).

Batch mode has no timers, so the deterministic derivation is (SURVEY §4):
    size_triggers    = floor(n / send_batch_size)   per key
    timeout_triggers = 1 if n % send_batch_size else 0   (final partial)
    num_batches      = size_triggers + timeout_triggers

``split_batches`` reproduces the splitter: a stable intra-key order
(the pdata slice order = turn_idx) chunked into batches of exactly
``max_size``, remainder last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def batch_trigger_metrics(
    df: DataFrame, keys: list[str], send_batch_size: int
) -> DataFrame:
    n = F.count(F.lit(1))
    size_triggers = F.floor(n / send_batch_size).cast("long")
    timeout_triggers = F.when(n % send_batch_size > 0, F.lit(1)).otherwise(0).cast("long")
    return df.groupBy(*keys).agg(
        n.alias("record_count"),
        size_triggers.alias("batch_size_trigger_send"),
        timeout_triggers.alias("timeout_trigger_send"),
        (size_triggers + timeout_triggers).alias("num_batches"),
    )


def split_batches(
    df: DataFrame, keys: list[str], order_cols: list[str], max_size: int
) -> DataFrame:
    """Assign a 0-based ``batch_id`` of ≤max_size rows per key, in the
    stable (order_cols) order — the splitTraces analog. At scale this is
    one shuffle on the keys (the same shuffle the downstream per-batch
    aggregation needs, so it's reused)."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    rn = F.row_number().over(w) - 1
    return df.withColumn("batch_id", F.floor(rn / max_size).cast("long"))
