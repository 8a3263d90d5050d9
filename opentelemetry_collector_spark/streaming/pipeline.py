"""Structured Streaming pipeline: the reference's actual shape — a
long-running receiver feeding processors and exporters continuously
(docs/design.md:22) — expressed as readStream → (the SAME parse/
enrich/route stages as batch) → watermarked windowed aggregation +
foreachBatch fan-out.

Key correspondences:
  * file-source ``readStream`` = the otlp/fluentforward receiver
    (receiver/otlpreceiver/logs/otlp.go:53-77): new files are the
    arriving batches; ``maxFilesPerTrigger`` is the batch-size knob
    (batch_processor.go:38-40);
  * watermark + window close = the batch processor's timeout trigger
    (batch_processor.go:115-171): a window emits when event time has
    provably moved past it, not on a wall clock;
  * ``foreachBatch`` multi-sink write = the fan-out connector
    (processor/fanoutconnector.go:29-98) — each micro-batch is one
    ``run_and_write`` run, the batch path's one compile and one
    partitioned write with one manifest (epoch id → run_id makes
    micro-batch commits idempotent under retries);
  * ``applyInPandasWithState`` per-conversation batch emitter =
    send_batch_size semantics (batch_processor.go:151-163 +
    splittraces.go:22-65): per-key state accumulates counts and emits
    a batch row each time the threshold is crossed.

The transformation stages and the commit are literally the batch
functions — one logical-plan library serves both engines, which is the
point of the Spark-first design.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source receiver: each parquet file dropped into ``path`` is
    an arriving batch."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def streaming_windowed_counts(
    source: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked event-time window counts by role — the continuous
    form of the batch by-window aggregate; late rows beyond the
    watermark are dropped exactly once rather than re-opening windows."""
    return (
        source.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("window.start").cast("timestamp").cast("long").alias("window_start"),
            "role",
            "n_turns",
        )
    )


def _local_path(checkpoint_dir: str) -> str | None:
    """The local-filesystem path of a checkpoint location, or None if
    it lives on a remote FS (hdfs://, s3a://, ...). Spark accepts both
    plain paths and file: URIs for local checkpoints."""
    from urllib.parse import urlparse

    parsed = urlparse(checkpoint_dir)
    if parsed.scheme in ("", "file"):
        return parsed.path if parsed.scheme == "file" else checkpoint_dir
    return None


def stream_identity(checkpoint_dir: str) -> str:
    """Stable stream namespace from the checkpoint dir: Spark resumes
    epoch numbering from the checkpoint, so (checkpoint, epoch) is
    globally unique while staying stable across failure replays of the
    same epoch. Local paths are normalized (realpath) first — the SAME
    checkpoint reached via a relative vs absolute (or symlinked, or
    ``file:``-URI) spelling must hash to the SAME namespace, or a
    resumed stream would re-commit epochs its previous incarnation
    already wrote. Remote URIs are hashed as spelled (sans trailing
    slash): realpath on 'hdfs://nn/ckpt' would prepend the driver's
    CWD, silently changing the identity across restarts."""
    import hashlib
    import os

    local = _local_path(checkpoint_dir)
    key = (
        os.path.realpath(local) if local is not None
        else checkpoint_dir.rstrip("/")
    )
    return hashlib.sha256(key.encode()).hexdigest()[:12]


def start_routed_stream(
    source: DataFrame,
    warehouse,
    checkpoint_dir: str,
    config=None,
    available_now: bool = True,
):
    """Commit each micro-batch as one ``run_and_write`` run: the batch
    path's compile, one write partitioned by sink, the per-sink
    ``<s>_agg`` tables and one manifest per epoch carrying the receiver
    counters, with ``config`` (redaction included) honoured as in
    batch. Resume is all-or-nothing per epoch. Each epoch runs on its
    micro-batch's own session (``batch_df.sparkSession``).

    The run_id is namespaced by a stable stream identity (sha256 of the
    checkpoint dir) + epoch id, so a retried micro-batch (failure
    replay) resumes the epoch's run — returned whole if it committed,
    rewritten whole if it did not: exactly-once sink delivery on top of
    at-least-once replay — while a SECOND stream, or a restart with a
    fresh checkpoint, gets a different namespace and can never collide
    with (and silently skip against) another stream's epochs."""
    from ..sinks.warehouse import run_and_write

    stream_id = stream_identity(checkpoint_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        run_and_write(
            batch_df.sparkSession, batch_df, warehouse,
            run_id=f"{stream_id}-epoch-{epoch_id}", config=config,
        )

    writer = (
        source.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(
    source: DataFrame,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    watermark: str = "30 minutes",
) -> DataFrame:
    """Exactly-once records over an at-least-once receiver: duplicate
    deliveries of the same (conv_id, turn_idx) within the watermark
    horizon are dropped with bounded state
    (dropDuplicatesWithinWatermark) — the streaming form of the
    pipeline's exact-dedup, and the receiver-side guarantee the
    reference delegates to its transport."""
    return source.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


def streaming_session_counts(
    source: DataFrame,
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time session windows per conversation on the stream —
    the same sessionization as the batch ``session_windows`` query,
    with watermark-bounded state."""
    return (
        source.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").cast("timestamp").cast("long").alias(
                "session_start"
            ),
            "n_turns",
        )
    )


# ---------------------------------------------------------------------------
# stateful batch emitter (send_batch_size semantics)
# ---------------------------------------------------------------------------

BATCH_EMIT_SCHEMA = "conv_id string, batch_seq long, batch_rows long"
_STATE_SCHEMA = "seen long, emitted long"


def _emit_batches(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState, batch_size: int
):
    seen, emitted = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        seen += len(pdf)
    out = []
    # size-trigger: one emitted batch row per send_batch_size crossing
    # (batch_processor.go:151-163); the remainder stays in state until
    # more data (or the stream's end = timeout trigger analog).
    while seen - emitted * batch_size >= batch_size:
        emitted += 1
        out.append((key[0], emitted, batch_size))
    state.update((seen, emitted))
    if out:
        yield pd.DataFrame(out, columns=["conv_id", "batch_seq", "batch_rows"])


def batch_emitter_state(
    source: DataFrame, batch_size: int = 100
) -> DataFrame:
    """Per-conversation batch emission via ``applyInPandasWithState``:
    counts turns per conv_id across micro-batches and emits one row per
    completed batch of ``batch_size`` turns — the batch processor's
    size trigger as keyed streaming state."""

    def fn(key, pdfs, state):
        yield from _emit_batches(key, pdfs, state, batch_size)

    return source.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=BATCH_EMIT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
