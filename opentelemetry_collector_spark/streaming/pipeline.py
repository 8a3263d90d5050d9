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
from typing import Any, Callable

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


def _legacy_epoch_mode(
    checkpoint_dir: str, stream_id: str, spark=None, warehouse=None
) -> bool:
    """One-time migration marker: pre-namespacing builds committed sink
    epochs under run_id ``epoch-N``. Only a checkpoint that ALREADY has
    Spark offsets but NO marker can be resuming such a build — it gets
    ``legacy=True`` recorded once. A fresh checkpoint (no offsets)
    records ``legacy=False`` immediately, so a brand-new stream can
    never skip its own commits just because some OTHER pre-namespacing
    stream left an ``epoch-N`` snapshot in the shared warehouse (that
    unscoped skip was silent data loss).

    offsets-without-marker alone cannot distinguish a genuinely
    pre-namespacing checkpoint from one written by a namespaced build
    that predates the MARKER: the warehouse commit log breaks the
    tie. If any committed snapshot already carries this stream's
    namespaced run_id (``<stream_id>-epoch-N``), the previous
    incarnation was namespaced — classifying it legacy would pin the
    silent epoch-skip on it forever whenever any other stream's true
    legacy ``epoch-N`` snapshot shares the warehouse.

    Local checkpoints use plain file I/O; remote checkpoint URIs
    (hdfs://, s3a://, ...) go through Hadoop's FileSystem API via the
    session's JVM — probing a remote URI with os.path would always
    report 'no offsets' and mis-record every resuming legacy stream as
    namespaced (re-introducing the double commit this marker exists to
    prevent)."""
    import json
    import os

    local = _local_path(checkpoint_dir)
    if local is not None:
        marker = os.path.join(local, "_namespace_marker.json")
        try:
            with open(marker, encoding="utf-8") as f:
                return bool(json.load(f).get("legacy", False))
        except FileNotFoundError:
            pass
        # no marker yet: offsets present ⇒ resuming a checkpoint written
        # before the marker existed ⇒ may predate namespacing — unless
        # the commit log shows this stream already committed namespaced,
        # OR the warehouse holds no unscoped ``epoch-N`` snapshot at all
        # (legacy mode only exists to avoid double-committing those; if
        # none exist, a namespaced checkpoint that stopped before its
        # first sink commit must not get legacy=True pinned forever).
        # Residual window, by design: a zero-commit namespaced
        # checkpoint sharing a warehouse where some OTHER stream's true
        # legacy epoch-N snapshots exist is indistinguishable from a
        # genuine legacy resume — it classifies legacy and may skip an
        # epoch whose (sink, epoch-N) pair another stream committed.
        # The marker bounds the exposure to that first resume.
        legacy = os.path.isdir(os.path.join(local, "offsets")) and not (
            warehouse is not None
            and (
                warehouse.has_stream_runs(stream_id)
                or not warehouse.has_legacy_epochs()
            )
        )
        os.makedirs(local, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"stream_id": stream_id, "legacy": legacy}, f)
        os.replace(tmp, marker)
        return legacy

    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"remote checkpoint {checkpoint_dir!r} needs an active "
            "SparkSession to probe the namespace marker"
        )
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(checkpoint_dir)
    fs = root.getFileSystem(conf)
    marker = HPath(root, "_namespace_marker.json")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            chunks = bytearray()
            while True:
                b = stream.read()
                if b < 0:
                    break
                chunks.append(b)
        finally:
            stream.close()
        return bool(json.loads(bytes(chunks)).get("legacy", False))
    # same tie-breaks as the local branch: namespaced commits for this
    # stream, or a warehouse with no unscoped epoch-N snapshot at all,
    # both mean non-legacy
    legacy = fs.isDirectory(HPath(root, "offsets")) and not (
        warehouse is not None
        and (
            warehouse.has_stream_runs(stream_id)
            or not warehouse.has_legacy_epochs()
        )
    )
    tmp = HPath(root, "_namespace_marker.json.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(
            json.dumps({"stream_id": stream_id, "legacy": legacy}).encode()
        )
    finally:
        out.close()
    fs.rename(tmp, marker)
    return legacy


def start_routed_stream(
    spark: SparkSession,
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
    batch. Resume is all-or-nothing per epoch.

    The run_id is namespaced by a stable stream identity (sha256 of the
    checkpoint dir) + epoch id, so a retried micro-batch (failure
    replay) skips the epoch it already committed — exactly-once sink
    delivery on top of at-least-once replay — while a SECOND stream, or
    a restart with a fresh checkpoint, gets a different namespace and
    can never collide with (and silently skip against) another stream's
    epochs.

    Warehouses written before epochs were whole runs may hold per-sink
    ``write_sink`` commits of an epoch: those sinks are dropped from
    the epoch's routes, and the rest commit as the run. Legacy
    un-namespaced ``epoch-N`` commits count ONLY when the checkpoint
    provably predates namespacing (see ``_legacy_epoch_mode``)."""
    from dataclasses import replace

    from ..plans.pipeline import PipelineConfig
    from ..sinks.warehouse import run_and_write

    config = config or PipelineConfig()
    stream_id = stream_identity(checkpoint_dir)
    legacy_mode = _legacy_epoch_mode(
        checkpoint_dir, stream_id, spark=spark, warehouse=warehouse
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        run_id = f"{stream_id}-epoch-{epoch_id}"
        # a committed epoch lists every sink, so a replay of it keeps
        # no route; sinks an older build committed one by one (under
        # "epoch-N" before namespacing) keep their rows
        routes = [
            r for r in config.routes
            if not warehouse.has_run(r.sink, run_id)
            and not (legacy_mode and warehouse.has_run(r.sink, f"epoch-{epoch_id}"))
        ]
        if routes:
            run_and_write(
                batch_df.sparkSession, batch_df, warehouse, run_id,
                config=replace(config, routes=routes),
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
