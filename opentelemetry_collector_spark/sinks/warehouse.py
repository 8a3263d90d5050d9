"""Snapshot-versioned sink warehouse: the exporter layer of the
pipeline (exporter/otlpexporter, exporter/fileexporter in the
reference) re-expressed as table appends with the durability the
reference lacks — its in-memory queued_retry loses in-flight data on
restart (exporter/exporterhelper/queued_retry.go), while every write
here is an atomic snapshot commit that a restarted job detects and
skips.

Design (Iceberg-shaped, parquet-backed):
  * a pipeline run (``run_and_write``) writes every routed sink in ONE
    write partitioned by sink, ``<root>/routed/snap=<snapshot_id>/
    sink=<s>/``, and every per-sink aggregate in one more,
    ``<root>/aggregates/snap=<snapshot_id>/sink=<s>_agg/`` —
    snapshot_id is a deterministic fingerprint of the run_id, so a
    re-run of the same run_id OVERWRITES its own snapshot rather than
    duplicating rows. A stream micro-batch commits the same way, as
    the run ``<stream_id>-epoch-<N>``. The run is the only snapshot
    kind: every commit is a whole run;
  * ONE commit manifest per run (JSON, written atomically via rename
    AFTER the data lands) with one entry per sink — path, row count,
    observed sent count, schema, per-file lineage — and the receiver
    counters. Readers only see committed snapshots; a crash before the
    rename leaves orphan directories that the next attempt of the same
    run_id overwrites — never double-counted data;
  * obsreport-style sent-counters are captured from ``df.observe``
    during the SAME action as the write: a routed sink's on the input
    rows before the fan-out (``compile_routed``), an aggregate sink's
    on the aggregate frame. Per-file lineage (file → row count, bytes,
    conv_id and ts ranges) is harvested from the written parquet
    FOOTERS — metadata-only, no second data scan (the manifest-file role
    Iceberg's own manifests play). A commit requires each sink's footer
    row total to equal its observed sent count, and each routed sink's
    by-conversation aggregate to count every turn sent to it — a lost
    or truncated file fails the commit instead of under-counting
    silently;
  * the committed format is decided once, as Iceberg's defaults do:
    zstd parquet, ``ts`` as INT64 ``TIMESTAMP(MICROS)`` (whose footers
    carry the min/max that INT96 lacks; ``session.get_spark`` sets it,
    since Spark takes the timestamp type from the session conf only),
    and each sink entry records the schema its files were written with,
    so a read needs no footer-inference job;
  * on a real cluster the identical interface binds to Iceberg
    (``writeTo(...).append()`` within its snapshot/commit machinery,
    on a table PARTITIONED BY sink); ``sources.tables.iceberg_available``
    gates that path.

At 100 TB the commit manifest stays tiny (per-file rows, not per-row).
Resume is all-or-nothing per snapshot: a committed run is returned
whole and skipped, an uncommitted one is rewritten whole.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _fingerprint(run_id: str) -> str:
    return hashlib.sha1(run_id.encode()).hexdigest()[:16]


def _json_safe(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable: the schema a
    parquet read returns, whatever the nullability it was written with."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _footer_lineage(path: str, lineage_keys: tuple[str, ...]) -> list[dict]:
    """Per-file lineage from parquet footer metadata: row count, bytes
    and min/max of each lineage key, read without touching data pages
    (``run_and_write`` records the conv_id and ts ranges). ``ts`` has
    min/max because it is written as INT64 ``TIMESTAMP(MICROS)``; a key
    without footer statistics (an INT96 timestamp, written by a session
    not built by ``get_spark``) is left out. String min/max may be
    writer-truncated bounds (parquet permits truncated statistics) —
    still valid conservative key ranges.
    O(#files) driver-side metadata reads, exactly the cost profile of
    an Iceberg manifest scan."""
    import pyarrow.parquet as pq

    entries = []
    for dirpath, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, fn)
            md = pq.ParquetFile(full).metadata
            ent: dict = {
                "file": os.path.relpath(full, path),
                "rows": md.num_rows,
                "bytes": os.path.getsize(full),
            }
            # leaf-column dotted paths (robust to map/struct columns)
            col_idx = {
                md.schema.column(i).path: i for i in range(md.num_columns)
            }
            for k in lineage_keys:
                i = col_idx.get(k)
                if i is None:
                    continue
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        mins = []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    ent[f"min_{k}"] = _json_safe(min(mins))
                    ent[f"max_{k}"] = _json_safe(max(maxs))
            entries.append(ent)
    return entries


@dataclass
class SinkResult:
    sink: str
    path: str
    snapshot_id: str
    rows: int
    skipped: bool = False  # True when resume found a committed snapshot
    lineage: list[dict] = field(default_factory=list)


def _results(snapshot_id: str, entries: dict[str, dict], skipped: bool = False):
    return {
        sink: SinkResult(sink, e["path"], snapshot_id, e["rows"], skipped, e["lineage"])
        for sink, e in entries.items()
    }


def _load_manifest(path: str) -> dict:
    """The one manifest reader: a JSON object with a ``sinks`` object.
    A manifest that is not valid JSON (e.g. truncated) is refused by
    name, failing every read of the warehouse closed."""
    with open(path) as f:
        try:
            m = json.load(f)
        except json.JSONDecodeError as e:
            raise ValueError(f"manifest {path} is not valid JSON") from e
    if not isinstance(m, dict):
        raise ValueError(f"manifest {path} is not a JSON object")
    if not isinstance(m.get("sinks"), dict):
        raise ValueError(f"manifest {path} has no sinks object")
    return m


class Warehouse:
    """Filesystem warehouse with atomic JSON commit manifests."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_commits"), exist_ok=True)

    # -- commit log ---------------------------------------------------------

    def _commit_path(self, snapshot_id: str) -> str:
        return os.path.join(self.root, "_commits", f"{snapshot_id}.json")

    def committed(self, snapshot_id: str) -> dict | None:
        p = self._commit_path(snapshot_id)
        if os.path.exists(p):
            return _load_manifest(p)
        return None

    def _manifests(self):
        """Every committed manifest, in file-name order."""
        commits_dir = os.path.join(self.root, "_commits")
        for fn in sorted(os.listdir(commits_dir)):
            if fn.endswith(".json"):  # a *.json.tmp is uncommitted
                yield _load_manifest(os.path.join(commits_dir, fn))

    def _resume(
        self, snapshot_id: str, run_id: str, input_fingerprint: str
    ) -> dict[str, SinkResult] | None:
        """The committed snapshot's sinks, marked skipped, or None when
        the snapshot is uncommitted. The same run_id over a different
        input is a misuse, not a resume, and raises."""
        prior = self.committed(snapshot_id)
        if prior is None:
            return None
        if input_fingerprint and prior.get("input_fingerprint") not in ("", input_fingerprint):
            raise ValueError(
                f"run {run_id!r} already committed with a different input "
                f"fingerprint — refusing to resume"
            )
        return _results(snapshot_id, prior["sinks"], skipped=True)

    def _commit(self, manifest: dict) -> None:
        """Write-then-rename so a manifest is either absent or complete
        (the snapshot-commit atomicity Iceberg gives natively)."""
        p = self._commit_path(manifest["snapshot_id"])
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)

    def _commit_sinks(
        self,
        snapshot_id: str,
        run_id: str,
        entries: dict[str, dict],
        input_fingerprint: str,
        counters: dict,
    ) -> dict[str, SinkResult]:
        """Commit one run's sink entries and counters in one manifest."""
        self._commit({
            "snapshot_id": snapshot_id,
            "run_id": run_id,
            "input_fingerprint": input_fingerprint,
            "committed_at": time.time(),
            "sinks": entries,
            "counters": counters,
        })
        return _results(snapshot_id, entries)

    # -- writes -------------------------------------------------------------

    def write_partitioned(
        self,
        table: str,
        df: DataFrame,
        run_id: str,
        sinks: list[str],
        sent: Observation,
        lineage_keys: tuple[str, ...] = (),
    ) -> dict[str, dict]:
        """Overwrite the run's one snapshot directory of ``table`` with
        ``df`` partitioned by its ``sink`` column, in one action, and
        return one uncommitted manifest entry per sink, each with its own
        ``sink=<s>`` directory; ``run_and_write`` commits them in the
        run's manifest.

        The obsreport "sent" counters (obsreport_exporter.go:29-44) come
        from the caller: ``sent`` is an Observation in ``df``'s plan that
        counts each sink's rows under the sink's name, so the write's own
        action fills it — never a second scan. ``run_and_write`` counts
        the routed sinks on the input rows, before the fan-out these
        files come from, and the aggregate sinks on the aggregate frame
        itself. Lineage (per file: rows, bytes and the ``lineage_keys``
        ranges) comes from the parquet footers: metadata-only, no
        re-scan of the data just written (at 100 TB a post-write re-read
        would double the write path's I/O). Every file is zstd parquet;
        each entry records the files' schema, as the read returns it
        (every field nullable), for ``read_sink``. Overwrite mode
        replaces an orphan directory left by a crashed attempt."""
        path = os.path.join(self.root, table, f"snap={_fingerprint(run_id)}")
        df.write.mode("overwrite").option("compression", "zstd").partitionBy("sink").parquet(path)
        files_schema = StructType([f for f in df.schema if f.name != "sink"])
        schema = json.loads(_as_nullable(files_schema).json())
        observed = sent.get
        entries = {}
        for sink in sinks:
            sink_path = os.path.join(path, f"sink={sink}")
            lineage = _footer_lineage(sink_path, lineage_keys)
            rows = sum(r["rows"] for r in lineage)
            if rows != observed[sink]:  # commit-time conservation check
                raise RuntimeError(
                    f"sink {sink!r}: observed {observed[sink]} rows during write "
                    f"but lineage sums to {rows} — refusing to commit"
                )
            entries[sink] = {
                "path": sink_path,
                "rows": rows,
                "observed_sent": int(observed[sink]),
                "schema": schema,
                "lineage": lineage,
            }
        return entries

    def read_sink(self, spark: SparkSession, sink: str) -> DataFrame:
        """Read only committed snapshots of a sink table: exactly the
        files their manifests list, never the directory, so a stray file
        beside them is never read. A committed file that is gone fails
        the read (PATH_NOT_FOUND) and one whose size differs from the
        manifest's is refused by name, rather than under-counting. A sink
        of a partitioned run with no rows lists no files and adds none.

        When every manifest that lists the sink records the same schema,
        the read takes it and launches no job; otherwise (schemas that
        differ, or a manifest older than the field) Spark infers the
        schema from the footers, in a job."""
        files, schemas = [], []
        for m in self._manifests():
            e = m["sinks"].get(sink)
            if e:
                schemas.append(e.get("schema"))
            for f in e["lineage"] if e else ():
                full = os.path.join(e["path"], f["file"])
                want = f.get("bytes")  # None in manifests older than the field
                if want is not None and os.path.exists(full) and os.path.getsize(full) != want:
                    raise ValueError(
                        f"committed file {full} is {os.path.getsize(full)} bytes, "
                        f"its manifest lists {want}"
                    )
                files.append(full)
        if not files:
            raise FileNotFoundError(f"no committed snapshots for sink {sink!r}")
        if schemas[0] is not None and all(s == schemas[0] for s in schemas):
            return spark.read.schema(StructType.fromJson(schemas[0])).parquet(*files)
        return spark.read.parquet(*files)

    def metrics_table(self, spark: SparkSession) -> DataFrame:
        """obsreport-parity view over the commit log: per-sink sent
        counters (obsreport_exporter.go:29-44) and committed bytes, the
        sum of the sink's file sizes (NULL for a manifest older than the
        per-file ``bytes``)."""
        rows = [
            (
                m["run_id"],
                sink,
                e["rows"],
                len(e["lineage"]),
                None
                if any("bytes" not in f for f in e["lineage"])
                else sum(f["bytes"] for f in e["lineage"]),
            )
            for m in self._manifests()
            for sink, e in m["sinks"].items()
        ]
        return spark.createDataFrame(
            rows, "run_id string, sink string, sent bigint, n_partitions int, bytes bigint"
        )


def run_and_write(
    spark: SparkSession,
    transcripts: DataFrame,
    warehouse: Warehouse,
    run_id: str,
    config=None,
    input_fingerprint: str = "",
) -> dict[str, SinkResult]:
    """Execute the full pipeline and commit every routed sink and its
    per-sink aggregate to the warehouse as ONE snapshot of the run.

    Two actions, no persist: the tagged fan-out (``compile_routed``) is
    written once, partitioned by sink, so each row is parsed and
    enriched once; then one grouping-sets aggregation over the files
    just written (Spark reads back only the 5 columns it needs) is
    written the same way. One manifest, renamed into place after both
    writes, commits all of it with the receiver counters (accepted,
    parse refused) observed on the first write.

    Each write carries one observe. The first counts, before the
    fan-out, the receiver counters and the rows routed to each sink;
    the second counts each aggregate sink's rows and, per routed sink,
    the turns of its ``by_conv`` grouping set. Every turn read back
    falls in exactly one conversation group, so a routed file lost
    between the two writes fails the commit.

    Resume is all-or-nothing per run: a committed run is returned whole
    with every result ``skipped``; a run whose data landed but whose
    manifest did not is rewritten whole."""
    from ..plans.pipeline import PipelineConfig, aggregate_combined, compile_routed

    config = config or PipelineConfig()
    snapshot_id = _fingerprint(run_id)
    prior = warehouse._resume(snapshot_id, run_id, input_fingerprint)
    if prior is not None:
        return prior
    sinks = [r.sink for r in config.routes]

    tagged, received = compile_routed(spark, transcripts, config)
    entries = warehouse.write_partitioned(
        "routed", tagged, run_id, sinks, received, lineage_keys=("conv_id", "ts")
    )
    counters = {k: int(v) for k, v in received.get.items() if k not in sinks}

    # the routed table's own directory: read back by the schema just
    # written (no footer inference; a run that routed no rows reads empty)
    routed_dir = os.path.dirname(entries[sinks[0]]["path"])
    written = spark.read.schema(tagged.schema).parquet(routed_dir)
    aggregated = Observation()
    by_conv = F.col("group_set") == "by_conv"
    aggregates = (
        aggregate_combined(written, config.window, by=("sink",))
        .observe(
            aggregated,
            *[F.count_if(F.col("sink") == s).alias(f"{s}_agg") for s in sinks],
            *[
                F.sum(F.when(by_conv & (F.col("sink") == s), F.col("n_turns")))
                .alias(f"{s}_by_conv")
                for s in sinks
            ],
        )
        .withColumn("sink", F.concat(F.col("sink"), F.lit("_agg")))
    )
    entries.update(
        warehouse.write_partitioned(
            "aggregates", aggregates, run_id, [f"{s}_agg" for s in sinks], aggregated
        )
    )
    for s in sinks:  # conservation: aggregated turns == sent rows
        turns = int(aggregated.get[f"{s}_by_conv"] or 0)
        if turns != entries[s]["observed_sent"]:
            raise RuntimeError(
                f"sink {s!r}: {entries[s]['observed_sent']} rows sent but its "
                f"aggregate counts {turns} turns — refusing to commit"
            )
    return warehouse._commit_sinks(snapshot_id, run_id, entries, input_fingerprint, counters)
