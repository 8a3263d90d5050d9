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
    duplicating rows. ``write_sink`` writes one sink's frame to
    ``<root>/<sink>/snap=<snapshot_id>/`` (fingerprint of run_id +
    sink) — the streaming path's per-epoch commits;
  * ONE commit manifest per snapshot (JSON, written atomically via
    rename AFTER the data lands) with one entry per sink: path, row
    count, observed sent count, per-file lineage; a run's manifest
    also carries the receiver counters. Readers only see committed
    snapshots; a crash before the rename leaves orphan directories
    that the next attempt of the same run_id overwrites — never
    double-counted data;
  * obsreport-style sent-counters are captured from ``df.observe``
    during the SAME action as the write; per-file lineage (file →
    row count + key range) is harvested from the written parquet
    FOOTERS — metadata-only, no second data scan (the manifest-file
    role Iceberg's own manifests play). A commit requires each sink's
    footer row total to equal its observed sent count — a lost or
    truncated file fails the commit instead of under-counting silently;
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
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _fingerprint(*parts: str) -> str:
    return hashlib.sha1("\x1f".join(parts).encode()).hexdigest()[:16]


def _json_safe(v):
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _footer_lineage(path: str, lineage_keys: tuple[str, ...]) -> list[dict]:
    """Per-file lineage from parquet footer metadata: row count plus
    min/max of each lineage key, read without touching data pages.
    String min/max may be writer-truncated bounds (parquet permits
    truncated statistics) — still valid conservative key ranges.
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
        sink: SinkResult(sink, e["path"], snapshot_id, e["rows"], skipped, e.get("lineage", []))
        for sink, e in entries.items()
    }


def _load_manifest(path: str) -> dict:
    """The one manifest reader. Manifests from before the per-run
    commit hold a single sink at top level; they read back as the
    one-entry case of the ``sinks`` format."""
    with open(path) as f:
        m = json.load(f)
    if not isinstance(m, dict):
        raise ValueError(f"manifest {path} is not a JSON object")
    if "sinks" not in m and "sink" in m:
        m["sinks"] = {
            m["sink"]: {
                "path": m["path"],
                "rows": m["rows"],
                "lineage": m.get("lineage", []),
            }
        }
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

    def _manifests(self, skip_corrupt: bool = False):
        """Every committed manifest, in file-name order. ``skip_corrupt``
        passes over manifests that do not parse instead of raising."""
        commits_dir = os.path.join(self.root, "_commits")
        for fn in sorted(os.listdir(commits_dir)):
            if not fn.endswith(".json"):  # a *.json.tmp is uncommitted
                continue
            try:
                yield _load_manifest(os.path.join(commits_dir, fn))
            except (OSError, ValueError):  # JSONDecodeError is a ValueError
                if not skip_corrupt:
                    raise

    def has_run(self, sink: str, run_id: str) -> bool:
        """True when (run_id, sink) already has a committed snapshot,
        from ``write_sink`` or from a whole-run commit."""
        for snapshot_id in (_fingerprint(run_id, sink), _fingerprint(run_id)):
            m = self.committed(snapshot_id)
            if m is not None and sink in m["sinks"]:
                return True
        return False

    def has_stream_runs(self, stream_id: str) -> bool:
        """True when any committed snapshot carries this stream's
        namespaced run_id (``<stream_id>-epoch-N``) — the marker-less
        signal that a resuming checkpoint was ALREADY namespaced, so
        the legacy-epoch migration must not claim it. Metadata-only:
        one scan of the KB-scale commit log; a corrupt manifest must
        not abort stream startup, so it is skipped."""
        prefix = f"{stream_id}-epoch-"
        # str(... or "") tolerates run_id: null and non-string run_ids
        return any(
            str(m.get("run_id") or "").startswith(prefix)
            for m in self._manifests(skip_corrupt=True)
        )

    def has_legacy_epochs(self) -> bool:
        """True when any committed snapshot carries an UNSCOPED
        pre-namespacing run_id (exactly ``epoch-N``). Legacy-epoch
        migration is only meaningful when such snapshots exist at all:
        a checkpoint with offsets but no marker and no unscoped
        ``epoch-N`` commits anywhere in the warehouse cannot be
        resuming a pre-namespacing build (there is nothing it could
        double-commit), so it must classify non-legacy. Metadata-only:
        one scan of the KB-scale commit log."""
        pat = re.compile(r"^epoch-\d+$")
        return any(
            pat.match(str(m.get("run_id") or ""))
            for m in self._manifests(skip_corrupt=True)
        )

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
        input_fingerprint: str = "",
        counters: dict | None = None,
    ) -> dict[str, SinkResult]:
        """Commit one snapshot's sink entries in one manifest."""
        manifest = {
            "snapshot_id": snapshot_id,
            "run_id": run_id,
            "input_fingerprint": input_fingerprint,
            "committed_at": time.time(),
            "sinks": entries,
        }
        if counters is not None:
            manifest["counters"] = counters
        self._commit(manifest)
        return _results(snapshot_id, entries)

    # -- writes -------------------------------------------------------------

    def _write_observed(
        self,
        df: DataFrame,
        path: str,
        sinks: dict[str, tuple[str, Column]],
        partition_by: tuple[str, ...] = (),
        lineage_keys: tuple[str, ...] = (),
    ) -> dict[str, dict]:
        """Overwrite ``path`` with ``df`` in one action and return one
        uncommitted manifest entry per sink of ``sinks`` ({sink: (its
        directory, its row count expression)}).

        The obsreport "sent" counters ride the write itself via
        df.observe (obsreport_exporter.go:29-44 — never a second scan).
        Lineage comes from the parquet footers: metadata-only, no
        re-scan of the data just written (at 100 TB a post-write
        re-read would double the write path's I/O). Overwrite mode
        replaces an orphan directory left by a crashed attempt."""
        obs = Observation()
        writer = df.observe(obs, *[c.alias(s) for s, (_, c) in sinks.items()]).write
        writer.mode("overwrite").partitionBy(*partition_by).parquet(path)
        observed = obs.get
        entries = {}
        for sink, (sink_path, _) in sinks.items():
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
                "lineage": lineage,
            }
        return entries

    def write_partitioned(
        self,
        table: str,
        df: DataFrame,
        run_id: str,
        sinks: list[str],
        lineage_keys: tuple[str, ...] = (),
    ) -> dict[str, dict]:
        """Write ``df`` partitioned by its ``sink`` column into the run's
        one snapshot directory of ``table``, in one action, with one
        sent counter per sink on that action. Returns the uncommitted
        per-sink entries, each with its own ``sink=<s>`` directory;
        ``run_and_write`` commits them in the run's manifest."""
        path = os.path.join(self.root, table, f"snap={_fingerprint(run_id)}")
        counted = {
            s: (os.path.join(path, f"sink={s}"), F.count_if(F.col("sink") == s))
            for s in sinks
        }
        return self._write_observed(df, path, counted, ("sink",), lineage_keys)

    def write_sink(
        self,
        sink: str,
        df: DataFrame,
        run_id: str,
        input_fingerprint: str = "",
        lineage_keys: tuple[str, ...] = (),
        partition_layout: bool = False,
    ) -> SinkResult:
        """Write one sink's DataFrame as a committed snapshot: the
        one-entry case of the run manifest.

        Idempotent per (run_id, sink): an existing committed snapshot
        with the same input fingerprint is skipped (resume); a
        mismatched fingerprint (same run_id, different input) raises —
        that is a misuse, not a resume.
        """
        snapshot_id = _fingerprint(run_id, sink)
        prior = self._resume(snapshot_id, run_id, input_fingerprint)
        if prior is not None:
            return prior[sink]

        partition_by: tuple[str, ...] = ()
        if partition_layout:
            # Iceberg-style layout days(ts)/bucket(conv_id): time-range
            # queries prune by day directory, per-conversation lookups
            # prune by bucket — the partition-pruning-friendly layout
            # SURVEY §7 calls out (hive-partitioned parquet here; the
            # identical spec binds to Iceberg partition transforms on a
            # real catalog)
            df = df.withColumn(
                "_day", F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
            ).withColumn(
                "_bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(16)).cast("int")
            )
            partition_by = ("_day", "_bucket")
        path = os.path.join(self.root, sink, f"snap={snapshot_id}")
        entries = self._write_observed(
            df, path, {sink: (path, F.count(F.lit(1)))}, partition_by, lineage_keys
        )
        return self._commit_sinks(snapshot_id, run_id, entries, input_fingerprint)[sink]

    def read_sink(self, spark: SparkSession, sink: str) -> DataFrame:
        """Read only committed snapshots of a sink table. A sink of a
        partitioned run with no rows has no directory and adds none; a
        committed snapshot with rows whose directory is gone still fails
        the read."""
        entries = [m["sinks"][sink] for m in self._manifests() if sink in m["sinks"]]
        paths = [e["path"] for e in entries if e["rows"] > 0 or os.path.isdir(e["path"])]
        if not paths:
            raise FileNotFoundError(f"no committed snapshots for sink {sink!r}")
        # _part_id survives only in pre-footer-lineage snapshots
        return spark.read.parquet(*paths).drop("_part_id", "_day", "_bucket")

    def metrics_table(self, spark: SparkSession) -> DataFrame:
        """obsreport-parity view over the commit log: per-sink sent
        counters (obsreport_exporter.go:29-44)."""
        rows = [
            (m["run_id"], sink, e["rows"], len(e.get("lineage", [])))
            for m in self._manifests()
            for sink, e in m["sinks"].items()
        ]
        return spark.createDataFrame(
            rows, "run_id string, sink string, sent bigint, n_partitions int"
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

    Resume is all-or-nothing per run: a committed run is returned whole
    with every result ``skipped``; a run whose data landed but whose
    manifest did not is rewritten whole. A run_id that already has
    per-sink ``write_sink`` commits raises, since rewriting it would
    count those sinks twice."""
    from ..plans.pipeline import PipelineConfig, aggregate_combined_tagged, compile_routed

    config = config or PipelineConfig()
    snapshot_id = _fingerprint(run_id)
    prior = warehouse._resume(snapshot_id, run_id, input_fingerprint)
    if prior is not None:
        return prior
    sinks = [r.sink for r in config.routes]
    if any(warehouse.has_run(s, run_id) for s in sinks + [f"{s}_agg" for s in sinks]):
        raise ValueError(
            f"run {run_id!r} already has per-sink commits — refusing to rewrite it"
        )

    tagged, received = compile_routed(spark, transcripts, config)
    entries = warehouse.write_partitioned(
        "routed", tagged, run_id, sinks, lineage_keys=("conv_id", "ts")
    )
    counters = {k: int(v) for k, v in received.get.items()}

    # the routed table's own directory: read back by the schema just
    # written (no footer inference; a run that routed no rows reads empty)
    routed_dir = os.path.dirname(entries[sinks[0]]["path"])
    written = spark.read.schema(tagged.schema).parquet(routed_dir)
    aggregates = aggregate_combined_tagged(written, config.window).withColumn(
        "sink", F.concat(F.col("sink"), F.lit("_agg"))
    )
    entries.update(
        warehouse.write_partitioned(
            "aggregates", aggregates, run_id, [f"{s}_agg" for s in sinks]
        )
    )
    return warehouse._commit_sinks(snapshot_id, run_id, entries, input_fingerprint, counters)
