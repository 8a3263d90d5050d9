"""Spark-side process of the benchmark; ``run.py`` starts it.

Modes:
  measure  start a session, register the input, record when ready, then
           warm up and time --ops ops (tracing off)
  trace    measure with Spark's event log on and spans around each layer,
           then time the cumulative noop prefixes of the workload's DAG

The result is one JSON file at --out; stdout and stderr carry only
Spark's own chatter.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from contextlib import nullcontext

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH))

from opentelemetry_collector_spark.session import get_spark  # noqa: E402

import procfs  # noqa: E402
import report  # noqa: E402
from eventlog import EventLog, read_events  # noqa: E402
from reference import check_commit, check_errors_agg  # noqa: E402
from workloads import (  # noqa: E402
    Tracer,
    TracedWarehouse,
    Warehouse,
    committed_bytes,
    errors_agg_op,
    pipeline_commit_op,
    prefixes,
)

# Ops run before timing: the first one in a fresh JVM, then more until
# JIT compilation has fallen to about half an op's CPU-seconds on a
# 4-core host. It keeps falling for dozens of ops, so every run warms up
# by the same count and times the same count: the timed ops then sit at
# the same point of the JIT's history in every run.
WARMUP_OPS = {"pipeline_commit": 3, "errors_agg": 4}
PREFIX_ROUNDS = 2


def start_session(cores: int, event_log: str | None):
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # make the whole heap resident at start (see run.DRIVER_HEAP)
        "spark.driver.extraJavaOptions": (
            f"-Xms{heap} -XX:+AlwaysPreTouch"
            # compiler threads that come and go would take their CPU time
            # out of the per-thread JIT account
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="pipebench", cpus=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


class Runner:
    """Runs one workload's ops and records each op's cost and check."""

    def __init__(self, spark, workload: str, path: str, ref: dict, run_dir: str, tracer=None):
        self.spark, self.workload, self.path, self.ref = spark, workload, path, ref
        self.run_dir, self.tracer = run_dir, tracer
        self.tracker = spark.sparkContext.statusTracker()
        self.n = 0

    def _jobs(self, before: set) -> tuple[list[int], list[int]]:
        """(job, stage and task counts, stage ids) of the jobs run since
        ``before`` was taken."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = set(self.tracker.getJobIdsForGroup()) - before
        stages = [s for j in jobs for s in self.tracker.getJobInfo(j).stageIds]
        infos = [self.tracker.getStageInfo(s) for s in stages]
        return [len(jobs), len(stages), sum(i.numCompletedTasks for i in infos if i)], stages

    def _result_bytes(self, stage_id: int) -> int:
        """Bytes the stage's tasks returned to the driver, from Spark's
        status store. For a collect's result stage this is the collected
        rows in Spark's own encoding."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        return store.lastStageAttempt(stage_id).resultSize()

    def _call(self, wh_root: str, run_id: str):
        tracer = self.tracer
        with tracer.span(f"op:{self.n}") if tracer else nullcontext() as op:
            if self.workload == "errors_agg":
                return errors_agg_op(self.spark, self.path)
            if tracer is None:
                return pipeline_commit_op(self.spark, self.path, Warehouse(wh_root), run_id)
            with tracer.span("run_and_write", op) as rw:
                wh = TracedWarehouse(wh_root, tracer, rw)
                return pipeline_commit_op(self.spark, self.path, wh, run_id)

    def op(self) -> dict:
        self.n += 1
        wh_root = os.path.join(self.run_dir, "wh", str(self.n))
        before = set(self.tracker.getJobIdsForGroup())
        cpu0, host0 = procfs.cpu_split(), procfs.host_ticks()
        t0_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            out, errors = self._call(wh_root, f"op-{self.n}"), []
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            out, errors = None, [f"{type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        t1_ms = time.time() * 1e3
        cpu1, host1 = procfs.cpu_split(), procfs.host_ticks()
        job_counts, stages = self._jobs(before)
        rec = {
            "n": self.n,
            "wall_s": wall,
            "cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "steal_frac": procfs.steal_frac(host0, host1),
            "t0_ms": t0_ms,
            "t1_ms": t1_ms,
            "job_counts": job_counts,
        }
        if out is not None and self.workload == "pipeline_commit":
            errors = check_commit(out, self.ref)
            rec.update(
                out_bytes=committed_bytes(out),
                out_rows=sum(r.rows for r in out.values()),
                routed_rows=sum(r.rows for s, r in out.items() if not s.endswith("_agg")),
                groups_out=sum(r.rows for s, r in out.items() if s.endswith("_agg")),
                files_written=sum(len(r.lineage) for r in out.values()),
            )
        elif out is not None:
            errors = check_errors_agg(out, self.ref)
            # the collect's result stage is the last stage the op created
            rec.update(
                out_bytes=self._result_bytes(max(stages)),
                out_rows=len(out),
                routed_rows=sum(r["n_turns"] for r in out),
                groups_out=len(out),
                files_written=0,
            )
        rec["errors"] = errors
        shutil.rmtree(wh_root, ignore_errors=True)
        return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["measure", "trace"], required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--ref", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out")
    args = ap.parse_args()

    event_log = os.path.join(args.run_dir, "eventlog") if args.mode == "trace" else None
    if event_log:
        os.makedirs(event_log, exist_ok=True)
    t0 = time.perf_counter()
    spark = start_session(args.cores, event_log)
    result = {"session_start_s": time.perf_counter() - t0}
    spark.read.parquet(args.input)
    result["ready_wall"] = time.time()

    with open(args.ref) as f:
        ref = json.load(f)
    tracer = Tracer() if args.mode == "trace" else None
    runner = Runner(spark, args.workload, args.input, ref, args.run_dir, tracer)
    result["warmup"] = [runner.op() for _ in range(WARMUP_OPS[args.workload])]
    with procfs.RssSampler() as rss:
        rss.reset()
        h0 = procfs.host_ticks()
        result["timed"] = [runner.op() for _ in range(args.ops)]
        h1 = procfs.host_ticks()
        result["peak_rss_bytes"] = rss.read()
    own = sum(sum(r["cpu_s"].values()) for r in result["timed"])
    result["host"] = procfs.host_diagnostics(h0, h1, own, args.cores)

    if tracer is not None:
        layers = prefixes(args.workload, os.path.join(args.run_dir, "wh-prefix"))
        result["prefix_s"] = {name: [] for name, _ in layers}
        for _ in range(PREFIX_ROUNDS):
            for name, fn in layers:
                t = time.perf_counter()
                fn(spark, args.input)
                result["prefix_s"][name].append(time.perf_counter() - t)
    app_id = spark.sparkContext.applicationId
    stop_session(spark)

    if tracer is not None:
        log = EventLog(read_events(os.path.join(event_log, app_id)))
        spans = tracer.spans
        for rec in result["timed"]:
            rec["engine"] = log.op_metrics(rec["t0_ms"], rec["t1_ms"])
        timed = {f"op:{r['n']}" for r in result["timed"]}
        ops = {s["id"] for s in spans if s["name"] in timed}
        rw = [s for s in spans if s["name"] == "run_and_write" and s["parent"] in ops]
        result["sinks"] = []
        for s in rw:
            kids = [c for c in spans if c["parent"] == s["id"]]
            result["sinks"].append(
                {
                    "write_s": sum(c["end"] - c["start"] for c in kids),
                    "run_and_write_self_s": report.self_time(s, kids),
                }
            )
        _write(args.spans_out, spans)
    _write(args.out, result)


def _write(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


if __name__ == "__main__":
    main()
