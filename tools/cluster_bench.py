"""Two-cluster-size scaling evidence on a REAL multi-executor Spark
standalone cluster (north rule): the identical flagship pipeline job on
the same input, on a cluster of 1 worker vs a cluster of 4 workers —
every worker an identical executor spec (6 cores, own JVM + heap,
taskset-pinned to its own disjoint core set, own tmpfs shuffle dirs),
driver + master pinned to the spare cores like a separate driver node.

A single-JVM local[N]-vs-local[4N] harness cannot give the headline
number: a 24-thread single JVM time-shares one scheduler, one heap and
one Python-worker pool across all cores, which produced 26s..187s pass
swings with ZERO external CPU on the pinned cores — an artifact no
multi-executor cluster has, because each executor owns its heap and
workers. Here the low leg IS literally one of the high leg's
executors, so per-executor effects cancel in the ratio and what remains
is genuine scale cost: inter-executor shuffle + one driver coordinating
4x the tasks.

Usage: python tools/cluster_bench.py [n_convs] [n_runs]
Writes per-run JSON lines to stdout (assemble with
tools/assemble_cluster_campaign.py) and BENCH/cluster_campaign.json
when n_runs > 1.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")
MASTER_HOST, MASTER_PORT, MASTER_UI = "127.0.0.1", 7077, 8090
# Worker geometry. 4-core workers (4v16) are the default: the high leg
# then occupies 16 of 32 cores, which models a real multi-node cluster
# more faithfully than 6v24 on this single box — each REAL node brings
# its own DRAM bus, while here all executors share one, and measured
# per-row CPU inflates 10-25% at 24 active cores from memory-bus
# contention alone. 2 GB heap per core, worker budget one GB above.
CORES_PER_WORKER = int(os.environ.get("SPARK_GRAFT_WORKER_CORES", "4"))
EXECUTOR_MEM_GB = 2 * CORES_PER_WORKER
DRIVER_CORES = f"{4 * CORES_PER_WORKER}-31"  # master+driver+OS headroom

# The measuring driver. Runs pinned to DRIVER_CORES; all executor work
# happens in the worker-owned JVMs on their pinned cores. Per-pass
# contention accounting covers the EXECUTOR core range: external CPU =
# busy(executor cores) − CPU consumed by the worker process trees
# (executor JVMs + their Python UDF workers inherit the worker's
# taskset affinity, so their ticks land only on those cores; the
# driver/master are pinned elsewhere and cannot pollute the range).
DRIVER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from opentelemetry_collector_spark.session import get_spark
from opentelemetry_collector_spark.plans import run_pipeline, PipelineConfig
from opentelemetry_collector_spark.hostacct import busy_secs, tree_cpu_secs

n_workers = int(sys.argv[1])
path = sys.argv[2]
worker_pids = [int(p) for p in sys.argv[3].split(",")]
master_pid = int(sys.argv[4])
cores = {cores_per_worker} * n_workers

spark = get_spark(
    app_name=f"cluster_scaling_{{n_workers}}w",
    # 2 tasks per core per shuffle stage (Spark tuning guide's 2-3x):
    # at 1x the last wave's stragglers idle whole cores near stage end
    cpus=cores, shuffle_partitions=cores * 2,
    master="spark://{master_host}:{master_port}",
    extra_conf={{
        "spark.executor.cores": str({cores_per_worker}),
        "spark.executor.memory": "{executor_mem_gb}g",
        "spark.cores.max": str(cores),
        "spark.pyspark.python": sys.executable,
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.python.worker.faulthandler.enabled": "true",
        # the driver is a coordinator here, not an executor
        "spark.driver.memory": "8g",
    }},
)

def workers_cpu():
    return sum(tree_cpu_secs(p) for p in worker_pids)

def our_cpu_all():
    # every process we own on the box: executor trees + this driver's
    # tree (python + JVM gateway) + the master JVM
    return (workers_cpu() + tree_cpu_secs() + tree_cpu_secs(master_pid))

# explicit hash partitioning on the conversation key (north rule); the
# persisted frame distributes across the executors' block managers,
# so passes time pipeline compute, not scan.
# 2 cached partitions per core: balanced without the remote-cache-
# fetch churn finer splits showed (hi-leg experiment, 2026-08-17).
# DISK_ONLY for both long-lived persists: local dirs are tmpfs (RAM
# speed), and keeping the cached blocks OFF the executor heaps is what
# stops the high leg's late-pass GC degradation — with deserialized
# MEMORY_AND_DISK caching, per-pass block churn fragmented the 8g
# heaps and passes 5-8 of a run degraded 42s -> 76s with self_util
# dropping to 0.75 at zero external CPU (run 3, 2026-08-17 22:53)
from pyspark import StorageLevel
transcripts = (spark.read.parquet(path)
               .repartition(cores * 2, "conv_id")
               .persist(StorageLevel.DISK_ONLY))
n = transcripts.count()

def one_pass():
    # SEQUENTIAL job submission, deliberately. Production
    # (run_and_write) submits the 15 independent sink/aggregate jobs
    # concurrently (plans.pipeline.materialize_concurrent), and we
    # measured that variant here too (campaign r3e, 2026-08-18): it
    # lifts the 1-worker leg 14% (122s vs 142s — job-boundary idle
    # filled, util 0.96→0.97) but the 4-worker leg burns ~16% MORE CPU
    # for the same work (42.4s→48.2s median, util 0.87→0.90): 16
    # densely-packed cores saturate this box's single DRAM bus and
    # interleaved jobs thrash each other's working sets. On a real
    # 4-node cluster every node brings its own memory bus, so that
    # penalty is a one-box artifact; sequential submission compares
    # the two cluster sizes at equal bus headroom. Both measurements
    # are reported in BENCH/BASELINE.md.
    res = run_pipeline(spark, transcripts,
                       PipelineConfig(parse_engine="arrow",
                                      storage_level="DISK_ONLY"))
    for sink, df in res["routed"].items():
        df.write.format("noop").mode("overwrite").save()
    for sink, agg_df in res["aggregates_combined"].items():
        agg_df.write.format("noop").mode("overwrite").save()
    res["enriched"].unpersist()

one_pass()  # warmup: executor launch, codegen, Python worker spawn
passes = []
for _ in range(8):
    # driver-side GC kicks the ContextCleaner, which tells executors to
    # drop the previous pass's shuffle files from their tmpfs local
    # dirs — without it the single-worker leg's pass times drift up
    # monotonically as /dev/shm fills (measured 82s -> 100s over 7)
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    busy0, w0 = busy_secs(cores), workers_cpu()
    host0, own0 = busy_secs(None), our_cpu_all()
    t0 = time.time()
    one_pass()
    wall = time.time() - t0
    busy1, w1 = busy_secs(cores), workers_cpu()
    host1, own1 = busy_secs(None), our_cpu_all()
    ext = max(0.0, (busy1 - busy0) - (w1 - w0))
    # host-wide external CPU: co-tenants running on NON-executor cores
    # still contend for the one DRAM bus and inflate executor time
    # 10-30% while executor-core ext_frac stays 0 (run 2, 2026-08-17)
    host_ext = max(0.0, (host1 - host0) - (own1 - own0))
    passes.append({{"sec": wall,
                    "ext_frac": round(ext / (cores * wall), 4),
                    "host_ext_frac": round(host_ext / ((os.cpu_count() or 32) * wall), 4),
                    "self_util": round((w1 - w0) / (cores * wall), 3),
                    # exact worker-tree CPU-seconds: floor-comparison
                    # consumers need this, not a value reconstructed
                    # from the 3-decimal self_util (±13 CPU-s on a
                    # 1000s pass at 24 cores)
                    "self_cpu_secs": round(w1 - w0, 2)}})
# drop 2: run-1 traces (2026-08-17) show the multi-worker leg's JIT +
# page-cache warmup tail extends into the second measured pass (54.4s
# -> settling at ~39s); one warmup + two dropped passes is when both
# legs reach steady state, and the rule is symmetric so it cannot
# favor either leg
steady = passes[2:]
# third mechanical cleanliness rule: the work per pass is CONSTANT
# (same input, same plan), so our own worker-tree CPU-seconds should
# be constant too. A pass that burned >15% more CPU than the leg's
# minimum objectively measured interference (hypervisor-level CPU/DRAM
# sharing is invisible to guest /proc — observed 2026-08-18 02:20: a
# 94s pass, 2.3x the 37s clean passes, with ext_frac = host_ext_frac
# = 0.0), not throughput. Symmetric across legs.
# The CPU floor is taken over externally-clean passes with sane
# accounting only (self_util > 0): a pass where the worker tree DIED
# mid-pass reports NEGATIVE CPU (the dead child's ticks vanish from
# /proc), and a negative floor would mark every healthy pass dirty —
# observed run 2, 2026-08-18 05:20: an 1117s pass with self_util
# -0.044 poisoned cpu_min and forced the fallback although 5 of 6
# remaining passes were pristine.
ext_ok = [p for p in steady
          if p["ext_frac"] <= 0.10 and p["host_ext_frac"] <= 0.12
          and p["self_util"] > 0]
cpu = [p["sec"] * cores * p["self_util"] for p in ext_ok]
cpu_min = min(cpu) if cpu else float("inf")
clean = [p["sec"] for p, c in zip(ext_ok, cpu) if c <= 1.15 * cpu_min]
if len(clean) >= 3:
    rep, estimator = sorted(clean)[len(clean) // 2], "median_clean"
else:
    # too few uninterfered passes for a median: min of steady is the
    # intrinsic-time estimator under one-sided noise (interference
    # only ever slows a pass). main() applies min to BOTH legs of the
    # run in this case so the ratio stays symmetric.
    rep, estimator = min(p["sec"] for p in steady), "min_steady"
print(json.dumps({{"cpus": cores, "workers": n_workers, "rows": n,
                   "sec": rep, "estimator": estimator, "passes": passes,
                   "n_clean": len(clean), "turns_per_sec": n / rep}}))
spark.stop()
"""


def _spawn(cmd: list[str], log: str, env_extra: dict | None = None) -> subprocess.Popen:
    env = dict(os.environ)
    env.setdefault("SPARK_HOME", SPARK_HOME)
    env["SPARK_LOG_DIR"] = "/tmp/cluster_logs"
    if env_extra:
        env.update(env_extra)
    os.makedirs("/tmp/cluster_logs", exist_ok=True)
    out = open(log, "a")
    return subprocess.Popen(
        cmd, stdout=out, stderr=subprocess.STDOUT, env=env, start_new_session=True
    )


def _alive_workers() -> int:
    try:
        with urllib.request.urlopen(
            f"http://{MASTER_HOST}:{MASTER_UI}/json/", timeout=5
        ) as r:
            data = json.load(r)
        return sum(1 for w in data.get("workers", []) if w.get("state") == "ALIVE")
    except Exception:
        return -1


class Cluster:
    """A pinned standalone cluster of ``n_workers`` identical workers."""

    def __init__(self, n_workers: int):
        self.n_workers = n_workers
        self.procs: list[subprocess.Popen] = []
        self.worker_pids: list[int] = []

    def __enter__(self) -> "Cluster":
        master = _spawn(
            ["taskset", "-c", DRIVER_CORES, SPARK_CLASS,
             "org.apache.spark.deploy.master.Master",
             "--host", MASTER_HOST, "--port", str(MASTER_PORT),
             "--webui-port", str(MASTER_UI)],
            "/tmp/cluster_logs/master.log",
        )
        self.procs.append(master)
        deadline = time.time() + 60
        while _alive_workers() < 0:
            if time.time() > deadline:
                raise RuntimeError("master did not come up (see /tmp/cluster_logs)")
            time.sleep(1)
        for i in range(self.n_workers):
            lo, hi = i * CORES_PER_WORKER, (i + 1) * CORES_PER_WORKER - 1
            shm = f"/dev/shm/spark-local-w{i}"
            os.makedirs(shm, exist_ok=True)
            w = _spawn(
                ["taskset", "-c", f"{lo}-{hi}", SPARK_CLASS,
                 "org.apache.spark.deploy.worker.Worker",
                 f"spark://{MASTER_HOST}:{MASTER_PORT}",
                 "--cores", str(CORES_PER_WORKER),
                 "--memory", f"{EXECUTOR_MEM_GB + 1}g",
                 "--port", "0", "--webui-port", str(MASTER_UI + 1 + i),
                 "--work-dir", f"/tmp/cluster_work/w{i}"],
                f"/tmp/cluster_logs/worker{i}.log",
                # shuffle + spill on tmpfs: models executor-local NVMe,
                # identical for both legs so it cancels in the ratio
                {"SPARK_LOCAL_DIRS": shm},
            )
            self.procs.append(w)
            self.worker_pids.append(w.pid)
        deadline = time.time() + 90
        while _alive_workers() < self.n_workers:
            if time.time() > deadline:
                raise RuntimeError(
                    f"only {_alive_workers()}/{self.n_workers} workers registered"
                )
            time.sleep(1)
        return self

    def __exit__(self, *exc) -> None:
        for p in reversed(self.procs):
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        time.sleep(3)
        for p in self.procs:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        for i in range(self.n_workers):
            shutil.rmtree(f"/dev/shm/spark-local-w{i}", ignore_errors=True)
        shutil.rmtree("/tmp/cluster_work", ignore_errors=True)


def run_leg(n_workers: int, path: str) -> dict:
    script = DRIVER.format(
        repo=REPO, cores_per_worker=CORES_PER_WORKER,
        executor_mem_gb=EXECUTOR_MEM_GB,
        master_host=MASTER_HOST, master_port=MASTER_PORT,
    )
    with Cluster(n_workers) as c:
        out = subprocess.run(
            ["taskset", "-c", DRIVER_CORES, sys.executable, "-c", script,
             str(n_workers), path, ",".join(map(str, c.worker_pids)),
             str(c.procs[0].pid)],
            capture_output=True, text=True, timeout=2400,
        )
    if out.returncode != 0:
        os.makedirs(os.path.join(REPO, "BENCH", "logs"), exist_ok=True)
        log = os.path.join(
            REPO, "BENCH", "logs", f"cluster_fail_{n_workers}w_{int(time.time())}.log"
        )
        with open(log, "w") as f:
            f.write(out.stderr)
        print(out.stderr[-3000:], file=sys.stderr)
        raise RuntimeError(f"driver at {n_workers} workers failed (stderr: {log})")
    return json.loads(out.stdout.strip().splitlines()[-1])


def ensure_input(n_convs: int, replicate: int = 16) -> str:
    """Deterministic scaling input: a seeded base table replicated
    ``replicate``× with suffixed conv_ids (distinct conversations,
    identical turn content), written as many parquet files so the scan
    parallelizes like the production input (thousands of files on
    object storage). Sized so the measured section runs tens of
    seconds at N cores — short tasks measure scheduler overhead, not
    scaling."""
    path = f"/tmp/transcripts_scaling_{n_convs}x{replicate}"
    if os.path.exists(path):
        return path
    sys.path.insert(0, REPO)
    from opentelemetry_collector_spark.datagen import make_transcripts_pdf
    from opentelemetry_collector_spark.session import get_spark

    print(f"generating {n_convs} conversations ×{replicate} …", file=sys.stderr)
    pdf = make_transcripts_pdf(n_convs=n_convs, seed=42)
    spark = get_spark(app_name="scaling_datagen", cpus=0)  # local[*]
    base = spark.createDataFrame(pdf)
    from pyspark.sql import functions as F

    replicated = (
        base.crossJoin(
            spark.range(replicate).select(F.col("id").alias("_rep"))
        )
        .withColumn("conv_id", F.concat_ws("#", "conv_id", F.col("_rep").cast("string")))
        .drop("_rep")
    )
    replicated.repartition(128).write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()
    print(f"wrote {n} rows to {path}", file=sys.stderr)
    spark.stop()
    return path


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    path = ensure_input(n_convs)

    def with_retry(n_workers: int) -> dict:
        try:
            return run_leg(n_workers, path)
        except (RuntimeError, subprocess.TimeoutExpired):
            print(f"leg at {n_workers} workers failed once — retrying", file=sys.stderr)
            time.sleep(30)
            return run_leg(n_workers, path)

    runs = []
    for r in range(n_runs):
        lo = with_retry(1)
        time.sleep(15)
        hi = with_retry(4)
        # symmetric fallback: if EITHER leg had too few uninterfered
        # passes for a median, estimate BOTH legs by min-of-steady —
        # a median on one side of the ratio and a min on the other
        # would bias the efficiency.
        if "min_steady" in (lo["estimator"], hi["estimator"]):
            for leg in (lo, hi):
                steady = leg["passes"][2:]
                leg["sec"] = min(p["sec"] for p in steady)
                leg["estimator"] = "min_steady_symmetric"
                leg["turns_per_sec"] = leg["rows"] / leg["sec"]
        eff = hi["turns_per_sec"] / (4 * lo["turns_per_sec"])
        runs.append({"low": lo, "high": hi, "scaling_efficiency": round(eff, 3)})
        print(
            f"run {r + 1}/{n_runs}: eff={eff:.3f} "
            f"(lo {lo['sec']:.1f}s {lo['estimator']}, "
            f"hi {hi['sec']:.1f}s {hi['estimator']})",
            file=sys.stderr,
        )
        print(json.dumps(runs[-1]), flush=True)
        if r + 1 < n_runs:
            time.sleep(15)

    effs = sorted(x["scaling_efficiency"] for x in runs)
    campaign = {
        "method": "standalone cluster, 1 worker vs 4 workers, "
                  f"{CORES_PER_WORKER} cores + {EXECUTOR_MEM_GB}g "
                  "executor each, pinned",
        "input_rows": runs[0]["low"]["rows"],
        "n_runs": n_runs,
        "efficiencies": effs,
        "median_efficiency": round(effs[len(effs) // 2], 3),
        "runs": runs,
    }
    print(json.dumps(campaign, indent=2))
    if n_runs > 1:
        with open(os.path.join(REPO, "BENCH", "cluster_campaign.json"), "w") as f:
            json.dump(campaign, f, indent=1)


if __name__ == "__main__":
    main()
