"""Execute the north-rule deployment shape literally: ``spark-submit
--py-files dist/otelcol_spark.zip jobs/run_pipeline.py`` against a REAL
multi-executor standalone cluster (4 pinned identical workers from
tools/cluster_bench.py), then independently verify the warehouse
output: every sink present, snapshot committed, and the routed-row
total equal to what a local[*] run of the same pipeline produces.

This is the end-to-end proof that the package zip + job entry point
work under cluster deployment (executor-side imports come from the
shipped zip, not the repo checkout). It runs the submit at BOTH
north-rule cluster sizes — N = 1 worker and 4N = 4 workers — so the
deployment shape itself is exercised at two cluster sizes; the
statistically robust scaling-efficiency numbers come from
tools/cluster_bench.py (multi-pass, contention-accounted), not from
these single-shot walls.

Usage: python tools/submit_cluster_demo.py [n_convs]
Prints one JSON line: {"submit_ok": ..., "sizes": {...}, ...}
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
)


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    sys.path.insert(0, os.path.join(REPO, "tools"))
    sys.path.insert(0, REPO)
    from cluster_bench import (
        Cluster, MASTER_HOST, MASTER_PORT, DRIVER_CORES,
        CORES_PER_WORKER, EXECUTOR_MEM_GB,
    )

    # build the --py-files zip exactly as the documented deployment does
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        check=True, cwd=REPO,
    )
    zip_path = os.path.join(REPO, "dist", "otelcol_spark.zip")

    def submit_at(n_workers: int) -> dict:
        warehouse = f"/tmp/submit_demo_wh_{n_workers}w"
        shutil.rmtree(warehouse, ignore_errors=True)
        run_id = f"submit-demo-{n_workers}w-{int(time.time())}"
        with Cluster(n_workers):
            t0 = time.time()
            out = subprocess.run(
                ["taskset", "-c", DRIVER_CORES, SPARK_SUBMIT,
                 "--master", f"spark://{MASTER_HOST}:{MASTER_PORT}",
                 "--py-files", zip_path,
                 # executor spec must match the worker geometry Cluster()
                 # launches (an executor.cores above the worker's core
                 # budget would never be granted an executor at all)
                 "--conf", f"spark.executor.cores={CORES_PER_WORKER}",
                 "--conf", f"spark.executor.memory={EXECUTOR_MEM_GB}g",
                 "--conf", f"spark.cores.max={n_workers * CORES_PER_WORKER}",
                 "--conf", f"spark.pyspark.python={sys.executable}",
                 os.path.join(REPO, "jobs", "run_pipeline.py"),
                 "--generate-convs", str(n_convs),
                 "--warehouse", warehouse,
                 "--run-id", run_id,
                 "--partitions", str(n_workers * CORES_PER_WORKER * 4)],
                capture_output=True, text=True, timeout=900,
                # the job must resolve the package from the shipped zip,
                # so do NOT run from the repo checkout
                cwd="/tmp",
            )
            wall = time.time() - t0
        if out.returncode != 0:
            print(out.stdout[-2000:], file=sys.stderr)
            print(out.stderr[-4000:], file=sys.stderr)
            raise SystemExit(
                f"spark-submit at {n_workers} workers failed rc={out.returncode}"
            )
        return {
            "warehouse": warehouse,
            "wall_sec": round(wall, 1),
            "stdout_tail": out.stdout.strip().splitlines()[-5:],
        }

    # the north-rule deployment shape at both cluster sizes: N and 4N
    sizes = {n: submit_at(n) for n in (1, 4)}

    # independent verification: re-run the same pipeline on local[*]
    # from the repo and compare per-sink routed-row counts at BOTH sizes
    sys.path.insert(0, REPO)
    from opentelemetry_collector_spark.session import get_spark
    from opentelemetry_collector_spark.sources import read_transcripts
    from opentelemetry_collector_spark.plans import run_pipeline
    from opentelemetry_collector_spark.sinks import Warehouse

    spark = get_spark(app_name="submit_demo_verify", cpus=8)
    res = run_pipeline(spark, read_transcripts(spark, n_convs=n_convs))
    expected = {s: df.count() for s, df in res["routed"].items()}

    ok = True
    for n_workers, leg in sizes.items():
        warehouse = Warehouse(leg["warehouse"])
        sinks = {}
        for sink, want in sorted(expected.items()):
            try:
                got = warehouse.read_sink(spark, sink).count()
            except FileNotFoundError:  # the run committed no such sink
                got = -1
            sinks[sink] = {"rows": got, "expected": want}
            ok = ok and got == want
        leg["sinks"] = sinks
    spark.stop()

    print(json.dumps({
        "submit_ok": True,
        "rows_match_at_both_sizes": ok,
        "sizes": {f"{n}_workers": leg for n, leg in sizes.items()},
        "scaling_evidence": "BENCH/cluster_campaign.json (multi-pass)",
    }))
    raise SystemExit(0 if ok else 1)


if __name__ == "__main__":
    main()
