"""spark-submit entry point for the transcript pipeline.

Cluster usage (the north-rule deployment shape):

    python tools/make_pyfiles.py                      # → dist/otelcol_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/otelcol_spark.zip \
        jobs/run_pipeline.py \
        --input  <table path or iceberg identifier> \
        --warehouse /path/to/warehouse \
        --run-id nightly-2026-08-16 \
        --partitions 4096

Local smoke:

    python jobs/run_pipeline.py --generate-convs 1000 \
        --warehouse /tmp/wh --run-id smoke --master 'local[8]'

The job is idempotent per --run-id: a run commits every sink in one
manifest, so a rerun of a committed run skips the whole run and a rerun
of an uncommitted one rewrites it whole (see sinks.warehouse). Scaling
evidence for the N-vs-4N criterion comes from tools/cluster_bench.py,
which runs this same pipeline on a real standalone cluster at 1 vs 4
workers; tools/submit_cluster_demo.py proves this exact spark-submit
deployment shape at both cluster sizes.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcript table path (parquet dir)")
    ap.add_argument("--generate-convs", type=int, default=0,
                    help="generate a synthetic input of N conversations instead of --input")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--partitions", type=int, default=0,
                    help="explicit conv_id hash partitions (0 = defaultParallelism)")
    ap.add_argument("--window", default="5 minutes")
    ap.add_argument("--master", default="",
                    help="override master for local runs (cluster: set by spark-submit)")
    args = ap.parse_args()

    from opentelemetry_collector_spark.session import get_spark

    # under spark-submit with no --master here, spark-submit's master stands
    spark = get_spark(app_name=f"otelcol_spark:{args.run_id}", master=args.master or None)
    from opentelemetry_collector_spark.sources import read_transcripts
    from opentelemetry_collector_spark.plans.pipeline import (
        PipelineConfig, repartition_for_skew,
    )
    from opentelemetry_collector_spark.sinks import Warehouse, run_and_write

    if args.generate_convs:
        transcripts = read_transcripts(spark, n_convs=args.generate_convs)
        input_fp = f"generated:{args.generate_convs}"
    elif args.input:
        transcripts = spark.read.parquet(args.input)
        input_fp = args.input
    else:
        ap.error("one of --input / --generate-convs is required")

    transcripts = repartition_for_skew(
        transcripts, num_partitions=args.partitions or None
    )

    t0 = time.time()
    results = run_and_write(
        spark,
        transcripts,
        Warehouse(args.warehouse),
        args.run_id,
        config=PipelineConfig(window=args.window),
        input_fingerprint=input_fp,
    )
    wall = time.time() - t0

    total = 0
    for sink, r in sorted(results.items()):
        flag = "resumed" if r.skipped else "written"
        print(f"{sink:>16}: {r.rows:>12,} rows  {flag}  snap={r.snapshot_id}")
        if not sink.endswith("_agg"):
            total += r.rows
    print(f"routed {total:,} rows across sinks in {wall:.1f}s")


if __name__ == "__main__":
    main()
