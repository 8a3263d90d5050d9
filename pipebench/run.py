"""Transcript-pipeline benchmark.

    python3 pipebench/run.py --workload {pipeline_commit,errors_agg} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries ungated host diagnostics.
See README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import procfs
import report
from reference import compute, ensure_input

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

# the input: the first TURNS turns of N_CONVS generated conversations,
# in INPUT_FILES parquet files
N_CONVS = 12_000
TURNS = 180_000
INPUT_FILES = 8
# a run must end within 180 s; leave room to report and clean up
DEADLINE_S = 170
# driver heap, committed and touched at JVM start: the pipeline's default
# (48g) exceeds many hosts, which have no swap, and a heap that grows
# on the collector's schedule makes peak RSS wander between runs
DRIVER_HEAP = "2g"
# an op's wall time after warm-up on a 4-core host; --seconds / this is
# the number of ops timed
NOMINAL_OP_S = {"pipeline_commit": 3.3, "errors_agg": 1.4}
# a traced run starts two Spark processes and times prefixes too; fewer
# ops in each keep it inside the deadline on a slow host
TRACE_OPS = 3


def spark_cores(host_cores: int) -> int:
    """Half the host's cores. Each Spark task thread can keep a Python
    worker busy too, and the JIT compiler and collector threads run
    beside them; at one task thread per core a core that slows down, or
    another busy process, stalls the tasks every stage waits for."""
    return max(1, host_cores // 2)


def worker_env(run_dir: str) -> dict:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_MASTER", None)  # always local mode
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_DRIVER_MEM=DRIVER_HEAP,
        # every JVM, Spark's launcher included, keeps its temp files and
        # perf counters out of the system temp dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
    )
    return env


def _reap_group(pgid: int) -> None:
    """Kill whatever the worker left in its process group and wait for it."""
    deadline = time.time() + 10
    while procfs.group_alive(pgid) and time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)


def spawn(mode: str, args, run_dir: str, env: dict, ref_path: str, input_path: str,
          cores: int, ops: int, name: str, deadline: float) -> tuple[dict, float]:
    """Run one worker; returns (its result, wall time it was started at)."""
    out = os.path.join(run_dir, f"{name}.json")
    cmd = [
        sys.executable, os.path.join(BENCH, "worker.py"),
        "--mode", mode, "--workload", args.workload, "--input", input_path,
        "--ref", ref_path, "--run-dir", run_dir, "--ops", str(ops),
        "--cores", str(cores), "--out", out,
        "--spans-out", os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-spans.json"),
    ]
    started = time.time()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _reap_group(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"{name} worker failed (exit {rc})")
    with open(out) as f:
        return json.load(f), started


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["pipeline_commit", "errors_agg"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    # exit through the finally blocks, which stop the workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "opentelemetry_collector_spark", "session.py")):
        print("pipebench: the pipeline package is not next to the benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in (os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local"),
              os.path.join(WORK, "traces")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        cores = spark_cores(len(os.sched_getaffinity(0)))
        env = worker_env(run_dir)
        input_path = ensure_input(
            os.path.join(WORK, "inputs"), N_CONVS, args.seed, TURNS, INPUT_FILES
        )
        ref = compute(input_path, run_dir)
        ref_path = os.path.join(run_dir, "ref.json")
        with open(ref_path, "w") as f:
            json.dump(ref, f)

        ops = max(3, round(args.seconds / NOMINAL_OP_S[args.workload]))
        if args.trace:
            ops = min(ops, TRACE_OPS)

        def run(mode, name):
            return spawn(mode, args, run_dir, env, ref_path, input_path, cores, ops, name, deadline)

        if args.trace:
            untraced, _ = run("measure", "untraced")
            traced, _ = run("trace", "traced")
            runs = {"untraced": untraced, "traced": traced}
            values = report.per_layer(untraced, traced, ref["turns"])
            units = report.PER_LAYER
        else:
            measured, started = run("measure", "measure")
            runs = {"measure": measured}
            values = report.end_to_end(measured, measured["ready_wall"] - started, ref["turns"])
            units = report.END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = report.tally(list(runs.values()))
    problems = [p for p in map(report.fresh_work_problem, runs.values()) if p]
    diag = report.diagnostics(
        runs, workload=args.workload, seed=args.seed, n_convs=N_CONVS, turns=ref["turns"],
        driver_heap=DRIVER_HEAP, problems=problems,
    )
    print(json.dumps({"diagnostics": diag}))
    line = report.result_line(failed == 0 and not problems, attempted, failed, values, units)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
