"""Metric definitions and their assembly from the worker's op records.

Every timing is the median over the ops timed in one run. The names and
units here are the ones ``BENCHMARK.json`` declares; a self-test keeps
the two in step.
"""

from __future__ import annotations

import statistics

# name -> unit; what each measures is documented in README.md
END_TO_END = {
    "turns_per_s": "1/s",
    "cpu_s_per_mturn": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "ok_frac": "ratio",
    "out_bytes_per_row": "B",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.cold_op_s": "s",
    "sources.scan_s": "s",
    "parse.self_s": "s",
    "parse.udf_nodes": "count",
    "parse.py_rows_per_turn": "ratio",
    "parse.py_bytes_sent": "B",
    "enrich.self_s": "s",
    "route.self_s": "s",
    "route.rows_per_turn": "ratio",
    "aggregate.self_s": "s",
    "aggregate.shuffle_write_mb": "MB",
    "aggregate.groups_out": "count",
    "sinks.self_s": "s",
    "sinks.write_s": "s",
    "sinks.run_and_write_self_s": "s",
    "sinks.files_written": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.util": "ratio",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "cpu.jvm_s": "s",
    "cpu.driver_py_s": "s",
    "cpu.pyworker_s": "s",
    "cpu.jit_s": "s",
    "trace.overhead_frac": "ratio",
}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def all_ops(run: dict) -> list[dict]:
    return run["warmup"] + run["timed"]


def tally(runs: list[dict]) -> tuple[int, int]:
    """(ops attempted, ops that raised or whose output was wrong)."""
    ops = [op for run in runs for op in all_ops(run)]
    return len(ops), sum(1 for op in ops if op["errors"])


def fresh_work_problem(run: dict) -> str | None:
    """Every op after the cold one must run the same number of jobs,
    stages and tasks; fewer means Spark reused earlier work."""
    counts = {tuple(op["job_counts"]) for op in all_ops(run)[1:]}
    if len(counts) > 1:
        return f"job/stage/task counts differ between ops: {sorted(counts)}"
    return None


def _ok(run: dict) -> list[dict]:
    return [op for op in run["timed"] if not op["errors"]]


def work_cpu_s(op: dict) -> float:
    """An op's CPU-seconds without JIT compilation, which is warm-up work
    that keeps decaying long after the first op."""
    return sum(v for role, v in op["cpu_s"].items() if role != "jit")


def run_s(op: dict) -> float:
    """An op's wall time less the time the hypervisor stole from the
    host's CPUs during it, averaged over those CPUs. Steal is another
    guest's work, not this program's."""
    return op["wall_s"] * (1 - op["steal_frac"])


def end_to_end(run: dict, setup_s: float, turns: int) -> dict[str, float]:
    timed = _ok(run)
    attempted, failed = tally([run])
    return {
        "turns_per_s": median(turns / run_s(op) for op in timed),
        "cpu_s_per_mturn": median(work_cpu_s(op) / turns * 1e6 for op in timed),
        "peak_rss_mb": run["peak_rss_bytes"] / 1e6,
        "setup_s": setup_s,
        "ok_frac": (attempted - failed) / attempted,
        "out_bytes_per_row": median(op["out_bytes"] / op["out_rows"] for op in timed),
    }


def per_layer(untraced: dict, traced: dict, turns: int) -> dict[str, float]:
    timed = _ok(traced)
    cores = traced["host"]["cores"]
    prefix = {k: median(v) for k, v in traced["prefix_s"].items()}
    sinks = traced.get("sinks", [])

    def engine(key):
        return median(op["engine"][key] for op in timed)

    def per_op(key):
        return median(op[key] for op in timed)

    return {
        "session.start_s": traced["session_start_s"],
        "session.cold_op_s": traced["warmup"][0]["wall_s"],
        "sources.scan_s": prefix["scan"],
        "parse.self_s": prefix["parse"] - prefix["scan"],
        "parse.udf_nodes": engine("udf_nodes"),
        "parse.py_rows_per_turn": engine("py_rows") / turns,
        "parse.py_bytes_sent": engine("py_bytes_sent"),
        "enrich.self_s": prefix["enrich"] - prefix["parse"],
        "route.self_s": prefix["route"] - prefix["enrich"],
        "route.rows_per_turn": per_op("routed_rows") / turns,
        "aggregate.self_s": prefix["aggregate"] - prefix["route"],
        "aggregate.shuffle_write_mb": engine("shuffle_write_mb"),
        "aggregate.groups_out": per_op("groups_out"),
        # errors_agg has no commit layer
        "sinks.self_s": prefix["commit"] - prefix["aggregate"] if "commit" in prefix else 0.0,
        "sinks.write_s": median(s["write_s"] for s in sinks),
        "sinks.run_and_write_self_s": median(s["run_and_write_self_s"] for s in sinks),
        "sinks.files_written": per_op("files_written"),
        "spark.jobs": engine("jobs"),
        "spark.stages": engine("stages"),
        "spark.tasks": engine("tasks"),
        "spark.task_cpu_s": engine("task_cpu_s"),
        "spark.util": median(op["engine"]["task_run_s"] / (op["wall_s"] * cores) for op in timed),
        "spark.gc_s": engine("gc_s"),
        "spark.spill_mb": engine("spill_mb"),
        "cpu.jvm_s": median(op["cpu_s"]["jvm"] for op in timed),
        "cpu.driver_py_s": median(op["cpu_s"]["driver_py"] for op in timed),
        "cpu.pyworker_s": median(op["cpu_s"]["pyworker"] for op in timed),
        "cpu.jit_s": median(op["cpu_s"]["jit"] for op in timed),
        "trace.overhead_frac": per_op("wall_s") / median(op["wall_s"] for op in _ok(untraced)) - 1,
    }


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover."""
    covered, end = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], end), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            end = hi
    return span["end"] - span["start"] - covered


def diagnostics(runs: dict[str, dict], **extra) -> dict:
    """Ungated context for explaining a slow run."""
    out = dict(extra)
    for name, run in runs.items():
        out[name] = {
            **run["host"],
            "wall_turns_per_s": median(extra["turns"] / op["wall_s"] for op in _ok(run)),
            "warmup_wall_s": [op["wall_s"] for op in run["warmup"]],
            "timed_wall_s": [op["wall_s"] for op in run["timed"]],
            "timed_steal_frac": [op["steal_frac"] for op in run["timed"]],
            "timed_jit_cpu_s": [op["cpu_s"]["jit"] for op in run["timed"]],
            "job_counts": sorted({tuple(op["job_counts"]) for op in all_ops(run)}),
            "errors": [e for op in all_ops(run) for e in op["errors"]][:5],
        }
    return out


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }
