import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import report  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _op(wall, counts=(5, 6, 12), errors=()):
    return {
        "n": 1, "wall_s": wall, "steal_frac": 0.0, "job_counts": list(counts), "errors": list(errors),
        "cpu_s": {"driver_py": 0.2, "jvm": 3.0, "jit": 0.7, "pyworker": 1.0},
        "out_bytes": 5000, "out_rows": 250, "routed_rows": 1500, "groups_out": 80, "files_written": 6,
        "engine": {
            "jobs": 5, "stages": 5, "tasks": 12, "task_cpu_s": 3.0, "task_run_s": 4.0,
            "gc_s": 0.1, "spill_mb": 0.0, "shuffle_write_mb": 1.5,
            "udf_nodes": 2, "py_rows": 1480, "py_bytes_sent": 90000,
        },
    }


def _run(walls):
    return {
        "session_start_s": 6.0,
        "warmup": [_op(9.0), _op(3.0)],
        "timed": [_op(w) for w in walls],
        "peak_rss_bytes": 2_500_000_000,
        "host": {"steal_frac": 0.0, "ext_frac": 0.01, "cores": 4},
        "prefix_s": {"scan": [0.2, 0.3], "parse": [1.0, 1.2], "enrich": [1.5, 1.5],
                     "route": [1.7, 1.9], "aggregate": [2.4, 2.4]},
        "sinks": [{"write_s": 5.0, "run_and_write_self_s": 0.5}],
    }


def _declared(section):
    return {m["name"]: m["unit"] for m in SPEC[section]}


def test_declared_metrics_are_the_reported_ones():
    assert _declared("end_to_end") == report.END_TO_END
    assert _declared("per_layer") == report.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == ["pipeline_commit", "errors_agg"]


@pytest.mark.parametrize("trace", [0, 1])
def test_every_declared_metric_is_printed_with_its_unit(trace):
    run = _run([2.0, 2.2, 2.1])
    if trace:
        values, units, section = report.per_layer(run, run, 1000), report.PER_LAYER, "per_layer"
    else:
        values, units, section = report.end_to_end(run, 9.0, 1000), report.END_TO_END, "end_to_end"
    line = json.loads(json.dumps(report.result_line(True, 5, 0, values, units)))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == _declared(section)
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())


def test_end_to_end_values_are_medians_of_the_timed_ops():
    m = report.end_to_end(_run([2.0, 4.0, 2.5]), 9.0, 1000)
    assert m["turns_per_s"] == pytest.approx(400.0)
    assert m["cpu_s_per_mturn"] == pytest.approx(4.2 / 1000 * 1e6)
    assert m["setup_s"] == 9.0
    assert m["ok_frac"] == 1.0
    assert m["out_bytes_per_row"] == 20.0


def test_turns_per_s_leaves_out_stolen_time():
    run = _run([2.0, 2.0, 2.0])
    for op in run["timed"]:
        op["steal_frac"] = 0.2
    assert report.end_to_end(run, 9.0, 1000)["turns_per_s"] == pytest.approx(1000 / 1.6)
    diag = report.diagnostics({"measure": run}, turns=1000)
    assert diag["measure"]["wall_turns_per_s"] == pytest.approx(500.0)


def test_a_wrong_op_counts_as_failed():
    run = _run([2.0, 2.0])
    run["timed"][1]["errors"] = ["errors: 1 rows committed, reference has 2"]
    assert report.tally([run]) == (4, 1)
    assert report.end_to_end(run, 8.0, 1000)["ok_frac"] == 0.75


def test_per_layer_self_times_are_prefix_differences():
    m = report.per_layer(_run([2.0]), _run([2.2]), 1000)
    assert m["parse.self_s"] == pytest.approx(1.1 - 0.25)
    assert m["aggregate.self_s"] == pytest.approx(2.4 - 1.8)
    assert m["parse.py_rows_per_turn"] == pytest.approx(1.48)
    assert m["spark.util"] == pytest.approx(4.0 / (2.2 * 4))
    assert m["trace.overhead_frac"] == pytest.approx(0.1)
    assert m["sinks.self_s"] == 0.0  # no commit layer in the run


def test_sinks_self_time_is_the_commit_prefix_over_the_aggregate_one():
    run = _run([2.0])
    run["prefix_s"]["commit"] = [3.9, 4.1]
    assert report.per_layer(run, run, 1000)["sinks.self_s"] == pytest.approx(4.0 - 2.4)


def test_fresh_work_guard_flags_skipped_work():
    run = _run([2.0, 2.0])
    assert report.fresh_work_problem(run) is None
    run["timed"][1]["job_counts"] = [5, 6, 8]
    assert "differ" in report.fresh_work_problem(run)
