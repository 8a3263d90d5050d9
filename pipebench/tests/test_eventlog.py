import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import EventLog, read_events  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return EventLog(read_events(LOG))


def test_torn_last_line_is_dropped():
    events = read_events(LOG)
    assert events[-1]["Event"] == "SparkListenerStageCompleted"


def test_engine_counters_of_one_op_window(log):
    m = log.op_metrics(1000, 2000)
    assert (m["jobs"], m["stages"], m["tasks"]) == (2, 2, 3)  # stages 1 and 2 never ran
    assert m["task_cpu_s"] == pytest.approx(3.5)
    assert m["task_run_s"] == pytest.approx(2.25)
    assert m["gc_s"] == pytest.approx(0.1)
    assert m["spill_mb"] == pytest.approx(2.0)
    assert m["shuffle_write_mb"] == pytest.approx(4.0)


def test_python_nodes_come_from_the_final_adaptive_plan(log):
    m = log.op_metrics(1000, 2000)
    # nodes 30 and 40 ran; 50 is planned but sent no rows; 10 and 20 were re-planned
    assert m["udf_nodes"] == 2
    assert m["py_rows"] == 1900
    assert m["py_bytes_sent"] == 95000


def test_events_outside_the_window_are_ignored(log):
    m = log.op_metrics(5000, 6000)
    assert (m["jobs"], m["tasks"], m["udf_nodes"], m["py_rows"]) == (1, 1, 1, 7)
    assert log.op_metrics(3000, 4000)["jobs"] == 0
