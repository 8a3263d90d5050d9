import os
import re
import sys
from collections import Counter
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import reference  # noqa: E402


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    work = tmp_path_factory.mktemp("ref")
    path = reference.ensure_input(str(work / "inputs"), n_convs=40, seed=3, turns=600, files=3)
    return path, reference.compute(path, str(work))


def _sink_results(counts: dict) -> dict:
    return {s: SimpleNamespace(rows=n, skipped=False) for s, n in counts.items()}


def test_reference_matches_a_python_restatement(tiny):
    import pandas as pd

    path, ref = tiny
    df = pd.read_parquet(path)
    assert len(os.listdir(path)) == 3
    pat = re.compile(reference.PATTERN)
    matches = [pat.search(t) for t in df["text"]]
    level = [m.group(1) if m else None for m in matches]
    errors = [lv in ("warn", "error") for lv in level]
    assert ref["turns"] == len(df)
    assert ref["sinks"] == {
        "archive": len(df),
        "errors": sum(errors),
        "tool_calls": int((df["role"] == "tool").sum()),
    }
    epoch = df["ts"].astype("int64") // 10**6  # microseconds -> seconds
    keys = Counter(
        (reference.ROLE_CLASS[r], lv, int(s) // 300 * 300)
        for r, lv, s, e in zip(df["role"], level, epoch, errors)
        if e
    )
    assert sorted((k, n) for *k, n, _dur in ref["errors_agg"]) == sorted(
        ([*k], n) for k, n in keys.items()
    )


def test_commit_check_accepts_the_reference_and_rejects_a_perturbed_count(tiny):
    _path, ref = tiny
    good = {**ref["sinks"], **ref["aggs"]}
    assert reference.check_commit(_sink_results(good), ref) == []
    bad = dict(good, errors=good["errors"] - 1)
    assert reference.check_commit(_sink_results(bad), ref) == [
        f"errors: {good['errors'] - 1} rows committed, reference has {good['errors']}"
    ]
    assert reference.check_commit(_sink_results(dict(good, tool_calls_agg=0)), ref)


def test_commit_check_rejects_missing_and_resumed_sinks(tiny):
    _path, ref = tiny
    results = _sink_results({**ref["sinks"], **ref["aggs"]})
    del results["archive_agg"]
    results["errors"].skipped = True
    assert reference.check_commit(results, ref) == [
        "missing sink archive_agg",
        "errors: resumed instead of written",
    ]


def test_errors_rollup_check_rejects_a_perturbed_row(tiny):
    _path, ref = tiny
    rows = [tuple(r) for r in ref["errors_agg"]]
    assert reference.check_errors_agg(list(reversed(rows)), ref) == []
    perturbed = [rows[0][:3] + (rows[0][3] + 1, rows[0][4])] + rows[1:]
    assert reference.check_errors_agg(perturbed, ref)
    assert reference.check_errors_agg(rows[1:], ref)
