"""Oracle parity in the fast lane: driver queries run at sf0.001 and
compared with their DuckDB ``oracle_sql()`` the way
``tools/check_oracles.py`` compares the full sweep. The rows here are
the ones whose plans read no persisted frame between calls: the
rollup cascade and the five wire-matrix queries."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    "rollup_multires",
    "span_wire_roundtrips",
    "log_wire_roundtrips",
    "fluentforward_roundtrip",
    "metric_wire_roundtrips",
    "hostmetrics_scrape",
]


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def oracle():
    check = _load("check_oracles", os.path.join(REPO, "tools", "check_oracles.py"))
    entry = _load("spark_entry", os.path.join(REPO, "__spark_entry__.py"))
    # the sweep's tables at the smallest scale factor, beside its default
    sf_dir = os.path.join(os.path.dirname(check.SF_DIR), "sf0.001")
    return check, sf_dir, check.connect(sf_dir), entry.queries(), entry.oracle_sql()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, oracle, name):
    check, sf_dir, con, queries, oracles = oracle
    got = queries[name](spark, sf_dir).toPandas()
    want = con.execute(oracles[name]).df()
    assert check.mismatch(got, want) is None
