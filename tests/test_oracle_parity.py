"""Oracle parity in the fast lane: every ``queries()`` row runs at sf0.001
and is compared with its DuckDB ``oracle_sql()`` the way
``tools/check_oracles.py`` compares the sweep at sf0.01, so a row whose
results drift from its oracle fails tier-1."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ENTRY = _load("spark_entry", os.path.join(REPO, "__spark_entry__.py"))


@pytest.fixture(scope="module")
def oracle():
    check = _load("check_oracles", os.path.join(REPO, "tools", "check_oracles.py"))
    # the sweep's tables at the smallest scale factor, beside its default
    sf_dir = os.path.join(os.path.dirname(check.SF_DIR), "sf0.001")
    # oracles derived from the data (the sampler's literal keep-set)
    # read the scale factor from $SPARK_GRAFT_SF_DIR when they are built
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
        oracles = ENTRY.oracle_sql()
    return check, sf_dir, check.connect(sf_dir), ENTRY.queries(), oracles


@pytest.mark.parametrize("name", sorted(ENTRY.queries()))
def test_query_matches_oracle(spark, oracle, name):
    check, sf_dir, con, queries, oracles = oracle
    got = queries[name](spark, sf_dir).toPandas()
    want = con.execute(oracles[name]).df()
    why = check.mismatch(got, want)
    assert why is None, why


def test_embed_near_dup_oracle_follows_sf_dir(tmp_path, monkeypatch):
    """The near-dup oracle sizes its signature when ``oracle_sql()`` is
    called, from the embeddings of $SPARK_GRAFT_SF_DIR at that time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.plans.trainingdata_queries import (
        _sql_hyperplane_bucket,
    )
    from opentelemetry_collector_spark.trainingdata.dedup import (
        hyperplane_bits_for,
        make_hyperplanes,
    )

    for n, bits in ((500, 1), (2_001, 2)):
        assert hyperplane_bits_for(n) == bits
        sf_dir = tmp_path / str(n)
        sf_dir.mkdir()
        pq.write_table(pa.table({"vec_id": range(n)}), str(sf_dir / "embeddings.parquet"))
        # the sampler's oracle reads the same dir
        pq.write_table(pa.table({"event_id": [1, 2]}), str(sf_dir / "events.parquet"))
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(sf_dir))
        sql = ENTRY.oracle_sql()["td_embed_near_dup"]
        assert _sql_hyperplane_bucket("embedding", make_hyperplanes(bits)) in sql, n
