"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship parse→enrich→route→aggregate pipeline on
                sf0.001 (smoke: runs, ≥0 rows, stable schema).
queries()     — one entry per implemented operator from SURVEY.md §2
                (+ training-data ops), each (spark, sf_dir) → DataFrame.
oracle_sql()  — matching DuckDB SQL per query; the murmur3 sampler's
                keep-set (not SQL-expressible) is materialized as a
                literal IN-list from the pure-Python reference hash,
                and the embedding near-dup signature is sized to the
                corpus, both from $SPARK_GRAFT_SF_DIR at call time.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _prepare(spark: SparkSession) -> None:
    """Make the package importable on executor workers and pin UTC so
    window/epoch results are timezone-stable regardless of the
    driver-created session's defaults."""
    from opentelemetry_collector_spark.session import ship_package

    ship_package(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _prepare(spark)
    from opentelemetry_collector_spark.plans.entry_queries import q_pipeline_errors_agg

    return q_pipeline_errors_agg(spark, "/root/testdata/sf0.001")


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prepare(spark)
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from opentelemetry_collector_spark.plans.entry_queries import QUERIES

    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from opentelemetry_collector_spark.plans.entry_queries import (
        ORACLES,
        sampler_matrix_oracle_sql,
    )
    from opentelemetry_collector_spark.plans.trainingdata_queries import (
        td_embed_near_dup_oracle_sql,
    )

    out = dict(ORACLES)
    out["sampler_matrix"] = sampler_matrix_oracle_sql()
    out["td_embed_near_dup"] = td_embed_near_dup_oracle_sql()
    return out
