"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row counts, column names, and order-insensitive values
(columns sorted by name, rows sorted, NaN-safe)."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(float)
                continue
            except (ValueError, TypeError):
                pass
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        if df[c].dtype == float:
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per source table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Why ``got`` differs from ``want`` (column names, row count, then
    order-insensitive values), or None when they agree."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        pd.testing.assert_frame_equal(
            canonical(got), canonical(want), check_dtype=False, check_exact=False, rtol=1e-6
        )
    except AssertionError as e:
        return f"value mismatch: {str(e)[:300]}"
    return None


def main() -> int:
    import importlib.util as u

    spec = u.spec_from_file_location("entry_mod", os.path.join(REPO, "__spark_entry__.py"))
    mod = u.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from opentelemetry_collector_spark.session import get_spark

    spark = get_spark(app_name="check_oracles", cpus=8, shuffle_partitions=8)

    con = connect(SF_DIR)

    qs = mod.queries()
    oracles = mod.oracle_sql()
    only = sys.argv[1:]
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(got)} (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        why = mismatch(got, want)
        if why is None:
            print(f"ok    {name}: rows={len(got)} [{time.time()-t0:.1f}s]")
        else:
            print(f"FAIL  {name}: {why}")
            failed.append(name)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
