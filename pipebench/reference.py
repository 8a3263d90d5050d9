"""Benchmark input and the independent reference its outputs must match.

The input is one transcript table from the repo's seeded generator,
written as parquet parts and cached. The reference is
computed with DuckDB straight from that parquet, so it shares no code
with the Spark pipeline: the grok pattern, the route predicates, the
role lookup and the grouping sets are restated here in SQL.
"""

from __future__ import annotations

import os

PATTERN = r"\[(\w+)\] (\w+): (.*?) duration=(\d+)ms"
# role -> role_class of the pipeline's role dimension
ROLE_CLASS = {"user": "human", "assistant": "model", "system": "control", "tool": "machine"}
# sink -> SQL predicate of the default routing table
SINK_WHERE = {
    "archive": "TRUE",
    "errors": "level IN ('warn', 'error')",
    "tool_calls": "role = 'tool'",
}


def ensure_input(cache_dir: str, n_convs: int, seed: int, turns: int, files: int) -> str:
    """Directory of ``files`` parquet parts holding the first ``turns``
    turns of ``n_convs`` generated conversations, cached by those values.
    A fixed turn count gives every seed an input of the same size (whole
    tables vary by a few percent), and several files let the scan run in
    parallel, as it does over a real table."""
    path = os.path.join(cache_dir, f"transcripts_n{n_convs}_t{turns}_f{files}_s{seed}")
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    from opentelemetry_collector_spark.datagen import make_transcripts_pdf

    pdf = make_transcripts_pdf(n_convs, seed)
    if len(pdf) < turns:
        raise ValueError(f"seed {seed}: {n_convs} conversations hold only {len(pdf)} turns")
    table = pa.Table.from_pandas(pdf.iloc[:turns], preserve_index=False)
    tmp = f"{path}.{os.getpid()}.tmp"
    os.makedirs(tmp)
    step = -(-turns // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(tmp, f"part-{i:05d}.parquet"))
    os.replace(tmp, path)
    return path


def _canon(rows) -> list[list]:
    """Rows as sorted lists, NULLs first, so results compare exactly."""
    return sorted(([*r] for r in rows), key=lambda r: [(v is not None, v) for v in r])


def compute(path: str, work_dir: str) -> dict:
    """Turn count, routed rows and aggregate rows per sink, and the full
    errors rollup, for the parquet directory at ``path``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb_tmp')}'")
        roles = ", ".join(f"('{r}', '{c}')" for r, c in ROLE_CLASS.items())
        con.execute(
            f"""
            CREATE VIEW parsed AS
            SELECT t.*,
                   CASE WHEN regexp_matches(text, '{PATTERN}')
                        THEN regexp_extract(text, '{PATTERN}', 1) END AS level,
                   CAST(CASE WHEN regexp_matches(text, '{PATTERN}')
                        THEN regexp_extract(text, '{PATTERN}', 4) END AS BIGINT) AS duration_ms,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 300000000 * 300 AS BIGINT) AS window_start,
                   d.role_class
            FROM read_parquet('{path}/*.parquet') t
            LEFT JOIN (VALUES {roles}) d(role, role_class) USING (role)
            """
        )
        turns = con.execute("SELECT count(*) FROM parsed").fetchone()[0]
        sinks, aggs = {}, {}
        for sink, where in SINK_WHERE.items():
            sinks[sink] = con.execute(f"SELECT count(*) FROM parsed WHERE {where}").fetchone()[0]
            # one row per distinct key in each of the four grouping sets;
            # a NULL key is a group of its own
            aggs[f"{sink}_agg"] = sum(
                con.execute(
                    f"SELECT count(*) FROM (SELECT DISTINCT {key} FROM parsed WHERE {where})"
                ).fetchone()[0]
                for key in ("conv_id", "role", "tool", "window_start")
            )
        rollup = con.execute(
            f"""
            SELECT role_class, level, window_start,
                   count(*) AS n_turns, sum(duration_ms) AS sum_duration_ms
            FROM parsed WHERE {SINK_WHERE['errors']}
            GROUP BY 1, 2, 3
            """
        ).fetchall()
    finally:
        con.close()
    return {"turns": turns, "sinks": sinks, "aggs": aggs, "errors_agg": _canon(rollup)}


def check_commit(results: dict, ref: dict) -> list[str]:
    """Mismatches between ``run_and_write``'s committed sinks and the
    reference; empty when the op is correct."""
    want = {**ref["sinks"], **ref["aggs"]}
    bad = [f"missing sink {s}" for s in sorted(set(want) - set(results))]
    bad += [f"unexpected sink {s}" for s in sorted(set(results) - set(want))]
    for sink in sorted(set(want) & set(results)):
        r = results[sink]
        if r.skipped:
            bad.append(f"{sink}: resumed instead of written")
        if r.rows != want[sink]:
            bad.append(f"{sink}: {r.rows} rows committed, reference has {want[sink]}")
    return bad


def check_errors_agg(rows, ref: dict) -> list[str]:
    got = _canon(rows)
    if got == ref["errors_agg"]:
        return []
    want = ref["errors_agg"]
    diff = sum(1 for a, b in zip(got, want) if a != b) + abs(len(got) - len(want))
    return [f"errors rollup: {len(got)} rows vs reference {len(want)}, {diff} differ"]
