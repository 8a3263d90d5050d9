"""Dump the formatted physical plan of every bench headline query to
docs/PLANS.md — the artifact behind the plan-quality claims: scans show
pushed filters + pruned schemas, joins show broadcast sides, the
whole-stage-codegen spans are visible, and a reviewer can diff plans
across rounds without running Spark.

Spark numbers expression ids (``#1234``), exchange ``plan_id``s and RDD
ids across the whole session, so the same plan prints different ids in
every run; ``normalize_ids`` renumbers each plan from 1 before it is
written, and a diff of this file shows only real plan changes.

Usage: python tools/explain_plans.py  (uses $SPARK_GRAFT_SF_DIR,
default /root/testdata/sf0.01, and local[8] — plans don't depend on
parallelism, so the cheap session is fine).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (pattern whose group 1 is a session-wide id, how to print the new id)
_SESSION_IDS = [
    (re.compile(r"#(\d+)"), "#{}"),
    (re.compile(r"\[plan_id=(\d+)\]"), "[plan_id={}]"),
    (re.compile(r"RDD\[(\d+)\]"), "RDD[{}]"),
]


def normalize_ids(plan: str) -> str:
    """Renumber each kind of session-wide id in one plan by order of
    first appearance: equal ids stay equal, distinct ids stay distinct."""
    for pattern, fmt in _SESSION_IDS:
        ids: dict[str, int] = {}
        plan = pattern.sub(
            lambda m: fmt.format(ids.setdefault(m.group(1), len(ids) + 1)), plan
        )
    return plan


def main() -> None:
    from opentelemetry_collector_spark.session import get_spark
    from opentelemetry_collector_spark.plans.entry_queries import QUERIES

    from bench import BENCH_QUERIES

    spark = get_spark(app_name="explain_plans", cpus=8, shuffle_partitions=8)
    out = [
        "# Physical plans — bench headline queries",
        "",
        f"Generated by `python tools/explain_plans.py` at sf dir `{SF_DIR}`.",
        "Formatted output of `df.explain('formatted')`; scan nodes show",
        "`PushedFilters` / `ReadSchema`, joins show the broadcast side,",
        "`WholeStageCodegen` ids delimit the fused JVM spans. Expression",
        "ids (`#n`), `plan_id`s and RDD ids are renumbered per plan.",
        "",
    ]
    for name in BENCH_QUERIES:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [f"## {name}", "", "```", normalize_ids(plan).rstrip(), "```", ""]
    dest = os.path.join(REPO, "docs", "PLANS.md")
    with open(dest, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {dest} ({len(BENCH_QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
