"""The plan dump's id normaliser — no SparkSession needed."""

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "explain_plans",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "explain_plans.py",
    ),
)
explain_plans = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(explain_plans)
normalize_ids = explain_plans.normalize_ids

PLAN = """(1) Scan parquet
Output [2]: [event_id#1200L, ts#1201]
(2) Exchange
Arguments: hashpartitioning(event_id#1200L, 8), ENSURE_REQUIREMENTS, [plan_id=517]
(3) Project
Output [2]: [concat(conv_id#1207, #, cast(turn_idx#1203 as string)) AS k#1299, ts#1201]
(4) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=533]
(5) Scan ExistingRDD
Arguments: [role#24], MapPartitionsRDD[61] at applySchemaToPythonRDD, ExistingRDD
"""


def test_renumbers_by_first_appearance():
    assert normalize_ids(PLAN) == """(1) Scan parquet
Output [2]: [event_id#1L, ts#2]
(2) Exchange
Arguments: hashpartitioning(event_id#1L, 8), ENSURE_REQUIREMENTS, [plan_id=1]
(3) Project
Output [2]: [concat(conv_id#3, #, cast(turn_idx#4 as string)) AS k#5, ts#2]
(4) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=2]
(5) Scan ExistingRDD
Arguments: [role#6], MapPartitionsRDD[1] at applySchemaToPythonRDD, ExistingRDD
"""


def test_same_plan_from_another_session_prints_the_same():
    shifted = PLAN
    for old, new in [("517", "90"), ("533", "91"), ("#12", "#34"), ("#24", "#7"), ("[61]", "[6]")]:
        shifted = shifted.replace(old, new)
    assert shifted != PLAN
    assert normalize_ids(shifted) == normalize_ids(PLAN)


def test_operator_numbers_and_literals_are_kept():
    text = "AdaptiveSparkPlan (15)\n(14) HashAggregate\nCondition : (level#3 = #)"
    assert normalize_ids(text) == "AdaptiveSparkPlan (15)\n(14) HashAggregate\nCondition : (level#1 = #)"
