"""No hidden persisted-frame caches in the operator packages: a call of
``.persist(...)`` or ``.cache(...)`` anywhere under ``trainingdata/``
or ``functions/`` fails here. An operator returns a lazy frame, so it
cannot unpersist for its caller, and every such call leaks a cached
copy per invocation in a long-lived session. A frame that several
branches of one plan read shares an exchange instead (see
``trainingdata.dedup._cap_hot_buckets``). ``localCheckpoint`` is not
matched: ``trainingdata.components`` uses it to cut the lineage of an
iterative self-join, not to cache. Read from the source alone, without
Spark."""

import ast
import glob
import os

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "opentelemetry_collector_spark",
)
GUARDED = ("trainingdata", "functions")
FORBIDDEN = {"persist", "cache"}


def _persist_calls() -> list[str]:
    found = []
    for sub in GUARDED:
        for path in sorted(glob.glob(os.path.join(PACKAGE, sub, "**", "*.py"), recursive=True)):
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            found += [
                f"{os.path.relpath(path, PACKAGE)}:{node.lineno} .{node.func.attr}("
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in FORBIDDEN
            ]
    return found


def test_guard_sees_the_packages():
    for sub in GUARDED:
        assert glob.glob(os.path.join(PACKAGE, sub, "*.py")), sub


def test_no_persist_or_cache_calls():
    found = _persist_calls()
    assert not found, f"persisted-frame caches in operator code: {found}"
