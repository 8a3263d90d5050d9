"""Every query function is reachable: each top-level ``q_*`` in
``plans/*_queries.py`` is either registered as a query row (a value of
a ``*QUERIES`` dict, which ``entry_queries.QUERIES`` merges) or called
by another ``q_*``, as the matrix rows call their sub-queries (e.g.
``q_resource_processor``, ``q_td_token_budget``). Read from the source
alone, without Spark, so a query left behind when a row is
consolidated fails here rather than lingering."""

import ast
import glob
import os

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "opentelemetry_collector_spark",
    "plans",
)


def _scan():
    """(every top-level q_* name, registered names, names called from
    inside a q_* body) over the query modules."""
    defined, registered, called = set(), set(), set()
    for path in sorted(glob.glob(os.path.join(PLANS, "*_queries.py"))):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
                defined.add(node.name)
                called |= {
                    n.func.id
                    for n in ast.walk(node)
                    if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                }
            targets = (
                [node.target] if isinstance(node, ast.AnnAssign)
                else node.targets if isinstance(node, ast.Assign)
                else []
            )
            if (
                any(isinstance(t, ast.Name) and t.id.endswith("QUERIES") for t in targets)
                and isinstance(node.value, ast.Dict)
            ):
                registered |= {
                    v.id
                    for v in node.value.values
                    if isinstance(v, ast.Name) and v.id.startswith("q_")
                }
    return defined, registered, called


def test_every_query_is_registered_or_called():
    defined, registered, called = _scan()
    unreached = defined - registered - called
    assert not unreached, f"q_* functions no query row reaches: {sorted(unreached)}"

