"""The binary wire codecs cross the Python boundary in one place:
``sources/wirebridge.py``. The five binary codec modules hold pure
``bytes ↔ dict`` functions and call neither ``mapInPandas`` nor the
``json`` module, so the text format of the hop can change in the
bridge alone. Read from the source alone, without Spark."""

import ast
import os

import pytest

SOURCES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "opentelemetry_collector_spark",
    "sources",
)
BINARY_CODECS = [
    "otlp_proto", "jaeger_proto", "jaeger_thrift", "zipkin_proto", "zipkin_thrift",
]


def _hop_calls(path: str) -> list[str]:
    """``mapInPandas`` calls, ``json.dumps``/``json.loads`` calls and
    ``json`` imports in one module, as ``line: text``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr, owner = node.func.attr, node.func.value
            if attr == "mapInPandas" or (
                attr in ("dumps", "loads")
                and isinstance(owner, ast.Name)
                and owner.id == "json"
            ):
                found.append(f"{node.lineno}: {ast.unparse(node.func)}")
        elif isinstance(node, ast.Import):
            found += [f"{node.lineno}: import {a.name}" for a in node.names if a.name == "json"]
        elif isinstance(node, ast.ImportFrom) and node.module == "json":
            found.append(f"{node.lineno}: from json import ...")
    return found


@pytest.mark.parametrize("module", BINARY_CODECS)
def test_binary_codec_leaves_the_hop_to_the_bridge(module):
    found = _hop_calls(os.path.join(SOURCES, f"{module}.py"))
    assert not found, f"{module} crosses the Python boundary itself: {found}"


def test_the_bridge_is_seen():
    # the scan must see the calls it forbids, or it guards nothing
    found = _hop_calls(os.path.join(SOURCES, "wirebridge.py"))
    assert any("mapInPandas" in f for f in found), found
    assert any("json.dumps" in f for f in found), found
    assert any("json.loads" in f for f in found), found
