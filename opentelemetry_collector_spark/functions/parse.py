"""Vectorized grok/EXTRACT parse primitives.

Reference semantics: the EXTRACT action runs a regex with *named groups
only* against a string attribute and upserts each named submatch as a
new attribute; no match / non-string source ⇒ no-op
(processor/processorhelper/attraction.go:180-203,263-283). The fluentd
receiver's record-parse stage is the same shape: one raw text field →
structured attributes (receiver/fluentforwardreceiver/conversion.go:84-180).

Two execution paths:
  * JVM path (whole-stage codegen): one ``regexp_extract`` per named
    group. Catalyst folds the pattern; Java regex dialect.
  * Arrow path: Arrow's RE2 ``extract_regex`` kernel in an Arrow UDF
    (``pa.Array -> pa.Array``) returning a struct — one pass per batch,
    no pandas conversion. RE2 is the reference's Go ``regexp`` dialect
    and the DuckDB oracle's; its ``\\w``/``\\d`` are ASCII-only, like
    the JVM path's, so both paths agree on non-ASCII text.
"""

from __future__ import annotations

import re

# at module level: postponed annotations make the Arrow UDF's type hints
# strings, which Spark resolves from this module's globals
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import zipcache

_NAMED_GROUP = re.compile(r"\(\?P?<([A-Za-z][A-Za-z0-9_]*)>")


def named_groups(pattern: str) -> list[str]:
    """Named capture groups in order; validates the reference's EXTRACT
    config rules (≥1 group, all groups named — attraction.go:188-203)."""
    compiled = re.compile(_to_python_dialect(pattern))
    if compiled.groups < 1:
        raise ValueError(f"pattern contains no capture groups: {pattern}")
    index_by_name = compiled.groupindex  # name → 1-based index
    if len(index_by_name) != compiled.groups:
        raise ValueError(f"pattern contains at least one unnamed group: {pattern}")
    ordered = sorted(index_by_name.items(), key=lambda kv: kv[1])
    return [name for name, _ in ordered]


def _to_python_dialect(pattern: str) -> str:
    """Accept Go/RE2 ``(?P<name>…)`` and Java ``(?<name>…)`` spellings."""
    return re.sub(r"\(\?<([A-Za-z])", r"(?P<\1", pattern)


def _to_java_dialect(pattern: str) -> str:
    """Strip group names → positional groups. Java rejects '_' in group
    names, and regexp_extract addresses groups by index anyway."""
    return re.sub(r"\(\?P?<[A-Za-z][A-Za-z0-9_]*>", "(", pattern)


def extract_named_groups(col: Column, pattern: str) -> dict[str, Column]:
    """JVM path: {group_name: regexp_extract column}. Non-matching rows
    yield empty string per Spark's regexp_extract; callers that need the
    reference's no-op-on-no-match use ``when(matched, …)`` with
    ``matched_predicate``."""
    names = named_groups(pattern)
    jpat = _to_java_dialect(pattern)
    return {name: F.regexp_extract(col, jpat, i + 1) for i, name in enumerate(names)}


def matched_predicate(col: Column, pattern: str) -> Column:
    """True iff the unanchored pattern matches (Go MatchString semantics:
    substring search, cf. regexp/regexpfilterset.go:56-76)."""
    return col.rlike(_to_java_dialect(pattern))


def extract_struct(col: Column, pattern: str) -> Column:
    """JVM path packaged as one struct column; fields NULL when the row
    does not match (EXTRACT no-op semantics preserved downstream)."""
    names = named_groups(pattern)
    groups = extract_named_groups(col, pattern)
    matched = matched_predicate(col, pattern)
    return F.struct(
        *[F.when(matched, groups[name]).otherwise(F.lit(None)).alias(name) for name in names]
    )


def extract_arrow_udf(pattern: str):
    """Arrow path: Arrow UDF text → struct<groups…:string>, matched by
    Arrow's RE2 kernel. A non-matching or NULL row yields a struct of
    NULL fields (EXTRACT no-op semantics). Patterns RE2 cannot compile
    (lookaround, backreferences) raise ``ValueError`` here, when the
    plan is built, not inside a task."""
    names = named_groups(pattern)
    ppat = _to_python_dialect(pattern)
    try:
        pc.extract_regex(pa.array([], pa.string()), ppat)
    except pa.ArrowInvalid as e:
        raise ValueError(f"pattern is not valid RE2: {pattern}: {e}") from e
    out_type = T.StructType([T.StructField(n, T.StringType()) for n in names])

    @F.arrow_udf(out_type)
    def extract(s: pa.Array) -> pa.Array:
        # referencing zipcache makes unpickling this UDF import it in
        # the worker, which stops re-reading zip imports every task
        zipcache.install()
        # flatten() pushes the no-match NULL down into each field; the
        # rebuilt struct itself is never NULL
        return pa.StructArray.from_arrays(
            pc.extract_regex(s, ppat).flatten(), names=names
        )

    # The function is deterministic, but the flag stops Catalyst from
    # pushing route filters on the parsed fields (e.g. `level`) below
    # the parse projection, which would evaluate the UDF once over every
    # row and again over the rows that survive.
    return extract.asNondeterministic()
