"""Shared Column-expression helpers.

Everything here is a pure function from spec fragments to
``pyspark.sql.Column`` trees — JVM-side, whole-stage-codegen friendly.
All helpers are ANSI-mode safe (F.get / try_* variants) so compiled
plans behave identically whether the hosting session enables ANSI SQL.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# type registry

_TYPE_BY_NAME = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.LongType(),          # Go int ≈ 64-bit
    "double": T.DoubleType(),
    "float": T.DoubleType(),      # Go float64
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
}


def type_by_name(name: str) -> T.DataType:
    try:
        return _TYPE_BY_NAME[name.lower()]
    except KeyError:
        raise ValueError(f"unsupported type name `{name}`") from None


def is_string(dt: T.DataType) -> bool:
    return isinstance(dt, T.StringType)


def is_long(dt: T.DataType) -> bool:
    return isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType))


def is_double(dt: T.DataType) -> bool:
    return isinstance(dt, (T.DoubleType, T.FloatType))


# ---------------------------------------------------------------------------
# regex dialect translation

_NAMED_GROUP_RE = re.compile(r"\(\?P<([A-Za-z_][A-Za-z0-9_]*)>")


def go_regex_groups(pattern: str) -> dict[str, int]:
    """Named-group name -> group index, using Python's parser (a superset
    of Go RE2's `(?P<name>...)` syntax — specs must stay in the common
    subset; see SURVEY.md §2.2)."""
    return dict(re.compile(pattern).groupindex)


def to_java_regex(pattern: str) -> str:
    """Go/Python named groups `(?P<name>...)` -> plain `(...)` groups.

    java.util.regex rejects the `(?P<` flag AND rejects underscores in
    `(?<name>...)` group names (JDK 17 Pattern requires
    [a-zA-Z][a-zA-Z0-9]*, so `%{IPV4:client_ip}`-style fields would
    throw at runtime). Spark's regexp_extract is positional and the
    name->index map is computed Python-side (go_regex_groups), so names
    carry no information in the JVM pattern: strip them. Stripping does
    not renumber groups — named groups count like plain ones in both
    dialects. Everything else in the RE2-safe subset (no backrefs, no
    lookaround) parses identically."""
    return _NAMED_GROUP_RE.sub("(", pattern)


# ---------------------------------------------------------------------------
# literal / escaping helpers

def escaped_split(col: Column, delim: str, limit: int) -> Column:
    """`strings.SplitN` analog: Spark's split() takes a regex, the
    reference's delimiter is a literal — escape it. With limit>0 the last
    element keeps the remainder, matching Go's SplitN."""
    return F.split(col, re.escape(delim), limit)


def json_escape_string(col: Column) -> Column:
    """JSON-encode a string value the way Go's json.Marshal does for the
    characters our fixtures exercise: backslash, quote, and control chars
    newline/tab/CR. (Full RFC8259 escaping of all control bytes is done by
    the pandas path when needed.)"""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    c = F.replace(c, F.lit("\n"), F.lit("\\n"))
    c = F.replace(c, F.lit("\t"), F.lit("\\t"))
    c = F.replace(c, F.lit("\r"), F.lit("\\r"))
    return F.concat(F.lit('"'), c, F.lit('"'))


@dataclass
class CompiledStep:
    """One compiled operator of the parse -> validate -> rewrite chain
    (the reference composes them all through one processor contract,
    task.go:378-392): projections applied in order (a None expression
    drops that column), the schema updates they introduce, and an
    optional ``failed`` predicate that drops the row under ``reason``.
    A step that compiles to a no-op against the schema still carries
    its reason label, so the pipeline's reason list depends on the spec
    alone."""

    columns: list[tuple[str, Column | None]] = field(default_factory=list)
    schema_updates: dict[str, T.DataType] = field(default_factory=dict)
    failed: Column | None = None
    reason: str | None = None


def first_reason(*reasons: Column) -> Column:
    """First failing reason in operator order (the reference's fused
    processor stops at the first error, agent/task/task.go:378-392)."""
    if not reasons:
        return F.lit(None).cast(T.StringType())
    return F.coalesce(*reasons, F.lit(None).cast(T.StringType()))
