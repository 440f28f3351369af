"""Parser compilers — csv / regex / grok / jsonify over the `message`
column.

Reproduces logagent's agent/task/task.go:201-254:

* ``csv``   — ``strings.SplitN(message, delim, len(columns))``: the last
  column keeps remaining delimiters; fewer parts than columns leaves the
  trailing columns absent (NULL). Compiled to a single ``split`` +
  ``F.get`` projections (ANSI-safe, null on short rows).
* ``regex`` — named-group extraction with unanchored search; a matched
  row yields "" for non-participating groups (Go FindStringSubmatch).
  Compiled as a grok dictionary of ONE pattern whose winner is not
  recorded (no ``grok_pattern`` column).
* ``grok``  — an ordered dictionary of named patterns (extension): the
  first matching pattern wins, contributes its groups and lands its name
  in ``grok_pattern``; a group only other patterns define yields nothing
  for that row. ``%{NAME:field}`` references expand first (both modes).
* ``jsonify`` — ``json.Unmarshal`` merged into the row. Schema-first:
  the spec declares columns+types; compiled to one ``from_json`` +
  flatten (the ``jsonify`` kernel, shared with the jsonify rewrite). A
  corrupt document is a parse error => row dropped from all sinks and
  counted (task.go:104-111). Go yields float64 for all JSON numbers —
  declare ``double`` for Go-parity (`number` validators then fail,
  matching validator.go:69-83).

``regex`` and ``grok`` share ONE kernel per engine, picked by
``regex_strategy``:

* ``native`` — Column expressions (JVM, whole-stage codegen): every
  output is a when-chain of ``rlike`` guards in dictionary order, each
  group read by ``regexp_extract`` of the winning pattern;
* ``grok``   — ONE Arrow-batched pandas UDF returning a struct: one
  ``re.search`` per (row, pattern until the first hit), every group read
  off the match object.

Go leaves the row untouched where a parser yields nothing — a short csv
split, an unmatched regex/grok row, a NULL message, a key the JSON
document lacks (task.go:216-250). ``_keep_existing`` applies that rule
once for every parser: an output column that already exists with the
output's own type keeps its value there.

The parser compiles to the ``CompiledStep`` that global validators and
rewrites also return (projections, schema updates, an optional
``failed`` predicate and its drop reason); only jsonify can fail, under
``parse_error:jsonify``, and it names that reason even when a non-string
``message`` makes it a no-op.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logagent_spark.config import ParserSpec
from logagent_spark.functions import (
    CompiledStep,
    escaped_split,
    go_regex_groups,
    is_string,
    to_java_regex,
    type_by_name,
)
from logagent_spark.functions.grok import expand_grok

Schema = dict[str, T.DataType]

JSONIFY_REASON = "parse_error:jsonify"


def compile_parser(
    spec: ParserSpec, schema: Schema, *, regex_strategy: str = "native"
) -> CompiledStep:
    if not spec.mode:
        return CompiledStep()
    if "message" not in schema or not is_string(schema["message"]):
        # non-string message: every parser is a no-op (task.go:216, 231,
        # 249); jsonify still names the reason it can drop rows for
        return CompiledStep(
            reason=JSONIFY_REASON if spec.mode == "jsonify" else None
        )
    msg = F.col("message")

    if spec.mode == "csv":
        parts = escaped_split(msg, spec.delimiters or ",", len(spec.columns))
        return _keep_existing(CompiledStep(
            columns=[(name, F.get(parts, i))
                     for i, name in enumerate(spec.columns)],
            schema_updates={name: T.StringType() for name in spec.columns},
        ), schema)

    if spec.mode in ("regex", "grok"):
        if regex_strategy not in _KERNELS:
            raise ValueError(f"unsupported regex_strategy `{regex_strategy}`")
        if spec.mode == "regex":
            patterns, name_col = {"regex": spec.regex}, None
        else:
            patterns, name_col = spec.patterns, "grok_pattern"
        return _keep_existing(
            _KERNELS[regex_strategy](patterns, name_col), schema
        )

    if spec.mode == "jsonify":
        # Unmarshal merges: a key absent from the document keeps the
        # pre-existing value. (JSON-null and absent both map to NULL
        # here — documented divergence, SURVEY.md §2.2.)
        step = _keep_existing(jsonify(
            msg, {c: spec.types.get(c, "string") for c in spec.columns},
            "", JSONIFY_REASON, tmp="_jsonify_parsed",
        ), schema)
        if spec.attrs:
            # dynamic-key overflow (SURVEY §1.4): the reference merges
            # EVERY top-level key into the row (task.go:244-250); the
            # undeclared ones land in a map<string,string> column so no
            # data is silently dropped. Values are the JSON scalars
            # rendered as strings (numbers/bools/objects keep their JSON
            # text) — a stringly-typed view of Go's interface{} values;
            # validators consult it via element_at (see validators.py).
            map_t = T.MapType(T.StringType(), T.StringType())
            overflow = F.map_filter(
                F.from_json(msg, map_t),
                lambda k, _: ~k.isin(*spec.columns),
            )
            step.columns.append((spec.attrs, overflow))
            step.schema_updates[spec.attrs] = map_t
        return step

    raise ValueError(f"unsupported parser mode `{spec.mode}`")


def jsonify(
    src: Column, types: dict[str, str], prefix: str, reason: str, *, tmp: str
) -> CompiledStep:
    """The one JSON kernel (jsonify parser and rewrite): ONE ``from_json``
    of `src` into the declared top-level keys, parsed into the temp
    struct `tmp` and flattened into columns ``prefix + key``. Malformed
    OR non-object input populates the corrupt-record field (Go:
    Unmarshal of a non-object into map[string]interface{} errors) and
    fails the step under `reason`; a NULL source passes through
    untouched (no parse attempt)."""
    corrupt = "_corrupt"
    fields = [T.StructField(k, type_by_name(t), True) for k, t in types.items()]
    parsed = F.from_json(
        src,
        T.StructType(fields + [T.StructField(corrupt, T.StringType(), True)]),
        {"columnNameOfCorruptRecord": corrupt},
    )
    return CompiledStep(
        columns=[(tmp, parsed)]
        + [(prefix + f.name, F.col(tmp).getField(f.name)) for f in fields]
        + [(tmp, None)],  # sentinel: drop the temp struct
        schema_updates={prefix + f.name: f.dataType for f in fields},
        failed=parsed.getField(corrupt).isNotNull(),
        reason=reason,
    )


def _keep_existing(step: CompiledStep, schema: Schema) -> CompiledStep:
    """Go's "leave the row untouched" rule: an output that already exists
    with the output's own type becomes ``coalesce(extracted, col)``.
    Exact because a parser yields NULL only where Go writes nothing — a
    matched regex/grok row gives "" or a value for each of its own
    groups, never NULL; a jsonify key is NULL only when the document
    lacks it. (A pre-existing column of another type is still
    overwritten — columnar schemas are uniform; documented divergence.)"""
    keep = {
        name for name, dt in step.schema_updates.items()
        if schema.get(name) == dt
    }
    step.columns = [
        (name, F.coalesce(expr, F.col(name)) if name in keep else expr)
        for name, expr in step.columns
    ]
    return step


def _dictionary(
    patterns: dict[str, str]
) -> tuple[list[tuple[str, str, dict[str, int]]], list[str]]:
    """(name, expanded pattern, group -> index) per pattern in dictionary
    order, and every group name in first-seen order."""
    entries = []
    all_groups: list[str] = []
    for name, p in patterns.items():
        pattern = expand_grok(p)
        groups = go_regex_groups(pattern)  # validates syntax
        entries.append((name, pattern, groups))
        all_groups += [g for g in groups if g not in all_groups]
    return entries, all_groups


def _columns_kernel(
    patterns: dict[str, str], name_col: str | None
) -> CompiledStep:
    """Dictionary compiled to pure Column expressions (JVM, whole-stage
    codegen): `name_col` (when set) is a when-chain of rlike guards in
    dictionary order; each group column is a when-chain over ALL
    patterns (a winning pattern that lacks the group yields NULL, same
    as the UDF kernel). Each pattern's rlike literally appears in
    several projections, but ProjectExec's runtime subexpression
    elimination evaluates it once per row; the per-group regexp_extract
    re-runs the winning regex — the JVM-vs-Python tradeoff both kernels
    exist to let users measure (bench.py tracks it)."""
    entries, all_groups = _dictionary(patterns)
    msg = F.col("message")
    guarded = []  # (name, rlike guard, JVM pattern, groups)
    for name, pattern, groups in entries:
        jpat = to_java_regex(pattern)
        guarded.append((name, msg.rlike(jpat), jpat, groups))

    def chain(branches: list[tuple[Column, Column]]) -> Column:
        (m, val), *rest = branches
        out = F.when(m, val)
        for m, val in rest:
            out = out.when(m, val)
        return out

    cols: list[tuple[str, Column]] = []
    if name_col:
        cols.append((name_col, chain(
            [(m, F.lit(name)) for name, m, _, _ in guarded]
        )))
    for g in all_groups:
        cols.append((g, chain([
            (m, F.regexp_extract(msg, jpat, groups[g]) if g in groups
             else F.lit(None).cast(T.StringType()))
            for _, m, jpat, groups in guarded
        ])))
    return CompiledStep(
        columns=cols,
        schema_updates={name: T.StringType() for name, _ in cols},
    )


def _udf_kernel(
    patterns: dict[str, str], name_col: str | None
) -> CompiledStep:
    """Dictionary compiled to ONE vectorized pandas UDF over Arrow
    batches (the BASELINE north-star path): each pattern runs only on the
    rows no earlier pattern matched, and the struct it returns carries
    the winner's name only when `name_col` is set, so a one-pattern
    regex parse ships just its groups back to the JVM."""
    entries, all_groups = _dictionary(patterns)
    out_type = T.StructType(
        [T.StructField(c, T.StringType(), True)
         for c in ([name_col] if name_col else []) + all_groups]
    )
    # (pattern name, bound search, [(group name, group idx)]) — compiled
    # once per executor so the batch loop touches no dicts.
    plan = [
        (name, re.compile(pattern).search, list(groups.items()))
        for name, pattern, groups in entries
    ]

    @F.pandas_udf(out_type)
    def grok_dict(s: pd.Series) -> pd.DataFrame:
        # One `re.search` per (row, pattern-until-first-hit): the match
        # object yields every group, so no second extract pass. This is
        # the minimum regex work the dictionary semantics permit.
        # Go parity: in a matched row a non-participating group is "";
        # in an unmatched/null row every output stays NULL.
        vals = s.to_numpy(dtype=object)
        n_rows = len(vals)
        winner = np.empty(n_rows, dtype=object)
        out = {g: np.empty(n_rows, dtype=object) for g in all_groups}
        for i, v in enumerate(vals):
            if type(v) is not str:
                continue
            for name, search, gitems in plan:
                m = search(v)
                if m is None:
                    continue
                winner[i] = name
                g = m.group
                for gname, gi in gitems:
                    val = g(gi)
                    out[gname][i] = val if val is not None else ""
                break
        if name_col:
            out = {name_col: winner, **out}
        return pd.DataFrame(out, index=s.index)

    tmp = "_grokdict_parsed"
    outputs = out_type.fieldNames()
    return CompiledStep(
        columns=[(tmp, grok_dict(F.col("message")))]
        + [(c, F.col(tmp).getField(c)) for c in outputs]
        + [(tmp, None)],
        schema_updates={c: T.StringType() for c in outputs},
    )


_KERNELS = {"native": _columns_kernel, "grok": _udf_kernel}
