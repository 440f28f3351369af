"""Rewrite compilers — the projection/transform chain.

Reproduces /root/reference/agent/task/task.go:256-376 against a static
schema. Each rewrite compiles to one ``CompiledStep`` (column
projections, schema updates, an optional failure predicate and its drop
reason) — the same step type parsers and validators return; the pipeline
compiler threads them in config order (the reference composes closures
via setProcessor, task.go:378-392 — here Catalyst's whole-stage codegen
does the fusion).

Semantics reproduced exactly:

* ``set``       — unconditional constant assignment (string).
* ``subst``     — LITERAL substring replace, all occurrences; missing or
                  non-string column => no-op.
* ``mapping``   — dict lookup; key not found => row dropped from all sinks
                  + counted; non-string/missing column => no-op pass.
* ``jsonify``   — parse a JSON-string column, splice top-level keys in as
                  ``{col}_{key}``; parse error => row dropped + counted.
* ``unjsonify`` — value -> its JSON encoding (Go json.Marshal): struct/map/
                  array via to_json, strings get quoted+escaped, numbers/
                  booleans cast; missing => no-op.
* ``command``   — reference runs an OS command PER ROW (task.go:336-351),
                  the antithesis of vectorization; we execute once on the
                  driver and broadcast the output as a literal (identical
                  result for deterministic commands — documented divergence).
* ``splicing``  — join string-typed columns with a delimiter; non-string /
                  missing values are skipped entirely (no placeholder),
                  which is exactly concat_ws's null behavior.
* ``lookup``    — EXTENSION (BASELINE north-star): broadcast-join
                  enrichment against a lookup DataFrame. Not compiled
                  here: it needs a join, not a projection, so
                  ``CompiledPipeline.transform`` applies it straight
                  from the spec (plans/pipeline.py ``_apply_lookup``).
"""

from __future__ import annotations

import subprocess

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logagent_spark.config import RewriteSpec
from logagent_spark.functions import (
    CompiledStep,
    is_string,
    json_escape_string,
)
from logagent_spark.operators.parsers import jsonify

Schema = dict[str, T.DataType]


def compile_rewrite(spec: RewriteSpec, schema: Schema) -> CompiledStep:
    mode = spec.mode
    if mode == "set":
        return CompiledStep(
            columns=[(spec.column, F.lit(spec.value))],
            schema_updates={spec.column: T.StringType()},
        )

    if mode == "subst":
        dt = schema.get(spec.column)
        if dt is None or not is_string(dt):
            return CompiledStep()  # no-op (task.go:272-275)
        c = F.col(spec.column)
        return CompiledStep(
            columns=[(spec.column, F.replace(c, F.lit(spec.old), F.lit(spec.value)))]
        )

    if mode == "mapping":
        reason = f"mapping_miss:{spec.column}"
        dt = schema.get(spec.column)
        if dt is None or not is_string(dt):
            # non-string => pass (task.go:288-291)
            return CompiledStep(reason=reason)
        c = F.col(spec.column)
        pairs: list[Column] = []
        for k, v in spec.mapping.items():
            pairs.extend([F.lit(k), F.lit(v)])
        mapped = F.element_at(F.create_map(*pairs), c) if pairs else F.lit(None)
        return CompiledStep(
            columns=[(spec.column, mapped)],
            failed=c.isNotNull() & mapped.isNull(),
            reason=reason,
        )

    if mode == "jsonify":
        reason = f"parse_error:jsonify_rewrite:{spec.column}"
        dt = schema.get(spec.column)
        if dt is None or not is_string(dt):
            return CompiledStep(reason=reason)
        return jsonify(F.col(spec.column), spec.types, f"{spec.column}_",
                       reason, tmp=f"_jsonify_{spec.column}")

    if mode == "unjsonify":
        dt = schema.get(spec.column)
        if dt is None:
            return CompiledStep()  # missing key => no-op (task.go:324-326)
        c = F.col(spec.column)
        # NULL = missing key => no-op (task.go:324-326); encoding applies
        # only to present values, so every branch is null-preserving.
        if isinstance(dt, (T.StructType, T.MapType, T.ArrayType)):
            enc = F.to_json(c)
        elif is_string(dt):
            enc = json_escape_string(c)
        elif isinstance(dt, T.BooleanType):
            enc = F.when(c, F.lit("true")).when(~c, F.lit("false"))
        else:
            enc = c.cast(T.StringType())
        # Go stores []byte; binary renders as literal in templates, exactly
        # like Go's non-string type-assert miss (template.go:22-26).
        return CompiledStep(
            columns=[(spec.column, enc.cast(T.BinaryType()))],
            schema_updates={spec.column: T.BinaryType()},
        )

    if mode == "command":
        out = subprocess.run(
            [spec.command], capture_output=True, check=True
        ).stdout.decode()
        return CompiledStep(
            columns=[(spec.column, F.lit(out))],
            schema_updates={spec.column: T.StringType()},
        )

    if mode == "splicing":
        delim = spec.delimiters or " "
        string_cols = [
            F.col(c)
            for c in spec.columns
            if c in schema and is_string(schema[c])
        ]
        # concat_ws skips NULLs exactly as Go skips missing/non-string
        # values (task.go:363-368); zero inputs => "" (strings.Join of []).
        expr = F.concat_ws(delim, *string_cols) if string_cols else F.lit("")
        return CompiledStep(
            columns=[(spec.key, expr)],
            schema_updates={spec.key: T.StringType()},
        )

    if mode == "scrub":
        # EXTENSION (training-data pipelines): ordered pattern->token
        # redaction (emails, IPs, ids) as chained regexp_replace — all
        # occurrences, scan-side, no UDF. Non-string/missing column is a
        # no-op like subst.
        dt = schema.get(spec.column)
        if dt is None or not is_string(dt):
            return CompiledStep()
        c = F.col(spec.column)
        for pat, repl in spec.mapping.items():
            c = F.regexp_replace(c, pat, repl)
        return CompiledStep(columns=[(spec.column, c)])

    raise ValueError(f"unsupported rewriter mode `{mode}`")
