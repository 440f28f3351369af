"""Rewrite compilers — the projection/transform chain.

Reproduces /root/reference/agent/task/task.go:256-376 against a static
schema. Each rewrite yields column projections, an optional drop-reason
Column, and schema updates; the pipeline compiler threads them in config
order (the reference composes closures via setProcessor, task.go:378-392 —
here Catalyst's whole-stage codegen does the fusion).

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
                  enrichment against a lookup DataFrame; handled by the
                  pipeline compiler because it needs a join, not a
                  projection. See plans/pipeline.py.
"""

from __future__ import annotations

import subprocess
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logagent_spark.config import RewriteSpec
from logagent_spark.functions import is_string, json_escape_string, type_by_name

Schema = dict[str, T.DataType]


@dataclass
class CompiledRewrite:
    columns: list[tuple[str, Column]] = field(default_factory=list)
    error: Column | None = None
    schema_updates: dict[str, T.DataType] = field(default_factory=dict)
    # set for mode="lookup": (key_column, lookup_rows, output_cols, on_miss)
    lookup: dict | None = None


def compile_rewrite(spec: RewriteSpec, schema: Schema) -> CompiledRewrite:
    mode = spec.mode
    if mode == "set":
        return CompiledRewrite(
            columns=[(spec.column, F.lit(spec.value))],
            schema_updates={spec.column: T.StringType()},
        )

    if mode == "subst":
        dt = schema.get(spec.column)
        if dt is None or not is_string(dt):
            return CompiledRewrite()  # no-op (task.go:272-275)
        c = F.col(spec.column)
        return CompiledRewrite(
            columns=[(spec.column, F.replace(c, F.lit(spec.old), F.lit(spec.value)))]
        )

    if mode == "mapping":
        dt = schema.get(spec.column)
        if dt is None or not is_string(dt):
            return CompiledRewrite()  # non-string => pass (task.go:288-291)
        c = F.col(spec.column)
        pairs: list[Column] = []
        for k, v in spec.mapping.items():
            pairs.extend([F.lit(k), F.lit(v)])
        mapped = F.element_at(F.create_map(*pairs), c) if pairs else F.lit(None)
        err = F.when(
            c.isNotNull() & mapped.isNull(),
            F.lit(f"mapping_miss:{spec.column}"),
        )
        return CompiledRewrite(
            columns=[(spec.column, mapped)],
            error=err,
        )

    if mode == "jsonify":
        dt = schema.get(spec.column)
        if dt is None or not is_string(dt):
            return CompiledRewrite()
        c = F.col(spec.column)
        corrupt = "_corrupt"
        struct_type = T.StructType(
            [
                T.StructField(k, type_by_name(t), True)
                for k, t in spec.types.items()
            ]
            + [T.StructField(corrupt, T.StringType(), True)]
        )
        tmp = f"_jsonify_{spec.column}"
        parsed = F.from_json(c, struct_type, {"columnNameOfCorruptRecord": corrupt})
        err = F.when(
            parsed.getField(corrupt).isNotNull(),
            F.lit(f"parse_error:jsonify_rewrite:{spec.column}"),
        )
        cols: list[tuple[str, Column]] = [(tmp, parsed)]
        updates: dict[str, T.DataType] = {}
        for f_ in struct_type.fields:
            if f_.name == corrupt:
                continue
            out = f"{spec.column}_{f_.name}"
            cols.append((out, F.col(tmp).getField(f_.name)))
            updates[out] = f_.dataType
        cols.append((tmp, None))
        return CompiledRewrite(columns=cols, error=err, schema_updates=updates)

    if mode == "unjsonify":
        dt = schema.get(spec.column)
        if dt is None:
            return CompiledRewrite()  # missing key => no-op (task.go:324-326)
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
        return CompiledRewrite(
            columns=[(spec.column, enc.cast(T.BinaryType()))],
            schema_updates={spec.column: T.BinaryType()},
        )

    if mode == "command":
        out = subprocess.run(
            [spec.command], capture_output=True, check=True
        ).stdout.decode()
        return CompiledRewrite(
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
        return CompiledRewrite(
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
            return CompiledRewrite()
        c = F.col(spec.column)
        for pat, repl in spec.mapping.items():
            c = F.regexp_replace(c, pat, repl)
        return CompiledRewrite(columns=[(spec.column, c)])

    if mode == "lookup":
        lk = dict(spec.lookup)
        return CompiledRewrite(lookup=lk)

    raise ValueError(f"unsupported rewriter mode `{mode}`")
