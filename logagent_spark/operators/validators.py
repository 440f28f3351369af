"""Validator compiler — spec predicates -> boolean Columns.

Reproduces /root/reference/agent/task/validator.go:11-196 semantics against
a static schema:

* missing column (NULL) fails every validator;
* type-mismatch fails (Go's `.(string)` / `.(int)` assertion miss) — with a
  static schema this is decidable at compile time, so mismatched validators
  compile to `lit(False)` (Catalyst folds the filter to an empty relation —
  the fastest possible evaluation of an always-failing gate);
* `number/maxvalue/minvalue` compare Go `int` — a double-typed column can
  never pass (JSON numbers are float64 in Go, validator.go:69-83);
* `maxlength/minlength` measure Go `len()` = BYTES, hence octet_length;
* `regex` is an unanchored search (`MatchString` ≡ rlike).

Two attachment points with different routing semantics (SURVEY.md §2.4):
global validators drop the row from all sinks (with a dead-letter reason);
per-handler validators silently skip the row for that sink only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logagent_spark.config import ValidatorSpec
from logagent_spark.functions import (
    CompiledStep,
    is_double,
    is_long,
    is_string,
    to_java_regex,
)

Schema = dict[str, T.DataType]

_KIND_CHECK = {
    "string": is_string,
    "int": is_long,
    "float": is_double,
}


def _overflow_map_col(schema: Schema, attrs_col: str | None) -> str | None:
    """Resolve the dynamic-key overflow column. The ParserSpec lets the
    user name it anything (`attrs` config key) and CompiledPipeline
    always threads that name here; unthreaded callers get only the
    literal-"attrs" fallback. (An earlier "schema's single map column"
    heuristic is gone: a pipeline whose only map column is a genuine
    parsed field would have validators on undeclared columns silently
    checking the wrong map — compiling to lit(False) is the honest
    answer when the overflow column is unidentifiable.)"""
    if attrs_col:
        return attrs_col if isinstance(schema.get(attrs_col), T.MapType) else None
    return "attrs" if isinstance(schema.get("attrs"), T.MapType) else None


def compile_validator(
    spec: ValidatorSpec, schema: Schema, *, attrs_col: str | None = None
) -> Column:
    """Return a boolean Column: True = row passes this validator.

    NULL results count as failure — callers must wrap with
    ``F.coalesce(pred, F.lit(False))`` or rely on filter(null)=drop.
    `attrs_col` names the configured dynamic-key overflow map (threaded
    from the ParserSpec); unset, only a map column literally named
    "attrs" serves.
    """
    dt = schema.get(spec.column)
    if dt is not None:
        return _check(spec, F.col(spec.column), dt)
    # not a declared column: if the pipeline carries a dynamic-key
    # overflow map (jsonify Attrs extension), validate against it — the
    # reference's rows hold ALL json keys, so validators must see the
    # undeclared ones too
    overflow = _overflow_map_col(schema, attrs_col)
    if overflow is None:
        # column can never exist => every row fails (validator.go:16-18)
        return F.lit(False)
    # The map is stringly-typed (every JSON scalar keeps its JSON text),
    # so its values check as a string column: string modes behave exactly
    # like Go on string-valued keys; numeric modes compile to False (Go:
    # JSON numbers are float64, `.(int)` always fails — validator.go:69-83);
    # `type string` passes for any present key (documented divergence: a
    # numeric JSON value is indistinguishable from its decimal string here).
    return _check(
        spec, F.element_at(F.col(overflow), F.lit(spec.column)), T.StringType()
    )


def _check(spec: ValidatorSpec, c: Column, dt: T.DataType) -> Column:
    """The one validator dispatcher: `spec`'s predicate over the value
    Column `c` of static type `dt`."""
    mode = spec.mode
    if mode == "required":
        return c.isNotNull()
    if mode == "type":
        if _KIND_CHECK[spec.type](dt):
            return c.isNotNull()
        return F.lit(False)
    if mode == "value":
        if not is_string(dt):
            return F.lit(False)
        return c == F.lit(spec.value)
    if mode in ("number", "maxvalue", "minvalue"):
        if not is_long(dt):
            # float64 / string / etc. never satisfies Go's `.(int)`
            return F.lit(False)
        n = F.lit(spec.number)
        if mode == "number":
            return c == n
        if mode == "maxvalue":
            return c <= n
        return c >= n
    if mode in ("maxlength", "minlength"):
        if not is_string(dt):
            return F.lit(False)
        ln = F.octet_length(c)  # Go len() counts bytes, not runes
        return ln <= F.lit(spec.number) if mode == "maxlength" else ln >= F.lit(spec.number)
    if mode == "regex":
        if not is_string(dt):
            return F.lit(False)
        return c.rlike(to_java_regex(spec.regex))
    raise ValueError(f"unsupported validation mode `{mode}`")


def compile_gate(
    specs: list[ValidatorSpec], schema: Schema, *, attrs_col: str | None = None
) -> Column:
    """AND of all validators, null-safe (per-handler gate,
    handler.go:208-215). True = row reaches the sink."""
    pred = F.lit(True)
    for s in specs:
        pred = pred & F.coalesce(
            compile_validator(s, schema, attrs_col=attrs_col), F.lit(False)
        )
    return pred


def compile_global_validators(
    specs: list[ValidatorSpec], schema: Schema, *, attrs_col: str | None = None
) -> list[CompiledStep]:
    """One step per global validator, in order (validator.go:206-233:
    first failure wins): a NULL predicate is a failure (Go: type-assert
    miss / missing key => error)."""
    return [
        CompiledStep(
            failed=~F.coalesce(
                compile_validator(s, schema, attrs_col=attrs_col), F.lit(False)
            ),
            reason=f"validator:{s.mode}:{s.column}",
        )
        for s in specs
    ]
