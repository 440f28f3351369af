"""Pipeline specification — the engine's IR.

The reference's JSON config file IS its query language
(/root/reference/agent/task/config.go:3-83, agent/config.go:23-38): a task is
collector -> parser -> [global validators] -> rewrites -> handlers (each with
its own validators + template).  We mirror that dialect exactly (same key
names, same optionality) so reference configs are runnable specs, and extend
it with the fields a schema-first columnar engine needs:

* ``Parser.Types`` — column -> type name for ``jsonify`` parsing (the
  reference is schemaless; Catalyst needs a schema for from_json. Declaring
  ``double`` for JSON numbers reproduces Go's float64 semantics).
* ``Rewrites[].Lookup`` — the broadcast-join generalization of ``mapping``:
  enrich from a lookup table with several output columns.
* ``Handlers[].Path`` — sink directory for parquet-backed file/database
  sinks (transport sinks of the reference map to table sinks here).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

VALID_PARSER_MODES = {"csv", "regex", "jsonify", "grok"}
VALID_REWRITE_MODES = {
    "set", "subst", "mapping", "jsonify", "unjsonify", "command",
    "splicing", "lookup", "scrub",
}
VALID_VALIDATOR_MODES = {
    "required", "type", "value", "number", "maxvalue", "minvalue",
    "maxlength", "minlength", "regex",
}
VALID_HANDLER_MODES = {"stream", "file", "database", "kafka"}


class SpecError(ValueError):
    """Invalid pipeline specification (mirrors the reference's
    ``configureFatal``, agent/task/task.go:394-397)."""


@dataclass
class ParserSpec:
    """agent/task/config.go:21-26."""

    mode: str = ""
    regex: str = ""
    delimiters: str = ""
    columns: list[str] = field(default_factory=list)
    # extension: declared types for jsonify columns ("string" default)
    types: dict[str, str] = field(default_factory=dict)
    # extension: grok dictionary — ordered named patterns, first match wins
    patterns: dict[str, str] = field(default_factory=dict)
    # extension: overflow-map column for jsonify — undeclared top-level
    # keys land here as map<string,string> (the reference merges ALL
    # keys, task.go:244-250; a schema-first engine needs somewhere
    # typed to put the dynamic ones). "" disables.
    attrs: str = ""

    def validate(self) -> None:
        if not self.mode:
            return
        if self.mode not in VALID_PARSER_MODES:
            raise SpecError(f"unsupported parser mode `{self.mode}`")
        if self.mode == "csv" and not self.columns:
            raise SpecError("csv parse requires columns")
        if self.mode == "regex" and not self.regex:
            raise SpecError("regex parse requires regex")
        if self.mode == "grok" and not self.patterns:
            raise SpecError("grok parse requires patterns")
        if self.mode == "jsonify" and not self.columns:
            raise SpecError(
                "jsonify parse requires declared columns (schema-first engine)"
            )


@dataclass
class RewriteSpec:
    """agent/task/config.go:28-38."""

    mode: str = ""
    column: str = ""
    old: str = ""
    value: str = ""
    command: str = ""
    delimiters: str = ""
    key: str = ""
    columns: list[str] = field(default_factory=list)
    mapping: dict[str, str] = field(default_factory=dict)
    # extensions for `jsonify` rewrite (declared sub-schema) and `lookup`
    types: dict[str, str] = field(default_factory=dict)
    lookup: dict[str, Any] = field(default_factory=dict)

    def validate(self) -> None:
        m = self.mode
        if m not in VALID_REWRITE_MODES:
            raise SpecError(f"unsupported rewriter mode `{m}`")
        needs_column = {"set", "subst", "mapping", "jsonify", "unjsonify",
                        "command", "scrub"}
        if m in needs_column and not self.column:
            raise SpecError(f"{m} rewrite requires column")
        if m == "subst" and not self.old:
            raise SpecError("subst rewrite requires old")
        if m in ("mapping", "scrub") and not self.mapping:
            raise SpecError(f"{m} rewrite requires mapping")
        if m == "command" and not self.command:
            raise SpecError("command rewrite requires command")
        if m == "splicing" and (not self.columns or not self.key):
            raise SpecError("splicing rewrite requires columns and key")
        if m == "jsonify" and not self.types:
            raise SpecError("jsonify rewrite requires declared types")
        if m == "lookup" and not self.lookup:
            raise SpecError("lookup rewrite requires lookup config")
        if m == "lookup" and "table" not in self.lookup \
                and "path" not in self.lookup:
            raise SpecError("lookup rewrite requires table or path")


@dataclass
class ValidatorSpec:
    """agent/task/config.go:40-47."""

    mode: str = ""
    column: str = ""
    type: str = ""
    value: str = ""
    number: int = 0
    regex: str = ""

    def validate(self) -> None:
        if self.mode not in VALID_VALIDATOR_MODES:
            raise SpecError(f"unsupported validation mode `{self.mode}`")
        if not self.column:
            raise SpecError(f"{self.mode} validation requires column")
        if self.mode == "type" and self.type not in ("string", "int", "float"):
            raise SpecError(f"unsupported validation type {self.type}")
        if self.mode == "value" and not self.value:
            raise SpecError("value validation requires value")
        if self.mode == "regex" and not self.regex:
            raise SpecError("regex validation requires regex")


@dataclass
class HandlerSpec:
    """agent/task/config.go:49-72."""

    mode: str = "stream"
    name: str = ""          # extension: stable sink id (defaults derived)
    template: str = ""
    filename: str = ""
    table: str = ""
    topic: str = ""
    columns: list[str] = field(default_factory=list)
    fields: list[str] = field(default_factory=list)
    path: str = ""          # extension: parquet sink directory
    validators: list[ValidatorSpec] = field(default_factory=list)

    def validate(self, idx: int) -> None:
        if self.mode not in VALID_HANDLER_MODES:
            raise SpecError(f"unsupported handle mode `{self.mode}`")
        if self.mode == "database" and not (self.table or self.name):
            raise SpecError("database handler requires table")
        for v in self.validators:
            v.validate()

    def sink_name(self, idx: int) -> str:
        if self.name:
            return self.name
        if self.mode == "database" and self.table:
            return self.table
        if self.mode == "kafka":
            # default topic mirrors kafka/kafka.go:29-31
            return self.topic or "log_agent"
        if self.mode == "file" and self.filename:
            return self.filename
        return f"{self.mode}_{idx}"


@dataclass
class PipelineSpec:
    """One reference `task` (agent/task/config.go:75-83) = one pipeline."""

    parser: ParserSpec = field(default_factory=ParserSpec)
    validators: list[ValidatorSpec] = field(default_factory=list)
    rewrites: list[RewriteSpec] = field(default_factory=list)
    handlers: list[HandlerSpec] = field(default_factory=list)
    # collector config is transport, kept only for round-tripping
    collector: dict[str, Any] = field(default_factory=dict)
    name: str = "task"

    def validate(self) -> None:
        self.parser.validate()
        for v in self.validators:
            v.validate()
        for r in self.rewrites:
            r.validate()
        names = set()
        for i, h in enumerate(self.handlers):
            h.validate(i)
            n = h.sink_name(i)
            if n in names:
                raise SpecError(f"duplicate sink name `{n}`")
            names.add(n)

    # ------------------------------------------------------------------
    @classmethod
    def from_dict(cls, d: dict[str, Any], name: str = "task") -> "PipelineSpec":
        def low(obj: dict[str, Any]) -> dict[str, Any]:
            return {k.lower(): v for k, v in obj.items()}

        d = low(d)
        spec = cls(name=name)
        spec.collector = d.get("collector", {}) or {}
        p = low(d.get("parser", {}) or {})
        spec.parser = ParserSpec(
            mode=p.get("mode", ""),
            regex=p.get("regex", ""),
            delimiters=p.get("delimiters", ""),
            columns=list(p.get("columns", []) or []),
            types=dict(p.get("types", {}) or {}),
            patterns=dict(p.get("patterns", {}) or {}),
            attrs=p.get("attrs", "") or "",
        )
        for r in d.get("rewrites", []) or []:
            r = low(r)
            spec.rewrites.append(RewriteSpec(
                mode=r.get("mode", ""),
                column=r.get("column", ""),
                old=r.get("old", ""),
                value=r.get("value", ""),
                command=r.get("command", ""),
                delimiters=r.get("delimiters", ""),
                key=r.get("key", ""),
                columns=list(r.get("columns", []) or []),
                mapping=dict(r.get("mapping", {}) or {}),
                types=dict(r.get("types", {}) or {}),
                lookup=dict(r.get("lookup", {}) or {}),
            ))
        spec.validators = [_validator_from(v) for v in d.get("validators", []) or []]
        for h in d.get("handlers", []) or []:
            h = low(h)
            spec.handlers.append(HandlerSpec(
                mode=h.get("mode", "stream"),
                name=h.get("name", ""),
                template=h.get("template", ""),
                filename=h.get("filename", ""),
                table=h.get("table", ""),
                topic=h.get("topic", ""),
                columns=list(h.get("columns", []) or []),
                fields=list(h.get("fields", []) or []),
                path=h.get("path", ""),
                validators=[_validator_from(v) for v in h.get("validators", []) or []],
            ))
        spec.validate()
        return spec

    @classmethod
    def from_json(cls, text: str, name: str = "task") -> "PipelineSpec":
        return cls.from_dict(json.loads(text), name=name)

    @classmethod
    def load_config(cls, path: str) -> list["PipelineSpec"]:
        """Load a full reference-style config file ({"tasks": [...]}),
        mirroring agent/config.go:23-38."""
        with open(path) as f:
            conf = json.load(f)
        tasks = conf.get("tasks", conf.get("Tasks", []))
        return [cls.from_dict(t, name=f"task_{i}") for i, t in enumerate(tasks)]


def _validator_from(v: dict[str, Any]) -> ValidatorSpec:
    v = {k.lower(): x for k, x in v.items()}
    return ValidatorSpec(
        mode=v.get("mode", ""),
        column=v.get("column", ""),
        type=v.get("type", ""),
        value=v.get("value", ""),
        number=int(v.get("number", 0) or 0),
        regex=v.get("regex", ""),
    )
