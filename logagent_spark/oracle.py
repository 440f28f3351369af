"""Pure-Python oracle: a direct transcription of the reference's per-row
semantics, used as the golden comparator in tests.

Each function mirrors one operator from /root/reference/agent/task/*.go
(citations inline). The oracle is row-at-a-time and deliberately slow —
it exists so Spark plans are tested against the SEMANTICS, not against
another Spark plan.

Type model: a row is a dict; an absent key is "missing" (Go map miss).
JSON numbers parse as float (Go json.Unmarshal -> float64). Python bool
is excluded from int checks (Go reflect.Kind distinction).
"""

from __future__ import annotations

import json
import re
import subprocess
from typing import Any

from logagent_spark.config import (
    HandlerSpec,
    ParserSpec,
    PipelineSpec,
    RewriteSpec,
    ValidatorSpec,
)

Row = dict[str, Any]


class RowError(Exception):
    """Processor error => row dropped from all sinks (task.go:104-111)."""

    def __init__(self, reason: str):
        super().__init__(reason)
        self.reason = reason


def _is_str(v: Any) -> bool:
    return isinstance(v, str)


def _is_int(v: Any) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _loads_go(s: str) -> Any:
    # Go json.Unmarshal produces float64 for every JSON number
    return json.loads(s, parse_int=float)


# ---------------------------------------------------------------------------
# parsers (task.go:201-254)

def parse_row(spec: ParserSpec, msg: Row) -> None:
    if not spec.mode:
        return
    m = msg.get("message")
    if not _is_str(m):
        return  # non-string message: parser is a no-op
    if spec.mode == "csv":
        delim = spec.delimiters or ","
        parts = m.split(delim, len(spec.columns) - 1)  # == Go SplitN
        for i, p in enumerate(parts):
            msg[spec.columns[i]] = p
    elif spec.mode == "regex":
        mt = re.search(spec.regex, m)  # FindStringSubmatch = leftmost search
        if mt:
            for name, idx in re.compile(spec.regex).groupindex.items():
                g = mt.group(idx)
                msg[name] = g if g is not None else ""  # non-participating -> ""
    elif spec.mode == "grok":
        for name, pat in spec.patterns.items():
            mt = re.search(pat, m)
            if mt:
                msg["grok_pattern"] = name
                for g, gi in re.compile(pat).groupindex.items():
                    v = mt.group(gi)
                    msg[g] = v if v is not None else ""
                break
    elif spec.mode == "jsonify":
        try:
            obj = _loads_go(m)
        except ValueError as e:
            raise RowError("parse_error:jsonify") from e
        if not isinstance(obj, dict):
            # Unmarshal of a non-object into map[string]interface{} errors
            raise RowError("parse_error:jsonify")
        msg.update(obj)
    else:
        raise ValueError(spec.mode)


# ---------------------------------------------------------------------------
# validators (validator.go:11-196)

def validate_row(spec: ValidatorSpec, msg: Row) -> bool:
    v = msg.get(spec.column, _MISSING)
    mode = spec.mode
    if mode == "required":
        return v is not _MISSING
    if mode == "type":
        if v is _MISSING:
            return False
        if spec.type == "string":
            return _is_str(v)
        if spec.type == "int":
            return _is_int(v)
        return isinstance(v, float)
    if mode == "value":
        return _is_str(v) and v == spec.value
    if mode == "number":
        return _is_int(v) and v == spec.number
    if mode == "maxvalue":
        return _is_int(v) and v <= spec.number
    if mode == "minvalue":
        return _is_int(v) and v >= spec.number
    if mode == "maxlength":
        # Go len() counts BYTES (validator.go:117-131)
        return _is_str(v) and len(v.encode("utf-8")) <= spec.number
    if mode == "minlength":
        return _is_str(v) and len(v.encode("utf-8")) >= spec.number
    if mode == "regex":
        return _is_str(v) and re.search(spec.regex, v) is not None
    raise ValueError(mode)


_MISSING = object()


# ---------------------------------------------------------------------------
# rewrites (task.go:256-376)

def rewrite_row(spec: RewriteSpec, msg: Row) -> None:
    mode = spec.mode
    if mode == "set":
        msg[spec.column] = spec.value
    elif mode == "subst":
        v = msg.get(spec.column)
        if _is_str(v):
            msg[spec.column] = v.replace(spec.old, spec.value)
    elif mode == "mapping":
        v = msg.get(spec.column)
        if _is_str(v):
            if v not in spec.mapping:
                raise RowError(f"mapping_miss:{spec.column}")
            msg[spec.column] = spec.mapping[v]
    elif mode == "jsonify":
        v = msg.get(spec.column)
        if _is_str(v):
            try:
                obj = _loads_go(v)
            except ValueError as e:
                raise RowError(f"parse_error:jsonify_rewrite:{spec.column}") from e
            if not isinstance(obj, dict):
                raise RowError(f"parse_error:jsonify_rewrite:{spec.column}")
            for k, val in obj.items():
                msg[f"{spec.column}_{k}"] = val
    elif mode == "unjsonify":
        if spec.column in msg:
            # Go json.Marshal: compact, sorted map keys, no trailing newline
            msg[spec.column] = json.dumps(
                msg[spec.column], separators=(",", ":"), sort_keys=True,
                ensure_ascii=False,
            ).encode()
    elif mode == "command":
        out = subprocess.run(
            [spec.command], capture_output=True, check=True
        ).stdout.decode()
        msg[spec.column] = out
    elif mode == "splicing":
        delim = spec.delimiters or " "
        vals = [msg[k] for k in spec.columns if _is_str(msg.get(k))]
        msg[spec.key] = delim.join(vals)
    elif mode == "lookup":
        key = spec.lookup["key"]
        table: dict = {}
        for r in spec.lookup["table"]:
            table.setdefault(r[key], r)  # first row of a key wins
        on_miss = spec.lookup.get("on_miss", "drop")
        v = msg.get(key)
        hit = table.get(v) if v is not None else None
        # the engine's miss predicate: a non-NULL key whose FIRST output
        # comes back NULL, so a hit with a NULL first output is a miss
        probe = next(iter(spec.lookup["output"]))
        if (v is not None and on_miss == "drop"
                and (hit is None or hit.get(probe) is None)):
            raise RowError(f"lookup_miss:{key}")
        for out in spec.lookup["output"]:
            if hit is not None:
                msg[out] = hit[out]
    else:
        raise ValueError(mode)


# ---------------------------------------------------------------------------
# template (template.go:8-31)

_PLACEHOLDER = re.compile(r"\$\{.*?\}")


def render_template(template: str, msg: Row) -> str:
    if not template:
        m = msg.get("message")
        return m if _is_str(m) else ""

    def sub(m: re.Match) -> str:
        key = m.group(0).strip("${}")
        v = msg.get(key)
        return v if _is_str(v) else m.group(0)

    return _PLACEHOLDER.sub(sub, template)


# ---------------------------------------------------------------------------
# full pipeline (task.go:95-170 worker loop + handler.go:203-220 gates)

def run_pipeline(
    spec: PipelineSpec, rows: list[Row]
) -> dict[str, Any]:
    """-> {"sinks": {name: [rendered_or_rowdict, ...]},
          "dropped": [(reason, row), ...],
          "counts": {name: int}}"""
    sink_names = [h.sink_name(i) for i, h in enumerate(spec.handlers)]
    sinks: dict[str, list[Any]] = {n: [] for n in sink_names}
    dropped: list[tuple[str, Row]] = []

    for row in rows:
        msg = {k: v for k, v in row.items() if v is not None}
        try:
            parse_row(spec.parser, msg)
            for v in spec.validators:
                if not validate_row(v, msg):
                    raise RowError(f"validator:{v.mode}:{v.column}")
            for rw in spec.rewrites:
                rewrite_row(rw, msg)
        except RowError as e:
            dropped.append((e.reason, msg))
            continue
        for name, h in zip(sink_names, spec.handlers):
            if any(not validate_row(v, msg) for v in h.validators):
                continue  # silent per-sink skip (handler.go:208-215)
            sinks[name].append(_emit(h, msg))

    return {
        "sinks": sinks,
        "dropped": dropped,
        "counts": {n: len(v) for n, v in sinks.items()},
    }


def _emit(h: HandlerSpec, msg: Row) -> Any:
    if h.mode == "database":
        # positional column read; missing -> None (database.go:92-104)
        return {c: msg.get(c) for c in h.columns}
    return render_template(h.template, msg)
