"""Parser parity vs the oracle: csv SplitN edges, regex match/no-match
(native AND grok strategies), jsonify corrupt-row drop semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from logagent_spark import oracle
from logagent_spark.config import ParserSpec, PipelineSpec
from logagent_spark.plans.pipeline import DROP_COL, CompiledPipeline


def _msg_df(spark, messages):
    return spark.createDataFrame(
        [(i, m) for i, m in enumerate(messages)],
        schema=T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("message", T.StringType(), True),
        ]),
    )


def _run(spark, parser: ParserSpec, messages, regex_strategy="native"):
    spec = PipelineSpec(parser=parser)
    pipe = CompiledPipeline(spec, regex_strategy=regex_strategy)
    res = pipe.transform(_msg_df(spark, messages))
    rows = {r["id"]: r.asDict() for r in res.frame.collect()}
    return [rows[i] for i in range(len(messages))]


def _oracle(parser: ParserSpec, messages):
    out = []
    for i, m in enumerate(messages):
        msg = {"id": i}
        if m is not None:
            msg["message"] = m
        reason = None
        try:
            oracle.parse_row(parser, msg)
        except oracle.RowError as e:
            reason = e.reason
        msg["_reason"] = reason
        out.append(msg)
    return out


CSV_MESSAGES = [
    "a,b,c",
    "a,b,c,d,e",          # last column keeps remaining delimiters
    "a",                  # fewer parts -> trailing columns NULL
    "",                   # SplitN("",...) == [""]
    ",,",
    "x,,z",
    None,
]


def test_csv_splitn_semantics(spark):
    parser = ParserSpec(mode="csv", delimiters=",", columns=["c1", "c2", "c3"])
    got = _run(spark, parser, CSV_MESSAGES)
    want = _oracle(parser, CSV_MESSAGES)
    for g, w in zip(got, want):
        for c in ("c1", "c2", "c3"):
            assert g.get(c) == w.get(c), (g, w)


def test_csv_regex_metachar_delimiter(spark):
    # literal delimiter that is a regex metachar must be escaped
    parser = ParserSpec(mode="csv", delimiters="|", columns=["a", "b"])
    got = _run(spark, parser, ["x|y|z", "no-delim"])
    assert got[0]["a"] == "x" and got[0]["b"] == "y|z"
    assert got[1]["a"] == "no-delim" and got[1]["b"] is None


WAF_REGEX = r"^(?P<ts>.*?) - (?P<levelname>.*?) - (?P<body>.*?)$"
REGEX_MESSAGES = [
    "2020-08-19 22:11:59,515 - ERROR - No matched file: /waf/system_service",
    "no separator here",              # no match -> columns stay NULL
    " - - ",                          # empty groups -> ""
    "a - b - c - d",                  # non-greedy split
    None,
]


@pytest.mark.parametrize("strategy", ["native", "grok"])
def test_regex_parser_parity(spark, strategy):
    parser = ParserSpec(mode="regex", regex=WAF_REGEX)
    got = _run(spark, parser, REGEX_MESSAGES, regex_strategy=strategy)
    want = _oracle(parser, REGEX_MESSAGES)
    for g, w in zip(got, want):
        for c in ("ts", "levelname", "body"):
            assert g.get(c) == w.get(c), (strategy, g, w)


@pytest.mark.parametrize("strategy", ["native", "grok"])
def test_regex_optional_group(spark, strategy):
    # participating-vs-missing group semantics
    pat = r"^(?P<a>x)(?P<b>y)?$"
    msgs = ["xy", "x", "zzz", None]
    parser = ParserSpec(mode="regex", regex=pat)
    got = _run(spark, parser, msgs, regex_strategy=strategy)
    want = _oracle(parser, msgs)
    for g, w in zip(got, want):
        assert g.get("a") == w.get("a"), (strategy, g, w)
        assert g.get("b") == w.get("b"), (strategy, g, w)


JSON_MESSAGES = [
    '{"level":"ERROR","k":87,"body":"hi"}',
    '{"level":"INFO"}',                      # absent keys -> NULL
    '{"level":"INFO","k":1.5,"body":""}',
    "{broken",                               # corrupt -> dropped + counted
    "[1,2,3]",                               # non-object -> dropped (Go parity)
    None,                                    # null message passes through
]


def test_jsonify_parse_and_drop(spark):
    parser = ParserSpec(
        mode="jsonify",
        columns=["level", "k", "body"],
        types={"level": "string", "k": "double", "body": "string"},
    )
    got = _run(spark, parser, JSON_MESSAGES)
    want = _oracle(parser, JSON_MESSAGES)
    for g, w in zip(got, want):
        assert g[DROP_COL] == w["_reason"], (g, w)
        if w["_reason"] is None:
            for c in ("level", "k", "body"):
                assert g.get(c) == w.get(c), (g, w)


GROK_PATTERNS = {
    "waf": r"^(?P<ts>.*?) - (?P<levelname>.*?) - (?P<body>.*?)$",
    "kv": r"^k=(?P<k>\w+) v=(?P<v>\w+)$",
    "num": r"^(?P<num>\d+)$",
}
GROK_MESSAGES = [
    "2020-08-19 22:11:59,515 - ERROR - No matched file",
    "k=alpha v=beta",
    "12345",
    "matches nothing at all",
    "k=x v=y - but - waf wins",   # dictionary ORDER decides: waf first
    None,
]


@pytest.mark.parametrize("strategy", ["native", "grok"])
def test_grok_dictionary_first_match_wins(spark, strategy):
    from logagent_spark.config import ParserSpec

    parser = ParserSpec(mode="grok", patterns=GROK_PATTERNS)
    got = _run(spark, parser, GROK_MESSAGES, regex_strategy=strategy)
    want = _oracle(parser, GROK_MESSAGES)
    cols = ["grok_pattern", "ts", "levelname", "body", "k", "v", "num"]
    for g, w in zip(got, want):
        for c in cols:
            assert g.get(c) == w.get(c), (c, g, w)
    assert got[0]["grok_pattern"] == "waf"
    assert got[1]["grok_pattern"] == "kv" and got[1]["k"] == "alpha"
    assert got[2]["num"] == "12345"
    assert got[3]["grok_pattern"] is None
    assert got[4]["grok_pattern"] == "waf"


# ---------------------------------------------------------------------------
# round-2 regressions / extensions


@pytest.mark.parametrize("strategy", ["native", "grok"])
def test_regex_underscored_group_names(spark, strategy):
    """snake_case group names (e.g. %{IPV4:client_ip}) must compile:
    java.util.regex rejects underscores in (?<name>...), so the JVM
    pattern strips names and extracts positionally."""
    parser = ParserSpec(
        mode="regex",
        regex=r"(?P<client_ip>\d+\.\d+\.\d+\.\d+) (?P<http_status>\d{3})",
    )
    rows = _run(spark, parser, ["10.0.0.1 200 ok", "nope"],
                regex_strategy=strategy)
    assert rows[0]["client_ip"] == "10.0.0.1"
    assert rows[0]["http_status"] == "200"
    assert rows[1]["client_ip"] is None


KEEP_EXISTING_PARSERS = {
    "regex": ParserSpec(mode="regex", regex=r"match (?P<num>\d+)"),
    "grok": ParserSpec(mode="grok", patterns={
        "num": r"match (?P<num>\d+)",
        "word": r"^(?P<word>[a-z]+)$",
    }),
}
KEEP_EXISTING_MESSAGES = [
    "match 1",          # matched (grok: won by `num`, which lacks `word`)
    "no digits here",   # unmatched
    None,               # NULL message: the parser is a no-op
    "wordonly",         # grok: won by `word`, which lacks `num`
]


@pytest.mark.parametrize("strategy", ["native", "grok"])
@pytest.mark.parametrize("mode", ["regex", "grok"])
def test_regex_no_match_keeps_preexisting_string_column(spark, mode,
                                                        strategy):
    """Go leaves the row untouched where the parser writes nothing
    (task.go:227-236): pre-existing string columns named like an output
    must survive unmatched rows, NULL messages and — in a grok
    dictionary — groups the winning pattern lacks, instead of being
    overwritten with NULL. Every mode x strategy equals the oracle."""
    parser = KEEP_EXISTING_PARSERS[mode]
    old = ("num", "word", "grok_pattern")
    df = spark.createDataFrame(
        [(i, m, *(f"old_{c}{i}" for c in old))
         for i, m in enumerate(KEEP_EXISTING_MESSAGES)],
        "id long, message string, num string, word string, "
        "grok_pattern string",
    )
    pipe = CompiledPipeline(PipelineSpec(parser=parser),
                            regex_strategy=strategy)
    got = {r["id"]: r.asDict() for r in pipe.transform(df).frame.collect()}
    for i, m in enumerate(KEEP_EXISTING_MESSAGES):
        want = {c: f"old_{c}{i}" for c in old}
        if m is not None:
            want["message"] = m
        oracle.parse_row(parser, want)
        assert {c: got[i][c] for c in old} == {c: want[c] for c in old}, (
            mode, strategy, m)
    assert got[0]["num"] == "1"              # matched: overwritten
    assert got[1]["num"] == "old_num1"       # unmatched: kept


def test_csv_short_row_keeps_preexisting_string_column(spark):
    df = spark.createDataFrame(
        [(0, "a,b,c", "oldc3"), (1, "only", "kept")],
        "id long, message string, c3 string",
    )
    spec = PipelineSpec(parser=ParserSpec(
        mode="csv", delimiters=",", columns=["c1", "c2", "c3"]))
    rows = {r["id"]: r for r in
            CompiledPipeline(spec).transform(df).frame.collect()}
    assert rows[0]["c3"] == "c"
    assert rows[1]["c3"] == "kept"


def test_jsonify_attrs_overflow(spark):
    """Undeclared top-level keys land in the attrs map (reference merges
    ALL keys, task.go:244-250); declared keys stay typed columns and are
    excluded from the map; validators resolve undeclared columns against
    the map."""
    from pyspark.sql import functions as F

    from logagent_spark.config import ValidatorSpec
    from logagent_spark.operators.validators import compile_gate

    parser = ParserSpec(mode="jsonify", columns=["k"],
                        types={"k": "double"}, attrs="attrs")
    spec = PipelineSpec(parser=parser)
    msgs = [
        '{"k": 1, "et": "error", "n": 7}',
        '{"k": 2}',
        "corrupt {",
    ]
    res = CompiledPipeline(spec).transform(_msg_df(spark, msgs))
    rows = {r["id"]: r for r in res.frame.collect()}
    assert rows[0]["k"] == 1.0
    assert rows[0]["attrs"] == {"et": "error", "n": "7"}
    assert rows[1]["attrs"] == {}
    assert rows[2][DROP_COL] == "parse_error:jsonify"

    gate = compile_gate(
        [ValidatorSpec(mode="required", column="et"),
         ValidatorSpec(mode="value", column="et", value="error")],
        res.schema,
    )
    ok = {r["id"]: r["ok"] for r in res.frame.select(
        "id", F.coalesce(gate, F.lit(False)).alias("ok")).collect()}
    assert ok[0] is True and ok[1] is False
    # numeric modes on attrs values compile to False (Go: json numbers
    # are float64, `.(int)` fails — validator.go:69-83)
    gate_num = compile_gate(
        [ValidatorSpec(mode="minvalue", column="n", number=1)], res.schema)
    ok_num = {r["id"]: r["ok"] for r in res.frame.select(
        "id", F.coalesce(gate_num, F.lit(False)).alias("ok")).collect()}
    assert ok_num[0] is False


def test_jsonify_attrs_custom_column_name(spark):
    """The overflow map can be named anything (ParserSpec.attrs);
    validators on undeclared columns resolve against it via the threaded
    configured name (CompiledPipeline always threads it). WITHOUT the
    threaded name, only a literal 'attrs' map is trusted — a bare map
    column under any other name could be a genuine parsed field, and
    validating undeclared columns against the wrong map is worse than
    the honest lit(False)."""
    from pyspark.sql import functions as F

    from logagent_spark.config import ValidatorSpec
    from logagent_spark.operators.validators import compile_gate

    parser = ParserSpec(mode="jsonify", columns=["k"],
                        types={"k": "double"}, attrs="extra")
    spec = PipelineSpec(parser=parser)
    msgs = ['{"k": 1, "et": "error"}', '{"k": 2}']
    res = CompiledPipeline(spec).transform(_msg_df(spark, msgs))
    assert {r["id"]: r["extra"] for r in res.frame.collect()} == {
        0: {"et": "error"}, 1: {},
    }
    gate = compile_gate(
        [ValidatorSpec(mode="value", column="et", value="error")],
        res.schema, attrs_col="extra",
    )
    ok = {r["id"]: r["ok"] for r in res.frame.select(
        "id", F.coalesce(gate, F.lit(False)).alias("ok")).collect()}
    assert ok == {0: True, 1: False}

    # unthreaded + non-'attrs' name: conservative — validator on an
    # undeclared column compiles to False for every row
    gate_bare = compile_gate(
        [ValidatorSpec(mode="value", column="et", value="error")],
        res.schema,
    )
    ok_bare = {r["id"]: r["ok"] for r in res.frame.select(
        "id", F.coalesce(gate_bare, F.lit(False)).alias("ok")).collect()}
    assert ok_bare == {0: False, 1: False}

    # end-to-end: the PIPELINE's per-handler gate threads the name too
    spec2 = PipelineSpec.from_dict({
        "Parser": {"Mode": "jsonify", "Columns": ["k"],
                   "Types": {"k": "double"}, "attrs": "extra"},
        "Handlers": [
            {"Mode": "stream", "Name": "errors", "Template": "${k}",
             "Validators": [{"Mode": "value", "Column": "et",
                             "Value": "error"}]},
        ],
    })
    pipe = CompiledPipeline(spec2)
    routed = pipe.routed(pipe.transform(_msg_df(spark, msgs)))
    assert [r["id"] for r in routed.collect()] == [0]
