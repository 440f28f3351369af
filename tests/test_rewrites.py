"""Rewrite-chain parity vs the oracle: set/subst/mapping/jsonify/
unjsonify/splicing composition order, drop accounting, lookup join."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from logagent_spark import oracle
from logagent_spark.config import PipelineSpec, RewriteSpec, SpecError
from logagent_spark.plans.pipeline import DROP_COL, CompiledPipeline

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("message", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("n", T.LongType()),
])

ROWS = [
    {"id": 0, "message": "aaa bbb", "lang": "en", "n": 1},
    {"id": 1, "message": "zzz", "lang": "de", "n": None},
    {"id": 2, "message": None, "lang": "xx", "n": 3},       # mapping miss
    {"id": 3, "message": "a{a", "lang": None, "n": 4},      # null key passes mapping
    {"id": 4, "message": '{"k":7,"s":"v"}', "lang": "en", "n": 5},
]


def _run_both(spark, spec: PipelineSpec):
    df = spark.createDataFrame(ROWS, schema=SCHEMA)
    pipe = CompiledPipeline(spec)
    res = pipe.transform(df)
    got = {r["id"]: r.asDict() for r in res.frame.collect()}

    want = {}
    for row in ROWS:
        msg = {k: v for k, v in row.items() if v is not None}
        reason = None
        try:
            for rw in spec.rewrites:
                oracle.rewrite_row(rw, msg)
        except oracle.RowError as e:
            reason = e.reason
        msg["_reason"] = reason
        want[row["id"]] = msg
    return got, want


def _assert_parity(got, want, cols):
    for i, w in want.items():
        g = got[i]
        assert g[DROP_COL] == w["_reason"], (g, w)
        if w["_reason"] is None:
            for c in cols:
                gv = g.get(c)
                wv = w.get(c)
                if isinstance(gv, (bytes, bytearray)) or isinstance(wv, bytes):
                    gv = bytes(gv) if gv is not None else None
                assert gv == wv, (c, g, w)


def test_set_subst_splicing_chain(spark):
    spec = PipelineSpec(rewrites=[
        RewriteSpec(mode="set", column="env", value="prod"),
        RewriteSpec(mode="subst", column="message", old="a", value="X"),
        RewriteSpec(mode="subst", column="missing", old="a", value="X"),
        RewriteSpec(mode="splicing", key="joined",
                    columns=["env", "message", "n", "nope"], delimiters="|"),
        RewriteSpec(mode="subst", column="joined", old="|", value="/"),
    ])
    got, want = _run_both(spark, spec)
    _assert_parity(got, want, ["env", "message", "joined"])


def test_mapping_hit_miss_null(spark):
    spec = PipelineSpec(rewrites=[
        RewriteSpec(mode="mapping", column="lang",
                    mapping={"en": "english", "de": "german"}),
        RewriteSpec(mode="set", column="after", value="ran"),
    ])
    got, want = _run_both(spark, spec)
    _assert_parity(got, want, ["lang", "after"])
    # xx row must be dropped with the mapping reason
    assert got[2][DROP_COL] == "mapping_miss:lang"
    # null lang passes through unmapped (Go type-assert miss -> no-op)
    assert got[3][DROP_COL] is None and got[3]["lang"] is None


def test_jsonify_rewrite_and_unjsonify(spark):
    spec = PipelineSpec(rewrites=[
        RewriteSpec(mode="jsonify", column="message",
                    types={"k": "double", "s": "string"}),
    ])
    got, want = _run_both(spark, spec)
    # only row 4 parses; others drop (non-JSON strings) or pass (null msg)
    assert got[4][DROP_COL] is None
    assert got[4]["message_k"] == 7.0 and got[4]["message_s"] == "v"
    assert got[0][DROP_COL] == "parse_error:jsonify_rewrite:message"
    assert got[2][DROP_COL] is None  # null message: no-op


def test_unjsonify_string_encoding(spark):
    spec = PipelineSpec(rewrites=[
        RewriteSpec(mode="unjsonify", column="message"),
    ])
    got, want = _run_both(spark, spec)
    _assert_parity(got, want, ["message"])


def test_lookup_broadcast_enrich(spark):
    lookup_cfg = {
        "key": "lang",
        "table": [
            {"lang": "en", "lang_name": "English", "geo": "US"},
            {"lang": "de", "lang_name": "German", "geo": "DE"},
        ],
        "output": {"lang_name": "string", "geo": "string"},
        "on_miss": "drop",
    }
    spec = PipelineSpec(rewrites=[RewriteSpec(mode="lookup", lookup=lookup_cfg)])
    got, want = _run_both(spark, spec)
    _assert_parity(got, want, ["lang", "lang_name", "geo"])
    assert got[2][DROP_COL] == "lookup_miss:lang"
    assert got[3][DROP_COL] is None  # null key passes with null outputs


def test_lookup_path_enrich(spark, tmp_path):
    """The `path` lookup source: a parquet table, deduplicated on the
    key, broadcast-joined like an inline `table`. A key missing from the
    file (`xx`) drops the row as `lookup_miss:<key>`; a NULL key passes
    with NULL outputs."""
    path = str(tmp_path / "langs")
    spark.createDataFrame(
        [("en", "English", "US"), ("de", "German", "DE"),
         ("en", "English", "US")],
        "lang string, lang_name string, geo string",
    ).write.parquet(path)
    spec = PipelineSpec(rewrites=[RewriteSpec(mode="lookup", lookup={
        "key": "lang", "path": path,
        "output": {"lang_name": "string", "geo": "string"},
        "on_miss": "drop",
    })])
    res = CompiledPipeline(spec).transform(
        spark.createDataFrame(ROWS, schema=SCHEMA))
    got = {r["id"]: (r["lang_name"], r["geo"], r[DROP_COL])
           for r in res.frame.collect()}
    assert got == {
        0: ("English", "US", None),
        1: ("German", "DE", None),
        2: (None, None, "lookup_miss:lang"),
        3: (None, None, None),
        4: ("English", "US", None),
    }


@pytest.mark.parametrize("on_miss", ["keep", "drop"])
def test_lookup_twin_first_row_wins_and_null_output_misses(spark, on_miss):
    """The oracle's lookup twin agrees with the engine on a table with a
    duplicated key and a key whose output is NULL: the FIRST row of a key
    wins, and under `on_miss: drop` a hit whose first output is NULL is a
    miss (`lookup_miss:<key>`), like a key absent from the table."""
    spec = PipelineSpec(rewrites=[RewriteSpec(mode="lookup", lookup={
        "key": "lang",
        "table": [{"lang": "en", "o": "first"},
                  {"lang": "en", "o": "second"},
                  {"lang": "de", "o": None}],
        "output": {"o": "string"}, "on_miss": on_miss,
    })])
    got, want = _run_both(spark, spec)
    _assert_parity(got, want, ["lang", "o"])
    miss = "lookup_miss:lang" if on_miss == "drop" else None
    assert {i: (g["o"], g[DROP_COL]) for i, g in got.items()} == {
        0: ("first", None), 1: (None, miss), 2: (None, miss),
        3: (None, None), 4: ("first", None),
    }


KEYS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("message", T.StringType()),
    T.StructField("ks", T.StringType()),
    T.StructField("kl", T.LongType()),
    T.StructField("kd", T.DoubleType()),
    T.StructField("kb", T.BooleanType()),
])
KEYS_ROWS = [
    (0, "m", "a", 1, 0.5, True),
    (1, "m", "b", 2, 1.5, False),
    (2, "m", "zz", 9, 9.5, None),     # misses; NULL boolean key
    (3, "m", None, None, None, True),  # NULL keys pass
]
TYPED_OUT = {"str": "string", "long": "long", "dbl": "double",
             "bool": "boolean"}


def _typed_lookup(key, prefix, on_miss, table):
    """A lookup on `key` whose outputs are `<prefix>_str/long/dbl/bool`;
    `table` rows are (key, str, long, double, bool) tuples."""
    names = [key] + [f"{prefix}_{t}" for t in TYPED_OUT]
    return RewriteSpec(mode="lookup", lookup={
        "key": key, "on_miss": on_miss,
        "table": [dict(zip(names, r)) for r in table],
        "output": {f"{prefix}_{t}": n for t, n in TYPED_OUT.items()},
    })


def test_lookup_table_typed_keys_outputs_nulls_and_duplicates(spark):
    """Inline tables keyed on string, long, double and boolean columns,
    with outputs of all four types: the first row of a duplicated key
    wins, a table row with NULL outputs enriches with NULLs (and, with
    `on_miss: drop`, drops the row when the first output is NULL), a
    NULL key in the table or in the data never matches, and the first
    failing lookup in config order names the drop."""
    spec = PipelineSpec(rewrites=[
        _typed_lookup("ks", "s", "keep", [
            ("a", "A", 10, 1.25, True),
            ("a", "A2", 11, 2.25, False),          # duplicate: first wins
            ("b", None, None, None, None),
        ]),
        _typed_lookup("kl", "l", "drop", [
            (1, "one", -1, 0.25, False),
            (2, "two", 2, None, None),
            (None, "nullkey", 0, 0.0, True),       # never matches
        ]),
        _typed_lookup("kd", "d", "drop", [
            (0.5, "half", 5, 2.5, True),
            (1.5, None, 3, None, None),            # NULL probe: a miss
        ]),
        _typed_lookup("kb", "b", "drop", [
            (True, "yes", 1, 1.0, True),
            (True, "yes2", 2, 2.0, False),         # duplicate: first wins
            (False, "no", 0, 0.0, False),
        ]),
    ])
    res = CompiledPipeline(spec).transform(
        spark.createDataFrame(KEYS_ROWS, schema=KEYS_SCHEMA))
    assert res.reasons == ["lookup_miss:kl", "lookup_miss:kd",
                           "lookup_miss:kb"]
    cols = [f"{p}_{t}" for p in "sldb" for t in TYPED_OUT] + [DROP_COL]
    assert [res.schema[c] for c in cols[:4]] == [
        T.StringType(), T.LongType(), T.DoubleType(), T.BooleanType()]
    got = {r["id"]: tuple(r[c] for c in cols) for r in res.frame.collect()}
    none4 = (None,) * 4
    assert got == {
        0: ("A", 10, 1.25, True) + ("one", -1, 0.25, False)
           + ("half", 5, 2.5, True) + ("yes", 1, 1.0, True) + (None,),
        1: none4 + ("two", 2, None, None) + (None, 3, None, None)
           + ("no", 0, 0.0, False) + ("lookup_miss:kd",),
        2: none4 * 4 + ("lookup_miss:kl",),
        3: none4 * 3 + ("yes", 1, 1.0, True) + (None,),
    }


def test_lookup_table_string_columns_coerce_like_create_dataframe(spark):
    """A non-str value in a string key or output column is coerced as
    `createDataFrame` coerces it: Python `str`, except booleans, which
    read `true`/`false`. So a table key 200 matches the string "200"."""
    spec = PipelineSpec(rewrites=[RewriteSpec(mode="lookup", lookup={
        "key": "lang", "on_miss": "keep", "output": {"tag": "string"},
        "table": [{"lang": 200, "tag": True}, {"lang": 1e20, "tag": 1.5},
                  {"lang": False, "tag": [1, 2]}],
    })])
    frame = spark.createDataFrame(
        [("200",), ("1e+20",), ("false",), ("1.0E20",)], "lang string")
    got = {r["lang"]: r["tag"]
           for r in CompiledPipeline(spec).transform(frame).frame.collect()}
    assert got == {"200": "true", "1e+20": "1.5", "false": "[1, 2]",
                   "1.0E20": None}


@pytest.mark.parametrize("key, row", [
    ("lang", {"lang": "en", "rank": "ten"}),
    ("lang", {"lang": "en", "rank": 1.5}),
    ("lang", {"lang": "en", "rank": True}),
    ("n", {"n": "1", "rank": 10}),
], ids=["str_for_long", "double_for_long", "bool_for_long", "str_long_key"])
def test_lookup_table_value_of_wrong_type_is_rejected(spark, key, row):
    """A table value that a non-string column cannot hold fails the
    transform, before any job runs, rather than turning into NULL."""
    spec = PipelineSpec(rewrites=[RewriteSpec(mode="lookup", lookup={
        "key": key, "table": [row], "output": {"rank": "long"},
    })])
    pipe = CompiledPipeline(spec)
    with pytest.raises(TypeError):
        pipe.transform(spark.createDataFrame(ROWS, schema=SCHEMA))


def test_lookup_without_table_or_path_is_a_spec_error():
    """A lookup must name its source: without `table` or `path` the spec
    is rejected at validation, not with a KeyError at transform time."""
    spec = PipelineSpec(rewrites=[RewriteSpec(mode="lookup", lookup={
        "key": "lang", "output": {"lang_name": "string"},
    })])
    with pytest.raises(SpecError, match="table or path"):
        CompiledPipeline(spec)


def test_command_rewrite(spark):
    """Reference runs the bare binary per row and stores raw stdout
    (task.go:336-351); our batch engine executes it once at compile time
    — deterministic commands give identical columns (documented
    divergence, SURVEY.md §2.3). `/bin/echo` with no args emits "\\n"."""
    spec = PipelineSpec(rewrites=[
        RewriteSpec(mode="command", column="out", command="/bin/echo"),
    ])
    got, want = _run_both(spark, spec)
    _assert_parity(got, want, ["out"])
    assert all(r["out"] == "\n" for r in got.values())


def test_command_rewrite_failure_is_config_fatal(spark):
    """A failing command errors at compile time (the reference drops
    every row and logs per message — compile-fatal is the batch
    equivalent of a 100% drop)."""
    import pytest as _pytest

    spec = PipelineSpec(rewrites=[
        RewriteSpec(mode="command", column="out", command="/bin/false"),
    ])
    df = spark.createDataFrame(ROWS, schema=SCHEMA)
    with _pytest.raises(Exception):
        CompiledPipeline(spec).transform(df)


def test_scrub_rewrite(spark):
    """scrub (extension): ordered pattern->token redaction, all
    occurrences; non-string/missing column is a no-op like subst."""
    from pyspark.sql import functions as F

    from logagent_spark.config import PipelineSpec, SpecError
    from logagent_spark.plans.pipeline import CompiledPipeline

    spec = PipelineSpec.from_dict({
        "Rewrites": [{"Mode": "scrub", "Column": "msg", "Mapping": {
            r"[a-z]+@[a-z.]+": "<EMAIL>",
            r"\d+": "<NUM>",
        }}],
    })
    df = spark.createDataFrame(
        [(0, "mail me at bob@x.co or 555 1234"), (1, None)],
        "id long, msg string",
    )
    got = {r["id"]: r["msg"] for r in
           CompiledPipeline(spec).transform(df).frame.collect()}
    assert got[0] == "mail me at <EMAIL> or <NUM> <NUM>"
    assert got[1] is None
    # non-string column: no-op
    spec2 = PipelineSpec.from_dict({
        "Rewrites": [{"Mode": "scrub", "Column": "id",
                      "Mapping": {r"\d": "x"}}],
    })
    out = CompiledPipeline(spec2).transform(df).frame
    assert {r["id"] for r in out.collect()} == {0, 1}
    # config validation: mapping required
    import pytest as _pt
    with _pt.raises(SpecError):
        PipelineSpec.from_dict(
            {"Rewrites": [{"Mode": "scrub", "Column": "msg"}]})
    _ = F
