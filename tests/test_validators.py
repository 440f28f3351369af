"""Validator parity vs the oracle — incl. the traps: byte-length (not
chars), float64-fails-int comparisons, missing-column-fails, unanchored
regex search."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logagent_spark import oracle
from logagent_spark.config import ValidatorSpec
from logagent_spark.operators.validators import compile_validator

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("s", T.StringType()),
    T.StructField("n", T.LongType()),
    T.StructField("f", T.DoubleType()),
])

ROWS = [
    {"id": 0, "s": "hello", "n": 5, "f": 5.0},
    {"id": 1, "s": "héllo", "n": 10, "f": 1.5},   # é = 2 bytes
    {"id": 2, "s": None, "n": None, "f": None},   # missing everything
    {"id": 3, "s": "", "n": 0, "f": 0.0},
    {"id": 4, "s": "漢字漢字", "n": -3, "f": -3.0},  # 3-byte runes
]

VALIDATORS = [
    ValidatorSpec(mode="required", column="s"),
    ValidatorSpec(mode="required", column="nope"),
    ValidatorSpec(mode="type", column="s", type="string"),
    ValidatorSpec(mode="type", column="n", type="int"),
    ValidatorSpec(mode="type", column="n", type="float"),   # long != float64
    ValidatorSpec(mode="type", column="f", type="float"),
    ValidatorSpec(mode="value", column="s", value="hello"),
    ValidatorSpec(mode="value", column="n", value="5"),     # non-string fails
    ValidatorSpec(mode="number", column="n", number=5),
    ValidatorSpec(mode="number", column="f", number=5),     # float64 fails .(int)
    ValidatorSpec(mode="maxvalue", column="n", number=5),
    ValidatorSpec(mode="minvalue", column="n", number=0),
    ValidatorSpec(mode="maxlength", column="s", number=5),  # bytes!
    ValidatorSpec(mode="minlength", column="s", number=6),
    ValidatorSpec(mode="regex", column="s", regex="ll"),    # unanchored search
    ValidatorSpec(mode="regex", column="s", regex="^h.*o$"),
]


# the same `s` values as undeclared keys of the dynamic-key overflow map
# (jsonify Attrs extension): a NULL value is an absent key
ATTRS_SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
])
ATTRS_ROWS = [
    {"id": r["id"], "attrs": {} if r["s"] is None else {"s": r["s"]}}
    for r in ROWS
]
NUMERIC_MODES = {"number", "maxvalue", "minvalue"}


def _passes(df, pred) -> dict[int, bool]:
    pred = F.coalesce(pred, F.lit(False))
    return {r["id"]: r["ok"] for r in df.select("id", pred.alias("ok")).collect()}


@pytest.mark.parametrize("vspec", VALIDATORS, ids=lambda v: f"{v.mode}:{v.column}:{v.type}{v.value}{v.number}{v.regex}")
def test_validator_parity(spark, vspec):
    schema_map = {f.name: f.dataType for f in SCHEMA.fields}
    df = spark.createDataFrame(ROWS, schema=SCHEMA)
    got = _passes(df, compile_validator(vspec, schema_map))
    for row in ROWS:
        msg = {k: v for k, v in row.items() if v is not None}
        want = oracle.validate_row(vspec, msg)
        assert got[row["id"]] == want, (vspec, row)

    # one dispatcher: this validator on column `s` passes the same rows
    # whether `s` is the typed string column or a key of the overflow map
    on_s = dataclasses.replace(vspec, column="s")
    attrs_map = {f.name: f.dataType for f in ATTRS_SCHEMA.fields}
    typed = _passes(df, compile_validator(on_s, schema_map))
    over_map = _passes(
        spark.createDataFrame(ATTRS_ROWS, schema=ATTRS_SCHEMA),
        compile_validator(on_s, attrs_map, attrs_col="attrs"),
    )
    assert over_map == typed, on_s
    if on_s.mode in NUMERIC_MODES or (
            on_s.mode == "type" and on_s.type != "string"):
        assert not any(over_map.values()), on_s
