"""Standalone oracle gates for queries retired from the 50-row driver
registry in the r4 consolidation that bench.py still calls (plain region
revenue, brute-force top-k). Retired from the DRIVER window, not from
verification: same row-count / column / value-hash compare as the
registry gate, directly against DuckDB at sf0.01. Retired gates with no
caller left are deleted, not kept here."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest

from logagent_spark import queries as q

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

RETIRED = [
    ("tpch_region_revenue", q.q_tpch_region_revenue,
     q.SQL_TPCH_REGION_REVENUE),
    ("similarity_topk", q.q_similarity_topk, q.SQL_SIMILARITY_TOPK),
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, bool):
        return str(int(v))
    if hasattr(v, "item"):
        return _norm(v.item())
    return str(v)


@pytest.mark.parametrize("name,fn,sql", RETIRED, ids=[r[0] for r in RETIRED])
def test_retired_gate_matches_oracle(spark, ddb, name, fn, sql):
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = sdf.collect()
    res = ddb.sql(sql)
    drows = res.fetchall()
    dcols = list(res.columns)
    assert sorted(scols) == sorted(dcols), (name, scols, dcols)
    assert len(srows) == len(drows), (name, len(srows), len(drows))
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
    a = sorted(tuple(_norm(r[scols[i]]) for i in order_s) for r in srows)
    b = sorted(tuple(_norm(r[i]) for i in order_d) for r in drows)
    assert a == b, name
