"""Leaky-bucket rate limiting: the simulation core against hand-computed
Go semantics, the batch operator against the core, and the stateful
streaming operator against the batch operator across micro-batch
boundaries (state must persist between triggers)."""

from __future__ import annotations

import os
import random
import re

import pytest
from pyspark.sql import functions as F

from logagent_spark.streaming.ratelimit import (
    admitted_counts,
    rate_limited,
    rate_limited_batch,
    simulate_bucket,
)


def test_simulate_bucket_go_semantics():
    # size=2, leak 1 unit / 10s. Burst of 3 at t=0: third pour rejected
    # (fill 2 + 1 > 2). At t=5, 0.5 leaked -> fill 1.5, +1 = 2.5 > 2
    # rejected AND last_ts advances (Go updates Lastupdate on reject).
    # At t=6 only 0.1 more leaked (5->6), fill 1.4, +1 = 2.4 > 2 reject.
    # At t=20: 1.4 units leak over 14s -> fill 0, admitted.
    adm, fill, last = simulate_bucket([0, 0, 0, 5, 6, 20], 2, 10.0)
    assert adm.tolist() == [True, True, False, False, False, True]
    assert last == 20.0
    assert fill == pytest.approx(1.0)


def test_simulate_bucket_exact_boundary():
    # newfill == size is admitted (strict > rejects, leakybucket.go:46)
    adm, _, _ = simulate_bucket([0.0, 100.0], 1, 100.0)
    assert adm.tolist() == [True, True]


@pytest.fixture()
def events(spark):
    # two hosts with different burst shapes; timestamps in seconds
    rows = []
    for i in range(20):
        rows.append(("a.com", i // 4, i))        # burst: 4 msgs/sec
    for i in range(10):
        rows.append(("b.com", i * 30, 100 + i))  # slow: 1 msg / 30s
    return spark.createDataFrame(
        rows, "host string, sec long, msg_id long"
    ).select(
        "host", F.timestamp_seconds("sec").alias("ts"), "msg_id"
    )


def test_batch_matches_core(spark, events):
    out = rate_limited_batch(
        events, "host", "ts", size=3, leak_interval_s=2.0,
        payload_cols=["msg_id"],
    ).collect()
    got = {
        h: [r["admitted"] for r in sorted(out, key=lambda r: (r["ts"], r["msg_id"]))
            if r["host"] == h]
        for h in ("a.com", "b.com")
    }
    rows = {"a.com": [i // 4 for i in range(20)],
            "b.com": [i * 30 for i in range(10)]}
    for h, ts in rows.items():
        expect, _, _ = simulate_bucket(ts, 3, 2.0)
        assert got[h] == expect.tolist()
    # the slow host never overflows a size-3 bucket leaking 1/2s
    counts = {r["host"]: r for r in admitted_counts(
        rate_limited_batch(events, "host", "ts", size=3, leak_interval_s=2.0),
        "host").collect()}
    assert counts["b.com"]["n_admitted"] == counts["b.com"]["n_total"]
    assert counts["a.com"]["n_admitted"] < counts["a.com"]["n_total"]


def _stream_limited(spark, parts, tmp_path, name, **kw):
    """Run the streaming twin over `parts` written as one parquet file
    each, one file per trigger; returns the memory sink's rows."""
    in_dir = str(tmp_path / f"{name}_in")
    for k, part in enumerate(parts):
        part.coalesce(1).write.parquet(os.path.join(in_dir, f"f={k}"))
    stream = (
        spark.readStream.schema("host string, ts timestamp, msg_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir + "/f=*")
    )
    q = (
        rate_limited(stream, "host", "ts", payload_cols=["msg_id"], **kw)
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name).collect()


def test_streaming_state_persists_across_triggers(spark, events, tmp_path):
    """Split the input into two time-ordered files; one file per trigger.
    The bucket fill must carry over: streaming result == batch result on
    the full input."""
    early = events.filter(F.col("ts") < F.timestamp_seconds(F.lit(3)))
    late = events.filter(F.col("ts") >= F.timestamp_seconds(F.lit(3)))
    stream_rows = {
        (r["host"], r["msg_id"]): r["admitted"]
        for r in _stream_limited(spark, [early, late], tmp_path,
                                 "rl_stream_out", size=3,
                                 leak_interval_s=2.0)
    }
    batch_rows = {
        (r["host"], r["msg_id"]): r["admitted"]
        for r in rate_limited_batch(
            events, "host", "ts", size=3, leak_interval_s=2.0,
            payload_cols=["msg_id"],
        ).collect()
    }
    assert stream_rows == batch_rows
    # sanity: the split boundary actually cut host a.com's burst in two,
    # so equality proves fill survived the trigger boundary
    assert any(not adm for adm in batch_rows.values())


def test_null_order_col_sorts_first_in_both_twins(spark, tmp_path):
    """A NULL in an order column sorts first in both twins, so ts ties
    broken by a NULL id admit the same rows: here the NULL-id pour at
    t=0 is admitted and msg 3 is rejected (NULLs last would flip both)."""
    ev = spark.createDataFrame(
        [("a", 0, None), ("a", 0, 1), ("a", 0, 2), ("a", 0, 3),
         ("a", 9, 4)], "host string, sec long, msg_id long",
    ).select("host", F.timestamp_seconds("sec").alias("ts"), "msg_id")
    kw = dict(size=3, leak_interval_s=100.0, order_cols=["ts", "msg_id"])
    want = [(None, True), (1, True), (2, True), (3, False), (4, False)]

    def pairs(rows):
        return sorted(((r["msg_id"], r["admitted"]) for r in rows),
                      key=lambda p: -1 if p[0] is None else p[0])

    assert pairs(rate_limited_batch(
        ev, "host", "ts", payload_cols=["msg_id"], **kw).collect()) == want
    assert pairs(_stream_limited(spark, [ev], tmp_path, "rl_null_id",
                                 **kw)) == want


# ---------------------------------------------------------------------------
# property tests (pure python — no Spark session)

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        ts=st.lists(
            st.floats(min_value=0, max_value=1e6,
                      allow_nan=False, allow_infinity=False),
            min_size=1, max_size=200,
        ).map(sorted),
        size=st.integers(min_value=1, max_value=10),
        leak=st.floats(min_value=0.1, max_value=1e4),
    )
    def test_simulate_bucket_invariants(ts, size, leak):
        adm, fill, last = simulate_bucket(ts, size, leak)
        assert 0.0 <= fill <= size + 1e-9          # fill stays in [0, size]
        assert last == ts[-1]                       # clock tracks every pour
        assert bool(adm[0])                         # empty bucket admits
        # conservation: admits = final fill + total leaked, and leaked
        # is at most elapsed/leak_interval
        elapsed = ts[-1] - ts[0]
        assert adm.sum() <= size + elapsed / leak + 1e-6
except ImportError:  # pragma: no cover
    pass


def test_null_ts_rows_admitted_and_stateless(spark, events):
    """NULL event-time rows: admitted unconditionally and bucket state
    untouched (they sort first within their key, ahead of every pour)."""
    nulls = spark.createDataFrame(
        [("a.com", None, 900), ("c.com", None, 901)],
        "host string, sec long, msg_id long",
    ).select("host", F.timestamp_seconds("sec").alias("ts"), "msg_id")
    ev = events.unionByName(nulls)
    kw = dict(size=3, leak_interval_s=2.0, payload_cols=["msg_id"],
              order_cols=["ts", "msg_id"])

    got = {(r["host"], r["msg_id"]): r["admitted"]
           for r in rate_limited_batch(ev, "host", "ts", **kw).collect()}
    assert len(got) == ev.count()
    assert got[("a.com", 900)] and got[("c.com", 901)]
    # state untouched: a.com's timed rows admit exactly as without nulls
    base = {(r["host"], r["msg_id"]): r["admitted"]
            for r in rate_limited_batch(events, "host", "ts", **kw).collect()}
    assert all(got[k] == v for k, v in base.items())


def test_simulate_bucket_clamps_late_data():
    """An out-of-order pour (t < last_ts) must not anti-leak (grow fill)
    nor regress last_ts."""
    adm, fill, last = simulate_bucket([100.0, 50.0, 100.0], 2, 10.0)
    # t=50 leaks nothing (late), t=100 again leaks nothing (elapsed 0)
    assert adm.tolist() == [True, True, False]
    assert last == 100.0


def _hot_key_rows():
    """One hot key with hundreds of rows (second-resolution ts, so many
    ties, and every 37th ts NULL) plus a few light keys."""
    rng = random.Random(15)
    rows = [("hot", None if i % 37 == 0 else rng.randrange(0, 240), i)
            for i in range(700)]
    rows += [(f"light{h}", None if i == 3 else rng.randrange(0, 60),
              1000 + 100 * h + i) for h in range(4) for i in range(12)]
    return rows


def test_hot_key_state_carries_across_tiny_arrow_batches(spark):
    """With ~7-row Arrow batches the hot key reaches the emitter in 100
    batches; every key's admitted sequence must still equal ONE
    `simulate_bucket` pass over its (ts, msg_id)-ordered non-NULL rows,
    and its NULL-ts rows are all admitted. A bucket reset at any batch
    boundary admits rows this pass rejects."""
    rows = _hot_key_rows()
    ev = spark.createDataFrame(
        rows, "host string, sec long, msg_id long"
    ).select("host", F.timestamp_seconds("sec").alias("ts"), "msg_id")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        out = rate_limited_batch(
            ev, "host", "ts", size=4, leak_interval_s=1.5,
            payload_cols=["msg_id"], order_cols=["ts", "msg_id"],
        ).collect()
    finally:
        spark.conf.set(conf, old)
    got = {r["msg_id"]: r["admitted"] for r in out}
    assert len(got) == len(out) == len(rows)
    for host in {h for h, _, _ in rows}:
        timed = sorted((s, i) for h, s, i in rows if h == host and s is not None)
        expect, _, _ = simulate_bucket([s for s, _ in timed], 4, 1.5)
        assert [got[i] for _, i in timed] == expect.tolist(), host
        assert all(got[i] for h, s, i in rows if h == host and s is None)
    hot = [got[i] for h, _, i in rows if h == "hot"]
    assert 0 < sum(hot) < len(hot) // 2


def test_batch_plan_is_one_exchange_one_sort_one_arrow_emitter(spark, events):
    """One hash exchange on the key, one sort on (key, order cols), and
    the grouped Arrow emitter right above that sort: the groupBy reuses
    both, so no second shuffle or sort and no pandas group."""
    out = rate_limited_batch(
        events, "host", "ts", size=3, leak_interval_s=2.0,
        payload_cols=["msg_id"], order_cols=["ts", "msg_id"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = [ln.strip(" +-:*") for ln in plan.splitlines()]
    assert plan.count("Exchange ") == 1, plan
    assert plan.count("Exchange hashpartitioning(host#") == 1, plan
    sorts = [ln for ln in lines if ln.startswith("Sort [")]
    assert len(sorts) == 1, plan
    assert re.match(r"Sort \[host#\d+ ASC NULLS FIRST, ts#\d+ ASC NULLS FIRST, "
                    r"msg_id#\d+L ASC NULLS FIRST\], false", sorts[0]), plan
    # between the emitter and the sort sits only the Project that
    # prepends the grouping key to the group's columns
    emit = next(i for i, ln in enumerate(lines)
                if ln.startswith("FlatMapGroupsInArrow"))
    sort = lines.index(sorts[0])
    assert emit < sort, plan
    assert all(ln.startswith("Project [") for ln in lines[emit + 1:sort]), plan
    assert "InPandas" not in plan, plan


def test_building_the_batch_frame_starts_no_job(spark):
    """The operator is a lazy plan: building it runs no count, quantile
    or checkpoint job on the driver."""
    ev = spark.range(100).select(
        (F.col("id") % 3).alias("host"),
        F.timestamp_seconds("id").alias("ts"), F.col("id").alias("msg_id"),
    )
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = rate_limited_batch(
        ev, "host", "ts", size=3, leak_interval_s=2.0,
        payload_cols=["msg_id"], order_cols=["ts", "msg_id"],
    )
    assert set(st.getJobIdsForGroup(None)) == before
    assert out.count() == 100
