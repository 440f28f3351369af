"""Leaky-bucket rate limiting as a custom stateful streaming operator.

The reference ships a leaky bucket on its tail collector
(tail/ratelimiter/leakybucket.go:8-53, wired at
tail/tail.go:266-284): fill leaks continuously at one unit per
``LeakInterval``; ``Pour`` rejects a message when ``fill + amount``
would exceed ``Size`` — and rejection still advances ``Lastupdate``
(leakybucket.go:28-39 update unconditionally). SURVEY.md §2.6 parked it
as an ingestion concern; this module implements it properly for the
distributed engine, in event time:

  * streaming: ``applyInPandasWithState`` keyed by host — state is one
    ``(fill, last_event_us)`` pair per key, carried across micro-batches
    exactly where the reference carries it across ``Pour`` calls. The
    shuffle is the groupBy on the key; state volume is O(distinct keys),
    independent of throughput — this scales to 10^12 rows because state
    never holds rows, only two numbers per host;
  * batch: one hash exchange on the key, one sort on (key, event time)
    within partitions, and an iterator-form grouped ``applyInArrow``
    whose emitter walks a key's Arrow batches in order and carries the
    same two numbers from one batch to the next — a Zipf-hot key streams
    through its task batch by batch, never materialized as one group;
  * both call one pour step over epoch-µs timestamps, which wraps the
    pure-Python simulation core ``simulate_bucket``; the core doubles as
    the test oracle, so streaming, batch and oracle cannot drift.

Rows are processed in event-time order within a key (the reference
processes in arrival order; event time is the deterministic analog —
SURVEY.md §2.7 late-data note). Rejected rows are flagged, not silently
dropped, so drop accounting can ride the usual counters.

NULL event-time rows cannot be placed on the time axis: both twins
admit them unconditionally and leave bucket state untouched (they are
neither a pour nor a leak), so batch and streaming agree even on dirty
inputs.

The carried per-key state is ``(fill: float, last_us: int)``; the
microsecond conversion uses ``round`` — ``int()`` truncation could land
a resumed ``last_us`` one full microsecond low when the float
seconds→µs round-trip comes back 1 ulp under, diverging the leak math
of a key split across batches from one pass over the key.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["simulate_bucket", "rate_limited", "rate_limited_batch"]


def simulate_bucket(
    ts_seconds,
    size: float,
    leak_interval_s: float,
    fill: float = 0.0,
    last_ts: float | None = None,
) -> tuple[np.ndarray, float, float]:
    """Pour one unit per event (event-time ordered). Mirrors Go
    leakybucket.go exactly: leak only while fill > 0; Lastupdate
    advances on every pour, admitted or not; `newfill > size` rejects.
    Returns (admitted bool array, final fill, final last_ts).

    Late data: a pour with t < last_ts (possible only across streaming
    micro-batches — within a batch rows are event-time sorted) leaks
    nothing and does not regress last_ts; an unclamped (t - last_ts)
    would be negative and GROW the fill (anti-leak), spuriously
    rejecting subsequent rows."""
    ts = np.asarray(ts_seconds, dtype=np.float64)
    admitted = np.empty(len(ts), dtype=bool)
    if last_ts is None:
        last_ts = ts[0] if len(ts) else 0.0
    for i, t in enumerate(ts):
        if fill > 0 and t > last_ts:
            fill -= (t - last_ts) / leak_interval_s
            if fill < 0:
                fill = 0.0
        if t > last_ts:
            last_ts = t
        if fill + 1.0 > size:
            admitted[i] = False
        else:
            fill += 1.0
            admitted[i] = True
    return admitted, fill, float(last_ts)


def _pour(
    us: np.ndarray,
    valid: np.ndarray,
    size: float,
    leak_interval_s: float,
    fill: float,
    last_us: int | None,
) -> tuple[np.ndarray, float, int | None]:
    """Pour an event-time ordered run of epoch-µs timestamps into a
    bucket holding (fill, last_us): `simulate_bucket` over the rows
    where `valid` holds; the others (NULL event time) are admitted and
    touch no state. Returns (admitted for ALL rows, fill, last_us) —
    last_us passes through unchanged when no timed row arrives."""
    admitted = np.ones(len(us), dtype=bool)
    timed = us[valid]
    if len(timed):
        adm, fill, last_ts = simulate_bucket(
            timed / 1e6, size, leak_interval_s, fill,
            None if last_us is None else last_us / 1e6,
        )
        admitted[valid] = adm
        last_us = round(last_ts * 1e6)
    return admitted, float(fill), last_us


_STATE_SCHEMA = T.StructType([
    T.StructField("fill", T.DoubleType()),
    T.StructField("last_us", T.LongType()),
])


def _out_schema(df: DataFrame, cols: list[str]) -> T.StructType:
    by_name = {f.name: f for f in df.schema.fields}
    return T.StructType(
        [by_name[c] for c in cols]
        + [T.StructField("admitted", T.BooleanType(), False)]
    )


def rate_limited(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    size: float,
    leak_interval_s: float,
    payload_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming leaky bucket per key. Input must be a streaming
    DataFrame; output appends every row with an `admitted` flag (filter
    on it to reproduce the reference's drop). `order_cols` breaks
    event-time ties deterministically (default: stable on ts only);
    NULLs sort first, as in the batch twin's Spark sort."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    cols = [key_col, ts_col, *(payload_cols or [])]
    out_schema = _out_schema(df, cols)
    sort_cols = order_cols or [ts_col]

    def func(key, pdf_iter, state):
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values(sort_cols, kind="stable", na_position="first",
                              ignore_index=True)
        fill, last_us = state.get if state.exists else (0.0, None)
        ts = pdf[ts_col].to_numpy(dtype="datetime64[us]")
        admitted, fill, last_us = _pour(
            ts.view("int64"), ~np.isnat(ts), size, leak_interval_s,
            fill, last_us,
        )
        # state schema wants a LongType; 0 with fill==0.0 is the same
        # empty bucket as "never seen" (leak is a no-op at fill 0)
        state.update((fill, 0 if last_us is None else last_us))
        out = pdf[cols].copy()
        out["admitted"] = admitted
        yield out

    return (
        df.select(*cols)
        .groupBy(key_col)
        .applyInPandasWithState(
            func, out_schema, _STATE_SCHEMA, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def rate_limited_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    size: float,
    leak_interval_s: float,
    payload_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Batch twin: ONE hash exchange on the key, one sort on (key,
    `order_cols` or ts) within partitions, then an iterator-form grouped
    `applyInArrow` that the exchange and the sort already satisfy (no
    second shuffle or sort). Its emitter pours a key's Arrow batches in
    order and carries (fill, last_us) from one batch to the next, the
    way the streaming twin carries them across micro-batches; it never
    holds more than one batch, so a Zipf-hot key's history streams
    through its task in `spark.sql.execution.arrow.maxRecordsPerBatch`
    slices. `order_cols` breaks event-time ties deterministically (pass
    the payload id for a reproducible admitted set when timestamps can
    collide); NULLs sort first."""
    cols = [key_col, ts_col, *(payload_cols or [])]
    names = [*cols, "admitted"]

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fill, last_us = 0.0, None
        for batch in batches:
            ts = batch.column(ts_col)
            admitted, fill, last_us = _pour(
                ts.cast(pa.int64()).fill_null(0).to_numpy(),
                ts.is_valid().to_numpy(zero_copy_only=False),
                size, leak_interval_s, fill, last_us,
            )
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, pa.array(admitted)], names=names
            )

    return (
        df.select(*cols)
        .repartition(key_col)
        .sortWithinPartitions(key_col, *(order_cols or [ts_col]))
        .groupBy(key_col)
        .applyInArrow(emit, _out_schema(df, cols))
    )


def admitted_counts(limited: DataFrame, key_col: str) -> DataFrame:
    """Per-key admit/reject accounting (the reference logs overflow as a
    cooloff event, tail/tail.go:403-426)."""
    return limited.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("admitted").cast("long")).alias("n_admitted"),
    )
