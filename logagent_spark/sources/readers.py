"""Sources — the reference's collectors re-expressed as batch readers.

Every collector in /root/reference/agent/task/collector.go seeds the same
envelope onto each message: ``message`` (raw payload), ``timestamp``
(arrival time) and ``device_id`` (host identity) — collector.go:54, 199,
266, 306. Transport concerns (HTTP server, UDP socket, tail -F rotation,
Kafka consumer groups, directory polling) are not compute; the batch
engine reads the already-landed data:

  api/kafka/file/dir collectors  -> parquet / json / text readers
  syslog framing (decode.go:22-42) -> `syslog_decode` column expressions

A uniform `device_id` is stamped everywhere (the reference's TCP-syslog
path forgets it, collector.go:148-163 — bug, not feature; SURVEY.md §1.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEVICE_ID = "logagent-spark"  # agent/agent.go:95-102 uses the host uuid


def _stamp(df: DataFrame, ts_col: str | None) -> DataFrame:
    out = df.withColumn("device_id", F.lit(DEVICE_ID))
    if ts_col and ts_col != "timestamp":
        out = out.withColumn("timestamp", F.col(ts_col))
    elif "timestamp" not in df.columns:
        # arrival time in the reference; deterministic stand-in for batch
        out = out.withColumn("timestamp", F.current_timestamp())
    return out


def from_pages(df: DataFrame) -> DataFrame:
    return _stamp(df.withColumn("message", F.col("text")), "warc_ts")


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """file collector (collector.go:169-206): one message per line."""
    return _stamp(
        spark.read.text(path).withColumnRenamed("value", "message"), None
    )


def read_whole_files(
    spark: SparkSession, directory: str, name_pattern: str = "*"
) -> DataFrame:
    """dir collector (collector.go:275-324): whole file body -> one
    message; filename regex becomes a glob filter on the listing (the
    100 ms poll loop is file-source discovery in streaming mode)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", name_pattern)
        .load(directory)
        .select(
            F.col("path"),
            F.col("content").cast("string").alias("message"),
            F.col("modificationTime").alias("timestamp"),
        )
    )
    return df.withColumn("device_id", F.lit(DEVICE_ID))


def degradation_sample(
    df: DataFrame,
    cpu_percent: float,
    cpu_limit: float,
    seed: int = 42,
    id_col: str | None = None,
) -> DataFrame:
    """Load-shed sampling (agent.go:83-93 + task.go:418-428): when CPU
    exceeds the limit, each message independently survives with
    p = (100 - cpu)/100, applied BEFORE parsing.

    With `id_col` set (the production form), admission is a CONTENT
    hash: admit iff the top 32 bits of md5(id ":" seed) fall under
    p * 2^32. Unlike `df.sample` (per-partition RNG streams — the
    admitted set silently changes under repartitioning or task retry,
    poisoning lineage/resume invariants at scale), the content-hash set
    is a pure function of the data, reproducible across cluster layouts
    AND in any SQL engine. Without `id_col`, falls back to the seeded
    Bernoulli `df.sample` (the reference is nondeterministic anyway —
    SURVEY.md §2.6)."""
    if cpu_percent <= cpu_limit:
        return df
    rate = max(0.0, (100.0 - cpu_percent) / 100.0)
    if id_col is None:
        return df.sample(fraction=rate, seed=seed)
    bucket = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                              F.lit(str(seed)))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return df.filter(bucket < F.lit(int(rate * 2**32)))


def syslog_decode(
    df: DataFrame,
    message_col: str = "message",
    end: str = "\x00",
    with_priority: bool = False,
) -> DataFrame:
    """syslog framing (decode.go:22-42): strip the `<PRI>` prefix, read
    payload up to the end byte. Facility/severity derivation (decode.go:11-20,
    commented out in the reference) is available behind `with_priority`:
    facility = pri >> 3, severity = pri & 7.
    """
    raw = F.col(message_col)
    pri = F.regexp_extract(raw, r"^<(\d+)>", 1)
    body = F.regexp_replace(raw, r"^<\d+>", "")
    if end:
        # payload terminates at the first end byte (decode.go:33-36)
        import re as _re

        body = F.get(F.split(body, _re.escape(end), 2), 0)
    out = df
    if with_priority:
        # derive priority BEFORE the message column is overwritten —
        # column exprs resolve against the frame they're applied to
        pri_l = pri.try_cast(T.LongType())
        out = (
            out.withColumn("facility", F.shiftright(pri_l, 3))
            .withColumn("severity", pri_l.bitwiseAND(F.lit(7)))
        )
    return out.withColumn(message_col, body)
