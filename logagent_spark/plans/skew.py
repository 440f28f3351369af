"""Skew handling utilities (SURVEY.md M8, BASELINE: "salted repartition
on url-hash to break host-domain skew, AQE-tuned shuffle").

Host-domain skew is structural in web corpora (Zipf hosts): any
partitioning or aggregation keyed on host concentrates the hot domains
in single tasks. Remedies, in preference order:

  1. Don't key on the hot column at all: when the downstream op only
     needs even load (sink writes, parse work), partition by the
     row-unique url hash — `salted_repartition` (uniform by
     construction, no hot task). No production path calls it yet; it
     stays as the remedy BASELINE.md names, pinned by test_plans and
     allow-listed in tests/test_reachability.py.
  2. Two-phase aggregation for skewed-key aggregates whose per-key state
     is large (countDistinct, collect_*): pre-aggregate on
     (key, salt-of-value) so the hot key's state splits across
     `salt_buckets` tasks, then combine — `count_distinct_salted`
     (the `agg_distinct_salted` gate and perfbench's html_grok_dedup).
     (Plain count/sum does NOT need this: Spark's hash aggregate is
     already map-side partial.)
  3. AQE skew-join splitting (enabled in session.py) for joins where a
     broadcast isn't possible.

Skew is observed, not diagnosed by a side job: a traced run reads the
largest shuffle partition's share of bytes from the executed plan
(perfbench's `skew.max_partition_frac`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_of(url: Column) -> Column:
    """Host-domain extraction (the canonical skewed key)."""
    return F.regexp_extract(url, r"^[a-z]+://([^/]+)", 1)


def salted_repartition(
    df: DataFrame, unique_col: str, n_partitions: int, seed: int = 0
) -> DataFrame:
    """Uniform repartition by hash of a row-unique column: breaks any
    upstream clustering (e.g. crawl files grouped by host) without a
    skewed shuffle key. One shuffle, perfectly balanced."""
    return df.repartition(
        n_partitions, F.xxhash64(F.col(unique_col), F.lit(seed))
    )


def count_distinct_salted(
    df: DataFrame,
    keys: list[str],
    value: str,
    n_buckets: int = 32,
    out_col: str = "n_distinct",
) -> DataFrame:
    """Skew-robust countDistinct(value) per keys.

    Phase 1 shuffles on (keys, hash(value) % n_buckets) — a hot key's
    rows split across n_buckets reducers; each computes a partial
    distinct count over a disjoint value range (hash-partitioned values
    are disjoint across buckets, so partial counts ADD exactly).
    Phase 2 sums the partials per key — n_buckets rows per key, trivial.
    """
    salt = F.pmod(F.xxhash64(F.col(value)), F.lit(n_buckets)).alias("_salt")
    partial = (
        df.select(*keys, F.col(value), salt)
        .groupBy(*keys, "_salt")
        .agg(F.countDistinct(value).alias("_partial"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("_partial").cast("long").alias(out_col))
    )
