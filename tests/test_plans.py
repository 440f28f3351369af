"""Physical-plan quality gates: the plans Catalyst produces must be the
plans we designed for 100 TB — broadcast joins stay broadcast, filters
reach the parquet scan, the fan-out stays shuffle-free, parsing stays
JVM-side unless the grok path is explicitly chosen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logagent_spark.config import PipelineSpec
from logagent_spark.datagen import WAF_REGEX, write_pages
from logagent_spark.plans import skew
from logagent_spark.plans.pipeline import CompiledPipeline
from logagent_spark.sources import from_pages


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    write_pages(spark, p, 3000, seed=13, n_hosts=25, partitions=4)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


LOOKUP_SPEC = {
    "Rewrites": [
        {"Mode": "lookup", "Lookup": {
            "key": "lang",
            "table": [{"lang": "en", "geo": "US"}, {"lang": "de", "geo": "DE"}],
            "output": {"geo": "string"}, "on_miss": "null",
        }},
    ],
    "Handlers": [{"Mode": "stream", "Name": "out", "Template": "${lang}"}],
}


def test_lookup_is_broadcast_join(spark, pages_path):
    pipe = CompiledPipeline(PipelineSpec.from_dict(LOOKUP_SPEC))
    res = pipe.transform(from_pages(spark.read.parquet(pages_path)))
    plan = _plan(res.frame)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, pages_path):
    df = spark.read.parquet(pages_path).filter(F.col("lang") == "en").select(
        "url", "lang"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: html (the fat column) must NOT be read
    assert "html" not in plan.split("ReadSchema")[1]


def test_fanout_is_shuffle_free(spark, pages_path):
    spec = {
        "Parser": {"Mode": "regex", "Regex": WAF_REGEX},
        "Handlers": [
            {"Mode": "stream", "Name": "errors", "Template": "${ts}",
             "Validators": [{"Mode": "value", "Column": "levelname",
                             "Value": "ERROR"}]},
            {"Mode": "stream", "Name": "all", "Template": "${message}"},
        ],
    }
    pipe = CompiledPipeline(PipelineSpec.from_dict(spec))
    res = pipe.transform(from_pages(spark.read.parquet(pages_path)))
    out = pipe.multiplexed(res, keep=["url", "lang", "warc_ts"])
    plan = _plan(out)
    assert "Exchange" not in plan, plan  # scan -> project -> explode
    # dead-letter accounting must NOT cost a second input scan
    assert plan.count("Scan parquet") == 1, plan


def test_native_parse_is_jvm_only(spark, pages_path):
    spec = PipelineSpec.from_dict({"Parser": {"Mode": "regex", "Regex": WAF_REGEX}})
    res = CompiledPipeline(spec).transform(
        from_pages(spark.read.parquet(pages_path))
    )
    plan = _plan(res.frame)
    assert "EvalPython" not in plan
    assert "*(" in plan  # whole-stage codegen spans render as *(n)


def test_grok_parse_is_arrow_vectorized(spark, pages_path):
    spec = PipelineSpec.from_dict({"Parser": {"Mode": "regex", "Regex": WAF_REGEX}})
    res = CompiledPipeline(spec, regex_strategy="grok").transform(
        from_pages(spark.read.parquet(pages_path))
    )
    plan = _plan(res.frame)
    assert "ArrowEvalPython" in plan       # vectorized, not row-at-a-time
    assert "BatchEvalPython" not in plan


def test_sink_counts_partial_aggregation(spark, pages_path):
    spec = {
        "Handlers": [{"Mode": "stream", "Name": "all", "Template": "${text}"}],
    }
    pipe = CompiledPipeline(PipelineSpec.from_dict(spec))
    res = pipe.transform(from_pages(spark.read.parquet(pages_path)))
    counts = pipe.sink_counts(pipe.routed(res), lang_col="lang")
    plan = _plan(counts)
    # map-side partial + final: two HashAggregates around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


# ---------------------------------------------------------------------------
# skew utilities

def test_salted_repartition_balances_zipf_hosts(spark, pages_path):
    df = spark.read.parquet(pages_path)
    n_part = 8
    # skewed baseline: partition by host (Zipf) concentrates rows
    by_host = df.repartition(n_part, skew.host_of(F.col("url")))
    sizes_host = [
        r["count"]
        for r in by_host.groupBy(F.spark_partition_id()).count().collect()
    ]
    salted = skew.salted_repartition(df, "url", n_part)
    sizes_salted = [
        r["count"]
        for r in salted.groupBy(F.spark_partition_id()).count().collect()
    ]
    total = df.count()
    assert max(sizes_host) > total / n_part * 1.5   # skew is real
    assert max(sizes_salted) < total / n_part * 1.3  # salting removes it


def test_count_distinct_salted_exact(spark, pages_path):
    df = spark.read.parquet(pages_path).select(
        skew.host_of(F.col("url")).alias("host"), "url", "lang"
    )
    got = {
        (r["lang"],): r["n_distinct"]
        for r in skew.count_distinct_salted(df, ["lang"], "url").collect()
    }
    want = {
        (r["lang"],): r["n"]
        for r in df.groupBy("lang")
        .agg(F.countDistinct("url").alias("n"))
        .collect()
    }
    assert got == want


def test_top_hosts_diagnostic(spark, pages_path):
    top = skew.top_hosts(spark.read.parquet(pages_path), k=5).collect()
    assert len(top) == 5
    assert top[0]["n"] >= top[-1]["n"]
    assert top[0]["host"].endswith(".example.org")


def test_inline_lookup_builds_without_shuffle(spark, pages_path):
    """An inline lookup literal is deduplicated driver-side: the plan's
    ONLY Exchange is the broadcast build itself — no Sort/Exchange/
    SortAggregate sub-job under it (that would run per plan and per
    streaming micro-batch just to dedupe a config constant)."""
    pipe = CompiledPipeline(PipelineSpec.from_dict(LOOKUP_SPEC))
    res = pipe.transform(from_pages(spark.read.parquet(pages_path)))
    phys = res.frame._jdf.queryExecution().executedPlan().toString()
    assert phys.count("Exchange") == phys.count("BroadcastExchange"), phys
    assert "SortAggregate" not in phys, phys


def test_inline_lookup_broadcasts_a_local_table(spark, pages_path):
    """An inline lookup literal is a local relation: the broadcast is
    built over a LocalTableScan on the driver, and no RDD scan (whose
    PythonRDD would start Python workers) appears anywhere in the plan."""
    pipe = CompiledPipeline(PipelineSpec.from_dict(LOOKUP_SPEC))
    res = pipe.transform(from_pages(spark.read.parquet(pages_path)))
    lines = _plan(res.frame).splitlines()
    at = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert len(at) == 1, lines
    assert "+- LocalTableScan" in lines[at[0] + 1], lines
    assert not any("ExistingRDD" in ln for ln in lines), lines


def test_dedup_cluster_broadcasts_local_components(spark):
    """Small-graph components are a local table with statistics, so the
    anti join broadcasts them from the first plan: no RDD scan, and the
    document side reaches the join without an Exchange (a stats-less
    ExistingRDD scan planned a sort-merge join, which shuffled every
    document before AQE switched to a broadcast)."""
    from logagent_spark.operators import dedup

    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.repeat(F.lit("x"), 100).alias("text")
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "a long, b long")
    out = dedup.dedup_cluster(docs, pairs, "doc_id")
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == set(range(2000)) - {2, 3, 9}
    plan = _plan(out)
    assert "ExistingRDD" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_embedding_near_dup_plan_has_arrow_scorer_and_no_vector_buckets(spark):
    """The banded-LSH near-dup plan is one band-key MapInPandas pass and
    one grouped Arrow scorer per (band, key) bucket: no pair join
    (CartesianProduct / BroadcastNestedLoopJoin), and embedding vectors
    are never collected into bucket rows (collect_list of arrays was the
    r1 memory hazard)."""
    import numpy as np

    from logagent_spark.operators.dedup import embedding_near_duplicates

    rng = np.random.RandomState(0)
    rows = [(i, rng.randn(16).tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    out = embedding_near_duplicates(df, "vid", "emb", dim=16, threshold=0.5)
    plan = _plan(out)
    assert "MapInPandas" in plan and "FlatMapGroupsInArrow" in plan
    assert "EvalPython" not in plan  # no per-row Python UDF eval
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "collect_list" not in plan


def _lsh_pairs_frame(spark, family):
    """50 rows through one LSH family's pair entry point."""
    import numpy as np

    from logagent_spark.operators import dedup

    if family == "hyperplane":
        rng = np.random.RandomState(0)
        rows = [(i, rng.randn(16).tolist()) for i in range(50)]
        df = spark.createDataFrame(rows, "vid long, emb array<double>")
        return dedup.embedding_candidate_pairs(df, "vid", "emb", dim=16)
    rows = [(i, " ".join(f"w{i % 7}x{j}" for j in range(12)))
            for i in range(50)]
    df = spark.createDataFrame(rows, "vid long, text string")
    if family == "minhash":
        return dedup.minhash_candidates(df, "vid", "text")
    return dedup.simhash_near_duplicates(df, "vid", "text")


@pytest.mark.parametrize("family", ["minhash", "simhash", "hyperplane"])
def test_embedding_scorer_exchange_is_not_coalesced(spark, family):
    """One pair kernel behind all three LSH families. Pair work grows
    with the square of bucket rows, so the (band, key) shuffle must keep
    its explicit partition count (the spark.sql.shuffle.partitions
    setting, one per task slot on this session): after the run, the
    final adaptive plan has exactly one hashpartitioning(band, key, n)
    exchange, read by the single Arrow emitter without an exchange or an
    AQE coalescing read in between. The bucket-size filter sits between
    them, so oversized buckets drop in the JVM; no bucket is collected
    into a list, and no pandas grouped scorer or Python eval runs."""
    import re

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    out = _lsh_pairs_frame(spark, family)
    out.collect()
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0].splitlines()
    band_key = re.compile(
        r"Exchange hashpartitioning\(band#\d+L?, key#\d+L?, (\d+)\)")
    exchanges = [i for i, line in enumerate(final) if band_key.search(line)]
    assert len(exchanges) == 1
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n == spark.sparkContext.defaultParallelism
    assert band_key.search(final[exchanges[0]]).group(1) == str(n)
    emitter = [i for i, line in enumerate(final)
               if "FlatMapGroupsInArrow" in line]
    assert len(emitter) == 1 and emitter[0] < exchanges[0]
    between = final[emitter[0] + 1:exchanges[0]]
    assert not any("Exchange" in line or "AQEShuffleRead" in line
                   for line in between)
    assert any("Filter" in line and "_n#" in line for line in between)
    for banned in ("collect_list", "FlatMapGroupsInPandas", "EvalPython"):
        assert banned not in plan


def test_native_grok_dictionary_is_jvm_only(spark, pages_path):
    from logagent_spark.config import PipelineSpec
    from logagent_spark.plans.pipeline import CompiledPipeline
    from logagent_spark.sources import from_pages

    spec = PipelineSpec.from_dict({
        "Parser": {"Mode": "grok", "Patterns": {
            "a": r"(?P<x>\d+)", "b": r"^(?P<w>\S+)",
        }},
    })
    df = from_pages(spark.read.parquet(pages_path))
    res = CompiledPipeline(spec).transform(df)
    plan = _plan(res.frame)
    assert "Python" not in plan and "ArrowEval" not in plan
    assert "*(" in plan  # whole-stage codegen spans render as *(n)


def test_ivf_probe_filter_is_pushed_to_scan(spark, tmp_path):
    """After ivf_index is materialized partitioned-by-bucket, the probe
    filter must prune partitions at the scan (the 10^12-row read-path
    contract)."""
    import numpy as np

    from logagent_spark.operators.similarity import (
        ivf_index, ivf_probes, seeded_centroids,
    )

    rng = np.random.RandomState(1)
    rows = [(i, rng.randn(8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    cents = seeded_centroids(8, 4, seed=2)
    path = str(tmp_path / "ivf")
    ivf_index(df, "emb", cents).write.partitionBy("ivf_bucket").parquet(path)
    indexed = spark.read.parquet(path)
    q = rows[0][1]
    probes = ivf_probes(cents, q, 2)
    pruned = indexed.filter(indexed.ivf_bucket.isin(probes))
    opt = pruned._jdf.queryExecution().optimizedPlan().toString()
    # partition filter present on the partition column -> files pruned
    assert "ivf_bucket" in opt
    n_parts = pruned.select("ivf_bucket").distinct().count()
    assert n_parts <= 2


def test_tpch_region_revenue_broadcasts_all_dims(spark):
    """The Q5-shaped star join must broadcast every dimension: exactly
    the fact-fact join (orders-lineitem) may shuffle."""
    import logagent_spark.queries as q

    df = q.q_tpch_region_revenue(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Same-key same-count bucketed tables must join with NO Exchange on
    either side — the pay-the-shuffle-once-at-ingest contract."""
    from logagent_spark.plans.bucketed import cobucketed_join, write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed(
        orders.withColumnRenamed("o_orderkey", "k"), "b_orders",
        key="k", n_buckets=4, path=str(tmp_path / "bo"),
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "k"), "b_lineitem",
        key="k", n_buckets=4, path=str(tmp_path / "bl"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cobucketed_join(spark, "b_orders", "b_lineitem", "k")
        plan = _plan(j.select("k", "o_totalprice", "l_quantity"))
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # correctness: bucketed join == plain join
        want = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert j.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_curation_persist_option_scans_source_once(spark):
    """persist_intermediate=True localCheckpoints the exact-dedup
    survivors: downstream stages (pair generation + anti-join) must read
    the checkpointed RDD, not re-scan the documents parquet per stage —
    and the surviving corpus must be identical either way."""
    from logagent_spark.queries import q_curation_pipeline

    sf = "/root/testdata/sf0.001"
    # r7: the checkpointed form IS the default; the re-scan form stays
    # available and must stay result-identical
    rescan = q_curation_pipeline(spark, sf, persist_intermediate=False)
    persisted = q_curation_pipeline(spark, sf)

    n_scans_rescan = _plan(rescan).count("Scan parquet")
    n_scans_persisted = _plan(persisted).count("Scan parquet")
    assert n_scans_rescan >= 2           # the documented re-scan form
    assert n_scans_persisted == 0        # every stage reuses the checkpoint
    assert "ExistingRDD" in _plan(persisted)

    a = sorted((r["doc_id"], r["lang"]) for r in rescan.collect())
    b = sorted((r["doc_id"], r["lang"]) for r in persisted.collect())
    assert a == b and len(a) > 0


def test_sessionize_single_window_shuffle(spark):
    """Sessionization is ONE window shuffle on the key — no join, no
    extra Exchange beyond the partitionBy(user) sort."""
    from logagent_spark.queries import q_sessionize

    df = q_sessionize(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    # one exchange for the window partitionBy, one for the final groupBy
    assert plan.count("Exchange") <= 2, plan
    assert "Python" not in plan and "CartesianProduct" not in plan


def test_asof_join_no_range_explosion(spark):
    """The union-and-carry as-of join must not compile to a range join
    or cartesian product — one union, one window shuffle."""
    from logagent_spark.queries import q_asof_join

    df = q_asof_join(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange") <= 2, plan
    assert "Union" in plan


def test_tpch_region_revenue_broadcasts_dimensions(spark):
    """Star query: every dimension joins by broadcast; the only
    shuffle-join candidate is orders x lineitem."""
    from logagent_spark.queries import q_tpch_region_revenue

    df = q_tpch_region_revenue(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1, plan
