"""Corpus-curation operators for web-scale training-data pipelines:
benchmark decontamination, canonical-URL dedup, per-domain cap
sampling, and token-budget selection.

These are the selection/hygiene passes a Common-Crawl-style corpus goes
through between raw routed pages and training shards (the reference
pipeline stops at routed sinks — agent/handler/handler.go routes and
counts, it never curates; these extend the engine past parity into the
LLM-data territory SURVEY.md §2 reserves for the Spark build).

Scale design (100 TB):
- `decontaminate`: the benchmark shingle set (eval suites are ~10^6-10^7
  distinct n-grams) is DISTINCT-ed and broadcast; the corpus side never
  shuffles on shingle hash — per-doc `array_distinct` collapses repeats
  scan-side, the broadcast hash join filters exploded hashes in the scan
  stage, and only HIT rows (doc_id) reach the one skinny aggregation
  exchange. A 10^9-doc corpus pays one shuffle of its contaminated
  subset, not of its shingles.
- `domain_cap_sample`: rank-per-host via `row_number` with a `<= cap`
  filter, which Spark's InferWindowGroupLimit rewrites into a partial
  WindowGroupLimit BELOW the exchange — each map task forwards at most
  `cap` rows per host it sees, so a 10^8-page host contributes
  O(cap * map_tasks) rows to the shuffle instead of 10^8 (the skew case
  that motivates per-domain caps in the first place).
- `token_budget_select`: one exchange on the group key; the running sum
  is a single sort-based window per group. Deterministic hash order
  (md5 of the id) makes the admitted prefix reproducible across runs
  and cluster sizes.
- `canonicalize_url` / `url_dedup_keep`: pure Column regex/array exprs
  (zero UDF); dedup is one exchange on the canonical-url hash, the same
  shape as exact content dedup.
- `pack_greedy`: one exchange on (group, shard), then a sequential
  first-fit fold per task (no window-function closed form exists for a
  capacity-reset running sum); `n_shards` bounds the per-task fold so a
  mega-group never serializes into one task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from logagent_spark.operators import textstats as ts

# Tracking params dropped during canonicalization (the industry-standard
# strip set: Google/Facebook/Microsoft click ids + utm campaign tags).
TRACKING_PARAM_REGEX = r"^(utm_[A-Za-z0-9]+|fbclid|gclid|msclkid|ref)="

_SCHEME = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PATH = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY = r"\?([^#]*)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of an http(s) URL, as one pure Column expression.

    Normalizations (each observable in the round-trip tests):
    - scheme and host lowercased;
    - default ports (:80, :443) stripped, non-default ports kept;
    - leading ``www.`` stripped;
    - trailing slashes on the path stripped, empty path -> ``/``;
    - fragment dropped;
    - query params: tracking params (``utm_*``, ``fbclid``, ``gclid``,
      ``msclkid``, ``ref``) and empty segments dropped, the remainder
      sorted bytewise so param order never splits a URL's identity.

    Divergence scope (documented, like operators/web.py): userinfo
    (``user:pass@``) is treated as part of the host (the synthetic
    corpus never emits it); IDN hosts are not punycoded.
    """
    scheme = F.lower(F.regexp_extract(url, _SCHEME, 1))
    host = F.lower(F.regexp_extract(url, _HOSTPORT, 1))
    host = F.regexp_replace(host, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(url, _PATH, 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, _QUERY, 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_REGEX),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def url_host(url: Column) -> Column:
    """Registrable host of the canonical form (port/www stripped)."""
    host = F.lower(F.regexp_extract(url, _HOSTPORT, 1))
    host = F.regexp_replace(host, r":(80|443)$", "")
    return F.regexp_replace(host, r"^www\.", "")


def url_dedup_keep(
    df: DataFrame, id_col: str, url_col: str
) -> DataFrame:
    """One winner per canonical URL (min id), with the crawl-copy count.

    The re-crawl dedup pass: successive WARC snapshots of the same page
    differ only in tracking params / param order / scheme case, so the
    canonical form is the identity. Output: one row per canonical URL
    with ``<id_col>`` = winner and ``n_crawls`` = copies collapsed.
    Same single-exchange shape as exact content dedup (dedup.py:45).
    """
    canon = canonicalize_url(F.col(url_col)).alias("canonical_url")
    return (
        df.select(F.col(id_col), canon)
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_crawls"),
        )
    )


def domain_cap_sample(
    df: DataFrame, host_col: str, id_col: str, cap: int
) -> DataFrame:
    """Deterministic per-host document cap (RefinedWeb/FineWeb-style).

    Admits at most ``cap`` docs per host, chosen by md5-hash rank (a
    stable pseudo-random sample — re-running, or running on a different
    cluster size, admits the SAME docs). Adds ``host_rank`` (1-based).

    Scale: the ``row_number() <= cap`` filter triggers Spark's
    InferWindowGroupLimit, inserting a partial WindowGroupLimit below
    the exchange — map tasks forward at most ``cap`` rows per host, so
    mega-hosts never flood the shuffle (plan-gated in test_curation).
    """
    order = [
        F.md5(F.col(id_col).cast("string")).asc(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy(host_col).orderBy(*order)
    return (
        df.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= cap)
    )


def token_budget_select(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    budget: int,
) -> DataFrame:
    """Admit docs per group until a token budget is exhausted.

    Docs are taken in deterministic md5-hash order; a doc is admitted
    iff the running token total INCLUDING it stays <= ``budget`` (strict
    prefix — one oversized doc mid-prefix also ends the group's intake,
    which keeps the rule a pure running-sum predicate both here and in
    the SQL oracle). Adds ``n_tokens`` and ``cum_tokens``.

    The source-mixing primitive: give each source a token budget in the
    target mixture ratio and union the admitted prefixes.
    """
    order = [
        F.md5(F.col(id_col).cast("string")).asc(),
        F.col(id_col).asc(),
    ]
    w = (
        Window.partitionBy(group_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = ts.token_count(F.col(text_col))
    return (
        df.withColumn("n_tokens", toks)
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
    )


def pack_greedy(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    max_len: int,
    n_shards: int = 1,
) -> DataFrame:
    """Greedy sequence packing: fold docs into fixed-token-length
    training examples (T5/GPT-style packing), first-fit-in-order.

    Docs are taken per group in deterministic md5-hash order (the same
    order ``token_budget_select`` admits in); a doc joins the current
    pack iff the pack's token fill INCLUDING it stays <= ``max_len``,
    else it opens the next pack. A single doc longer than ``max_len``
    gets a pack of its own (over-full, for the caller to truncate/split
    — packing must not silently drop text). Appends ``n_tokens``,
    ``pack_id`` (0-based within the group/shard) and ``pack_fill`` (the
    pack's running token total through this doc).

    The fold is sequential by construction (each boundary depends on
    the previous one — no window-function closed form), so it runs as
    ONE applyInPandas pass per (group, shard): one exchange on the
    grouping key, then an O(rows) in-task fold over Arrow batches.
    ``n_shards > 1`` splits big groups deterministically by id-hash
    (``pack_shard`` column) so no task folds a whole mega-group; pack
    ids are then unique per (group, shard) tuple — globally usable
    without coordination, at the cost of at most one under-full tail
    pack per shard (how production packers shard too)."""
    toks = ts.token_count(F.col(text_col))
    base = (
        df.withColumn("n_tokens", toks)
        .withColumn("_ord", F.md5(F.col(id_col).cast("string")))
    )
    keys = [group_col]
    if n_shards > 1:
        shard = F.pmod(
            F.conv(F.substring(F.col("_ord"), 1, 8), 16, 10).cast("long"),
            F.lit(n_shards),
        ).cast("int")
        base = base.withColumn("pack_shard", shard)
        keys.append("pack_shard")
    out_fields = [f for f in base.schema.fields if f.name != "_ord"]
    out_schema = T.StructType(
        out_fields
        + [
            T.StructField("pack_id", T.LongType()),
            T.StructField("pack_fill", T.LongType()),
        ]
    )
    id_name, max_cap = id_col, int(max_len)

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["_ord", id_name], kind="mergesort"
        ).reset_index(drop=True)
        t = pdf["n_tokens"].to_numpy(dtype=np.int64)
        pack = np.zeros(len(t), dtype=np.int64)
        fill = np.zeros(len(t), dtype=np.int64)
        p, f = -1, 0
        for i in range(len(t)):
            ti = int(t[i])
            if p < 0 or f + ti > max_cap:
                p, f = p + 1, ti
            else:
                f += ti
            pack[i], fill[i] = p, f
        pdf["pack_id"] = pack
        pdf["pack_fill"] = fill
        return pdf.drop(columns=["_ord"])

    return base.groupBy(*keys).applyInPandas(fold, schema=out_schema)


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_len: int,
    overlap: int = 0,
) -> DataFrame:
    """Split each doc into overlapping fixed-token-length chunks (the
    context-window chunking step feeding embedding / training jobs, and
    the splitter `pack_greedy` defers oversize docs to).

    Chunk i covers tokens ``[i*stride, i*stride + max_len)`` with
    ``stride = max_len - overlap``; a doc of n tokens yields
    ``1 + ceil(max(0, n - max_len) / stride)`` chunks, so every token is
    covered, consecutive chunks share ``overlap`` tokens, and a doc
    never yields a trailing chunk fully contained in its predecessor
    (n = 0 yields one empty chunk — row identity survives chunking).
    Appends ``chunk_idx``, ``chunk_text``, ``n_chunk_tokens``.

    Pure Column exprs, zero UDF. The chunk-index sequence is exploded
    FIRST and the slice applied at the top level after the Generate —
    never inside a higher-order-function lambda over the derived token
    array (Catalyst does not hoist subexpressions out of HOF lambdas;
    see CLAUDE.md). Scale: the explode fans out O(total chunks) rows
    inside the scan stage — no shuffle; the token array is carried
    across the Generate, not recomputed per chunk."""
    if not 0 <= overlap < max_len:
        raise ValueError("need 0 <= overlap < max_len")
    stride = max_len - overlap
    # NULL text coalesces to an empty token array so the row yields ONE
    # empty chunk exactly like n = 0 does (ADVICE r6: a NULL size made
    # the explode eliminate the row, breaking 'row identity survives
    # chunking')
    base = df.withColumn(
        "_toks",
        F.coalesce(
            ts.tokens(F.col(text_col)),
            F.array().cast(T.ArrayType(T.StringType())),
        ),
    )
    n = F.size("_toks")
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(F.lit(0), n - max_len) / F.lit(stride)
    ).cast("int")
    out = base.select(
        "*",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_idx") * stride + 1, max_len)
    return (
        out.withColumn("chunk_text", F.array_join(piece, " "))
        .withColumn("n_chunk_tokens", F.size(piece))
        .drop("_toks")
    )


def _shingle_hash_rows(
    df: DataFrame, id_cols: list, text_col: str, k: int
) -> DataFrame:
    """(id_cols..., h) rows: tokens materialized once per row, then the
    distinct per-doc shingle hashes exploded (see
    textstats.shingles_from_tokens for why the two-step projection)."""
    return df.select(
        *id_cols, ts.tokens(F.col(text_col)).alias("_tk")
    ).select(
        *id_cols,
        F.explode(
            F.array_distinct(
                F.transform(ts.shingles_from_tokens(F.col("_tk"), k), F.md5)
            )
        ).alias("h"),
    )


def benchmark_shingle_set(
    benchmark: DataFrame, text_col: str, k: int = 5
) -> DataFrame:
    """The distinct shingle-hash set of an eval/benchmark corpus, as a
    1-column DataFrame ``h`` (small: broadcast it into the corpus scan)."""
    return _shingle_hash_rows(benchmark, [], text_col, k).distinct()


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per-doc count of k-gram shingles that
    also appear in the benchmark set (0 => clean).

    The n-gram-overlap rule used to scrub eval sets out of pretraining
    corpora (the GPT-3 appendix / The-Pile methodology: a doc is
    contaminated if any length-k token window matches a benchmark
    window). Returns the corpus with ``n_overlap`` and ``contaminated``
    appended; filter on ``~contaminated`` for the kept set.

    Plan (gated in test_curation): benchmark set broadcast, corpus
    shingles filtered by BroadcastHashJoin in the scan stage, one
    aggregation exchange carrying only hit (doc_id, count) rows. The
    hits->corpus re-join relies on AQE's runtime size check as its
    broadcast guard (gated): small hit sets broadcast from their
    MEASURED size; a heavily-contaminated corpus (hits ~ corpus) falls
    back to a shuffle join on the id — the contamination-rate-bounded
    step, by design (an unconditional broadcast would OOM exactly
    there, and pre-counting hits would run the shingle join twice).
    """
    bench = benchmark_shingle_set(benchmark, text_col, k)
    corpus_sh = _shingle_hash_rows(corpus, [F.col(id_col)], text_col, k)
    hits = (
        corpus_sh.join(F.broadcast(bench), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
        .withColumn("contaminated", F.col("n_overlap") > 0)
    )
