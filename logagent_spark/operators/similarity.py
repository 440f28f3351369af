"""Similarity search over embedding columns (array<float/double>).

Two paths, per the scale doctrine:

  * brute-force cosine top-k — the exact baseline: one narrow projection
    computing the score scan-side (zip_with/aggregate, JVM) + a top-k.
    Top-k uses a rank-free two-phase pattern: per-partition top-k
    (mapPartitions-equivalent via repartition-less sort within
    partitions is overkill here — Catalyst's TakeOrderedAndProject
    already does partial top-k map-side for orderBy+limit, which is the
    plan we want and get);
  * IVF-style bucketed ANN — assign every vector to its nearest of C
    seeded centroids (one Arrow/numpy pass), search only the query's
    probe buckets. C and nprobe trade recall for scan fraction; at
    10^12 rows the bucket assignment is written once at ingest and the
    query prunes partitions.

Every Arrow/numpy scorer here is total over invalid vectors (NULL, NULL
element, wrong length — `dedup._valid_vectors`): valid vectors take the
sequential fold (`dedup._seq_dot_and_norm2`), bit-identical to the
`cosine()` Column fold and the DuckDB oracle's, and any pair with an
invalid side scores what `cosine()` gives it, through its scalar twin
`dedup._fold_cos_pair`.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from logagent_spark.operators.dedup import (
    _fold_cos_pair,
    _seq_dot_and_norm2,
    _seq_norm2,
    _valid_vectors,
    cosine,
)


def lit_vec(v) -> Column:
    return F.array(*[F.lit(float(x)) for x in v])


def cosine_to_query(emb: Column, query: list[float]) -> Column:
    return cosine(emb, lit_vec(query))


def brute_force_topk(
    df: DataFrame,
    emb_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine. orderBy+limit compiles to
    TakeOrderedAndProject: each partition keeps only k rows, the driver
    merges — no global sort, no shuffle of the corpus."""
    scored = df.select(
        F.col(id_col),
        F.round(cosine_to_query(F.col(emb_col), query), 8).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# IVF-style bucketed ANN

# Measured top-k recall vs PROBE FRACTION (nprobe / n_centroids) from
# the r5 bench sweep: 101k-vector corpus, 64 kmeans-refined centroids,
# k=5, 1023 planted queries (BENCH.md "Large-Q k-NN join"). The curve
# anchors suggest_ivf_config the way the SimHash collision model
# anchors suggest_lsh_config — but it is EMPIRICAL, not analytic:
# re-calibrate on a corpus sample (the bench's recall-sweep protocol)
# when the embedding distribution differs materially.
_IVF_RECALL_CURVE: list[tuple[float, float]] = [
    (1 / 64, 0.639), (2 / 64, 0.751), (4 / 64, 0.862), (8 / 64, 0.952),
    (1.0, 1.0),
]


def _ivf_recall_at(probe_frac: float) -> float:
    """Piecewise log(f)-linear interpolation of the measured curve."""
    curve = _IVF_RECALL_CURVE
    if probe_frac <= curve[0][0]:
        return curve[0][1]
    for (f0, r0), (f1, r1) in zip(curve, curve[1:]):
        if probe_frac <= f1:
            t = (math.log(probe_frac) - math.log(f0)) \
                / (math.log(f1) - math.log(f0))
            return r0 + t * (r1 - r0)
    return 1.0


def suggest_ivf_config(
    n: int,
    recall_target: float = 0.9,
    *,
    max_centroids: int = 4096,
) -> dict:
    """Pick (n_centroids, nprobe) for knn_join_ivf / ivf_topk from the
    corpus size and a top-k recall target — the guard that stops anyone
    shipping the gate default (nprobe 2, measured 0.751 top-k recall)
    against a workload that needs 0.95.

    Sizing: n_centroids ~ sqrt(n) (the standard IVF balance — bucket
    occupancy and centroid count both ~sqrt(n), so assignment cost and
    per-probe scan cost grow together; clamped to [8, max_centroids]).
    nprobe is the smallest probe count whose measured-curve recall
    (``_IVF_RECALL_CURVE``, the r5 sweep, interpolated in log probe
    fraction) meets ``recall_target``.

    Returns {n_centroids, nprobe, probe_frac, expected_topk_recall,
    expected_scan_frac} — scan_frac equals probe_frac under balanced
    (kmeans-refined) buckets; feed the first two straight into
    knn_join_ivf."""
    if not 0.0 < recall_target <= 1.0:
        raise ValueError(f"recall_target must be in (0, 1]: {recall_target}")
    c = int(min(max_centroids, max(8, round(math.sqrt(max(n, 1))))))
    curve = _IVF_RECALL_CURVE
    if recall_target <= curve[0][1]:
        f_needed = curve[0][0]
    else:
        f_needed = 1.0
        for (f0, r0), (f1, r1) in zip(curve, curve[1:]):
            if recall_target <= r1:
                t = (recall_target - r0) / (r1 - r0)
                f_needed = math.exp(
                    math.log(f0) + t * (math.log(f1) - math.log(f0))
                )
                break
    # epsilon guards the exp(log(...)) round-trip: a target sitting ON
    # a measured anchor must not tip ceil() one probe high
    nprobe = max(1, min(c, math.ceil(f_needed * c - 1e-9)))
    frac = nprobe / c
    return {
        "n_centroids": c,
        "nprobe": nprobe,
        "probe_frac": frac,
        "expected_topk_recall": round(_ivf_recall_at(frac), 4),
        "expected_scan_frac": frac,
    }


def seeded_centroids(dim: int, n_centroids: int, seed: int = 42) -> np.ndarray:
    """Deterministic unit-norm centroids. (A production build would
    k-means them on a sample; seeded random keeps tests deterministic
    and the plumbing identical.)"""
    rng = np.random.RandomState(seed)
    c = rng.randn(n_centroids, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def assign_buckets_pandas(
    df: DataFrame, emb_col: str, centroids: np.ndarray, out_col: str
) -> DataFrame:
    """Nearest-centroid bucket per row as one Arrow/numpy pass
    (mapInPandas): argmax over the C centroid dot products. The dots
    are the sequential fold over DIMENSIONS of `_seq_dot_and_norm2`,
    vectorized across rows and centroids — the exact rounding sequence
    of a zip_with/aggregate Column fold — and np.argmax is first-
    occurrence, so ties resolve to the lowest centroid index. Invalid
    vectors (`_valid_vectors`: NULL, ragged length, NULL element) get a
    NULL bucket, as the NULL-propagating fold gives them. A Column-
    expression argmax runs INTERPRETED (HOFs never codegen): C folds per
    row made assignment the dominant cost of the IVF index build and the
    k-NN join's corpus prep at 100k x 64 (r7, measured interleaved — see
    OPTIMIZATION_r07.md)."""
    import pandas as pd
    from pyspark.sql import types as T

    cents = np.asarray(centroids, dtype=np.float64)
    dim = cents.shape[1]
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def go(batches):
        for pdf in batches:
            valid, e = _valid_vectors(pdf[emb_col], dim)
            dots, _ = _seq_dot_and_norm2(e, cents.T)
            bucket = pd.array([None] * len(pdf), dtype="Int32")
            bucket[valid] = np.argmax(dots, axis=1)
            pdf[out_col] = bucket
            yield pdf

    return df.mapInPandas(go, schema)


def kmeans_refine(
    df: DataFrame,
    emb_col: str,
    centroids: np.ndarray,
    *,
    iters: int = 3,
) -> np.ndarray:
    """Distributed Lloyd refinement of the IVF centroids.

    Each round: assignment is one Arrow/numpy mapInPandas pass
    (`assign_buckets_pandas` — bit-identical to a Column-expression
    argmax fold, without its C interpreted HOF folds per row), the
    new centroid is one hash aggregate of per-dimension means (dim `avg`
    exprs — map-side partial aggregation makes this one skinny shuffle
    of k×dim doubles). Only k×dim floats ever reach the driver per
    round; at 10^12 rows you run this on a sample first, then one final
    assignment pass. Empty clusters keep their previous centroid, and
    invalid vectors (NULL, ragged, NULL element), whose bucket is NULL,
    move no centroid. Centroids are re-unit-normalized each round (the
    index uses dot-product probing on unit centroids)."""
    cents = np.asarray(centroids, dtype=float)
    k, dim = cents.shape
    for _ in range(iters):
        assigned = assign_buckets_pandas(
            df.select(F.col(emb_col).alias("_e")), "_e", cents, "_b"
        )
        means = assigned.groupBy("_b").agg(
            *[F.avg(F.col("_e")[i]).alias(f"m{i}") for i in range(dim)]
        ).collect()
        new = cents.copy()
        for r in means:
            if r["_b"] is None:  # invalid vectors: no centroid to move
                continue
            v = np.array([r[f"m{i}"] for i in range(dim)], dtype=float)
            n = np.linalg.norm(v)
            if n > 0:
                new[r["_b"]] = v / n
        cents = new
    return cents


def ivf_index(
    df: DataFrame, emb_col: str, centroids: np.ndarray, bucket_col: str = "ivf_bucket"
) -> DataFrame:
    """Materialize the bucket assignment (`assign_buckets_pandas`; at
    scale: write-partitioned by this column so queries prune files).
    Invalid vectors get a NULL bucket, so no probe ever finds them."""
    return assign_buckets_pandas(df, emb_col, centroids, bucket_col)


def ivf_probes(
    centroids: np.ndarray, query: list[float], nprobe: int
) -> list[int]:
    """The nprobe centroid ids nearest the query (by dot product — the
    centroids are unit-norm, so query normalization cannot change the
    order)."""
    q = np.asarray(query, dtype=float)
    qn = q / (np.linalg.norm(q) or 1.0)
    order = np.argsort(-(centroids @ qn))
    return [int(i) for i in order[:nprobe]]


def ivf_topk(
    indexed: DataFrame,
    emb_col: str,
    query: list[float],
    centroids: np.ndarray,
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    bucket_col: str = "ivf_bucket",
) -> DataFrame:
    """Search only the nprobe buckets nearest the query: the filter is a
    partition-prunable predicate; the exact cosine runs on the pruned
    fraction only."""
    probes = ivf_probes(centroids, query, nprobe)
    pruned = indexed.filter(F.col(bucket_col).isin(probes))
    return brute_force_topk(pruned, emb_col, query, k=k, id_col=id_col)


# ---------------------------------------------------------------------------
# batched k-NN join (many queries at once)

def probe_buckets(emb: Column, centroids: np.ndarray, nprobe: int) -> Column:
    """Top-nprobe centroid ids by dot product, as a pure Column
    expression: the C dots land in ONE struct array, so each dot is
    evaluated once per row (Catalyst's subexpression elimination does
    not reach inside higher-order-function lambdas, so a greatest(...)
    formulation would re-emit every fold), array_sort orders by
    (-dot, cid) so ties resolve to the lowest centroid id, and
    slice+transform yields the probe id list. An invalid query vector
    folds to NULL dots and probes buckets 0..nprobe-1."""
    entries = F.array(*[
        F.struct(
            (-F.aggregate(
                F.zip_with(emb, lit_vec(c), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )).alias("nd"),
            F.lit(int(i)).cast("int").alias("cid"),
        )
        for i, c in enumerate(centroids)
    ])
    return F.transform(
        F.slice(F.array_sort(entries), 1, nprobe), lambda s: s["cid"]
    )


def knn_join_ivf(
    corpus: DataFrame,
    emb_col: str,
    queries_df: DataFrame,
    centroids: np.ndarray,
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_emb_col: str = "qemb",
    strategy: str = "pandas",
) -> DataFrame:
    """k-NN join for the LARGE-Q regime knn_join's closure bound rules
    out: queries are a DataFrame, so Q is unbounded and nothing rides
    the task closure.

    Plan shape: corpus rows get their single IVF bucket in one Arrow
    pass (`assign_buckets_pandas` — at 10^12 rows the assignment is
    materialized once at ingest via ivf_index and the table is
    write-partitioned by it); each query explodes to its nprobe probe
    buckets; both sides cogroup on the bucket key and each bucket is
    scored by one Arrow-batched numpy pass that emits only its per-query
    top-k (`_topk_ppm`). The corpus shuffles once on the bucket key (a
    co-located join when the table is bucket-partitioned at ingest),
    and the global per-query top-k window shuffles only skinny
    candidate rows. nprobe = len(centroids) is full probe — exact
    brute force, the oracle configuration; partial probe trades recall
    for scan fraction exactly like ivf_topk. Per-bucket selection under
    the window's (cos_ppm DESC NULLS LAST, id ASC) order keeps the
    two-phase top-k exact.

    Scores are floor(cosine() * 1e6), bit-identical to the `cosine()`
    Column fold and the DuckDB oracle's, for every query vector: an
    invalid one (NULL, NULL element, wrong length) scores what
    `cosine()` gives it — 0 for NULL or a NULL element, NULL for a wrong
    length. Invalid corpus vectors have a NULL bucket and are never
    candidates.

    ``strategy`` has one accepted value, "pandas", and is kept only so
    existing callers that name it keep working: the Column-expression
    scorer it once chose between ran its folds interpreted (~10 us per
    pair; 31M pairs took ~460 s on 32 cores) and is now the tests'
    reference, not a product path."""
    from pyspark.sql import types as T

    if strategy != "pandas":
        raise ValueError(
            f"unknown strategy `{strategy}`: knn_join_ivf scores with "
            "the Arrow/numpy path only (\"pandas\")"
        )
    dim = np.asarray(centroids).shape[1]
    probed = queries_df.select(
        F.col(query_id_col),
        F.col(query_emb_col).alias("_qe"),
        F.explode(
            probe_buckets(F.col(query_emb_col), centroids, nprobe)
        ).alias("_bkt"),
    )
    # the NULL bucket of invalid vectors must not reach the cogroup: the
    # probe key is non-nullable, so the cogroup's key ordering would
    # compare a NULL bucket equal to bucket 0 and fail the task
    indexed = assign_buckets_pandas(
        corpus.select(F.col(id_col), F.col(emb_col).alias("_ce")),
        "_ce", centroids, "_bkt",
    ).filter(F.col("_bkt").isNotNull())

    def score(qpdf, cpdf):
        return _topk_ppm(
            list(cpdf["_ce"]), cpdf[id_col].to_numpy(),
            list(qpdf["_qe"]), qpdf[query_id_col].to_numpy(),
            dim=dim, k=k, id_col=id_col, query_id_col=query_id_col,
        )

    scored = probed.groupBy("_bkt").cogroup(indexed.groupBy("_bkt")) \
        .applyInPandas(score, T.StructType([
            T.StructField(query_id_col, probed.schema[query_id_col].dataType),
            T.StructField(id_col, indexed.schema[id_col].dataType),
            T.StructField("cos_ppm", T.LongType()),
        ]))
    return _rank_topk(scored, k, query_id_col, id_col)


def _rank_topk(scored: DataFrame, k: int, query_id_col: str,
               id_col: str) -> DataFrame:
    """Global per-query top-k of (query, id, cos_ppm) candidate rows,
    ranked under (cos_ppm DESC NULLS LAST, id ASC)."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_ppm").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _topk_ppm(evecs, ids, qvecs, qids, *, dim: int, k: int,
              id_col: str, query_id_col: str):
    """Score every corpus row against every query and keep each query's
    top-k rows -> pandas (query_id, id, cos_ppm).

    cos_ppm is floor(cosine() * 1e6). Pairs of valid vectors take the
    sequential fold (`_seq_dot_and_norm2`), bit-identical to
    `cosine()`'s F.aggregate fold and DuckDB's list_cosine_similarity;
    a pair with an invalid side (`_valid_vectors`) takes the scalar twin
    `_fold_cos_pair`, and its NULL score is a NULL cos_ppm. The top-k
    follows the global window's (cos_ppm DESC NULLS LAST, id ASC) order
    via np.lexsort, so a two-phase top-k over these rows is exact."""
    import pandas as pd

    n, n_q = len(ids), len(qids)
    if n == 0 or n_q == 0:
        return pd.DataFrame(columns=[query_id_col, id_col, "cos_ppm"])
    ev, e = _valid_vectors(evecs, dim)
    qv, q = _valid_vectors(qvecs, dim)
    dot, en2 = _seq_dot_and_norm2(e, q.T)
    en = np.sqrt(en2)
    en[en == 0] = 1.0
    qn = np.sqrt(_seq_norm2(q))
    qn[qn == 0] = 1.0
    cos = np.empty((n, n_q), dtype=np.float64)
    cos[np.ix_(ev, qv)] = dot / (en[:, None] * qn[None, :])
    e_bad = np.ones(n, dtype=bool)
    e_bad[ev] = False
    q_bad = np.ones(n_q, dtype=bool)
    q_bad[qv] = False
    for i, j in zip(*np.nonzero(e_bad[:, None] | q_bad[None, :])):
        c = _fold_cos_pair(evecs[i], qvecs[j])
        cos[i, j] = np.nan if c is None else c
    ppm = np.floor(cos * 1_000_000)
    # NaN is a NULL score: it sorts after every number, as NULLS LAST
    desc = np.where(np.isnan(ppm), np.inf, -ppm)
    top = min(k, n)
    sel = np.stack([np.lexsort((ids, desc[:, j]))[:top] for j in range(n_q)])
    rows = sel.ravel()
    cols = np.repeat(np.arange(n_q), top)
    return pd.DataFrame({
        query_id_col: np.asarray(qids)[cols],
        id_col: ids[rows],
        "cos_ppm": pd.array(ppm[rows, cols], dtype="Int64"),
    })


def knn_join(
    df: DataFrame,
    emb_col: str,
    queries: "list[tuple[int, list[float]]]",
    *,
    k: int = 10,
    id_col: str = "vec_id",
    max_queries: int = 1024,
) -> DataFrame:
    """Exact k nearest corpus rows for EVERY query vector in one corpus
    scan -> (query_id, vec_id, cos_ppm, rank).

    The single-query `brute_force_topk` gets TakeOrderedAndProject for
    free; the batched form cannot (per-key limits have no native
    operator), so this is the sanctioned mapInPandas pattern: each Arrow
    batch computes ONE sequential-fold score block (batch x Q) and emits
    only its per-query top-k (`_topk_ppm`) — at most Q*k skinny rows per
    batch leave the scan, so the follow-up global top-k window shuffles
    O(Q * k * n_batches) rows, never the corpus. Scores are quantized to
    ppm (floor(cos * 1e6)) with (ppm DESC NULLS LAST, id ASC) ordering
    so ranks are deterministic and engine-portable; per-batch selection
    under the SAME order makes the two-phase top-k exact, not
    approximate. An invalid corpus vector (NULL, NULL element, wrong
    length) scores what `cosine()` gives it: 0, 0 or NULL. The query
    vectors set the dimension, so they must all have the same length.

    Q (number of queries) rides the closure — fine for the dozens-of-
    queries regime, and `max_queries` makes that bound explicit (the
    closure broadcast is Q*dim floats and every batch materializes an
    n x Q score block). For larger Q use `knn_join_ivf`: queries become
    a DataFrame and candidates meet on IVF bucket keys."""
    from pyspark.sql import types as T

    if len(queries) > max_queries:
        raise ValueError(
            f"knn_join got {len(queries)} queries > max_queries="
            f"{max_queries}; use knn_join_ivf for the large-Q regime"
        )

    qids = np.asarray([int(q[0]) for q in queries], dtype=np.int64)
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)  # Q x dim
    qvecs = list(qmat)

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("cos_ppm", T.LongType()),
    ])

    def part(batches):
        for pdf in batches:
            if len(pdf):
                yield _topk_ppm(
                    list(pdf[emb_col]), pdf[id_col].to_numpy(),
                    qvecs, qids, dim=qmat.shape[1], k=k,
                    id_col=id_col, query_id_col="query_id",
                )

    partial = df.select(id_col, emb_col).mapInPandas(part, out_schema)
    return _rank_topk(partial, k, "query_id", id_col)
