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
    seeded centroids (literal arrays, scan-side), search only the
    query's probe buckets. C and nprobe trade recall for scan fraction;
    at 10^12 rows the bucket assignment is written once at ingest and
    the query prunes partitions.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logagent_spark.operators.dedup import cosine


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


def centroid_assignment(
    emb: Column, centroids: np.ndarray
) -> Column:
    """argmax over centroid dot products, as a Column expression.

    The dots land in ONE array literal and the argmax is
    array_position(arr, array_max(arr)): each dot is evaluated exactly
    once per row. (A greatest(...) + when-chain formulation re-emits
    every dot expression 2-3x — Catalyst's subexpression elimination
    does not reach inside higher-order-function lambdas.) Ties resolve
    to the lowest centroid index, first-occurrence semantics."""
    dots = F.array(*[
        F.aggregate(
            F.zip_with(emb, lit_vec(c), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centroids
    ])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def assign_buckets_pandas(
    df: DataFrame, emb_col: str, centroids: np.ndarray, out_col: str
) -> DataFrame:
    """centroid_assignment as one Arrow/numpy pass (mapInPandas): the
    C dot products accumulate as a sequential left fold over DIMENSIONS,
    vectorized across rows and centroids — each fold step is one rounded
    multiply + one rounded add per (row, centroid), the exact rounding
    sequence of the expression fold, and np.argmax is first-occurrence
    like array_position(dots, array_max(dots)). Invalid vectors (NULL,
    ragged length, NULL element) get a NULL bucket, matching the
    NULL-propagating expr dots. The expr form runs INTERPRETED (HOFs
    never codegen): C folds per row made assignment the dominant cost of
    the IVF index build and the pandas join's corpus prep at 100k x 64
    (r7, measured interleaved — see OPTIMIZATION_r07.md)."""
    import pandas as pd
    from pyspark.sql import types as T

    cents = np.asarray(centroids, dtype=np.float64)
    k, dim = cents.shape
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.IntegerType())]
    )

    def go(batches):
        for pdf in batches:
            vecs = [
                None if v is None
                else np.asarray(v, dtype=np.float64)
                for v in pdf[emb_col]
            ]
            out = np.full(len(vecs), None, dtype=object)
            # NaN marks a NULL element after the Arrow transfer (nulls
            # arrive as NaN): such vectors get a NULL bucket like the
            # expr's NULL-propagating fold. A literal-NaN embedding is
            # indistinguishable here and also yields NULL — documented
            # divergence from the expr path's NaN ordering, which no
            # real embedding corpus hits.
            valid = [
                i for i, v in enumerate(vecs)
                if v is not None and len(v) == dim
                and not np.isnan(v).any()
            ]
            if valid:
                e = np.asarray([vecs[i] for i in valid])
                dots = np.zeros((len(valid), k), dtype=np.float64)
                for d in range(dim):
                    dots += e[:, d][:, None] * cents[:, d][None, :]
                idx = np.argmax(dots, axis=1)
                for j, i in enumerate(valid):
                    out[i] = int(idx[j])
            res = pdf.copy()
            res[out_col] = pd.array(out, dtype="Int32")
            yield res

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
    (`assign_buckets_pandas` — bit-identical to the `centroid_assignment`
    expression fold, without its C interpreted HOF folds per row), the
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
    """Materialize the bucket assignment (at scale: write-partitioned by
    this column so queries prune files)."""
    return df.withColumn(
        bucket_col, centroid_assignment(F.col(emb_col), centroids)
    )


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

def _seq_norm2(mat: np.ndarray, axis_dim: int) -> np.ndarray:
    """Sum of squares as a sequential left fold over dimensions
    (vectorized across the other axis) — the same rounding sequence as
    F.aggregate / DuckDB, unlike numpy's pairwise np.sum."""
    mat = np.moveaxis(np.asarray(mat, dtype=np.float64), axis_dim, 0)
    acc = np.zeros(mat.shape[1:], dtype=np.float64)
    for d in range(mat.shape[0]):
        acc += mat[d] * mat[d]
    return acc


def _seq_dot_and_norm2(e: np.ndarray, qmat: np.ndarray):
    """(n x dim) rows vs (dim x Q) queries -> sequential-fold dot
    (n x Q) and row sum-of-squares (n,). Each fold step is one rounded
    multiply + one rounded add per element, in dimension order —
    bit-identical to a scalar left fold."""
    n, dim = e.shape
    dot = np.zeros((n, qmat.shape[1]), dtype=np.float64)
    n2 = np.zeros(n, dtype=np.float64)
    for d in range(dim):
        col = e[:, d]
        dot += col[:, None] * qmat[d][None, :]
        n2 += col * col
    return dot, n2


def probe_buckets(emb: Column, centroids: np.ndarray, nprobe: int) -> Column:
    """Top-nprobe centroid ids by dot product, as a pure Column
    expression: the C dots land in ONE struct array (each dot evaluated
    once per row — see centroid_assignment on the HOF-CSE gap),
    array_sort orders by (-dot, cid) so ties resolve to the lowest
    centroid id, and slice+transform yields the probe id list."""
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
    broadcast_queries: bool = True,
    strategy: str = "expr",
) -> DataFrame:
    """k-NN join for the LARGE-Q regime knn_join's closure bound rules
    out: queries are a DataFrame, so Q is unbounded and nothing rides
    the task closure.

    Plan shape: corpus rows get their single IVF bucket scan-side
    (argmax Column expr — at 10^12 rows the assignment is materialized
    once at ingest via ivf_index and the table is write-partitioned by
    it); each query explodes to its nprobe probe buckets; candidates
    meet on the bucket key; the global per-query top-k window shuffles
    only skinny candidate rows, bounded by bucket occupancy * nprobe.
    nprobe = len(centroids) is full probe — exact brute force, the
    oracle configuration; partial probe trades recall for scan fraction
    exactly like ivf_topk.

    Two scoring strategies with BIT-IDENTICAL ppm scores:

    * ``expr`` — join then the JVM `cosine` Column per pair (same fold
      order as the DuckDB oracle). Exact and oracle-friendly, but
      higher-order-function expressions are evaluated INTERPRETED
      (never whole-stage codegen), so per-pair cost is ~10 us — fine
      for gate-scale candidate volumes, ruinous at millions of pairs
      (measured: 31M pairs = ~460 s on 32 cores). With
      `broadcast_queries` (default) the probed query side broadcasts
      and the corpus is never shuffled.
    * ``pandas`` — cogroup both sides on the bucket key and score each
      bucket with one Arrow-batched numpy pass (the sequential-fold
      dot of `_seq_dot_and_norm2`, bit-identical to the expr/DuckDB
      fold), emitting only per-(query, bucket) top-k rows. The corpus
      shuffles once on the bucket key — at 10^12 rows the table is
      already bucket-partitioned at ingest, making this a co-located
      join. This is the large-Q scale path: ~30x faster than expr at
      31M pairs. Per-bucket selection under (ppm DESC, id ASC) keeps
      the two-phase top-k exact."""
    from pyspark.sql import Window

    probed = queries_df.select(
        F.col(query_id_col),
        F.col(query_emb_col).alias("_qe"),
        F.explode(
            probe_buckets(F.col(query_emb_col), centroids, nprobe)
        ).alias("_bkt"),
    )
    if strategy == "pandas":
        # the corpus-side bucket assignment rides the same Arrow boundary
        # the scorer already pays; the interpreted C-fold expr was the
        # prep cost of the cogroup input (r7)
        indexed = assign_buckets_pandas(
            corpus.select(F.col(id_col), F.col(emb_col).alias("_ce")),
            "_ce", centroids, "_bkt",
        )
    else:
        indexed = corpus.select(
            F.col(id_col),
            F.col(emb_col).alias("_ce"),
            centroid_assignment(F.col(emb_col), centroids).alias("_bkt"),
        )

    if strategy == "pandas":
        scored = _score_buckets_pandas(
            probed, indexed, k=k,
            id_col=id_col, query_id_col=query_id_col,
        )
    elif strategy == "expr":
        if broadcast_queries:
            probed = F.broadcast(probed)
        scored = probed.join(indexed, "_bkt").select(
            query_id_col,
            id_col,
            F.floor(cosine(F.col("_qe"), F.col("_ce")) * 1_000_000)
            .cast("long")
            .alias("cos_ppm"),
        )
    else:
        raise ValueError(f"unknown strategy `{strategy}`")

    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_ppm").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _score_buckets_pandas(
    probed: DataFrame,
    indexed: DataFrame,
    *,
    k: int,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Per-bucket Arrow/numpy scoring for knn_join_ivf: cogroup the
    probed queries and the bucketed corpus on the bucket key; each
    bucket computes the sequential-fold cosine matrix (bit-identical to
    the Column-expr fold) and emits only its per-query top-k."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(
            query_id_col, probed.schema[query_id_col].dataType
        ),
        T.StructField(id_col, indexed.schema[id_col].dataType),
        T.StructField("cos_ppm", T.LongType()),
    ])
    cols = [query_id_col, id_col, "cos_ppm"]

    def score(qpdf: "pd.DataFrame", cpdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(columns=cols)
        e = np.asarray([np.asarray(v, dtype=np.float64) for v in cpdf["_ce"]])
        qm = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in qpdf["_qe"]]
        ).T  # dim x Qb
        dot, n2 = _seq_dot_and_norm2(e, qm)
        en = np.sqrt(n2)
        en[en == 0] = 1.0
        qn = np.sqrt(_seq_norm2(qm, 0))
        qn[qn == 0] = 1.0
        ppm = np.floor(dot / (en[:, None] * qn[None, :]) * 1_000_000)
        ppm = ppm.astype(np.int64)
        ids = cpdf[id_col].to_numpy()
        top = min(k, len(ids))
        n_q = qm.shape[1]
        # per-query top-k via np.lexsort under the SAME (ppm DESC, id
        # ASC) order as the global window (the knn_join batch pattern) —
        # the r6 pandas DataFrame + sort_values per (query, bucket) was
        # ~0.4 ms per query and dominated the large-Q join (r7)
        sel = np.empty((n_q, top), dtype=np.int64)
        for j in range(n_q):
            sel[j] = np.lexsort((ids, -ppm[:, j]))[:top]
        flat = sel.ravel()
        return pd.DataFrame({
            query_id_col: np.repeat(qpdf[query_id_col].to_numpy(), top),
            id_col: ids[flat],
            "cos_ppm": ppm[flat, np.repeat(np.arange(n_q), top)],
        })

    return (
        probed.groupBy("_bkt")
        .cogroup(indexed.groupBy("_bkt"))
        .applyInPandas(score, out_schema)
    )


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
    batch computes ONE numpy matmul (batch x dim @ dim x Q) and emits
    only its per-query top-k — at most Q*k skinny rows per batch leave
    the scan, so the follow-up global top-k window shuffles
    O(Q * k * n_batches) rows, never the corpus. Scores are quantized to
    ppm (floor(cos * 1e6)) with (ppm DESC, id ASC) ordering so ranks are
    deterministic and engine-portable; per-batch selection under the
    SAME order makes the two-phase top-k exact, not approximate.

    Q (number of queries) rides the closure — fine for the dozens-of-
    queries regime, and `max_queries` makes that bound explicit (the
    closure broadcast is Q*dim floats and every batch materializes an
    n x Q score block). For larger Q use `knn_join_ivf`: queries become
    a DataFrame and candidates meet on IVF bucket keys."""
    import pandas as pd

    from pyspark.sql import Window
    from pyspark.sql import types as T

    if len(queries) > max_queries:
        raise ValueError(
            f"knn_join got {len(queries)} queries > max_queries="
            f"{max_queries}; use knn_join_ivf for the large-Q regime"
        )

    qids = [int(q[0]) for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64).T  # dim x Q
    qnorm = np.sqrt(_seq_norm2(qmat, 0))
    qnorm[qnorm == 0] = 1.0

    out_schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("cos_ppm", T.LongType()),
    ])

    def part(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            e = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[emb_col]]
            )
            ids = pdf[id_col].to_numpy()
            # dot and norms as SEQUENTIAL left folds over dimensions
            # (vectorized across rows): acc <- round(acc + round(x*y))
            # per step — bit-identical to dedup.cosine()'s F.aggregate
            # fold and DuckDB's list_cosine_similarity. BLAS dgemm uses
            # blocked/pairwise summation, which can land a few ulps off
            # and flip the ppm floor at integer boundaries.
            dot, en2 = _seq_dot_and_norm2(e, qmat)
            en = np.sqrt(en2)
            en[en == 0] = 1.0
            cos = dot / (en[:, None] * qnorm[None, :])
            ppm = np.floor(cos * 1_000_000).astype(np.int64)
            rows = []
            for j, qid in enumerate(qids):
                col = ppm[:, j]
                top = min(k, n)
                # exact per-batch top-k under (ppm desc, id asc)
                order = np.lexsort((ids, -col))[:top]
                rows.append(pd.DataFrame({
                    "query_id": qid, id_col: ids[order],
                    "cos_ppm": col[order],
                }))
            yield pd.concat(rows, ignore_index=True)

    partial = df.select(id_col, emb_col).mapInPandas(part, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col(id_col).asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
