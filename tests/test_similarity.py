"""Similarity search: brute-force exact top-k vs numpy; IVF pruning
recall; full-probe IVF == brute force."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from logagent_spark.operators import similarity as sim
from logagent_spark.operators.dedup import cosine


def centroid_assignment(emb, centroids):
    """Reference IVF bucket as a Column expression: argmax over the
    centroid dot products, each a zip_with/aggregate fold (the JVM fold
    that `cosine()` and the DuckDB oracle share). Ties resolve to the
    lowest centroid index; a NULL, ragged or NULL-element vector folds
    to NULL dots and a NULL bucket."""
    dots = F.array(*[
        F.aggregate(
            F.zip_with(emb, sim.lit_vec(c), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centroids
    ])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def knn_join_ivf_reference(corpus, emb_col, queries_df, centroids, *, k,
                           nprobe, id_col="vec_id"):
    """Reference IVF k-NN join in Column expressions: the corpus bucket
    from `centroid_assignment`, the query's probe buckets from
    `probe_buckets`, a join on the bucket and `floor(cosine() * 1e6)`
    per pair, ranked by (cos_ppm DESC NULLS LAST, id ASC)."""
    probed = queries_df.select(
        "query_id", F.col("qemb").alias("_qe"),
        F.explode(sim.probe_buckets(F.col("qemb"), centroids, nprobe))
        .alias("_bkt"),
    )
    indexed = corpus.select(
        id_col, F.col(emb_col).alias("_ce"),
        centroid_assignment(F.col(emb_col), centroids).alias("_bkt"),
    )
    scored = probed.join(indexed, "_bkt").select(
        "query_id", id_col,
        F.floor(cosine(F.col("_qe"), F.col("_ce")) * 1_000_000)
        .cast("long").alias("cos_ppm"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col(id_col).asc())
    return scored.withColumn("rank", F.row_number().over(w)) \
        .filter(F.col("rank") <= k)


def _scored(df, id_col="vec_id"):
    return {(r["query_id"], r[id_col]): (r["cos_ppm"], r["rank"])
            for r in df.collect()}


@pytest.fixture(scope="module")
def emb_df(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb_df):
    rows = emb_df.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def _numpy_topk(ids, mat, q, k):
    qn = np.asarray(q) / np.linalg.norm(q)
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ qn) / np.where(norms > 0, norms, 1.0)
    order = np.lexsort((ids, -np.round(cos, 8)))
    return [int(ids[i]) for i in order[:k]]


def test_brute_force_topk_matches_numpy(emb_df, emb_np):
    ids, mat = emb_np
    q = mat[0].tolist()
    got = [r["vec_id"] for r in sim.brute_force_topk(emb_df, "embedding", q, k=10).collect()]
    assert got == _numpy_topk(ids, mat, q, 10)
    assert got[0] == 0  # the query vector itself is its own nearest


def test_ivf_full_probe_equals_bruteforce(emb_df, emb_np):
    ids, mat = emb_np
    dim = mat.shape[1]
    cents = sim.seeded_centroids(dim, 8, seed=1)
    indexed = sim.ivf_index(emb_df, "embedding", cents)
    q = mat[3].tolist()
    got = [r["vec_id"] for r in sim.ivf_topk(
        indexed, "embedding", q, cents, k=10, nprobe=8).collect()]
    assert got == _numpy_topk(ids, mat, q, 10)


def test_ivf_pruned_recall(emb_df, emb_np):
    ids, mat = emb_np
    dim = mat.shape[1]
    cents = sim.seeded_centroids(dim, 8, seed=1)
    indexed = sim.ivf_index(emb_df, "embedding", cents).cache()
    recalls = []
    for qi in (0, 7, 42):
        q = mat[qi].tolist()
        want = set(_numpy_topk(ids, mat, q, 10))
        got = {r["vec_id"] for r in sim.ivf_topk(
            indexed, "embedding", q, cents, k=10, nprobe=4).collect()}
        recalls.append(len(got & want) / 10)
    indexed.unpersist()
    assert sum(recalls) / len(recalls) >= 0.5  # half the buckets probed


def test_bucket_assignment_is_valid(emb_df):
    cents = sim.seeded_centroids(64, 8, seed=1)
    indexed = sim.ivf_index(emb_df, "embedding", cents)
    stats = indexed.groupBy("ivf_bucket").count().collect()
    assert all(0 <= r["ivf_bucket"] < 8 for r in stats)
    assert sum(r["count"] for r in stats) == emb_df.count()


def test_kmeans_refine_full_probe_invariant(emb_df, emb_np):
    """Lloyd refinement must keep the full-probe == brute-force
    invariant (whatever the centroids, probing every bucket is exact)
    and produce unit-norm centroids."""
    import numpy as np

    _, mat = emb_np
    cents0 = sim.seeded_centroids(mat.shape[1], 4, seed=9)
    cents = sim.kmeans_refine(emb_df, "embedding", cents0, iters=2)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)
    indexed = sim.ivf_index(emb_df, "embedding", cents)
    q = mat[3].tolist()
    full = sim.ivf_topk(indexed, "embedding", q, cents, k=5,
                        nprobe=len(cents))
    brute = sim.brute_force_topk(emb_df, "embedding", q, k=5)
    assert [r["vec_id"] for r in full.collect()] == \
           [r["vec_id"] for r in brute.collect()]


def test_kmeans_refine_tightens_assignment(emb_df, emb_np):
    """Refined centroids should not WORSEN the mean best-dot objective
    (Lloyd steps are non-decreasing for cosine on unit vectors)."""
    import numpy as np

    _, mat = emb_np
    cents0 = sim.seeded_centroids(mat.shape[1], 4, seed=9)
    cents1 = sim.kmeans_refine(emb_df, "embedding", cents0, iters=3)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    obj0 = (normed @ cents0.T).max(axis=1).mean()
    obj1 = (normed @ cents1.T).max(axis=1).mean()
    assert obj1 >= obj0 - 1e-9


def test_knn_join_matches_single_query_topk(spark):
    """The batched k-NN join must agree with the single-query exact
    top-k for every query, including planted nearest neighbors."""
    import numpy as np

    from logagent_spark.operators.similarity import brute_force_topk, knn_join

    rng = np.random.RandomState(5)
    base = rng.randn(40, 16)
    base[30] = base[0] + 0.01 * rng.randn(16)  # planted neighbor of q0
    rows = [(i, base[i].tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(i, base[i].tolist()) for i in range(3)]
    from pyspark.sql import functions as F

    corpus = df.filter(F.col("vec_id") >= 3)

    got = knn_join(corpus, "embedding", queries, k=4).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert set(by_q) == {0, 1, 2}
    assert all(len(v) == 4 for v in by_q.values())
    assert by_q[0][0] == 30  # planted neighbor ranks first for q0

    for qid, qvec in queries:
        want = [r["vec_id"] for r in brute_force_topk(
            corpus, "embedding", qvec, k=4).collect()]
        # same id set; ordering may differ only on exact ppm ties
        assert set(by_q[qid]) == set(want), qid


def test_knn_join_max_queries_guard():
    """Q rides the task closure; the explicit bound must raise before
    a silent megabyte broadcast (large Q belongs to knn_join_ivf)."""
    from logagent_spark.operators.similarity import knn_join

    queries = [(i, [0.0, 1.0]) for i in range(5)]
    with pytest.raises(ValueError, match="knn_join_ivf"):
        knn_join(None, "embedding", queries, k=1, max_queries=4)


def _collect_ranked(df):
    by_q = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    return by_q


def test_knn_join_ivf_full_probe_equals_closure_join(spark):
    """Full probe (nprobe = C) visits every bucket, so the DataFrame-
    queries IVF join must reproduce the closure-based knn_join exactly
    — ids, ppm scores AND ranks."""
    rng = np.random.RandomState(7)
    base = rng.randn(50, 16)
    rows = [(i, base[i].tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from pyspark.sql import functions as F

    corpus = df.filter(F.col("vec_id") >= 4)
    queries = [(i, base[i].tolist()) for i in range(4)]
    qdf = spark.createDataFrame(queries, "query_id long, qemb array<double>")
    cents = sim.seeded_centroids(16, 6, seed=3)

    want = {
        (r["query_id"], r["vec_id"]): (r["cos_ppm"], r["rank"])
        for r in sim.knn_join(corpus, "embedding", queries, k=5).collect()
    }
    got = {
        (r["query_id"], r["vec_id"]): (r["cos_ppm"], r["rank"])
        for r in sim.knn_join_ivf(
            corpus, "embedding", qdf, cents, k=5, nprobe=6
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_knn_join_ivf_equals_reference(spark, id_type):
    """The per-bucket Arrow/numpy scoring must reproduce the Column-
    expression reference EXACTLY — ids, ppm scores and ranks — at full
    and partial probe (the sequential-fold numpy dot is bit-identical
    to the interpreted HOF fold). Ten corpus rows repeat other rows'
    vectors, so ppm ties are broken by id: with string ids (the bench
    corpus keys by url) that is Spark's binary string order, where
    "a10" sorts before "a2"."""
    rng = np.random.RandomState(13)
    base = rng.randn(60, 16)
    base[50:] = base[10:20]
    ids = list(range(60)) if id_type == "long" \
        else [f"a{i}" for i in range(60)]
    df = spark.createDataFrame(
        [(ids[i], base[i].tolist()) for i in range(60)],
        f"vec_id {id_type}, embedding array<double>")
    qdf = df.filter(F.col("vec_id").isin(ids[:5])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb"))
    corpus = df.filter(~F.col("vec_id").isin(ids[:5]))
    cents = sim.seeded_centroids(16, 6, seed=3)

    for nprobe in (6, 2):
        want = _scored(knn_join_ivf_reference(
            corpus, "embedding", qdf, cents, k=4, nprobe=nprobe))
        got = _scored(sim.knn_join_ivf(
            corpus, "embedding", qdf, cents, k=4, nprobe=nprobe))
        assert got == want, nprobe


@pytest.mark.parametrize("kind", ["null", "null_element", "ragged", "zero"])
def test_knn_join_ivf_invalid_query_vectors(spark, kind):
    """An invalid query vector scores what `cosine()` gives it, both
    alone and sharing its probe buckets with valid queries: ppm 0 for a
    NULL, NULL-element or zero query and NULL for a ragged one, ranked
    (cos_ppm DESC NULLS LAST, id ASC) like the Column-expression
    reference. (Its NULL dots probe buckets 0..nprobe-1.) Invalid corpus
    vectors keep a NULL bucket and are never candidates; the invalid
    query probes bucket 0, which pins that the NULL bucket never reaches
    the cogroup, where the non-nullable probe key would compare it
    equal to bucket 0 and fail the task."""
    dim = 8
    rng = np.random.RandomState(29)
    cents = sim.seeded_centroids(dim, 4, seed=3)
    base = rng.randn(40, dim)
    corpus = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(40)] + [
            (100, None), (101, [1.0] * (dim - 1)),
            (102, [None] + [1.0] * (dim - 1)),
        ],
        "vec_id long, embedding array<double>")
    bad = {
        "null": None,
        "null_element": [None] + [1.0] * (dim - 1),
        "ragged": [1.0] * (dim + 1),
        "zero": [0.0] * dim,
    }[kind]
    # valid queries near centroids 0 and 1 share both of the invalid
    # query's probe buckets
    valid = [(j, (cents[j] + 0.1 * rng.randn(dim)).tolist())
             for j in range(2)]
    assert all(sim.ivf_probes(cents, v, 2)[0] == j for j, v in valid)
    for queries in ([(50, bad)], [(50, bad)] + valid):
        qdf = spark.createDataFrame(
            queries, "query_id long, qemb array<double>")
        got = _scored(sim.knn_join_ivf(
            corpus, "embedding", qdf, cents, k=6, nprobe=2))
        want = _scored(knn_join_ivf_reference(
            corpus, "embedding", qdf, cents, k=6, nprobe=2))
        assert got == want
        assert not any(vid >= 100 for _, vid in got)
        scores = [ppm for (qid, _), (ppm, _) in got.items() if qid == 50]
        assert len(scores) == 6
        assert set(scores) == {None if kind == "ragged" else 0}


def test_knn_join_invalid_corpus_vectors(spark):
    """NULL, NULL-element, ragged and zero corpus vectors score
    floor(cosine() * 1e6) — 0, 0, NULL and 0 — ranked under the same
    (cos_ppm DESC NULLS LAST, id ASC) order as a cross join with the
    `cosine()` Column, both in one batch with the valid vectors and in
    the default partitioning (invalid rows batched mostly together)."""
    dim = 8
    rng = np.random.RandomState(37)
    rows = [(i, rng.randn(dim).tolist()) for i in range(20)] + [
        (20, None), (21, [None] + [1.0] * (dim - 1)),
        (22, [1.0] * (dim - 1)), (23, [1.0] * (dim + 1)),
        (24, [0.0] * dim),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = [(j, rng.randn(dim).tolist()) for j in range(3)]
    queries.append((3, [0.0] * dim))
    k = len(rows)
    qdf = spark.createDataFrame(queries, "query_id long, qemb array<double>")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_ppm").desc(), F.col("vec_id").asc())
    want = _scored(
        df.crossJoin(qdf).select(
            "query_id", "vec_id",
            F.floor(cosine(F.col("qemb"), F.col("embedding")) * 1_000_000)
            .cast("long").alias("cos_ppm"),
        ).withColumn("rank", F.row_number().over(w))
    )
    assert [want[(0, v)][0] for v in range(20, 25)] == [0, 0, None, None, 0]
    for corpus in (df.coalesce(1), df):
        assert _scored(sim.knn_join(corpus, "embedding", queries, k=k)) \
            == want


def test_knn_join_ivf_partial_probe_planted_clusters(spark):
    """Tight planted clusters around each centroid: with nprobe=1 every
    query's true top-k lives in its own bucket, so partial probe is
    exact on this fixture. Plan shape: both sides cogroup on the bucket
    key into one per-bucket Arrow scorer, and the corpus is exchanged
    exactly once — three exchanges in all (probed queries, corpus, the
    per-query top-k window) and no broadcast."""
    rng = np.random.RandomState(11)
    cents = sim.seeded_centroids(16, 4, seed=3)
    rows, rid = [], 0
    for c in range(4):
        for _ in range(12):
            v = cents[c] + 0.05 * rng.randn(16)
            rows.append((rid, c, (v / np.linalg.norm(v)).tolist()))
            rid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, true_c long, embedding array<double>")
    corpus = df.select("vec_id", "embedding")
    qdf = df.filter(df.vec_id % 12 == 0).select(
        df.vec_id.alias("query_id"), df.embedding.alias("qemb"))

    got = sim.knn_join_ivf(corpus, "embedding", qdf, cents, k=6, nprobe=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert plan.count("Exchange hashpartitioning(_bkt") == 2
    assert plan.count("Exchange") == 3
    assert "Broadcast" not in plan

    by_q = _collect_ranked(got)
    truth = {r[0]: r[1] for r in rows}
    for qid, ids in by_q.items():
        assert len(ids) == 6
        assert ids[0] == qid  # the query vector itself ranks first
        assert all(truth[i] == truth[qid] for i in ids)  # same cluster


def test_knn_join_ivf_planted_twin_recall_floor(spark):
    """The planted-recall protocol (VERDICT r4 #2) at pytest scale:
    random corpus + cos~0.9998 twins planted for each query, centroids
    KMEANS-REFINED on the corpus, partial probe. Pins a recall floor at
    partial probe, monotone non-degradation as nprobe grows, and
    exactness at full probe."""
    rng = np.random.RandomState(23)
    n, dim, nq, k = 2000, 16, 80, 5
    base = rng.randn(n, dim) * 50
    rows = [(i, base[i].tolist()) for i in range(n)]
    twins = []
    for qi in range(nq):
        e = base[qi]
        sigma = 0.02 * np.linalg.norm(e) / np.sqrt(dim)
        twins.append((n + qi, (e + sigma * rng.randn(dim)).tolist()))
    corpus = spark.createDataFrame(
        rows + twins, "vec_id long, embedding array<double>")
    cents = sim.kmeans_refine(
        corpus, "embedding", sim.seeded_centroids(dim, 16, seed=9), iters=2)
    qdf = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(nq)],
        "query_id long, qemb array<double>")

    def planted_recall(nprobe):
        got = sim.knn_join_ivf(
            corpus, "embedding", qdf, cents, k=k, nprobe=nprobe)
        by_q = {}
        for r in got.collect():
            by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(1 for q in range(nq) if (n + q) in by_q.get(q, ())) / nq

    r2 = planted_recall(2)
    r4 = planted_recall(4)
    r16 = planted_recall(16)
    assert r16 == 1.0, r16          # full probe == exact
    assert r2 >= 0.9, r2            # partial-probe floor
    assert r2 <= r4 <= r16, (r2, r4, r16)


def test_suggest_ivf_config_model():
    """The sizing helper inverts the measured recall curve: nprobe is
    monotone in the recall target, probe fraction matches the sweep's
    anchor points, and the sqrt(n) centroid rule clamps sanely."""
    lo = sim.suggest_ivf_config(100_000, 0.70)
    mid = sim.suggest_ivf_config(100_000, 0.90)
    hi = sim.suggest_ivf_config(100_000, 0.99)
    assert lo["n_centroids"] == mid["n_centroids"] == hi["n_centroids"] == 316
    assert lo["nprobe"] <= mid["nprobe"] <= hi["nprobe"]
    assert mid["expected_topk_recall"] >= 0.9
    # anchor inversion: a target AT a measured point needs exactly that
    # point's probe fraction (0.952 at 8/64)
    at = sim.suggest_ivf_config(64 * 64, 0.952)
    assert at["n_centroids"] == 64 and at["nprobe"] == 8
    # an easy target never probes below 1, an exact target never above C
    assert sim.suggest_ivf_config(50, 0.1)["nprobe"] == 1
    full = sim.suggest_ivf_config(1_000_000, 1.0)
    assert full["nprobe"] == full["n_centroids"]
    assert sim.suggest_ivf_config(10**12, 0.9)["n_centroids"] == 4096


def test_suggest_ivf_config_hits_planted_floor(spark):
    """Helper-picked config on the planted-twin fixture: the predicted
    recall must be REALIZED (planted recall >= target) — the sizing is
    only useful if its numbers survive contact with a corpus."""
    rng = np.random.RandomState(31)
    n, dim, nq, k = 2000, 16, 80, 5
    base = rng.randn(n, dim) * 50
    rows = [(i, base[i].tolist()) for i in range(n)]
    twins = []
    for qi in range(nq):
        e = base[qi]
        sigma = 0.02 * np.linalg.norm(e) / np.sqrt(dim)
        twins.append((n + qi, (e + sigma * rng.randn(dim)).tolist()))
    corpus = spark.createDataFrame(
        rows + twins, "vec_id long, embedding array<double>")
    cfg = sim.suggest_ivf_config(n + nq, 0.9)
    cents = sim.kmeans_refine(
        corpus, "embedding",
        sim.seeded_centroids(dim, cfg["n_centroids"], seed=13), iters=2)
    qdf = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(nq)],
        "query_id long, qemb array<double>")
    got = sim.knn_join_ivf(
        corpus, "embedding", qdf, cents, k=k, nprobe=cfg["nprobe"])
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(1 for q in range(nq) if (n + q) in by_q.get(q, ())) / nq
    assert recall >= 0.9, (cfg, recall)


def test_assign_buckets_pandas_matches_expr(spark):
    """r7: the Arrow/numpy bucket assignment must match the Column-expr
    argmax exactly — same sequential-fold dots, first-occurrence ties,
    NULL bucket for NULL/ragged/NULL-element vectors."""
    import numpy as np
    from pyspark.sql import functions as F

    from logagent_spark.operators import similarity as sim

    rng = np.random.RandomState(11)
    cents = sim.seeded_centroids(16, 8, seed=3)
    rows = [(i, rng.randn(16).tolist()) for i in range(500)]
    rows += [(1000, None), (1001, [1.0] * 12),
             (1002, [1.0] * 15 + [None]), (1003, [0.0] * 16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["b"]
        for r in sim.assign_buckets_pandas(
            df, "embedding", cents, "b"
        ).collect()
    }
    want = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id",
            centroid_assignment(F.col("embedding"), cents).alias("b"),
        ).collect()
    }
    assert got == want
    assert want[1000] is None and want[1001] is None and want[1002] is None


@pytest.mark.parametrize("extra", [
    [[None, 1.0, 2.0, 3.0]],
    [[None, 1.0, 2.0, 3.0], [4.0, None, 2.0, 1.0]],
], ids=["one_null_element", "null_elements_cover_every_dim"])
def test_kmeans_refine_ignores_invalid_vectors(spark, extra):
    """Invalid vectors get a NULL bucket. That group's means can still be
    finite (NULL elements in different dimensions), and they must not
    move any centroid: the frame plus NULL-element vectors refines to
    exactly the centroids of the frame without them. Integer-valued
    vectors keep every mean exact in any summation order."""
    rng = np.random.RandomState(4)
    base = [rng.randint(-5, 6, size=4).astype(float).tolist()
            for _ in range(40)]
    cents0 = sim.seeded_centroids(4, 3, seed=2)
    schema = "embedding array<double>"
    want = sim.kmeans_refine(
        spark.createDataFrame([(v,) for v in base], schema),
        "embedding", cents0, iters=2)
    got = sim.kmeans_refine(
        spark.createDataFrame([(v,) for v in base + extra], schema),
        "embedding", cents0, iters=2)
    assert np.array_equal(got, want)
