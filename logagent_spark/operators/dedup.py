"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding near-dup.

Scale design (the whole point — 10^12 docs):

  * exact dedup: hash-groupBy on a 128-bit content hash. The shuffle key
    is the hash (uniform by construction — no skew), and only (hash, id)
    pairs shuffle, never the documents;
  * MinHash+LSH: signatures are computed scan-side as pure Column
    expressions (array_min over xxhash64 of shingles — JVM, no UDF);
    banding explodes to b (band, key) rows per doc of ~24 bytes each.
    Exact Jaccard verification runs only on candidate pairs (tiny);
  * SimHash: signatures come from one Arrow pass (numpy bit-twiddling
    per batch) because 64 per-bit conditional sums as Columns would
    bloat codegen; banding on 4×16-bit chunks (Hamming<=3 => at least
    one of 4 chunks equal — pigeonhole), exact hamming per pair;
  * embedding near-dup: random-hyperplane LSH with seeded literal
    hyperplanes — banded sign-bit keys from one Arrow/numpy pass, exact
    cosine per pair.

The three LSH families share one pair kernel (`_lsh_pairs`): banded
(band, key, id[, payload]) rows shuffle ONCE on (band, key), buckets of
fewer than 2 or more than `max_bucket_size` rows drop in the JVM, and
one grouped Arrow emitter pairs each surviving bucket's ids strictly
a < b in fixed-size tiles, scoring each pair with the family's hook.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from logagent_spark.operators.textstats import shingles_from_tokens, tokens

# ---------------------------------------------------------------------------
# exact

def content_hash(col: Column, normalize: bool = True) -> Column:
    c = (
        F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))
        if normalize
        else col
    )
    return F.md5(c)


def dedup_exact(
    df: DataFrame, id_col: str, text_col: str, normalize: bool = True
) -> DataFrame:
    """Keep the smallest id per content hash (deterministic winner).
    Implemented as min-by aggregation — one shuffle on the uniform hash,
    never a window sort over the full corpus."""
    h = content_hash(F.col(text_col), normalize).alias("content_hash")
    winners = (
        df.select(h, F.col(id_col).alias("_id"))
        .groupBy("content_hash")
        .agg(F.min("_id").alias(id_col))
        .drop("content_hash")
    )
    return df.join(winners, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH

def minhash_signature_from_shingles(
    sh: Column, num_hashes: int = 64
) -> Column:
    """array<long> signature of a shingle array Column: element i = min
    over shingles of xxhash64(shingle, seed_i). Pure Column expr —
    computed scan-side.

    Expression shape matters twice over:

    * the shingle array is the OUTER transform argument, so it is
      derived once per row; a naive per-seed expression list re-derives
      it num_hashes times (Catalyst's subexpression elimination does not
      reach inside lambda bodies — measured ~30× slower). Build it from
      a materialized token column + `textstats.shingles_from_tokens` so
      the token split runs once per row too;
    * each shingle STRING is hashed exactly once; the num_hashes seeded
      variants rehash the resulting 8-byte long (`xxhash64(h, seed)` —
      the standard universal-rehash MinHash construction), not the
      ~30-byte string. Hashing the string per seed made signature
      generation the hot loop of the whole MinHash pipeline.
    """
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    hs = F.transform(sh, lambda s: F.xxhash64(s))
    per_shingle = F.transform(
        hs, lambda h: F.transform(seeds, lambda seed: F.xxhash64(h, seed))
    )
    init = F.array(*[F.lit(9223372036854775807)] * num_hashes)
    return F.aggregate(
        per_shingle,
        init,
        lambda acc, h: F.zip_with(acc, h, lambda a, b: F.least(a, b)),
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """LSH banding -> candidate near-duplicate pairs (a, b): every a < b
    (strict) pair of non-NULL ids sharing a band bucket of
    2..`max_bucket_size` rows, once (`_lsh_pairs`); equal ids never pair.

    Shuffle cost: bands rows per doc of (band, key, id) — the banded
    hash is uniform, so no skew; no self-join ever happens. The cap is
    applied in the JVM, before any id reaches Python. It guards the
    degenerate buckets a real corpus produces (every empty/boilerplate
    doc shares one signature and would emit O(n^2) pairs): they are
    exact-duplicate clusters in disguise — handle them with
    `dedup_exact`, not pairwise Jaccard."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature_from_shingles(
        shingles_from_tokens(F.col("_tk"), shingle_k), num_hashes
    )
    signed = df.select(
        F.col(id_col).alias("_id"),
        tokens(F.col(text_col)).alias("_tk"),
    ).select(F.col("_id"), sig.alias("_sig"))
    return _lsh_pairs(_banded(signed, [
        F.xxhash64(*[F.col("_sig")[b * rows_per_band + r]
                     for r in range(rows_per_band)])
        for b in range(bands)
    ], "_id"), max_bucket_size)


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs -> (a, b, jaccard).

    The corpus is first semi-joined down to ids that appear in a
    candidate pair, THEN shingle sets are materialized: a projection
    below the pair-join would compute the (large) shingle arrays for
    every corpus row, matching or not. Candidate ids are broadcast —
    they are tiny by LSH construction; at extreme candidate volumes
    drop the hint and AQE picks a shuffle semi-join."""
    cand_ids = (
        pairs.select(F.col("a").alias("_jid"))
        .union(pairs.select(F.col("b").alias("_jid")))
        .distinct()
    )
    sets_df = (
        df.join(
            F.broadcast(cand_ids),
            F.col(id_col) == F.col("_jid"),
            "left_semi",
        )
        .select(
            F.col(id_col).alias("_jid"),
            tokens(F.col(text_col)).alias("_tk"),
        )
        .select(
            F.col("_jid"),
            F.array_distinct(
                shingles_from_tokens(F.col("_tk"), shingle_k)
            ).alias("_set"),
        )
    )
    a_sets = sets_df.withColumnRenamed("_jid", "a").withColumnRenamed("_set", "_sa")
    b_sets = sets_df.withColumnRenamed("_jid", "b").withColumnRenamed("_set", "_sb")
    joined = pairs.join(a_sets, "a").join(b_sets, "b")
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size(F.array_union("_sa", "_sb"))
    return joined.select(
        "a", "b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    num_hashes: int | None = None,
    bands: int | None = None,
    shingle_k: int = 5,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Full pipeline: LSH candidates -> exact Jaccard -> thresholded
    near-dup pairs (a, b, jaccard). num_hashes/bands default to
    `suggest_minhash_config(threshold)` — recall-sound banding with a
    bounded background candidate rate; pass BOTH explicitly to pin a
    gate/test parameterization (banding math couples them, so one
    without the other is almost certainly a mistake and raises)."""
    if (num_hashes is None) != (bands is None):
        raise ValueError(
            "pass num_hashes and bands together (banding couples them); "
            "omit both to use suggest_minhash_config(threshold)"
        )
    if num_hashes is None:
        cfg = suggest_minhash_config(threshold)
        num_hashes, bands = cfg["num_hashes"], cfg["bands"]
    cands = minhash_candidates(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
        max_bucket_size=max_bucket_size,
    )
    return jaccard_pairs(df, cands, id_col, text_col, shingle_k).filter(
        F.col("jaccard") >= threshold
    )


# ---------------------------------------------------------------------------
# cluster resolution: near-dup PAIRS -> connected components -> winners

def _union_find_components(edges: list[tuple]) -> dict:
    """Driver-side union-find with path compression; root = min id of
    the component (same winner rule as the distributed loop)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for x, y in edges:
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = find(x), find(y)
        if rx != ry:
            # union by MIN id so the root is the deterministic winner
            lo, hi = (rx, ry) if rx < ry else (ry, rx)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame,
    max_iters: int = 50,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """(a, b) edge list -> (id, component) with component = min id
    reachable.

    Two paths with identical semantics (pytest-pinned equal):

    * **small graphs** (<= small_graph_edges RAW pairs): one collect +
      driver-side union-find. The threshold counts the pair list as
      given — repeats and reversed pairs included — so a
      duplicate-heavy list over it takes the distributed path even when
      its distinct undirected edges would fit (same result; pinned by
      test_dedup). The pair graph is the LSH-candidate output — usually
      orders of magnitude smaller than the corpus — and below this
      threshold the distributed loop's cost is pure fixed overhead
      (per-round jobs + checkpoints dwarf the microseconds of actual
      work; the benched 25-pair graph spent ~7 s on ~0 bytes). The
      collect is bounded by the threshold (~tens of MB), not by corpus
      size.
    * **large graphs**: iterative min-label propagation PLUS pointer
      jumping (the large-star/small-star "shortcut" step): each round
      every node adopts the min label in its neighborhood, then labels
      compress through themselves (label <- min(label, label[label])).
      Plain propagation alone moves the min one hop per round — a
      duplicate CHAIN of diameter > max_iters (realistic for sequential
      template drift across boilerplate pages) would exit unconverged;
      pointer jumping doubles the reach per round, so convergence is
      O(log diameter) and 50 rounds covers any graph smaller than 2^50.
      Raises RuntimeError if the loop exhausts max_iters without a
      fixed point — silently returning split components would make
      dedup_cluster keep multiple documents from one cluster with no
      signal. Per-round shuffles touch only the pair graph, never
      documents: one groupBy(min) + two skinny joins, convergence
      checked on a count. GraphFrames does the same dance; this keeps
      the engine dependency-free. Pass small_graph_edges=0 to force
      this path.
    """
    # materialize the PAIR list once (it is usually the whole LSH
    # pipeline's output plan): the path decision, the small-path
    # collect, and the large path's edge doubling all read this
    # checkpoint. The small path consumes raw pairs directly — the
    # x/y union + distinct shuffle existed only for the label loop, and
    # union-find is insensitive to duplicates (r7; a duplicate-heavy
    # pair list can only overcount the threshold, which errs toward the
    # distributed path, never wrong results).
    pairs_ck = pairs.select("a", "b").localCheckpoint(eager=True)
    if pairs_ck.count() <= small_graph_edges:
        spark = pairs.sparkSession
        comp = _union_find_components(
            [(r["a"], r["b"]) for r in pairs_ck.collect()]
        )
        id_t = pairs.schema["a"].dataType
        schema = T.StructType([T.StructField("id", id_t),
                               T.StructField("component", id_t)])
        # an Arrow table plans as a LocalTableScan with statistics, so
        # dedup_cluster's anti join broadcasts it from the first plan; a
        # list plans as a stats-less ExistingRDD scan, whose sort-merge
        # join shuffles every document before AQE switches to broadcast
        return spark.createDataFrame(
            pa.Table.from_pydict(
                {"id": list(comp), "component": list(comp.values())},
                schema=to_arrow_schema(schema),
            ),
            schema=schema,
        )
    edges = (
        pairs_ck.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(pairs_ck.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("x").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    for _ in range(max_iters):
        # neighbor labels (including own): min per node
        neigh = (
            edges.join(labels, edges.y == labels.id)
            .select(F.col("x").alias("id"), "component")
            .union(labels.select("id", "component"))
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping: component <- min(component, component's own
        # label). Components are node ids, so the hop is a self-join of
        # the skinny labels frame (NO edges involved — far cheaper than
        # the neighbor step); left join because a min label may be a
        # node whose own row hasn't changed (then hop == itself).
        # Applied 3x per round: each application composes the label map
        # with itself, so stale label chains collapse ~8x faster per
        # round at the cost of three skinny self-joins (measured on a
        # 600k-edge random graph: 30 rounds -> 13).
        for _ in range(3):
            hop = neigh.select(
                F.col("id").alias("component"),
                F.col("component").alias("hopped"),
            )
            neigh = neigh.join(hop, "component", "left").select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("hopped"), F.col("component")),
                ).alias("component"),
            )
        # truncate lineage EVERY round (without this the logical plan
        # nests one join+agg per iteration and Catalyst analysis blows
        # up around ~10 rounds — the classic iterative-DataFrame trap),
        # and ride the convergence check on the SAME action: the
        # old-vs-new label join feeds an Observation, so each round is
        # exactly one Spark job instead of checkpoint + a separate
        # changed-count job (measured ~0.7 s/round on a 600k-edge graph)
        from pyspark.sql import Observation

        delta = (
            neigh.alias("n")
            .join(labels.alias("l"), "id")
            .select(
                F.col("id"),
                F.col("n.component").alias("component"),
                (F.col("n.component") != F.col("l.component"))
                .cast("long").alias("_chg"),
            )
        )
        obs = Observation()
        ck = delta.observe(obs, F.max("_chg").alias("changed"))
        ck = ck.localCheckpoint(eager=True)
        labels = ck.select("id", "component")
        if obs.get["changed"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: no fixed point after {max_iters} "
            "rounds — component labels would be silently split"
        )
    return labels


def dedup_cluster(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Keep one document per near-duplicate CLUSTER (transitive closure
    of the pair relation): the winner is the min id of its component —
    deterministic, matching `dedup_exact`'s winner rule. Rows never in
    any pair keep themselves (anti-join, no shuffle of their content)."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash

def _simhash_values(texts, num_bits: int = 64) -> np.ndarray:
    """int64 SimHash per text (0 for NULL or token-less text): token
    hashes vote per bit.

    Token hash = little-endian uint64 of md5(token)[:8] — stable across
    executors/runs (no Python hash() randomization) AND reproducible in
    SQL engines (DuckDB's ``md5_number_upper``), so the operator has a
    real cross-engine oracle. The per-row numeric work is numpy over the
    whole token block; only the md5 digests are a Python loop (hashlib
    releases the GIL per call)."""
    out = np.zeros(len(texts), dtype=np.int64)
    weights = np.uint64(1) << np.arange(num_bits, dtype=np.uint64)
    for i, text in enumerate(texts):
        if text is None:
            continue
        toks = text.lower().split()
        if not toks:
            continue
        hs = np.frombuffer(b"".join(_md5_8(t) for t in toks), dtype="<u8")
        bits = ((hs[:, None] >> np.arange(num_bits, dtype=np.uint64)) & 1)
        # signed arithmetic: uint64 would wrap when ones < half
        votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hs)
        out[i] = np.int64((weights[votes > 0]).sum(dtype=np.uint64))
    return out


def _md5_8(s: str) -> bytes:
    import hashlib

    return hashlib.md5(s.encode("utf-8")).digest()[:8]


def token_hash_u64(s: str) -> int:
    """Python twin of the simhash token hash (little-endian md5[:8];
    DuckDB: ``md5_number_upper``) — the test/driver oracle primitive."""
    return int.from_bytes(_md5_8(s), "little")


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Near-dup pairs (a, b, hamming) by SimHash: pigeonhole banding on
    4×16-bit chunks (hamming<=3 over 64 bits => at least one chunk
    identical), then the exact hamming of each candidate pair. Pairs and
    the JVM-side cap follow `minhash_candidates`' rule; an id repeated
    with different texts gives one row per distinct hamming."""
    def sign(batches):
        for b in batches:
            yield pa.record_batch(
                [b[0], pa.array(_simhash_values(b[1].to_pylist()))],
                names=["_id", "_sh"])

    sh = df.select(id_col, text_col).mapInArrow(sign, T.StructType([
        T.StructField("_id", df.schema[id_col].dataType),
        T.StructField("_sh", T.LongType())]))
    chunks = [F.shiftright("_sh", c * 16).bitwiseAND(F.lit(0xFFFF))
              for c in range(4)]
    return _lsh_pairs(
        _banded(sh, chunks, "_id", "_sh"), max_bucket_size, _hamming_score,
        (T.StructField("hamming", T.IntegerType()),),
    ).filter(F.col("hamming") <= max_hamming)


def _hamming_score(tbl: pa.Table):
    """`_lsh_pairs` hook for SimHash: the hamming distance of the two
    signatures (`_sh`)."""
    sh = tbl["_sh"].to_numpy()
    return lambda ii, jj: [pa.array(np.unpackbits(
        (sh[ii] ^ sh[jj]).view(np.uint8)).reshape(-1, 64).sum(
            axis=1, dtype=np.int32))]


# ---------------------------------------------------------------------------
# embedding near-dup (cosine LSH)

def seeded_planes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes — shared by the Spark exprs and
    any SQL oracle (the literals are the contract)."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def plane_chunks(n_planes: int, n_chunks: int = 3) -> list[list[int]]:
    """Split plane indices into n_chunks contiguous bands (multi-probe
    pigeonhole: two buckets within hamming <= n_chunks - 1 of each other
    share at least one band)."""
    base, rem = divmod(n_planes, n_chunks)
    out, start = [], 0
    for c in range(n_chunks):
        size = base + (1 if c < rem else 0)
        out.append(list(range(start, start + size)))
        start += size
    return out


def _hyperplane_band_keys_pandas(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    planes: np.ndarray,
    chunks: list[list[int]],
) -> DataFrame:
    """Banded sign-bucket keys as ONE Arrow/numpy pass (mapInPandas),
    replacing n_planes interpreted zip_with/aggregate folds per row
    (HOF exprs never codegen — the per-ROW twin of CLAUDE.md's per-PAIR
    trap). Each plane's dot accumulates as a sequential left fold over
    DIMENSIONS, vectorized across rows x planes — one rounded multiply
    + one rounded add per step (`_seq_dot_and_norm2`), the exact
    rounding sequence of the expression fold (the tests'
    `hyperplane_bits` reference), so band keys are bit-identical for
    valid vectors. Invalid vectors (`_valid_vectors`: NULL, ragged
    length, NULL element) take key 0 in every band, matching the
    expr's NULL-propagating fold under `when(dot >= 0, 1).otherwise(0)`;
    a NaN dot reached from inf arithmetic takes bit 1 (Spark orders NaN
    above every number). A literal-NaN ELEMENT is indistinguishable from
    a NULL element after Arrow and yields key 0 where the expr would
    emit all-ones bits — the documented `_valid_vectors` divergence,
    unreachable on a real embedding corpus. Keys accumulate
    in int32 (`key * 2 + bit`, most significant plane first), so a
    32-bit band (the `suggest_lsh_config` maximum) is the two's-
    complement int32 of its sign bits: the wrap is a bijection, and
    bucket equality is all banding needs. The band explode rides the
    same pass: one (id, emb, band, key) row per band comes straight out
    of Arrow. NULL-id rows drop first: a NULL in a batch turns a long id
    column into float64 in pandas, which rounds ids above 2^53."""
    planes = np.asarray(planes, dtype=np.float64)
    dim = planes.shape[1]
    n_chunks = len(chunks)
    schema = T.StructType([
        T.StructField("_id", df.schema[id_col].dataType),
        T.StructField("_e", df.schema[emb_col].dataType),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("key", T.IntegerType(), False),
    ])

    def go(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            embs = list(pdf[emb_col])
            valid, e = _valid_vectors(embs, dim)
            dots, _ = _seq_dot_and_norm2(e, planes.T)
            bits = ((dots >= 0) | np.isnan(dots)).astype(np.int32)
            keys = np.zeros((n, n_chunks), dtype=np.int32)
            for c, idxs in enumerate(chunks):
                k = np.zeros(len(valid), dtype=np.int32)
                for i in idxs:
                    k = k * 2 + bits[:, i]
                keys[valid, c] = k
            yield pd.DataFrame({
                "_id": np.repeat(pdf[id_col].to_numpy(), n_chunks),
                "_e": [v for v in embs for _ in range(n_chunks)],
                "band": np.tile(np.arange(n_chunks, dtype=np.int32), n),
                "key": keys.reshape(-1),
            })

    return df.select(id_col, emb_col).filter(
        F.col(id_col).isNotNull()).mapInPandas(go, schema)


def cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                      lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                            lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0),
                            lambda acc, x: acc + x))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def embedding_candidate_pairs(
    df: DataFrame,
    id_col: str,
    emb_col: str,
    *,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    n_chunks: int = 3,
    max_bucket_size: int = 4096,
) -> DataFrame:
    """Candidate embedding pairs (a, b, cos) via banded hyperplane LSH.

    Multi-probe by pigeonhole banding: the n_planes sign bits split into
    n_chunks bands; a pair is a candidate iff SOME band matches — i.e.
    every pair whose full buckets differ in fewer than n_chunks bits is
    guaranteed found (single-probe bucketing misses any pair straddling
    ONE hyperplane; banding trades more candidates for that recall).

    The band keys come from one Arrow/numpy pass
    (`_hyperplane_band_keys_pandas`), and the embeddings ride that band
    explode once into the pair kernel (`_lsh_pairs`), so no per-pair
    join ever materializes vectors. Pairs and the JVM-side cap follow
    `minhash_candidates`' rule; an id repeated with different vectors
    gives one row per distinct cos. cos (`_cos_score`) is bit-identical
    to the `cosine()` Column fold and the DuckDB oracle's fold (same
    rounding sequence; pinned by test_dedup).
    """
    rows = _hyperplane_band_keys_pandas(
        df, id_col, emb_col,
        seeded_planes(n_planes, dim, seed),
        plane_chunks(n_planes, n_chunks),
    )
    return _lsh_pairs(
        rows, max_bucket_size, _cos_score,
        (T.StructField("cos", T.DoubleType()),),
    )


def _fold_cos_pair(va, vb):
    """Scalar twin of `cosine()` (and the DuckDB oracle's fold) for one
    pair, reproducing the JVM fold's NULL semantics exactly: a
    NULL/None-element vector has a NULL norm (cos -> 0.0 via the
    otherwise branch), a zero norm yields 0.0, and a LENGTH-MISMATCHED
    pair with valid norms yields NULL (zip_with pads with null, the fold
    goes sticky-null). Python float arithmetic is the same IEEE double
    sequence as the fold."""
    def norm2(v):
        if v is None:
            return None
        acc = 0.0
        for x in v:
            if x is None:
                return None
            acc = acc + x * x
        return acc

    na2, nb2 = norm2(va), norm2(vb)
    if na2 is None or nb2 is None:
        return 0.0
    na, nb = math.sqrt(na2), math.sqrt(nb2)
    if not (na > 0 and nb > 0):
        return 0.0
    if len(va) != len(vb):
        return None  # padded null poisons the dot fold
    acc = 0.0
    for x, y in zip(va, vb):
        acc = acc + x * y
    return acc / (na * nb)


def _valid_vectors(vecs, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """Split a batch of vectors into the row indices of the VALID ones
    and their (n_valid, dim) float64 matrix. Valid means the sequential
    fold is defined for it: not NULL, exactly `dim` elements, no NULL
    element. A NULL element arrives as NaN after the Arrow transfer, so
    a literal-NaN element is indistinguishable from it here and also
    makes the vector invalid — a documented divergence from the
    `cosine()` fold (where Spark orders NaN above every number), which
    no real embedding corpus hits. Callers give invalid rows what the
    NULL-propagating fold gives them (`_fold_cos_pair` for cosine)."""
    rows = [None if v is None else np.asarray(v, dtype=np.float64)
            for v in vecs]
    valid = np.asarray(
        [i for i, v in enumerate(rows)
         if v is not None and len(v) == dim and not np.isnan(v).any()],
        dtype=np.intp,
    )
    mat = np.asarray([rows[i] for i in valid], dtype=np.float64)
    return valid, mat.reshape(len(valid), dim)


def _seq_norm2(mat: np.ndarray) -> np.ndarray:
    """Row sums of squares of an (n x dim) matrix as a sequential left
    fold over dimensions (vectorized across rows) — the same rounding
    sequence as `cosine()`'s F.aggregate and DuckDB, unlike numpy's
    pairwise np.sum."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for col in mat.T:
        acc += col * col
    return acc


def _seq_dot_and_norm2(e: np.ndarray, qmat: np.ndarray):
    """(n x dim) rows vs (dim x Q) columns -> sequential-fold dot
    (n x Q) and row sum-of-squares (n,). Each fold step is one rounded
    multiply + one rounded add per element, in dimension order —
    bit-identical to a scalar left fold (`_fold_cos_pair`) and to the
    `cosine()`/DuckDB fold. BLAS dgemm uses blocked/pairwise summation,
    which can land a few ulps off and flip a ppm floor or a sign bit."""
    n, dim = e.shape
    dot = np.zeros((n, qmat.shape[1]), dtype=np.float64)
    n2 = np.zeros(n, dtype=np.float64)
    for d in range(dim):
        col = e[:, d]
        dot += col[:, None] * qmat[d][None, :]
        n2 += col * col
    return dot, n2


def _cos_score(tbl: pa.Table):
    """`_lsh_pairs` hook for hyperplane LSH: the cosine of the two
    vectors (`_e`) as sequential folds over dimensions, vectorized across
    the pairs and bit-identical to `_fold_cos_pair`, which scores every
    pair of a bucket holding a NULL, ragged or empty vector. A NULL
    element reads as NaN, as after any Arrow-to-numpy transfer; a NaN
    cos is returned as NULL."""
    emb = tbl["_e"].combine_chunks()
    n = len(emb)
    off = emb.offsets.to_numpy()
    vals = emb.values.to_numpy(zero_copy_only=False)
    lens = np.diff(off)
    if emb.null_count or lens[0] == 0 or (lens != lens[0]).any():
        null = emb.is_null().to_numpy(zero_copy_only=False)
        vecs = [None if null[k] else vals[off[k]:off[k + 1]]
                for k in range(n)]
        return lambda ii, jj: [pa.array(
            [_fold_cos_pair(vecs[i], vecs[j]) for i, j in zip(ii, jj)],
            pa.float64(), from_pandas=True,
        )]
    e = np.asarray(vals[off[0]:off[-1]], dtype=np.float64).reshape(n, lens[0])
    en = np.sqrt(_seq_norm2(e))

    def score(ii, jj):
        dot = np.zeros(len(ii), dtype=np.float64)
        for col in e.T:
            dot += col[ii] * col[jj]
        na, nb = en[ii], en[jj]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where((na > 0) & (nb > 0), dot / (na * nb), 0.0)
        return [pa.array(cos, pa.float64(), mask=np.isnan(cos))]

    return score


# ---------------------------------------------------------------------------
# banded-LSH pair kernel (MinHash, SimHash and hyperplane LSH)

PAIR_TILE = 1 << 16  # pairs per emitted Arrow batch


def _lsh_pairs(
    rows: DataFrame, max_bucket_size: int,
    score=lambda tbl: lambda ii, jj: [], fields: tuple = (),
) -> DataFrame:
    """(band, key, _id[, payload...]) rows -> distinct (a, b[, *fields]):
    every a < b (strict) pair of non-NULL ids sharing a (band, key)
    bucket of 2..`max_bucket_size` rows (NULL-id rows drop first).

    The rows hash-repartition ONCE on (band, key) to an explicit
    `spark.sql.shuffle.partitions` count: AQE sizes a shuffle by bytes
    and would coalesce this small one onto one core, while pair work
    grows with the square of bucket rows. A windowed count over
    (band, key) shares the sort the grouped emitter needs, so buckets
    outside 2..`max_bucket_size` drop in the JVM before any row reaches
    Python. The emitter sorts each bucket's ids and yields its pairs in
    tiles of `PAIR_TILE`, so its output memory is bounded by the tile,
    not by n^2. `score(tbl)` is the family's hook: given the bucket's
    id-sorted Arrow table it returns `f(ii, jj) -> [arrays]`, the
    `fields` of the pairs at those row positions."""
    parts = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    size = F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
    kept = (
        rows.filter(F.col("_id").isNotNull())
        .repartition(parts, "band", "key")
        .withColumn("_n", size)
        .filter(F.col("_n").between(2, max_bucket_size))
        .drop("_n")
    )
    id_t = rows.schema["_id"].dataType
    schema = T.StructType(
        [T.StructField("a", id_t), T.StructField("b", id_t), *fields]
    )
    tile = PAIR_TILE  # bound here: the emitter runs in Python workers

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        tbl = pa.Table.from_batches(list(batches))
        tbl = tbl.take(pc.sort_indices(tbl["_id"]))
        ids = tbl["_id"].combine_chunks()
        n = len(ids)
        # row i pairs with rows hi[i]..n-1, the ids strictly above its
        # own; its pairs end at position end[i] of the bucket's pair list
        rank = pc.rank(ids, tiebreaker="dense").to_numpy()
        hi = np.searchsorted(rank, rank, side="right")
        end = np.cumsum(n - hi)
        pair_cols = score(tbl)
        for start in range(0, int(end[-1]), tile):
            pos = np.arange(start, min(start + tile, int(end[-1])))
            ii = np.searchsorted(end, pos, side="right")
            jj = n - end[ii] + pos
            yield pa.record_batch(
                [ids.take(ii), ids.take(jj), *pair_cols(ii, jj)],
                names=schema.names)

    return kept.groupBy("band", "key").applyInArrow(emit, schema).distinct()


def _banded(df: DataFrame, keys: list, *cols: str) -> DataFrame:
    """One (band, key, *cols) row per band: band b's key is keys[b]."""
    return df.select(*cols, F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), k.alias("key"))
        for b, k in enumerate(keys)
    ])).alias("_b")).select("_b.band", "_b.key", *cols)


def suggest_minhash_config(
    threshold: float,
    *,
    target_recall: float = 0.9,
    background_jaccard: float = 0.05,
    max_cand_frac: float = 0.01,
) -> dict:
    """Pick (num_hashes, bands) for MinHash-LSH banding from the Jaccard
    threshold — the twin of `suggest_lsh_config` for the shingle family.

    Model: a pair at Jaccard j collides in one band of r rows with j^r;
    with b bands P(candidate) = 1 - (1 - j^r)^b. Unlike hyperplane LSH
    (random pairs collide per bit at exactly 1/2), the background
    collision rate depends on the corpus's typical non-dup Jaccard —
    `background_jaccard` (default 0.05, a web-corpus-ish shingle
    overlap) stands in for it when estimating the candidate fraction.
    The search returns the config with the fewest hashes whose recall at
    `threshold` meets `target_recall` while background pairs stay under
    `max_cand_frac`; infeasible thresholds relax the cap by doubling
    (the returned `expected_cand_frac` is honest about it).
    """
    cap = max_cand_frac
    while True:
        best = None
        for r in range(1, 17):
            bg = background_jaccard ** r
            for b in range(1, 65):
                if min(1.0, b * bg) > cap:
                    continue
                recall = 1.0 - (1.0 - threshold ** r) ** b
                if recall < target_recall:
                    continue
                key = (r * b, b * bg)
                if best is None or key < best[0]:
                    best = (key, r, b, recall, min(1.0, b * bg))
        if best is not None:
            break
        cap *= 2.0
        if cap > 2.0:
            r, b = 1, 64
            best = ((64, 1.0), r, b,
                    1.0 - (1.0 - threshold) ** b,
                    min(1.0, 64 * background_jaccard))
            break
    _, r, b, recall, cand = best
    return {
        "num_hashes": r * b,
        "bands": b,
        "rows_per_band": r,
        "expected_recall": recall,
        "expected_cand_frac": cand,
    }


def suggest_lsh_config(
    threshold: float,
    *,
    n: int | None = None,
    target_recall: float = 0.9,
    max_cand_frac: float = 0.01,
) -> dict:
    """Pick (n_planes, n_chunks) for banded hyperplane LSH from the
    similarity threshold — the guard that stops anyone running a
    gate/test config (e.g. 8 planes / 4 chunks, which admits ~68% of all
    pairs) against a real corpus.

    Model (standard SimHash/hyperplane analysis): two vectors at cosine
    s agree on one sign bit with p = 1 - arccos(s)/pi; with r bits per
    band and b bands, P(candidate) = 1 - (1 - p^r)^b. Random pairs
    (s ~ 0, p = 1/2) collide with ~b * 2^-r — the expected candidate
    FRACTION of all n^2/2 pairs. The search takes the cheapest (fewest
    planes = fewest dot products per row) config whose recall at
    `threshold` meets `target_recall` while the random-pair candidate
    fraction stays under `max_cand_frac`; if no config can (low
    thresholds are inherently hard for hyperplane LSH), the constraint
    relaxes by doubling and the returned `expected_cand_frac` says so.

    bits_per_band tops out at 32, the width of the int32 band key (see
    `_hyperplane_band_keys_pandas`).

    Returns {n_planes, n_chunks, bits_per_band, expected_recall,
    expected_cand_frac, expected_cand_pairs (when n given)} — feed the
    first two straight into `embedding_candidate_pairs`.
    """
    p_t = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    cap = max_cand_frac
    while True:
        best = None
        for r in range(2, 33):
            rand = 0.5 ** r
            for b in range(1, 17):
                if b * rand > cap:
                    continue
                recall = 1.0 - (1.0 - p_t ** r) ** b
                if recall < target_recall:
                    continue
                key = (r * b, b * rand)  # fewest planes, then sparsest
                if best is None or key < best[0]:
                    best = (key, r, b, recall, b * rand)
        if best is not None:
            break
        cap *= 2.0
        if cap > 2.0:  # give up: even cand_frac ~ 1 can't hit recall
            r, b = 2, 16
            best = ((32, 4.0), r, b,
                    1.0 - (1.0 - p_t ** r) ** b, min(1.0, b * 0.5 ** r))
            break
    _, r, b, recall, cand = best
    out = {
        "n_planes": r * b,
        "n_chunks": b,
        "bits_per_band": r,
        "expected_recall": recall,
        "expected_cand_frac": min(1.0, cand),
    }
    if n is not None:
        out["expected_cand_pairs"] = int(min(1.0, cand) * n * (n - 1) / 2)
    return out
