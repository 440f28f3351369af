"""Dedup operators: exact, MinHash+LSH, SimHash, embedding near-dup —
checked against brute-force python oracles on a corpus with planted
duplicates."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from logagent_spark.operators import dedup


def hyperplane_bits(emb, planes):
    """Reference sign bit (0/1) per hyperplane as Column expressions:
    each dot is one zip_with/aggregate fold over literal planes (the
    `cosine()` fold), and a NULL dot — a NULL, ragged or NULL-element
    vector — takes bit 0 through `when(dot >= 0, 1).otherwise(0)`."""
    bits = []
    for p in planes:
        lit_vec = F.array(*[F.lit(float(x)) for x in p])
        dot = F.aggregate(
            F.zip_with(emb, lit_vec, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)))
    return bits

BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "pack my box with five dozen liquor jugs before the evening train leaves",
    "a completely different document about spark catalyst optimizer internals",
    "log agents ship structured telemetry to downstream sinks for analysis",
]


@pytest.fixture(scope="module")
def corpus():
    docs = []
    i = 0
    for b in BASE:
        docs.append((i, b)); i += 1
    # exact duplicates (and a whitespace/case variant of doc 0)
    docs.append((i, BASE[0])); i += 1
    docs.append((i, "  The QUICK  brown fox jumps over the lazy dog near the river bank today")); i += 1
    # near duplicate of doc 1 (one word changed)
    docs.append((i, BASE[1].replace("liquor", "water"))); i += 1
    # near duplicate of doc 3 (word appended)
    docs.append((i, BASE[3] + " quickly")); i += 1
    return docs


def _shingle_set(text, k=5):
    toks = text.split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)}


def _jaccard(a, b, k=5):
    sa, sb = _shingle_set(a, k), _shingle_set(b, k)
    return len(sa & sb) / len(sa | sb)


def test_exact_duplicates_and_dedup(spark, corpus):
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    groups = dedup.exact_duplicates(df, "doc_id", "text").collect()
    assert len(groups) == 1
    assert sorted(groups[0]["doc_ids"]) == [0, 4, 5]  # normalization folds case/space

    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(df, "doc_id", "text").collect())
    assert kept == [0, 1, 2, 3, 6, 7]  # smallest id survives per group


def test_minhash_near_duplicates_vs_bruteforce(spark, corpus):
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_near_duplicates(
            df, "doc_id", "text", threshold=0.3, shingle_k=5
        ).collect()
    }
    # every reported jaccard must equal the brute-force value
    by_id = dict(corpus)
    for (a, b), j in got.items():
        assert abs(j - _jaccard(by_id[a], by_id[b])) < 1e-9
    # every high-jaccard pair (where 16-band/4-row LSH detection
    # probability is ~1) must be found
    brute_high = {
        (a, b)
        for (a, ta), (b, tb) in itertools.combinations(corpus, 2)
        if _jaccard(ta, tb) >= 0.7
    }
    assert {(0, 4), (3, 7)} <= brute_high  # planted exact + appended-word dup
    assert brute_high <= set(got), f"missing: {brute_high - set(got)}"


def _py_simhash(text, num_bits=64):
    toks = text.lower().split()
    votes = [0] * num_bits
    for t in toks:
        h = dedup.token_hash_u64(t)
        for b in range(num_bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(num_bits):
        if votes[b] > 0:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= (1 << 63) else sig  # as int64


def test_simhash_near_duplicates(spark, corpus):
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash_near_duplicates(
            df, "doc_id", "text", max_hamming=3
        ).collect()
    }
    # identical token streams -> hamming 0 (case/space-folded)
    assert pairs.get((0, 4)) == 0 and pairs.get((0, 5)) == 0
    # guarantee: every true pair with hamming <= 3 is found (pigeonhole
    # over 4x16-bit chunks), and every reported hamming is exact
    by_id = dict(corpus)
    sigs = {i: _py_simhash(t) for i, t in corpus}
    for (a, b), h in pairs.items():
        true_h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        assert h == true_h and h <= 3, (a, b, h, true_h)
    want = {
        (a, b)
        for (a, _), (b, _) in itertools.combinations(corpus, 2)
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    assert want == set(pairs), (want, set(pairs))
    _ = by_id


def test_simhash_deterministic(spark, corpus):
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    a = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash(df, "text").collect()}
    b = {r["doc_id"]: r["simhash"] for r in dedup.with_simhash(df, "text").collect()}
    assert a == b
    assert a[0] == a[4]  # same tokens -> same signature


def test_embedding_near_duplicates(spark):
    rng = np.random.RandomState(0)
    base = rng.randn(6, 16)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # plant a near-dup of vector 2
    v = base[2] + rng.randn(16) * 0.01
    rows.append((6, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = dedup.embedding_near_duplicates(
        df, "vec_id", "embedding", dim=16, threshold=0.95, n_planes=8
    ).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    assert (2, 6) in pairs
    for r in got:
        assert r["cos"] >= 0.95


def test_minhash_bucket_cap_drops_degenerate_cluster(spark):
    """A pile of identical docs shares one signature in every band — a
    degenerate bucket that would emit O(n^2) pairs at corpus scale. The
    cap drops such buckets (they belong to exact dedup); distinct docs
    below the cap are unaffected."""
    docs = [(i, BASE[0]) for i in range(10)]
    docs += [(100, BASE[1]), (101, BASE[1] + " quickly")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = dedup.minhash_near_duplicates(
        df, "doc_id", "text", threshold=0.5, num_hashes=32, bands=8,
        max_bucket_size=5,
    ).collect()
    pairs = {(r["a"], r["b"]) for r in capped}
    assert (100, 101) in pairs  # genuine near-dup survives
    assert all(a >= 100 for a, _ in pairs)  # identical cluster suppressed

    uncapped = dedup.minhash_near_duplicates(
        df, "doc_id", "text", threshold=0.5, num_hashes=32, bands=8,
    ).collect()
    assert {(r["a"], r["b"]) for r in uncapped} >= {(0, 1), (8, 9), (100, 101)}


def test_connected_components_and_cluster_dedup(spark):
    """Transitive near-dup clusters: {1,2,3} via chain 1-2, 2-3 plus
    {7,9}; winners are the min ids; untouched docs survive."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "a long, b long"
    )
    comp = {r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup.dedup_cluster(docs, pairs, "doc_id").collect()
    )
    assert kept == [0, 1, 4, 5, 6, 7, 8]


def test_connected_components_long_chain(spark):
    """A path graph needs multiple propagation rounds (min label must
    travel the chain) — exercises the DISTRIBUTED convergence loop
    (small_graph_edges=0 forces past the union-find fast path)."""
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long"
    )
    comp = dedup.connected_components(pairs, small_graph_edges=0).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == n + 1


def test_connected_components_200_node_path(spark):
    """Diameter-200 chain on the DISTRIBUTED path: plain one-hop
    propagation would need 200 rounds and silently return split
    components at max_iters=50; pointer jumping must converge in
    O(log n) rounds instead."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long"
    )
    comp = dedup.connected_components(
        pairs, max_iters=20, small_graph_edges=0
    ).collect()
    assert {r["component"] for r in comp} == {0}
    assert len(comp) == n + 1


def test_connected_components_two_clique_bridge(spark):
    """Two 5-cliques joined by a single bridge edge collapse to one
    component labeled by the global min id — and the union-find fast
    path (default for a graph this small) must agree exactly with the
    distributed loop."""
    import itertools as it

    c1 = list(it.combinations(range(0, 5), 2))
    c2 = list(it.combinations(range(100, 105), 2))
    bridge = [(4, 100)]
    pairs = spark.createDataFrame(
        c1 + c2 + bridge, "a long, b long"
    )
    small = {r["id"]: r["component"]
             for r in dedup.connected_components(pairs).collect()}
    assert set(small.values()) == {0}
    assert len(small) == 10
    dist = {r["id"]: r["component"]
            for r in dedup.connected_components(
                pairs, small_graph_edges=0).collect()}
    assert small == dist


def test_suggest_lsh_config():
    """The scale-path config guard: high thresholds get a sparse,
    recall-sound banding; the gate config's admit-most behavior is never
    suggested; infeasible low thresholds degrade loudly (cand_frac says
    so) instead of silently under-recalling."""
    cfg = dedup.suggest_lsh_config(0.95)
    assert cfg["expected_recall"] >= 0.9
    assert cfg["expected_cand_frac"] <= 0.01
    assert cfg["n_planes"] == cfg["bits_per_band"] * cfg["n_chunks"]
    assert cfg["n_planes"] > 8  # the p8 gate config is gate-only

    # tighter threshold -> needs fewer planes for the same recall
    loose = dedup.suggest_lsh_config(0.99)
    assert loose["n_planes"] <= cfg["n_planes"]

    # low threshold: no sparse config exists; constraint relaxes and the
    # returned cand_frac is honest about it
    hard = dedup.suggest_lsh_config(0.5)
    assert hard["expected_cand_frac"] > 0.01

    sized = dedup.suggest_lsh_config(0.95, n=100_000)
    assert sized["expected_cand_pairs"] == int(
        sized["expected_cand_frac"] * 100_000 * 99_999 / 2
    )


def test_suggest_minhash_config():
    """MinHash twin of the config guard: recall-sound banding at the
    threshold, bounded background candidates, honest degradation."""
    cfg = dedup.suggest_minhash_config(0.8)
    assert cfg["expected_recall"] >= 0.9
    assert cfg["expected_cand_frac"] <= 0.01
    assert cfg["num_hashes"] == cfg["rows_per_band"] * cfg["bands"]
    # the S-curve midpoint (1/b)^(1/r) should sit near-below the
    # threshold, not far above it (that would silently drop true pairs)
    mid = (1.0 / cfg["bands"]) ** (1.0 / cfg["rows_per_band"])
    assert mid < 0.8
    # near-exact threshold needs fewer hashes than a loose one
    tight = dedup.suggest_minhash_config(0.95)
    assert tight["num_hashes"] <= cfg["num_hashes"]


def test_embedding_near_duplicates_auto_config(spark):
    """Defaults (no explicit planes/chunks) flow through
    suggest_lsh_config and still find a planted near-dup."""
    rng = np.random.RandomState(3)
    base = rng.randn(8, 16)
    rows = [(i, (v / np.linalg.norm(v)).tolist())
            for i, v in enumerate(base)]
    v = base[4] + rng.randn(16) * 0.01
    rows.append((8, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = dedup.embedding_near_duplicates(
        df, "vec_id", "embedding", dim=16, threshold=0.95
    ).collect()
    assert (4, 8) in {(r["a"], r["b"]) for r in got}


def test_hyperplane_band_keys_pandas_bit_identical(spark):
    """r7: the Arrow band-key pass must reproduce the expr fold's band
    keys (`hyperplane_bits`) bit-exactly — sequential fold over
    dimensions, `dot >= 0` with Spark's NaN-is-largest ordering —
    including edge vectors (NULL / ragged / NULL-element -> key 0 in
    every band; inf arithmetic whose dot goes NaN -> bit 1). The one
    documented divergence, a literal-NaN element, is pinned too. The
    candidate pairs must be exactly the a < b pairs sharing a bucket
    under the cap, with `_fold_cos_pair` cos values. (cos VALUES on inf
    vectors differ NULL-vs-NaN in the scorer's Arrow return —
    unreachable on real embeddings, out of scope here.)"""
    dim, n_planes, n_chunks = 16, 8, 3
    rng = np.random.RandomState(7)
    rows = [(str(i), rng.randn(dim).tolist()) for i in range(120)]
    base = rng.randn(dim)
    rows += [(f"c{i}", (base + 0.01 * rng.randn(dim)).tolist())
             for i in range(12)]
    rows += [
        ("e_null", None),
        ("e_ragged", [1.0] * (dim - 1)),
        ("e_nullel", [None] + [1.0] * (dim - 1)),
        ("e_nan", [float("nan")] + [1.0] * (dim - 1)),
        ("e_zero", [0.0] * dim),
        ("e_inf", [float("inf")] + [0.0] * (dim - 1)),
        ("e_infnan", [float("inf"), float("-inf")] + [1.0] * (dim - 2)),
    ]
    df = spark.createDataFrame(rows, "vid string, emb array<double>")

    planes = dedup.seeded_planes(n_planes, dim, 42)
    chunks = dedup.plane_chunks(n_planes, n_chunks)
    got = {
        (r["_id"], r["band"]): r["key"]
        for r in dedup._hyperplane_band_keys_pandas(
            df, "vid", "emb", planes, chunks
        ).collect()
    }
    bits = hyperplane_bits(F.col("emb"), planes)
    sel = [F.col("vid")]
    for c, idxs in enumerate(chunks):
        key = F.lit(0)
        for i in idxs:
            key = key * 2 + bits[i]
        sel.append(key.alias(f"k{c}"))
    exp = {
        (r["vid"], c): r[f"k{c}"]
        for r in df.select(*sel).collect()
        for c in range(n_chunks)
    }
    # documented divergence: after Arrow a literal-NaN element looks like
    # a NULL element, so the pandas key is 0 where the expr fold's NaN
    # dot sorts above 0 and sets every bit
    for c, idxs in enumerate(chunks):
        assert got[("e_nan", c)] == 0
        assert exp[("e_nan", c)] == 2 ** len(idxs) - 1
    assert {k: v for k, v in got.items() if k[0] != "e_nan"} == {
        k: v for k, v in exp.items() if k[0] != "e_nan"
    }
    # every edge vector really takes key 0 in every band
    for vid in ("e_null", "e_ragged", "e_nullel"):
        assert all(got[(vid, c)] == 0 for c in range(n_chunks))

    # expected candidates from the reference keys (plus the pinned NaN
    # divergence): a < b sharing a (band, key) bucket of <= cap rows,
    # with the cap at the median bucket size so some buckets are dropped
    keys = dict(exp)
    keys.update({("e_nan", c): 0 for c in range(n_chunks)})
    buckets: dict = {}
    for (vid, c), k in keys.items():
        buckets.setdefault((c, k), []).append(vid)
    sizes = sorted(len(m) for m in buckets.values())
    cap = sizes[len(sizes) // 2]
    assert sizes[-1] > cap
    want = {
        (a, b)
        for m in buckets.values() if len(m) <= cap
        for a in m for b in m if a < b
    }
    cand = dedup.embedding_candidate_pairs(
        df, "vid", "emb", dim=dim, n_planes=n_planes,
        n_chunks=n_chunks, max_bucket_size=cap,
    ).collect()
    assert {(r["a"], r["b"]) for r in cand} == want
    vec = dict(rows)
    regular = {
        vid for vid, v in vec.items()
        if v is not None and len(v) == dim
        and all(x is not None and np.isfinite(x) for x in v)
    }
    checked = 0
    for r in cand:
        if r["a"] in regular and r["b"] in regular:
            assert r["cos"] == dedup._fold_cos_pair(vec[r["a"]], vec[r["b"]])
            checked += 1
    assert checked > 0


def test_embedding_candidate_pairs_32_bit_band(spark):
    """`suggest_lsh_config` allows 32 bits per band: the int32 band key
    is then the two's-complement of the 32 sign bits (no overflow
    error), and a planted identical pair still shares its one bucket."""
    dim, n_planes = 16, 32
    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(dim).tolist()) for i in range(40)]
    rows.append((40, rows[7][1]))
    df = spark.createDataFrame(rows, "vid long, emb array<double>")

    planes = dedup.seeded_planes(n_planes, dim, 42)
    got = {
        r["_id"]: r["key"]
        for r in dedup._hyperplane_band_keys_pandas(
            df, "vid", "emb", planes, [list(range(n_planes))]
        ).collect()
    }
    bit_rows = df.select(
        "vid", *[b.alias(f"b{i}") for i, b in
                 enumerate(hyperplane_bits(F.col("emb"), planes))]
    ).collect()
    for r in bit_rows:
        u = 0
        for i in range(n_planes):
            u = u * 2 + r[f"b{i}"]
        assert got[r["vid"]] == (u - 2 ** 32 if u >= 2 ** 31 else u)
    assert any(k < 0 for k in got.values())
    assert got[7] == got[40]

    cand = dedup.embedding_candidate_pairs(
        df, "vid", "emb", dim=dim, n_planes=n_planes, n_chunks=1,
    ).collect()
    cos = {(r["a"], r["b"]): r["cos"] for r in cand}
    assert cos[(7, 40)] == dedup._fold_cos_pair(rows[7][1], rows[7][1])


def test_connected_components_raises_on_nonconvergence(spark):
    """Exhausting max_iters without a fixed point must raise, never
    silently return split components."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="no fixed point"):
        dedup.connected_components(pairs, max_iters=1, small_graph_edges=0)


def test_connected_components_paths_agree_on_mixed_graph(spark):
    """Union-find fast path == distributed pointer-jumping loop on a
    graph mixing chains, cliques, self-contained pairs and string ids."""
    import itertools as it

    edges = (
        [(f"c{i}", f"c{i+1}") for i in range(40)]            # chain
        + [(f"k{a}", f"k{b}") for a, b in
           it.combinations(range(6), 2)]                      # clique
        + [("x1", "x2"), ("y1", "y2"), ("x2", "x3")]          # smalls
    )
    pairs = spark.createDataFrame(edges, "a string, b string")
    small = {r["id"]: r["component"]
             for r in dedup.connected_components(pairs).collect()}
    dist = {r["id"]: r["component"]
            for r in dedup.connected_components(
                pairs, small_graph_edges=0).collect()}
    assert small == dist and len(small) == 41 + 6 + 5


def test_connected_components_threshold_counts_raw_pairs(spark,
                                                       monkeypatch):
    """The small-graph threshold counts RAW pairs, repeats and reversed
    pairs included: a duplicate-heavy list over `small_graph_edges` takes
    the distributed loop even though its distinct undirected edges fit
    under it — and still equals union-find on the same pairs."""
    distinct = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (20, 21)]
    raw = distinct * 3 + [(b, a) for a, b in distinct] * 2 + [(3, 0)]
    assert len(raw) > 12 >= len({frozenset(p) for p in raw})
    want = dedup._union_find_components(raw)
    pairs = spark.createDataFrame(raw, "a long, b long")

    def no_fast_path(_pairs):
        raise AssertionError("took the union-find fast path")

    monkeypatch.setattr(dedup, "_union_find_components", no_fast_path)
    got = {r["id"]: r["component"]
           for r in dedup.connected_components(
               pairs, small_graph_edges=12).collect()}
    assert got == want
    assert set(got.values()) == {0, 10, 20}


def test_minhash_config_must_come_in_pairs(spark):
    """Banding math couples num_hashes and bands: passing exactly one
    raises instead of silently discarding it (ADVICE r3)."""
    docs = spark.createDataFrame([(1, "a b c d e f")], "id long, text string")
    with pytest.raises(ValueError, match="together"):
        dedup.minhash_near_duplicates(docs, "id", "text", num_hashes=32)
    with pytest.raises(ValueError, match="together"):
        dedup.minhash_near_duplicates(docs, "id", "text", bands=8)


def _cos_key(c):
    """NULL stays None; NaN compares equal to NaN."""
    if c is None:
        return None
    return "NaN" if np.isnan(c) else c


@pytest.mark.parametrize("id_type", ["string", "long"])
def test_embedding_candidate_pairs_edge_scores(spark, id_type):
    """The complete (a, b, cos) set over edge vectors: NULL, ragged,
    NULL-element, literal-NaN, zero and inf vectors, an id repeated with
    the same vector, one repeated with a different vector, and a NULL id.
    Pairs are the a < b (strict) pairs of non-NULL ids sharing a band-key
    bucket of 2..cap rows, once each. cos is `_fold_cos_pair` of the two vectors, and a NaN cos
    reads back as NULL (a NULL element reaches the scorer as NaN and,
    like a literal NaN, scores 0.0; a ragged pair is NULL)."""
    dim, n_planes, n_chunks = 8, 6, 2
    rng = np.random.RandomState(5)
    rows = [(f"r{i:02d}", rng.randn(dim).tolist()) for i in range(16)]
    rows += [
        ("e_null", None),
        ("e_ragged", [1.0] * (dim - 1)),
        ("e_nullel", [None] + [1.0] * (dim - 1)),
        ("e_nan", [float("nan")] + [1.0] * (dim - 1)),
        ("e_zero", [0.0] * dim),
        ("e_inf", [float("inf")] + [0.5] * (dim - 1)),
        ("e_inf2", [float("inf")] + [-0.5] * (dim - 1)),
        ("d_same", rows[3][1]),
        ("d_same", rows[3][1]),
        ("d_diff", rows[5][1]),
        ("d_diff", rng.randn(dim).tolist()),
        (None, rows[3][1]),
    ]
    if id_type == "long":
        code = {n: i for i, n in
                enumerate(sorted({n for n, _ in rows if n is not None}))}
        rows = [(code.get(n), v) for n, v in rows]
    df = spark.createDataFrame(rows, f"vid {id_type}, emb array<double>")

    # bucket membership by row, from the band-key pass; NULL ids drop
    # before buckets are sized
    planes = dedup.seeded_planes(n_planes, dim, 42)
    chunks = dedup.plane_chunks(n_planes, n_chunks)
    buckets: dict = {}
    for r in dedup._hyperplane_band_keys_pandas(
        spark.createDataFrame(
            [(i, v) for i, (n, v) in enumerate(rows) if n is not None],
            "row long, emb array<double>"),
        "row", "emb", planes, chunks,
    ).collect():
        buckets.setdefault((r["band"], r["key"]), []).append(r["_id"])
    sizes = sorted(len(m) for m in buckets.values())
    cap = sizes[-1] - 1
    # singleton buckets, and exactly one bucket over the cap
    assert sizes[0] == 1 and sizes[-2] <= cap
    want = set()
    for m in buckets.values():
        if len(m) > cap:
            continue
        for x, y in itertools.combinations(m, 2):
            (ia, va), (ib, vb) = sorted([rows[x], rows[y]],
                                        key=lambda t: t[0])
            if ia != ib:
                c = dedup._fold_cos_pair(va, vb)
                want.add((ia, ib, None if _cos_key(c) == "NaN" else c))
    got = [
        (r["a"], r["b"], _cos_key(r["cos"]))
        for r in dedup.embedding_candidate_pairs(
            df, "vid", "emb", dim=dim, n_planes=n_planes,
            n_chunks=n_chunks, max_bucket_size=cap,
        ).collect()
    ]
    assert len(got) == len(set(got))
    assert set(got) == want
    # the frame really exercises every cos outcome
    cos = [c for _, _, c in want]
    assert None in cos and 0.0 in cos
    assert any(isinstance(c, float) and c != 0.0 for c in cos)


# ---------------------------------------------------------------------------
# the banded-LSH pair kernel behind all three families

LSH_FAMILIES = ["minhash", "simhash", "hyperplane"]
_MH_HASHES, _MH_BANDS = 32, 16
_HP_DIM, _HP_PLANES, _HP_CHUNKS = 8, 24, 2


def _payloads(family, n, seed=0):
    """n payloads (texts, or vectors for hyperplane) over disjoint
    vocabularies, except that payload 1 is a near-dup of payload 0."""
    rng = np.random.RandomState(seed)
    if family == "hyperplane":
        vs = rng.randn(n, _HP_DIM)
        vs[1] = vs[0] + 1e-3 * rng.randn(_HP_DIM)
        return [v.tolist() for v in vs]
    texts = [" ".join(f"w{i}x{j}" for j in range(40)) for i in range(n)]
    texts[1] = texts[0].replace("w0x39", "changed")
    return texts


def _band_keys(spark, family, payloads):
    """{payload index: [(band, key), ...]} under each family's banding."""
    if family == "simhash":
        return {
            i: [(c, (_py_simhash(t) >> (16 * c)) & 0xFFFF) for c in range(4)]
            for i, t in enumerate(payloads)
        }
    if family == "minhash":
        r = _MH_HASHES // _MH_BANDS
        sig = spark.createDataFrame(
            list(enumerate(payloads)), "row long, text string"
        ).select("row", dedup.minhash_signature(
            F.col("text"), _MH_HASHES).alias("s"))
        keys = sig.select("row", *[
            F.xxhash64(*[F.col("s")[b * r + k] for k in range(r)]).alias(f"k{b}")
            for b in range(_MH_BANDS)
        ])
        return {x["row"]: [(b, x[f"k{b}"]) for b in range(_MH_BANDS)]
                for x in keys.collect()}
    out: dict = {}
    for x in dedup._hyperplane_band_keys_pandas(
        spark.createDataFrame(list(enumerate(payloads)),
                              "row long, emb array<double>"),
        "row", "emb", dedup.seeded_planes(_HP_PLANES, _HP_DIM, 42),
        dedup.plane_chunks(_HP_PLANES, _HP_CHUNKS),
    ).collect():
        out.setdefault(x["_id"], []).append((x["band"], x["key"]))
    return out


def _pairs(spark, family, id_type, rows, payloads, cap):
    """The family's entry point over (id, payload index) rows."""
    if family == "hyperplane":
        df = spark.createDataFrame([(i, payloads[p]) for i, p in rows],
                                   f"id {id_type}, p array<double>")
        return dedup.embedding_candidate_pairs(
            df, "id", "p", dim=_HP_DIM, n_planes=_HP_PLANES,
            n_chunks=_HP_CHUNKS, max_bucket_size=cap)
    df = spark.createDataFrame([(i, payloads[p]) for i, p in rows],
                               f"id {id_type}, p string")
    if family == "minhash":
        return dedup.minhash_candidates(
            df, "id", "p", num_hashes=_MH_HASHES, bands=_MH_BANDS,
            max_bucket_size=cap)
    return dedup.simhash_near_duplicates(
        df, "id", "p", max_hamming=64, max_bucket_size=cap)


def _self_join(family, rows, payloads, keys, cap):
    """The reference: a < b over non-NULL ids sharing a (band, key)
    bucket of 2..cap rows, with the family's score -> (set of output
    rows, bucket sizes)."""
    buckets: dict = {}
    for x, (i, p) in enumerate(rows):
        if i is not None:
            for bk in keys[p]:
                buckets.setdefault(bk, []).append(x)
    want = set()
    for m in buckets.values():
        if not 2 <= len(m) <= cap:
            continue
        for x, y in itertools.combinations(m, 2):
            (ia, pa), (ib, pb) = sorted([rows[x], rows[y]], key=lambda t: t[0])
            if ia == ib:
                continue
            if family == "minhash":
                want.add((ia, ib))
            elif family == "simhash":
                h = (_py_simhash(payloads[pa]) ^ _py_simhash(payloads[pb]))
                want.add((ia, ib, bin(h & ((1 << 64) - 1)).count("1")))
            else:
                want.add((ia, ib,
                          dedup._fold_cos_pair(payloads[pa], payloads[pb])))
    return want, [len(m) for m in buckets.values()]


def _as_ids(rows, id_type):
    """Long ids above 2^53, which a float64 cannot hold."""
    if id_type == "string":
        return rows
    code = {n: (1 << 53) + 2 * k + 1 for k, n in
            enumerate(sorted({n for n, _ in rows if n is not None}))}
    return [(code.get(n), p) for n, p in rows]


@pytest.mark.parametrize("id_type", ["string", "long"])
@pytest.mark.parametrize("family", LSH_FAMILIES)
def test_lsh_pairs_id_rule(spark, family, id_type):
    """One id rule for MinHash, SimHash and hyperplane LSH: the output is
    exactly the a < b (strict) pairs of non-NULL ids sharing a band
    bucket of 2..cap rows, each row once. A NULL id never pairs, an id
    repeated with the same payload never pairs with itself, and one
    repeated with a different payload pairs once per payload's score."""
    cap = 4
    rows = _as_ids([
        ("a", 0), ("b", 0), (None, 0),          # NULL id in a bucket
        ("c", 1),                               # near-dup of payload 0
        ("d", 2), ("d", 2), ("e", 2), ("j", 2),  # repeated id, at the cap
        ("f", 3), ("f", 4), ("h", 3), ("i", 4),  # id with two payloads
        ("k1", 5), ("k2", 5), ("k3", 5), ("k4", 5), ("k5", 5),  # over cap
        ("s1", 6), ("s1", 6),                   # one id: no pair at all
        ("s2", 7),
    ], id_type)
    payloads = _payloads(family, 8)
    want, sizes = _self_join(family, rows, payloads,
                             _band_keys(spark, family, payloads), cap)
    assert cap in sizes and max(sizes) > cap
    got = [tuple(r) for r in
           _pairs(spark, family, id_type, rows, payloads, cap).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


@pytest.mark.parametrize("family", LSH_FAMILIES)
def test_lsh_pairs_tiled_bucket_equals_untiled(spark, family, monkeypatch):
    """A bucket at the cap emitted in tiles of 3 pairs (tile edges fall
    inside one id's run of partners and across a repeated id) gives the
    untiled reference's pair set."""
    cap = 6
    rows = [(1, 0), (2, 0), (3, 0), (3, 0), (4, 0), (5, 0),
            (6, 2), (7, 2), (8, 3)]
    payloads = _payloads(family, 4)
    want, sizes = _self_join(family, rows, payloads,
                             _band_keys(spark, family, payloads), cap)
    assert cap in sizes and len(want) > 3
    monkeypatch.setattr(dedup, "PAIR_TILE", 3)
    got = [tuple(r) for r in
           _pairs(spark, family, "long", rows, payloads, cap).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


def _emitter_input_rows(df) -> int:
    """Rows entering the pair emitter of df's executed plan: the row
    count of the first node under FlatMapGroupsInArrow that counts its
    output."""
    from logagent_spark.plans.metrics import _walk

    p = df._jdf.queryExecution().executedPlan()
    if p.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        p = p.executedPlan()
    nodes: list = []
    _walk(p, nodes)
    at = [k for k, (name, _) in enumerate(nodes)
          if name == "FlatMapGroupsInArrowExec"]
    assert len(at) == 1
    for _, n in nodes[at[0] + 1:]:
        if n.metrics().contains("numOutputRows"):
            return int(n.metrics().apply("numOutputRows").value())
    raise AssertionError("no row count under the emitter")


@pytest.mark.parametrize("family", LSH_FAMILIES)
def test_lsh_pairs_skewed_bucket_never_reaches_python(spark, family):
    """20k identical items share one bucket per band. With a small cap,
    the JVM drops those buckets: the planted near-dup pair survives, and
    the rows entering the Python emitter are exactly the band rows of the
    2..cap buckets."""
    cap, n_hot = 8, 20_000
    payloads = _payloads(family, 3)
    rows = [(i, 2) for i in range(n_hot)] + [(n_hot, 0), (n_hot + 1, 1)]
    want, sizes = _self_join(family, rows, payloads,
                             _band_keys(spark, family, payloads), cap)
    assert {(a, b) for a, b, *_ in want} == {(n_hot, n_hot + 1)}
    out = _pairs(spark, family, "long", rows, payloads, cap)
    assert {tuple(r) for r in out.collect()} == want
    assert _emitter_input_rows(out) == sum(
        s for s in sizes if 2 <= s <= cap)
