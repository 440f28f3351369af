"""Text-analysis operators for training-data pipelines.

Beyond the reference's operator set (SURVEY.md §2.7): language-ID,
quality scoring, token counting, document fingerprinting — the
operations a web-scale corpus pipeline needs. All are pure Column
expressions (JVM-side, whole-stage codegen); no Python in the hot path.

Design notes for 100 TB:
  * everything here is a narrow projection — no shuffle, no UDF;
  * the expressions reference each text column once, so Tungsten
    evaluates them in a single pass over the scan;
  * fingerprints use md5/xxhash64 (distributed-deterministic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword inventories for the n-gram/stopword
# heuristic language-ID. Deliberately small + public-knowledge words.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "que", "dans"],
    "es": ["el", "la", "los", "de", "y", "es", "no", "una", "por", "con"],
}

WORD_SPLIT = " "
TOKEN_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"  # BPE-ish: words + punct marks


def tokens(col: Column) -> Column:
    """Whitespace tokens (empty-string tokens from runs of spaces are
    filtered, matching str.split() semantics)."""
    return F.filter(F.split(col, " +"), lambda t: t != F.lit(""))


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token estimate: alnum runs + individual punctuation
    (the classic pre-tokenizer regex)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0))


def stopword_hits(col: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(
        F.filter(tokens(F.lower(col)), lambda t: t.isin(*words))
    )


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_hits(col, lang) / n).otherwise(F.lit(0.0))


def punct_ratio(col: Column) -> Column:
    """Punctuation bytes / total bytes."""
    total = F.octet_length(col)
    nonpunct = F.octet_length(F.regexp_replace(col, r"[^\w\s]", ""))
    return F.when(total > 0, (total - nonpunct) / total).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    n = token_count(col)
    chars = F.length(F.regexp_replace(col, " +", ""))
    return F.when(n > 0, chars / n).otherwise(F.lit(0.0))


def quality_score(col: Column, lang: str = "en") -> Column:
    """Composite document-quality heuristic in [0,1]: length band,
    low punctuation noise, healthy mean word length, stopword presence.
    Weights are fixed, public-heuristic style (C4/Gopher-rule flavored)."""
    n = token_count(col)
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    mwl = mean_word_len(col)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    sw = F.when(stopword_ratio(col, lang) > 0.0, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + mwl_ok + sw) / F.lit(4.0)


def langid(col: Column, langs: list[str] | None = None) -> Column:
    """Stopword-vote language-ID: the language with the most stopword
    hits wins; ties broken by language order; zero hits -> 'und'."""
    langs = langs or list(STOPWORDS)
    scores = [stopword_hits(col, lg).alias(lg) for lg in langs]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    expr = F.lit("und")
    # reverse order so earlier langs win ties
    for lg, sc in reversed(list(zip(langs, scores))):
        expr = F.when((sc > 0) & (sc == best), F.lit(lg)).otherwise(expr)
    return expr


def bigrams(col: Column) -> Column:
    """Adjacent word bigrams as array<string> ("a b", "b c", ...).

    zip_with over the 1-shifted token array — the element_at(toks, i)
    form re-derived the full token array twice per index (the same
    Catalyst lambda-hoisting gap fixed in `shingles`). NULL-padded tail
    slot is filtered; n<2 naturally yields an empty array."""
    toks = tokens(col)
    pairs = F.zip_with(
        toks,
        F.slice(tokens(col), 2, 2147483646),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.filter(pairs, lambda s: s.isNotNull())


def _max_multiplicity(arr: Column) -> Column:
    """Count of the most frequent element: ONE fold over the sorted array
    carrying (prev, current-run, best-run) — no explode, no shuffle; the
    whole statistic stays a scan-side projection. (The x == prev
    comparison appears twice in the lambda — Catalyst does not CSE inside
    HOF lambdas — but it's an int-cheap expression.)"""
    srt = F.array_sort(arr)
    state = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return state["best"]


def dup_token_fraction(col: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    (n - n_distinct) / n — the token-level analog of Gopher's
    duplicate-line fraction (this corpus has no line structure)."""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(toks))) / n
    ).otherwise(F.lit(0.0))


def top_bigram_fraction(col: Column) -> Column:
    """Share of all word-bigrams taken by the single most frequent one
    (Gopher-style boilerplate/repetition signal)."""
    bg = bigrams(col)
    n = F.size(bg)
    return F.when(n > 0, _max_multiplicity(bg) / n).otherwise(F.lit(0.0))


def fingerprint(col: Column) -> Column:
    """Normalized-document fingerprint: md5 over lowercased,
    whitespace-collapsed text (engine-portable: any ANSI SQL system
    reproduces it)."""
    norm = F.regexp_replace(F.lower(col), r"\s+", " ")
    return F.md5(F.trim(norm))


def shingles_from_tokens(toks: Column, k: int = 5) -> Column:
    """k-word shingles from an ALREADY-MATERIALIZED token array column.

    The zip-chain references `toks` k+1 times; when `toks` is a real
    column produced by a prior projection (an AttributeReference), each
    reference is a free array read — CollapseProject deliberately does
    not inline a non-cheap alias referenced more than once, so the
    split+filter token derivation runs ONCE per row instead of k+1
    times (r7: measured interleaved, see OPTIMIZATION_r07.md). Callers
    with a raw text column and no reusable projection use `shingles`."""
    if k <= 1:
        return toks
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, 2147483647 - k),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    full = F.filter(acc, lambda s: s.isNotNull())
    return F.when(F.size(toks) >= k, full).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def n_windows_closed_form(toks: Column, k: int = 5) -> Column:
    """size(shingles_from_tokens(toks, k)) without building the array:
    n >= k -> n - k + 1 windows; n < k (including empty and NULL token
    arrays, whose short-fallback shingle is the single whole-text
    string) -> 1. `greatest` ignores the NULL size of a NULL array, so
    all three regimes collapse to one expression."""
    return F.greatest(F.size(toks) - (k - 1), F.lit(1))


def shingles(col: Column, k: int = 5) -> Column:
    """k-word shingles as an array<string> (basis for minhash / jaccard).

    Built by zipping the token array with its k-1 shifted copies
    (shingle_i = tok_i + " " + ... + tok_{i+k-1}) rather than
    `transform(indices, i -> concat_ws(slice(toks, i, k)))`: Catalyst
    does not hoist `toks` out of a lambda body, so the slice form
    re-derives the FULL split+filter token array once per shingle —
    O(tokens^2) per document; it was the hot loop of the entire MinHash
    pipeline. The zip chain evaluates the token derivation k+1 times
    total. zip_with pads the shorter side with NULL and `concat` is
    NULL-propagating, so the k-1 tail slots become NULL and are filtered
    — output strings are byte-identical to the slice form. Prefer the
    two-step projection + `shingles_from_tokens` where the DataFrame is
    in hand: it pays the token derivation once."""
    return shingles_from_tokens(tokens(col), k)


def min_shingle_fingerprint(col: Column, k: int = 5) -> Column:
    """Rolling-hash-style fingerprint: minimum md5 over k-word shingles
    (one stable representative per document; near-identical docs with a
    small head/tail edit still collide)."""
    return F.array_min(F.transform(shingles(col, k), F.md5))


def with_text_stats(
    df: DataFrame, text_col: str = "text", lang: str = "en"
) -> DataFrame:
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.round(stopword_ratio(c, lang), 6).alias("stopword_ratio"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(quality_score(c, lang), 6).alias("quality"),
        langid(c).alias("lang_pred"),
        fingerprint(c).alias("fingerprint"),
    )


def estimate_total_windows(
    df: DataFrame, text_col: str, w: int, sample_frac: float = 0.01
) -> int:
    """Cheap corpus window-count estimate for prefilter auto-sizing:
    row count x mean windows-per-doc over a sample (>= ~2000 docs or
    the whole corpus if smaller). Two narrow jobs, no explode, no full
    shingle pass — W only needs to be right within a small factor, the
    fp rate scales linearly with the estimate error."""
    n = df.count()
    if n == 0:
        return 0
    frac = min(1.0, max(sample_frac, 2000.0 / n))
    avg = (
        df.sample(frac, seed=7)
        .agg(F.avg(
            n_windows_closed_form(tokens(F.col(text_col)), w)
        ))
        .first()[0]
    )
    return int(n * (avg or 0.0))


# Below this corpus window count "auto" skips the counting-bucket pass:
# its extra jobs (bucket shuffle + survivor join + checkpoint) are pure
# fixed cost on a corpus whose whole census fits in kilobytes. The
# threshold is deliberately CONSERVATIVE (1M windows, far below the
# locally measured wall-clock crossover of ~50M) because the prefilter's
# real value at 10^12 docs is its shuffle-BYTE ratio, which local
# wall-clock understates — only clearly-degenerate scales skip it. The
# prefilter is lossless either way; only the plan changes.
AUTO_PREFILTER_MIN_WINDOWS = 1_000_000


def suggest_prefilter_buckets(
    n_windows: int, fp_rate: float = 0.02
) -> int:
    """Bucket-table size W for the counting-bucket prefilter: a
    singleton window lands in a hot bucket when any of the other ~T
    windows shares its bucket, p ~ T/W, so W = T / fp_rate — the
    "W ~ 50x T" rule at the 2% default, now code instead of a
    docstring. The floor keeps tiny corpora off degenerate moduli."""
    if fp_rate <= 0:
        raise ValueError("fp_rate must be positive")
    return max(1024, int(n_windows / fp_rate))


def _resolve_auto_buckets(df: DataFrame, text_col: str, w: int):
    """`prefilter_buckets="auto"` resolution: measure the corpus window
    count (two narrow jobs), then size the bucket table — or decide the
    corpus is too small for the prefilter to win and return None (the
    exact census). Lossless either way; see AUTO_PREFILTER_MIN_WINDOWS."""
    t = estimate_total_windows(df, text_col, w)
    if t < AUTO_PREFILTER_MIN_WINDOWS:
        return None
    return suggest_prefilter_buckets(t)


def _dup_window_occurrences(
    occ: DataFrame,
    *,
    prefilter_buckets: "int | None" = None,
    metrics_sink: "list | None" = None,
) -> DataFrame:
    """Occurrence rows (any cols + raw window string `_s`) -> the subset
    whose window occurs >= 2 times corpus-wide, with the md5 window key
    `_w` and the exact count `_n` (`_s` is consumed).

    Without a prefilter this is the honest exact census: one groupBy on
    the md5 window key + one join-back, shuffling O(total windows) of
    md5+id rows. With `prefilter_buckets=W`, a counting-bucket pass runs
    first: every window folds to `pmod(xxhash64(_s), W)` — the RAW
    string hashes once, no md5 — bucket counts aggregate with map-side
    combine (the shuffle is ONE LONG per distinct bucket per partition,
    radically narrower than md5+id rows), and only windows in buckets
    with count >= 2 proceed to the wide exact census, so the md5 is
    computed for survivors only. All occurrences of a window share a
    bucket, so the survivor set is a SUPERSET of true repeats (bucket
    collisions only add false positives) and the exact counts computed
    on survivors equal the true corpus counts — the prefilter is
    lossless. Survivors are materialized ONCE (localCheckpoint): the
    count aggregate and the count join would otherwise each re-derive
    the full shingle explode — measured as what kept the prefilter
    slower than the exact twin at sf0.1 despite moving ~20x fewer
    bytes. The materialization is bounded by the candidate volume, the
    same argument that makes the wide census cheap; the UNFILTERED path
    deliberately does not materialize (O(total windows) storage).

    Sizing: a singleton window survives with p ~ T/W (T total windows),
    so W ~ 50x the corpus window count keeps false positives ~2%; the
    hot-bucket set is ~(true repeats + T^2/2W collisions) longs, and it
    is always broadcast to the survivor join (longs only); at extreme T
    shard the corpus and union per-shard survivors. Callers resolve
    ``prefilter_buckets="auto"`` to W or None first
    (`_resolve_auto_buckets`), where the doc frame is in hand.

    ``metrics_sink`` (ADVICE r5): the eager localCheckpoint runs the
    bucket-count shuffle and survivor join in a SEPARATE job at
    build time, invisible to plans/metrics.shuffle_write_bytes walking
    the final plan. Pass a list to receive the pre-checkpoint frame
    (its executed plan carries those shuffles' metrics) so byte
    accounting can sum both contributions."""
    if prefilter_buckets:
        b = F.pmod(F.xxhash64("_s"), F.lit(prefilter_buckets))
        hot = (
            occ.select(b.alias("_b"))
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") >= 2)
            .select("_b")
        )
        pre = (
            occ.withColumn("_b", b).join(F.broadcast(hot), "_b").drop("_b")
            .withColumn("_w", F.md5("_s")).drop("_s")
        )
        occ = pre.localCheckpoint(eager=True)
        if metrics_sink is not None:
            # the eager checkpoint just executed pre's plan; hand it to
            # the caller so its shuffle metrics are not lost
            metrics_sink.append(pre)
    else:
        occ = occ.withColumn("_w", F.md5("_s")).drop("_s")
    counts = (
        occ.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
    )
    return occ.join(counts, "_w")


def duplicated_window_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = 5,
    *,
    prefilter_buckets: "int | str | None" = None,
    metrics_sink: "list | None" = None,
) -> DataFrame:
    """Cross-document repeated-substring signal — the statistic behind
    substring-level dedup of training corpora (boilerplate, licenses,
    navigation chrome recur VERBATIM across pages while whole documents
    differ, so document-level dedup never sees them).

    Per document: how many of its w-token windows occur more than once
    in the ENTIRE corpus (multiplicity counted, so a within-doc repeat
    is a duplicate too) -> (id, n_windows, n_dup_windows, dup_frac_ppm).
    Downstream policy filters on the fraction or excises the spans.

    Scale shape: windows derive scan-side (the zip-shift shingle path,
    O(w * tokens) per doc); the corpus-wide window count is a
    md5-key groupBy with map-side combine, and the count join is
    shuffle-on-window-hash — three shuffles of O(total windows) skinny
    rows, the honest cost of an exact corpus-wide substring census (the
    suffix-array formulation shuffles every token too). At 10^12 docs,
    pass `prefilter_buckets`: the counting-bucket pass
    (_dup_window_occurrences) bounds the wide md5+id census to windows
    whose bucket count is >= 2 — lossless, and the stats shuffle only
    candidate occurrences; n_windows then derives scan-side from the
    shingle array length, never touching the census."""
    # tokens materialized ONCE per row in a prior projection (the zip
    # chain then reads the array k+1 times for free instead of running
    # split+filter k+1 times — see shingles_from_tokens)
    exploded = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_tk")
    ).select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_tk"), w)).alias("_s"),
    )
    if prefilter_buckets == "auto":
        # resolve here, where the doc frame is in hand: the sample
        # estimator costs two narrow jobs instead of the full shingle
        # pass _dup_window_occurrences would need
        prefilter_buckets = _resolve_auto_buckets(df, text_col, w)
    # ONE structure for both modes: dup occurrences (the exact mode's
    # count table is FILTERED to repeats before the join, so the join
    # build side is the dup-window set, not every distinct window — a
    # 300k-doc boilerplate corpus OOM'd the old unfiltered-counts
    # broadcast), per-doc dup counts, and scan-side n_windows from the
    # shingle array length (never touching the census). Measured cost of
    # the robustness: the exact mode runs 3 shingle passes instead of 2
    # (bench text_dup_windows_exact 2.4s -> 3.9s at sf0.1) — accepted,
    # because the 2-pass form only worked by broadcasting a count table
    # whose size is O(distinct windows).
    dup = _dup_window_occurrences(
        exploded,
        prefilter_buckets=prefilter_buckets,
        metrics_sink=metrics_sink,
    )
    dups_per_doc = dup.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    per_doc = (
        df.select(
            F.col(id_col),
            # closed form: the window count needs only the token count,
            # never the shingle array itself
            n_windows_closed_form(tokens(F.col(text_col)), w)
            .alias("n_windows"),
        )
        .filter(F.col("n_windows") >= 1)
        .join(dups_per_doc, id_col, "left")
        .withColumn(
            "n_dup_windows",
            F.coalesce(F.col("n_dup_windows"), F.lit(0)),
        )
    )
    return per_doc.select(
        id_col, "n_windows", "n_dup_windows",
        F.floor(F.col("n_dup_windows") * 1000000 / F.col("n_windows"))
        .cast("long").alias("dup_frac_ppm"),
    )


def excise_duplicated_windows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    w: int = 5,
    *,
    prefilter_buckets: "int | str | None" = None,
    metrics_sink: "list | None" = None,
) -> DataFrame:
    """Substring-level dedup, the cleaning step behind
    `duplicated_window_stats`: REMOVE every token covered by a w-token
    window that occurs >= 2 times corpus-wide, keep everything else in
    order -> (id, text_clean). Shared boilerplate/license/chrome spans
    vanish from every document while the surrounding unique prose
    survives; output text is whitespace-normalized by construction
    (token-level reconstruction).

    Scale shape: window census as in duplicated_window_stats; token
    reconstruction explodes (id, position, token) — O(total tokens) of
    skinny rows, the inherent cost of span excision — then one
    left-anti join against covered positions and a per-doc sort-free
    rebuild (collect_list of (pos, tok) structs, array_sort, join).
    Per-doc memory is bounded by document length. A doc whose every
    token is covered (a pure-boilerplate page) comes back as ''."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    sh = shingles_from_tokens(F.col("_tk"), w)
    win_pos = (
        toked.select(F.col(id_col), F.posexplode(sh).alias("_p0", "_s"))
        .select(id_col, (F.col("_p0") + 1).alias("_p"), "_s")
    )
    if prefilter_buckets == "auto":
        prefilter_buckets = _resolve_auto_buckets(df, text_col, w)
    dup_cover = (
        _dup_window_occurrences(
            win_pos,
            prefilter_buckets=prefilter_buckets,
            metrics_sink=metrics_sink,
        )
        .select(
            F.col(id_col).alias("_cid"),
            F.explode(
                F.sequence(F.col("_p"), F.col("_p") + (w - 1))
            ).alias("_ci"),
        )
        .distinct()
    )
    tok_pos = (
        toked.select(F.col(id_col),
                     F.posexplode(F.col("_tk")).alias("_t0", "_tok"))
        .select(id_col, (F.col("_t0") + 1).alias("_ti"), "_tok")
    )
    kept = tok_pos.join(
        dup_cover,
        (tok_pos[id_col] == dup_cover["_cid"])
        & (tok_pos["_ti"] == dup_cover["_ci"]),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_ti", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("text_clean")
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )
