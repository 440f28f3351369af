"""Text-analysis operators vs python oracles."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from logagent_spark.operators import textstats as ts

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "der hund ist nicht ein fisch und das ist gut", "de"),
    (2, "le chat est dans la maison et il dort", "fr"),
    (3, "el perro y el gato no son una familia", "es"),
    (4, "zzz qqq xxx", "und"),
    (5, "Hello, world! How's it going? (fine).", "en"),
    (6, "", "und"),
    (7, "   spaced    out     tokens   ", "und"),
]


def _df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t, _ in DOCS], "doc_id long, text string"
    )


def test_token_count(spark):
    got = {r["doc_id"]: r["n"] for r in _df(spark).select(
        "doc_id", ts.token_count(F.col("text")).alias("n")).collect()}
    for i, t, _ in DOCS:
        assert got[i] == len(t.split()), (i, t)


def test_bpe_ish_tokens(spark):
    got = {r["doc_id"]: r["n"] for r in _df(spark).select(
        "doc_id", ts.bpe_ish_token_count(F.col("text")).alias("n")).collect()}
    for i, t, _ in DOCS:
        want = len(re.findall(ts.TOKEN_REGEX, t))
        assert got[i] == want, (i, t, got[i], want)


def test_langid_votes(spark):
    got = {r["doc_id"]: r["lang"] for r in _df(spark).select(
        "doc_id", ts.langid(F.col("text")).alias("lang")).collect()}
    for i, _, want in DOCS:
        assert got[i] == want, (i, got[i], want)


def test_fingerprint_is_md5_of_normalized(spark):
    got = {r["doc_id"]: r["fp"] for r in _df(spark).select(
        "doc_id", ts.fingerprint(F.col("text")).alias("fp")).collect()}
    for i, t, _ in DOCS:
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        assert got[i] == hashlib.md5(norm.encode()).hexdigest()


def test_fingerprint_normalization_collides_dups(spark):
    df = spark.createDataFrame(
        [(0, "The  Quick   Fox"), (1, "the quick fox"), (2, "a different doc")],
        "doc_id long, text string",
    )
    fps = [r["fp"] for r in df.select(
        ts.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_shingles(spark):
    df = spark.createDataFrame([(0, "a b c d e f"), (1, "a b")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", ts.shingles(F.col("text"), 3).alias("sh")).collect()}
    assert got[0] == ["a b c", "b c d", "c d e", "d e f"]
    assert got[1] == ["a b"]  # shorter than k: whole doc as one shingle


def test_quality_and_ratios_bounded(spark):
    """The quality signals are ratios in [0, 1], and an empty doc has
    no tokens rather than a division by zero."""
    c = F.col("text")
    rows = _df(spark).select(
        "doc_id",
        ts.token_count(c).alias("n_tokens"),
        ts.stopword_ratio(c).alias("stopword_ratio"),
        ts.punct_ratio(c).alias("punct_ratio"),
    ).collect()
    for r in rows:
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[6]["n_tokens"] == 0        # empty doc doesn't divide by zero


def test_repetition_stats(spark):
    from logagent_spark.operators import textstats as ts2

    rows = [
        (0, "a b a b a b"),          # toks: a,b x3 -> dup 4/6; bigrams:
                                      # "a b" x3, "b a" x2 -> top 3/5
        (1, "all unique words here"),
        (2, "x"),                    # single token: no bigrams
        (3, ""),                     # empty
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: (r["d"], r["t"]) for r in df.select(
        "id",
        F.round(ts2.dup_token_fraction(F.col("text")), 6).alias("d"),
        F.round(ts2.top_bigram_fraction(F.col("text")), 6).alias("t"),
    ).collect()}
    assert got[0] == (round(4 / 6, 6), round(3 / 5, 6))
    # "all unique","unique words","words here" all distinct -> top 1/3
    assert got[1] == (0.0, round(1 / 3, 6))
    assert got[2] == (0.0, 0.0)
    assert got[3] == (0.0, 0.0)


def test_duplicated_window_stats_planted_boilerplate(spark):
    """Docs sharing a verbatim boilerplate sentence show exactly its
    windows as duplicated; a unique doc shows zero; a within-doc repeat
    counts too (multiplicity, not distinct)."""
    from logagent_spark.operators.textstats import duplicated_window_stats

    boiler = "all rights reserved by the site owner today"  # 8 tokens
    rows = [
        (0, boiler + " unique tail zero one two three four five six"),
        (1, boiler + " other ending seven eight nine ten eleven twelve"),
        (2, "completely different text with no shared window at all here"),
        (3, "rep rep rep rep rep rep rep rep"),  # self-repeating windows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           duplicated_window_stats(df, "doc_id", "text", w=5).collect()}
    # 8-token boilerplate -> 4 shared 5-grams at the head of docs 0/1
    assert got[0]["n_dup_windows"] == 4 and got[1]["n_dup_windows"] == 4
    assert got[2]["n_dup_windows"] == 0
    # "rep"x8 -> 4 identical windows, all duplicates of each other
    assert got[3]["n_windows"] == 4 and got[3]["n_dup_windows"] == 4
    assert got[3]["dup_frac_ppm"] == 1_000_000
    for r in got.values():
        assert r["n_windows"] == r["n_windows"]  # schema sanity


def test_excise_duplicated_windows_planted(spark):
    """Shared 5-gram spans vanish from every doc carrying them; unique
    prose survives in order; untouched docs come back token-joined; a
    doc that is entirely boilerplate comes back empty."""
    from logagent_spark.operators.textstats import excise_duplicated_windows

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d e x y z"),
        (2, "p q r s t u v w"),
        (3, "a b c d e"),           # nothing but the shared window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text_clean"]
           for r in excise_duplicated_windows(df, "doc_id", "text").collect()}
    assert got == {0: "f g h", 1: "x y z", 2: "p q r s t u v w", 3: ""}


def _census_fixture(spark, n_unique=200):
    """Mostly-unique corpus + one boilerplate sentence shared by 3 docs:
    the prefilter should pass only the boilerplate windows through to
    the wide exact census."""
    boiler = "all rights reserved by the site owner today"
    rows = [(i, f"unique{i} prose w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f")
            for i in range(n_unique)]
    for j in range(3):
        rows.append((n_unique + j, boiler + f" tail{j} t{j}a t{j}b t{j}c"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicated_window_stats_prefilter_equivalence(spark):
    """The counting-bucket prefilter is lossless: stats with and without
    it must be identical, including a deliberately TINY bucket table
    (high collision rate — false positives cost work, never
    correctness)."""
    from logagent_spark.operators.textstats import duplicated_window_stats

    df = _census_fixture(spark)
    exact = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"],
                           r["dup_frac_ppm"])
             for r in duplicated_window_stats(df, "doc_id", "text",
                                              w=5).collect()}
    for w_buckets in (1 << 20, 17):  # roomy, then collision-heavy
        pre = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"],
                             r["dup_frac_ppm"])
               for r in duplicated_window_stats(
                   df, "doc_id", "text", w=5,
                   prefilter_buckets=w_buckets).collect()}
        assert pre == exact, w_buckets


def test_excise_prefilter_equivalence(spark):
    from logagent_spark.operators.textstats import excise_duplicated_windows

    df = _census_fixture(spark)
    exact = {r["doc_id"]: r["text_clean"]
             for r in excise_duplicated_windows(df, "doc_id", "text",
                                                w=5).collect()}
    pre = {r["doc_id"]: r["text_clean"]
           for r in excise_duplicated_windows(
               df, "doc_id", "text", w=5,
               prefilter_buckets=1 << 20).collect()}
    assert pre == exact
    # the boilerplate docs actually lost their shared span
    assert exact[200].startswith("tail0") or " tail0" not in exact[200]


def test_prefilter_bounds_census_volume(spark):
    """The point of the prefilter: with roomy buckets, only the
    boilerplate occurrences (3 docs x 4 windows) reach the wide exact
    census — the ~1800 unique windows are dropped by the skinny
    bucket-count pass."""
    from pyspark.sql import functions as F

    from logagent_spark.operators.textstats import (
        _dup_window_occurrences, shingles,
    )

    df = _census_fixture(spark)
    occ = df.select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 5)).alias("_s")
    )
    total = occ.count()

    # survivors of the bucket pass alone (before the exact count);
    # bucket ids hash the RAW shingle so the md5 only runs on survivors
    b = F.pmod(F.xxhash64("_s"), F.lit(1 << 20))
    hot = (occ.select(b.alias("_b")).groupBy("_b")
           .agg(F.count(F.lit(1)).alias("_bn"))
           .filter(F.col("_bn") >= 2).select("_b"))
    survivors = occ.withColumn("_b", b).join(F.broadcast(hot), "_b").count()
    assert total > 800  # ~200 unique docs x 4 windows + boilerplate
    # 12 true dup occurrences; allow a little collision noise
    assert survivors <= 40

    dup = _dup_window_occurrences(occ, prefilter_buckets=1 << 20)
    assert dup.count() == 12  # 3 docs x 4 boilerplate windows


def test_prefilter_bucket_pass_plan_shape(spark):
    """The skinny bucket-count pass must get map-side partial
    aggregation (HashAggregate pair around one Exchange of LONG bucket
    keys) — the property that bounds its shuffle to <= W rows per
    partition."""
    from pyspark.sql import functions as F

    from logagent_spark.operators.textstats import shingles

    df = _census_fixture(spark, n_unique=50)
    occ = df.select(
        F.col("doc_id"), F.explode(shingles(F.col("text"), 5)).alias("_s")
    )
    b = F.pmod(F.xxhash64("_s"), F.lit(1 << 20))
    hot = (occ.select(b.alias("_b")).groupBy("_b")
           .agg(F.count(F.lit(1)).alias("_bn"))
           .filter(F.col("_bn") >= 2).select("_b"))
    plan = hot._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_suggest_prefilter_buckets():
    import pytest

    from logagent_spark.operators.textstats import suggest_prefilter_buckets

    assert suggest_prefilter_buckets(1_000_000) == 50_000_000  # W = T/0.02
    assert suggest_prefilter_buckets(1_000_000, fp_rate=0.1) == 10_000_000
    assert suggest_prefilter_buckets(10) == 1024               # floor
    assert suggest_prefilter_buckets(0) == 1024
    with pytest.raises(ValueError):
        suggest_prefilter_buckets(100, fp_rate=0)


def test_prefilter_auto_sizing_matches_exact(spark):
    """prefilter_buckets='auto' derives W from the measured corpus
    window count; results must equal the unfiltered exact census."""
    from logagent_spark.operators.textstats import duplicated_window_stats

    df = _census_fixture(spark)
    exact = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
             for r in duplicated_window_stats(df, "doc_id", "text",
                                              w=5).collect()}
    auto = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
            for r in duplicated_window_stats(
                df, "doc_id", "text", w=5,
                prefilter_buckets="auto").collect()}
    assert auto == exact


def test_prefilter_auto_small_corpus_skips_bucket_pass(spark, monkeypatch):
    """r7: below AUTO_PREFILTER_MIN_WINDOWS, "auto" resolves to the
    exact census — the bucket pass + survivor checkpoint are pure fixed
    cost there (measured crossover, BENCH.md) — so no checkpoint-side
    frame reaches metrics_sink; above the line the pass still runs.
    Results are identical either way (the prefilter is lossless)."""
    from logagent_spark.operators import textstats

    df = _census_fixture(spark)
    sink: list = []
    small = textstats.duplicated_window_stats(
        df, "doc_id", "text", w=5, prefilter_buckets="auto",
        metrics_sink=sink,
    ).collect()
    assert sink == []  # no bucket pass at tiny scale
    monkeypatch.setattr(textstats, "AUTO_PREFILTER_MIN_WINDOWS", 1)
    big_sink: list = []
    forced = textstats.duplicated_window_stats(
        df, "doc_id", "text", w=5, prefilter_buckets="auto",
        metrics_sink=big_sink,
    ).collect()
    assert len(big_sink) == 1  # bucket pass ran above the threshold
    key = lambda rows: sorted((r["doc_id"], r["n_windows"],  # noqa: E731
                               r["n_dup_windows"]) for r in rows)
    assert key(small) == key(forced)


def _boilerplate_docs(spark, n_docs, prose_tokens=40):
    """Unique pseudo-random prose per doc + one license block shared by
    ALL docs — the workload the counting-bucket prefilter exists for
    (SURVEY §2.8: boilerplate recurs verbatim while documents differ)."""
    lic = ("licensed under creative commons attribution share alike "
           "four point zero international public license")
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(prose_tokens)),
                    lambda j: F.substring(
                        F.md5(F.concat(F.col("id").cast("string"),
                                       F.lit("_"), j.cast("string"))),
                        1, 8),
                ),
                " ",
            ),
            F.lit(" " + lic),
        ).alias("text"),
    )


def test_prefilter_shuffles_fewer_bytes_on_boilerplate(spark):
    """The measured claim behind the prefilter (VERDICT r4 #3): on a
    boilerplate-heavy corpus the prefiltered census MOVES fewer shuffle
    bytes than the exact twin — the skinny long-keyed bucket pass plus
    a census over only the ~license windows undercuts shuffling every
    md5+id occurrence row twice. The prefilter total INCLUDES the
    checkpoint-side bucket shuffle via metrics_sink (ADVICE r5 — the
    eager localCheckpoint runs it in a separate job the final plan
    never sees), so the comparison is apples-to-apples."""
    from logagent_spark.operators.textstats import duplicated_window_stats
    from logagent_spark.plans.metrics import shuffle_write_bytes

    df = _boilerplate_docs(spark, 3000)

    def run(**kw):
        sink: list = []
        agg = duplicated_window_stats(
            df, "doc_id", "text", w=5, metrics_sink=sink, **kw
        ).agg(
            F.sum("n_dup_windows").alias("d"), F.sum("n_windows").alias("n")
        )
        row = agg.collect()[0]
        total = shuffle_write_bytes(agg) + sum(
            shuffle_write_bytes(p) for p in sink
        )
        return row, total, sink

    exact_row, exact_bytes, exact_sink = run()
    # explicit W: this test pins the BYTE ACCOUNTING of the bucket pass;
    # since r7 "auto" resolves to the exact census below
    # AUTO_PREFILTER_MIN_WINDOWS, so it would skip the pass here
    pre_row, pre_bytes, pre_sink = run(prefilter_buckets=1 << 22)
    assert not exact_sink and len(pre_sink) == 1  # checkpoint captured
    # the captured frame's bucket pass really moved bytes — the old
    # accounting silently summed zero here
    assert shuffle_write_bytes(pre_sink[0]) > 0
    assert (pre_row["d"], pre_row["n"]) == (exact_row["d"], exact_row["n"])
    assert pre_row["d"] > 0
    assert pre_bytes < exact_bytes * 0.6, (pre_bytes, exact_bytes)
