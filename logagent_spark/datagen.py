"""Deterministic synthetic Common-Crawl-style `pages` table (FIXTURES.md F1).

Columns per BASELINE.json input_hint:
  (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Properties engineered for the test/bench matrix:
  * hosts drawn Zipf-skewed from `n_hosts` domains — host-domain skew is
    real, so salted repartition is testable (SURVEY.md M8);
  * `text` is a log-line-shaped payload `TS - LEVEL - body` recoverable
    byte-identically by the WAF regex of the reference's bench line
    (apps/agent/parser_test.go:57-64); a fraction of rows are prose that
    does NOT match (exercises the no-match pass-through), and a fraction
    are JSON lines (for jsonify fixtures), some of them corrupt
    (exercises drop+count);
  * `lang` includes values missing from the lookup dim (lookup_miss path).

Everything is numpy-seeded; same seed + n => byte-identical table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WAF_REGEX = r"^(?P<ts>.*?) - (?P<levelname>.*?) - (?P<body>.*?)$"
# unanchored form for payloads embedded in filler prose (FIXTURES.md F1):
# recovers the identical three groups from anywhere in the document
EMBEDDED_WAF_REGEX = (
    r"(?P<ts>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})"
    r" - (?P<levelname>[A-Z]+) - (?P<body>[^\n]*)"
)
LEVELS = ["INFO", "ERROR", "WARN", "DEBUG"]
LANGS = ["en", "zh", "de", "fr", "es", "ru", "ja", "xx", "yy"]

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu "
    "xi omicron pi rho sigma tau upsilon phi chi psi omega request response "
    "cache miss hit upstream worker queue shard replica"
).split()


def _sentence_bank(rng: np.random.RandomState, n_sentences: int = 48) -> np.ndarray:
    """Deterministic filler-prose sentences (~90 bytes each)."""
    out = []
    for _ in range(n_sentences):
        k = rng.randint(8, 14)
        words = rng.choice(_WORDS, k)
        out.append(" ".join(words).capitalize() + ".")
    return np.array(out)


def gen_pages(
    n: int, seed: int = 42, n_hosts: int = 1000, filler_sentences: int = 0
) -> pd.DataFrame:
    """Vectorized (pandas/numpy string ops) — ~5s per million rows.

    filler_sentences > 0 embeds the payload line INSIDE filler prose
    (FIXTURES.md F1: "log-line-shaped payload embedded in filler prose;
    the regex dictionary must recover it byte-identically") — the
    realistic CC-style document shape for benchmarks; 0 keeps the bare
    payload (compact unit-test shape).
    """
    rng = np.random.RandomState(seed)
    # Zipf-skewed host ids clipped to the host universe
    hosts = np.minimum(rng.zipf(1.3, n) - 1, n_hosts - 1)
    offsets = np.sort(rng.randint(0, 86_400, n))

    kinds = rng.choice(["waf", "prose", "json", "badjson"], n,
                       p=[0.70, 0.15, 0.10, 0.05])
    levels = pd.Series(rng.choice(LEVELS, n, p=[0.5, 0.2, 0.2, 0.1]))
    langs = rng.choice(
        LANGS, n, p=[0.35, 0.2, 0.1, 0.1, 0.1, 0.05, 0.05, 0.03, 0.02]
    )
    word_idx = rng.randint(0, len(_WORDS), (n, 6))
    ks = rng.randint(0, 100, n)

    host_s = pd.Series(hosts).astype(str).str.zfill(4)
    urls = "https://host" + host_s + ".example.org/p/" + pd.Series(
        np.arange(n)
    ).astype(str)

    base = np.datetime64("2024-03-01T00:00:00")
    tss = pd.Series(base + offsets.astype("timedelta64[s]"))

    words_arr = np.array(_WORDS)
    body = pd.Series(words_arr[word_idx[:, 0]])
    for j in range(1, 6):
        body = body + " " + pd.Series(words_arr[word_idx[:, j]])

    ms = pd.Series((ks.astype(np.int64) * 7) % 1000).astype(str).str.zfill(3)
    ts_str = tss.dt.strftime("%Y-%m-%d %H:%M:%S") + "," + ms
    ks_s = pd.Series(ks).astype(str)

    waf = ts_str + " - " + levels + " - " + body
    prose = body.str.capitalize() + "."
    jsonl = '{"level":"' + levels + '","k":' + ks_s + ',"body":"' + body + '"}'
    badjson = '{"level":"' + levels + '","k":' + ks_s  # truncated

    texts = waf.where(kinds == "waf", prose).where(
        ~(kinds == "json"), jsonl
    ).where(~(kinds == "badjson"), badjson)

    if filler_sentences > 0:
        bank = _sentence_bank(rng)
        half = filler_sentences // 2 or 1
        pre_idx = rng.randint(0, len(bank), (n, half))
        suf_idx = rng.randint(0, len(bank), (n, half))
        prefix = pd.Series(bank[pre_idx[:, 0]])
        suffix = pd.Series(bank[suf_idx[:, 0]])
        for j in range(1, half):
            prefix = prefix + " " + pd.Series(bank[pre_idx[:, j]])
            suffix = suffix + " " + pd.Series(bank[suf_idx[:, j]])
        texts = prefix + "\n" + texts + "\n" + suffix

    htmls = ("<html><body>" + texts + "</body></html>").map(
        lambda s: s.encode()
    )

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": tss,
            "html": htmls,
            "text": texts,
            "lang": langs,
        }
    )


def pages_df(spark, n: int, seed: int = 42, n_hosts: int = 1000,
             filler_sentences: int = 0):
    from pyspark.sql import types as T

    pdf = gen_pages(n, seed=seed, n_hosts=n_hosts,
                    filler_sentences=filler_sentences)
    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])
    return spark.createDataFrame(pdf, schema=schema)


def write_pages(spark, path: str, n: int, seed: int = 42,
                n_hosts: int = 1000, partitions: int = 8,
                filler_sentences: int = 0) -> str:
    pages_df(
        spark, n, seed=seed, n_hosts=n_hosts,
        filler_sentences=filler_sentences,
    ).repartition(partitions).write.mode("overwrite").parquet(path)
    return path
