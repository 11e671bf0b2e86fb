"""Deterministic synthetic webtext corpus + extractor + adapters.

The analog of the reference's seeded workload generators: ``gentext``
(reference: utils/gentext.c:23-37 — uniform random text over a chosen
alphabet) and ``genpatterns`` (reference: utils/genpatterns.c:196-218 —
patterns sampled FROM the corpus so every query has hits).  Ours generates
Common-Crawl-style pages in exactly the BASELINE.json ``input_hint`` shape:

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Invariants (FIXTURES.md §1): Zipf(s=1.07) head terms (skew paths exercised),
at least one singleton term, deterministic per seed, and ``extract_text(html)
== text`` byte-identically per url — the reference's exact differential text
equality (utils/compare.c:112-174).
"""

from __future__ import annotations

import datetime as _dt

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from full_text_index_spark.functions.util import local_frame, route

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

_HTML_PREFIX = b"<html><body>"
_HTML_SUFFIX = b"</body></html>"
_BASE_TS = _dt.datetime(2024, 1, 1, 0, 0, 0)

VOCAB_SIZE = 10_000
ZIPF_S = 1.07


def _vocab(size: int = VOCAB_SIZE) -> list[str]:
    """Deterministic pseudo-English vocabulary: w0..w{size-1} with syllable
    bodies so tokens look word-like but are unambiguous."""
    syll = ["ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "ne",
            "pa", "qi", "ro", "su", "ti", "vo", "wa", "xi", "yo", "zu"]
    out = []
    for i in range(size):
        j, parts = i, []
        for _ in range(3):
            parts.append(syll[j % 20])
            j //= 20
        out.append("".join(parts) + str(i % 10))
    # guarantee a never-occurring query term exists by construction: the
    # token "absentterm" is not producible above.
    return out


def generate_corpus_pdf(n_docs: int, seed: int = 42,
                        singleton: bool = True) -> pd.DataFrame:
    """Generate ``n_docs`` pages as a pandas DataFrame (driver-side; used for
    tiny/small fixtures — the bench corpus is generated distributed below).
    ``singleton`` appends the guaranteed-df-1 token to doc 0; the
    distributed generator sets it for the GLOBAL first slice only, so the
    corpus-wide guarantee stays df=1 instead of df=n_partitions."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(), dtype=object)
    # Zipf(s=1.07) over ranks 1..V
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    probs = ranks ** (-ZIPF_S)
    probs /= probs.sum()
    doclens = np.clip(
        rng.lognormal(mean=np.log(200.0), sigma=0.6, size=n_docs), 10, 2000
    ).astype(np.int64)
    texts = []
    for i in range(n_docs):
        toks = vocab[rng.choice(len(vocab), size=doclens[i], p=probs)]
        texts.append(" ".join(toks.tolist()))
    # singleton guarantee: append a unique token to doc 0
    if singleton:
        texts[0] = texts[0] + " singletonterm0"
    urls = [f"https://site{i % 503}.example/page/{i}" for i in range(n_docs)]
    ts = [_BASE_TS + _dt.timedelta(seconds=37 * i) for i in range(n_docs)]
    langs = ["en" if i % 20 < 19 else ("de" if i % 40 < 20 else "fr") for i in range(n_docs)]
    html = [_HTML_PREFIX + t.encode("utf-8") + _HTML_SUFFIX for t in texts]
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": html, "text": texts, "lang": langs}
    )


def generate_corpus(spark: SparkSession, n_docs: int, seed: int = 42,
                    n_partitions: int = 32) -> DataFrame:
    """Distributed deterministic corpus: each partition generates its slice
    with a derived seed — no driver-side materialization, scales linearly."""
    bounds = np.linspace(0, n_docs, n_partitions + 1).astype(np.int64)
    # one slice per partition (route on the slice index): each task
    # generates exactly one slice, so generation runs at full width
    rows = [(i, int(bounds[i]), int(bounds[i + 1]), seed + i)
            for i in range(n_partitions)]
    slices = route(
        local_frame(spark, rows, "i long, lo long, hi long, part_seed long"),
        "i", n_partitions,
    )

    def gen(iterator):
        for pdf in iterator:
            for lo, hi, part_seed in pdf[
                ["lo", "hi", "part_seed"]
            ].itertuples(index=False):
                if hi <= lo:
                    continue
                out = generate_corpus_pdf(int(hi - lo), seed=int(part_seed),
                                          singleton=(lo == 0))
                out["url"] = [
                    f"https://site{i % 503}.example/page/{i}" for i in range(lo, hi)
                ]
                out["warc_ts"] = [
                    _BASE_TS + _dt.timedelta(seconds=37 * int(i)) for i in range(lo, hi)
                ]
                yield out

    return slices.mapInPandas(gen, schema=CORPUS_SCHEMA)


def extract_text(html_col) -> F.Column:
    """Byte-identical text extraction from the html wrapper (JVM-side).

    The per-row invariant vs the reference (input_hint): the single
    authoritative extractor; tests check sha256(extract(html)) == sha256(text).
    """
    s = F.decode(html_col, "UTF-8")
    # (?s): Java regex '.' does not match line terminators, so without
    # DOTALL any text containing '\n' would extract as '' (regexp_extract
    # returns empty on no-match, not an error) — silently emptying docs
    # and breaking the sha256(extract(html)) == sha256(text) invariant
    body = F.regexp_extract(s, r"(?s)^<html><body>(.*)</body></html>$", 1)
    return body


def corpus_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's ``documents`` table (doc_id, text, lang, source,
    n_chars) into the input_hint corpus shape, keeping doc_id deterministic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        (F.lit(_BASE_TS) + F.make_interval(secs=F.col("doc_id") * 37)).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), F.col("text"),
                          F.lit("</body></html>")), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


def generate_queries(
    corpus_pdf: pd.DataFrame, n: int = 20, seed: int = 1234, k: int = 10
) -> list[tuple[int, list[str]]]:
    """genpatterns analog (reference: utils/genpatterns.c:196-218): sample
    query terms FROM the corpus (guaranteed hits), term pick ∝ sqrt(df);
    mix of 40% 1-term / 40% 2-term / 20% 3-term, plus the FIXTURES.md §2
    edge queries appended (absent term, duplicated term, head term)."""
    from full_text_index_spark.tokenizer import tokenize_py

    rng = np.random.default_rng(seed)
    df_counts: dict[str, int] = {}
    for t in corpus_pdf["text"]:
        for tok in set(tokenize_py(t)):
            df_counts[tok] = df_counts.get(tok, 0) + 1
    terms = sorted(df_counts)
    w = np.sqrt([df_counts[t] for t in terms])
    probs = w / w.sum()
    sizes = [1] * (n * 2 // 5) + [2] * (n * 2 // 5)
    sizes += [3] * (n - len(sizes))
    queries = []
    for qid, n_terms in enumerate(sizes):
        pick = rng.choice(len(terms), size=n_terms, replace=False, p=probs)
        queries.append((qid, [terms[i] for i in pick]))
    head = max(df_counts, key=df_counts.get)
    base = len(queries)
    queries += [
        (base, ["absentterm"]),
        (base + 1, [head]),
        (base + 2, [head, head]),
        (base + 3, [head, "absentterm"]),
    ]
    return queries


def doc_id_from_url(url_col) -> F.Column:
    """Deterministic non-negative docID from url (never ordinal — stable
    under repartitioning; SURVEY.md §7 hard part (e))."""
    return F.xxhash64(url_col).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))
