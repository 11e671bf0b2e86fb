"""Streaming incremental ingest: two generations appended via Structured
Streaming must answer BM25 queries over the union corpus, rank-identical to
the brute-force oracle on that union."""

from __future__ import annotations

import numpy as np
import pytest

from full_text_index_spark.corpus import CORPUS_SCHEMA, generate_corpus_pdf
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.oracle import bm25_oracle
from full_text_index_spark.query import bm25_topk
from full_text_index_spark.streaming import append_generation, stream_build


@pytest.fixture(scope="module")
def two_gen_corpus():
    a = generate_corpus_pdf(120, seed=42)
    b = generate_corpus_pdf(120, seed=99)
    b["url"] = b["url"].str.replace("/page/", "/late/", regex=False)
    return a, b


def _assert_matches_oracle(idx, corpus_pdf, queries):
    spark = idx.spark
    ds = idx.doc_stats().select("url", "doc_id").toPandas()
    docs = corpus_pdf.merge(ds, on="url")
    assert len(docs) == len(corpus_pdf)  # every doc made it into the index
    golden = bm25_oracle(docs, queries, k=10)
    qdf = spark.createDataFrame(queries, "qid long, terms array<string>")
    got = (
        bm25_topk(idx, qdf, k=10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert got["doc_id"].tolist() == golden["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], golden["score"], rtol=1e-9)


# head-of-Zipf vocabulary terms (corpus._vocab: "bababa0", "cebaba1", ...)
QUERIES = [(0, ["bababa0"]), (1, ["cebaba1", "dibaba2"]), (2, ["singletonterm0"])]


def test_append_generations_match_union_oracle(spark, two_gen_corpus, tmp_path):
    a, b = two_gen_corpus
    root = str(tmp_path / "sidx")
    append_generation(spark, spark.createDataFrame(a, CORPUS_SCHEMA), root, 0,
                      n_segments=4, block_size=16)
    idx0 = InvertedIndex.open(spark, root)
    _assert_matches_oracle(idx0, a, QUERIES)

    append_generation(spark, spark.createDataFrame(b, CORPUS_SCHEMA), root, 1,
                      n_segments=4, block_size=16)
    idx1 = InvertedIndex.open(spark, root)
    assert idx1.n_docs == len(a) + len(b)
    import pandas as pd

    union = pd.concat([a, b], ignore_index=True)
    _assert_matches_oracle(idx1, union, QUERIES)


def test_append_is_idempotent(spark, two_gen_corpus, tmp_path):
    a, _ = two_gen_corpus
    root = str(tmp_path / "sidx2")
    df = spark.createDataFrame(a, CORPUS_SCHEMA)
    append_generation(spark, df, root, 0, n_segments=4, block_size=16)
    n1 = InvertedIndex.open(spark, root).postings().count()
    append_generation(spark, df, root, 0, n_segments=4, block_size=16)  # replay
    idx = InvertedIndex.open(spark, root)
    assert idx.postings().count() == n1
    assert idx.n_docs == len(a)


def test_stream_build_end_to_end(spark, two_gen_corpus, tmp_path):
    a, _ = two_gen_corpus
    src = str(tmp_path / "in")
    spark.createDataFrame(a, CORPUS_SCHEMA).write.parquet(src)
    root = str(tmp_path / "sidx3")
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
    q = stream_build(spark, stream, root, str(tmp_path / "ckpt"), n_segments=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    idx = InvertedIndex.open(spark, root)
    _assert_matches_oracle(idx, a, QUERIES)


def test_append_gram_generation_substring_union(spark, two_gen_corpus, tmp_path):
    """k-gram substring index appends incrementally: after a second
    generation, substring counts and positions equal a Python scan over the
    UNION corpus (per-doc, overlapping)."""
    from full_text_index_spark.build import prepare_corpus
    from full_text_index_spark.substring import (
        append_gram_generation,
        build_gram_index,
        substring_count,
        substring_locate,
    )

    import pandas as pd

    a, b = two_gen_corpus
    root = str(tmp_path / "gidx")
    da = prepare_corpus(spark.createDataFrame(a, CORPUS_SCHEMA))
    build_gram_index(spark, da, root, k=3, n_segments=4, block_size=16)
    append_gram_generation(
        spark, spark.createDataFrame(b, CORPUS_SCHEMA), root, 1,
        k=3, n_segments=4, block_size=16,
    )
    idx = InvertedIndex.open(spark, root)

    union = pd.concat([a, b], ignore_index=True)
    texts = union["text"].tolist()
    pats = ["aba0 ", "ba1 ceb", "zzznope"]

    def occ(t, p):
        n = s = 0
        while True:
            i = t.find(p, s)
            if i < 0:
                return n
            n, s = n + 1, i + 1

    got = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in substring_count(idx, pats).collect()
    }
    for p in pats:
        exp = (sum(1 for t in texts if p in t), sum(occ(t, p) for t in texts))
        assert got[p] == exp, p
    # every located (doc, cpos) is an exact char-accurate hit: resolve each
    # doc's text via its url in doc_stats (gen-1 docs are not in gen-0 docs/)
    ds = idx.doc_stats().select("doc_id", "url").toPandas()
    by_url = dict(zip(union["url"], union["text"]))
    url_of = dict(zip(ds["doc_id"], ds["url"]))
    located = substring_locate(idx, ["aba0 "]).collect()
    assert located, "probe pattern should occur"
    for r in located:
        t = by_url[url_of[r["doc_id"]]]
        cpos = r["cpos"]
        assert t[cpos - 1:cpos - 1 + 5] == "aba0 "


def test_append_gram_generation_short_stats_union(spark, two_gen_corpus, tmp_path):
    """The short-gram stats table is generation-partitioned: after an
    incremental append, short-pattern counts equal a Python scan over the
    UNION corpus, and replaying the append changes nothing (idempotent)."""
    import pandas as pd

    from full_text_index_spark.build import prepare_corpus
    from full_text_index_spark.substring import (
        append_gram_generation,
        build_gram_index,
        substring_count_short,
    )

    a, b = two_gen_corpus
    root = str(tmp_path / "gidx_short")
    da = prepare_corpus(spark.createDataFrame(a, CORPUS_SCHEMA))
    build_gram_index(spark, da, root, k=3, n_segments=4, block_size=16)
    append_gram_generation(
        spark, spark.createDataFrame(b, CORPUS_SCHEMA), root, 1,
        k=3, n_segments=4, block_size=16,
    )
    # replay generation 1 — dynamic partition overwrite must be a no-op
    append_gram_generation(
        spark, spark.createDataFrame(b, CORPUS_SCHEMA), root, 1,
        k=3, n_segments=4, block_size=16,
    )
    idx = InvertedIndex.open(spark, root)

    union = pd.concat([a, b], ignore_index=True)
    texts = union["text"].tolist()
    pats = ["ba", "a", "zq", "0 "]
    got = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in substring_count_short(idx, pats).collect()
    }
    for p in pats:
        n_docs = sum(1 for t in texts if p in t)
        n_occ = sum(
            sum(1 for i in range(len(t) - len(p) + 1) if t[i:i + len(p)] == p)
            for t in texts
        )
        assert got[p] == (n_docs, n_occ), p


def _synth_events(n=300, seed=7):
    import pandas as pd

    rng = np.random.RandomState(seed)
    base = pd.Timestamp("2024-01-01 00:00:00")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": [base + pd.Timedelta(seconds=int(s))
               for s in rng.randint(0, 7200, size=n)],
        "event_type": [f"t{i % 3}" for i in range(n)],
        "value": rng.randint(0, 10000, size=n) / 100.0,
    })


def test_windowed_event_counts_stream_matches_batch(spark, tmp_path):
    """The watermarked windowed aggregation, replayed through an actual
    readStream in append mode, emits exactly the batch-path result for
    every window the watermark has closed."""
    import pandas as pd

    from full_text_index_spark.streaming import windowed_event_counts

    pdf = _synth_events()
    src = str(tmp_path / "ev")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    # a far-future sentinel (separate file, later mod time) drives the
    # watermark past every real window so append mode finalizes them all
    sentinel = pdf.head(1).copy()
    sentinel["event_id"] = 10**6
    sentinel["ts"] = pd.Timestamp("2024-01-01 06:00:00")
    spark.createDataFrame(sentinel).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory").queryName("win_sink")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = windowed_event_counts(spark.read.parquet(src)).toPandas()
    sentinel_epoch = int(sentinel["ts"].iloc[0].timestamp())
    closed = batch[batch["window_end_s"] <= sentinel_epoch - 30 * 60]
    assert len(closed) > 10  # the replay actually covered many windows
    got = spark.sql("SELECT * FROM win_sink").toPandas()
    key = ["window_start_s", "event_type"]
    exp = closed.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)[exp.columns]
    pd.testing.assert_frame_equal(got, exp)


def test_streaming_dedup_first_seen(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: the first url carrying each
    text survives; replays of the same text in LATER micro-batches are
    dropped by per-hash state (an append sink would show extra rows if the
    state were not carried across batches)."""
    import time

    import pandas as pd

    from full_text_index_spark.streaming import streaming_dedup_first_seen

    src = str(tmp_path / "docs_in")
    b0 = pd.DataFrame({
        "url": [f"u/b0/{i:02d}" for i in range(6)],
        "text": ["alpha", "alpha", "beta", "gamma", "beta", "delta"],
    })
    b1 = pd.DataFrame({
        "url": [f"u/b1/{i:02d}" for i in range(4)],
        "text": ["alpha", "epsilon", "delta", "zeta"],
    })
    spark.createDataFrame(b0).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mod times → deterministic file order
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("url string, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        streaming_dedup_first_seen(stream)
        .writeStream.format("memory").queryName("dedup_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.sql(
        "SELECT text, url FROM dedup_sink ORDER BY text"
    ).toPandas()
    expected = pd.DataFrame({
        "text": ["alpha", "beta", "delta", "epsilon", "gamma", "zeta"],
        "url": ["u/b0/00", "u/b0/02", "u/b0/05", "u/b1/01", "u/b0/03",
                "u/b1/03"],
    })
    pd.testing.assert_frame_equal(got, expected)


def test_user_sessions_stream_matches_batch(spark, tmp_path):
    """session_window sessionization replayed through a readStream in
    append mode: once the watermark passes every session's end, the sink
    holds exactly the batch-path sessions."""
    import pandas as pd

    from full_text_index_spark.streaming import user_sessions

    pdf = _synth_events(n=400, seed=11)
    rng = np.random.RandomState(13)
    pdf["user_id"] = rng.randint(0, 12, size=len(pdf)).astype(np.int64)
    src = str(tmp_path / "ev_sess")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src)
    # far-future sentinel (later mod time → later micro-batch) drives the
    # watermark past every real session's end so append mode emits them all
    sentinel = pdf.head(1).copy()
    sentinel["event_id"] = 10**6
    sentinel["ts"] = pd.Timestamp("2024-01-01 12:00:00")
    spark.createDataFrame(sentinel).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double, "
        "user_id long"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        user_sessions(stream)
        .writeStream.format("memory").queryName("sess_sink")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = user_sessions(spark.read.parquet(src)).toPandas()
    sentinel_us = int(sentinel["ts"].iloc[0].timestamp() * 1_000_000)
    closed = batch[batch["session_end_us"] <= sentinel_us - 2 * 3600 * 10**6]
    assert len(closed) > 10
    got = spark.sql("SELECT * FROM sess_sink").toPandas()
    key = ["user_id", "session_start_us"]
    exp = closed.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)[exp.columns]
    pd.testing.assert_frame_equal(got, exp)


def test_user_sessions_gap_boundary(spark):
    """An event exactly `gap` after the previous one still MERGES (the
    merge condition is next.start <= prev session end); one microsecond
    past the gap starts a new session.  The DuckDB oracle's strictly->
    island boundary encodes the same rule."""
    import pandas as pd

    from full_text_index_spark.streaming import user_sessions

    base = pd.Timestamp("2024-01-01 00:00:00")
    gap = pd.Timedelta(minutes=30)
    pdf = pd.DataFrame({
        "event_id": np.arange(4, dtype=np.int64),
        "user_id": np.array([1, 1, 2, 2], dtype=np.int64),
        "ts": [base, base + gap,                      # exactly gap → merge
               base, base + gap + pd.Timedelta(microseconds=1)],  # > gap
        "event_type": ["a"] * 4,
        "value": [1.0] * 4,
    })
    got = (
        user_sessions(spark.createDataFrame(pdf))
        .orderBy("user_id", "session_start_us")
        .toPandas()
    )
    assert list(got["user_id"]) == [1, 2, 2]
    assert list(got["n_events"]) == [2, 1, 1]
    # merged session's end = last event ts + gap
    end_us = int((base + 2 * gap).timestamp() * 1_000_000)
    assert int(got["session_end_us"].iloc[0]) == end_us


def test_append_preserves_custom_k1_b(spark, two_gen_corpus, tmp_path):
    """Appending to an index built with custom BM25 parameters must not
    silently reset k1/b to the defaults (the appended meta re-scores ALL
    generations)."""
    import json
    import os

    from full_text_index_spark.build import build_index, prepare_corpus

    a, b = two_gen_corpus
    root = str(tmp_path / "sidx3")
    build_index(spark, prepare_corpus(spark.createDataFrame(a, CORPUS_SCHEMA)),
                root, n_segments=4, block_size=16, k1=0.9, b=0.4)
    append_generation(spark, spark.createDataFrame(b, CORPUS_SCHEMA), root, 1,
                      n_segments=4, block_size=16)
    with open(os.path.join(root, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["k1"] == 0.9 and meta["b"] == 0.4
    # an explicit override still wins
    append_generation(spark, spark.createDataFrame(b, CORPUS_SCHEMA), root, 1,
                      n_segments=4, block_size=16, k1=1.5)
    with open(os.path.join(root, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["k1"] == 1.5 and meta["b"] == 0.4


def test_stream_into_batch_index_keeps_generation_zero(
    spark, two_gen_corpus, tmp_path
):
    """Attaching a stream to a BATCH-built index must not overwrite its
    generation-0 partitions: epoch 0 maps to the first FREE generation
    (manifest-pinned base), so the union corpus stays queryable."""
    import pandas as pd

    from full_text_index_spark.build import build_index, prepare_corpus

    a, b = two_gen_corpus
    root = str(tmp_path / "sidx4")
    build_index(spark, prepare_corpus(spark.createDataFrame(a, CORPUS_SCHEMA)),
                root, n_segments=4, block_size=16)
    assert InvertedIndex.open(spark, root).n_docs == len(a)

    src = str(tmp_path / "in4")
    spark.createDataFrame(b, CORPUS_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
    q = stream_build(spark, stream, root, str(tmp_path / "ckpt4"),
                     n_segments=4, block_size=16)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    idx = InvertedIndex.open(spark, root)
    assert idx.n_docs == len(a) + len(b)  # generation 0 survived
    union = pd.concat([a, b], ignore_index=True)
    _assert_matches_oracle(idx, union, QUERIES)


def test_stream_base_pin_is_stable_per_checkpoint(spark, tmp_path):
    """The epoch->generation base is computed once per (index, checkpoint)
    and re-read on restart — a replayed epoch maps to the SAME generation."""
    from full_text_index_spark.streaming import _stream_generation_base

    root = str(tmp_path / "sidx5")
    ckpt = str(tmp_path / "ckpt5")
    b0 = _stream_generation_base(root, ckpt)
    assert b0 == 0  # fresh dir
    # simulate a later attachment: meta now exists, but the pin wins
    import json
    import os

    with open(os.path.join(root, "meta.json"), "w") as fh:
        json.dump({"generations": 7}, fh)
    assert _stream_generation_base(root, ckpt) == b0
    # a DIFFERENT checkpoint computes a fresh base from the meta
    assert _stream_generation_base(root, str(tmp_path / "ckpt6")) == 7


def test_append_refuses_another_format_or_positions(spark, two_gen_corpus,
                                                    tmp_path):
    """An append checks the existing meta's immutable format parameters
    like a resumed build does: a generation of another on-disk format or
    another ``positions`` setting is refused before anything is written."""
    import json
    import os

    a, b = two_gen_corpus
    root = str(tmp_path / "sidx_fmt")
    append_generation(spark, spark.createDataFrame(a.head(20), CORPUS_SCHEMA),
                      root, 0, n_segments=4, block_size=16)
    more = spark.createDataFrame(b.head(20), CORPUS_SCHEMA)
    with pytest.raises(ValueError, match="immutable format parameter positions"):
        append_generation(spark, more, root, 1, n_segments=4, block_size=16,
                          positions=True)
    meta_path = os.path.join(root, "meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["format"] = "vbgap-blockmax-v4"
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="immutable format parameter format"):
        append_generation(spark, more, root, 1, n_segments=4, block_size=16)
    assert not os.path.exists(os.path.join(root, "postings", "generation=1"))


def _sorted_rows(spark, path: str, keys: list[str]) -> tuple[list, list]:
    """(columns, rows sorted by ``keys``) of a parquet table, with binary
    and array cells as plain bytes and lists."""
    pdf = spark.read.parquet(path).toPandas().sort_values(keys)

    def plain(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return list(v) if hasattr(v, "__len__") and not isinstance(v, str) else v

    return list(pdf.columns), [[plain(v) for v in row]
                               for row in pdf.itertuples(index=False)]


@pytest.mark.parametrize("unit", ["token", "chargram-3"])
def test_append_into_empty_dir_writes_what_build_writes(spark, two_gen_corpus,
                                                        tmp_path, unit):
    """build_index and append_generation share one posting writer and one
    term_stats refresh: generation 0 appended into an empty directory holds
    the same postings rows and term_stats as a build of the same docs.
    Rows hold exactly the format's columns, the dl stream only on token
    indexes."""
    import os

    from full_text_index_spark.build import _PACK_COLUMNS, build_index, prepare_corpus
    from full_text_index_spark.substring import make_gram_stream

    a, _ = two_gen_corpus
    docs = prepare_corpus(spark.createDataFrame(a.head(60), CORPUS_SCHEMA))
    kw = dict(n_segments=4, block_size=16, positions=True, unit=unit)
    if unit != "token":
        kw["stream"] = make_gram_stream(3)
    built, appended = str(tmp_path / "built"), str(tmp_path / "appended")
    build_index(spark, docs, built, **kw)
    append_generation(spark, docs, appended, 0, **kw)

    for table, keys in (("postings", ["segment", "term"]), ("term_stats", ["term"])):
        want = _sorted_rows(spark, os.path.join(built, table), keys)
        assert _sorted_rows(spark, os.path.join(appended, table), keys) == want
    cols, rows = _sorted_rows(spark, os.path.join(built, "postings"),
                              ["segment", "term"])
    assert sorted(cols) == sorted(_PACK_COLUMNS + ["generation"])
    dl_bytes = [r[cols.index("dl_bytes")] for r in rows]
    assert rows and all((n > 0) == (unit == "token") for n in dl_bytes)
    assert _sorted_rows(spark, os.path.join(built, "term_stats"),
                        ["term"])[0] == ["term", "df", "cf"]
