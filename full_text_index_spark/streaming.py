"""Incremental index ingest via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.5: no streaming), but its
build/save/load split implies an append workflow: index new text without
rebuilding the old.  Here that becomes a Structured Streaming job whose
micro-batches append **generation-disjoint postings** to the same index:

* each micro-batch's documents get doc_ids in a disjoint generation range
  (``generation << GEN_SHIFT``), so a (segment, term) may own several posting
  rows — one per generation — which the query side already handles (rows are
  independent sorted runs; scores just accumulate);
* global stats (n_docs, avgdl, term df) are refreshed from the tables after
  each batch — a vocab-sized aggregation;
* exactly-once: Structured Streaming checkpointing replays a failed batch,
  and the generation manifest makes the append idempotent (a replayed batch
  overwrites its own generation's rows via dynamic partition overwrite).

This trades a little BM25 staleness *within* a batch (idf reflects all docs
only after the refresh) for append-only ingest — the standard
segment-generation design of incremental search indexes.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_text_index_spark.build import (
    IndexPaths,
    K1_DEFAULT,
    B_DEFAULT,
    BLOCK_SIZE_DEFAULT,
    _format_meta,
    _read_meta,
    _validate_resume_meta,
    _write_postings,
    _write_term_stats,
    doc_lengths,
    prepare_corpus,
    token_stream,
)

GEN_SHIFT = 44  # doc_id = (generation << 44) | dense-id-within-generation


def append_generation(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    generation: int,
    *,
    n_segments: int = 8,
    block_size: int = BLOCK_SIZE_DEFAULT,
    k1: float | None = None,
    b: float | None = None,
    positions: bool = False,
    stream=None,
    unit: str = "token",
) -> None:
    """Append one generation of documents to the index at ``out_dir``.

    Idempotent per generation: replays overwrite the same (gen, segment)
    parquet partitions and manifest.  Appending to a batch-built index is
    supported directly — build_index writes generation 0 in the identical
    (generation, segment) layout through the same writer — but the
    immutable format parameters (n_segments, block_size, tokenizer, unit,
    positions, format) must match the existing meta, else ValueError.
    ``positions``/``stream``/``unit`` mirror build_index, so positional
    token indexes AND character k-gram substring indexes append
    incrementally too (substring.append_gram_generation wraps this) — a
    capability the reference lacks entirely (its indexes are immutable,
    utils/interface.h:34-44).
    """
    paths = IndexPaths(out_dir)
    os.makedirs(paths.manifest_dir, exist_ok=True)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    stream = stream or token_stream
    # scoring parameters are inherited from the existing index unless the
    # caller overrides them explicitly — an append must not silently reset
    # a custom-k1/b index back to the defaults
    meta = _read_meta(paths)  # keeps batch-build accounting fields
    meta.update({
        "k1": float(meta.get("k1", K1_DEFAULT)) if k1 is None else k1,
        "b": float(meta.get("b", B_DEFAULT)) if b is None else b,
        **_format_meta(n_segments=n_segments, block_size=block_size,
                       positions=positions, unit=unit),
    })
    _validate_resume_meta(paths, meta)

    base = generation << GEN_SHIFT
    docs = prepare_corpus(docs)
    docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(base)).withColumn(
        "segment", F.pmod(F.col("doc_id"), F.lit(n_segments)).cast("int")
    )

    # pass A (mirrors build_index): doclen via doc_lengths — a pure
    # projection for the built-in streams, exploded + map-side-combined
    # fallback for custom ones
    doc_stats = doc_lengths(docs, stream).withColumn(
        "generation", F.lit(generation)
    )
    doc_stats.write.mode("overwrite").partitionBy("generation").parquet(
        paths.doc_stats
    )

    # norms need a current avgdl — refresh from everything appended so far
    n_docs, sum_dl = (
        spark.read.parquet(paths.doc_stats)
        .agg(F.count("*"), F.sum("doclen")).first()
    )
    _write_postings(
        spark, docs, paths, generation, stream=stream, positions=positions,
        unit=unit, n_segments=n_segments, block_size=block_size,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    _write_term_stats(spark, paths)
    meta.update({
        "build_id": f"stream-gen-{generation}", "n_docs": int(n_docs),
        "avgdl": float(sum_dl) / float(n_docs), "generations": generation + 1,
    })
    with open(paths.meta, "w") as fh:
        json.dump(meta, fh, indent=1)
    with open(
        os.path.join(paths.manifest_dir, f"generation_{generation:05d}.json"), "w"
    ) as fh:
        json.dump(
            {"generation": generation, "n_docs_total": int(n_docs),
             "completed_at": time.time()}, fh,
        )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark — the
    standard Structured Streaming late-data pattern (readStream →
    withWatermark → window groupBy → writeStream).  The SAME code path
    serves batch DataFrames (watermark skipped — it is a streaming-state
    bound, not a filter), so the driver contract can diff the batch result
    against a DuckDB time_bucket oracle while the streaming tests replay
    the identical aggregation incrementally.

    Output (window_start_s, window_end_s, event_type, n_events,
    sum_value_c): epoch seconds for engine-neutral window identity, and
    ``value`` summed as exact integer cents (floor(v·100 + 0.5) BEFORE the
    sum — float accumulation order differs between engines; integer sums
    are associative).

    Scale: tumbling windows partition by (window, event_type) — one
    map-side-combined shuffle; on a stream the watermark bounds state to
    ~(watermark / window) live windows per key."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_value_c"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            F.unix_timestamp(F.col("w.end")).alias("window_end_s"),
            "event_type", "n_events", "sum_value_c",
        )
    )


def user_sessions(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization per user via Spark's native
    ``session_window`` (merging-session state store on a stream, a merge
    aggregation in batch): consecutive events of one user belong to the
    same session while each starts at most ``gap`` after the previous one
    (exactly-gap-later still merges: the merge condition is next.start <=
    prev session end); the session's window end is last-event-time + gap.

    Output uses epoch MICROseconds (``unix_micros``) for the boundaries —
    the events table carries microsecond timestamps, and integer micros
    give engine-exact window identity against a DuckDB gaps-and-islands
    oracle (lag diff strictly > gap starts a new island).  ``value`` is summed as
    integer cents (floor(v·100+0.5) before the sum — associative).

    Scale: one shuffle on user_id; per-user in-partition sort merges
    sessions.  On a stream the watermark closes sessions whose end falls
    behind it, bounding state to each user's open sessions."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_value_c"),
        )
        .select(
            # parquet yields TIMESTAMP_NTZ; the session tz is pinned UTC
            # (session.py), so the cast is offset-free
            F.unix_micros(F.col("w.start").cast("timestamp"))
            .alias("session_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp"))
            .alias("session_end_us"),
            "user_id", "n_events", "sum_value_c",
        )
    )


DEDUP_OUT_SCHEMA = "content_hash string, url string, text string"
DEDUP_STATE_SCHEMA = "seen boolean"


def _dedup_first_seen_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: emit the first document ever seen for
    this content hash (within-batch ties broken by url), then remember the
    hash forever.  State is one boolean per distinct hash."""
    import pandas as pd

    if state.exists:
        yield pd.DataFrame(columns=["content_hash", "url", "text"])
        return
    best = None
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        cand = pdf.sort_values("url").head(1)
        if best is None or cand["url"].iloc[0] < best["url"].iloc[0]:
            best = cand
    state.update((True,))
    yield (best[["content_hash", "url", "text"]]
           if best is not None
           else pd.DataFrame(columns=["content_hash", "url", "text"]))


def streaming_dedup_first_seen(stream: DataFrame) -> DataFrame:
    """Cross-batch EXACT deduplication as a custom stateful streaming
    operator (``applyInPandasWithState``): only the first document carrying
    each content hash ever reaches the sink; replays and later batches of
    the same text are dropped by per-hash state.  This is the streaming
    form of dedup.exact_dedup — the pipeline op a training-data ingest
    actually runs in front of the incremental index build.

    Scale: state is one boolean per DISTINCT content hash, hash-partitioned
    across executors by the groupBy key — the same sharding the batch
    hash-groupBy uses, carried across micro-batches by the state store."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    hashed = stream.withColumn("content_hash", F.md5(F.col("text")))
    return (
        hashed.groupBy("content_hash")
        .applyInPandasWithState(
            _dedup_first_seen_fn,
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _stream_generation_base(out_dir: str, checkpoint_dir: str) -> int:
    """First free generation for a stream attaching to ``out_dir``, pinned
    per checkpoint so restarts replay the same epoch→generation mapping.
    A fresh index starts at 0; a batch-built index (generation 0, no
    ``generations`` key) at 1; a previously-appended index at its recorded
    ``generations`` high-water mark."""
    import hashlib

    paths = IndexPaths(out_dir)
    os.makedirs(paths.manifest_dir, exist_ok=True)
    tag = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    pin = os.path.join(paths.manifest_dir, f"stream_base_{tag}.json")
    if os.path.exists(pin):
        with open(pin) as fh:
            return int(json.load(fh)["base"])
    base = 0
    if os.path.exists(paths.meta):
        with open(paths.meta) as fh:
            base = int(json.load(fh).get("generations", 1))
    with open(pin, "w") as fh:
        json.dump(
            {"base": base, "checkpoint": os.path.abspath(checkpoint_dir)}, fh
        )
    return base


def stream_build(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    n_segments: int = 8,
    block_size: int = BLOCK_SIZE_DEFAULT,
):
    """Start a Structured Streaming query that ingests ``stream`` (a
    streaming DataFrame of corpus rows) into the index via foreachBatch.

    Use ``trigger(availableNow=True)`` semantics by calling
    ``q.processAllAvailable()`` in tests; checkpointing makes batch replay
    idempotent together with the per-generation overwrite.

    Generations are ``base + epoch_id`` where ``base`` is captured ONCE per
    (index, checkpoint) attachment and pinned in the manifest dir: epoch 0
    of a stream attached to an already-populated index (batch build =
    generation 0; prior appends/streams = generations < base) must not
    overwrite those generations' partitions, and the pin keeps replays of
    an in-flight epoch idempotent across restarts with the same
    checkpoint (a restart re-reads the SAME base instead of recomputing a
    higher one)."""
    base = _stream_generation_base(out_dir, checkpoint_dir)

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_generation(
            spark, batch_df, out_dir, base + int(epoch_id),
            n_segments=n_segments, block_size=block_size,
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
