"""Distributed SPIMI index build.

The Spark-first counterpart of the reference's ``build_index`` lifecycle
(reference: utils/build_index.c:20-75 → per-algorithm builders such as
ssa/SSA.cpp:218-241, fm/fm_build.c:138-156).  Where the reference suffix-sorts
one in-memory byte string (ds/ds.c:73-129), we:

1. produce a *token stream* ``(doc_id, segment, term, tpos)`` — by default
   lowercase alphanumeric tokens (JVM expression), pluggable so the character
   k-gram substring index (substring.py) reuses the identical pipeline;
2. hash documents into ``n_segments`` **segments** — the unit of build
   parallelism, query fan-out, and resumability.  A segment bounds every
   posting list's length, which is the distributed answer to head-term skew:
   a Zipf head term becomes ``n_segments`` independent bounded rows instead
   of one unbounded one (the role the reference's superbucket/bucket split
   plays for its occ tables, fm/fm_build.c:580-702);
3. compute doc lengths per document (a projection for the built-in
   streams), and on token indexes — the only ones BM25 scores — join
   ``doclen`` back onto the *document* rows (doc-level join — broadcast
   below the autoBroadcastJoinThreshold, sort-merge on a cluster) so it
   rides the explode into the pack shuffle;
4. shuffle the RAW token stream once on ``(segment, term)``, sort within
   partitions, and let the Arrow-batched ``mapInPandas`` packer aggregate
   tf runs AND pack delta-gap + varbyte blobs with a block directory in
   the same numpy pass (``_write_postings``, shared with
   streaming.append_generation).  This is deliberate bandwidth discipline: an
   aggregate-then-pack pipeline needs TWO wide shuffles plus a persisted
   intermediate (measured r02: the extra materializations were the
   worst-scaling phase of the whole build — memory-bandwidth-bound work
   scales far worse than the ~1.3-2× extra rows of shipping raw
   occurrences, whose tokenize cost is CPU-bound and parallelizes);
5. write Iceberg-style parquet partitioned by (generation, segment) —
   generation 0 for batch builds, higher generations appended by
   streaming.append_generation — with dynamic partition overwrite, so
   re-running a failed build rewrites only missing segments; per-segment
   manifests with lineage + metrics make the build resumable (north_rule;
   the reference's closest analog is its save/load split,
   ssa/SSA.cpp:486-531).

At 100 TB the same plan holds: one wide shuffle keyed by (segment, term),
segment count scaled to keep per-task state in memory, AQE handling residual
skew, and every downstream query touching only the term rows it needs thanks
to parquet predicate pushdown on ``term``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from full_text_index_spark.codec import varbyte_encode, varbyte_sizes
from full_text_index_spark.corpus import doc_id_from_url
from full_text_index_spark.functions.util import kernel_tasks, route
from full_text_index_spark.tokenizer import TOKEN_SPLIT_REGEX, tokens_col

K1_DEFAULT = 1.2
B_DEFAULT = 0.75
BLOCK_SIZE_DEFAULT = 128
FORMAT_VERSION = "vbgap-v5"  # v5: no block stats; dl stream on token indexes only

POSTINGS_SCHEMA = (
    "segment int, term string, df_seg long, cf_seg long, "
    "doc_blob binary, tf_blob binary, dl_blob binary, pos_blob binary, "
    "doc_bytes int, tf_bytes int, dl_bytes int, pos_bytes int, "
    "block_last array<long>, block_doc_off array<int>, block_tf_off array<int>, "
    "block_pos_off array<int>"
)

_PACK_COLUMNS = [field.split()[0] for field in POSTINGS_SCHEMA.split(", ")]


@dataclass
class IndexPaths:
    root: str

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def doc_stats(self) -> str:
        return os.path.join(self.root, "doc_stats")

    @property
    def meta(self) -> str:
        return os.path.join(self.root, "meta.json")

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.root, "manifests")

    def manifest(self, segment: int) -> str:
        return os.path.join(self.manifest_dir, f"segment_{segment:05d}.json")


def _encoded(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte bytes of ``values`` and their byte offsets: value i occupies
    ``off[i]:off[i + 1]``."""
    return varbyte_encode(values), np.concatenate(
        ([0], np.cumsum(varbyte_sizes(values)))
    )


def _pack_runs(pdf: pd.DataFrame, block_size: int,
               term_decode=None) -> pd.DataFrame:
    """Collapse a stream sorted by (segment, term, doc_id[, tpos]) into
    compressed posting rows (format: codec.py).  The input is either
    token-level ``(segment, term, doc_id[, doclen], tpos)`` — tf is then
    aggregated HERE (run length per (segment, term, doc_id)), in the same
    numpy pass that packs, so the build ships raw occurrences through ONE
    wide shuffle with no persisted intermediate — or one row per posting
    ``(segment, term, doc_id, tf[, doclen])``.  The dl stream is packed
    only when a ``doclen`` column is present and the pos stream only when
    ``tpos`` is; an absent stream's blob is empty.  Encoding and the block
    directory are batch-wide numpy; the per-run loop only slices."""
    if len(pdf) == 0:
        return pd.DataFrame(columns=_PACK_COLUMNS)
    seg = pdf["segment"].to_numpy()
    doc = pdf["doc_id"].to_numpy(dtype=np.int64)
    term = pdf["term"].to_numpy()
    if "tf" in pdf.columns:
        # aggregated input — one row per posting (non-positional builds:
        # the (segment, term, doc_id) → tf aggregation ran JVM-side after
        # the single wide exchange, so Arrow ships ~1 row per posting)
        post = np.arange(len(pdf))
        tf = pdf["tf"].to_numpy(dtype=np.int64)
    else:
        # token-level input (positional builds: the sorted occurrence rows
        # ARE the flat position stream, so no list-typed columns ever exist)
        post = np.flatnonzero(np.r_[
            True,
            (term[1:] != term[:-1]) | (seg[1:] != seg[:-1]) | (doc[1:] != doc[:-1]),
        ])
        tf = np.diff(np.append(post, len(pdf)))
    seg, doc, term = seg[post], doc[post], term[post]

    # run boundaries: change of (segment, term) among collapsed postings
    run_starts = np.flatnonzero(
        np.r_[True, (term[1:] != term[:-1]) | (seg[1:] != seg[:-1])]
    )
    run_ends = np.append(run_starts[1:], len(doc))

    # delta-gap docIDs, reset at run starts (gap[start] = doc+1, see codec)
    gaps = np.diff(doc, prepend=np.int64(-1))
    gaps[run_starts] = doc[run_starts] + 1
    if gaps.min() <= 0:
        raise ValueError("postings not strictly sorted by (segment, term, doc_id)")

    # each stream's bytes and its per-posting offsets
    streams = {"doc": _encoded(gaps), "tf": _encoded(tf)}
    if "doclen" in pdf.columns:
        streams["dl"] = _encoded(pdf["doclen"].to_numpy(dtype=np.int64)[post])
    if "tpos" in pdf.columns:
        # per posting, delta-gapped 1-based token positions (the reference's
        # occurrence positions, utils/interface.h:66)
        tpos = pdf["tpos"].to_numpy(dtype=np.int64)
        pg = np.diff(tpos, prepend=np.int64(0))
        pg[post] = tpos[post]
        if pg.min() <= 0:
            raise ValueError("positions must be strictly increasing, >= 1")
        data, off = _encoded(pg)
        # posting i's positions are token rows post[i]:post[i + 1]
        streams["pos"] = (data, off[np.append(post, len(pdf))])

    # block directory: an entry every block_size postings of each run
    n_blocks = -(-(run_ends - run_starts) // block_size)
    b_run = np.repeat(np.arange(len(run_starts)), n_blocks)
    b_first = np.cumsum(n_blocks) - n_blocks
    b_start = run_starts[b_run] + block_size * (np.arange(len(b_run)) - b_first[b_run])
    b_bounds = list(zip(b_first.tolist(), (b_first + n_blocks).tolist()))

    def per_run(block_values: np.ndarray) -> list[list]:
        values = block_values.tolist()
        return [values[lo:hi] for lo, hi in b_bounds]

    out = {
        "segment": seg[run_starts],
        # int-coded terms (gram streams ship packed codes through the
        # shuffle) are decoded back to strings once per run
        "term": ([term_decode(int(t)) for t in term[run_starts]]
                 if term_decode else term[run_starts]),
        "df_seg": run_ends - run_starts,
        "cf_seg": np.add.reduceat(tf, run_starts),
        "block_last": per_run(doc[np.minimum(b_start + block_size, run_ends[b_run]) - 1]),
    }
    for name in ("doc", "tf", "dl", "pos"):
        data, off = streams.get(name, (b"", np.zeros(len(doc) + 1, np.int64)))
        lo, hi = off[run_starts], off[run_ends]
        out[f"{name}_blob"] = [data[a:b] for a, b in zip(lo.tolist(), hi.tolist())]
        out[f"{name}_bytes"] = hi - lo
        if name != "dl":
            out[f"block_{name}_off"] = per_run(off[b_start] - lo[b_run])
    return pd.DataFrame(out, columns=_PACK_COLUMNS)


def _pack_map_in_pandas(block_size: int, term_decode=None):
    """mapInPandas packer (token-level input) with carry-over so a
    (segment, term) run spanning Arrow batch boundaries inside one partition
    is aggregated and packed once.  ``term_decode`` (from the stream) maps
    int-coded terms back to their strings at run granularity."""

    def pack(iterator):
        pending: pd.DataFrame | None = None
        for pdf in iterator:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if len(pdf) == 0:
                pending = None
                continue
            last_term = pdf["term"].iloc[-1]
            last_seg = pdf["segment"].iloc[-1]
            tail_mask = (pdf["term"] == last_term) & (pdf["segment"] == last_seg)
            # the final run may continue into the next batch — defer it; the
            # mask is contiguous at the end because input is sorted
            n_tail = int(tail_mask.to_numpy()[::-1].cumprod().sum())
            head = pdf.iloc[: len(pdf) - n_tail]
            pending = pdf.iloc[len(pdf) - n_tail:]
            if len(head):
                yield _pack_runs(head, block_size, term_decode)
        if pending is not None and len(pending):
            yield _pack_runs(pending, block_size, term_decode)

    return pack


# ID assignment: bucket count scales with corpus size so the rank-window's
# parallelism is never capped by a constant (it only changes ID density,
# which the delta-gap format tolerates; VERDICT r01 #9)
MIN_ID_BUCKETS = 1024
DOCS_PER_ID_BUCKET = 4096


def prepare_corpus(corpus: DataFrame, n_buckets: int | None = None) -> DataFrame:
    """Ensure a deterministic, globally dense-ish ``doc_id`` column.

    IDs are assigned as ``rank-of-url-hash-within-bucket · n_buckets +
    bucket`` with ``bucket = hash(url) mod n_buckets``: the interleaving
    makes the ID set dense in ~[0, n_docs + n_buckets] no matter how the
    index later partitions it, so posting-list delta gaps stay 1-2 varbyte
    bytes (hash-space IDs would make every gap ~9 bytes and void the
    compression — the same reason the reference dictionary-remaps its
    alphabet before encoding, fm/fm_build.c:450-491).  Ranks are over
    url-hash order, computed per bucket in parallel, so IDs are deterministic
    for a given corpus and never depend on row order (SURVEY.md §7(e)).

    ``n_buckets`` defaults to a power of two targeting ~4096 docs per bucket
    (floored at 1024), derived from one column-pruned count — at 10^12 docs
    that is ~2^28 buckets, so per-task rank sorts stay bounded.
    """
    from pyspark.sql import Window

    if "doc_id" in corpus.columns:
        return corpus
    if n_buckets is None:
        n = corpus.select("url").count()
        n_buckets = max(
            MIN_ID_BUCKETS,
            1 << int(np.ceil(np.log2(max(n // DOCS_PER_ID_BUCKET, 1)))),
        )
    h = doc_id_from_url(F.col("url"))
    w = Window.partitionBy("bucket").orderBy("urlhash", "url")
    return (
        corpus.withColumn("urlhash", h)
        .withColumn("bucket", F.pmod(F.col("urlhash"), F.lit(n_buckets)))
        .withColumn(
            "doc_id",
            (F.row_number().over(w).cast("long") - 1)
            * F.lit(n_buckets).cast("long")
            + F.col("bucket"),
        )
        .drop("urlhash", "bucket")
    )


def token_stream(docs: DataFrame) -> DataFrame:
    """Default stream: lowercase alphanumeric tokens with 1-based positions.
    ``docs`` must carry (doc_id, segment, text); output
    (doc_id, segment[, doclen], term, tpos).  A ``doclen`` column, when
    present, rides the explode — this is how the pack shuffle receives doc
    lengths without any token-level join (the doc-level join happens before
    the explode)."""
    carry = [c for c in ("doclen",) if c in docs.columns]
    return (
        docs.select(
            "doc_id", "segment", *carry,
            F.posexplode(tokens_col(F.col("text"))).alias("tpos0", "term"),
        )
        .withColumn("tpos", F.col("tpos0") + 1)
        .drop("tpos0")
    )


# closed-form per-doc term count for the default stream: doclen is a pure
# projection (size of the token array), so the doc-stats pass needs no
# explode and no aggregation shuffle (see doc_lengths)
token_stream.doclen_col = lambda t: F.size(tokens_col(t)).cast("long")


def doc_lengths(docs: DataFrame, stream) -> DataFrame:
    """(doc_id, segment, doclen, url) — one row per doc with ≥1 stream term.

    When the stream publishes a closed-form ``doclen_col`` (both built-in
    streams do: token count = size(token array); k-gram count =
    max(len−k+1, 0)), doclen is a pure per-row projection — no explode and
    no aggregation shuffle at all.  Zero-term docs are dropped either way:
    the exploded fallback never emits rows for them, and the fast path
    filters doclen > 0 to match (NULL text → NULL doclen → dropped too).
    doclen is cast to long so the parquet schema is byte-identical to the
    fallback's count(*) column across resumes and generation appends."""
    dl_col = getattr(stream, "doclen_col", None)
    if dl_col is not None:
        return docs.select(
            "doc_id", "segment",
            dl_col(F.col("text")).alias("doclen"), "url",
        ).where(F.col("doclen") > 0)
    return (
        stream(docs)
        .groupBy("doc_id", "segment")
        .agg(F.count("*").alias("doclen"))
        .join(docs.select("doc_id", "url"), "doc_id")
    )


# immutable format parameters: resuming with different values would mislabel
# the already-written segments (ADVICE r01).  "format" is included so an
# index written by an older on-disk layout refuses to resume instead of
# mixing partition layouts (ADVICE r02)
_IMMUTABLE_META = (
    "n_segments", "block_size", "tokenizer", "positions", "unit", "format",
)


def _clean_stale_index(paths: IndexPaths) -> None:
    """Non-resume rebuild over an existing index dir: dynamic partition
    overwrite only rewrites TOUCHED partitions, so stale segments (or an
    older layout, e.g. v3's segment=* vs v4's generation=/segment=) would
    survive a plain rebuild-in-place.  resume=False therefore deletes every
    derived artifact first (ADVICE r02).  The gram-index side tables
    (short_stats, tails) are included: a rebuild only dynamically overwrites
    generation=0, so generation>=1 partitions left by a previously-appended
    index would survive and be summed into short-pattern counts (ADVICE
    r03).  The docs table and tombstones go too: a rebuild whose corpus
    already carries doc_id skips the docs write, so a surviving docs
    parquet from the PREVIOUS corpus would feed build_gram_index's
    tails/short_stats (and stale tombstones would mask unrelated fresh
    doc_ids)."""
    import shutil

    for d in (paths.postings, paths.doc_stats, paths.term_stats,
              paths.manifest_dir,
              os.path.join(paths.root, "docs"),
              os.path.join(paths.root, "tombstones"),
              os.path.join(paths.root, "short_stats"),
              os.path.join(paths.root, "tails")):
        shutil.rmtree(d, ignore_errors=True)
    if os.path.exists(paths.meta):
        os.remove(paths.meta)


def _read_meta(paths: IndexPaths) -> dict:
    if not os.path.exists(paths.meta):
        return {}
    with open(paths.meta) as fh:
        return json.load(fh)


def _format_meta(*, n_segments: int, block_size: int, positions: bool,
                 unit: str) -> dict:
    """The ``_IMMUTABLE_META`` values of an index built with these
    parameters by this version."""
    return {
        "n_segments": n_segments, "block_size": block_size,
        "tokenizer": TOKEN_SPLIT_REGEX if unit == "token" else unit,
        "positions": positions, "unit": unit, "format": FORMAT_VERSION,
    }


def _validate_resume_meta(paths: IndexPaths, new_meta: dict) -> None:
    """Refuse to write into an index whose immutable format parameters
    differ from ``new_meta``'s (a resumed build or an appended generation
    would otherwise mix two layouts)."""
    old = _read_meta(paths)
    for key in _IMMUTABLE_META:
        if key in old and old[key] != new_meta[key]:
            raise ValueError(
                f"index at {paths.root} has immutable format parameter "
                f"{key}={old[key]!r}, caller passed {new_meta[key]!r} — "
                "rebuild with resume=False or match the original parameters"
            )


def _write_postings(spark: SparkSession, docs: DataFrame, paths: IndexPaths,
                    generation: int, *, stream, positions: bool, unit: str,
                    n_segments: int, block_size: int,
                    shuffle_partitions: int) -> None:
    """Pass B of build_index and streaming.append_generation: ``docs``
    (doc_id, segment, text) → stream → ONE wide shuffle → the aggregating
    packer → the ``(generation, segment)`` partitions of the postings
    table (dynamic overwrite, so a replay rewrites only its own).

    The dl stream is packed iff ``unit == "token"``: BM25 is its only
    reader.  There ``doclen`` joins onto the DOCUMENT rows (broadcast
    under the autoBroadcastJoinThreshold; sort-merge co-partitioned on
    doc_id at cluster scale) and rides the explode, so no token-level
    join ever runs."""
    carry = []
    if unit == "token":
        doclen = spark.read.parquet(paths.doc_stats).select("doc_id", "doclen")
        docs, carry = docs.join(doclen, "doc_id"), ["doclen"]
    keys = ["segment", "term", "doc_id"]
    rows = stream(docs).select(*keys, *carry, *(["tpos"] if positions else []))
    n_buckets = kernel_tasks(spark, n_segments)
    if positions:
        # positional builds route the ONE wide shuffle by segment: each
        # pack task holds whole segments (the sorted occurrence rows are
        # themselves the position stream — there is no aggregation to
        # lose), and the write emits n_segments well-sized files.
        pack_in = route(rows, "segment", n_buckets).sortWithinPartitions(
            *keys, "tpos"
        )
    else:
        # non-positional builds keep the agg-first shape: raw occurrences
        # cross the ONE (segment, term) exchange, tf aggregates JVM-side
        # behind it (subset-partitioning reuse — no second exchange), and
        # the Arrow hop ships one row per POSTING.  Routing the raw rows
        # with in-packer aggregation instead was ~8% faster at local[1]
        # but ~10% SLOWER at local[4] (1-vs-4 A/B on the 240k bench
        # corpus): the agg reduces bytes BEFORE the sort and the
        # JVM→Python hop (guide §2.3), which is what scales on a
        # bandwidth-limited host.
        pack_in = (
            rows.repartition(shuffle_partitions, "segment", "term")
            .groupBy(*keys)
            .agg(F.count("*").alias("tf"), *(F.first(c).alias(c) for c in carry))
            .sortWithinPartitions(*keys)
        )
    packed = pack_in.mapInPandas(
        _pack_map_in_pandas(block_size, getattr(stream, "term_decode", None)),
        schema=POSTINGS_SCHEMA,
    ).withColumn("generation", F.lit(generation))
    if not positions:
        # file-count discipline WITHOUT giving up the agg: route the PACKED
        # rows (tiny — the compressed index itself) by segment so the write
        # emits n_segments files instead of partitions × n_segments small
        # ones (guide §6)
        packed = route(packed, "segment", n_buckets)
    packed.write.mode("overwrite").partitionBy("generation", "segment").parquet(
        paths.postings
    )


def _write_term_stats(spark: SparkSession, paths: IndexPaths) -> None:
    """Global ``(term, df, cf)`` over every generation — a vocab-sized
    aggregation of the postings rows."""
    (
        spark.read.parquet(paths.postings)
        .groupBy("term")
        .agg(F.sum("df_seg").alias("df"), F.sum("cf_seg").alias("cf"))
        .write.mode("overwrite")
        .parquet(paths.term_stats)
    )


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    *,
    n_segments: int = 32,
    block_size: int = BLOCK_SIZE_DEFAULT,
    k1: float | None = None,
    b: float | None = None,
    resume: bool = True,
    segment_groups: int = 1,
    build_id: str | None = None,
    shuffle_partitions: int | None = None,
    positions: bool = False,
    stream=None,
    unit: str = "token",
) -> IndexPaths:
    """Build (or resume) the inverted index for ``corpus`` under ``out_dir``.

    ``segment_groups`` > 1 splits the build into that many independent jobs
    (each covering a slice of segments); a killed build resumes by skipping
    every segment whose manifest is already present.  ``positions=True``
    additionally packs a delta-gapped stream of 1-based token positions per
    posting (the reference's occurrence positions, utils/interface.h:66),
    enabling index-side positional phrase verification at ~1-2 extra
    bytes/occurrence.  ``stream`` overrides the token stream (substring.py
    passes a character k-gram stream; ``unit`` labels it in the meta).
    """
    paths = IndexPaths(out_dir)
    if not resume:
        _clean_stale_index(paths)
    os.makedirs(paths.manifest_dir, exist_ok=True)
    build_id = build_id or f"build-{int(time.time())}"
    # per-phase wall clock, recorded in meta (build_index.c:62-64 analog)
    t_build0 = time.monotonic()
    phase_s: dict[str, float] = {}

    def _phase(name: str, t0: float) -> None:
        phase_s[name] = round(time.monotonic() - t0, 3)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    sp = shuffle_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    stream = stream or token_stream

    corpus_bytes: int | None = None
    if "doc_id" not in corpus.columns:
        # materialize assigned IDs ONCE — the rank-window would otherwise be
        # recomputed by every downstream stage (and the docs table is needed
        # for resume + display/extract anyway).  Text bytes are observed on
        # this write (no separate corpus scan — serial-fraction discipline).
        docs_path = os.path.join(out_dir, "docs")
        if not (resume and os.path.exists(os.path.join(docs_path, "_SUCCESS"))):
            t0 = time.monotonic()
            obs_docs = Observation("docs_stats")
            (
                prepare_corpus(corpus)
                .select("doc_id", "url", "text")
                .observe(obs_docs, F.sum(F.octet_length("text")).alias("bytes"))
                .repartition(sp)
                .write.mode("overwrite")
                .parquet(docs_path)
            )
            corpus_bytes = int(obs_docs.get["bytes"] or 0)
            _phase("assign_ids_write_docs", t0)
        corpus = spark.read.parquet(docs_path)

    # a resume must not silently reset a custom-k1/b index back to the
    # defaults, nor drop keys other writers added (tails/short_grams from
    # the gram builder, generations from streaming appends) — inherit the
    # prior meta and overwrite only what this build recomputes (same
    # contract as streaming.append_generation)
    old_meta = _read_meta(paths) if resume else {}
    meta = {
        **old_meta, "build_id": build_id,
        "k1": float(old_meta.get("k1", K1_DEFAULT)) if k1 is None else k1,
        "b": float(old_meta.get("b", B_DEFAULT)) if b is None else b,
        **_format_meta(n_segments=n_segments, block_size=block_size,
                       positions=positions, unit=unit),
    }
    if resume:
        _validate_resume_meta(paths, meta)

    # segment is ALWAYS pmod(doc_id, n_segments) — never trust an incoming
    # segment column, whose modulus may differ
    docs = corpus.select("doc_id", "url", "text").withColumn(
        "segment", F.pmod(F.col("doc_id"), F.lit(n_segments)).cast("int")
    )
    # decouple parallelism from the source's file-split count: a small or
    # well-compressed corpus can arrive as a handful of splits, capping every
    # downstream stage below the cluster's width
    if docs.rdd.getNumPartitions() < sp:
        docs = docs.repartition(sp)

    done = {
        int(f.split("_")[1].split(".")[0])
        for f in os.listdir(paths.manifest_dir)
        if f.startswith("segment_")
    }
    if not resume:
        done = set()
    todo_all = [s for s in range(n_segments) if s not in done]
    stats_ready = os.path.exists(paths.meta) and os.path.exists(
        os.path.join(paths.doc_stats, "_SUCCESS")
    )

    # ---- pass A: doc stats ------------------------------------------------
    # doclen via doc_lengths: a pure projection for the built-in streams
    # (no explode, no aggregation shuffle); exploded + map-side-combined
    # fallback for custom streams (that shuffle moves ~one row per DOCUMENT,
    # not per token).  The pack pass below re-tokenizes — a deliberate trade
    # measured in r02: an aggregate-once-then-persist pipeline costs two
    # wide token-level materializations (persist write+read) plus a second
    # full shuffle, all memory-bandwidth-bound; tokenization is CPU-bound
    # and scales.
    need_stats = not (resume and stats_ready)
    if need_stats:
        t0 = time.monotonic()
        obs_ds = Observation("doclen_stats")
        doc_stats = (
            doc_lengths(docs, stream)
            .withColumn("generation", F.lit(0))
            .observe(
                obs_ds,
                F.count(F.lit(1)).alias("n"), F.sum("doclen").alias("s"),
            )
        )
        doc_stats.write.mode("overwrite").partitionBy("generation").parquet(
            paths.doc_stats
        )
        n_docs, sum_dl = int(obs_ds.get["n"]), int(obs_ds.get["s"])
        _phase("tokenize_doc_stats", t0)
    else:
        n_docs, sum_dl = (
            spark.read.parquet(paths.doc_stats)
            .agg(F.count("*").alias("n"), F.sum("doclen").alias("s"))
            .first()
        )
    avgdl = float(sum_dl) / float(n_docs)
    # corpus_bytes: the denominator of the reference's size report (index
    # bytes as % of text, utils/build_index.c:66-68) — observed during the
    # docs write above; falls back to prior meta, then one pruned scan
    if corpus_bytes is None:
        corpus_bytes = old_meta.get("corpus_bytes")
    if corpus_bytes is None:
        corpus_bytes = int(docs.agg(F.sum(F.octet_length("text"))).first()[0] or 0)
    meta.update(
        {"n_docs": int(n_docs), "avgdl": avgdl, "n_tokens": int(sum_dl),
         "corpus_bytes": corpus_bytes}
    )
    with open(paths.meta, "w") as fh:
        json.dump(meta, fh, indent=1)

    # ---- pass B: postings, segment-group at a time ------------------------
    groups: list[list[int]] = [
        [s for s in todo_all if s % segment_groups == g]
        for g in range(segment_groups)
    ]
    t0 = time.monotonic()
    for todo in groups:
        if not todo:
            continue
        scope = docs if len(todo) == n_segments else docs.where(
            F.col("segment").isin([int(s) for s in todo])
        )
        _write_postings(
            spark, scope, paths, 0, stream=stream, positions=positions,
            unit=unit, n_segments=n_segments, block_size=block_size,
            shuffle_partitions=sp,
        )
        # per-segment lineage + metrics manifests (north_rule resumability);
        # metadata-only aggregation over the freshly written partitions
        metrics = (
            spark.read.parquet(paths.postings)
            .where(F.col("segment").isin([int(s) for s in todo]))
            .groupBy("segment")
            .agg(
                F.count("*").alias("n_terms"),
                F.sum("df_seg").alias("n_postings"),
                (F.sum("doc_bytes") + F.sum("tf_bytes") + F.sum("dl_bytes")
                 + F.sum("pos_bytes")).alias("all_bytes"),
            )
            .collect()
        )
        by_seg = {r["segment"]: r for r in metrics}
        for s in todo:
            r = by_seg.get(s)
            manifest = {
                "segment": int(s), "build_id": build_id,
                "runs_merged": int(sp),
                "n_terms": int(r["n_terms"]) if r else 0,
                "postings_emitted": int(r["n_postings"]) if r else 0,
                "bytes_compressed": int(r["all_bytes"]) if r else 0,
                "completed_at": time.time(),
            }
            with open(paths.manifest(s), "w") as fh:
                json.dump(manifest, fh)
    _phase("postings_shuffle_pack_write", t0)

    # ---- global term stats (vocab-sized; one small agg over postings) -----
    t0 = time.monotonic()
    _write_term_stats(spark, paths)
    _phase("term_stats", t0)

    # ---- compression accounting (utils/build_index.c:62-68 analog) -------
    # summed from the per-segment manifests (metadata, no extra Spark job)
    index_bytes = 0
    for s in range(n_segments):
        if os.path.exists(paths.manifest(s)):
            with open(paths.manifest(s)) as fh:
                index_bytes += int(json.load(fh).get("bytes_compressed", 0))
    meta["index_bytes"] = index_bytes
    meta["bits_per_token"] = round(index_bytes * 8.0 / max(int(sum_dl), 1), 4)
    meta["index_pct_of_corpus"] = round(
        index_bytes * 100.0 / max(corpus_bytes, 1), 4
    )
    phase_s["total"] = round(time.monotonic() - t_build0, 3)
    meta["phase_seconds"] = phase_s
    with open(paths.meta, "w") as fh:
        json.dump(meta, fh, indent=1)
    return paths
