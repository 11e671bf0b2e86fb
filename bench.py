"""Headline benchmark and the repo's one op registry.

    python bench.py                     # every op in OPS → one JSON line
    python bench.py <op> [<op> ...]     # only those ops, same definitions
    python bench.py --corpus DIR --nq 2000 --reps 3 build_index bm25_batch

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "cpus": N, "n_docs": ...,
   "build_docs_per_sec": ..., "bm25_queries_per_sec": ..., "op_reps": ...,
   "diag": {...}}
The two rates are null when their op did not run.

Env: SPARK_GRAFT_SF_DIR (default ``tools.measure.SF_DIR``, the sf0.1 test
data) and SPARK_GRAFT_CPUS (default: the host's CPUs,
``session.DEFAULT_CPUS``).  tools/measure.py runs this file for the
load-gated suite and the N-vs-4N scaling levels.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time
from functools import cached_property
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from full_text_index_spark import streaming as ST  # noqa: E402
from full_text_index_spark.approx import approx_count  # noqa: E402
from full_text_index_spark.build import build_index, prepare_corpus  # noqa: E402
from full_text_index_spark.functions import dedup as D  # noqa: E402
from full_text_index_spark.functions import pipeline as PL  # noqa: E402
from full_text_index_spark.functions import similarity as S  # noqa: E402
from full_text_index_spark.functions import textstats as TS  # noqa: E402
from full_text_index_spark.functions.asof import asof_join  # noqa: E402
from full_text_index_spark.functions.components import dedup_clusters  # noqa: E402
from full_text_index_spark.functions.sampling import (  # noqa: E402
    group_quota_sample,
    hash_split,
)
from full_text_index_spark.index import InvertedIndex  # noqa: E402
from full_text_index_spark.query import bm25_topk  # noqa: E402
from full_text_index_spark.regex_search import regex_count  # noqa: E402
from full_text_index_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402
from full_text_index_spark.substring import (  # noqa: E402
    build_gram_index,
    substring_count,
)
from tools.measure import SF_DIR, load1  # noqa: E402

# fixed across parallelism levels, so the N-vs-4N scaling runs build the
# identical index layout
N_SEGMENTS = 32
BLOCK_SIZE = 128


def _query_batch(spark, docs, n):
    """Deterministic distinct query batch: terms drawn from the corpus
    vocabulary (genpatterns analog — guaranteed hits), mixed lengths."""
    from full_text_index_spark.tokenizer import tokens_col

    # top-4096 terms by df, deterministic tie-break: the stride sampling
    # below then mixes head terms (df ≈ n_docs) with tail terms — the df
    # spectrum a real log has, instead of head-only worst cases
    vocab = [
        r["term"]
        for r in docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term").count()
        .orderBy(F.desc("count"), "term").limit(4096).collect()
    ]
    batch, qid = [], 0
    v = len(vocab)
    while len(batch) < n:
        i = (qid * 7) % v
        n_terms = 1 + qid % 3
        terms = [vocab[(i + 13 * t) % v] for t in range(n_terms)]
        batch.append((qid, sorted(set(terms))))
        qid += 1
    return spark.createDataFrame(batch, "qid long, terms array<string>")


class Fixtures:
    """The inputs ops share, each built on first use.  ``run_op`` builds an
    op's ``uses`` before its timer starts; the two index roots are built
    inside the timer only by the build ops that measure them."""

    def __init__(self, spark, sf_dir: str, corpus_dir: str | None,
                 nq: int, reps: int):
        self.spark, self.sf_dir, self.corpus_dir = spark, sf_dir, corpus_dir
        self.nq, self.reps = nq, reps
        self.tmp = tempfile.mkdtemp(prefix="fti_bench_")
        self.diag: dict[str, object] = {}

    @cached_property
    def docs(self):
        # --corpus: a compute-dominated generated corpus (FIXTURES.md bench
        # tier) for a meaningful N-vs-4N measurement
        if self.corpus_dir:
            docs = prepare_corpus(self.spark.read.parquet(self.corpus_dir))
        else:
            docs = self.spark.read.parquet(
                os.path.join(self.sf_dir, "documents.parquet")
            ).withColumn(
                "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
            )
        return docs.cache()

    def _sf_table(self, name: str):
        path = os.path.join(self.sf_dir, f"{name}.parquet")
        return self.spark.read.parquet(path) if os.path.exists(path) else None

    @cached_property
    def emb(self):
        return self._sf_table("embeddings")

    @cached_property
    def events(self):
        return self._sf_table("events")

    @cached_property
    def index_root(self) -> str:
        root = os.path.join(self.tmp, "tokens")
        build_index(self.spark, self.docs, root,
                    n_segments=N_SEGMENTS, block_size=BLOCK_SIZE)
        return root

    @cached_property
    def index(self):
        return InvertedIndex.open(self.spark, self.index_root)

    @cached_property
    def queries(self):
        return _query_batch(self.spark, self.docs, self.nq)

    @cached_property
    def gram_root(self) -> str:
        root = os.path.join(self.tmp, "grams")
        build_gram_index(self.spark, self.docs, root, k=3,
                         n_segments=N_SEGMENTS)
        return root

    @cached_property
    def grams(self):
        return InvertedIndex.open(self.spark, self.gram_root)

    @cached_property
    def sub_patterns(self) -> list[str]:
        first = self.docs.orderBy("doc_id").select("text").first()["text"] or ""
        pats = sorted({
            first[i * 7: i * 7 + 6 + i % 4]
            for i in range(20)
            if len(first) >= i * 7 + 9
        })
        # a corpus whose first doc is tiny/NULL must not crash the suite —
        # fixed probes (mostly absent is fine; the timing still exercises
        # the full plan)
        return pats or ["the ", "and the", "zzzqzzq"]

    @cached_property
    def regex_patterns(self) -> list[str]:
        # literal-pruned, alternation, scan-fallback and absent patterns —
        # one batch through every regex routing.  Corpus fragments are
        # escaped: raw text containing '(', '[' or '\\' would otherwise make
        # a pattern malformed
        p = self.sub_patterns
        return sorted(
            {f"{re.escape(s[:4])}[a-z ]*{re.escape(s[-2:])}" for s in p[:6]}
        ) + ["(%s|%s)" % (re.escape(p[0][:5]), re.escape(p[-1][:5])),
             "[0-9]{6,}", "zzzqzz+q"]

    @cached_property
    def approx_patterns(self) -> list[str]:
        # one-deletion variants of true substrings + an absent pattern —
        # the q-gram-filtered approximate-match path
        return sorted(
            {s[:3] + s[4:] for s in self.sub_patterns[:6] if len(s) > 5}
        ) + ["zzzzqqqqzz"]


class Op(NamedTuple):
    action: Callable[[Fixtures], object]   # the timed call
    # fixtures built before the timer starts; an op whose fixture is None
    # (the table is absent from the sf directory) is skipped
    uses: tuple[str, ...] = ("docs",)
    reps: int | None = None                # None: the run's --reps
    # ops that persist() internally (the LSH band table) would otherwise
    # hit Spark's CacheManager plan-match on rep 2 (and on any later op
    # sharing the sub-plan), timing a cache read instead of the op: clear
    # the cache before every rep.  That also drops the docs cache, which is
    # re-materialized before the timer so later ops don't time corpus I/O
    fresh_cache: bool = False


def _substring_batch(fx: Fixtures):
    # the count path's plan record holds driver-side values only (it adds
    # no job), so every rep records it
    stats = fx.diag.setdefault("substring_plan", {})
    return substring_count(fx.grams, fx.sub_patterns, stats=stats).collect()


def _asof(fx: Fixtures):
    ev = fx.events
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    return asof_join(clicks, purch, right_cols=["value"]).count()


def _sampling(fx: Fixtures):
    docs = fx.docs
    hash_split(docs, entrymod.SPLIT_WEIGHTS).count()
    gcol = "source" if "source" in docs.columns else "doc_id"
    return group_quota_sample(docs, gcol, entrymod.QUOTA_PER_SOURCE).count()


# name → op, in the order the JSON line reports them
OPS: dict[str, Op] = {
    "build_index": Op(lambda fx: fx.index_root, reps=1),
    "bm25_batch": Op(lambda fx: bm25_topk(fx.index, fx.queries, k=10).collect(),
                     uses=("index", "queries")),
    "grams_build": Op(lambda fx: fx.gram_root, reps=1),
    "substring_batch": Op(_substring_batch, uses=("grams", "sub_patterns")),
    "substring_short_batch": Op(
        lambda fx: substring_count(
            fx.grams, sorted({p[:2] for p in fx.sub_patterns} | {"zq"})
        ).collect(),
        uses=("grams", "sub_patterns")),
    "regex_batch": Op(
        lambda fx: regex_count(fx.grams, fx.docs, fx.regex_patterns).collect(),
        uses=("docs", "grams", "regex_patterns")),
    "approx_batch": Op(
        lambda fx: approx_count(fx.grams, fx.docs, fx.approx_patterns,
                                max_edits=1).collect(),
        uses=("docs", "grams", "approx_patterns")),
    "dedup_exact": Op(lambda fx: D.exact_dedup(fx.docs).count()),
    "dedup_minhash_pairs": Op(lambda fx: D.minhash_lsh_pairs(fx.docs).count(),
                              fresh_cache=True),
    "dedup_simhash": Op(lambda fx: D.simhash(fx.docs).count()),
    "dedup_embedding_pairs": Op(
        lambda fx: S.embedding_near_pairs(
            fx.emb, threshold=entrymod.EMB_NEARDUP_THRESHOLD).count(),
        uses=("emb",), fresh_cache=True),
    "ann_cosine_topk": Op(
        lambda fx: S.cosine_topk(fx.emb, entrymod.ANN_QUERY_IDS, k=10).collect(),
        uses=("emb",)),
    "ann_lsh_topk": Op(
        lambda fx: S.lsh_cosine_topk(fx.emb, entrymod.ANN_QUERY_IDS, k=10).collect(),
        uses=("emb",), fresh_cache=True),
    "ann_ivf_topk": Op(
        lambda fx: S.ivf_cosine_topk(fx.emb, entrymod.ANN_QUERY_IDS, k=10).collect(),
        uses=("emb",), fresh_cache=True),
    "doc_fingerprint": Op(lambda fx: TS.doc_fingerprint(fx.docs).count()),
    "quality_score": Op(lambda fx: TS.quality_score(fx.docs).count()),
    "curation_pipeline": Op(lambda fx: PL.curate(fx.docs).count()),
    "windowed_events": Op(
        lambda fx: ST.windowed_event_counts(fx.events).count(),
        uses=("events",)),
    "user_sessions": Op(lambda fx: ST.user_sessions(fx.events).count(),
                        uses=("events",)),
    "asof_join": Op(_asof, uses=("events",)),
    "range_join": Op(
        lambda fx: entrymod.queries()["range_count_clicks"](
            fx.spark, fx.sf_dir).count(),
        uses=("events",)),
    "dedup_components": Op(
        lambda fx: dedup_clusters(fx.docs, D.minhash_lsh_pairs(fx.docs)).count(),
        fresh_cache=True),
    "sampling": Op(_sampling),
}

# ops whose diag records the host load around them, so one slow run tells
# a host burst from a plan change
_LOAD_DIAG = {"build_index": "build", "substring_batch": "substring"}


def run_op(fx: Fixtures, name: str) -> float | None:
    """Best-of-reps seconds of one op, or None when its table is absent."""
    op = OPS[name]
    if any(getattr(fx, u) is None for u in op.uses):
        return None
    tag = _LOAD_DIAG.get(name)
    if tag:
        fx.diag[f"load_before_{tag}"] = load1()
    sc = fx.spark.sparkContext
    best = None
    for _ in range(max(1, op.reps or fx.reps)):
        if op.fresh_cache:
            fx.spark.catalog.clearCache()
            fx.docs.cache()
            fx.docs.count()
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        op.action(fx)
        dt = time.perf_counter() - t0
        sc.setJobDescription(None)
        best = dt if best is None else min(best, dt)
    if tag:
        fx.diag[f"load_after_{tag}"] = load1()
    return round(best, 3)


def warm_up(fx: Fixtures) -> None:
    """Untimed: run the build+query path on a 2000-doc slice, so JVM
    whole-stage codegen, Arrow/Python worker spin-up and parquet reader
    init are paid before any timing — per-JVM constants, not per-datum
    work, that a real cluster amortizes over the application lifetime."""
    root = os.path.join(fx.tmp, "warm")
    warm_docs = fx.docs.limit(2000).cache()
    build_index(fx.spark, warm_docs, root,
                n_segments=N_SEGMENTS, block_size=BLOCK_SIZE)
    bm25_topk(InvertedIndex.open(fx.spark, root),
              _query_batch(fx.spark, warm_docs, 8), k=10).collect()
    warm_docs.unpersist()
    shutil.rmtree(root, ignore_errors=True)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Time the headline ops; print one JSON line.")
    ap.add_argument("ops", nargs="*", metavar="op",
                    help="ops to run, in registry order (default: all): "
                    + " ".join(OPS))
    ap.add_argument("--nq", type=int, default=220,
                    help="BM25 batch size (distinct 1-3 term queries)")
    ap.add_argument("--corpus",
                    help="an (url, text, ...) parquet corpus to bench "
                    "instead of the sf documents table")
    ap.add_argument("--reps", type=int, default=2,
                    help="min-of-N runs per op in this JVM (the index "
                    "builds run once)")
    args = ap.parse_args(argv)
    unknown = sorted(set(args.ops) - OPS.keys())
    if unknown:
        ap.error(f"unknown op(s) {unknown}; choose from: {' '.join(OPS)}")

    cpus = DEFAULT_CPUS
    spark = get_spark("fti-bench", cpus=cpus, shuffle_partitions=cpus)
    fx = Fixtures(spark, SF_DIR, args.corpus, args.nq, args.reps)
    timings: dict[str, float] = {}
    try:
        n_docs = fx.docs.count()
        warm_up(fx)
        for name in OPS:
            if args.ops and name not in args.ops:
                continue
            t = run_op(fx, name)
            if t is not None:
                timings[name] = t
    finally:
        shutil.rmtree(fx.tmp, ignore_errors=True)

    def rate(n: int, name: str) -> float | None:
        return round(n / timings[name], 1) if name in timings else None

    print(json.dumps({
        "metric": f"headline suite wall sec (index build + {args.nq}-query "
                  "BM25 batch + dedup/ANN/textstats ops)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": cpus,
        "n_docs": n_docs,
        "build_docs_per_sec": rate(n_docs, "build_index"),
        "bm25_queries_per_sec": rate(args.nq, "bm25_batch"),
        "op_reps": args.reps,
        "diag": fx.diag,
    }))


if __name__ == "__main__":
    main()
