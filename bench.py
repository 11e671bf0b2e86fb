"""Headline benchmark: index build + batched BM25 top-10 + pipeline ops.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "cpus": N,
   "build_docs_per_sec": ..., "bm25_queries_per_sec": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
The N-vs-4N scaling evidence (BASELINE.md §c) is produced by
tools/scaling_bench.py, which runs this file at two parallelism levels.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from full_text_index_spark.build import build_index  # noqa: E402
from full_text_index_spark.functions import dedup as D  # noqa: E402
from full_text_index_spark.functions import similarity as S  # noqa: E402
from full_text_index_spark.functions import pipeline as PL  # noqa: E402
from full_text_index_spark.functions import textstats as TS  # noqa: E402
from full_text_index_spark import streaming as ST  # noqa: E402
from full_text_index_spark.index import InvertedIndex  # noqa: E402
from full_text_index_spark.query import bm25_topk  # noqa: E402
from full_text_index_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

N_BM25_QUERIES = int(os.environ.get("SPARK_GRAFT_NQ", "220"))  # distinct 1-3 term queries


def _query_batch(spark, docs, n=None):
    """Deterministic distinct query batch: terms drawn from the corpus
    vocabulary (genpatterns analog — guaranteed hits), mixed lengths."""
    from full_text_index_spark.tokenizer import tokens_col

    n = n or N_BM25_QUERIES
    # top-4096 terms by df, deterministic tie-break: the stride sampling
    # below then mixes head terms (df ≈ n_docs) with tail terms — the df
    # spectrum a real log has, exercising all three kernel paths (bulk /
    # dense / MaxScore) instead of head-only worst cases
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    # SPARK_GRAFT_CORPUS_DIR: an (url, text, …) parquet corpus to bench the
    # engine on instead of the sf documents table — used by scaling_bench,
    # which needs a compute-dominated corpus (FIXTURES.md bench tier) for a
    # meaningful N-vs-4N measurement
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS_DIR")
    spark = get_spark("fti-bench", cpus=cpus, shuffle_partitions=cpus)

    if corpus_dir:
        from full_text_index_spark.build import prepare_corpus

        docs = prepare_corpus(spark.read.parquet(corpus_dir))
    else:
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).withColumn(
            "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
        )
    docs.cache()
    n_docs = docs.count()
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    emb = spark.read.parquet(emb_path) if os.path.exists(emb_path) else None

    timings: dict[str, float] = {}
    diag: dict[str, object] = {}

    def _load() -> float:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])

    # min-of-N in one JVM for every op except the two index builds
    # (VERDICT r04 #2): the shared host's bandwidth bursts distort single
    # shots; the minimum of two back-to-back runs is the engine's cost and
    # lets ONE driver shot self-adjudicate host-vs-engine.
    op_reps = int(os.environ.get("SPARK_GRAFT_OP_REPS", "2"))

    def timed(name: str, fn, reps: int | None = None,
              fresh_cache: bool = False):
        # fresh_cache: ops that persist() internally (the LSH band table)
        # would otherwise hit Spark's CacheManager plan-match on rep 2 (and
        # on any later op sharing the sub-plan), reporting a cache read
        # instead of the op's cost — clear before every rep for those.
        # clearCache also drops the suite-level docs cache, so it is
        # re-cached and re-materialized OUTSIDE the timed region: without
        # that, every op after the first fresh_cache one re-reads the whole
        # corpus inside its timing and the suite measures I/O, not the op.
        reps = op_reps if reps is None else reps
        out, best = None, None
        for _ in range(max(1, reps)):
            if fresh_cache:
                spark.catalog.clearCache()
                docs.cache()
                docs.count()
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        return out

    # --- index build (docs/sec) -------------------------------------------
    idx_root = tempfile.mkdtemp(prefix="fti_bench_idx_")
    try:
        # n_segments fixed across parallelism levels so the N-vs-4N scaling
        # runs build the identical index layout
        n_segments = int(os.environ.get("SPARK_GRAFT_SEGMENTS", "32"))

        # untimed warmup: run the full build+query path on a tiny slice so
        # JVM whole-stage codegen compilation, Arrow/Python worker spin-up
        # and parquet reader init are paid BEFORE the measured section —
        # they are per-JVM constants, not per-datum work, and a real cluster
        # amortizes them across the application lifetime
        warm_root = tempfile.mkdtemp(prefix="fti_bench_warm_")
        try:
            warm_docs = docs.limit(2000).cache()
            build_index(spark, warm_docs, warm_root,
                        n_segments=n_segments, block_size=128)
            warm_idx = InvertedIndex.open(spark, warm_root)
            bm25_topk(warm_idx, _query_batch(spark, warm_docs, n=8), k=10).collect()
            warm_docs.unpersist()
        finally:
            shutil.rmtree(warm_root, ignore_errors=True)

        diag["load_before_build"] = _load()
        timed(
            "build_index",
            lambda: build_index(
                spark, docs, idx_root, n_segments=n_segments, block_size=128
            ),
            reps=1,  # a build is too heavy to repeat; load sampled instead
        )
        diag["load_after_build"] = _load()
        idx = InvertedIndex.open(spark, idx_root)

        # --- batched BM25 top-10 (queries/sec) ----------------------------
        qdf = _query_batch(spark, docs)
        n_queries = qdf.count()
        q_reps = int(os.environ.get("SPARK_GRAFT_QUERY_REPS", str(op_reps)))
        timed("bm25_batch", lambda: bm25_topk(idx, qdf, k=10).collect(),
              reps=q_reps)

        # --- pipeline operators (skipped in core mode: the N-vs-4N scaling
        # runs measure only build + query throughput) ----------------------
        if os.environ.get("SPARK_GRAFT_BENCH_OPS", "all") != "core":
            # --- substring self-index: build + pattern batch ---------------
            from full_text_index_spark.substring import (
                build_gram_index,
                substring_count,
            )

            first_text = (
                docs.orderBy("doc_id").select("text").first()["text"]
            ) or ""
            sub_patterns = sorted({
                first_text[i * 7: i * 7 + 6 + i % 4]
                for i in range(20)
                if len(first_text) >= i * 7 + 9
            })
            if not sub_patterns:
                # a corpus whose first doc is tiny/NULL must not crash the
                # suite — fall back to fixed probes (mostly absent is fine;
                # the timing still exercises the full plan)
                sub_patterns = ["the ", "and the", "zzzqzzq"]
            gram_root = tempfile.mkdtemp(prefix="fti_bench_grams_")
            try:
                timed(
                    "grams_build",
                    lambda: build_gram_index(
                        spark, docs, gram_root, k=3, n_segments=n_segments
                    ),
                    reps=1,
                )
                gidx = InvertedIndex.open(spark, gram_root)
                # self-diagnosing substring batch (VERDICT r04 #2): emit the
                # cost-based chooser's decision + cf estimates + host load
                # so a slow driver shot proves host-burst vs plan choice
                sub_stats: dict = {}
                sub_rep = [0]

                def _sub_batch():
                    # stats only on rep 1, and only when a second rep exists:
                    # on the rarest plan the hook adds diagnostic jobs
                    # (candidate count, decoded-byte agg), so the min-of-2
                    # keeps an undiagnosed rep as the timing — with
                    # OP_REPS=1 the single timed rep must stay clean instead
                    st = (sub_stats
                          if sub_rep[0] == 0 and op_reps >= 2 else None)
                    sub_rep[0] += 1
                    return substring_count(
                        gidx, sub_patterns, stats=st
                    ).collect()

                diag["load_before_substring"] = _load()
                timed("substring_batch", _sub_batch)
                diag["load_after_substring"] = _load()
                diag["substring_plan"] = sub_stats
                short_pats = sorted({p[:2] for p in sub_patterns} | {"zq"})
                timed(
                    "substring_short_batch",
                    lambda: substring_count(gidx, short_pats).collect(),
                )
                from full_text_index_spark.regex_search import regex_count

                import re as _re

                # literal-pruned, alternation, scan-fallback and absent
                # patterns — one batch through every regex routing.  Corpus
                # fragments are re.escape'd: raw text containing '(', '['
                # or '\\' would otherwise make the pattern malformed and
                # kill the run
                rx_pats = sorted(
                    {f"{_re.escape(p[:4])}[a-z ]*{_re.escape(p[-2:])}"
                     for p in sub_patterns[:6]}
                ) + ["(%s|%s)" % (_re.escape(sub_patterns[0][:5]),
                                  _re.escape(sub_patterns[-1][:5])),
                     "[0-9]{6,}", "zzzqzz+q"]
                timed(
                    "regex_batch",
                    lambda: regex_count(gidx, docs, rx_pats).collect(),
                )
                from full_text_index_spark.approx import approx_count

                # one-deletion variants of true substrings + an absent
                # pattern — the q-gram-filtered approximate-match path
                ax_pats = sorted(
                    {p[:3] + p[4:] for p in sub_patterns[:6] if len(p) > 5}
                ) + ["zzzzqqqqzz"]
                timed(
                    "approx_batch",
                    lambda: approx_count(
                        gidx, docs, ax_pats, max_edits=1
                    ).collect(),
                )
            finally:
                shutil.rmtree(gram_root, ignore_errors=True)
            timed("dedup_exact", lambda: D.exact_dedup(docs).count())
            timed("dedup_minhash_pairs",
                  lambda: D.minhash_lsh_pairs(docs).count(), fresh_cache=True)
            timed("dedup_simhash", lambda: D.simhash(docs).count())
            if emb is not None:  # same guard as events.parquet below
                timed(
                    "dedup_embedding_pairs",
                    lambda: S.embedding_near_pairs(
                        emb, threshold=entrymod.EMB_NEARDUP_THRESHOLD
                    ).count(),
                    fresh_cache=True,
                )
                timed("ann_cosine_topk",
                      lambda: S.cosine_topk(emb, entrymod.ANN_QUERY_IDS, k=10)
                      .collect())
                timed("ann_lsh_topk",
                      lambda: S.lsh_cosine_topk(emb, entrymod.ANN_QUERY_IDS, k=10)
                      .collect(), fresh_cache=True)
                timed("ann_ivf_topk",
                      lambda: S.ivf_cosine_topk(emb, entrymod.ANN_QUERY_IDS, k=10)
                      .collect(), fresh_cache=True)
            timed("doc_fingerprint", lambda: TS.doc_fingerprint(docs).count())
            timed("quality_score", lambda: TS.quality_score(docs).count())
            timed("curation_pipeline", lambda: PL.curate(docs).count())
            ev_path = os.path.join(sf_dir, "events.parquet")
            if os.path.exists(ev_path):
                ev = spark.read.parquet(ev_path)
                timed("windowed_events",
                      lambda: ST.windowed_event_counts(ev).count())
                timed("user_sessions", lambda: ST.user_sessions(ev).count())

                def _asof():
                    from full_text_index_spark.functions.asof import asof_join
                    clicks = ev.where(F.col("event_type") == "click").select(
                        "event_id", "user_id", "ts")
                    purch = ev.where(F.col("event_type") == "purchase").select(
                        "user_id", "ts", "value")
                    return asof_join(clicks, purch, right_cols=["value"]).count()
                timed("asof_join", _asof)
                timed(
                    "range_join",
                    lambda: entrymod.queries()["range_count_clicks"](
                        spark, sf_dir
                    ).count(),
                )

            def _components():
                from full_text_index_spark.functions.components import (
                    dedup_clusters,
                )
                return dedup_clusters(docs, D.minhash_lsh_pairs(docs)).count()
            timed("dedup_components", _components, fresh_cache=True)

            def _sampling():
                from full_text_index_spark.functions.sampling import (
                    group_quota_sample,
                    hash_split,
                )
                hash_split(docs, entrymod.SPLIT_WEIGHTS).count()
                gcol = "source" if "source" in docs.columns else "doc_id"
                return group_quota_sample(
                    docs, gcol, entrymod.QUOTA_PER_SOURCE
                ).count()
            timed("sampling", _sampling)
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": f"headline suite wall sec (index build + {n_queries}-query "
                          "BM25 batch + dedup/ANN/textstats ops)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
                "cpus": cpus,
                "n_docs": n_docs,
                "build_docs_per_sec": round(n_docs / timings["build_index"], 1),
                "bm25_queries_per_sec": round(n_queries / timings["bm25_batch"], 1),
                "op_reps": op_reps,
                "diag": diag,
            }
        )
    )


if __name__ == "__main__":
    main()
