"""Isolated per-op benchmark (guide §1.4): times a SELECTED subset of the
headline-suite operators with the same actions bench.py uses, so a single op
can be iterated on without paying the whole suite.  bench.py itself is the
FROZEN driver-facing benchmark; this file exists so optimization evidence
can be gathered per-op (OPTIMIZATION_r06.md cites these numbers).

Usage:   python bench_extra.py <op> [<op> ...]
Env:     SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
         SPARK_GRAFT_CPUS   (default 32)
         SPARK_GRAFT_OP_REPS (default 2; min-of-N like bench.py)

Ops: build_index grams_build bm25_batch substring_batch substring_short_batch
     regex_batch approx_batch dedup_exact dedup_minhash_pairs dedup_simhash
     dedup_embedding_pairs ann_cosine_topk ann_lsh_topk ann_ivf_topk
     doc_fingerprint quality_score curation_pipeline windowed_events
     user_sessions asof_join range_join dedup_components sampling
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
from bench import _query_batch  # noqa: E402
from full_text_index_spark.build import build_index  # noqa: E402
from full_text_index_spark.functions import dedup as D  # noqa: E402
from full_text_index_spark.functions import pipeline as PL  # noqa: E402
from full_text_index_spark.functions import similarity as S  # noqa: E402
from full_text_index_spark.functions import textstats as TS  # noqa: E402
from full_text_index_spark import streaming as ST  # noqa: E402
from full_text_index_spark.index import InvertedIndex  # noqa: E402
from full_text_index_spark.query import bm25_topk  # noqa: E402
from full_text_index_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402


def main() -> None:
    ops = sys.argv[1:]
    if not ops:
        print("usage: python bench_extra.py <op> [...]", file=sys.stderr)
        raise SystemExit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    op_reps = int(os.environ.get("SPARK_GRAFT_OP_REPS", "2"))
    spark = get_spark("fti-bench-extra", cpus=cpus, shuffle_partitions=cpus)

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    )
    docs.cache()
    n_docs = docs.count()
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    emb = spark.read.parquet(emb_path) if os.path.exists(emb_path) else None

    timings: dict[str, float] = {}

    def timed(name, fn, reps=None, fresh_cache=False):
        reps = op_reps if reps is None else reps
        best = None
        for _ in range(max(1, reps)):
            if fresh_cache:
                spark.catalog.clearCache()
                docs.cache()
                docs.count()
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    n_segments = int(os.environ.get("SPARK_GRAFT_SEGMENTS", "32"))

    index_ops = {"build_index", "bm25_batch"}
    gram_ops = {"grams_build", "substring_batch", "substring_short_batch",
                "regex_batch", "approx_batch"}
    need_index = bool(index_ops & set(ops))
    need_grams = bool(gram_ops & set(ops))

    # warmup: pay JVM codegen + Arrow/python worker spin-up before timing
    warm_root = tempfile.mkdtemp(prefix="fti_extra_warm_")
    try:
        warm_docs = docs.limit(2000).cache()
        build_index(spark, warm_docs, warm_root, n_segments=n_segments,
                    block_size=128)
        warm_idx = InvertedIndex.open(spark, warm_root)
        bm25_topk(warm_idx, _query_batch(spark, warm_docs, n=8), k=10).collect()
        warm_docs.unpersist()
    finally:
        shutil.rmtree(warm_root, ignore_errors=True)

    idx_root = tempfile.mkdtemp(prefix="fti_extra_idx_")
    gram_root = tempfile.mkdtemp(prefix="fti_extra_grams_")
    try:
        if need_index:
            if "build_index" in ops:
                timed("build_index",
                      lambda: build_index(spark, docs, idx_root,
                                          n_segments=n_segments, block_size=128),
                      reps=1)
            else:
                build_index(spark, docs, idx_root, n_segments=n_segments,
                            block_size=128)
            idx = InvertedIndex.open(spark, idx_root)
            if "bm25_batch" in ops:
                qdf = _query_batch(spark, docs)
                qdf.count()
                timed("bm25_batch", lambda: bm25_topk(idx, qdf, k=10).collect())
        if need_grams:
            from full_text_index_spark.substring import (
                build_gram_index, substring_count,
            )
            if "grams_build" in ops:
                timed("grams_build",
                      lambda: build_gram_index(spark, docs, gram_root, k=3,
                                               n_segments=n_segments),
                      reps=1)
            else:
                build_gram_index(spark, docs, gram_root, k=3,
                                 n_segments=n_segments)
            gidx = InvertedIndex.open(spark, gram_root)
            first_text = (docs.orderBy("doc_id").select("text").first()["text"]) or ""
            sub_patterns = sorted({
                first_text[i * 7: i * 7 + 6 + i % 4]
                for i in range(20) if len(first_text) >= i * 7 + 9
            }) or ["the ", "and the", "zzzqzzq"]
            if "substring_batch" in ops:
                st: dict = {}
                timed("substring_batch",
                      lambda: substring_count(gidx, sub_patterns).collect())
            if "substring_short_batch" in ops:
                short_pats = sorted({p[:2] for p in sub_patterns} | {"zq"})
                timed("substring_short_batch",
                      lambda: substring_count(gidx, short_pats).collect())
            if "regex_batch" in ops:
                import re as _re
                from full_text_index_spark.regex_search import regex_count
                rx_pats = sorted(
                    {f"{_re.escape(p[:4])}[a-z ]*{_re.escape(p[-2:])}"
                     for p in sub_patterns[:6]}
                ) + ["(%s|%s)" % (_re.escape(sub_patterns[0][:5]),
                                  _re.escape(sub_patterns[-1][:5])),
                     "[0-9]{6,}", "zzzqzz+q"]
                timed("regex_batch",
                      lambda: regex_count(gidx, docs, rx_pats).collect())
            if "approx_batch" in ops:
                from full_text_index_spark.approx import approx_count
                ax_pats = sorted(
                    {p[:3] + p[4:] for p in sub_patterns[:6] if len(p) > 5}
                ) + ["zzzzqqqqzz"]
                timed("approx_batch",
                      lambda: approx_count(gidx, docs, ax_pats,
                                           max_edits=1).collect())
        if "dedup_exact" in ops:
            timed("dedup_exact", lambda: D.exact_dedup(docs).count())
        if "dedup_minhash_pairs" in ops:
            timed("dedup_minhash_pairs",
                  lambda: D.minhash_lsh_pairs(docs).count(), fresh_cache=True)
        if "dedup_simhash" in ops:
            timed("dedup_simhash", lambda: D.simhash(docs).count())
        if emb is not None:
            if "dedup_embedding_pairs" in ops:
                timed("dedup_embedding_pairs",
                      lambda: S.embedding_near_pairs(
                          emb, threshold=entrymod.EMB_NEARDUP_THRESHOLD).count(),
                      fresh_cache=True)
            if "ann_cosine_topk" in ops:
                timed("ann_cosine_topk",
                      lambda: S.cosine_topk(emb, entrymod.ANN_QUERY_IDS,
                                            k=10).collect())
            if "ann_lsh_topk" in ops:
                timed("ann_lsh_topk",
                      lambda: S.lsh_cosine_topk(emb, entrymod.ANN_QUERY_IDS,
                                                k=10).collect(),
                      fresh_cache=True)
            if "ann_ivf_topk" in ops:
                timed("ann_ivf_topk",
                      lambda: S.ivf_cosine_topk(emb, entrymod.ANN_QUERY_IDS,
                                                k=10).collect(),
                      fresh_cache=True)
        if "doc_fingerprint" in ops:
            timed("doc_fingerprint", lambda: TS.doc_fingerprint(docs).count())
        if "quality_score" in ops:
            timed("quality_score", lambda: TS.quality_score(docs).count())
        if "curation_pipeline" in ops:
            timed("curation_pipeline", lambda: PL.curate(docs).count())
        ev_path = os.path.join(sf_dir, "events.parquet")
        if os.path.exists(ev_path):
            ev = spark.read.parquet(ev_path)
            if "windowed_events" in ops:
                timed("windowed_events",
                      lambda: ST.windowed_event_counts(ev).count())
            if "user_sessions" in ops:
                timed("user_sessions", lambda: ST.user_sessions(ev).count())
            if "asof_join" in ops:
                def _asof():
                    from full_text_index_spark.functions.asof import asof_join
                    clicks = ev.where(F.col("event_type") == "click").select(
                        "event_id", "user_id", "ts")
                    purch = ev.where(F.col("event_type") == "purchase").select(
                        "user_id", "ts", "value")
                    return asof_join(clicks, purch, right_cols=["value"]).count()
                timed("asof_join", _asof)
            if "range_join" in ops:
                timed("range_join",
                      lambda: entrymod.queries()["range_count_clicks"](
                          spark, sf_dir).count())
        if "dedup_components" in ops:
            def _components():
                from full_text_index_spark.functions.components import (
                    dedup_clusters,
                )
                return dedup_clusters(docs, D.minhash_lsh_pairs(docs)).count()
            timed("dedup_components", _components, fresh_cache=True)
        if "sampling" in ops:
            def _sampling():
                from full_text_index_spark.functions.sampling import (
                    group_quota_sample, hash_split,
                )
                hash_split(docs, entrymod.SPLIT_WEIGHTS).count()
                gcol = "source" if "source" in docs.columns else "doc_id"
                return group_quota_sample(
                    docs, gcol, entrymod.QUOTA_PER_SOURCE).count()
            timed("sampling", _sampling)
    finally:
        shutil.rmtree(idx_root, ignore_errors=True)
        shutil.rmtree(gram_root, ignore_errors=True)

    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    print(json.dumps({
        "queries": timings, "sf": sf_dir, "cpus": cpus, "n_docs": n_docs,
        "op_reps": op_reps, "load1_after": load1,
    }))


if __name__ == "__main__":
    main()
