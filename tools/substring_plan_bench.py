"""Substring-plan evidence (VERDICT r02 #2): rarest-gram-first vs the
all-windows join on patterns CONTAINING HEAD GRAMS.

The r02 plan decodes every window gram's full position list, so a pattern
containing " th" or " a " pays that gram's corpus-wide posting list.  The
r03 default decodes only each pattern's rarest window gram plus
block-targeted verify lookups.  This tool measures both on the same index
and pattern set and reports wall seconds and DECODED BYTES:

* alljoin_decoded_bytes — Σ (doc+tf+pos bytes) over ALL window grams'
  posting rows (exact: that plan decodes everything it matches);
* rarest_decoded_bytes — the same sum over only the candidate (rarest)
  grams, plus the verify kernel's own count of block bytes it actually
  decoded (smuggled out via its stats rows).

Corpus note: the sf fixtures are Zipf webtext over a SMALL token
vocabulary — only ~377 distinct trigrams at sf0.1, so every gram is a head
gram and no pattern has a rare window.  Natural corpora are not like that
(URLs, IDs, numbers, names make most patterns contain at least one rare
gram — which is exactly why suffix-array backward search starts from the
rare end).  The tool therefore prefixes each document with a URL-like id
token ("u0004217 …"), restoring a realistic gram-frequency spread, and
benchmarks patterns that mix one rare (id) gram with the corpus' head
grams — the adversarial case for the old plan.

Usage: python tools/substring_plan_bench.py [sf_dir] [reps]
       python tools/substring_plan_bench.py abovecap
Prints one JSON line per pattern set.  Results land in BENCH/BASELINE.md §d.

``abovecap`` (VERDICT r03 #1 done-criterion) runs the rarest plan on an
ENGINEERED corpus whose candidate set exceeds the retired 1M driver cap:
50 "needle" docs carry 21k ``zqvaaa`` repeats each (cf of every zqv/qva/vaa
window ≈ 1.05M — all candidates), while 50k filler docs of pure ``a`` runs
push the head verify gram ``aaa`` to ~21M occurrences.  The r03 engine
would have hit CAND_DRIVER_CAP and fallen back to the alljoin full decode
of that 21M-occurrence stream — exactly the workload the plan exists for;
the distributed verify ships the 1.05M candidates as probe rows and
block-targets ``aaa`` to the 50 needle docs, so decoded volume stays
~3·cf(rarest).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def decoded_bytes(index, grams: list[str]) -> int:
    row = (
        index.postings()
        .where(F.col("term").isin(sorted(set(grams))))
        .agg((F.sum("doc_bytes") + F.sum("tf_bytes")
              + F.sum("pos_bytes")).alias("b"))
        .first()
    )
    return int(row["b"] or 0)


def abovecap() -> None:
    from full_text_index_spark.build import prepare_corpus
    from full_text_index_spark.index import InvertedIndex
    from full_text_index_spark.session import get_spark
    from full_text_index_spark.substring import (
        build_gram_index,
        substring_locate,
    )

    spark = get_spark("substr-abovecap")
    n_needle, reps_per_doc = 50, 21_000        # cf(zqv) = 1.05M > old 1M cap
    n_filler, filler_len = 50_000, 400         # cf(aaa) ≈ 21M (the head gram)
    needles = spark.range(n_needle).select(
        F.concat(F.lit("c://"), F.col("id").cast("string")).alias("url"),
        F.expr(f"repeat('zqvaaa', {reps_per_doc})").alias("text"),
    )
    filler = spark.range(n_filler).select(
        F.concat(F.lit("f://"), F.col("id").cast("string")).alias("url"),
        F.expr(f"repeat('a', {filler_len})").alias("text"),
    )
    docs = prepare_corpus(needles.unionByName(filler))
    gram_root = tempfile.mkdtemp(prefix="substr_abovecap_idx_")
    try:
        t0 = time.perf_counter()
        build_gram_index(spark, docs, gram_root, k=3, n_segments=8,
                         block_size=64)
        t_build = time.perf_counter() - t0
        idx = InvertedIndex.open(spark, gram_root)
        pats = ["zqvaaa"]
        windows = ["zqv", "qva", "vaa", "aaa"]
        all_bytes = decoded_bytes(idx, windows)
        stats: dict = {}
        t0 = time.perf_counter()
        n_rows = substring_locate(idx, pats, plan="rarest",
                                  stats=stats).count()
        wall = time.perf_counter() - t0
        rare_bytes = decoded_bytes(idx, ["zqv"]) + stats.get(
            "verify_decoded_bytes", 0
        )
        rec = {
            "set": "abovecap_1.05M_candidates",
            "n_candidates": stats.get("n_candidates", 0),
            "old_driver_cap": 1_000_000,
            "rows": n_rows,
            "wall_rarest_s": round(wall, 2),
            "build_s": round(t_build, 2),
            "alljoin_decoded_bytes": all_bytes,
            "rarest_decoded_bytes": rare_bytes,
            "decoded_bytes_ratio": round(all_bytes / max(rare_bytes, 1), 2),
            "verify_decoded_bytes": stats.get("verify_decoded_bytes", 0),
        }
        assert rec["n_candidates"] > 1_000_000, rec
        assert n_rows == n_needle * reps_per_doc, rec  # every candidate matches
        print(json.dumps(rec), flush=True)
    finally:
        shutil.rmtree(gram_root, ignore_errors=True)
    spark.stop()


def main() -> None:
    from full_text_index_spark.index import InvertedIndex
    from full_text_index_spark.session import get_spark
    from full_text_index_spark.substring import (
        _gram_k,
        _greedy_cover,
        build_gram_index,
        substring_locate,
    )

    if len(sys.argv) > 1 and sys.argv[1] == "abovecap":
        abovecap()
        return
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("substr-plan-bench")

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select(
            "doc_id",
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
            .alias("url"),
            F.concat(
                F.format_string("u%07d ", F.col("doc_id")), F.col("text")
            ).alias("text"),
        )
    )
    gram_root = tempfile.mkdtemp(prefix="substr_plan_idx_")
    try:
        build_gram_index(spark, docs, gram_root, k=3, n_segments=8,
                         block_size=64)
        idx = InvertedIndex.open(spark, gram_root)
        k = _gram_k(idx)

        sample = docs.orderBy("doc_id").limit(400).collect()
        PLEN = 12
        # adversarial: doc-prefix slices — one rare id gram + head grams
        adversarial = sorted({r["text"][:PLEN] for r in sample[7::61]})[:6]
        # control: interior slices (head grams only in this fixture)
        ctrl = sorted({r["text"][30:30 + PLEN] for r in sample[3::61]
                       if len(r["text"]) >= 30 + PLEN})[:6]

        for set_name, pats in (("rare+head_patterns", adversarial),
                               ("control_patterns", ctrl)):
            pats = [p for p in pats if len(p) >= k]
            windows = sorted({p[i:i + k] for p in pats
                              for i in range(len(p) - k + 1)})
            all_bytes = decoded_bytes(idx, windows)

            def run(plan: str, collect_stats: bool):
                best, stats = 1e18, {}
                for _ in range(reps):
                    s: dict = {} if collect_stats else None
                    t0 = time.perf_counter()
                    n = substring_locate(idx, pats, plan=plan, stats=s).count()
                    best = min(best, time.perf_counter() - t0)
                    if s:
                        stats = s
                return best, n, stats

            wall_new, n_new, stats = run("rarest", True)
            wall_old, n_old, _ = run("alljoin", False)
            assert n_new == n_old, (n_new, n_old)
            cf_rows = idx.term_stats().where(
                F.col("term").isin(windows)
            ).select("term", "cf").collect()
            cf = {r["term"]: int(r["cf"]) for r in cf_rows}
            cand_grams = []
            for p in pats:
                ws = [p[i:i + k] for i in range(len(p) - k + 1)]
                if any(cf.get(g, 0) == 0 for g in ws):
                    continue
                cover = _greedy_cover(ws, cf, k)
                cand_grams.append(
                    ws[min(cover, key=lambda s_: (cf[ws[s_]], s_))]
                )
            rare_bytes = decoded_bytes(idx, cand_grams) + stats.get(
                "verify_decoded_bytes", 0
            )
            print(json.dumps({
                "set": set_name, "sf": sf_dir, "n_patterns": len(pats),
                "rows": n_new,
                "wall_rarest_s": round(wall_new, 3),
                "wall_alljoin_s": round(wall_old, 3),
                "alljoin_decoded_bytes": all_bytes,
                "rarest_decoded_bytes": rare_bytes,
                "decoded_bytes_ratio": round(all_bytes / max(rare_bytes, 1), 2),
                "verify_decoded_bytes": stats.get("verify_decoded_bytes", 0),
                "n_candidates": stats.get("n_candidates", 0),
            }), flush=True)
    finally:
        shutil.rmtree(gram_root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
