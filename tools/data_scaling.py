#!/usr/bin/env python
"""DATA-scaling evidence: same engine, same parallelism (local[32]), same
segment layout — 4x the documents.  Complements tools/scaling_bench.py
(which fixes the data and scales the workers, the north_rule's gated
N-vs-4N criterion): here the workers are fixed and the DATA grows, so
sustained docs/sec across sizes demonstrates the build is linear in the
corpus (no superlinear shuffle/sort term) and per-query cost grows
SUBLINEARLY in corpus size (the queried terms' posting lists grow with
the corpus, but block-max routing keeps decoded work below that growth).

Usage: python tools/data_scaling.py [n_lo] [factor] [reps]
       (defaults 240000 4 2)

Appends one JSON line per run to BENCH/data_scaling_runs.jsonl and prints
a best-of summary.  Serial, load-gated (shared bursty host — see
BENCH/BASELINE.md methodology); delete the sidecar after engine changes.
"""
from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from full_text_index_spark.session import DEFAULT_CPUS  # noqa: E402
from scaling_bench import ensure_corpus, run_bench  # noqa: E402

SIDECAR = os.path.join(REPO, "BENCH", "data_scaling_runs.jsonl")


def main() -> None:
    n_lo = int(sys.argv[1]) if len(sys.argv) > 1 else 240_000
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    sizes = [n_lo, n_lo * factor]
    corpora = {n: ensure_corpus(n) for n in sizes}
    runs: list[dict] = []
    if os.path.exists(SIDECAR):
        with open(SIDECAR) as fh:
            runs = [json.loads(l) for l in fh if l.strip()]
    for r in range(reps):
        for n in sizes:  # interleave sizes in time (host drift fairness)
            rec = run_bench(sf_dir, cpus, corpora[n])
            rec["n_docs_requested"] = n
            rec["cpus"] = cpus
            with open(SIDECAR, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            runs.append(rec)
            print(
                f"rep {r} n={n}: build {rec['build_docs_per_sec']} docs/s, "
                f"query {rec['bm25_queries_per_sec']} q/s "
                f"(load {rec['load_at_start']})",
                flush=True,
            )
    summary = {}
    for n in sizes:
        mine = [x for x in runs if x.get("n_docs_requested") == n
                and x.get("cpus") == cpus]
        summary[n] = {
            "build_docs_per_sec": max(x["build_docs_per_sec"] for x in mine),
            "bm25_queries_per_sec": max(
                x["bm25_queries_per_sec"] for x in mine),
            "n_runs": len(mine),
        }
    lo, hi = summary[sizes[0]], summary[sizes[1]]
    print(json.dumps({
        "sizes": sizes,
        "best_of": summary,
        "build_throughput_ratio_hi_over_lo": round(
            hi["build_docs_per_sec"] / lo["build_docs_per_sec"], 3),
        "query_throughput_ratio_hi_over_lo": round(
            hi["bm25_queries_per_sec"] / lo["bm25_queries_per_sec"], 3),
    }))


if __name__ == "__main__":
    main()
