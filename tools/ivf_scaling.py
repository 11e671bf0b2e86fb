"""IVF scale evidence (VERDICT r03 #3): run the ENGINE's adaptive IVF over
clustered synthetic tiers of growing size and record, per tier, the adaptive
(n_centroids, nprobe), the measured re-ranked candidate fraction, and
recall@10 vs the exact brute-force ranking.

The claim under test: with adaptive_centroids (≈√(N/2)) and adaptive_nprobe
(≈2√nc), the probed fraction FALLS as N grows (the fixed 16-list r03 default
re-ranked ~62% at any scale) while recall stays ≥ 0.9 on clustered data —
the realistic embedding shape; the near-random sf fixtures keep their own
gate in tests/test_ann.py at the floored small-N parameters.

Usage: python tools/ivf_scaling.py [sizes...]    (default: 2000 20000 100000)
Appends one JSON line per tier to BENCH/ivf_scaling.jsonl and prints them.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from full_text_index_spark.session import get_spark  # noqa: E402


def clustered(n: int, d: int = 64, per_cluster: int = 200,
              seed: int = 42) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_clusters = max(n // per_cluster, 8)
    centers = rng.standard_normal((n_clusters, d))
    owner = rng.integers(0, n_clusters, n)
    vecs = centers[owner] + 0.35 * rng.standard_normal((n, d))
    return pd.DataFrame({
        "vec_id": np.arange(n),
        "embedding": [v.astype(np.float32) for v in vecs],
    })


def topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["qid"], set()).add(r["vec_id"])
    return out


def main() -> None:
    from full_text_index_spark.functions.similarity import (
        cosine_topk,
        ivf_cosine_topk,
    )

    sizes = [int(a) for a in sys.argv[1:]] or [2_000, 20_000, 100_000]
    spark = get_spark("ivf-scaling")
    qids = [0, 1, 2, 3, 4]
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "ivf_scaling.jsonl",
    )
    for n in sizes:
        emb = spark.createDataFrame(clustered(n)).cache()
        emb.count()
        exact = topk_sets(cosine_topk(emb, qids, k=10))
        stats: dict = {}
        t0 = time.monotonic()
        approx = topk_sets(ivf_cosine_topk(emb, qids, k=10, stats=stats))
        wall = time.monotonic() - t0
        recall = sum(
            len(approx.get(q, set()) & exact[q]) / len(exact[q]) for q in exact
        ) / len(exact)
        rec = {
            "n_vectors": n,
            "n_centroids": stats["n_centroids"],
            "nprobe": stats["nprobe"],
            "rerank_frac": round(
                stats["n_candidates"] / (len(qids) * (n - 1)), 4
            ),
            "recall_at_10": round(recall, 3),
            "wall_s": round(wall, 2),
        }
        with open(out_path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
        emb.unpersist()


if __name__ == "__main__":
    main()
