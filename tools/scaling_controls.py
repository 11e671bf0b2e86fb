"""Control experiments for the N-vs-4N scaling evidence (BENCH/BASELINE.md).

Separates what the ENGINE contributes to scaling from what the shared host
can physically express:

1. ``burn``    — register-bound compute inside the same Spark+Arrow kernel
                 path the engine uses (applyInPandas-style mapInPandas over
                 an explicit repartition).  If this scales ~4x from local[1]
                 to local[4], the engine's task structure and the Python
                 worker path impose no serialization.
2. ``procs``   — raw CPU scaling of the host outside Spark (N independent
                 python processes).  The ceiling any JVM threading can reach.
3. ``multijvm``— the truest in-sandbox proxy for "4 executors": the SAME
                 build job run as 4 concurrent single-thread Spark JVMs on
                 disjoint quarter shards of the corpus (separate heaps, GC,
                 shuffle dirs — sharing only DRAM), vs one JVM on the full
                 corpus.  A real 4-executor cluster also multiplies memory
                 controllers, which this host cannot do, so this bounds the
                 proxy from below.

Usage: python tools/scaling_controls.py [n_docs]   (default 60000)
Prints one JSON line per experiment.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _burn_one(_):
    t0 = time.process_time()
    s = 0
    while time.process_time() - t0 < 2.0:
        s += 1
    return time.process_time() - t0


def control_procs() -> dict:
    out = {}
    for n in (1, 4):
        t0 = time.perf_counter()
        with mp.Pool(n) as p:
            cpus = p.map(_burn_one, range(n))
        out[f"procs_{n}"] = round(sum(cpus) / (time.perf_counter() - t0), 2)
    out["efficiency"] = round(out["procs_4"] / (4 * out["procs_1"]), 3)
    return {"control": "procs (raw host CPU, no Spark)", **out}


_BURN_SECONDS = 2.0


def _spark_burn(cpus: int) -> float:
    """Effective concurrency of 2*cpus register-bound kernel tasks routed
    the same way the BM25 kernel routes (functions.util.route)."""
    import pandas as pd

    from full_text_index_spark.functions.util import route
    from full_text_index_spark.session import get_spark

    spark = get_spark(f"ctl-burn-{cpus}", cpus=cpus, shuffle_partitions=cpus)
    n_tasks = 2 * cpus
    df = route(spark.range(0, n_tasks), "id", n_tasks)

    def burn(batches):
        c0 = time.process_time()
        n = sum(len(b) for b in batches)
        # burn PROPORTIONALLY to rows received (one row per task under
        # correct routing): a collided partition holding 2 rows burns 2×,
        # an empty partition yields immediately — so routing failures LOWER
        # the measured effective concurrency instead of being masked by a
        # fixed-duration spin (ADVICE r02)
        s = 0
        while time.process_time() - c0 < _BURN_SECONDS * n:
            s += 1
        yield pd.DataFrame({"n": [n], "cpu": [time.process_time() - c0]})

    df.mapInPandas(burn, schema="n long, cpu double").collect()  # warm
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        rows = df.mapInPandas(burn, schema="n long, cpu double").collect()
        eff = sum(r["cpu"] for r in rows) / (time.perf_counter() - t0)
        best = max(best, eff)
    spark.stop()
    return round(best, 2)


def control_spark_burn() -> dict:
    e1 = _spark_burn(1)
    e4 = _spark_burn(4)
    return {
        "control": "burn (register-bound kernel via engine's task routing)",
        "eff_conc_local1": e1, "eff_conc_local4": e4,
        "efficiency": round(e4 / (4 * e1), 3),
    }


_CHILD = """
import sys, time, tempfile, shutil
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from full_text_index_spark.build import build_index, prepare_corpus
from full_text_index_spark.session import get_spark
shard, n_shards, corpus = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
spark = get_spark(f"ctl-jvm-{{shard}}", cpus=1, shuffle_partitions=1)
docs = prepare_corpus(spark.read.parquet(corpus))
if n_shards > 1:
    docs = docs.where(F.pmod(F.col("doc_id"), F.lit(n_shards)) == shard)
docs = docs.cache(); n = docs.count()
out = tempfile.mkdtemp(prefix=f"ctl_idx_{{shard}}_")
t0 = time.perf_counter()
build_index(spark, docs, out, n_segments=8, block_size=128)
print("CHILD", shard, n, round(time.perf_counter() - t0, 2), flush=True)
shutil.rmtree(out, ignore_errors=True)
spark.stop()
"""


def control_multijvm(n_docs: int) -> dict:
    """1 JVM on the full corpus vs 4 concurrent single-thread JVMs on
    disjoint quarter shards (doc_id mod 4) — each builds its shard's index."""
    from tools.measure import ensure_corpus, wait_quiet

    corpus = ensure_corpus(n_docs)
    child = _CHILD.format(repo=REPO)

    def run(n_shards: int) -> float:
        wait_quiet()
        t0 = time.perf_counter()
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", child, str(s), str(n_shards), corpus],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True, cwd=REPO,
            )
            for s in range(n_shards)
        ]
        for p in procs:
            p.wait()
        return time.perf_counter() - t0

    wall_1 = min(run(1) for _ in range(2))
    wall_4 = min(run(4) for _ in range(2))
    # aggregate throughput ratio: 4 shards cover the same n_docs total
    speedup = wall_1 / wall_4
    return {
        "control": "multijvm (4 independent single-thread executor JVMs, "
                   "disjoint quarter shards, shared DRAM only)",
        "wall_1jvm_s": round(wall_1, 2), "wall_4jvm_s": round(wall_4, 2),
        "speedup": round(speedup, 2),
        "efficiency": round(speedup / 4.0, 3),
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    print(json.dumps(control_procs()), flush=True)
    print(json.dumps(control_spark_burn()), flush=True)
    print(json.dumps(control_multijvm(n_docs)), flush=True)


if __name__ == "__main__":
    main()
