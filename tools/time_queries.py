"""Time every queries() entry with the noop sink (guide §1.4).

Usage: python tools/time_queries.py [sf_dir] [reps] [name ...]
Prints one JSON line {name: best_sec, ...}.  Index builds go through the
same .index_cache the parity tool uses, so entry timings measure the
query, not the build.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    only = set(sys.argv[3:])

    import __spark_entry__ as entrymod
    from full_text_index_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark("time-queries", cpus=DEFAULT_CPUS,
                      shuffle_partitions=DEFAULT_CPUS)
    out: dict[str, float] = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            fn(spark, sf_dir)  # warm: builds/caches indexes, compiles plan
            best = None
            for _ in range(max(1, reps)):
                spark.sparkContext.setJobDescription(name)
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001
            out[name] = f"ERR {e}"[:120]
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
