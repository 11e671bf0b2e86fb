"""Merge run records into per-workload medians, spreads and tracing overhead.

    python3 perfbench/report.py [--session ID] [--records .perfbench/runs.jsonl]

Reads the records ``run.py`` appends, skips every run flagged ``rejected``
(it started above the load gate), and prints one row per workload and
metric: run count, median, and the quartile spread as a share of the median
(what a later change's regression bound is compared with).  For each
workload with both traced and untraced runs it prints the tracing overhead:
the traced median of ``items_per_s`` and ``op_p50_ms`` against the untraced
one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--records", default=os.path.join(os.path.dirname(HERE), ".perfbench", "runs.jsonl"))
    ap.add_argument("--session", help="only runs of this session id")
    args = ap.parse_args(argv)

    runs = []
    with open(args.records) as fh:
        for line in fh:
            r = json.loads(line)
            if r.get("rejected") or (args.session and r["session"] != args.session):
                continue
            runs.append(r)
    e2e: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    traced: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    untraced: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    named: dict[str, dict[str, list]] = defaultdict(lambda: defaultdict(list))
    for r in runs:
        w = r["workload"]
        if r["trace"]:
            for k in ("items_per_s", "op_p50_ms"):
                traced[w][k].append(r["layers"][f"traced.{k}"])
            continue
        for k, v in r["end_to_end"].items():
            e2e[w][k].append(v)
        untraced[w]["items_per_s"].append(r["end_to_end"]["items_per_s"])
        untraced[w]["op_p50_ms"].append(r["op_p50_ms"])
        for k, v in r["named"].items():
            if v["value"] is not None:
                named[w][k].append(v["value"])

    print(f"{'workload':14} {'metric':32} {'runs':>4} {'median':>12} {'spread':>7}")
    for w in sorted(e2e):
        for table in (e2e[w], {k: v for k, v in named[w].items() if k not in e2e[w]}):
            for k, vs in table.items():
                print(f"{w:14} {k:32} {len(vs):4d} {statistics.median(vs):12.4f} {spread(vs):7.3f}")
        for k, vs in traced[w].items():
            base = statistics.median(untraced[w][k])
            print(f"{w:14} {'tracing overhead ' + k:32} {len(vs):4d} "
                  f"{statistics.median(vs) - base:12.4f} {statistics.median(vs) / base - 1:+7.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
