"""run_queries analog (reference: utils/run_queries.c): execute a
reference-format workload file against a built index and print the same
summary statistics the reference prints to stderr — total occurrences,
wall time, time per pattern and per pattern-char.

Usage:
    python tools/run_queries.py <index_dir> C <patterns_file>   # count
    python tools/run_queries.py <index_dir> L <patterns_file>   # locate
    python tools/run_queries.py <index_dir> E <intervals_file> <docs.parquet>
    python tools/run_queries.py <index_dir> D <patterns_file> <docs.parquet> [numc]

C/L run against the character k-gram substring index (build with
full_text_index_spark.substring.build_gram_index — the arbitrary-byte-pattern
path, interface.h:59-66).  E maps flat-file intervals onto the docs table
(genintervals offsets address the concatenation of texts in doc_id order).
D prints a snippet around every occurrence (interface.h:81-92).

The workload files are byte-exact reference formats (genpatterns /
genintervals output) — files produced by the reference tools run unchanged.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        sys.exit(1)
    index_dir, qtype, wl_path = sys.argv[1], sys.argv[2].upper(), sys.argv[3]

    from full_text_index_spark import workload as W
    from full_text_index_spark.index import InvertedIndex
    from full_text_index_spark.session import get_spark

    spark = get_spark("run-queries")
    t0 = time.monotonic()
    index = InvertedIndex.open(spark, index_dir)
    load_time = time.monotonic() - t0

    if qtype in ("C", "L"):
        from full_text_index_spark.substring import (
            substring_count,
            substring_locate,
        )

        meta, raw_pats = W.read_patterns_file(wl_path)
        pats = W.decode_patterns(raw_pats)
        length, npatt = meta["length"], meta["number"]
        uniq = sorted(set(pats))
        t0 = time.monotonic()
        if qtype == "C":
            rows = substring_count(index, uniq).collect()
            per_pat = {r["pattern"]: r["n_occurrences"] for r in rows}
            tot_numocc = sum(per_pat.get(p, 0) for p in pats)
            dt = time.monotonic() - t0
            print(f"Total Num occs found = {tot_numocc}", file=sys.stderr)
            print(f"Count time = {dt * 1000:.4f} msecs", file=sys.stderr)
            print(
                f"Count_time/Pattern_chars = "
                f"{dt * 1000 / (length * npatt):.4f} msecs/chars",
                file=sys.stderr,
            )
            print(
                f"Count_time/Num_patterns = {dt * 1000 / npatt:.4f} "
                f"msecs/patterns",
                file=sys.stderr,
            )
        else:
            occs = substring_locate(index, uniq).collect()
            dt = time.monotonic() - t0
            per_pat: dict[str, int] = {}
            for r in occs:
                per_pat[r["pattern"]] = per_pat.get(r["pattern"], 0) + 1
            tot = sum(per_pat.get(p, 0) for p in pats)
            print(f"Total Num occs found = {tot}", file=sys.stderr)
            print(f"Locate time = {dt * 1000:.4f} msecs", file=sys.stderr)
            print(
                f"Locate_time/Num_occs = "
                f"{dt * 1000 / max(tot, 1):.4f} msecs/occs",
                file=sys.stderr,
            )
        print(
            f"(Load_time+time)/Num_patterns = "
            f"{(load_time + dt) * 1000 / npatt:.4f} msecs/patterns",
            file=sys.stderr,
        )

    elif qtype == "E":
        docs = spark.read.parquet(sys.argv[4])
        meta, ivls = W.read_intervals_file(wl_path)
        t0 = time.monotonic()
        rows = W.extract_flat_intervals(docs, ivls).collect()
        dt = time.monotonic() - t0
        n_chars = sum(len(r["snippet"]) for r in rows)
        print(f"Extracted {n_chars} chars in {dt * 1000:.4f} msecs",
              file=sys.stderr)
        print(
            f"Extract_time/Num_chars = {dt * 1000 / max(n_chars, 1):.4f} "
            f"msecs/chars",
            file=sys.stderr,
        )

    elif qtype == "D":
        from full_text_index_spark.substring import display_substring

        docs = spark.read.parquet(sys.argv[4])
        numc = int(sys.argv[5]) if len(sys.argv) > 5 else 25
        meta, raw_pats = W.read_patterns_file(wl_path)
        pats = W.decode_patterns(raw_pats)
        uniq = sorted(set(pats))
        t0 = time.monotonic()
        # snippet of numc chars around EVERY occurrence — the reference's
        # snippet matrix (interface.h:81-92).  display_substring owns the
        # sau clamp rule (each context side clamps INDEPENDENTLY at the
        # text edges — a fixed-width plen+2*numc substring over-extends the
        # right edge when the left side clamps; see CLAUDE.md), so the
        # workload driver must reuse it, not re-derive the window inline.
        rows = display_substring(index, docs, uniq, numc).collect()
        dt = time.monotonic() - t0
        print(
            f"Displayed {len(rows)} occurrences (numc={numc}) in "
            f"{dt * 1000:.4f} msecs",
            file=sys.stderr,
        )
    else:
        print(f"unknown query type {qtype!r} (C/L/E/D)", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
