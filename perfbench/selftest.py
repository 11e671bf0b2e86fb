"""Self-test: a corrupted result must count as a failed operation.

    python3 perfbench/selftest.py

Builds the workloads' real operations on a small seeded corpus, without
Spark.  Each operation's result is produced by its reference, and a second
copy of it is corrupted.  The runner's failure count must accept every
correct result and reject every corrupted one, so ``ops_failed_frac`` equals
the corrupted share.  Exits non-zero when it does not.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pandas as pd  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from workloads import LSH_BANDS, Op, PatternBatch, SearchBatch  # noqa: E402


class _Ctx:
    seed, segments, call_stats, spark, phase = 5, 4, False, None, "window"

    def note(self, name, value):
        pass


def search_cases(ctx) -> list:
    wl = SearchBatch(ctx)
    wl.rows = gen.corpus(ctx.seed, 150)
    wl.all_rows, wl.deleted = list(wl.rows), {3, 7}
    wl.vocab = sorted({t for _, _, txt in wl.rows for t in check.tokens(txt)})
    op = wl._batch_op(0)
    good = check.Bm25Reference(wl.all_rows).topk(op.inputs, deleted=frozenset(wl.deleted))
    bad = good.copy()
    bad.loc[0, "doc_id"] = bad["doc_id"].max() + 1  # a doc the reference did not rank
    return [(op, good), (op, bad)]


def curation_cases(ctx) -> list:
    rows = gen.with_duplicates(ctx.seed, gen.corpus(ctx.seed, 60))
    first: dict[str, int] = {}
    verdicts, pairs = [], []
    for d, _, t in rows:
        toks = check.tokens(t)
        dup = t in first
        if dup:
            pairs.append((first[t], d, LSH_BANDS))
        first.setdefault(t, d)
        size = sum(1 for _, _, u in rows if u == t)
        verdicts.append((d, not dup, "dup" if dup else "ok", size, len(toks),
                         len(set(toks)) * 10_000 // len(toks)))
    good = pd.DataFrame(verdicts, columns=["doc_id", "keep", "reason", "group_size",
                                           "n_tokens", "uniq_ratio_i"])
    bad = good.copy()
    i = int(good.index[good["reason"] == "dup"][0])
    bad.loc[i, ["keep", "reason"]] = [True, "ok"]  # a duplicate kept
    curate = Op("curate", len(rows), None, lambda got: check.curation_ok(rows, got))
    good_pairs = pd.DataFrame(pairs, columns=["doc_a", "doc_b", "n_bands_shared"])
    lsh = Op("minhash_lsh_pairs", len(rows), None,
             lambda got: check.lsh_pairs_ok(rows, got, LSH_BANDS))
    return [(curate, good), (curate, bad), (lsh, good_pairs), (lsh, good_pairs.iloc[1:])]


def pattern_cases(ctx) -> list:
    wl = PatternBatch(ctx)
    wl.rows = gen.corpus(ctx.seed, 40, mean_len=60, id_prefix=True)
    wl.texts = [t for _, _, t in wl.rows]
    reference = {
        "substring": lambda p: (p, *check.substring_counts(wl.texts, p)),
        "regex": lambda p: (p, check.regex_docs(wl.texts, p)),
        "approx": lambda p: (p, *check.approx_counts(wl.texts, p, 1)),
    }
    cases = []
    for kind in wl.sizes:
        op = wl._op(kind, ctx.seed, 3)
        good = [reference[kind](p) for p in op.inputs]
        bad = [good[0][:-1] + (good[0][-1] + 1,)] + good[1:]  # one count off by one
        cases += [(op, good), (op, bad)]
    return cases


def main() -> int:
    ctx = _Ctx()
    cases = search_cases(ctx) + curation_cases(ctx) + pattern_cases(ctx)
    failed = run.count_failed([(op, result, None) for op, result in cases])
    print(f"selftest: ops_failed_frac {failed / len(cases):.3f} "
          f"({failed} of {len(cases)}); half the results were corrupted")
    return 0 if failed * 2 == len(cases) else 1


if __name__ == "__main__":
    sys.exit(main())
