"""Reference answers that share no code with the engine.

Every function here recomputes a result from the benchmark's own inputs with
plain Python (or the engine's pandas BM25 oracle, which is the repository's
correctness contract), and every ``same_*`` comparison returns a bool.  The
runner counts each operation whose comparison is False as failed.
"""

from __future__ import annotations

import re

import pandas as pd

from full_text_index_spark.oracle import bm25_oracle

SCORE_RTOL = 1e-9


def tokens(text: str) -> list[str]:
    """Lower-case alphanumeric runs, as the engine's tokenizer defines them."""
    return re.findall(r"[a-z0-9]+", text.lower())


def overlapping(text: str, pat: str) -> int:
    n, j = 0, text.find(pat)
    while j != -1:
        n += 1
        j = text.find(pat, j + 1)
    return n


def substring_counts(texts: list[str], pat: str) -> tuple[int, int]:
    """(docs containing ``pat``, overlapping occurrences)."""
    per_doc = [overlapping(t, pat) for t in texts]
    return sum(1 for c in per_doc if c), sum(per_doc)


def regex_docs(texts: list[str], pat: str) -> int:
    rx = re.compile(pat)
    return sum(1 for t in texts if rx.search(t))


def approx_starts(text: str, pat: str, e: int) -> int:
    """Start positions ``i`` where some substring starting at ``i`` is within
    edit distance ``e`` of ``pat``.

    Sellers' semi-global DP over the reversed strings: row ``m`` at column
    ``j`` is the least distance of ``pat`` to a substring of ``text`` that
    starts at ``len(text) - j``.
    """
    rt, rp = text[::-1], pat[::-1]
    m = len(rp)
    col = list(range(m + 1))
    hits = 0
    for ch in rt:
        prev_diag, col[0] = col[0], 0
        for i in range(1, m + 1):
            cur = min(col[i] + 1, col[i - 1] + 1, prev_diag + (rp[i - 1] != ch))
            prev_diag, col[i] = col[i], cur
        hits += col[m] <= e
    return hits


def approx_counts(texts: list[str], pat: str, e: int) -> tuple[int, int]:
    """(docs with a hit, hit start positions) for ``e`` = 1.

    With one edit, one half of the pattern occurs exactly, so only docs
    containing a half are run through the DP.
    """
    if e != 1 or len(pat) < 4:
        raise ValueError("the prefilter needs e = 1 and a pattern of 4+ chars")
    h = len(pat) // 2
    halves = (pat[:h], pat[h:])
    docs = pos = 0
    for t in texts:
        if halves[0] in t or halves[1] in t:
            n = approx_starts(t, pat, e)
            docs += n > 0
            pos += n
    return docs, pos


class Bm25Reference:
    """BM25 top-k from ``oracle.bm25_oracle`` over every document ever added.

    Deleted docs keep counting in the collection statistics (the engine
    masks them at query time, it does not rewrite df or avgdl), so the
    reference scores the whole collection and then drops deleted ids.
    """

    def __init__(self, rows: list[tuple[int, str, str]]):
        self.docs = pd.DataFrame([(d, t) for d, _, t in rows],
                                 columns=["doc_id", "text"])

    def topk(self, queries: list[tuple[int, list[str]]], k: int = 10,
             deleted: frozenset = frozenset()) -> pd.DataFrame:
        ref = bm25_oracle(self.docs, queries, k=k + len(deleted))
        ref = ref[~ref["doc_id"].isin(deleted)].copy()
        ref["rank"] = ref.groupby("qid").cumcount() + 1
        return ref[ref["rank"] <= k].reset_index(drop=True)


def same_ranking(got: pd.DataFrame, ref: pd.DataFrame) -> bool:
    """Same (qid, rank, doc_id) rows and scores equal to ``SCORE_RTOL``."""
    cols = ["qid", "rank", "doc_id"]
    g = got.sort_values(cols).reset_index(drop=True)
    r = ref.sort_values(cols).reset_index(drop=True)
    if len(g) != len(r) or not (g[cols].to_numpy() == r[cols].to_numpy()).all():
        return False
    diff = (g["score"] - r["score"]).abs()
    return bool((diff <= SCORE_RTOL * r["score"].abs()).all())


def curation_ok(rows: list[tuple[int, str, str]], got: pd.DataFrame) -> bool:
    """``functions.curate``'s verdicts: every doc once; reason ``dup``
    exactly for the docs whose text an earlier id already has, with the size
    of that identical-text group; the token count and the unique-token ratio
    (×10^4, floored) of Python tokens; ``keep`` iff the reason is ``ok``."""
    groups: dict[str, list[int]] = {}
    for d, _, t in rows:
        groups.setdefault(t, []).append(d)
    want = {}
    for t, ids in groups.items():
        toks = tokens(t)
        uniq = len(set(toks)) * 10_000 // max(len(toks), 1)
        for d in ids:
            want[d] = (d != min(ids), len(ids), len(toks), uniq)
    have = {int(r.doc_id): (r.reason == "dup", int(r.group_size), int(r.n_tokens),
                            int(r.uniq_ratio_i)) for r in got.itertuples()}
    return (len(got) == len(rows) and have == want
            and bool((got["keep"] == (got["reason"] == "ok")).all()))


def lsh_pairs_ok(rows: list[tuple[int, str, str]], got: pd.DataFrame, bands: int) -> bool:
    """``functions.minhash_lsh_pairs``: every pair is two input ids in
    increasing order, listed once, and every two docs with identical text
    (3+ tokens, so they have shingles) are a pair that shares all ``bands``."""
    ids = {d for d, _, _ in rows}
    pairs = {(int(a), int(b)): int(n) for a, b, n in
             zip(got["doc_a"], got["doc_b"], got["n_bands_shared"])}
    if len(pairs) != len(got) or any(a >= b or a not in ids or b not in ids for a, b in pairs):
        return False
    first: dict[str, int] = {}
    for d, _, t in sorted(rows):
        if len(tokens(t)) < 3:
            continue
        if t in first and pairs.get((first[t], d)) != bands:
            return False
        first.setdefault(t, d)
    return True
