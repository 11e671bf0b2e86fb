"""Approximate (edit-distance) pattern matching over the char k-gram index
— the agrep capability class, answered from the SAME index the exact
substring path uses (no new on-disk structure).

Semantics (shared verbatim by the DuckDB oracle): a hit is a 1-based
start position ``i`` in a document where

    min over L in [m-e, m+e] of  lev(text[i : i+L], P)  <=  e

with ``m = len(P)`` and ``e = max_edits``; slices past the end of the
document truncate (so the minimum effectively also ranges over the
shorter tail slice).  Every start position is reported independently —
both engines count the same set.

Plan (Spark-first, candidate + verify like exact `substring_locate`):

1. **q-gram count filter** (Jokinen & Ukkonen 1991; the filtration behind
   agrep/nrgrep): an occurrence of P with <= e edits still contains at
   least ``T = (m-k+1) - e*k`` of P's k-gram OCCURRENCES, hence at least
   ``T - dup`` DISTINCT grams of P (dup = duplicated gram slots in P).
   Candidate docs come from ONE decode of the pattern grams' postings —
   `term_positions` + broadcast (pattern, gram, slot) join + one
   aggregation yielding BOTH the distinct-gram count and the anchor set
   ``{char_pos - slot}`` per (pattern, doc).  Decoded volume tracks the
   query grams' lists, never the corpus.
2. **position-restricted verify** (r05) — candidate docs join their text;
   a vectorized Arrow kernel runs the banded Levenshtein window DP only
   at starts within ±e of an anchor (every true hit has an
   edit-untouched gram slot whose occurrence anchors it — see
   ``_anchor_starts``), so per-doc verify cost is O(gram occurrences ·
   e² · m) instead of O(doclen · e · m).  Extra anchors are harmless:
   any start verified reports only true hits.  A position-less gram
   index falls back to candidate docs + the whole-doc sweep —
   semantics identical either way.

Patterns the lemma cannot prune (``T - dup < 1``: too short, or e too
large for m) fall back to verifying every document — same kernel, no
index access, semantically identical (the reference's scan-fallback
posture, fm/fm_index.h:20-22).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from full_text_index_spark.functions.util import local_frame
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.query import term_locate
from full_text_index_spark.substring import _gram_k


def _codepoints(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def approx_positions_np(
    pattern: str, text: str, e: int, starts0: np.ndarray | None = None
) -> np.ndarray:
    """1-based start positions of approximate occurrences of ``pattern``
    in ``text`` (edit distance <= e, window semantics above).

    Dispatch (VERDICT r04 #5): the BANDED O(e·m) sweep with row
    early-exit for the common small-e case; the band-free full-width DP
    only when the band degenerates (e >= m) — both produce identical
    hit sets (fuzz-asserted in tests/test_approx.py).

    ``starts0`` (optional, sorted unique 0-based, in [0, len(text))):
    verify only these start positions instead of every window — a pure
    work restriction, never a semantics change (every start verified
    reports only true hits).  Only the banded path consumes it; the
    e >= m fallback ignores it (a correct superset of starts — callers
    that restrict always have e < m, see ``_anchor_starts``)."""
    if 0 <= e < len(pattern):
        return _approx_positions_banded(pattern, text, e, starts0)
    return approx_positions_full_np(pattern, text, e)


def _anchor_starts(anchors, e: int, n: int) -> np.ndarray:
    """Candidate 0-based start positions within ±e of an anchor.

    Anchors are 1-based ``gram_char_pos − pattern_slot`` values: if a
    window starting at s matches P with <= e edits, the edit transcript
    leaves >= (m−k+1) − e·k gram SLOTS of P untouched (each edit destroys
    at most k slots), and an untouched slot j appears verbatim in the text
    at char position p = s + j + δ_j with |δ_j| <= e (δ_j = net indels
    before slot j) — so s ∈ [p−j−e, p−j+e] for at least one indexed gram
    occurrence whenever the q-gram threshold is >= 1 (the same condition
    that gates the pruned path)."""
    a = np.asarray(anchors, dtype=np.int64)
    s = (a[:, None] + np.arange(-e, e + 1, dtype=np.int64)[None, :])
    s = np.unique(s.ravel()) - 1
    return s[(s >= 0) & (s < n)]


# Cap on starts per DP sweep: bounds the band/cur/tchars working set to
# ~O(_CHUNK · (2e+1) · 4B) per task regardless of how many large docs an
# Arrow batch holds (the scan path's start vector is every char of every
# doc in the batch).  Chunks are independent — each start's verdict
# depends only on its own window.
_BANDED_CHUNK = 1 << 21


def _banded_core(
    pat: np.ndarray,
    big: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    e: int,
) -> np.ndarray:
    """Banded window DP over a CONCATENATED codepoint buffer — ONE
    vectorized sweep verifies starts from many documents at once (the
    kernels batch all candidates of a pattern per Arrow batch, so the DP
    runs once per pattern instead of once per (pattern, doc) row).

    Band: lev(window_prefix_j, pattern_prefix_r) >= |j-r|, so only the
    2e+1 diagonals |j-r| <= e can ever stay <= e — each DP row touches
    O(e) vectorized columns instead of m+e+1, and a start whose whole
    band exceeds e is dropped immediately (row minima of the Levenshtein
    matrix are non-decreasing, and off-band cells are > e by the
    diagonal bound, so no dropped start can recover).

    ``big`` must hold >= m+e sentinel 0 codepoints after each document
    (0 is never produced by str.encode, so past-the-document chars always
    mismatch — identical to the single-text kernel's past-the-end
    sentinel, and a window can never read into the next document).
    ``starts``/``ends`` are global 0-based start positions and their
    document-end offsets.  Returns the global starts that hit."""
    m = len(pat)
    if m == 0 or len(starts) == 0:
        return np.empty(0, dtype=np.int64)
    if len(starts) > _BANDED_CHUNK:
        return np.concatenate([
            _banded_core(pat, big, starts[i:i + _BANDED_CHUNK],
                         ends[i:i + _BANDED_CHUNK], e)
            for i in range(0, len(starts), _BANDED_CHUNK)
        ])
    width = 2 * e + 1
    INF = np.int32(2 ** 30)
    # band[:, d] = D[r][j] with j = r + (d - e); row 0: D[0][j] = j
    band = np.empty((len(starts), width), dtype=np.int32)
    for d in range(width):
        j = d - e
        band[:, d] = j if j >= 0 else INF
    for r in range(1, m + 1):
        pc = pat[r - 1]
        cur = np.empty((len(starts), width), dtype=np.int32)
        for d in range(width):
            j = r + (d - e)
            if j < 0:
                cur[:, d] = INF
                continue
            # window char j is big[start + j - 1]; the per-document
            # sentinel pad guarantees in-bounds reads that mismatch
            tchars = big[starts + (j - 1)]
            v = band[:, d] + (tchars != pc).astype(np.int32)  # diag
            if d + 1 < width:
                v = np.minimum(v, band[:, d + 1] + 1)          # delete
            if d > 0:
                v = np.minimum(v, cur[:, d - 1] + 1)           # insert
            cur[:, d] = v
        band = cur
        alive = band.min(axis=1) <= e
        if not alive.all():
            if not alive.any():
                return np.empty(0, dtype=np.int64)
            band = band[alive]
            starts = starts[alive]
            ends = ends[alive]
    # final row: j = m + (d - e), valid while j <= avail (truncated tails
    # with avail < m-e cannot match: lev >= m - avail > e)
    avail = np.minimum(np.int32(m + e),
                       (ends - starts).astype(np.int32))
    offs = np.arange(width, dtype=np.int32) - e
    j_ok = (m + offs)[None, :] <= avail[:, None]
    best = np.where(j_ok, band, INF).min(axis=1)
    return starts[best <= e]


def _approx_positions_banded(
    pattern: str, text: str, e: int, starts0: np.ndarray | None = None
) -> np.ndarray:
    """Single-text wrapper over ``_banded_core`` (tests fuzz this against
    the band-free full DP; the kernels call the core directly)."""
    m = len(pattern)
    n = len(text)
    if n == 0 or m == 0:
        return np.empty(0, dtype=np.int64)
    starts = (np.arange(n, dtype=np.int64) if starts0 is None
              else np.asarray(starts0, dtype=np.int64))
    if len(starts) == 0:
        return np.empty(0, dtype=np.int64)
    big = np.concatenate(
        [_codepoints(text), np.zeros(m + e, dtype=np.uint32)]
    )
    ends = np.full(len(starts), n, dtype=np.int64)
    hits = _banded_core(_codepoints(pattern), big, starts, ends, e)
    return (hits + 1).astype(np.int64)


def approx_positions_full_np(pattern: str, text: str, e: int) -> np.ndarray:
    """Band-free reference DP (kept as the banded kernel's differential
    oracle and the e >= m fallback).  One DP over all windows at once:
    rows are pattern chars, columns are window prefix lengths, vectorized
    across the n start positions."""
    m = len(pattern)
    n = len(text)
    if n == 0 or m == 0:
        return np.empty(0, dtype=np.int64)
    W = m + e
    arr = _codepoints(text)
    pat = _codepoints(pattern)
    idx = np.arange(n)[:, None] + np.arange(W)[None, :]
    # 0 is a sentinel no real char equals (never emitted by str.encode)
    chars = np.where(idx < n, arr[np.minimum(idx, n - 1)], np.uint32(0))
    cols = np.arange(W + 1, dtype=np.int32)
    prev = np.broadcast_to(cols, (n, W + 1)).astype(np.int32)
    for r in range(1, m + 1):
        neq = (chars != pat[r - 1]).astype(np.int32)
        # delete-pattern-char / substitute terms for j = 1..W
        body = np.minimum(prev[:, 1:] + 1, prev[:, :-1] + neq)
        cur = np.empty_like(prev)
        cur[:, 0] = r
        cur[:, 1:] = body
        # insert-chain cur[j] = min(cur[j], cur[j-1]+1) for all j at once:
        # cur[j] = j + running_min(cur - arange)[j]
        adj = cur - cols
        np.minimum.accumulate(adj, axis=1, out=adj)
        prev = adj + cols
    # valid prefix lengths per start: [m-e, min(W, avail)], or {avail}
    # when fewer than m-e chars remain (all oracle slices truncate alike)
    avail = np.minimum(np.int32(W), (n - np.arange(n)).astype(np.int32))
    lo = np.maximum(np.minimum(np.int32(m - e), avail), 0)
    hi = avail
    j_ok = (cols[None, :] >= lo[:, None]) & (cols[None, :] <= hi[:, None])
    best = np.where(j_ok, prev, np.int32(2 ** 30)).min(axis=1)
    return (np.nonzero(best <= e)[0] + 1).astype(np.int64)


def _pattern_grams(pattern: str, k: int) -> list[str]:
    return [pattern[j:j + k] for j in range(len(pattern) - k + 1)]


def _distinct_threshold(pattern: str, k: int, e: int) -> int:
    """Distinct-gram lower bound from the q-gram occurrence lemma."""
    slots = len(pattern) - k + 1
    if slots <= 0:
        return 0
    t_occ = slots - e * k
    dup = slots - len(set(_pattern_grams(pattern, k)))
    return t_occ - dup


def _concat_docs(
    texts: list[str], pad: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate documents into one codepoint buffer with ``pad``
    sentinel 0s after each (so a window DP never reads a neighbour's
    chars and past-the-document reads mismatch).  Returns (buffer,
    per-doc start offsets, per-doc lengths)."""
    cps = [_codepoints(t) for t in texts]
    lens = np.fromiter(
        (len(c) for c in cps), dtype=np.int64, count=len(cps)
    )
    offs = np.zeros(len(cps), dtype=np.int64)
    if len(cps) > 1:
        np.cumsum(lens[:-1] + pad, out=offs[1:])
    z = np.zeros(pad, dtype=np.uint32)
    chunks: list[np.ndarray] = []
    for c in cps:
        chunks.append(c)
        chunks.append(z)
    big = np.concatenate(chunks) if chunks else z
    return big, offs, lens


def _emit_hits(
    pattern: str,
    hits: np.ndarray,
    doc_offs: np.ndarray,
    doc_ids: np.ndarray,
    out_p: list, out_d: list, out_c: list,
) -> None:
    """Map global 0-based hit starts back to (pattern, doc_id, 1-based
    cpos) output columns."""
    if not len(hits):
        return
    di = np.searchsorted(doc_offs, hits, side="right") - 1
    out_p.append(np.full(len(hits), pattern, dtype=object))
    out_d.append(doc_ids[di])
    out_c.append(hits - doc_offs[di] + 1)


def _make_candidate_kernel(pat_edits: dict[str, int]):
    """Verify kernel for the candidate path: one input row per candidate
    DOC (text ships through Arrow exactly once however many patterns hit
    it), carrying ``plist`` = list<struct<pattern, anchors>>; a NULL
    anchors array means "no position restriction" (the position-less
    gram-index fallback).

    Verification is batched PER PATTERN across the whole Arrow batch:
    every candidate doc's anchor starts are rebased into one concatenated
    buffer and a single ``_banded_core`` sweep verifies them all — the DP
    runs ~n_patterns times per batch instead of once per (pattern, doc)
    row, whose per-call numpy constants dominated when anchors cut each
    row's DP to a handful of starts."""
    max_m = max((len(p) for p in pat_edits), default=1)
    max_e = max(pat_edits.values(), default=0)
    pad = max_m + max_e + 1

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            big, offs, lens = _concat_docs(pdf["text"].tolist(), pad)
            doc_ids = pdf["doc_id"].to_numpy()
            per_pat: dict[str, tuple[list, list]] = {}
            for i, plist in enumerate(pdf["plist"]):
                o = int(offs[i])
                n = int(lens[i])
                if n == 0:
                    continue
                for item in plist:
                    pattern = item["pattern"]
                    e = pat_edits[pattern]
                    anchors = item["anchors"]
                    s = (np.arange(n, dtype=np.int64) if anchors is None
                         else _anchor_starts(anchors, e, n))
                    if not len(s):
                        continue
                    sg, eg = per_pat.setdefault(pattern, ([], []))
                    sg.append(s + o)
                    eg.append(np.full(len(s), o + n, dtype=np.int64))
            out_p, out_d, out_c = [], [], []
            for pattern in sorted(per_pat):
                sg, eg = per_pat[pattern]
                e = pat_edits[pattern]
                # the pruned path only admits patterns with a positive
                # q-gram threshold, which forces m >= k(1+e) > e — the
                # band never degenerates here (e >= m patterns route to
                # the scan kernel's full-width branch instead)
                assert e < len(pattern)
                hits = _banded_core(
                    _codepoints(pattern),
                    big,
                    np.concatenate(sg),
                    np.concatenate(eg),
                    e,
                )
                _emit_hits(pattern, hits, offs, doc_ids,
                           out_p, out_d, out_c)
            if out_p:
                yield pd.DataFrame({
                    "pattern": np.concatenate(out_p),
                    "doc_id": np.concatenate(out_d),
                    "cpos": np.concatenate(out_c),
                })
    return kernel


def _make_scan_kernel(patterns: list[str], pat_edits: dict[str, int]):
    """Verify kernel for the scan path: the pattern list rides in the
    closure (query-batch-sized), so the corpus text is read and shipped
    ONCE — not crossJoin-fanned per pattern.  Banded-eligible patterns
    (e < m) share one all-windows start vector over the batch's
    concatenated buffer, so the DP again runs per pattern per batch;
    e >= m patterns keep the per-doc full-width DP."""
    max_m = max((len(p) for p in patterns), default=1)
    max_e = max(pat_edits.values(), default=0)
    pad = max_m + max_e + 1
    banded = [p for p in patterns if 0 <= pat_edits[p] < len(p)]
    fullw = [p for p in patterns if p not in banded]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out_p, out_d, out_c = [], [], []
            if banded:
                texts = pdf["text"].tolist()
                big, offs, lens = _concat_docs(texts, pad)
                doc_ids = pdf["doc_id"].to_numpy()
                nz = lens > 0
                if nz.any():
                    starts = np.concatenate([
                        np.arange(n, dtype=np.int64) + o
                        for o, n in zip(offs[nz], lens[nz])
                    ])
                    ends = np.repeat(offs[nz] + lens[nz], lens[nz])
                    for pattern in banded:
                        hits = _banded_core(
                            _codepoints(pattern), big, starts, ends,
                            pat_edits[pattern],
                        )
                        _emit_hits(pattern, hits, offs, doc_ids,
                                   out_p, out_d, out_c)
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for pattern in fullw:
                    pos = approx_positions_np(
                        pattern, text, pat_edits[pattern]
                    )
                    if len(pos):
                        out_p.append(
                            np.full(len(pos), pattern, dtype=object)
                        )
                        out_d.append(
                            np.full(len(pos), doc_id, dtype=np.int64)
                        )
                        out_c.append(pos)
            if out_p:
                yield pd.DataFrame({
                    "pattern": np.concatenate(out_p),
                    "doc_id": np.concatenate(out_d),
                    "cpos": np.concatenate(out_c),
                })
    return kernel


def approx_locate(
    index: InvertedIndex | None,
    docs: DataFrame,
    patterns: list[str],
    max_edits: int = 1,
    *,
    stats: dict | None = None,
) -> DataFrame:
    """(pattern, doc_id, cpos) for every approximate occurrence (edit
    distance <= max_edits) of each pattern.  Candidates pruned through the
    k-gram index where the q-gram lemma gives a positive threshold; whole
    corpus verified otherwise (always, when ``index`` is None)."""
    spark = docs.sparkSession
    patterns = list(dict.fromkeys(patterns))
    e = int(max_edits)
    if e < 0:
        raise ValueError("max_edits must be >= 0")
    k = _gram_k(index) if index is not None else None
    pruned: dict[str, int] = {}
    scanned: list[str] = []
    for p in patterns:
        thr = _distinct_threshold(p, k, e) if index is not None else 0
        if thr >= 1:
            pruned[p] = thr
        else:
            scanned.append(p)
    if stats is not None:
        stats["scanned"] = list(scanned)
        stats["pruned"] = dict(pruned)
    pat_edits = {p: e for p in patterns}
    out_schema = "pattern string, doc_id long, cpos long"
    parts: list[DataFrame] = []
    if pruned:
        thr_df = local_frame(
            spark, sorted(pruned.items()), "pattern string, thr int"
        )
        if index.meta.get("positions"):
            # position-restricted verify (r05): keep the gram POSITIONS the
            # filter decode already walks past, anchor each occurrence at
            # (char_pos − pattern_slot), and verify only starts within ±e
            # of an anchor (_anchor_starts has the survival argument) —
            # per-doc verify cost falls from O(doclen·e·m) to
            # O(gram_occurrences·e²·m), and the decode volume still tracks
            # the query grams' lists, never the corpus
            trips = sorted({
                (p, p[j:j + k], j)
                for p in pruned for j in range(len(p) - k + 1)
            })
            pg = local_frame(
                spark, trips, "pattern string, gram string, slot int"
            )
            from full_text_index_spark.query import term_positions

            cand = (
                term_positions(index, sorted({g for _, g, _ in trips}))
                .select(F.col("term").alias("gram"), "doc_id",
                        F.col("tpos").alias("cpos"))
                .join(F.broadcast(pg), "gram")
                .groupBy("pattern", "doc_id")
                .agg(
                    # size(collect_set) == count_distinct, but mixing a
                    # distinct agg with collect_set makes Catalyst plan an
                    # Expand (row doubling) + extra aggregate layer over
                    # the widest shuffle of this plan; two plain set aggs
                    # stay single-layer
                    F.size(F.collect_set("gram")).cast("long").alias("ng"),
                    F.sort_array(F.collect_set(
                        F.col("cpos") - F.col("slot")
                    )).alias("anchors"),
                )
                .join(F.broadcast(thr_df), "pattern")
                .where(F.col("ng") >= F.col("thr"))
                .select("pattern", "doc_id", "anchors")
            )
        else:
            # position-less gram index: candidate docs only, whole-doc sweep
            # (NULL anchors = unrestricted in the kernel)
            pairs = sorted({
                (p, g) for p in pruned for g in set(_pattern_grams(p, k))
            })
            pg = local_frame(spark, pairs, "pattern string, gram string")
            cand = (
                term_locate(index, sorted({g for _, g in pairs}))
                .select(F.col("term").alias("gram"), "doc_id")
                .join(F.broadcast(pg), "gram")
                .groupBy("pattern", "doc_id")
                .agg(F.count_distinct("gram").alias("ng"))
                .join(F.broadcast(thr_df), "pattern")
                .where(F.col("ng") >= F.col("thr"))
                .select(
                    "pattern", "doc_id",
                    F.lit(None).cast("array<long>").alias("anchors"),
                )
            )
        if stats is not None:
            stats["n_candidates"] = cand.count()
        # one verify row per candidate DOC: the doc's text crosses Arrow
        # once no matter how many patterns selected it
        cand_by_doc = cand.groupBy("doc_id").agg(
            F.collect_list(F.struct("pattern", "anchors")).alias("plist")
        )
        parts.append(
            cand_by_doc.join(docs.select("doc_id", "text"), "doc_id")
            .mapInPandas(_make_candidate_kernel(pat_edits),
                         schema=out_schema)
        )
    if scanned:
        scan_docs = docs.select("doc_id", "text")
        if index is not None:
            # the pruned branch masks tombstones via the positional decode;
            # the scan branch must apply the same delete semantics or one
            # call mixes deleted and live docs by pattern length.  Mask the
            # INPUT docs, not the kernel's hit rows: deleted docs then never
            # pay the DP sweep at all (identical result, less kernel CPU).
            from full_text_index_spark.deletes import mask_deleted

            scan_docs = mask_deleted(index, scan_docs)
        from full_text_index_spark.functions.util import widen_partitions

        parts.append(
            widen_partitions(scan_docs)
            .mapInPandas(_make_scan_kernel(sorted(scanned), pat_edits),
                         schema=out_schema)
        )
    if not parts:
        return local_frame(spark, [], out_schema)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def approx_count(
    index: InvertedIndex | None,
    docs: DataFrame,
    patterns: list[str],
    max_edits: int = 1,
    *,
    stats: dict | None = None,
) -> DataFrame:
    """(pattern, n_docs_matching, n_positions) per pattern, zero-filled so
    absent patterns report 0 instead of vanishing."""
    spark = docs.sparkSession
    patterns = list(dict.fromkeys(patterns))
    hits = approx_locate(index, docs, patterns, max_edits, stats=stats)
    agg = hits.groupBy("pattern").agg(
        F.count_distinct("doc_id").alias("n_docs_matching"),
        F.count(F.lit(1)).alias("n_positions"),
    )
    pdf = local_frame(spark, [(p,) for p in patterns], "pattern string")
    return pdf.join(F.broadcast(agg), "pattern", "left").select(
        "pattern",
        F.coalesce("n_docs_matching", F.lit(0)).alias("n_docs_matching"),
        F.coalesce("n_positions", F.lit(0)).alias("n_positions"),
    )
