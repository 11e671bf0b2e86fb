"""Index-accelerated regular-expression search over the document corpus.

The classic trigram-index regex technique (Russ Cox, "Regular Expression
Matching with a Trigram Index", 2012 — the public Google Code Search
design): a regex that contains REQUIRED literal text can only match inside
documents that contain that literal, so the k-gram substring index prunes
the corpus to a candidate set before a single byte of text is scanned.
The reference engine answers exact-pattern queries from its suffix
structures (sau/SAu.c:253-344); this module extends the same index to the
pattern language users actually reach for, without any new on-disk
structure.

Plan (Spark-first, two stages):

1. **Prune** — a conservative parser extracts, per top-level alternation
   branch, the literal runs every match of that branch must contain
   (`required_literal_branches`).  The rarest run per branch (estimated
   from term_stats window-gram counts — the same driver-side stats read
   the substring planner does) is located through the existing machinery:
   `substring_locate` for runs ≥ k (the segment-local cover kernel),
   `substring_locate_short` for shorter runs (prefix grams + tails).  A
   branch whose required literal never occurs contributes nothing — an
   absent-literal regex is answered 0 with NO text access at all.
2. **Verify** — candidate (pattern, doc_id) pairs join back to the text
   and a JVM-side RLIKE keeps true matches.  Only candidate docs are ever
   read; at 100 TB the scan cost tracks literal selectivity, not corpus
   size.

Patterns with no extractable literal (e.g. ``[0-9]+``) fall back to a
distributed whole-corpus RLIKE scan — semantically identical, still one
codegen'd pass, just unprunable (exactly the reference's scan fallback
posture, fm/fm_index.h:20-22).

The parser is CONSERVATIVE: anything it does not model (backreferences,
lookaround, inline flags, numeric/hex escapes) yields "no literals" and
routes to the scan path, so pruning can never change results — only
shrink the verified set.  A differential fuzz test pins this against the
scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from full_text_index_spark.functions.util import local_frame
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.substring import (
    _gram_k,
    substring_locate,
    substring_locate_short,
)

# escapes that match a character CLASS (not one fixed char)
_CLASS_ESCAPES = set("dDwWsShHvVRX")
# zero-width assertions: consume no chars, so a literal run continues
# through them (a run made impossible by e.g. ``a\bb`` is vacuously
# "required" — the branch has no matches at all)
_ANCHOR_ESCAPES = set("bBAZzG")
# single-char control escapes with a fixed expansion
_CTRL_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "f": "\f", "a": "\a",
                 "e": "\x1b"}
# repetition counts expand into literal runs up to this many copies; a
# larger bound only lengthens the candidate literal (more grams to join)
# without tightening the doc-level prune
_REP_CAP = 8


def _class_end(p: str, i: int) -> int:
    """Index just past the ']' closing the class starting at p[i] == '['
    (−1 if unterminated).  A ']' immediately after '[' or '[^' is literal."""
    j = i + 1
    if j < len(p) and p[j] == "^":
        j += 1
    if j < len(p) and p[j] == "]":
        j += 1
    while j < len(p):
        if p[j] == "\\":
            j += 2
        elif p[j] == "]":
            return j + 1
        else:
            j += 1
    return -1


def _group_end(p: str, i: int) -> int:
    """Index just past the ')' matching p[i] == '(' (−1 if unbalanced)."""
    depth = 0
    j = i
    while j < len(p):
        c = p[j]
        if c == "\\":
            j += 2
        elif c == "[":
            j = _class_end(p, j)
            if j < 0:
                return -1
        elif c == "(":
            depth += 1
            j += 1
        elif c == ")":
            depth -= 1
            j += 1
            if depth == 0:
                return j
        else:
            j += 1
    return -1


def _split_top_alternation(p: str) -> list[str] | None:
    """Branches of p split on top-level '|' (None on unbalanced syntax)."""
    parts, start, j = [], 0, 0
    while j < len(p):
        c = p[j]
        if c == "\\":
            j += 2
        elif c == "[":
            j = _class_end(p, j)
            if j < 0:
                return None
        elif c == "(":
            j = _group_end(p, j)
            if j < 0:
                return None
        elif c == ")":
            return None
        elif c == "|":
            parts.append(p[start:j])
            start = j + 1
            j += 1
        else:
            j += 1
    parts.append(p[start:])
    return parts


def _parse_quant(p: str, i: int):
    """Quantifier at p[i:]: (min_reps, fixed, next_index) — (1, True, i)
    when none.  Reluctant/possessive suffixes ('??', '*+', …) don't change
    the minimum.  None for a malformed '{...}'."""
    if i >= len(p) or p[i] not in "*+?{":
        return 1, True, i
    c = p[i]
    if c == "*":
        lo, fixed, j = 0, False, i + 1
    elif c == "+":
        lo, fixed, j = 1, False, i + 1
    elif c == "?":
        lo, fixed, j = 0, False, i + 1
    else:  # {m}, {m,}, {m,n}
        end = p.find("}", i)
        if end < 0:
            return None
        body = p[i + 1:end]
        parts = body.split(",")
        if not parts[0].isdigit() or len(parts) > 2:
            return None
        lo = int(parts[0])
        if len(parts) == 1:
            fixed = True
        elif parts[1] == "":
            fixed = False
        elif parts[1].isdigit():
            fixed = int(parts[1]) == lo
        else:
            return None
        j = end + 1
    if j < len(p) and p[j] in "?+":  # reluctant / possessive
        j += 1
    return lo, fixed, j


class _Bail(Exception):
    """Unmodeled syntax — caller falls back to 'no literals'."""


def _branch_runs(branch: str):
    """(runs, whole) for one alternation-free branch: ``runs`` are the
    literal strings every match must contain (contiguously, each run
    independently); ``whole`` is the branch's exact literal value when it
    is one pure literal (enables run continuation through quantified
    groups), else None.  Raises _Bail on unmodeled syntax."""
    runs: list[str] = []
    cur: list[str] = []
    pure = True

    def flush():
        if cur:
            runs.append("".join(cur))
            cur.clear()

    def add_literal(text: str, lo: int, fixed: bool):
        nonlocal pure
        if lo == 0:
            pure = False
            flush()
            return
        if lo > _REP_CAP:
            lo, fixed = _REP_CAP, False
        if fixed:
            cur.extend(text * lo)
            if lo != 1:
                pure = False
        else:
            # X{m,}: W·X^m is required (prefix side) and X^m·Y is required
            # (the run seeded below continues into what follows)
            pure = False
            cur.extend(text * lo)
            flush()
            cur.extend(text * lo)

    i = 0
    while i < len(branch):
        c = branch[i]
        if c == "\\":
            if i + 1 >= len(branch):
                raise _Bail("trailing backslash")
            e = branch[i + 1]
            if e == "Q":
                end = branch.find(r"\E", i + 2)
                if end < 0:
                    raise _Bail("unterminated \\Q")
                quoted = branch[i + 2:end]
                i = end + 2
                if not quoted:
                    continue
                lo, fixed, i2 = _parse_quant(branch, i) or (None,) * 3
                if lo is None:
                    raise _Bail("bad quantifier")
                i = i2
                cur.extend(quoted[:-1])
                add_literal(quoted[-1], lo, fixed)
                continue
            i += 2
            q = _parse_quant(branch, i)
            if q is None:
                raise _Bail("bad quantifier")
            lo, fixed, i = q
            if e in _ANCHOR_ESCAPES:
                continue  # zero-width
            if e in _CLASS_ESCAPES:
                pure = False
                flush()
                continue
            if e in _CTRL_ESCAPES:
                add_literal(_CTRL_ESCAPES[e], lo, fixed)
                continue
            if e.isalnum():  # \0.. \x.. \u.. \p{..} \1 backrefs, …
                raise _Bail(f"unmodeled escape \\{e}")
            add_literal(e, lo, fixed)  # \. \* \\ …
            continue
        if c == "[":
            end = _class_end(branch, i)
            if end < 0:
                raise _Bail("unterminated class")
            i = end
            q = _parse_quant(branch, i)
            if q is None:
                raise _Bail("bad quantifier")
            _, _, i = q
            pure = False
            flush()
            continue
        if c == "(":
            end = _group_end(branch, i)
            if end < 0:
                raise _Bail("unbalanced group")
            inner = branch[i + 1:end - 1]
            i = end
            q = _parse_quant(branch, i)
            if q is None:
                raise _Bail("bad quantifier")
            lo, fixed, i = q
            if inner.startswith("?"):
                if inner.startswith("?:"):
                    inner = inner[2:]
                else:
                    raise _Bail("inline flag / lookaround group")
            inner_branches = _split_top_alternation(inner)
            if inner_branches is None:
                raise _Bail("unbalanced alternation")
            if len(inner_branches) != 1:
                # alternation inside a group: breaks the run, contributes
                # nothing (only TOP-level alternation unions candidates)
                pure = False
                flush()
                continue
            sub_runs, sub_whole = _branch_runs(inner_branches[0])
            if sub_whole is not None:
                add_literal(sub_whole, lo, fixed)
            else:
                pure = False
                flush()
                if lo >= 1:
                    runs.extend(sub_runs)
            continue
        if c in ")]}":
            raise _Bail(f"dangling {c!r}")
        if c in "*+?{":
            raise _Bail("quantifier without atom")
        if c in "^$":
            i += 1
            continue  # zero-width
        if c == ".":
            i += 1
            q = _parse_quant(branch, i)
            if q is None:
                raise _Bail("bad quantifier")
            _, _, i = q
            pure = False
            flush()
            continue
        # plain literal character
        i += 1
        q = _parse_quant(branch, i)
        if q is None:
            raise _Bail("bad quantifier")
        lo, fixed, i = q
        add_literal(c, lo, fixed)
    flush()
    whole = runs[0] if pure and len(runs) == 1 else None
    return runs, whole


def required_literal_branches(pattern: str) -> list[list[str]] | None:
    """Per top-level-alternation branch, the literal strings every match
    of that branch must contain — or None when no branch-complete literal
    cover exists (some branch has no required literal, or the pattern uses
    syntax the conservative parser does not model).  None means: do not
    prune, scan."""
    branches = _split_top_alternation(pattern)
    if branches is None:
        return None
    out: list[list[str]] = []
    try:
        for b in branches:
            runs, _ = _branch_runs(b)
            runs = [r for r in runs if r]
            if not runs:
                return None
            out.append(runs)
    except _Bail:
        return None
    return out


def _pick_branch_literals(index: InvertedIndex,
                          per_pattern: dict[str, list[list[str]]]):
    """One chosen literal per (pattern, branch): the rarest long run by
    estimated frequency (min window-gram cf from ONE batched term_stats
    read — an absent window gram estimates 0 and is the best possible
    choice: the branch is dead and prunes to nothing), else the longest
    short run.  Returns (pattern, literal) pairs split by length class."""
    k = _gram_k(index)
    all_long_grams: set[str] = set()
    for branches in per_pattern.values():
        for runs in branches:
            for r in runs:
                if len(r) >= k:
                    all_long_grams.update(
                        r[i:i + k] for i in range(len(r) - k + 1)
                    )
    cf: dict[str, int] = {}
    if all_long_grams:
        grams = sorted(all_long_grams)
        ts = index.term_stats()
        if len(grams) <= 256:
            ts = ts.where(F.col("term").isin(grams))
        else:
            gdf = local_frame(index.spark, [(g,) for g in grams],
                              "term string")
            ts = ts.join(F.broadcast(gdf), "term")
        cf = {r["term"]: int(r["cf"])
              for r in ts.select("term", "cf").collect()}

    def est(run: str) -> int:
        return min(cf.get(run[i:i + k], 0)
                   for i in range(len(run) - k + 1))

    long_pairs: set[tuple[str, str]] = set()
    short_pairs: set[tuple[str, str]] = set()
    for pat, branches in per_pattern.items():
        for runs in branches:
            longs = [r for r in runs if len(r) >= k]
            if longs:
                pick = min(longs, key=lambda r: (est(r), -len(r), r))
                long_pairs.add((pat, pick))
            else:
                pick = max(runs, key=lambda r: (len(r), r))
                short_pairs.add((pat, pick[:k - 1] if len(pick) >= k
                                 else pick))
    return long_pairs, short_pairs


def regex_docs(
    index: InvertedIndex | None,
    docs: DataFrame,
    patterns: list[str],
    *,
    stats: dict | None = None,
) -> DataFrame:
    """(pattern, doc_id) for every document whose text matches the Java
    regex ``pattern`` (unanchored find, like the reference's pattern
    drivers).  Pruned through the k-gram index wherever a required literal
    exists; scan fallback otherwise (always, when ``index`` is None)."""
    spark = docs.sparkSession
    patterns = list(dict.fromkeys(patterns))
    pruned: dict[str, list[list[str]]] = {}
    scanned: list[str] = []
    for p in patterns:
        branches = required_literal_branches(p) if index is not None else None
        if branches is None:
            scanned.append(p)
        else:
            pruned[p] = branches
    if stats is not None:
        stats["scanned"] = list(scanned)
        stats["pruned"] = {p: sorted({r for b in bs for r in b})
                           for p, bs in pruned.items()}
    parts: list[DataFrame] = []
    if pruned:
        long_pairs, short_pairs = _pick_branch_literals(index, pruned)
        if short_pairs and not index.meta.get("tails"):
            # pre-tails gram index can't answer short literals — those
            # patterns scan (their long-literal branches, if any, still
            # wouldn't cover every match of the pattern on their own)
            demoted = {p for p, _ in short_pairs}
            scanned.extend(sorted(demoted))
            long_pairs = {(p, l) for p, l in long_pairs if p not in demoted}
            short_pairs = set()
            if stats is not None:
                stats["scanned"] = list(scanned)
                for p in demoted:
                    stats["pruned"].pop(p, None)
        cand_parts = []
        if long_pairs:
            # doc-level gram containment, not positional locate: the rlike
            # below re-verifies every candidate anyway, so the aligned
            # positions (position-blob decode + alignment shuffle over
            # Σ cf rows) bought nothing — candidates from the doc streams
            # alone are a deterministic superset at Σ df cost
            from full_text_index_spark.substring import (
                substring_candidate_docs,
            )

            lits = sorted({lit for _, lit in long_pairs})
            cand_parts.append(
                substring_candidate_docs(index, lits)
                .select(F.col("pattern").alias("lit"), "doc_id")
            )
        if short_pairs:
            lits = sorted({lit for _, lit in short_pairs})
            cand_parts.append(
                substring_locate_short(index, lits)
                .select(F.col("pattern").alias("lit"), "doc_id")
            )
        if cand_parts:
            pl_df = local_frame(
                spark, sorted(long_pairs | short_pairs), "pattern string, lit string"
            )
            cand = cand_parts[0]
            for extra in cand_parts[1:]:
                cand = cand.unionByName(extra)
            cand = (
                cand.join(F.broadcast(pl_df), "lit")
                .select("pattern", "doc_id")
                .distinct()
            )
            if stats is not None:
                stats["n_candidates"] = cand.count()
            parts.append(
                cand.join(docs.select("doc_id", "text"), "doc_id")
                .where(F.expr("text rlike pattern"))
                .select("pattern", "doc_id")
            )
    if scanned:
        sdf = local_frame(spark, [(p,) for p in scanned],
                          "pattern string")
        scan_docs = docs.select("doc_id", "text")
        if index is not None:
            # same delete semantics as the pruned branch (which masks via
            # substring_locate): a literal-free regex must not resurface
            # tombstoned docs.  Mask the INPUT docs so deleted text never
            # pays the rlike evaluation (identical result, less scan CPU).
            from full_text_index_spark.deletes import mask_deleted

            scan_docs = mask_deleted(index, scan_docs)
        parts.append(
            scan_docs.crossJoin(F.broadcast(sdf))
            .where(F.expr("text rlike pattern"))
            .select("pattern", "doc_id")
        )
    if not parts:
        return local_frame(spark, [], "pattern string, doc_id long")
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def regex_count(
    index: InvertedIndex | None,
    docs: DataFrame,
    patterns: list[str],
    *,
    stats: dict | None = None,
) -> DataFrame:
    """(pattern, n_docs_matching) per regex — zero-filled, so absent
    patterns report 0 instead of vanishing."""
    spark = docs.sparkSession
    patterns = list(dict.fromkeys(patterns))
    matched = regex_docs(index, docs, patterns, stats=stats)
    agg = matched.groupBy("pattern").agg(
        F.count_distinct("doc_id").alias("n_docs_matching")
    )
    pdf = local_frame(spark, [(p,) for p in patterns], "pattern string")
    return pdf.join(F.broadcast(agg), "pattern", "left").select(
        "pattern",
        F.coalesce("n_docs_matching", F.lit(0)).alias("n_docs_matching"),
    )
