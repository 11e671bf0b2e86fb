"""Character k-gram substring index: arbitrary byte patterns (case- and
punctuation-bearing, crossing token boundaries) answered from the index must
agree with the whole-corpus scan path AND a brute-force Python check — the
reference's count/locate semantics (utils/interface.h:59-66)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from full_text_index_spark.build import prepare_corpus
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.substring import (
    build_gram_index,
    scan_substring_count,
    scan_substring_locate,
    substring_count,
    substring_locate,
    substring_search,
)

TEXTS = [
    "The quick, brown Fox jumps over the lazy dog.",
    "row scan slow fast; Row SCAN table, value part",
    "aaaa aa b aaaa",                      # overlapping self-matches
    "Dup, dup, DUP! and more dup-licates",
    "unicode: caf\u00e9 touch\u00e9 caf\u00e9",
    "punct|pipe&amp;<tag> and spaces   three",
    "",                                    # empty doc
    "xy",                                  # shorter than gram size
]

PATTERNS = [
    "row sca",       # crosses a token boundary (space inside)
    "Row ",          # case-bearing prefix
    "aa",            # shorter than k → scan path only
    "aaa",           # overlapping (pos 1,2 in "aaaa")
    "Dup,",          # punctuation-bearing
    "caf\u00e9",     # unicode
    "zzz not here",  # absent
    ", ",            # pure punctuation — but len < 3, scan path
    "a aaaa",        # crosses boundary with repeats
]


def brute(patterns):
    out = {}
    for d, text in enumerate(TEXTS):
        for p in patterns:
            L = len(p)
            if L == 0 or len(text) < L:
                continue
            pos = [i + 1 for i in range(len(text) - L + 1) if text[i:i + L] == p]
            if pos:
                out[(p, d)] = pos
    return out


@pytest.fixture(scope="module")
def gram_setup(spark, tmp_path_factory):
    pdf = pd.DataFrame(
        {"doc_id": range(len(TEXTS)), "url": [f"u://{i}" for i in range(len(TEXTS))],
         "text": TEXTS}
    )
    docs = spark.createDataFrame(pdf)
    root = str(tmp_path_factory.mktemp("gramidx"))
    build_gram_index(spark, prepare_corpus(docs), root, k=3, n_segments=2,
                     block_size=8)
    return InvertedIndex.open(spark, root), docs


def _collect_locate(df):
    out = {}
    for r in df.collect():
        out.setdefault((r["pattern"], r["doc_id"]), []).append(r["cpos"])
    return {k: sorted(v) for k, v in out.items()}


def test_index_locate_matches_brute_force(gram_setup):
    idx, _ = gram_setup
    pats = [p for p in PATTERNS if len(p) >= 3]
    assert _collect_locate(substring_locate(idx, pats)) == brute(pats)


def test_scan_locate_matches_brute_force(gram_setup):
    _, docs = gram_setup
    assert _collect_locate(scan_substring_locate(docs, PATTERNS)) == brute(PATTERNS)


def test_counts_agree_between_paths(gram_setup):
    idx, docs = gram_setup
    pats = [p for p in PATTERNS if len(p) >= 3]
    a = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in substring_count(idx, pats).collect()
    }
    b = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in scan_substring_count(docs, pats).collect()
    }
    assert a == b
    assert a["zzz not here"] == (0, 0)  # absent pattern reports zeros
    # overlapping semantics: "aaa" occurs twice in each "aaaa"
    assert a["aaa"] == (1, 4)


def test_adaptive_routing(gram_setup):
    idx, docs = gram_setup
    # short pattern → scan path even with an index present
    got = _collect_locate(substring_search(docs, idx, ["aa"]))
    assert got == brute(["aa"])
    # no index → scan path
    got2 = _collect_locate(substring_search(docs, None, ["row sca"]))
    assert got2 == brute(["row sca"])
    # tiny corpus (< cutoff) routes to scan — same answers either way
    got3 = _collect_locate(substring_search(docs, idx, ["row sca"]))
    assert got3 == brute(["row sca"])


def test_rejects_short_pattern_on_index_path(gram_setup):
    idx, _ = gram_setup
    with pytest.raises(ValueError, match="shorter than gram size"):
        substring_locate(idx, ["ab"])


def test_gram_index_meta(gram_setup):
    idx, _ = gram_setup
    assert idx.meta["unit"] == "chargram-3"
    assert idx.meta["positions"] is True
    rep = idx.size_report()
    assert rep["index_bytes"] > 0 and rep["bits_per_token"] > 0


def test_bm25_rejects_chargram_index(spark, gram_setup):
    """BM25 reads doc lengths, which a chargram index does not store: both
    scorers name the unit instead of failing inside the decoder."""
    from full_text_index_spark.query import _bm25_scored_exact, bm25_topk

    idx, _ = gram_setup
    queries = spark.createDataFrame([(0, ["row"])], "qid long, terms array<string>")
    for use_blockmax in (True, False):
        with pytest.raises(ValueError, match="unit='chargram-3'"):
            bm25_topk(idx, queries, k=5, use_blockmax=use_blockmax)
    qterms = spark.createDataFrame([(0, "row", 1.0)],
                                   "qid long, term string, idf double")
    with pytest.raises(ValueError, match="unit='chargram-3'"):
        _bm25_scored_exact(idx, qterms)


def test_locate_head_and_repeated_grams_match_brute_force(gram_setup):
    """Locate is exact on patterns built from head grams (the case the
    rarest-gram candidate exists for), repeated grams and long patterns
    with many cover slots."""
    idx, _ = gram_setup
    pats = [p for p in PATTERNS if len(p) >= 3] + [
        "a a",          # head-ish grams in this fixture
        "aaaa",         # candidate gram == verify gram (repeat)
        "row scan slow fast",   # long pattern, many slots
        " and ",
    ]
    assert _collect_locate(substring_locate(idx, pats)) == brute(pats)


def test_locate_plan_record_is_driver_only(spark, gram_setup):
    """``stats`` receives the plan record substring_count fills, built from
    driver values: once the index's tables have been read, planning a
    locate runs exactly one Spark job (the stats lookup collect) —
    candidates never reach the driver."""
    from full_text_index_spark.functions.util import kernel_tasks
    from full_text_index_spark.substring import _cover_plan

    idx, _ = gram_setup
    pats = ["row sca", "aaa", "a aaaa", "zzz not here"]
    substring_locate(idx, pats)  # first reads list the parquet files
    stats: dict = {}
    sc = spark.sparkContext
    sc.setJobGroup("locate-plan-record", "planning only")
    try:
        located = substring_locate(idx, pats, stats=stats)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("locate-plan-record"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_jobs == 1
    assert _collect_locate(located) == brute(pats)
    ts = {r["term"]: (r["df"], r["cf"]) for r in idx.term_stats().collect()}
    plan = _cover_plan(pats[:3], 3, {g: cf for g, (_, cf) in ts.items()})
    grams = {g for checks in plan.values() for _, g in checks}
    verify_only = grams - {checks[0][1] for checks in plan.values()}
    assert stats == {
        "plan": "kernel", "n_absent": 1, "n_live": 3,
        "live_cf": sum(ts[g][1] for g in grams),
        "kernel_tasks": kernel_tasks(spark, idx.n_segments),
        "block_decode_grams": sum(ts[g][0] > 8 for g in verify_only),
    }


def test_locate_multi_generation_no_cross_confirm(spark, tmp_path):
    """ADVICE r03 high: the old verify key packed doc_id·2^32 + pos, which
    wrapped for generation-shifted doc_ids (GEN_SHIFT = 44) and could
    cross-confirm an occurrence from gen-0's candidate gram with gen-1's
    verify gram.  The distributed kernel's keys are generation-safe (local
    dense doc indexes): 'abcd' exists in NO document here — gen 0 has
    'abc' (in "abcZZZ"), gen 1 has 'bcd' (in "Xbcd") — so locate must be
    empty, and genuinely-present patterns must still be found in BOTH
    generations."""
    import pandas as pd

    from full_text_index_spark.substring import append_gram_generation

    g0 = pd.DataFrame({
        "url": ["u://0", "u://1"],
        "text": ["abcZZZ padding here", "shared needle0 text"],
    })
    g1 = pd.DataFrame({
        "url": ["v://0", "v://1"],
        "text": ["Xbcd other words", "shared needle0 text again"],
    })
    root = str(tmp_path / "genidx")
    g0p = prepare_corpus(spark.createDataFrame(g0))
    build_gram_index(spark, g0p, root, k=3, n_segments=2, block_size=4)
    append_gram_generation(spark, spark.createDataFrame(g1), root, 1,
                           k=3, n_segments=2, block_size=4)
    idx = InvertedIndex.open(spark, root)
    pats = ["abcd", "needle0", "bcd ", "abcZ"]
    got = _collect_locate(substring_locate(idx, pats))
    from full_text_index_spark.streaming import GEN_SHIFT

    # brute force over the ACTUAL stored doc ids (gen-1 ids are shifted)
    all_docs = {r["doc_id"]: r["text"] for r in g0p.collect()}
    g1p = prepare_corpus(spark.createDataFrame(g1))
    for r in g1p.collect():
        all_docs[r["doc_id"] + (1 << GEN_SHIFT)] = r["text"]
    want = {}
    for d, t in all_docs.items():
        for p in pats:
            pos = [i + 1 for i in range(len(t) - len(p) + 1)
                   if t[i:i + len(p)] == p]
            if pos:
                want[(p, d)] = pos
    assert got == want
    assert not any(p == "abcd" for (p, _) in got)  # the cross-confirm repro


def test_short_count_from_index(gram_setup):
    """Patterns shorter than k are answered from the build-time short-gram
    stats table — counts must equal the scan path's, including absent
    patterns and multi-byte chars."""
    from full_text_index_spark.substring import substring_count_short

    idx, docs = gram_setup
    pats = ["aa", "a", "zz", "Q", ", ", "é", "w"]
    a = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in substring_count_short(idx, pats).collect()
    }
    b = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in scan_substring_count(docs, pats).collect()
    }
    assert a == b
    assert a["zz"] == (0, 0)
    assert a["aa"][1] >= 4  # overlapping: "aaaa" contains "aa" 3 times


def test_mixed_length_count_routing(gram_setup):
    """substring_count routes short patterns to the stats table and long
    ones to the positional index in ONE call."""
    idx, docs = gram_setup
    pats = ["aa", "aaa", "Q", "row sca"]
    a = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in substring_count(idx, pats).collect()
    }
    b = {
        r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
        for r in scan_substring_count(docs, pats).collect()
    }
    assert a == b


def test_short_count_rejects_long_patterns(gram_setup):
    from full_text_index_spark.substring import substring_count_short

    idx, _ = gram_setup
    with pytest.raises(ValueError, match="lengths 1"):
        substring_count_short(idx, ["abcd"])


def test_display_substring(gram_setup):
    """Context snippets around every substring occurrence: occurrence
    counts must equal substring_count's, positions match brute force, and
    the snippet window is clipped at the text start like the reference's
    display (ssa/SSA.cpp:340-433)."""
    from full_text_index_spark.substring import display_substring

    idx, docs = gram_setup
    pats = ["row sca", "aaa", "Dup,"]
    rows = display_substring(idx, docs, pats, numc=5).collect()
    got = {}
    for r in rows:
        got.setdefault((r["pattern"], r["doc_id"]), []).append(
            (r["occ_idx"], r["cpos"], r["snippet"])
        )
    want = brute(pats)
    assert {k: sorted(p for _, p, _ in v) for k, v in got.items()} == want
    for (p, d), occs in got.items():
        assert sorted(o for o, _, _ in occs) == list(range(1, len(occs) + 1))
        for _, cpos, snip in occs:
            lo = max(cpos - 5, 1)
            # independent-side clamp (sau SAu.c:348-371): right edge is
            # cpos+plen+numc-1 regardless of how the left side clamped
            assert snip == TEXTS[d][lo - 1:cpos - 1 + len(p) + 5]


def test_locate_randomized_differential(spark, tmp_path):
    """Seeded random fuzz over the locate kernel: random low-alphabet
    corpora (dense repeats → many block-boundary and overlapping-occurrence
    cases) and random patterns sampled from the corpus plus mutants; locate
    must equal Python brute force on every (pattern, doc, cpos)."""
    import random

    from full_text_index_spark.build import prepare_corpus

    rng = random.Random(1234)
    alpha = "ab c"
    texts = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 80)))
        for _ in range(40)
    ]
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)),
        "url": [f"u://{i}" for i in range(len(texts))],
        "text": texts,
    })
    root = str(tmp_path / "fuzzidx")
    build_gram_index(spark, prepare_corpus(spark.createDataFrame(pdf)), root,
                     k=3, n_segments=3, block_size=4)
    idx = InvertedIndex.open(spark, root)

    pats = set()
    long_texts = [t for t in texts if len(t) >= 10]
    for _ in range(12):
        t = rng.choice(long_texts)
        i = rng.randint(0, len(t) - 7)
        pats.add(t[i:i + rng.randint(3, 7)])
    pats.add("bbb")            # likely absent in a space-heavy corpus
    pats.add("ab cab c")       # repeat-structured
    pats = sorted(pats)

    def brute_local(ps):
        out = {}
        for d, t in enumerate(texts):
            for p in ps:
                pos = [i + 1 for i in range(len(t) - len(p) + 1)
                       if t[i:i + len(p)] == p]
                if pos:
                    out[(p, d)] = pos
        return out

    assert _collect_locate(substring_locate(idx, pats)) == brute_local(pats)

    # short patterns (len < k) against the same fuzz corpus: the indexed
    # prefix-gram + tails plan must equal brute force too
    from full_text_index_spark.substring import substring_locate_short

    short_pats = sorted({p[:2] for p in pats} | {p[:1] for p in pats} | {"zz"})
    assert _collect_locate(
        substring_locate_short(idx, short_pats)
    ) == brute_local(short_pats)


def test_locate_short_matches_brute_force(gram_setup):
    """Indexed locate for patterns SHORTER than k (VERDICT r03 #4): the
    prefix-gram path covers positions a k-gram window reaches; the tails
    table covers starts in the last k−1 chars (incl. docs shorter than k,
    e.g. "xy").  Absent patterns yield no rows."""
    from full_text_index_spark.substring import substring_locate_short

    idx, _ = gram_setup
    pats = ["aa", "a", ", ", "é", "xy", "zz", "s", "es"]
    got = _collect_locate(substring_locate_short(idx, pats))
    assert got == brute(pats)
    # tail coverage explicitly: "xy" is a whole 2-char doc (no 3-grams at
    # all) and "es" ends doc 3 — both only reachable via tails
    assert ("xy", 7) in got
    assert any(d == 3 and TEXTS[3].endswith("es") for (p, d) in got
               if p == "es")


def test_locate_short_rejects_long_patterns(gram_setup):
    from full_text_index_spark.substring import substring_locate_short

    idx, _ = gram_setup
    with pytest.raises(ValueError, match="handles lengths 1"):
        substring_locate_short(idx, ["abcd"])


def test_display_substring_short_patterns(gram_setup):
    """display for patterns shorter than k runs off the indexed short
    locate — same occurrence positions as brute force, snippets clipped."""
    from full_text_index_spark.substring import display_substring

    idx, docs = gram_setup
    pats = ["aa", "é"]
    rows = display_substring(idx, docs, pats, numc=4).collect()
    got = {}
    for r in rows:
        got.setdefault((r["pattern"], r["doc_id"]), []).append(r["cpos"])
    assert {k: sorted(v) for k, v in got.items()} == brute(pats)


# --- case-insensitive search ------------------------------------------------

CI_TEXTS = [
    "The Quick Brown fox JUMPED over the lazy DOG",
    "the quick brown FOX jumped",
    "QUICK QUICK quick qUiCk",
    "nothing relevant here at all",
]


@pytest.fixture(scope="module")
def ci_setup(spark, tmp_path_factory):
    pdf = pd.DataFrame({
        "doc_id": range(len(CI_TEXTS)),
        "url": [f"u://{i}" for i in range(len(CI_TEXTS))],
        "text": CI_TEXTS,
    })
    docs = spark.createDataFrame(pdf)
    root = str(tmp_path_factory.mktemp("ciidx"))
    build_gram_index(spark, prepare_corpus(docs), root, k=3, n_segments=2,
                     block_size=8)
    return InvertedIndex.open(spark, root), docs


def test_case_variants():
    from full_text_index_spark.substring import _case_variants

    assert _case_variants("a b") == ["A B", "A b", "a B", "a b"]
    assert len(_case_variants("abc")) == 8
    assert _case_variants("1 2") == ["1 2"]


def test_substring_locate_ci_matches_brute(ci_setup):
    from full_text_index_spark.substring import substring_locate_ci

    idx, docs = ci_setup
    pats = ["quick", "QUICK B", "Fox J", "dog", "zz", "ZZQ", "qU", "Q"]
    want = {}
    for p in pats:
        lp = p.lower()
        for i, t in enumerate(CI_TEXTS):
            lt = t.lower()
            pos = [j + 1 for j in range(len(lt) - len(lp) + 1)
                   if lt[j:j + len(lp)] == lp]
            if pos:
                want[(p, i)] = sorted(pos)
    got_idx = {}
    for r in substring_locate_ci(idx, docs, pats).collect():
        got_idx.setdefault((r["pattern"], r["doc_id"]), []).append(r["cpos"])
    got_idx = {k: sorted(v) for k, v in got_idx.items()}
    assert got_idx == want
    # scan-only path (no index) agrees
    got_scan = {}
    for r in substring_locate_ci(None, docs, pats).collect():
        got_scan.setdefault((r["pattern"], r["doc_id"]), []).append(r["cpos"])
    got_scan = {k: sorted(v) for k, v in got_scan.items()}
    assert got_scan == want


def test_substring_locate_ci_docs_subset_restricts_all_paths(ci_setup):
    """A filtered `docs` subset restricts EVERY length class the same way:
    the sub-k indexed short path must not leak hits from indexed docs
    outside the subset (it answers from the index, so it semi-joins docs)."""
    from full_text_index_spark.substring import substring_locate_ci

    idx, docs = ci_setup
    keep = docs.where(F.col("doc_id") == 0)
    pats = ["qU", "Q", "quick", "Fox J"]  # sub-k and >=k in one call
    want = {}
    for p in pats:
        lp, t = p.lower(), CI_TEXTS[0].lower()
        pos = [j + 1 for j in range(len(t) - len(lp) + 1)
               if t[j:j + len(lp)] == lp]
        if pos:
            want[(p, 0)] = sorted(pos)
    got = {}
    for r in substring_locate_ci(idx, keep, pats).collect():
        got.setdefault((r["pattern"], r["doc_id"]), []).append(r["cpos"])
    assert {k: sorted(v) for k, v in got.items()} == want


def test_substring_count_ci_zero_fill(ci_setup):
    from full_text_index_spark.substring import substring_count_ci

    idx, docs = ci_setup
    rows = {r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
            for r in substring_count_ci(idx, docs,
                                        ["Quick", "ZZQ"]).collect()}
    assert rows["Quick"] == (3, 6)
    assert rows["ZZQ"] == (0, 0)


def test_gram_code_supplementary_plane_roundtrip(spark, tmp_path_factory):
    """The packed int gram codes (21 bits per codepoint, make_gram_stream)
    must round-trip ANY Unicode scalar, including supplementary-plane
    (4-byte UTF-8) characters — locate via the index must match a brute
    scan on a corpus containing them."""
    texts = [
        "smile \U0001F600\U0001F600 twice",   # U+1F600 > 0xFFFF
        "math \U0001D49C x \U0001D49C y",     # U+1D49C script A
        "plain ascii filler text",
    ]
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)),
        "url": [f"s://{i}" for i in range(len(texts))],
        "text": texts,
    })
    root = str(tmp_path_factory.mktemp("suppidx"))
    build_gram_index(spark, prepare_corpus(spark.createDataFrame(pdf)),
                     root, k=3, n_segments=2, block_size=8)
    idx = InvertedIndex.open(spark, root)
    pats = ["\U0001F600\U0001F600 tw", " \U0001D49C y", "iller"]
    got = {}
    for r in substring_locate(idx, pats).collect():
        got.setdefault((r["pattern"], r["doc_id"]), []).append(r["cpos"])
    want = {}
    for d, text in enumerate(texts):
        for p in pats:
            pos = [i + 1 for i in range(len(text) - len(p) + 1)
                   if text[i:i + len(p)] == p]
            if pos:
                want[(p, d)] = pos
    assert {k: sorted(v) for k, v in got.items()} == want and len(want) == 3


# ---------------------------------------------------------------------------
# the count and locate kernels alone (no Spark): synthetic posting rows vs
# str.find
# ---------------------------------------------------------------------------

_BIG = 1 << 45  # generation-shifted doc ids start above 2**44


def _gram_rows(texts: dict[int, str], block_size: int, n_segments: int = 2,
               k: int = 3) -> pd.DataFrame:
    """Positional k-gram posting rows of ``texts`` (doc_id → text), one row
    per (segment, gram), packed by the build's own packer."""
    from full_text_index_spark.build import _pack_runs

    occ = sorted((d % n_segments, t[i:i + k], d, i + 1)
                 for d, t in texts.items() for i in range(len(t) - k + 1))
    return _pack_runs(pd.DataFrame(occ, columns=["segment", "term", "doc_id",
                                                 "tpos"]), block_size)


def _tomb_rows(doc_ids, n_segments: int = 2) -> pd.DataFrame:
    from full_text_index_spark.codec import encode_gaps

    by_seg: dict[int, list[int]] = {}
    for d in sorted(doc_ids):
        by_seg.setdefault(d % n_segments, []).append(d)
    return pd.DataFrame({"segment": list(by_seg), "term": [None] * len(by_seg),
                         "doc_blob": [encode_gaps(ids) for ids in by_seg.values()]})


def _str_find_positions(texts: dict[int, str], patterns: list[str]):
    """Every (pattern, doc_id, 1-based start) occurrence, overlaps too."""
    for p in patterns:
        for d, t in texts.items():
            j = t.find(p)
            while j != -1:
                yield p, d, j + 1
                j = t.find(p, j + 1)


def _str_find_counts(texts: dict[int, str], pat: str) -> tuple[int, int]:
    per_doc = []
    for t in texts.values():
        n, j = 0, t.find(pat)
        while j != -1:
            n, j = n + 1, t.find(pat, j + 1)
        per_doc.append(n)
    return sum(1 for n in per_doc if n), sum(per_doc)


def _kernel_counts(tasks: list[pd.DataFrame], patterns: list[str],
                   cf: dict[str, int],
                   live: dict[int, str]) -> dict[str, tuple[int, int]]:
    """Run the count kernel once per task (an empty frame is a task with
    no rows) and sum its rows per pattern, as the groupBy after it does.
    The locate kernel runs on the same tasks; its rows must be exactly the
    ``str.find`` positions of every pattern in the ``live`` texts."""
    from full_text_index_spark.substring import (
        _cover_plan,
        _make_substring_count_kernel,
        _make_substring_locate_kernel,
    )

    plan = _cover_plan(patterns, 3, cf)
    count = _make_substring_count_kernel(plan)
    locate = _make_substring_locate_kernel(plan)
    got = {p: (0, 0) for p in patterns}
    located = []
    for task in tasks:
        out = pd.concat(list(count(iter([task] if len(task) else []))))
        assert sorted(out["pattern"]) == sorted(patterns)  # zero rows too
        for p, d, o in zip(out["pattern"], out["n_docs"], out["n_occ"]):
            got[p] = (got[p][0] + int(d), got[p][1] + int(o))
        for frame in locate(iter([task] if len(task) else [])):
            located += zip(frame["pattern"], frame["doc_id"].tolist(),
                           frame["cpos"].tolist())
    assert sorted(located) == sorted(_str_find_positions(live, patterns))
    return got


_KERNEL_TEXTS = {
    0: "aaaaaaa b aaaa",                  # self-overlap: "aaaa" 4 + 1 times
    1: "abcabc xabcabcabc abca",           # "abc" at slots 0 and 3 of "abcabc"
    2: "xyz yzw zwq",                      # grams of "xyzw" present, unaligned
    3: "the cat sat on the mat",
    4: "row scan slow scan row",
    5: "aaaa abcabc",
    6: "zz",                               # no grams at all
    7: "mat cat bat rat sat",
}


@pytest.mark.parametrize("block_size", [2, 128])
@pytest.mark.parametrize("seed", [0, 1])
def test_count_kernel_matches_str_find(block_size, seed):
    """Self-overlap, a gram repeated at two slots, present-but-unaligned
    grams, two generation rows of one gram in one task (the second
    generation's ids ≥ 2**44), tombstones, a gram absent from a segment,
    multi-block rows (block_size=2 runs the block-targeted decode) and an
    empty task; the plan's cf is random, so the candidate slot varies."""
    rng = np.random.default_rng(seed)
    gen1 = {_BIG + d: t for d, t in _KERNEL_TEXTS.items() if d % 3 == 0}
    texts = {**_KERNEL_TEXTS, **gen1}
    deleted = {5, _BIG + 3}
    rows = pd.concat([_gram_rows(_KERNEL_TEXTS, block_size),
                      _gram_rows(gen1, block_size), _tomb_rows(deleted)],
                     ignore_index=True)
    patterns = ["aaaa", "abcabc", "xyzw", "the ", "at sat", " scan ", "cat",
                "bcabca", "t on the mat", "row scan slow scan row", "aaaaaaa"]
    grams = {p[i:i + 3] for p in patterns for i in range(len(p) - 2)}
    present = set(rows["term"].dropna())
    patterns = [p for p in patterns
                if all(p[i:i + 3] in present for i in range(len(p) - 2))]
    cf = {g: int(rng.integers(1, 50)) for g in grams}
    tasks = [rows[rows["segment"] == s] for s in (0, 1)] + [rows.iloc[:0]]
    live = {d: t for d, t in texts.items() if d not in deleted}
    got = _kernel_counts(tasks, patterns, cf, live)
    assert got == {p: _str_find_counts(live, p) for p in patterns}
    assert got["aaaa"][1] > got["aaaa"][0]            # overlapping counted
    assert got["xyzw"] == (0, 0)                      # unaligned grams
    # one task holding both segments counts the same
    assert _kernel_counts([rows], patterns, cf, live) == got


def test_count_kernel_randomized():
    """Low-alphabet random texts (dense repeats and block boundaries) over
    three segments, patterns sliced from them: kernel = str.find."""
    rng = np.random.default_rng(7)
    block_size = 3
    texts = {int(d): "".join(rng.choice(list("ab c"), int(rng.integers(0, 60))))
             for d in rng.choice(10_000, 30, replace=False)}
    rows = pd.concat([_gram_rows(texts, block_size, n_segments=3),
                      _tomb_rows(list(texts)[:4], n_segments=3)],
                     ignore_index=True)
    present = set(rows["term"].dropna())
    long_texts = [t for t in texts.values() if len(t) >= 12]
    patterns = sorted({t[i:i + m] for t in long_texts[:12]
                       for i, m in [(int(rng.integers(0, len(t) - 10)),
                                     int(rng.integers(3, 10)))]})
    patterns = [p for p in patterns
                if all(p[i:i + 3] in present for i in range(len(p) - 2))]
    cf = {p[i:i + 3]: int(rng.integers(1, 9)) for p in patterns
          for i in range(len(p) - 2)}
    tasks = [rows[rows["segment"] == s] for s in range(3)]
    live = {d: t for d, t in list(texts.items())[4:]}
    assert _kernel_counts(tasks, patterns, cf, live) == {
        p: _str_find_counts(live, p) for p in patterns}
