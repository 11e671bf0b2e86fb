"""Positional postings: index-side phrase verification must agree with the
text-scan phrase path and with a brute-force Python positional check."""

from __future__ import annotations

import pytest

from full_text_index_spark.build import build_index, prepare_corpus
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.query import (
    phrase_positions,
    phrase_search,
    term_positions,
)
from full_text_index_spark.tokenizer import tokenize_py


@pytest.fixture(scope="module")
def pos_index(spark, tiny_corpus_pdf, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("posidx"))
    corpus = prepare_corpus(spark.createDataFrame(tiny_corpus_pdf))
    build_index(spark, corpus, root, n_segments=4, block_size=16, positions=True)
    return InvertedIndex.open(spark, root)


@pytest.fixture(scope="module")
def corpus_with_ids(spark, tiny_corpus_pdf, pos_index):
    ds = pos_index.doc_stats().select("url", "doc_id").toPandas()
    return tiny_corpus_pdf.merge(ds, on="url")


def test_term_positions_match_brute_force(pos_index, corpus_with_ids):
    term = "bababa0"  # Zipf head of the synthetic vocabulary
    expected = {}
    for _, r in corpus_with_ids.iterrows():
        pos = [i + 1 for i, t in enumerate(tokenize_py(r["text"])) if t == term]
        if pos:
            expected[r["doc_id"]] = pos
    got: dict[int, list[int]] = {}
    for row in term_positions(pos_index, [term]).collect():
        got.setdefault(row["doc_id"], []).append(row["tpos"])
    got = {d: sorted(v) for d, v in got.items()}
    assert got == expected


def test_phrase_positions_equals_text_scan(spark, pos_index, corpus_with_ids):
    """The index-side positional phrase plan and the candidate+text-scan plan
    must produce identical (doc, count) sets — two independent
    implementations of the same semantics (the reference's differential
    method, utils/compare.c)."""
    # phrases built from actual corpus bigrams so hits exist
    text0 = corpus_with_ids.iloc[0]["text"]
    toks = tokenize_py(text0)
    phrases = [
        f"{toks[0]} {toks[1]}",
        f"{toks[2]} {toks[3]} {toks[4]}",
        "bababa0 bababa0",          # repeated-term phrase
        "absentterm bababa0",       # no hits
    ]
    corpus = spark.createDataFrame(
        corpus_with_ids[["doc_id", "url", "text"]]
    )
    a = {
        (r["phrase"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_positions(pos_index, phrases).collect()
    }
    b = {
        (r["phrase"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_search(pos_index, corpus, phrases).collect()
    }
    # identical doc sets AND counts: both paths count every anchored start
    # (overlapping included — "x x x" has two "x x" on BOTH paths since the
    # text scan enumerates starts instead of substring-replace counting)
    assert a == b
    assert len(a) > 0


def test_phrase_plan_is_batched(spark, pos_index, corpus_with_ids):
    """50-phrase workload: one bounded plan (joins don't grow with the
    phrase count) and results identical to a brute-force Python positional
    check (VERDICT r01 #6)."""
    import re

    texts = corpus_with_ids
    toks0 = tokenize_py(texts.iloc[0]["text"])
    phrases = []
    for i in range(50):
        row = texts.iloc[i % 20]
        ts = tokenize_py(row["text"])
        j = (7 * i) % max(len(ts) - 3, 1)
        n = 2 + i % 3
        phrases.append(" ".join(ts[j:j + n]))
    phrases = sorted(set(phrases))
    out = phrase_positions(pos_index, phrases)
    # bounded plan: the join count must not scale with the phrase count
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    n_joins = len(re.findall(r"\bJoin\b", plan))
    assert n_joins <= 4, f"plan has {n_joins} joins for {len(phrases)} phrases"
    got = {
        (r["phrase"], r["doc_id"]): r["n_occurrences"] for r in out.collect()
    }
    # brute force: overlapping positional occurrence count per doc
    expected = {}
    for _, r in texts.iterrows():
        ts = tokenize_py(r["text"])
        for p in phrases:
            pt = tokenize_py(p)
            c = sum(
                1
                for s in range(len(ts) - len(pt) + 1)
                if ts[s:s + len(pt)] == pt
            )
            if c:
                expected[(p, r["doc_id"])] = c
    assert got == expected
    assert len(toks0) > 0


def test_positions_require_positional_index(tiny_index):
    from full_text_index_spark.query import phrase_prefix_search

    with pytest.raises(ValueError):
        term_positions(tiny_index, ["bababa0"])
    with pytest.raises(ValueError, match="positions=True"):
        phrase_positions(tiny_index, ["bababa0 bababa1"])
    with pytest.raises(ValueError, match="positions=True"):
        phrase_prefix_search(tiny_index, ["bababa0 bab"])


def test_near_count_matches_brute_force(pos_index, corpus_with_ids):
    from full_text_index_spark.query import near_count

    # head-of-Zipf terms co-occur densely; include a tight window, a loose
    # one, and an absent partner
    queries = [("bababa0", "cebaba1", 2), ("bababa0", "dibaba2", 6),
               ("bababa0", "zzznope", 4)]
    expected = {}
    for _, r in corpus_with_ids.iterrows():
        toks = tokenize_py(r["text"])
        pos = {}
        for i, t in enumerate(toks):
            pos.setdefault(t, []).append(i + 1)
        for a, b, w in queries:
            n = sum(
                1
                for ia in pos.get(a, [])
                for ib in pos.get(b, [])
                if abs(ia - ib) <= w
            )
            if n:
                expected[(a, b, w, r["doc_id"])] = n
    got = {
        (r["term_a"], r["term_b"], r["window"], r["doc_id"]): r["n_pairs"]
        for r in near_count(pos_index, queries).collect()
    }
    assert got == expected
    assert any(k[2] == 2 for k in got)   # tight window actually hits


def test_near_count_rejects_equal_terms(pos_index):
    from full_text_index_spark.query import near_count

    with pytest.raises(ValueError):
        near_count(pos_index, [("x", "x", 3)])


def test_phrase_search_counts_adjacent_occurrences(spark, pos_index):
    """Adjacent phrase occurrences share their separator space — the old
    substring-replace count consumed it and reported 1 for 'a b' in
    'a b a b'.  Both phrase paths must report every anchored start."""
    import pandas as pd

    from full_text_index_spark.build import build_index, prepare_corpus
    from full_text_index_spark.index import InvertedIndex

    pdf = pd.DataFrame({
        "url": ["http://x/adj0", "http://x/adj1"],
        "text": ["qa qb qa qb", "qx qx qx qx"],
    })
    import tempfile

    root = tempfile.mkdtemp(prefix="fti_adj_")
    corpus = prepare_corpus(spark.createDataFrame(pdf))
    build_index(spark, corpus, root, n_segments=2, block_size=16,
                positions=True)
    idx = InvertedIndex.open(spark, root)
    docs = corpus  # prepared corpus already carries doc_id/url/text
    phrases = ["qa qb", "qx qx"]
    a = {(r["phrase"], r["doc_id"]): r["n_occurrences"]
         for r in phrase_positions(idx, phrases).collect()}
    b = {(r["phrase"], r["doc_id"]): r["n_occurrences"]
         for r in phrase_search(idx, docs, phrases).collect()}
    assert a == b
    by_phrase = {p: n for (p, _), n in a.items()}
    assert by_phrase["qa qb"] == 2   # adjacent, non-overlapping
    assert by_phrase["qx qx"] == 3   # self-overlapping starts 1, 2, 3
