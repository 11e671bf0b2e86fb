"""Tombstone deletes: every doc-level result excludes deleted docs
(both BM25 kernel paths, locate/positions, substring plans), deletes are
idempotent, dictionary stats stay physical until compact() rebuilds."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from full_text_index_spark.build import build_index, prepare_corpus
from full_text_index_spark.deletes import (
    compact,
    delete_docs,
    deleted_ids,
    mask_deleted,
)
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.query import bm25_topk, term_locate, term_positions
from full_text_index_spark.substring import build_gram_index, substring_locate
from tests.conftest import bm25_exact_topk


TEXTS = [
    "alpha beta gamma shared words here",
    "alpha beta gamma shared words there",
    "alpha beta gamma shared words everywhere",
    "unrelated content entirely different",
    "alpha beta gamma shared words again",
]


@pytest.fixture()
def del_setup(spark, tmp_path):
    pdf = pd.DataFrame({
        "doc_id": range(len(TEXTS)),
        "url": [f"u://{i}" for i in range(len(TEXTS))],
        "text": TEXTS,
    })
    docs = spark.createDataFrame(pdf)
    root = str(tmp_path / "idx")
    build_index(spark, prepare_corpus(docs), root, n_segments=2,
                block_size=4, positions=True)
    return InvertedIndex.open(spark, root), docs


def _bm25_docs(idx, spark, exact=False):
    q = spark.createDataFrame([(0, ["alpha", "shared"])],
                              "qid long, terms array<string>")
    out = bm25_exact_topk(idx, q, 10) if exact else bm25_topk(idx, q, k=10)
    return sorted(r["doc_id"] for r in out.collect())


def test_deletes_excluded_everywhere(del_setup, spark):
    idx, docs = del_setup
    assert _bm25_docs(idx, spark) == [0, 1, 2, 4]
    n = delete_docs(idx, [1, 4])
    assert n == 2
    # both BM25 paths (kernel mask on in-band tombstone rows + exact anti-join)
    assert _bm25_docs(idx, spark) == [0, 2]
    assert _bm25_docs(idx, spark, exact=True) == [0, 2]
    # locate / positions ("alpha" lives in docs 0,1,2,4; 1 and 4 deleted)
    got = sorted(r["doc_id"] for r in term_locate(idx, ["alpha"]).collect())
    assert got == [0, 2]
    assert sorted({r["doc_id"] for r in
                   term_positions(idx, ["shared"]).collect()}) == [0, 2]


def test_phrase_ops_exclude_deleted_across_generations(spark, tmp_path):
    """phrase_positions and phrase_prefix_search on a two-generation
    positional token index (block_size=2: multi-block rows) with a
    tombstone in each generation equal a brute-force token scan of the
    live docs; "alpha beta" occurs in both generations, in deleted and
    live docs alike."""
    from full_text_index_spark.query import (
        phrase_positions,
        phrase_prefix_search,
    )
    from full_text_index_spark.streaming import append_generation
    from full_text_index_spark.tokenizer import tokenize_py

    gen0 = ["alpha beta gamma alpha beta", "beta alpha beta gamma",
            "gamma gamma alpha beta", "delta alpha beta",
            "alpha betamax gamma", "beta gamma beta gamma"]
    gen1 = ["alpha beta again alpha beta", "beta gamma alpha beta",
            "zeta alpha beta alpha", "alpha beta gamma"]
    root = str(tmp_path / "idx")
    build_index(spark, prepare_corpus(spark.createDataFrame(pd.DataFrame({
        "url": [f"u://0/{i}" for i in range(len(gen0))], "text": gen0}))),
        root, n_segments=2, block_size=2, positions=True)
    append_generation(spark, spark.createDataFrame(pd.DataFrame({
        "url": [f"u://1/{i}" for i in range(len(gen1))], "text": gen1})),
        root, 1, n_segments=2, block_size=2, positions=True)
    idx = InvertedIndex.open(spark, root)
    text = dict(zip([f"u://0/{i}" for i in range(len(gen0))]
                    + [f"u://1/{i}" for i in range(len(gen1))], gen0 + gen1))
    ids = {r["url"]: r["doc_id"] for r in idx.doc_stats().collect()}
    dead = {ids["u://0/0"], ids["u://1/0"]}
    delete_docs(idx, sorted(dead))
    live = {ids[u]: tokenize_py(t) for u, t in text.items()
            if ids[u] not in dead}
    assert max(live) >= 1 << 44  # the second generation is searched

    def brute(windows):
        out = {}
        for p, slots in windows.items():
            for d, toks in live.items():
                n = sum(all(s + i < len(toks) and toks[s + i] in alts
                            for i, alts in enumerate(slots))
                        for s in range(len(toks)))
                if n:
                    out[(p, d)] = n
        return out

    def rows(df):
        return {(r["phrase"], r["doc_id"]): r["n_occurrences"]
                for r in df.collect()}

    phrases = ["alpha beta", "beta gamma", "gamma alpha beta", "alpha zzz"]
    want = brute({p: [{t} for t in p.split()] for p in phrases})
    assert {p for p, _ in want} == {"alpha beta", "beta gamma",
                                    "gamma alpha beta"}
    assert rows(phrase_positions(idx, phrases)) == want
    vocab = {t for toks in text.values() for t in tokenize_py(toks)}
    prefixes = ["alpha bet", "gamma al", "be"]
    want = brute({p: [{t} for t in p.split()[:-1]]
                  + [{t for t in vocab if t.startswith(p.split()[-1])}]
                  for p in prefixes})
    assert ("alpha bet", ids["u://0/4"]) in want   # the "betamax" completion
    assert rows(phrase_prefix_search(idx, prefixes)) == want


def test_delete_idempotent_and_incremental(del_setup):
    idx, _ = del_setup
    assert delete_docs(idx, [1]) == 1
    assert delete_docs(idx, [1]) == 1          # replay: no growth
    assert delete_docs(idx, [1, 4]) == 2       # merge with existing
    assert deleted_ids(idx).tolist() == [1, 4]


def test_mask_deleted_noop_without_tombstones(del_setup, spark):
    idx, _ = del_setup
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    assert mask_deleted(idx, df) is df          # identical plan object


def test_substring_plans_exclude_deleted(spark, tmp_path):
    pdf = pd.DataFrame({
        "doc_id": range(len(TEXTS)),
        "url": [f"u://{i}" for i in range(len(TEXTS))],
        "text": TEXTS,
    })
    docs = spark.createDataFrame(pdf)
    root = str(tmp_path / "gidx")
    build_gram_index(spark, prepare_corpus(docs), root, k=3, n_segments=2,
                     block_size=8)
    gidx = InvertedIndex.open(spark, root)
    delete_docs(gidx, [0, 2])
    got = sorted({r["doc_id"] for r in
                  substring_locate(gidx, ["shared wo"]).collect()})
    assert got == [1, 4]
    # short (prefix-gram + tails) plan
    from full_text_index_spark.substring import substring_locate_short
    got = sorted({r["doc_id"] for r in
                  substring_locate_short(gidx, ["al"]).collect()})
    assert got == [1, 4]


def test_compact_reclaims_and_refreshes_stats(del_setup, spark, tmp_path):
    idx, docs = del_setup
    delete_docs(idx, [0, 1, 2])
    prepared = prepare_corpus(docs)
    new_root = str(tmp_path / "compacted")
    new_idx = compact(idx, prepared, new_root)
    assert deleted_ids(new_idx) is None
    assert new_idx.n_docs == 2                  # stats refreshed
    assert _bm25_docs(new_idx, spark) == [4]
    # dictionary genuinely shrank: "there"/"here" only lived in deleted docs
    terms = {r["term"] for r in new_idx.term_stats().select("term").collect()}
    assert "there" not in terms


def test_tombstones_distributed_past_old_cap(del_setup, spark):
    """>2M tombstones (the old driver-closure cap) work end to end: the
    set is merged/stored as DataFrames, the BM25 kernel receives it as
    per-segment blob rows, and results still exclude exactly the deleted
    live docs (VERDICT r04 #3)."""
    idx, _ = del_setup
    # 2.5M ids: docs 1 and 4 (live) plus 2 499 998 absent ids — absent
    # tombstones must be no-ops in every path
    big = spark.range(1_000_000, 3_499_998).withColumnRenamed("id", "doc_id")
    ids = big.union(spark.createDataFrame([(1,), (4,)], "doc_id long"))
    n = delete_docs(idx, ids)
    assert n == 2_500_000
    # replay is idempotent at this size too
    assert delete_docs(idx, [1, 4]) == 2_500_000
    assert _bm25_docs(idx, spark) == [0, 2]                      # kernel path
    assert _bm25_docs(idx, spark, exact=True) == [0, 2]  # join path
    got = sorted(r["doc_id"] for r in term_locate(idx, ["alpha"]).collect())
    assert got == [0, 2]


def test_tombstone_segment_blobs_round_trip(del_setup):
    """The per-segment blob rows decode back to exactly the stored set,
    partitioned by the build's pmod(doc_id, n_segments) rule."""
    import numpy as np

    from full_text_index_spark.codec import decode_gaps
    from full_text_index_spark.deletes import tombstone_segment_blobs

    idx, _ = del_setup
    assert tombstone_segment_blobs(idx) is None
    delete_docs(idx, [0, 1, 4])
    rows = {r["segment"]: decode_gaps(bytes(r["doc_blob"]))
            for r in tombstone_segment_blobs(idx).collect()}
    nseg = int(idx.meta["n_segments"])
    expect: dict[int, list[int]] = {}
    for d in (0, 1, 4):
        expect.setdefault(d % nseg, []).append(d)
    assert set(rows) == set(expect)
    for seg, ids in expect.items():
        assert rows[seg].tolist() == sorted(ids)


def test_deletes_excluded_from_search_layer_ops(del_setup, spark):
    """The round-4 search-layer ops all route through masked primitives
    (_bm25_scored_exact / boolean_and / term_positions) — assert the
    tombstone actually falls out of each result."""
    from full_text_index_spark.query import (
        boolean_search,
        collapse_topk,
        facet_counts,
        ranked_snippets,
        significant_terms,
    )

    idx, docs = del_setup
    delete_docs(idx, [1, 4])
    q = spark.createDataFrame([(0, ["alpha", "shared"])],
                              "qid long, terms array<string>")
    groups = docs.select(
        "doc_id",
        F.concat(F.lit("g"), (F.col("doc_id") % 2).cast("string"))
        .alias("group"),
    )
    got = collapse_topk(idx, q, groups, k=10, per_group=10)
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 2]

    facets = groups.select("doc_id", F.col("group").alias("facet"))
    fc = {(r["facet"]): r["n_docs"]
          for r in facet_counts(idx, facets, q).collect()}
    assert fc == {"g0": 2}  # docs 0 and 2; 1 and 4 tombstoned

    st = significant_terms(idx, docs, q, k=50)
    # fg set is {0, 2}: a term only in deleted docs can't appear
    assert all(r["fg_df"] <= 2 for r in st.collect())

    bq = spark.createDataFrame(
        [(0, ["alpha"], [], ["different"])],
        "qid long, must array<string>, should array<string>, "
        "must_not array<string>",
    )
    assert sorted(r["doc_id"] for r in boolean_search(idx, bq).collect()) \
        == [0, 2]

    rs = ranked_snippets(idx, docs, q, k=10, width=4)
    assert sorted(r["doc_id"] for r in rs.collect()) == [0, 2]


def _gram_fixture(spark, tmp_path):
    pdf = pd.DataFrame({
        "doc_id": range(len(TEXTS)),
        "url": [f"u://{i}" for i in range(len(TEXTS))],
        "text": TEXTS,
    })
    docs = spark.createDataFrame(pdf)
    root = str(tmp_path / "gidx2")
    build_gram_index(spark, prepare_corpus(docs), root, k=3, n_segments=2,
                     block_size=8)
    return InvertedIndex.open(spark, root), docs


def test_scan_fallbacks_exclude_deleted(spark, tmp_path):
    """Cost-based routing to a corpus scan must not change which docs are
    visible: the approx scanned branch, the literal-free regex branch and
    substring_search's small-corpus scan all mask tombstones like the
    indexed plans they substitute for."""
    from full_text_index_spark.approx import approx_locate
    from full_text_index_spark.regex_search import regex_docs
    from full_text_index_spark.substring import substring_search

    gidx, docs = _gram_fixture(spark, tmp_path)
    delete_docs(gidx, [0, 2])

    # approx: 2-char pattern with e=1 -> q-gram threshold < 1 -> scan branch
    got = sorted({r["doc_id"] for r in
                  approx_locate(gidx, docs, ["sh"], max_edits=1).collect()})
    assert 0 not in got and 2 not in got and got  # 1 and 4 still match

    # regex with no required literal -> scan branch; 'everywhere' (doc 2,
    # deleted) and 'unrelated' (doc 3) are the only 7+-letter runs
    got = sorted({r["doc_id"] for r in
                  regex_docs(gidx, docs, ["[a-z]{7,}"]).collect()})
    assert got == [3]

    # substring_search: tiny corpus_bytes routes to the scan
    got = sorted({r["doc_id"] for r in
                  substring_search(docs, gidx, ["shared wo"]).collect()})
    assert got == [1, 4]


def test_substring_count_masks_every_length_class(spark, tmp_path):
    """With live tombstones, counts for len<k, len==k and len>k patterns
    all exclude deleted docs (one result set, one delete semantics)."""
    from full_text_index_spark.substring import substring_count

    gidx, docs = _gram_fixture(spark, tmp_path)
    texts_live = {i: t for i, t in enumerate(TEXTS) if i not in (0, 2)}
    delete_docs(gidx, [0, 2])
    pats = ["al", "sha", "shared wo"]  # len<k, len==k, len>k (k=3)
    got = {r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
           for r in substring_count(gidx, pats).collect()}
    for p in pats:
        docs_m = [i for i, t in texts_live.items() if p in t]
        occ = sum(t.count(p) for t in texts_live.values())
        # overlapping counting: these patterns have no self-overlap, so
        # str.count matches the engine's overlapping semantics here
        assert got[p] == (len(docs_m), occ), p
    # self-overlapping patterns ("ere", "a ga": a prefix is also a suffix;
    # "ere" lives in two deleted docs and one live one) and a repeated-gram
    # pattern ("ent" at slots 0 and 4 of "ent ent"), counted by start
    # position
    extra = ["ere", "a ga", "ent ent", "ntent ent"]
    got = {r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
           for r in substring_count(gidx, extra).collect()}
    for p in extra:
        starts = {i: sum(t.startswith(p, j) for j in range(len(t)))
                  for i, t in texts_live.items()}
        assert got[p] == (sum(1 for n in starts.values() if n),
                          sum(starts.values())), p


def test_rebuild_in_place_clears_docs_and_tombstones(spark, tmp_path):
    """resume=False rebuild over an existing dir must not leave the old
    corpus's docs parquet (fed to tails/short_stats when the new corpus
    carries doc_id) or its tombstones (stale ids masking fresh docs)."""
    import os

    root = str(tmp_path / "ridx")
    pdf_a = pd.DataFrame({
        "url": [f"u://{i}" for i in range(3)],
        "text": ["old corpus alpha", "old corpus beta", "old corpus gamma"],
    })
    build_index(spark, spark.createDataFrame(pdf_a), root, n_segments=2,
                block_size=4)
    idx_a = InvertedIndex.open(spark, root)
    delete_docs(idx_a, [0])
    assert os.path.exists(os.path.join(root, "docs"))
    assert os.path.exists(os.path.join(root, "tombstones"))

    # new corpus WITH doc_id: the docs write is skipped, so the stale docs
    # dir and tombstones must have been cleaned
    pdf_b = pd.DataFrame({
        "doc_id": [0, 1],
        "url": ["u://a", "u://b"],
        "text": ["fresh corpus alpha", "fresh corpus beta"],
    })
    build_index(spark, prepare_corpus(spark.createDataFrame(pdf_b)), root,
                n_segments=2, block_size=4, resume=False)
    assert not os.path.exists(os.path.join(root, "docs"))
    assert not os.path.exists(os.path.join(root, "tombstones"))
    idx_b = InvertedIndex.open(spark, root)
    got = sorted(r["doc_id"] for r in term_locate(idx_b, ["fresh"]).collect())
    assert got == [0, 1]  # doc 0 not masked by the stale tombstone


def test_compact_preserves_custom_k1_b(spark, tmp_path):
    """compact() rebuilds must score like the source index: custom k1/b
    carry into the new root."""
    import json
    import os

    from full_text_index_spark.build import build_index
    from full_text_index_spark.corpus import CORPUS_SCHEMA, generate_corpus_pdf
    from full_text_index_spark.deletes import compact, delete_docs
    from full_text_index_spark.index import InvertedIndex

    pdf = generate_corpus_pdf(60, seed=11)
    docs = spark.createDataFrame(pdf, CORPUS_SCHEMA)
    root = str(tmp_path / "cidx")
    build_index(spark, docs, root, n_segments=4, block_size=16, k1=0.8, b=0.2)
    idx = InvertedIndex.open(spark, root)
    built_docs = idx.spark.read.parquet(os.path.join(root, "docs"))
    delete_docs(idx, [int(built_docs.first()["doc_id"])])
    new_root = str(tmp_path / "cidx2")
    idx2 = compact(idx, built_docs, new_root)
    with open(os.path.join(new_root, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["k1"] == 0.8 and meta["b"] == 0.2
    assert idx2.n_docs == 59
