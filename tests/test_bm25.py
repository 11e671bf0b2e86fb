"""Engine vs oracle rank-identity — the reference's differential test
(reference: utils/compare.c:87-103; oracle role: sau/SAu.c:253-392)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from full_text_index_spark.oracle import bm25_oracle
from full_text_index_spark.query import bm25_topk
from full_text_index_spark.tokenizer import tokenize_py


def _query_set(corpus_pdf: pd.DataFrame) -> list[tuple[int, list[str]]]:
    """Seeded genpatterns analog: terms sampled from the corpus (guaranteed
    hits) + the edge queries from FIXTURES.md §2."""
    rng = np.random.default_rng(1234)
    vocab = {}
    for t in corpus_pdf["text"]:
        for tok in tokenize_py(t):
            vocab[tok] = vocab.get(tok, 0) + 1
    terms = sorted(vocab)
    weights = np.sqrt([vocab[t] for t in terms])
    probs = weights / weights.sum()
    queries: list[tuple[int, list[str]]] = []
    qid = 0
    for n_terms in [1] * 8 + [2] * 8 + [3] * 4:
        pick = rng.choice(len(terms), size=n_terms, replace=False, p=probs)
        queries.append((qid, [terms[i] for i in pick]))
        qid += 1
    head = max(vocab, key=vocab.get)
    queries += [
        (qid, ["absentterm"]),             # never occurs (corpus.py guarantees)
        (qid + 1, ["singletonterm0"]),     # occurs exactly once
        (qid + 2, [head]),                 # Zipf head term
        (qid + 3, [head, head]),           # duplicated term (set semantics)
        (qid + 4, [head, "absentterm"]),   # mixed present/absent
    ]
    return queries


@pytest.fixture(scope="module")
def query_set(tiny_corpus_pdf):
    return _query_set(tiny_corpus_pdf)


@pytest.fixture(scope="module")
def oracle_result(tiny_corpus_pdf, tiny_index):
    docs = tiny_corpus_pdf.copy()
    # same doc_ids the engine derived from url
    ds = tiny_index.doc_stats().select("url", "doc_id").toPandas()
    docs = docs.merge(ds, on="url")
    return docs


def _run_engine(tiny_index, queries, use_blockmax):
    spark = tiny_index.spark
    qdf = spark.createDataFrame(
        [(q, t) for q, t in queries], "qid long, terms array<string>"
    )
    out = bm25_topk(tiny_index, qdf, k=10, use_blockmax=use_blockmax)
    return out.toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)


@pytest.mark.parametrize("use_blockmax", [False, True])
def test_rank_identity_vs_oracle(tiny_index, oracle_result, query_set, use_blockmax):
    golden = bm25_oracle(oracle_result, query_set, k=10)
    got = _run_engine(tiny_index, query_set, use_blockmax)
    golden = golden.sort_values(["qid", "rank"]).reset_index(drop=True)
    assert len(got) == len(golden), (len(got), len(golden))
    assert got["qid"].tolist() == golden["qid"].tolist()
    assert got["rank"].tolist() == golden["rank"].tolist()
    assert got["doc_id"].tolist() == golden["doc_id"].tolist()
    np.testing.assert_allclose(got["score"], golden["score"], rtol=1e-9)


def test_blockmax_equals_exact(tiny_index, query_set):
    a = _run_engine(tiny_index, query_set, use_blockmax=True)
    b = _run_engine(tiny_index, query_set, use_blockmax=False)
    pd.testing.assert_frame_equal(a, b)


def test_absent_query_returns_empty(tiny_index):
    spark = tiny_index.spark
    qdf = spark.createDataFrame([(0, ["absentterm"])], "qid long, terms array<string>")
    assert bm25_topk(tiny_index, qdf).count() == 0


def test_wildcard_term_search_matches_brute(tiny_corpus_pdf, tiny_index):
    from full_text_index_spark.query import wildcard_term_search

    import re

    patterns = ["ba*", "*aba2", "*bab*", "zzz*q", "bababa0"]
    ds = tiny_index.doc_stats().select("url", "doc_id").toPandas()
    docs = tiny_corpus_pdf.merge(ds, on="url")
    want = {}
    for p in patterns:
        rx = re.compile(
            "^" + ".*".join(re.escape(s) for s in p.split("*")) + "$"
        )
        terms, n_occ, dids = set(), 0, set()
        for _, r in docs.iterrows():
            for t in tokenize_py(r["text"]):
                if rx.match(t):
                    terms.add(t)
                    n_occ += 1
                    dids.add(r["doc_id"])
        want[p] = (len(terms), n_occ, len(dids))
    got = {
        r["pattern"]: (r["n_terms"], r["n_occurrences"], r["n_docs_matching"])
        for r in wildcard_term_search(tiny_index, patterns).collect()
    }
    assert got == want
    assert want["ba*"][0] >= 1          # prefix family exists
    assert want["zzz*q"] == (0, 0, 0)   # zero-filled absent glob


def test_more_like_this_excludes_self_and_ranks_dups_first(spark, tmp_path_factory):
    from full_text_index_spark.build import build_index, prepare_corpus
    from full_text_index_spark.index import InvertedIndex
    from full_text_index_spark.query import more_like_this

    rows = [
        (1, "u://1", "alpha beta gamma delta epsilon zeta"),
        (2, "u://2", "alpha beta gamma delta epsilon eta"),   # near-dup of 1
        (3, "u://3", "totally different words entirely here"),
        (4, "u://4", "alpha beta unrelated tail words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    root = str(tmp_path_factory.mktemp("mltidx"))
    build_index(spark, prepare_corpus(docs), root, n_segments=2, block_size=8)
    idx = InvertedIndex.open(spark, root)
    from pyspark.sql import functions as F

    out = more_like_this(idx, docs.where(F.col("doc_id").isin([1, 3])),
                         k=3, n_query_terms=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["doc_id"]))
    for qid, hits in by_q.items():
        hits.sort()
        assert all(d != qid for _, d in hits)            # self excluded
        assert [r for r, _ in hits] == list(range(1, len(hits) + 1))
    assert by_q[1][0][1] == 2                            # near-dup first


def _broadcast_subtrees(plan: str) -> list[str]:
    """Text of every BroadcastExchange subtree in a physical-plan tree
    string (subtree = following lines with strictly deeper indentation)."""
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    subtrees = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = depth(ln)
        block = []
        for nxt in lines[i + 1:]:
            if nxt.strip() and depth(nxt) <= d:
                break
            block.append(nxt)
        subtrees.append("\n".join(block))
    return subtrees


def test_bm25_never_broadcasts_the_dictionary(spark, tiny_index):
    """The query⋈term_stats join must broadcast the (driver-resident by
    construction) query side, never the vocab-scale dictionary (VERDICT r05
    #1): no BroadcastExchange subtree may contain the term_stats scan, in
    either the exact-scoring path or collapse_topk."""
    from pyspark.sql import functions as F

    from full_text_index_spark.query import collapse_topk

    queries = spark.createDataFrame(
        [(0, ["the", "a"]), (1, ["fox"])], "qid long, terms array<string>"
    )
    groups = spark.createDataFrame([(1, "g")], "doc_id long, group string")
    plans = [
        bm25_topk(tiny_index, queries, k=5, use_blockmax=False)
        ._jdf.queryExecution().executedPlan().toString(),
        collapse_topk(tiny_index, queries, groups, k=5)
        ._jdf.queryExecution().executedPlan().toString(),
    ]
    for plan in plans:
        assert "term_stats" in plan  # the join is present at all
        for sub in _broadcast_subtrees(plan):
            # broadcasting the query⋈dictionary JOIN RESULT downstream is
            # fine (its cardinality is the query batch); broadcasting the
            # BARE dictionary is the hazard — so a term_stats scan inside a
            # broadcast subtree must be accompanied by the query-batch scan
            # (i.e. it is already semi-joined down to query-term rows)
            if "term_stats" in sub:
                assert "ExistingRDD" in sub, sub


def _term_sets_loop(qterms_pd):
    """The per-qid loop bm25_topk's term-set dedup replaced — the reference
    for query._term_sets."""
    set_of_qid = {}
    for qid, grp in qterms_pd.groupby("qid"):
        set_of_qid[int(qid)] = tuple(sorted(grp["term"].tolist()))
    sid_of_set, qid_sid_rows = {}, []
    for qid, ts in sorted(set_of_qid.items()):
        qid_sid_rows.append((qid, sid_of_set.setdefault(ts, len(sid_of_set))))
    idf_of_term = dict(zip(qterms_pd["term"].tolist(), qterms_pd["idf"].tolist()))
    sets = pd.DataFrame([{"sid": sid, "term": t, "idf": idf_of_term[t]}
                         for ts, sid in sid_of_set.items() for t in ts])
    return qid_sid_rows, sets


@pytest.mark.parametrize("n_queries", [0, 1, 500])
def test_term_sets_match_the_per_qid_loop(n_queries):
    from full_text_index_spark.query import _term_sets

    rng = np.random.default_rng(n_queries)
    vocab = [f"t{i:03d}" for i in range(60)]
    rows = []
    for qid in rng.permutation(n_queries):
        # a small head vocabulary makes term sets repeat across qids
        pool = vocab[:6] if qid % 2 else vocab
        for t in set(rng.choice(pool, int(rng.integers(1, 5)))):
            rows.append((int(qid) * 3, t, 1.0 + int(t[1:]) / 7))
    qterms_pd = pd.DataFrame(rows, columns=["qid", "term", "idf"])
    want_qid_sid, want_sets = _term_sets_loop(qterms_pd)
    qid_sid, sets = _term_sets(qterms_pd)
    assert list(qid_sid.itertuples(index=False, name=None)) == want_qid_sid
    assert sets.equals(want_sets)
    if n_queries > 1:
        assert qid_sid["sid"].nunique() < len(qid_sid)


# ---------------------------------------------------------------------------
# the BM25 kernel alone (no Spark): per-set top-k vs a brute-force scorer
# ---------------------------------------------------------------------------

_K1, _B, _AVGDL = 1.2, 0.75, 7.0


def _row(term, docs, tfs, dls, segment=0):
    from full_text_index_spark.codec import encode_gaps, varbyte_encode

    return {"segment": segment, "term": term, "doc_blob": encode_gaps(docs),
            "tf_blob": varbyte_encode(tfs), "dl_blob": varbyte_encode(dls)}


def _tomb(docs, segment=0):
    from full_text_index_spark.codec import encode_gaps

    return {"segment": segment, "term": None, "doc_blob": encode_gaps(docs),
            "tf_blob": None, "dl_blob": None}


def _sets(term_sets, idf):
    return pd.DataFrame([{"sid": sid, "term": t, "idf": idf[t]}
                         for sid, ts in enumerate(term_sets)
                         for t in sorted(set(ts))],
                        columns=["sid", "term", "idf"])


def _brute_topk(rows, sets_pd, k):
    """Score every (set, doc) by summing its terms' contributions in
    ascending term order; keep (score@6 desc, doc_id asc) top-k."""
    from full_text_index_spark.codec import decode_rows

    deleted, postings = set(), {}
    for r in rows:
        if r["term"] is None:
            deleted |= set(decode_rows([r["doc_blob"]]).doc.tolist())
            continue
        p = decode_rows([r["doc_blob"]], [r["tf_blob"]], [r["dl_blob"]])
        for d, tf, dl in zip(p.doc.tolist(), p.tf.tolist(), p.dl.tolist()):
            postings.setdefault(r["term"], {})[d] = (tf, dl)
    out = []
    for sid, grp in sets_pd.groupby("sid"):
        scores = {}
        for t, idf in sorted(zip(grp["term"], grp["idf"])):
            for d, (tf, dl) in postings.get(t, {}).items():
                if d not in deleted:
                    c = idf * (_K1 + 1.0) * tf / (
                        tf + _K1 * (1.0 - _B + _B * dl / _AVGDL))
                    scores[d] = scores.get(d, 0.0) + c
        ranked = sorted(scores.items(), key=lambda x: (-np.round(x[1], 6), x[0]))
        out += [(sid, d, s) for d, s in ranked[:k]]
    return pd.DataFrame(out, columns=["sid", "doc_id", "score"])


def _run_kernel(rows, sets_pd, k):
    from full_text_index_spark.query import _make_bm25_kernel

    kernel = _make_bm25_kernel(k1=_K1, b=_B, avgdl=_AVGDL, k=k, sets_pd=sets_pd)
    return kernel(pd.DataFrame(rows, columns=["segment", "term", "doc_blob",
                                              "tf_blob", "dl_blob"]))


def _canon(df):
    return (df.astype({"sid": "int64", "doc_id": "int64", "score": "float64"})
            .sort_values(["sid", "doc_id"]).reset_index(drop=True))


def _assert_kernel_matches_brute(rows, sets_pd, k):
    got = _canon(_run_kernel(rows, sets_pd, k))
    want = _canon(_brute_topk(rows, sets_pd, k))
    assert got[["sid", "doc_id"]].values.tolist() == \
        want[["sid", "doc_id"]].values.tolist()
    # same contributions, each (set, doc) summed from 0.0 in ascending term
    # order: the scores are the same floats, not just close ones
    np.testing.assert_array_equal(got["score"], want["score"])
    return got


def _kernel_case(seed):
    """Posting rows for a head term (every doc), tail terms, one term split
    over two generation rows, tombstones, and sets sharing the head."""
    rng = np.random.default_rng(seed)
    n_docs = 60
    rows = [_row("head", np.arange(n_docs), np.ones(n_docs, int),
                 np.full(n_docs, 7))]          # every doc ties on "head"
    for t in ["t0", "t1", "t2", "t3"]:
        docs = np.sort(rng.choice(n_docs, int(rng.integers(1, 30)), False))
        rows.append(_row(t, docs, rng.integers(1, 4, len(docs)),
                         rng.integers(3, 12, len(docs))))
    # generation rows: "gen" in docs 0-19 and, appended later, 40-59
    for lo in (0, 40):
        docs = np.arange(lo, lo + 20)
        rows.append(_row("gen", docs, rng.integers(1, 4, 20),
                         rng.integers(3, 12, 20)))
    rows.append(_tomb(np.sort(rng.choice(n_docs, 6, False))))
    rows = [rows[i] for i in rng.permutation(len(rows))]
    idf = {t: 0.5 + i / 3 for i, t in
           enumerate(["absent", "gen", "head", "t0", "t1", "t2", "t3"])}
    term_sets = [["head"], ["head", "t0"], ["head", "t1"], ["head", "t1", "t2"],
                 ["gen"], ["gen", "t3"], ["t0", "t1", "t2", "t3"],
                 ["absent"], ["absent", "t2"], ["head", "gen", "t0"], ["t0"]]
    return rows, _sets(term_sets, idf)


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("k", [0, 1, 3, 10, 200])
def test_kernel_matches_brute_force(seed, k):
    """Ties straddle the k-th score (the head term scores every doc alike),
    many sets share the head term, one term has two generation rows, some
    docs are tombstoned, one set's terms are all absent and k=200 exceeds
    every set's candidate count."""
    rows, sets_pd = _kernel_case(seed)
    got = _assert_kernel_matches_brute(rows, sets_pd, k)
    assert 7 not in set(got["sid"])                  # all-absent set: no rows
    if k == 3:
        head_only = got[got["sid"] == 0]["doc_id"].tolist()
        assert len(head_only) == 3                  # 54 live docs tie
        assert head_only == sorted(head_only)
    if k == 200:
        assert (got.groupby("sid").size() < k).all()


def test_kernel_edge_inputs():
    rows, sets_pd = _kernel_case(0)
    tomb_only = [r for r in rows if r["term"] is None]
    assert len(_run_kernel(tomb_only, sets_pd, 10)) == 0
    assert len(_run_kernel(rows, pd.DataFrame([]), 10)) == 0
    assert len(_run_kernel(tomb_only, pd.DataFrame([]), 10)) == 0


@pytest.mark.parametrize("budget", [1, 3, 40])
def test_kernel_chunking_is_invisible(monkeypatch, budget):
    """Cutting the sets into chunks of a few triples (which also moves sets
    between the dense-grid and the sorted sum) changes no bit of the
    output, and doc_ids near 2**63 - 1 do not overflow the int64 keys."""
    from full_text_index_spark import query

    rows, sets_pd = _kernel_case(5)
    big = 2 ** 63 - 2
    rows.append(_row("t0", np.array([big - 5, big]), np.array([6, 9]),
                     np.array([3, 2]), segment=1))
    rows.append(_row("head", np.array([big - 5]), np.array([2]),
                     np.array([4]), segment=1))
    # a term over 1000 more docs leaves the (set × doc) grid sparse, so the
    # whole batch is summed by the sorted path and the small chunks mostly
    # on the grid
    rows.append(_row("wide", np.arange(1000, 2000), np.ones(1000, int),
                     np.full(1000, 5)))
    sets_pd = pd.concat([sets_pd, _sets([["wide"]], {"wide": 0.7}).assign(sid=99)])
    whole = _assert_kernel_matches_brute(rows, sets_pd, 4)
    assert big in set(whole["doc_id"]) and big - 5 in set(whole["doc_id"])
    monkeypatch.setattr(query, "KERNEL_TRIPLE_BUDGET", budget)
    pd.testing.assert_frame_equal(_canon(_run_kernel(rows, sets_pd, 4)), whole,
                                  check_exact=True)


def test_select_topk_matches_a_full_sort():
    """The block-maximum prefilter drops nothing that a full sort would
    keep: groups of every size, heavy ties, and q values whose int64
    (group, q) key would overflow."""
    from full_text_index_spark.query import _select_topk

    rng = np.random.default_rng(3)
    sizes = rng.integers(1, 400, 300)
    group = np.repeat(np.arange(len(sizes)), sizes) * 7
    for q in (rng.integers(0, 20, len(group)),
              rng.integers(0, 2 ** 62, len(group))):
        for k in (1, 5, 70):
            taken: dict[int, int] = {}
            want = []
            for i in sorted(range(len(q)), key=lambda i: (group[i], -q[i], i)):
                if taken.get(group[i], 0) < k:
                    taken[group[i]] = taken.get(group[i], 0) + 1
                    want.append(i)
            assert _select_topk(group, q, k).tolist() == want
