"""The benchmark's workloads.

Each workload has a ``setup`` (inputs and the indexes it reads, built into
fresh directories), ``window_op(i)``, the i-th call of the timed window, and
``extras()``, calls a traced run makes after the window.  The window repeats
one kind of call with new seeded arguments each time.  Its calls only read,
so every call of a run, and of every version of the engine, sees the same
index state.  Each engine call runs inside ``ctx.call`` so that it gets its
own span.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import check
import gen

DOC_SCHEMA = "doc_id long, url string, text string"
BLOCK = 128
LSH_FUNCS, LSH_BANDS = 16, 4
CURATE_DOCS = 200  # before the injected duplicates


@dataclass
class Op:
    kind: str
    items: int                       # queries, patterns or docs answered; 0 for writes
    run: Callable[[], object]        # timed
    check: Callable[[object], bool]  # run after the timed window
    inputs: list = field(default_factory=list)  # the queries or patterns asked


def index_meta(root: str) -> dict:
    with open(os.path.join(root, "meta.json")) as fh:
        return json.load(fh)


def term_stats(root: str) -> dict[str, tuple[int, int]]:
    """term -> (df, cf), read straight from the index's parquet."""
    t = pq.read_table(os.path.join(root, "term_stats"), columns=["term", "df", "cf"])
    return {str(a): (int(b), int(c)) for a, b, c in
            zip(*(t.column(n).to_pylist() for n in ("term", "df", "cf")))}


def counts(units_per_doc) -> dict[str, tuple[int, int]]:
    """unit -> (docs containing it, occurrences) over an iterable of lists."""
    df: Counter = Counter()
    cf: Counter = Counter()
    for units in units_per_doc:
        cf.update(units)
        df.update(set(units))
    return {u: (df[u], cf[u]) for u in cf}


def local_df(spark, rows: list[tuple], schema: str):
    """A DataFrame of ``rows`` shipped to the JVM as Arrow batches.  From a
    plain list, Spark would scan the rows through Python workers instead."""
    names = [f.split()[0] for f in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def text_bytes(rows) -> int:
    return sum(len(t.encode()) for _, _, t in rows)


class Workload:
    name = ""
    n_docs = 0
    warmup = 0  # leading window calls, untimed: they pay first-use costs

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.docs = None
        self.root = None
        self.roots: list[str] = []  # every set-up's index, the last one is read

    def docs_df(self, rows):
        return local_df(self.spark, rows, DOC_SCHEMA)

    def reset(self) -> None:
        """Drop the previous set-up's cached docs."""
        if self.docs is not None:
            self.spark.catalog.clearCache()

    def check_setup(self, *result) -> bool:
        raise NotImplementedError

    def setup(self) -> tuple:
        """Build the inputs; returns what ``check_setup`` takes."""
        raise NotImplementedError

    def window_op(self, i: int) -> Op:
        """The i-th call of the window; it reads the last set-up's index."""
        raise NotImplementedError

    def extras(self) -> Iterator[Op]:
        """Calls a traced run makes after the window, for the layers no
        window reads."""
        return iter(())

    def index_ratio(self) -> float:
        return index_meta(self.root)["index_bytes"] / text_bytes(self.rows)


class SearchBatch(Workload):
    """BM25 top-10 batches against a token index.

    Set-up builds the index.  The window runs batches of 2000 seeded
    queries, a new batch per call; the first one warms the query path up and
    is left out of the timing.  A traced run then calls
    ``functions.curate`` and ``functions.minhash_lsh_pairs`` on a corpus with
    injected duplicates, and deletes, appends and queries on the first
    set-up's index, which reads tombstones and two generations of postings.
    """

    name = "search_batch"
    n_docs = 800
    warmup = 1
    batch = 2000
    sample = 4  # queries per batch checked against the oracle
    delete_docs = 20
    append_docs = 200

    def setup(self):
        from full_text_index_spark.build import build_index
        from full_text_index_spark.index import InvertedIndex

        self.reset()
        ctx = self.ctx
        self.rows = gen.corpus(ctx.seed, self.n_docs)
        self.docs = self.docs_df(self.rows).cache()
        self.root = ctx.fresh_dir("index")
        self.roots.append(self.root)
        ctx.call("build.build_index", lambda: build_index(
            self.spark, self.docs, self.root, n_segments=ctx.segments, block_size=BLOCK))
        self.index = InvertedIndex.open(self.spark, self.root)
        stats = term_stats(self.root)
        self.vocab = sorted(stats, key=lambda t: (-stats[t][0], t))
        self.meta = index_meta(self.root)
        self.all_rows = list(self.rows)
        self.deleted: set[int] = set()
        self.generation = 0
        return self.rows, self.root

    def check_setup(self, rows, root) -> bool:
        """The index holds every doc's exact term counts."""
        return (index_meta(root)["n_docs"] == len(rows)
                and term_stats(root) == counts(check.tokens(t) for _, _, t in rows))

    def _bm25(self, queries):
        from full_text_index_spark.query import bm25_topk

        qdf = local_df(self.spark, queries, "qid long, terms array<string>")
        return self.ctx.call("query.bm25_topk", lambda: bm25_topk(self.index, qdf, k=10).toPandas())

    def _batch_op(self, i: int) -> Op:
        seed = self.ctx.seed * 1000 + i
        queries = list(enumerate(gen.term_sets(seed, self.vocab, self.batch)))
        rng = np.random.default_rng(seed)
        picked = [queries[int(q)] for q in rng.choice(len(queries), self.sample, replace=False)]
        visible = list(self.all_rows)
        deleted = frozenset(self.deleted)
        if self.ctx.phase == "window":
            self.ctx.note("bm25_terms", sorted({t for _, ts in queries for t in ts}))

        def ok(got):
            ids = {q for q, _ in picked}
            ref = check.Bm25Reference(visible).topk(picked, deleted=deleted)
            return check.same_ranking(got[got["qid"].isin(ids)], ref)

        return Op("bm25_batch", len(queries), lambda: self._bm25(queries), ok, picked)

    def _delete_op(self, rng) -> Op:
        from full_text_index_spark import deletes

        live = sorted({d for d, _, _ in self.rows} - self.deleted)
        victims = [live[int(i)] for i in rng.choice(len(live), self.delete_docs, replace=False)]
        self.deleted.update(victims)
        expect = len(self.deleted)
        index = self.index

        def run():
            return self.ctx.call("deletes.delete_docs", lambda: deletes.delete_docs(index, victims))

        return Op("delete", 0, run, lambda n: n == expect)

    def _append_op(self, root: str) -> Op:
        from full_text_index_spark import streaming
        from full_text_index_spark.index import InvertedIndex

        self.generation += 1
        g = self.generation
        local = gen.corpus(self.ctx.seed * 100 + g, self.append_docs)
        self.all_rows += [(d + (g << streaming.GEN_SHIFT), u, t) for d, u, t in local]
        expect = len(self.all_rows)

        def run():
            self.ctx.call("streaming.append_generation", lambda: streaming.append_generation(
                self.spark, self.docs_df(local), root, g, n_segments=self.ctx.segments,
                block_size=BLOCK))
            # later batches see the new generation through a reopened handle
            self.index = InvertedIndex.open(self.spark, root)
            return self.index.n_docs

        return Op("append", 0, run, lambda n: n == expect)

    def _curation_ops(self) -> Iterator[Op]:
        """``functions.curate`` and ``functions.minhash_lsh_pairs`` on a
        seeded corpus with injected exact and near duplicates."""
        from full_text_index_spark.functions.dedup import minhash_lsh_pairs
        from full_text_index_spark.functions.pipeline import curate

        rows = gen.with_duplicates(self.ctx.seed, gen.corpus(self.ctx.seed + 1, CURATE_DOCS))
        docs = self.docs_df(rows)
        call = self.ctx.call
        yield Op("curate", len(rows),
                 lambda: call("functions.curate", lambda: curate(docs).toPandas()),
                 lambda got: check.curation_ok(rows, got))
        yield Op("minhash_lsh_pairs", len(rows),
                 lambda: call("functions.minhash_lsh_pairs", lambda: minhash_lsh_pairs(
                     docs, n_funcs=LSH_FUNCS, bands=LSH_BANDS).toPandas()),
                 lambda got: check.lsh_pairs_ok(rows, got, LSH_BANDS))

    def window_op(self, i):
        return self._batch_op(i)

    def extras(self):
        from full_text_index_spark.index import InvertedIndex

        yield from self._curation_ops()
        # the first set-up's index holds the same docs as the one the window read
        root = self.roots[0]
        self.index = InvertedIndex.open(self.spark, root)
        yield self._delete_op(np.random.default_rng(self.ctx.seed * 1000 + 17))
        yield self._append_op(root)
        yield self._batch_op(999)

    def index_ratio(self):
        return self.meta["index_bytes"] / text_bytes(self.rows)


class PatternBatch(Workload):
    """Pattern batches against a character 3-gram index built during set-up.

    The window runs ``substring_count`` batches of 24 seeded patterns, new
    ones per call; the first two warm the query path up and are left out of
    the timing.  A traced run then calls ``regex_count`` and
    ``approx_count`` (one edit) once each.  A call of either costs more than
    a substring batch, and the first call of each in the JVM several seconds
    more again, so neither fits the window's minimum of warm calls.
    """

    name = "pattern_batch"
    n_docs = 150
    sizes = {"substring": 24, "regex": 8, "approx": 6}
    warmup = 2

    def setup(self):
        from full_text_index_spark.index import InvertedIndex
        from full_text_index_spark.substring import build_gram_index

        self.reset()
        ctx = self.ctx
        self.rows = gen.corpus(ctx.seed, self.n_docs, mean_len=90, id_prefix=True)
        self.texts = [t for _, _, t in self.rows]
        self.docs = self.docs_df(self.rows).cache()
        self.root = ctx.fresh_dir("grams")
        self.roots.append(self.root)
        ctx.call("substring.build_gram_index", lambda: build_gram_index(
            self.spark, self.docs, self.root, k=3, n_segments=ctx.segments))
        self.index = InvertedIndex.open(self.spark, self.root)
        return self.texts, self.root

    def check_setup(self, texts, root) -> bool:
        """The gram index holds every trigram's exact doc and occurrence counts."""
        return term_stats(root) == counts([t[i:i + 3] for i in range(len(t) - 2)] for t in texts)

    def _op(self, kind: str, seed: int, n: int) -> Op:
        from full_text_index_spark.approx import approx_count
        from full_text_index_spark.regex_search import regex_count
        from full_text_index_spark.substring import substring_count

        texts, ctx = self.texts, self.ctx
        if kind == "substring":
            pats = list(dict.fromkeys(gen.substrings(seed, texts, n)))
            timed = ctx.phase == "window"
            if timed:
                ctx.note("substring_patterns", pats)

            def run():
                st = {} if ctx.call_stats and timed else None
                rows = ctx.call("substring.substring_count", lambda: substring_count(
                    self.index, pats, stats=st).collect())
                if st:
                    ctx.note("substring.substring_count", st)
                return rows

            def ok(rows):
                return {r[0]: (r[1], r[2]) for r in rows} == {
                    p: check.substring_counts(texts, p) for p in pats}
        elif kind == "regex":
            pats = list(dict.fromkeys(gen.regexes(seed, texts, n)))

            def run():
                return ctx.call("regex_search.regex_count", lambda: regex_count(
                    self.index, self.docs, pats).collect())

            def ok(rows):
                return {r[0]: r[1] for r in rows} == {p: check.regex_docs(texts, p) for p in pats}
        else:
            pats = list(dict.fromkeys(gen.approx_patterns(seed, texts, n)))

            def run():
                return ctx.call("approx.approx_count", lambda: approx_count(
                    self.index, self.docs, pats, max_edits=1).collect())

            def ok(rows):
                return {r[0]: (r[1], r[2]) for r in rows} == {
                    p: check.approx_counts(texts, p, 1) for p in pats}
        return Op(kind, len(pats), run, ok, pats)

    def window_op(self, i):
        return self._op("substring", self.ctx.seed * 1000 + i, self.sizes["substring"])

    def extras(self):
        for kind in ("regex", "approx"):
            yield self._op(kind, self.ctx.seed * 1000 + 999, self.sizes[kind])


WORKLOADS = {w.name: w for w in (SearchBatch, PatternBatch)}
