"""An InvertedIndex handle is a snapshot: each table is read once per
handle, appends reach only handles opened after them, and deletes through a
handle mask that handle's next query."""

from __future__ import annotations

import pandas as pd
import pytest

from full_text_index_spark.build import build_index, prepare_corpus
from full_text_index_spark.corpus import CORPUS_SCHEMA, generate_corpus_pdf
from full_text_index_spark.deletes import delete_docs
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.query import bm25_topk
from full_text_index_spark.streaming import append_generation


def test_handle_is_a_snapshot(spark, tmp_path):
    a = generate_corpus_pdf(80, seed=5)
    b = generate_corpus_pdf(60, seed=6)
    b["url"] = b["url"].str.replace("/page/", "/late/", regex=False)
    root = str(tmp_path / "idx")
    build_index(spark, prepare_corpus(spark.createDataFrame(a, CORPUS_SCHEMA)),
                root, n_segments=4, block_size=16)

    old = InvertedIndex.open(spark, root)
    # one reader per handle: the same DataFrame on every call
    assert old.postings() is old.postings()
    assert old.term_stats() is old.term_stats()
    assert old.doc_stats() is old.doc_stats()
    n_rows = old.postings().count()
    n_docs = old.doc_stats().count()
    assert n_docs == old.n_docs == len(a)
    old.term_stats().count()

    append_generation(spark, spark.createDataFrame(b, CORPUS_SCHEMA), root, 1,
                      n_segments=4, block_size=16)
    # the handle opened before the append keeps its snapshot
    assert old.n_docs == len(a)
    assert old.postings().count() == n_rows
    assert old.doc_stats().count() == n_docs
    # the append replaced term_stats: the old handle fails loudly rather
    # than scoring with the new generation's statistics
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        old.term_stats().count()
    # a reopened handle sees the new generation
    new = InvertedIndex.open(spark, root)
    assert new.n_docs == len(a) + len(b)
    assert new.postings().count() > n_rows
    assert new.doc_stats().count() == len(a) + len(b)

    # deletes through a handle mask that handle's next query
    queries = spark.createDataFrame(pd.DataFrame({
        "qid": [0, 1], "terms": [["bababa0"], ["cebaba1", "dibaba2"]],
    }))
    before = bm25_topk(new, queries, k=5).toPandas()
    victims = sorted(set(before["doc_id"].tolist()))[:3]
    delete_docs(new, victims)
    after = bm25_topk(new, queries, k=5).toPandas()
    assert len(after) and not set(after["doc_id"]) & set(victims)
