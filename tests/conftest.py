from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from full_text_index_spark.session import get_spark  # noqa: E402


def bm25_exact_topk(index, queries, k: int):
    """``bm25_topk``'s rows from the JVM join-and-aggregate scorer
    (``_bm25_scored_exact``) instead of the kernel: the reference path."""
    from pyspark.sql import functions as F

    from full_text_index_spark.query import _bm25_scored_exact, _rank_topk

    qterms = (
        index.term_stats().select("term", "idf")
        .join(F.broadcast(queries.select(
            "qid", F.explode("terms").alias("term")).distinct()), "term")
        .select("qid", "term", "idf")
    )
    return _rank_topk(_bm25_scored_exact(index, qterms), k)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fti-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    from full_text_index_spark.corpus import generate_corpus_pdf

    return generate_corpus_pdf(300, seed=42)


@pytest.fixture(scope="session")
def small_docs(spark, tiny_corpus_pdf):
    """Prepared (doc_id, url, text) docs table for workload/substring tests."""
    from full_text_index_spark.build import prepare_corpus

    return prepare_corpus(spark.createDataFrame(tiny_corpus_pdf)).cache()


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_corpus_pdf, tmp_path_factory):
    """Build the index for the tiny corpus once per session."""
    from full_text_index_spark.build import build_index, prepare_corpus
    from full_text_index_spark.index import InvertedIndex

    root = str(tmp_path_factory.mktemp("idx"))
    corpus = prepare_corpus(spark.createDataFrame(tiny_corpus_pdf))
    build_index(spark, corpus, root, n_segments=4, block_size=16)
    return InvertedIndex.open(spark, root)
