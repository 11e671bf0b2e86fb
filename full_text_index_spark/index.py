"""Index handle — open a built index and expose its tables.

The counterpart of the reference's ``load_index`` (reference:
utils/interface.h:44; ssa/SSA.cpp:506-531): persistence is native parquet,
so "loading" is lazy DataFrame definition plus one small JSON of global
stats (n_docs, avgdl — the analog of the C array / global counts the
reference serializes first, ssa/SSA.cpp:487-489).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_text_index_spark.build import IndexPaths


class InvertedIndex:
    """A handle on one built index: a snapshot of it, not a live view.

    ``open`` reads ``meta.json`` (n_docs, avgdl, k1, b, n_segments) once, and
    each parquet table is read once per handle, on first use: ``postings()``,
    ``term_stats()``, ``doc_stats()`` and ``table(name)`` return the same
    DataFrame on every call, so a query call pays no schema job and no
    reader set-up for them.  Spark lists a table's files when it is first
    read, so a handle keeps reading what it listed then: a new generation
    that ``streaming.append_generation`` adds reaches only a handle opened
    after it.  That append also REPLACES ``term_stats`` and ``meta.json``,
    so a handle that read term_stats before it fails its next term_stats
    read (FILE_NOT_EXIST) instead of mixing two generations' statistics:
    reopen the index after every append.  Tombstones are the exception to
    the snapshot: ``deletes.delete_docs`` on a handle refreshes that
    handle's tombstone caches, so its next query masks the deleted docs.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.paths = IndexPaths(root)
        with open(self.paths.meta) as fh:
            self.meta = json.load(fh)
        self.n_docs: int = self.meta["n_docs"]
        self.avgdl: float = self.meta["avgdl"]
        self.k1: float = self.meta["k1"]
        self.b: float = self.meta["b"]
        self.n_segments: int = self.meta["n_segments"]
        self._tables: dict[str, DataFrame] = {}
        self._term_stats: DataFrame | None = None

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "InvertedIndex":
        return cls(spark, root)

    def table(self, name: str) -> DataFrame:
        """The parquet table ``<root>/<name>``, read once per handle."""
        df = self._tables.get(name)
        if df is None:
            df = self.spark.read.parquet(os.path.join(self.paths.root, name))
            self._tables[name] = df
        return df

    def postings(self) -> DataFrame:
        return self.table("postings")

    def term_stats(self) -> DataFrame:
        """(term, df, cf) + the derived idf — vocab-sized."""
        if self._term_stats is None:
            n = float(self.n_docs)
            self._term_stats = self.table("term_stats").withColumn(
                "idf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(n) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
                ),
            )
        return self._term_stats

    def doc_stats(self) -> DataFrame:
        return self.table("doc_stats")

    def index_size_bytes(self) -> int:
        """`index_size` analog (reference: utils/interface.h:70) — ALL four
        compressed streams (doc, tf, doclen, positions); an index without
        doc lengths (chargram) or positions counts 0 bytes for them."""
        row = (
            self.postings()
            .agg(
                (F.sum("doc_bytes") + F.sum("tf_bytes") + F.sum("dl_bytes")
                 + F.sum("pos_bytes")).alias("sz")
            )
            .first()
        )
        return int(row["sz"] or 0)

    def size_report(self) -> dict:
        """Compression accounting vs the corpus (the reference's bits/char +
        %-of-text report, utils/build_index.c:66-68): bits per indexed token
        and index bytes as a percentage of corpus text bytes."""
        return {
            "index_bytes": self.meta.get("index_bytes"),
            "corpus_bytes": self.meta.get("corpus_bytes"),
            "n_tokens": self.meta.get("n_tokens"),
            "bits_per_token": self.meta.get("bits_per_token"),
            "index_pct_of_corpus": self.meta.get("index_pct_of_corpus"),
        }
