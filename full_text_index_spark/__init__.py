"""full_text_index_spark — a PySpark-native inverted-index + BM25 top-k engine.

A brand-new distributed re-expression of the capabilities of
ccontavalli/full-text-index (the Pizza&Chili succinct full-text index corpus,
see /root/reference): index a text corpus once, then answer ``count`` /
``locate`` / ``extract`` / ``display`` queries from the compact index without
rescanning the text — rebuilt Spark-first as:

* a SPIMI-style distributed build (tokenize with vectorized Arrow UDFs,
  hash-partition documents into segments, aggregate term postings JVM-side,
  pack them into delta-gap + varbyte compressed blobs with a per-block skip
  directory) — the counterpart of the reference's ``build_index`` C API
  (reference: utils/interface.h:34) and its two-level bucket layout
  (reference: fm/fm_build.c:580-702);
* a one-pass BM25 top-k query kernel (Okapi BM25, k1=1.2 b=0.75) over the
  compressed postings — the counterpart of backward search + LF-walk locate
  (reference: ssa/SSA.cpp:242-339);
* extract/display as projections over the stored text (reference's
  decompression walks collapse to ``substring`` because Spark stores columns:
  reference fm/fm_extract.c:21-98);
* corpus/workload generators and a pandas brute-force oracle mirroring the
  reference's gentext/genpatterns/compare + `sau` oracle test strategy
  (reference: utils/genpatterns.c:196-218, utils/compare.c:87-103,
  sau/SAu.c:253-392).

Nothing here is a port: no suffix arrays, BWT, wavelet trees or rank/select —
their *role* (compressed, skip-accessible posting storage) is served by the
delta-gap + varbyte + block-directory parquet layout.
"""

from full_text_index_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
