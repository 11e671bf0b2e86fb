"""functions.util.route: bucket b goes to partition b, every bucket to its
own non-empty partition, under AQE — and the builds it places write one
postings file per segment."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from full_text_index_spark.functions.util import kernel_tasks, route


def _placement(df):
    return df.withColumn("part", F.spark_partition_id()).collect()


@pytest.mark.parametrize("n", [8, 13])
def test_each_bucket_gets_its_own_partition(spark, n):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    routed = route(spark.range(0, 5 * n), "id", n)
    assert routed.rdd.getNumPartitions() == n
    rows = _placement(routed)
    assert all(r["part"] == r["id"] % n for r in rows)
    assert {r["part"] for r in rows} == set(range(n))


def test_negative_hash_key_lands_in_pmod(spark):
    n = 8
    df = spark.range(0, 200).withColumn("h", F.hash("id"))
    rows = _placement(route(df, "h", n))
    assert any(r["h"] < 0 for r in rows)
    # Python's % is the non-negative remainder, i.e. Spark's pmod
    assert all(r["part"] == r["h"] % n for r in rows)


def test_long_key_is_accepted(spark):
    n = 13
    df = spark.range(0, 40).select((F.col("id") + F.lit(3 << 40)).alias("k"))
    assert dict(df.dtypes)["k"] == "bigint"
    rows = _placement(route(df, F.col("k"), n))
    assert all(r["part"] == r["k"] % n for r in rows)


def test_plan_is_repartition_by_num(spark):
    from full_text_index_spark.deletes import _segment_blobs

    routed = route(spark.range(0, 16), "id", 8)
    assert routed.columns == ["id"]
    # the tombstone encoder places its segments with route too
    tombs = _segment_blobs(spark.range(0, 40).withColumnRenamed("id", "doc_id"),
                           nseg=5, nparts=3)
    for df in (routed, tombs):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "REPARTITION_BY_NUM" in plan
        assert "hashpartitioning" not in plan


def test_kernel_tasks_rule(spark):
    dp = spark.sparkContext.defaultParallelism
    assert kernel_tasks(spark, 4) == 4
    assert kernel_tasks(spark, 10_000) == max(2 * dp, 8)


def _files_per_segment(root):
    segs = glob.glob(os.path.join(root, "postings", "generation=*", "segment=*"))
    return {os.path.basename(s): len(glob.glob(os.path.join(s, "*.parquet")))
            for s in segs}


def test_token_build_writes_one_file_per_segment(tiny_index):
    files = _files_per_segment(tiny_index.paths.root)
    assert len(files) == tiny_index.n_segments
    assert set(files.values()) == {1}


def test_positional_build_writes_one_file_per_segment(spark, tiny_corpus_pdf,
                                                       tmp_path):
    from full_text_index_spark.build import build_index, prepare_corpus

    # more segments than kernel tasks: several segments share a task
    n_segments = kernel_tasks(spark, 10_000) + 4
    root = str(tmp_path / "pos")
    corpus = prepare_corpus(spark.createDataFrame(tiny_corpus_pdf))
    build_index(spark, corpus, root, n_segments=n_segments, block_size=16,
                positions=True)
    files = _files_per_segment(root)
    assert len(files) == n_segments
    assert set(files.values()) == {1}
