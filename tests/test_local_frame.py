"""functions.util.local_frame: driver-built side tables are typed Arrow
local relations (LocalTableScan), never pickled Python RDDs — checked on the
helper itself, on the plans the query operators execute, and statically
over the package source."""

from __future__ import annotations

import ast
import os

import pandas as pd
import pytest
from pyspark.sql import DataFrame

from full_text_index_spark.build import prepare_corpus
from full_text_index_spark.functions.util import local_frame
from full_text_index_spark.index import InvertedIndex
from full_text_index_spark.query import bm25_topk

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "full_text_index_spark")

ALL_TYPES = "i int, n long, x double, s string, t array<string>, b binary"


def _plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_schema_values_and_order(spark):
    rows = [
        (3, 2**40, 1.5, "c", ["x", "y"], b"\x00\x01"),
        (1, None, None, None, [], b""),
        (2, -7, float("nan"), "a", None, None),
    ]
    df = local_frame(spark, rows, ALL_TYPES)
    assert df.schema == spark.createDataFrame([], ALL_TYPES).schema
    got = df.collect()
    assert [tuple(r)[:2] for r in got] == [(3, 2**40), (1, None), (2, -7)]
    # None in a numeric column stays NULL (no NaN from dtype inference) and
    # a real NaN stays NaN
    assert got[1]["n"] is None and got[1]["x"] is None
    assert got[2]["x"] != got[2]["x"]
    assert got[0]["t"] == ["x", "y"] and got[1]["t"] == [] and got[2]["t"] is None
    assert got[0]["b"] == bytearray(b"\x00\x01") and got[2]["b"] is None
    assert "LocalTableScan" in _plan(df)
    assert "ExistingRDD" not in _plan(df)


def test_local_frame_empty_and_generator_rows(spark):
    empty = local_frame(spark, [], ALL_TYPES)
    assert empty.schema == spark.createDataFrame([], ALL_TYPES).schema
    assert empty.collect() == []
    assert "LocalTableScan" in _plan(empty)
    gen = local_frame(spark, ((i, f"p{i}") for i in range(5)), "k long, p string")
    assert [tuple(r) for r in gen.collect()] == [(i, f"p{i}") for i in range(5)]


def test_local_frame_pandas_rows_are_positional(spark):
    pdf = pd.DataFrame({"a": [1, 2, None], "z": ["u", None, "w"]})
    df = local_frame(spark, pdf, "qid long, term string")
    assert df.columns == ["qid", "term"]
    assert [tuple(r) for r in df.collect()] == [(1, "u"), (2, None), (None, "w")]
    assert "LocalTableScan" in _plan(df)
    empty = local_frame(spark, pdf.iloc[:0], "qid long, term string")
    assert empty.collect() == []


def test_no_create_dataframe_outside_local_frame():
    """Every driver-built side table goes through local_frame: a
    ``.createDataFrame(<python list>)`` elsewhere in the package would bring
    back the per-use Python-RDD scan."""
    offenders = []
    for dirpath, _, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)

            def visit(node, func):
                if isinstance(node, ast.FunctionDef):
                    func = node.name
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                        and func != "local_frame"):
                    offenders.append(f"{os.path.relpath(path, PACKAGE)}:{node.lineno}")
                for child in ast.iter_child_nodes(node):
                    visit(child, func)

            visit(tree, None)
    assert offenders == []


# -- plan shape of the query operators -------------------------------------

TEXTS = [
    "the fast key order sort table scan merge part window",
    "spark group query row data slow small filter customer",
    "scan merge scan join batch batch batch stream window",
    "row scan row scal row sca slow join sort agg part",
    "value partition column filter key data a part batch",
    "query plan cache hit ratio scan join merge window dup",
]


@pytest.fixture(scope="module")
def gram_setup(spark, tmp_path_factory):
    from full_text_index_spark.substring import build_gram_index

    pdf = pd.DataFrame({
        "doc_id": range(len(TEXTS)),
        "url": [f"u://{i}" for i in range(len(TEXTS))],
        "text": TEXTS,
    })
    docs = prepare_corpus(spark.createDataFrame(pdf)).cache()
    root = str(tmp_path_factory.mktemp("lfgrams"))
    build_gram_index(spark, docs, root, k=3, n_segments=2, block_size=8)
    return InvertedIndex.open(spark, root), docs


@pytest.fixture
def executed_plans(spark, monkeypatch):
    """Records the physical plan of every DataFrame action run while the
    fixture is active (driver collects inside an operator included)."""
    plans = []
    frame_class = type(spark.range(1))

    def recording(name):
        original = getattr(frame_class, name)

        def action(self, *args, **kwargs):
            out = original(self, *args, **kwargs)
            plans.append(_plan(self))
            return out

        monkeypatch.setattr(frame_class, name, action)

    for name in ("collect", "toPandas", "count"):
        recording(name)
    return plans


def _occurrences(text, pattern):
    return sum(text.startswith(pattern, i) for i in range(len(text)))


def _assert_no_python_rdd(plans):
    assert plans
    for plan in plans:
        assert "ExistingRDD" not in plan, plan
    assert any("LocalTableScan" in plan for plan in plans)


def test_bm25_blockmax_plans_scan_no_python_rdd(spark, tiny_index, executed_plans):
    queries = spark.createDataFrame(pd.DataFrame({
        "qid": [0, 1, 2],
        "terms": [["bababa0", "cebaba1"], ["dibaba2"], ["cebaba1", "bababa0"]],
    }))
    got = bm25_topk(tiny_index, queries, k=5).toPandas()
    assert len(got)
    _assert_no_python_rdd(executed_plans)


# the two pattern sets are the shapes an earlier planner split between an
# all-gram join (every gram common) and a rarest-gram probe (one rare gram
# among common ones); both now go through the one kernel
@pytest.mark.parametrize("pats", [
    pytest.param(["scan merge", "row sca", "batch batch", "zzz absent"],
                 id="alljoin"),
    pytest.param(["row scal", "hit ratio", "scan join", "zzz absent"],
                 id="rarest"),
])
def test_substring_locate_plans_scan_no_python_rdd(gram_setup, executed_plans,
                                                   pats):
    from full_text_index_spark import substring

    idx, _ = gram_setup
    stats = {}
    got = sorted((r["pattern"], r["doc_id"], r["cpos"]) for r in
                 substring.substring_locate(idx, pats, stats=stats).collect())
    assert stats["plan"] == "kernel"
    assert got == sorted((p, d, i + 1) for p in pats
                         for d, t in enumerate(TEXTS)
                         for i in range(len(t)) if t.startswith(p, i))
    # the plan rides in the kernel's closure: no side table to scan at all
    assert executed_plans
    assert not any("ExistingRDD" in plan for plan in executed_plans)


def test_substring_count_plan_scans_no_python_rdd(gram_setup, executed_plans):
    from full_text_index_spark import substring

    idx, _ = gram_setup
    pats = ["scan merge", "row sca", "batch batch", "zzz absent", "ba", "row"]
    stats = {}
    got = {r["pattern"]: (r["n_docs_matching"], r["n_occurrences"])
           for r in substring.substring_count(idx, pats, stats=stats).collect()}
    assert stats["plan"] == "kernel"
    assert got == {p: (sum(_occurrences(t, p) > 0 for t in TEXTS),
                       sum(_occurrences(t, p) for t in TEXTS)) for p in pats}
    _assert_no_python_rdd(executed_plans)


def test_regex_count_plans_scan_no_python_rdd(gram_setup, executed_plans):
    import re

    from full_text_index_spark.regex_search import regex_count

    idx, docs = gram_setup
    pats = ["scan (merge|join)", "[0-9]+", "ro[wv] sca"]
    got = {r["pattern"]: r["n_docs_matching"]
           for r in regex_count(idx, docs, pats).collect()}
    assert got == {p: sum(bool(re.search(p, t)) for t in TEXTS) for p in pats}
    _assert_no_python_rdd(executed_plans)
