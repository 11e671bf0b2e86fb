"""The measurement tooling: bench.py's op registry, tools/measure.py's sidecar
records and merge, and the rule that measure.py alone gates on host load and
spawns bench.py.  No Spark session is started."""

from __future__ import annotations

import ast
import glob
import os
import re
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import measure  # noqa: E402

# the `queries` keys of every BENCH_r*.json line, in their printed order
HISTORICAL_OPS = [
    "build_index", "bm25_batch", "grams_build", "substring_batch",
    "substring_short_batch", "regex_batch", "approx_batch", "dedup_exact",
    "dedup_minhash_pairs", "dedup_simhash", "dedup_embedding_pairs",
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "doc_fingerprint",
    "quality_score", "curation_pipeline", "windowed_events", "user_sessions",
    "asof_join", "range_join", "dedup_components", "sampling",
]

TOOLING = sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))) + [
    os.path.join(REPO, "bench.py")
]


def test_registry_names_and_order():
    import bench

    assert list(bench.OPS) == HISTORICAL_OPS


def test_sidecar_reps_increase_and_gated_runs_never_merge(tmp_path):
    path = str(tmp_path / "BENCH" / "runs.jsonl")
    config = {"cmd": "scale", "cpus": 1, "n_docs": 2000, "nq": 2000}
    other = {"cmd": "scale", "cpus": 4, "n_docs": 2000, "nq": 2000}

    def run(sec, load):
        return {"load_at_start": load, "gated": load > measure.LOAD_GATE,
                "rc": 0, "queries": {"bm25_batch": sec}}

    written = [
        measure.append_record(path, config, "s1", run(3.0, 0.2)),
        measure.append_record(path, other, "s1", run(1.0, 0.2)),
        measure.append_record(path, config, "s1", run(1.0, 5.57)),
        measure.append_record(path, config, "s2", run(2.0, 0.4)),
        measure.append_record(path, config, "s2", run(4.0, 0.1)),
    ]
    assert [r["rep"] for r in written] == [0, 0, 1, 2, 3]
    recs = measure.read_records(path, config)
    assert [(r["session"], r["rep"]) for r in recs] == [
        ("s1", 0), ("s1", 1), ("s2", 2), ("s2", 3)]
    assert [r["load_at_start"] for r in recs] == [0.2, 5.57, 0.4, 0.1]
    assert recs[1]["gated"] and not recs[0]["gated"]
    # the gated 1.0 s run is kept in the sidecar but merged nowhere
    assert measure.merge(recs) == {"bm25_batch": 2.0}
    assert measure.merge(recs, statistics.median) == {"bm25_batch": 3.0}


def _names(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            yield node.value
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.alias):
            yield node.name


def test_only_measure_gates_on_load_and_spawns_bench():
    bad = []
    for path in TOOLING:
        if path.endswith(os.path.join("tools", "measure.py")):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for name in _names(tree):
            if (name in ("getloadavg", "/proc/loadavg")
                    or re.search(r"(^|/)bench\.py$", name)):
                bad.append((os.path.relpath(path, REPO), name))
    assert bad == []


def test_tooling_reads_no_other_spark_graft_variable():
    read = set()
    for path in TOOLING:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        read |= {n for n in _names(tree) if n.startswith("SPARK_GRAFT_")}
    assert read <= {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS"}


_IMPORT_ALL = """
import ast, importlib, importlib.util, sys
sys.path.insert(0, REPO)
bad = []
for path, mod in FILES:
    importlib.import_module(mod)
    # imports inside functions run only when a command runs: resolve them
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            names = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [(node.module, a.name) for a in node.names]
        else:
            continue
        for m, attr in names:
            try:
                ok = attr is None or hasattr(importlib.import_module(m), attr) \\
                    or importlib.util.find_spec(m + "." + attr) is not None
            except ImportError:
                ok = False
            if not ok:
                bad.append((path, m, attr))
from pyspark import SparkContext
assert SparkContext._active_spark_context is None, "a Spark context started"
assert not bad, bad
"""


def test_every_tool_and_its_lazy_imports_resolve_without_spark():
    files = [(p, os.path.relpath(p, REPO)[:-3].replace(os.sep, "."))
             for p in TOOLING]
    code = f"REPO = {REPO!r}\nFILES = {files!r}\n" + _IMPORT_ALL
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, cwd=REPO, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
