"""Session factory: host-sized default parallelism, and Python workers that
import the engine whatever the cwd of the script that started Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pandas as pd

from full_text_index_spark.session import PACKAGE_PARENT, _daemon_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a script outside the repository that finds the package through sys.path
# only, then runs a pandas kernel that imports it on the workers
OUTSIDE_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    import pandas as pd
    from full_text_index_spark.session import get_spark

    spark = get_spark("outside-cwd", cpus=1, shuffle_partitions=1)

    def decode(batches):
        from full_text_index_spark.codec import varbyte_decode
        for b in batches:
            yield pd.DataFrame({{"n": [len(varbyte_decode(bytes([1, 2, 3])))]}})

    rows = spark.range(1).mapInPandas(decode, "n long").collect()
    print("OUTSIDE_OK", rows[0]["n"])
    """
)


def test_worker_pythonpath_carries_package_parent(spark):
    def env(batches):
        for _ in batches:
            yield pd.DataFrame({"p": [os.environ.get("PYTHONPATH", "")]})

    (row,) = spark.range(1).coalesce(1).mapInPandas(env, "p string").collect()
    assert PACKAGE_PARENT in row["p"].split(os.pathsep)


# a pyspark module the engine never imports
PYSPARK_LEAF = "pyspark.mllib.stat.distribution"


def test_workers_run_under_the_lazy_zip_daemon(spark):
    def probe(batches):
        import importlib
        import time
        import zipimport

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        invalidate_ms = (time.perf_counter() - t0) * 1e3
        # dropped first, so that even a reused worker looks it up again,
        # through the pyspark.zip directory this task invalidated
        sys.modules.pop(PYSPARK_LEAF, None)
        src = importlib.import_module(PYSPARK_LEAF).__file__

        for _ in batches:
            yield pd.DataFrame({
                "fn": [zipimport.zipimporter.invalidate_caches.__code__.co_filename],
                "ms": [invalidate_ms],
                "src": [src],
            })

    rows = spark.range(4, numPartitions=4).mapInPandas(
        probe, "fn string, ms double, src string").collect()
    assert len(rows) == 4
    for row in rows:
        assert row["fn"].endswith(os.path.join("full_text_index_spark", "_daemon.py"))
        assert row["ms"] < 20, row
        assert "pyspark.zip" in row["src"], row


def test_spark_submit_keeps_the_stock_daemon(monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert _daemon_conf() == {
        "spark.python.daemon.module": "full_text_index_spark._daemon"}
    # the JVM is up before the job runs; --py-files ship the package later
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert _daemon_conf() == {}


def test_workers_import_a_zip_added_after_they_started(spark, tmp_path):
    spark.range(4, numPartitions=4).mapInPandas(
        lambda batches: batches, "id long").collect()  # workers are up
    name = f"late_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(str(archive))

    def late(batches):
        import importlib

        value = importlib.import_module(name).VALUE
        for _ in batches:
            yield pd.DataFrame({"v": [value]})

    rows = spark.range(4, numPartitions=4).mapInPandas(late, "v long").collect()
    assert [r["v"] for r in rows] == [7] * 4


def test_workers_import_the_package_outside_the_repo(tmp_path):
    script = tmp_path / "outside.py"
    script.write_text(OUTSIDE_SCRIPT.format(repo=REPO))
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "OUTSIDE_OK 3" in proc.stdout, proc.stdout[-2000:]


def test_default_cpus_follow_the_host():
    code = ("from full_text_index_spark.session import DEFAULT_CPUS; "
            "print(DEFAULT_CPUS)")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, check=True).stdout
    assert int(out) == len(os.sched_getaffinity(0))
    env["SPARK_GRAFT_CPUS"] = "3"
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, check=True).stdout
    assert int(out) == 3
