"""Session factory: host-sized default parallelism, and Python workers that
import the engine whatever the cwd of the script that started Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

from full_text_index_spark.session import PACKAGE_PARENT

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
