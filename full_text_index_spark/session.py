"""SparkSession factory with the settings the engine assumes.

Local mode is a stand-in for a multi-executor cluster: we size
``spark.sql.shuffle.partitions`` to the parallelism level and rely on AQE to
coalesce, which is the same configuration we would ship via
``spark-submit --py-files`` to a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)

# the directory that holds the ``full_text_index_spark`` package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export_worker_path() -> None:
    """Put ``PACKAGE_PARENT`` first on ``PYTHONPATH`` unless it is there.

    The Python workers that run the engine's pandas kernels inherit the
    JVM's environment, and the JVM inherits this process's; without the
    export a script run outside the repository (with the package on
    ``sys.path`` only) fails in every kernel task with ``ModuleNotFoundError:
    No module named 'full_text_index_spark'``.  Takes effect for a JVM
    started after the call."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([PACKAGE_PARENT, *paths])


def _daemon_conf() -> dict[str, str]:
    """Run the Python workers under ``_daemon``, which stops each task
    re-reading the worker path's zip archives.  The daemon imports the
    package from the ``PYTHONPATH`` the JVM inherits, so a JVM that
    ``spark-submit`` started (``PYSPARK_GATEWAY_PORT`` set; the package
    arrives later with ``--py-files``) keeps the stock daemon."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}
    return {"spark.python.daemon.module": "full_text_index_spark._daemon"}


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else a quarter of the host's physical
    memory (MemTotal on Linux) clamped to 1-8 GB: the driver holds query
    batches and side tables, not the corpus, and shares the host with the
    Python workers."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, total // (4 << 30)))}g"


def get_spark(
    app_name: str = "full_text_index_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cpus`` controls ``local[N]`` — the sandbox proxy for cluster size used
    by the N-vs-4N scaling benchmark (BASELINE.md §c).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    _export_worker_path()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in {**_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
