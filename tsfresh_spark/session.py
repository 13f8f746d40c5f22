"""SparkSession builder with the engine's recommended configuration.

Local testing runs ``local[N]``; the same conf block is what we'd pass to
``spark-submit`` on a multi-executor cluster (AQE on, Arrow on, sane shuffle
partitioning).  Apart from the worker daemon below, nothing here is
environment-specific.

Python workers come from :mod:`tsfresh_spark.worker_daemon`, PySpark's
daemon minus its per-task re-read of ``pyspark.zip`` (about 0.25 s of
worker CPU per task), wherever that daemon can import the package: a
local master, with ``tsfresh_spark`` loaded from a directory that is the
working directory, on ``PYTHONPATH`` or in site-packages.  Anywhere else —
a cluster, or the package shipped as a zip with ``--py-files`` — the
daemon could not import it and every Python task would fail, so PySpark's
default daemon stays.
"""

from __future__ import annotations

import os
import re
import site

from pyspark.sql import SparkSession

import tsfresh_spark


def _worker_daemon_importable(master: str) -> bool:
    """Whether a local master's daemon, started in this process's working
    directory with its ``PYTHONPATH``, imports ``tsfresh_spark`` from the
    directory this process loaded it from (never from a zip)."""
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
        return False
    package = os.path.dirname(os.path.abspath(tsfresh_spark.__file__))
    if not os.path.isdir(package):
        return False
    roots = [
        os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()
    ]
    home = os.path.realpath(os.path.dirname(package))
    return any(os.path.realpath(root) == home for root in roots if root)


def build_session(
    app_name: str = "tsfresh_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing, skew-join splitting, dynamic re-plan
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transfer for every pandas UDF / mapInPandas boundary
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if _worker_daemon_importable(master):
        builder = builder.config("spark.python.daemon.module", "tsfresh_spark.worker_daemon")
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
