"""The worker daemon (``tsfresh_spark.worker_daemon``): inside a task,
``importlib.invalidate_caches()`` leaves every zipimporter's archive
directory alone yet still picks up files added with ``addPyFile``; and
``build_session`` keeps PySpark's own daemon where the worker daemon could
not import the package."""

import os
import subprocess
import sys
import textwrap

from scripts import package


def test_invalidate_caches_keeps_zip_directories(spark):
    """Every ``zipimporter`` of the worker (those over ``pyspark.zip``)
    keeps the very directory object it read: none re-reads its archive."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        zips = {
            path: finder._files
            for path, finder in sys.path_importer_cache.items()
            if isinstance(finder, zipimport.zipimporter)
        }
        importlib.invalidate_caches()
        yield len(zips), [
            path for path, files in zips.items()
            if sys.path_importer_cache[path]._files is not files
        ]

    ((n_zips, reread),) = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert n_zips > 0
    assert reread == []


def test_py_file_added_after_a_task_is_importable(spark, tmp_path):
    """A ``.py`` file added with ``addPyFile`` after the workers ran a
    task imports in a later task on those same, reused workers."""
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    name = f"late_module_{os.getpid()}_{tmp_path.name.replace('-', '_')}"
    path = tmp_path / f"{name}.py"
    path.write_text("VALUE = 41\n")

    def load(_):
        import importlib

        yield importlib.import_module(name).VALUE + 1

    assert sc.parallelize(range(slots), slots).map(lambda x: x).count() == slots
    sc.addPyFile(str(path))
    assert sc.parallelize(range(slots), slots).mapPartitions(load).collect() == [42] * slots


def test_zip_shipped_package_keeps_pyspark_daemon(tmp_path):
    """A driver that loads the package only from the ``scripts/package.py``
    zip, in a working directory outside the repo, runs its Python tasks
    after ``addPyFile(zip)``: ``build_session`` keeps PySpark's default
    daemon there, which the worker daemon, unable to import the package
    when it starts, would fail every task."""
    built = package.main()
    zip_path = tmp_path / "tsfresh_spark.zip"
    zip_path.write_bytes(open(built, "rb").read())
    driver = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(zip_path)!r})
        import tsfresh_spark
        assert ".zip" in tsfresh_spark.__file__, tsfresh_spark.__file__
        from tsfresh_spark.extract import extract_features_long
        from tsfresh_spark.session import build_session

        spark = build_session("zip-driver", master="local[2]")
        spark.sparkContext.addPyFile({str(zip_path)!r})
        df = spark.createDataFrame(
            [(i % 3, "a", i, float(i)) for i in range(30)],
            "id long, kind string, time long, value double",
        )
        rows = extract_features_long(df, {{"mean": None}}).collect()
        assert len(rows) == 3, rows
        spark.stop()
        print("OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    proc = subprocess.run(
        [sys.executable, "-c", driver],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("OK")
