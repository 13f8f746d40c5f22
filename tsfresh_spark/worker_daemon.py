"""PySpark's worker daemon, minus the per-task re-read of ``pyspark.zip``.

``session.build_session`` sets this module as ``spark.python.daemon.module``
where the daemon can import it (see there).  Spark starts it as
``python -m tsfresh_spark.worker_daemon pyspark.worker``; it installs
:func:`invalidate_caches` in place of ``importlib.invalidate_caches`` and
then runs ``pyspark.daemon.manager()``, so every worker it forks inherits
the wrapper.

Why: before each task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files added with ``addPyFile``
become importable.  On CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory; a worker
holds about 16 of them over ``pyspark.zip``, which costs about 0.25 s of
CPU per task, whatever the task does.  The wrapper still invalidates every
path finder (a ``.py`` file or archive added with ``addPyFile`` after a
first task stays importable by later tasks: a new file lands in a
directory whose ``FileFinder`` is invalidated, a new archive gets a fresh
``zipimporter``), but the existing ``zipimporter`` entries keep the
directory they read.

The one thing this gives up: an archive replaced in place, at the same
path, is not re-read by a worker that has already imported from it.  The
engine never does that: its code reaches the workers once per application,
``pyspark.zip`` from the Spark install and ``tsfresh_spark.zip`` through
``spark-submit --py-files`` (``scripts/package.py``).  Spark itself does not
ship a path it has already added a second time, and refuses a second file
under the same name; a new application starts a new daemon.

The module imports only the standard library before it forks: anything
imported here (numpy, pandas, pyarrow) would sit in the daemon and in every
worker's resident set.  ``tsfresh_spark/__init__.py`` resolves its names
lazily for the same reason: ``python -m`` runs it first.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches() -> None:
    """``importlib.invalidate_caches()`` for every finder except the
    ``zipimporter`` entries of ``sys.path_importer_cache``, which keep
    their archive directories."""
    kept = {
        path: finder
        for path, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
    }
    for path in kept:
        del sys.path_importer_cache[path]
    try:
        _invalidate_caches()
    finally:
        sys.path_importer_cache.update(kept)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
