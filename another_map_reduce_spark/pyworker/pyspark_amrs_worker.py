"""Python worker entry that keeps Spark's own zip archives' import caches.

Every PySpark task calls ``importlib.invalidate_caches()`` from
``pyspark.worker_util.setup_spark_files`` so that files shipped per task
(the userFiles directory, ``addPyFile`` zips) become importable.  On
CPython 3.11 and 3.12 that call makes every ``zipimporter`` on the path
re-read its archive's central directory: ``pyspark.zip`` and each of its
subpackage importers, the py4j zip and Spark's core jar, about 0.2 s per
task on a 4-CPU host.  CPython 3.13's zipimporter only drops a cache entry.

This module is named by ``spark.python.worker.module`` (see
``session.get_spark``); PySpark's daemon imports it once at start-up and
calls ``main`` for every task.  ``main`` swaps ``worker_util``'s
``importlib`` for a proxy whose ``invalidate_caches`` leaves out the
zipimporters of archives that were on ``sys.path`` when this module was
imported — Spark's own archives, which never change while it runs.
Everything added per task is invalidated exactly as before.

Fallback: if ``pyspark.worker_util`` no longer has ``setup_spark_files``
or no module-level ``importlib``, ``main`` is ``pyspark.worker.main``
itself, untouched.  The name must start with ``pyspark``: the daemon
refuses worker modules without that prefix.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

from pyspark import worker_util
from pyspark.worker import main as _worker_main


class _StaticZipsKept:
    """``importlib`` as seen by ``worker_util``, minus the re-read of
    the zip archives in ``static_archives``."""

    def __init__(self, static_archives: frozenset[str]) -> None:
        self._static = static_archives

    def __getattr__(self, name: str):
        return getattr(importlib, name)

    def invalidate_caches(self) -> None:
        cache = sys.path_importer_cache
        kept = {
            path: finder
            for path, finder in cache.items()
            if isinstance(finder, zipimport.zipimporter)
            and finder.archive in self._static
            and os.path.isabs(path)
        }
        for path in kept:
            del cache[path]
        try:
            importlib.invalidate_caches()
        finally:
            cache.update(kept)


if callable(getattr(worker_util, "setup_spark_files", None)) and (
    getattr(worker_util, "importlib", None) is importlib
):
    _proxy = _StaticZipsKept(frozenset(sys.path))

    def main(*args, **kwargs):
        worker_util.importlib = _proxy
        return _worker_main(*args, **kwargs)

else:
    main = _worker_main


if __name__ == "__main__":
    # Launched without the daemon (``python -m``): run PySpark's own
    # entry point with the proxy in place.
    import runpy
    import warnings

    if main is not _worker_main:
        worker_util.importlib = _proxy
    warnings.filterwarnings(
        "ignore", "'pyspark.worker' found in sys.modules", RuntimeWarning
    )
    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
