"""The Python worker entry module (``pyworker/pyspark_amrs_worker.py``).

It keeps the zip archives that were on ``sys.path`` at daemon start out
of the per-task ``importlib.invalidate_caches()`` and falls back to
PySpark's own worker ``main`` when the private hook it patches is gone.
"""

from __future__ import annotations

import importlib.util
import sys
import types
import uuid
import zipfile
import zipimport

import pyspark
import pyspark.worker

from another_map_reduce_spark.session import WORKER_MODULE, WORKER_MODULE_DIR


def _load_worker_module():
    """A fresh copy of the worker module, imported against the current
    ``sys.path`` and ``pyspark.worker_util`` (as the daemon would)."""
    spec = importlib.util.spec_from_file_location(
        f"{WORKER_MODULE}_under_test", WORKER_MODULE_DIR / f"{WORKER_MODULE}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _zip_with_module(path, name, body="VALUE = 1\n"):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", body)
    return str(path)


def test_static_zips_not_reread_per_task(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    early = _zip_with_module(tmp_path / "early.zip", f"amrs_early_{tag}")
    late = _zip_with_module(tmp_path / "late.zip", f"amrs_late_{tag}")
    monkeypatch.syspath_prepend(early)
    importlib.import_module(f"amrs_early_{tag}")
    worker = _load_worker_module()
    assert worker.main is not pyspark.worker.main

    monkeypatch.syspath_prepend(late)
    importlib.import_module(f"amrs_late_{tag}")
    early_finder = sys.path_importer_cache[early]

    reads: list[str] = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    worker._proxy.invalidate_caches()
    assert early not in reads
    assert late in reads
    assert sys.path_importer_cache[early] is early_finder
    for name in (f"amrs_early_{tag}", f"amrs_late_{tag}"):
        sys.modules.pop(name, None)


def test_falls_back_to_pyspark_main(monkeypatch):
    for stub in (
        types.SimpleNamespace(importlib=importlib),  # no setup_spark_files
        types.SimpleNamespace(setup_spark_files=lambda infile: None),  # no importlib
    ):
        monkeypatch.setattr(pyspark, "worker_util", stub)
        monkeypatch.setitem(sys.modules, "pyspark.worker_util", stub)
        worker = _load_worker_module()
        assert worker.main is pyspark.worker.main
        assert not hasattr(worker, "_proxy")


def test_addpyfile_after_tasks_is_importable(spark, tmp_path):
    """A zip shipped with ``addPyFile`` after the workers already served
    tasks is importable in the next task — what the per-task
    ``invalidate_caches`` exists for."""
    sc = spark.sparkContext
    assert spark.conf.get("spark.python.worker.module") == WORKER_MODULE

    def proxy_in_use(_):
        import pyspark.worker_util as wu

        yield type(wu.importlib).__name__

    assert set(sc.parallelize(range(4), 4).mapPartitions(proxy_in_use).collect()) == {
        "_StaticZipsKept"
    }
    name = f"amrs_shipped_{uuid.uuid4().hex[:8]}"
    sc.addPyFile(_zip_with_module(tmp_path / f"{name}.zip", name, "VALUE = 42\n"))
    got = sc.parallelize(range(4), 4).map(lambda _: __import__(name).VALUE).collect()
    assert got == [42] * 4
