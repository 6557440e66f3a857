"""The engine's Python worker daemon (``wingfoil_pyworker``): a task's
``importlib.invalidate_caches()`` re-reads a zip archive only when the
archive changed on disk."""

import importlib
import sys
import zipfile
import zipimport

import wingfoil_pyworker


def test_worker_tasks_keep_pyspark_zip_directory(spark):
    """Count gate: in every task of a ``get_spark`` session, the
    ``setup_spark_files`` step (``importlib.invalidate_caches()``) leaves
    the cached ``pyspark.zip`` directory in place instead of re-parsing
    the archive."""

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        key = next(k for k in cache if os.path.basename(k) == "pyspark.zip")
        before = cache[key]
        importlib.invalidate_caches()
        yield pd.DataFrame({"kept": [cache.get(key) is before]})

    df = spark.range(0, 4, numPartitions=4).mapInPandas(probe, "kept boolean")
    assert [r.kept for r in df.collect()] == [True] * 4


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_changed_archives(tmp_path, monkeypatch):
    for name in ("wf_zip_probe", "wf_zip_probe_new"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wf_zip_probe": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("wf_zip_probe").VALUE == 1

    # Restored at teardown, so the wrap stays local to this test.
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    wingfoil_pyworker.install()

    # Unchanged archive: the cached directory stays, nothing is re-read.
    before = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert archive not in reads
    assert zipimport._zip_directory_cache[archive] is before

    # Rewritten at the same path: re-read, and the new contents import.
    _write_zip(archive, {"wf_zip_probe": "VALUE = 2\n", "wf_zip_probe_new": ""})
    importlib.invalidate_caches()
    assert archive in reads
    assert zipimport._zip_directory_cache[archive] is not before
    importlib.import_module("wf_zip_probe_new")
    del sys.modules["wf_zip_probe"]
    assert importlib.import_module("wf_zip_probe").VALUE == 2
    for name in ("wf_zip_probe", "wf_zip_probe_new"):
        del sys.modules[name]
