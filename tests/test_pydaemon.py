"""The Python worker daemon: zip archives on sys.path are re-read only
when they change, and Spark's Python workers run under the daemon."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from file_indexer_spark import pydaemon

MODULE = "fis_pydaemon_probe"


def _write_zip(path: str, source: str) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr(f"{MODULE}.py", source)
    os.replace(tmp, path)  # a new inode, as a redeploy would give


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ invalidates zip caches lazily")
def test_zip_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_if_changed)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.delitem(sys.modules, MODULE, raising=False)

    assert importlib.import_module(MODULE).VALUE == 1
    importlib.invalidate_caches()  # the daemon's priming read
    reads.clear()
    for _ in range(3):  # what three tasks would do
        importlib.invalidate_caches()
    assert archive not in reads

    _write_zip(archive, "VALUE = 2  # rewritten\n")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    del sys.modules[MODULE]
    assert importlib.import_module(MODULE).VALUE == 2


def test_python_workers_run_under_pydaemon(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        spec = getattr(sys.modules["__main__"], "__spec__", None)
        yield pd.DataFrame({
            "main": [spec.name if spec else None],
            "invalidate": [zipimport.zipimporter.invalidate_caches.__qualname__],
        })

    rows = spark.range(4).repartition(2).mapInPandas(probe, "main string, invalidate string").collect()
    assert {r["main"] for r in rows} == {"file_indexer_spark.pydaemon"}
    if sys.version_info < (3, 13):
        assert {r["invalidate"] for r in rows} == {"invalidate_if_changed"}
