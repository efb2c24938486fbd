"""Python-worker setup cost: pyspark's worker calls
``importlib.invalidate_caches()`` at the start of every task, which
re-reads the central directory of each zip archive on ``sys.path``.
After ``pin_zip_directories`` the cached zip finders keep the
directory they read. Spark-free."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from quanta_spark.session import pin_zip_directories


def test_pinned_zip_finders_skip_the_rescan(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("qs_zip_probe.py", "VALUE = 7\n")
    finder = zipimport.zipimporter(archive)
    # only this archive's finder, so the test pins nothing else
    monkeypatch.setattr(sys, "path_importer_cache", {archive: finder})
    monkeypatch.syspath_prepend(archive)

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    assert reads == [archive], "an unpinned zip finder re-reads its archive"

    reads.clear()
    pin_zip_directories()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    # the pinned finder still serves imports from the directory it read
    try:
        assert importlib.import_module("qs_zip_probe").VALUE == 7
    finally:
        sys.modules.pop("qs_zip_probe", None)
    assert reads == []
