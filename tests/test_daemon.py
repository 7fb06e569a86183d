"""The Python worker daemon (``employee_analytics_etl_spark.daemon``):
an unchanged zip on ``sys.path`` is not re-read when import caches are
invalidated, a rewritten one is, and Spark's Python tasks run under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from employee_analytics_etl_spark import daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new inode, as a rebuilt archive gets


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_zmod_a": "V = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        daemon.skip_unchanged(zipimport.zipimporter.invalidate_caches),
    )
    try:
        assert importlib.import_module("graft_zmod_a").V == 1
        importlib.invalidate_caches()  # first sight: read, and stamped
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"graft_zmod_a": "V = 1\n", "graft_zmod_b": "V = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("graft_zmod_b").V == 2
    finally:
        for name in ("graft_zmod_a", "graft_zmod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_python_tasks_run_under_the_daemon(spark):
    def report(batches):
        import sys
        import zipimport

        import pandas as pd

        main = sys.modules["__main__"].__spec__
        hook = zipimport.zipimporter.invalidate_caches.__qualname__
        for _ in batches:
            yield pd.DataFrame({"main": [main.name if main else ""], "hook": [hook]})

    rows = spark.range(4).coalesce(1).mapInPandas(report, "main string, hook string").collect()
    assert {(r["main"], r["hook"]) for r in rows} == {
        (daemon.__name__, "skip_unchanged.<locals>.invalidate_caches")
    }
