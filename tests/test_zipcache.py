"""zipcache: a zipimporter re-reads its archive's directory only when the
archive changed, and engine Python workers carry the patch."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from flink_template_spark import zipcache

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the patch is off on Python >= 3.13"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@old_python
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_unchanged": "X = 1\n"})
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    assert reads == [archive]  # the first importer filled the shared cache

    for imp in importers:  # first stat-checked call: one read each
        imp.invalidate_caches()
    reads.clear()
    for _ in range(5):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == []


@old_python
def test_rewritten_archive_is_reread_and_imports(tmp_path, reads, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zc_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zc_first", raising=False)
    monkeypatch.delitem(sys.modules, "zc_second", raising=False)
    importlib.invalidate_caches()
    assert importlib.import_module("zc_first").X == 1
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zc_first": "X = 1\n", "zc_second": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zc_second").Y == 2
    sys.path_importer_cache.pop(archive, None)


def test_does_nothing_on_python_3_13(monkeypatch):
    original = zipcache._reread
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is original
    assert zipcache._reread is original


def test_engine_worker_has_the_patch(spark):
    from flink_template_spark.streaming import trip_sessions

    def probe(batches):
        import sys
        import zipimport

        # the closure carries an engine module: unpickling it in the
        # worker imports the engine, as unpickling an engine function does
        assert trip_sessions.INPUT_COLUMNS
        for _ in batches:
            yield pd.DataFrame(
                {
                    "method": [zipimport.zipimporter.invalidate_caches.__module__],
                    "old_python": [sys.version_info < (3, 13)],
                }
            )

    rows = spark.range(0, 8, numPartitions=4).mapInPandas(
        probe, "method string, old_python boolean"
    ).collect()
    assert rows
    for r in rows:
        assert r.method == ("flink_template_spark.zipcache" if r.old_python else "zipimport")
