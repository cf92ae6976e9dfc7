"""The zipimporter invalidation guard (solarpos_spark.zipcache), no Spark."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import solarpos_spark  # noqa: F401  (installs the guard)
from solarpos_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zipimporters lazily; no guard")


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module, with _read_directory calls on
    it counted."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_probe_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    reads = []
    real = zipimport._read_directory

    def counting(archive_path):
        if archive_path == path:
            reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("zc_probe_a", "zc_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_installed_on_import():
    fn = zipimport.zipimporter.invalidate_caches
    assert fn.__module__ == zipcache.__name__
    zipcache.install()  # idempotent: still wraps the stdlib method
    assert zipimport.zipimporter.invalidate_caches is fn
    assert fn.__wrapped__.__module__ == "zipimport"


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert importlib.import_module("zc_probe_a").VALUE == "a"
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert zipcache._read_stats[path] == zipcache._stat_key(path)


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.import_module("zc_probe_a")
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zc_probe_b")
    _write_zip(path, {"zc_probe_a": "VALUE = 'a'\n",
                      "zc_probe_b": "VALUE = 'b'\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]
    assert importlib.import_module("zc_probe_b").VALUE == "b"


def test_removed_archive_drops_its_directory(archive):
    path, _ = archive
    importlib.import_module("zc_probe_a")
    importer = sys.path_importer_cache[path]
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in zipcache._read_stats
