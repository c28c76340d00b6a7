"""The zip-directory reuse patch (capelinker_spark/_zipcache.py): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is, and nothing is patched on Python >= 3.13."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import capelinker_spark  # noqa: F401  (installs the patch)
from capelinker_spark import _zipcache

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads lazily itself"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new file, as a rebuilt archive would be


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module, and a per-archive count
    of directory reads."""
    path = str(tmp_path / "pkgs.zip")
    _write_zip(path, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    import zc_mod_a  # noqa: F401  (creates the path's zipimporter)

    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, lambda: reads.count(path)
    for m in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(m, None)


@needs_patch
def test_package_import_installs_patch():
    assert hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    assert _zipcache.install() is True  # idempotent


@needs_patch
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    first = reads()
    assert first <= 1  # at most once, to record the archive's stat key
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads() == first


@needs_patch
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    before = reads()
    with pytest.raises(ImportError):
        import zc_mod_b  # noqa: F401
    _write_zip(path, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads() == before + 1
    import zc_mod_b

    assert zc_mod_b.Y == 2


def test_not_installed_on_python_313(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    original = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is original
