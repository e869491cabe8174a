"""plans/pyworker.py against the real zipimport machinery (no Spark): after
``importlib.invalidate_caches()`` an unchanged archive keeps its directory,
a changed one is read again, and the install is a no-op where CPython
already invalidates lazily. Also: every build and serving kernel, unpickled
in a fresh interpreter, imports the package (and so installs the patch)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from audioflux_spark.plans import pyworker

eager_only = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 invalidates zip caches lazily"
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding a module and a package on sys.path, with both imported
    (two zipimporters over one archive), and a spy on its directory reads."""
    archive = str(tmp_path / "afpw_mods.zip")
    files = {"afpw_mod.py": "X = 1\n", "afpw_pkg/__init__.py": "", "afpw_pkg/sub.py": "Y = 2\n"}
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(archive)
    import afpw_mod  # noqa: F401
    import afpw_pkg.sub  # noqa: F401

    reads: list[str] = []
    real = zipimport._read_directory

    def spy(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    yield archive, files, reads
    for name in ("afpw_mod", "afpw_new", "afpw_pkg", "afpw_pkg.sub"):
        sys.modules.pop(name, None)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)
    pyworker._stamps.pop(archive, None)


@eager_only
def test_unchanged_archive_not_reread(zip_on_path):
    archive, _files, reads = zip_on_path
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    # the first invalidation after the importers were made stamps the
    # archive: one read for the archive, not one per importer
    importlib.invalidate_caches()
    assert reads == [archive]
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    import afpw_mod

    assert afpw_mod.X == 1


@eager_only
def test_rewritten_archive_reread_once(zip_on_path):
    archive, files, reads = zip_on_path
    importlib.invalidate_caches()
    reads.clear()

    _write_zip(archive, {**files, "afpw_new.py": "Z = 3\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    import afpw_new

    assert afpw_new.Z == 3
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    # a new mtime alone (same size) also counts as a change
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert reads == [archive]


@eager_only
def test_install_idempotent(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    original = getattr(current, "_afspark_reread", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    pyworker.install()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched._afspark_reread is original
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def test_install_noop_on_lazy_interpreters(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    original = getattr(current, "_afspark_reread", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 12, 0, "final", 0))
        pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is original


def _kernels():
    from audioflux_spark.config import DEFAULT
    from audioflux_spark.operators import indexer, wand

    segment = indexer._make_segment_fn(DEFAULT)
    merge = indexer._make_merge_stream()
    inputs = [("part-00000.parquet", 0, 1.0)]
    return {
        "segment": segment,
        "partial_writer": indexer._make_partial_writer(segment, {}, "idx", 2),
        "merge": merge,
        "merge_writer": indexer._make_merge_writer(merge, "segments"),
        "range_merge": indexer._make_range_merge(inputs, ["m"], "segments", 1),
        "partial_reader": indexer._make_partial_reader(inputs),
        "serve_query": wand._serve_query,
    }


@pytest.mark.parametrize("name", sorted(_kernels()))
def test_kernel_unpickle_installs_patch(name):
    """A kernel ships to Python workers cloudpickled; loading it must import
    the package, which is what installs the patch in each worker."""
    from pyspark import cloudpickle

    blob = cloudpickle.dumps(_kernels()[name])
    probe = (
        "import pickle, sys, zipimport; pickle.loads(sys.stdin.buffer.read()); "
        "print('audioflux_spark' in sys.modules, "
        "hasattr(zipimport.zipimporter.invalidate_caches, '_afspark_reread'))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], input=blob, capture_output=True, cwd=root,
        check=True, timeout=120,
    ).stdout.decode().split()
    assert out[0] == "True"
    assert out[1] == str(sys.version_info < (3, 12))
