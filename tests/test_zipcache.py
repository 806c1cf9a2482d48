"""Stat-guarded zip-import cache invalidation (``eel_sdk_spark._zipcache``).

PySpark invalidates the import caches at the start of every Python task;
before CPython 3.13 each zip importer then re-reads its archive's whole
directory. In a worker that has imported the engine, an unchanged
archive is not re-read; a rewritten one still is.
"""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from eel_sdk_spark import _zipcache

needs_lazy_zipimport_fix = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip caches lazily; the guard is off")


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


@pytest.fixture
def reads(monkeypatch):
    """Counts the archive directory reads."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _install_as_worker(monkeypatch):
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _zipcache.install()


@needs_lazy_zipimport_fix
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, reads):
    """A package in a zip has two importers over the archive: its root
    and the package prefix. A rewritten archive is read once, and both
    see the new directory."""
    pkg = f"zc_{uuid.uuid4().hex}"
    archive = tmp_path / "mods.zip"
    files = {f"{pkg}/__init__.py": "", f"{pkg}/m1.py": "VALUE = 1\n"}
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(f"{pkg}.m1").VALUE == 1
    _install_as_worker(monkeypatch)
    reads.clear()

    def rereads():
        importlib.invalidate_caches()
        n = reads.count(str(archive))
        reads.clear()
        return n

    assert rereads() == 0 and rereads() == 0
    # as an addPyFile of a new version of the zip
    _write_zip(archive, {**files, f"{pkg}/m2.py": "VALUE = 2\n"})
    assert rereads() == 1
    assert importlib.import_module(f"{pkg}.m2").VALUE == 2
    assert rereads() == 0
    for m in (pkg, f"{pkg}.m1", f"{pkg}.m2"):
        sys.modules.pop(m, None)


@needs_lazy_zipimport_fix
def test_archive_opened_after_install_is_read_once(tmp_path, monkeypatch,
                                                   reads):
    _install_as_worker(monkeypatch)
    a = f"zc_l_{uuid.uuid4().hex}"
    archive = tmp_path / "late.zip"
    _write_zip(archive, {f"{a}.py": "VALUE = 3\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(a).VALUE == 3
    reads.clear()
    for expect in (1, 0, 0):
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == expect
        reads.clear()
    sys.modules.pop(a, None)


def test_install_is_idempotent(monkeypatch):
    _install_as_worker(monkeypatch)
    installed = zipimport.zipimporter.invalidate_caches
    if sys.version_info < (3, 13):
        assert installed._stat_guarded
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_noop_outside_a_worker_and_on_313(monkeypatch):
    real = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", real)
    monkeypatch.delenv("PYTHON_WORKER_FACTORY_SECRET", raising=False)
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is real
    monkeypatch.setenv("PYTHON_WORKER_FACTORY_SECRET", "test")
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is real


def test_worker_task_rereads_no_archive(spark):
    """A task that has imported the engine re-reads no archive directory
    when the caches are invalidated, as PySpark does before each task;
    the driver keeps CPython's own invalidation."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import zipimport

        import eel_sdk_spark  # noqa: F401

        real, calls = zipimport._read_directory, []

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.record_batch([pa.array([len(calls)], pa.int64())],
                              names=["reads"])

    got = [r["reads"] for r in spark.range(4, numPartitions=2)
           .mapInArrow(probe, "reads long").collect()]
    assert len(got) == 2
    if sys.version_info < (3, 13):
        assert got == [0, 0]
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "_stat_guarded", False)
