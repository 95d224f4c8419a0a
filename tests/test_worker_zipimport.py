"""Stat-checked zip import caches in pyspark workers (ocr_spark._worker).

Unit tests install the hook in this process under a faked worker
environment and undo it afterwards; the Spark tests check the hook inside
the real, reused Python workers."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from ocr_spark import _worker


def _write_zip(path, modules: dict[str, str]) -> None:
    # write then rename, as a deployment replacing an archive would
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def hooked(monkeypatch):
    """The hook installed as in a pyspark worker; the stock method is put
    back afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setenv(_worker._WORKER_ENV, "test")
    if sys.version_info >= (3, 13):
        pytest.skip("the hook is a no-op on CPython >= 3.13")
    assert _worker.install()
    return monkeypatch


@pytest.fixture
def zip_reads(monkeypatch):
    """Archive paths passed to zipimport._read_directory, in call order."""
    reads: list[str] = []
    orig = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_directory_read_once_and_rewrite_picked_up(hooked, zip_reads, tmp_path):
    tag = uuid.uuid4().hex
    first, second = f"zprobe_a_{tag}", f"zprobe_b_{tag}"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {first: "VALUE = 1\n"})
    hooked.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).VALUE == 1
        del zip_reads[:]
        for _ in range(4):
            importlib.invalidate_caches()
        assert zip_reads.count(archive) == 1

        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(second).VALUE == 2
        assert zip_reads.count(archive) == 2
    finally:
        sys.modules.pop(first, None)
        sys.modules.pop(second, None)
        sys.path_importer_cache.pop(archive, None)


def test_missing_archive_falls_back_to_stock(hooked, tmp_path):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"zprobe_gone": "VALUE = 0\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert importer._files
    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}


def test_install_twice_is_harmless(hooked):
    method = zipimport.zipimporter.invalidate_caches
    assert _worker.install()
    assert zipimport.zipimporter.invalidate_caches is method
    assert not hasattr(method.__wrapped__, "__wrapped__")


def test_stock_outside_workers_and_on_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.delenv(_worker._WORKER_ENV, raising=False)
    assert not _worker.install()
    assert zipimport.zipimporter.invalidate_caches is stock

    monkeypatch.setenv(_worker._WORKER_ENV, "test")
    with monkeypatch.context() as m:
        m.setattr(sys, "version_info", (3, 13, 0, "final", 0))
        assert not _worker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_reused_worker_reads_no_zip_directory(spark):
    """At the start of every task pyspark's worker invalidates the import
    caches. Once ocr_spark is imported in a worker, that must not re-read
    any zip archive's directory again."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        warm = "ocr_spark" in sys.modules  # imported by an earlier task
        import ocr_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        orig = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {"warm": [warm], "reads": [len(reads)], "zips": [zips]}
        )

    rows = []
    for _ in range(3):
        rows += (
            spark.range(0, 64, 1, 8)
            .mapInArrow(probe, "warm boolean, reads long, zips long")
            .collect()
        )
    if not any(r.zips for r in rows):
        pytest.skip("workers import nothing from a zip archive")
    warm = [r.reads for r in rows if r.warm]
    assert warm, "no task ran in a reused Python worker"
    assert warm == [0] * len(warm)


def test_add_py_file_reaches_reused_workers(spark, tmp_path, monkeypatch):
    """addPyFile is why pyspark invalidates import caches per task: a zip
    shipped after the workers have the hook must still import there."""

    def warm_up(batches):
        import pyarrow as pa

        import ocr_spark  # noqa: F401

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"n": [1]})

    spark.range(0, 64, 1, 8).mapInArrow(warm_up, "n long").collect()

    name = f"pyfile_probe_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "VALUE = 42\n"})
    # addPyFile also puts the archive on the driver's sys.path
    monkeypatch.setattr(sys, "path", list(sys.path))
    spark.sparkContext.addPyFile(archive)

    def use_module(batches):
        import importlib
        import sys

        import pyarrow as pa

        warm = "ocr_spark" in sys.modules
        value = importlib.import_module(name).VALUE
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"warm": [warm], "value": [value]})

    rows = spark.range(0, 64, 1, 8).mapInArrow(use_module, "warm boolean, value long").collect()
    assert [r.value for r in rows] == [42] * 8
    assert any(r.warm for r in rows), "no task ran in a reused Python worker"
