"""The zip directory cache (``miru_spark.zipcache``): an archive on the import
path is re-read on ``importlib.invalidate_caches()`` only when it changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from miru_spark import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``miru_zc_a`` on ``sys.path``, imported; yields
    (archive path, list of archives passed to ``_read_directory`` since)."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["miru_zc_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("miru_zc_a", "miru_zc_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("miru_zc_a").NAME == "miru_zc_a"
    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        yield archive, reads
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_invalidate_rereads_only_a_changed_archive(zip_on_path, tmp_path):
    archive, reads = zip_on_path
    for _ in range(4):
        importlib.invalidate_caches()
    # the first call has no stamp yet and re-reads, as upstream does
    assert reads.count(archive) == 1

    _write_zip(archive, ["miru_zc_a", "miru_zc_b"])
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("miru_zc_b").NAME == "miru_zc_b"
    importlib.invalidate_caches()
    assert reads.count(archive) == 2

    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()  # a missing archive re-reads (and fails) quietly
    importlib.invalidate_caches()


def test_install_wraps_once():
    original = zipimport.zipimporter.invalidate_caches.__wrapped__
    zipcache.install()
    importlib.reload(zipcache).install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.__wrapped__ is original
    assert not hasattr(original, "__wrapped__")


def test_spark_worker_skips_unchanged_archives(spark):
    """In a Python worker (which imports miru_spark to unpickle the kernel),
    repeated invalidations re-read none of its zipimporters' archives."""
    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(zipcache.probe, zipcache.PROBE_SCHEMA)
        .collect()
    )
    assert len(rows) == 1
    assert rows[0].zipimporters >= 1  # pyspark.zip, py4j and the spark-core jar
    assert rows[0].re_reads == 0
