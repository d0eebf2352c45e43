"""The worker zip-importer override: an unchanged archive is not re-read by
``importlib.invalidate_caches()``, a rewritten one is, and only Spark tasks
install it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark import cloudpickle


def _count_reads(archive=None):
    """Run ``importlib.invalidate_caches()`` and return how many archive
    directories it read (only ``archive``'s when given)."""
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return sum(1 for p in reads if archive is None or p == archive)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ reloads lazily")
def test_unchanged_archive_not_reread(tmp_path, monkeypatch):
    from markmuse_spark.worker_zipimport import invalidate_caches

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", invalidate_caches)
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mm_zip_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("mm_zip_a").VALUE == "a"
        # the importer's first invalidation reads; it has no stamp yet
        _count_reads(archive)
        assert _count_reads(archive) == 0

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("mm_zip_b.py", "VALUE = 'b'\n")
        assert _count_reads(archive) == 1
        assert importlib.import_module("mm_zip_b").VALUE == "b"
        assert _count_reads(archive) == 0
    finally:
        for name in ("mm_zip_a", "mm_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def _reads_in_worker(batches):
    # Unpickling any markmuse_spark function imports the package, which
    # installs the override; this function is shipped by value, so import
    # it here.  The warm-up call then re-reads the importers that have no
    # stamp yet; Spark hands a task to the oldest idle worker, so a
    # warm-up task would not reliably warm the worker that runs the next.
    import markmuse_spark  # noqa: F401

    importlib.invalidate_caches()
    n = _count_reads()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"reads": [n]})


def test_worker_skips_unchanged_zip_reloads(spark):
    # the worker cannot import this test module: ship its functions by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    try:
        frame = spark.range(1, numPartitions=1).mapInArrow(_reads_in_worker, "reads long")
        rows = frame.collect()
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[__name__])
    # without the override every zipimporter in the worker (pyspark.zip,
    # its subpackages, the spark-core jar) re-reads its archive: ~16
    assert rows[0]["reads"] == 0


def test_driver_keeps_stock_invalidate_caches(spark):
    import markmuse_spark.worker_zipimport as wz

    wz.install_in_worker()
    assert zipimport.zipimporter.invalidate_caches is wz._reload
