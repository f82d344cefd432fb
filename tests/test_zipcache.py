"""website_indexer_spark.zipcache: ``importlib.invalidate_caches()``
re-reads a zip archive's directory only when the archive changed."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from website_indexer_spark import zipcache

MODULE = "zipcache_probe_mod"

needs_shim = pytest.mark.skipif(
    not zipcache.install(),
    reason="this interpreter keeps the stdlib zipimporter method",
)


def _write_zip(path: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{MODULE}.py", body)


def _import_value() -> int:
    sys.modules.pop(MODULE, None)
    return importlib.import_module(MODULE).VALUE


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "VALUE = 1\n")
    monkeypatch.syspath_prepend(path)
    yield path
    sys.modules.pop(MODULE, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    zipcache._read_stamps.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archives read by zipimport's directory reader, in call order."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@needs_shim
def test_unchanged_archive_is_not_reread(archive, reads):
    assert _import_value() == 1
    importlib.invalidate_caches()  # the first call stamps the archive
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    assert _import_value() == 1


@needs_shim
def test_rewritten_archive_is_reread(archive, reads):
    assert _import_value() == 1
    importlib.invalidate_caches()
    _write_zip(archive, "VALUE = 22\n")  # a new size
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert _import_value() == 22


@needs_shim
def test_same_size_archive_with_new_mtime_is_reread(archive, reads):
    assert _import_value() == 1
    importlib.invalidate_caches()
    st = os.stat(archive)
    _write_zip(archive, "VALUE = 2\n")  # the same size
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert _import_value() == 2


@needs_shim
def test_removed_archive_takes_the_stdlib_path(archive):
    assert _import_value() == 1
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        _import_value()


@pytest.mark.skipif(
    zipcache._stdlib_invalidate is None,
    reason="zipimporter has no invalidate_caches before Python 3.10",
)
def test_python_313_keeps_the_stdlib_method(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipcache._stdlib_invalidate
    )
    assert zipcache.install((3, 13)) is False
    assert zipimport.zipimporter.invalidate_caches is zipcache._stdlib_invalidate


@needs_shim
def test_spark_worker_runs_the_package_method(spark):
    """A pandas UDF whose closure holds one of the package's functions
    (so unpickling it imports the package, as every crawl UDF does)
    reports its worker's zipimporter method, and that a second
    ``importlib.invalidate_caches()`` re-reads no archive."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from website_indexer_spark.functions.urltools import hostname_with_port

    @pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib as il
        import zipimport as zi

        hostname_with_port("https://h.test/")
        method = zi.zipimporter.invalidate_caches
        real, calls = zi._read_directory, []
        zi._read_directory = lambda p: calls.append(p) or real(p)
        try:
            il.invalidate_caches()
            del calls[:]
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        return s.map(
            lambda _: f"{method.__module__}.{method.__name__} {len(calls)}"
        )

    got = {
        r[0]
        for r in spark.range(0, 8, numPartitions=4)
        .select(probe(F.col("id").cast("string")))
        .collect()
    }
    assert got == {"website_indexer_spark.zipcache.invalidate_if_changed 0"}
