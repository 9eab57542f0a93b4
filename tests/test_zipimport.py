"""The lazy ``zipimporter.invalidate_caches`` that importing sparkts
installs on CPython < 3.13 (``sparkts/_zipimport.py``).

The unit tests count ``zipimport._read_directory`` calls (one call = one
read of an archive's central directory) on zips in ``tmp_path``, without a
JVM. The Spark-live test runs the same count inside real worker tasks,
where PySpark calls ``importlib.invalidate_caches()`` before every task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from sparkts import _zipimport

eager_stock = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ invalidates zip importers lazily; no wrapper installed")


def _zip(path, **modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture
def reads(monkeypatch):
    """Archives whose central directory is read while the test runs."""
    seen = []
    stock = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@eager_stock
def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = _zip(tmp_path / "a.zip", zipshim_a="X = 1\n")
    imp = zipimport.zipimporter(archive)
    assert reads == [archive]
    imp.invalidate_caches()  # no signature recorded yet: one stock read
    assert reads == [archive] * 2
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == [archive] * 2
    assert imp.find_spec("zipshim_a") is not None


@eager_stock
def test_rewritten_archive_is_reread_and_imports(tmp_path, reads,
                                                 monkeypatch):
    archive = _zip(tmp_path / "a.zip", zipshim_a="X = 1\n")
    monkeypatch.syspath_prepend(archive)  # invalidates: first stock read
    try:
        assert importlib.import_module("zipshim_a").X == 1
        importlib.invalidate_caches()
        n = reads.count(archive)
        _zip(archive, zipshim_a="X = 1\n", zipshim_b="Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        assert importlib.import_module("zipshim_b").Y == 2
    finally:
        for name in ("zipshim_a", "zipshim_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@eager_stock
def test_deleted_archive_behaves_as_stock(tmp_path, reads):
    archive = _zip(tmp_path / "a.zip", zipshim_a="X = 1\n")
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()  # stat fails: stock read, which finds nothing
    assert imp.find_spec("zipshim_a") is None
    _zip(archive, zipshim_a="X = 1\n")
    imp.invalidate_caches()
    assert imp.find_spec("zipshim_a") is not None


@eager_stock
def test_second_install_does_not_wrap_twice():
    installed = zipimport.zipimporter.invalidate_caches
    assert hasattr(installed, "__wrapped__")
    assert not hasattr(installed.__wrapped__, "__wrapped__")
    _zipimport.install()
    importlib.reload(_zipimport)
    assert zipimport.zipimporter.invalidate_caches is installed


def test_python_313_keeps_the_stock_method(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    stock = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    _zipimport.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_workers_skip_unchanged_archives(spark):
    """Inside a real task: after ``import sparkts``, a second
    ``importlib.invalidate_caches()`` re-reads no archive. The worker must
    hold a zip importer whenever PySpark runs from ``pyspark.zip``, so the
    count cannot pass on a worker without one."""
    import pandas as pd

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import sparkts  # noqa: F401

        seen = []
        stock = zipimport._read_directory

        def counting(archive):
            seen.append(archive)
            return stock(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(seen)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        for _ in batches:
            pass
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"eager": [sys.version_info < (3, 13)],
                            "zip_importers": [n_zip],
                            "second_reads": [len(seen) - first]})

    rows = (spark.range(4).repartition(4)
            .mapInPandas(probe, "eager boolean, zip_importers long, "
                                "second_reads long")
            .collect())
    assert len(rows) == 4
    assert all(r.second_reads == 0 for r in rows if r.eager), rows
    pyspark_zip = os.path.join(os.environ.get("SPARK_HOME", ""), "python",
                               "lib", "pyspark.zip")
    if os.path.exists(pyspark_zip):
        assert all(r.zip_importers >= 1 for r in rows), rows
