"""Worker-environment settings from mysteryann_spark.session: the
zipimport guard that keeps ``importlib.invalidate_caches()`` from
re-reading unchanged zip archives (pyspark calls it once per task)."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from mysteryann_spark.session import install_zipimport_guard

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ reads zip directories lazily; no guard is installed",
)


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip archive on sys.path; the fixture removes it and its modules."""
    path = str(tmp_path / "guarded.zip")
    names = []

    def write(**modules):
        with zipfile.ZipFile(path, "w") as zf:
            for name, src in modules.items():
                zf.writestr(f"{name}.py", src)
        names.extend(modules)

    write(zg_first="VALUE = 1\n")
    sys.path.insert(0, path)
    try:
        yield path, write
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        for name in names:
            sys.modules.pop(name, None)
        importlib.invalidate_caches()


@needs_guard
def test_unchanged_zip_not_reread(zip_on_path, monkeypatch):
    assert install_zipimport_guard()
    importlib.invalidate_caches()
    assert importlib.import_module("zg_first").VALUE == 1
    # the first call after an importer's read re-reads once to record
    # the archive's stamp; every later call finds it unchanged
    importlib.invalidate_caches()
    reads = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


@needs_guard
def test_rewritten_zip_is_reread(zip_on_path):
    path, write = zip_on_path
    assert install_zipimport_guard()
    importlib.invalidate_caches()
    assert importlib.import_module("zg_first").VALUE == 1
    importlib.invalidate_caches()
    st = os.stat(path)
    write(zg_first="VALUE = 1\n", zg_second="VALUE = 2  # a new module\n")
    # a new size and a clearly later mtime, whatever the fs granularity
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 2 * 10**9))
    assert os.stat(path).st_size != st.st_size
    importlib.invalidate_caches()
    assert importlib.import_module("zg_second").VALUE == 2


def test_guard_installed_in_python_worker(spark):
    """The package import installs the guard in a Python worker, with no
    task-context condition."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        import mysteryann_spark  # noqa: F401

        for _ in batches:
            pass
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
        yield pd.DataFrame(
            {"guarded": [bool(guarded)], "lazy_zip": [sys.version_info >= (3, 13)]}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "guarded boolean, lazy_zip boolean")
        .collect()
    )
    assert len(rows) == 1
    assert rows[0]["guarded"] == (not rows[0]["lazy_zip"])
