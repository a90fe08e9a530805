"""Lazy zip-archive invalidation (isimip_qa_spark/_lazyzip.py): an
`importlib.invalidate_caches()` re-reads no zip listing, a later import
still sees the archive's current contents, and Python workers that ran a
package UDF keep the behaviour for their later tasks."""

from __future__ import annotations

import importlib
import pkgutil
import sys
import zipfile
import zipimport

import pytest

import isimip_qa_spark  # noqa: F401  (installs the backport)
from isimip_qa_spark import _lazyzip


@pytest.fixture
def read_counts(monkeypatch):
    """archive path -> number of `zipimport._read_directory` calls."""
    counts: dict[str, int] = {}
    orig = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return orig(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "lazymods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("lazymod_a.py", "VALUE = 'a'\n")
    sys.path.insert(0, archive)
    yield archive
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("lazymod_a", "lazymod_b"):
        sys.modules.pop(name, None)


def test_invalidate_reads_no_listing_and_import_rereads_once(zip_on_path, read_counts):
    assert importlib.import_module("lazymod_a").VALUE == "a"
    read_counts.clear()
    importlib.invalidate_caches()
    assert read_counts == {}

    with zipfile.ZipFile(zip_on_path, "a") as z:
        z.writestr("lazymod_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert read_counts == {}
    assert importlib.import_module("lazymod_b").VALUE == "b"
    assert read_counts[zip_on_path] == 1

    importlib.invalidate_caches()
    names = {m.name for m in pkgutil.iter_modules([zip_on_path])}
    assert names == {"lazymod_a", "lazymod_b"}


def test_install_is_idempotent(zip_on_path, read_counts):
    assert _lazyzip.install() is False
    assert _lazyzip.install() is False
    importlib.invalidate_caches()
    assert read_counts == {}
    assert importlib.import_module("lazymod_a").VALUE == "a"
    assert read_counts[zip_on_path] == 1


def test_package_udf_workers_skip_listing_rereads(spark):
    """Job 1 imports the package in every worker it uses; job 2 then
    counts, in each of its tasks, the listing reads of a fresh
    `invalidate_caches()` — the call pyspark makes before every task."""
    import pandas as pd

    def import_package(batches):
        import isimip_qa_spark  # noqa: F401

        for b in batches:
            yield b

    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        preloaded = "isimip_qa_spark" in sys.modules
        import isimip_qa_spark  # noqa: F401

        reads, orig = 0, zipimport._read_directory

        def counting(archive):
            nonlocal reads
            reads += 1
            return orig(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        n_zip = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"reads": [reads], "n_zip": [n_zip], "preloaded": [preloaded]}
        )

    df = spark.range(0, 800, numPartitions=8)
    assert df.mapInPandas(import_package, "id long").count() == 800
    got = df.mapInPandas(
        count_reads, "reads long, n_zip long, preloaded boolean"
    ).toPandas()
    assert len(got) == 8
    assert (got["n_zip"] > 0).all()  # the workers do import from zips
    assert got["preloaded"].any()  # reused workers kept the package
    assert (got["reads"] == 0).all(), got
