"""Lazy zip-archive cache invalidation (``batch_doc_vqa_spark._zipimport``).

A Spark Python worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython 3.10-3.12 every zipimporter on the path then re-read
its archive's central directory at once. The package backports 3.13's lazy
invalidation. These tests pin its three properties: invalidation reads
nothing, importers over one archive share one read, and a rewritten archive
is still seen after invalidation. The last test runs the real worker path.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import batch_doc_vqa_spark._zipimport as compat

needs_310 = pytest.mark.skipif(sys.version_info < (3, 10), reason="eager re-read before 3.10")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``pkg`` with subpackage ``pkg.sub``, its root and
    subpackage importers, and a list recording each directory read."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"pkg/__init__.py": "", "pkg/sub/__init__.py": "", "pkg/sub/a.py": "A = 1\n"})
    reads = []
    real = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    root = zipimport.zipimporter(path)
    sub = zipimport.zipimporter(f"{path}/pkg/sub")
    yield path, root, sub, reads
    zipimport._zip_directory_cache.pop(path, None)


@needs_310
def test_invalidate_caches_reads_nothing(archive):
    path, root, sub, reads = archive
    assert reads == [path]  # both importers share the first read
    root.invalidate_caches()
    sub.invalidate_caches()
    assert reads == [path]


@needs_310
def test_importers_share_one_read_after_invalidation(archive):
    path, root, sub, reads = archive
    root.invalidate_caches()
    sub.invalidate_caches()
    assert root.find_spec("pkg") is not None
    assert sub.find_spec("pkg.sub.a") is not None
    assert reads == [path, path]


@needs_310
def test_rewritten_archive_is_seen_after_invalidation(archive):
    path, root, sub, reads = archive
    assert sub.find_spec("pkg.sub.b") is None
    _write_zip(path, {"pkg/__init__.py": "", "pkg/sub/__init__.py": "", "pkg/sub/a.py": "A = 1\n",
                      "pkg/sub/b.py": "B = 2\n"})
    sub.invalidate_caches()
    spec = sub.find_spec("pkg.sub.b")
    assert spec is not None and spec.origin.endswith("b.py")
    assert root.find_spec("pkg") is not None


@pytest.mark.parametrize("version", [(3, 9, 18), (3, 13, 0)])
def test_stdlib_class_untouched_outside_310_to_312(monkeypatch, version):
    marker_get, marker_inv = object(), object()
    monkeypatch.setattr(zipimport.zipimporter, "_files", marker_get, raising=False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", marker_inv, raising=False)
    monkeypatch.setattr(sys, "version_info", version)
    importlib.reload(compat)
    assert zipimport.zipimporter.__dict__["_files"] is marker_get
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is marker_inv
    monkeypatch.undo()
    importlib.reload(compat)
    if sys.version_info >= (3, 13):
        assert "_files" not in zipimport.zipimporter.__dict__


def test_worker_task_start_reads_no_archive(spark):
    """``extract_udf`` and a probe share one Python worker. The package is
    unpickled with ``extract_udf``, so the probe's task-start invalidation
    must read no archive directory while zipimporters are on the path."""
    from batch_doc_vqa_spark.functions.udfs import extract_udf
    from batch_doc_vqa_spark.sources import pages_df

    @F.pandas_udf("struct<reads:long,zip_importers:long>")
    def probe(x: pd.Series) -> pd.DataFrame:
        import importlib as il
        import sys as s
        import zipimport as zi

        reads = []
        real = zi._read_directory
        zi._read_directory = lambda p: reads.append(p) or real(p)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        n_zip = sum(isinstance(f, zi.zipimporter) for f in s.path_importer_cache.values())
        return pd.DataFrame({"reads": [len(reads)] * len(x), "zip_importers": [n_zip] * len(x)})

    rows = (
        pages_df(spark, 40, seed=3)
        .coalesce(1)
        .select(extract_udf("html").status.alias("status"), probe("url").alias("p"))
        .select("status", "p.*")
        .distinct()
        .collect()
    )
    assert {r["reads"] for r in rows} == {0}
    assert min(r["zip_importers"] for r in rows) > 0
