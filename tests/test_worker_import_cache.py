"""The package's stat guard on ``zipimport.zipimporter.invalidate_caches``
(``geomesa_spark._guard_zip_invalidation``) and the per-checkout package
zip shipped to Python workers (``contract._build_pyfiles_zip``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

import geomesa_spark
from geomesa_spark import contract

eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimport re-reads lazily from Python 3.12 on; no guard installed"
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    """Write ``modules`` ({name: source}) into a zip at ``path`` through
    ``os.replace``, as ``contract._build_pyfiles_zip`` does."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@eager_zipimport
def test_guard_rereads_a_replaced_archive(tmp_path, monkeypatch):
    """An archive rebuilt with ``os.replace`` is re-read: a module added by
    the rebuild imports after ``importlib.invalidate_caches()``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gs_zip_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("gs_zip_mod_a", "gs_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gs_zip_mod_a").VALUE == 1
    importlib.invalidate_caches()  # unchanged: served from the cached directory
    with pytest.raises(ImportError):
        importlib.import_module("gs_zip_mod_b")

    _write_zip(archive, {"gs_zip_mod_a": "VALUE = 1\n", "gs_zip_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("gs_zip_mod_b").VALUE == 2


@eager_zipimport
def test_guard_skips_rereading_an_unchanged_archive(tmp_path, monkeypatch):
    """50 invalidations of an unchanged archive read its directory once."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gs_zip_mod_c": "VALUE = 3\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "gs_zip_mod_c", raising=False)
    assert importlib.import_module("gs_zip_mod_c").VALUE == 3

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(50):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert zipimport.zipimporter.invalidate_caches.stat_guarded


@eager_zipimport
def test_guard_installed_on_every_python_worker(spark):
    """Every Python worker that runs a ``geomesa_spark`` function has
    imported the package, and with it installed the guard."""
    contract.ensure_py_files(spark)

    def probe(batches):
        for _ in batches:
            guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
            yield pd.DataFrame({"version": [geomesa_spark.__version__], "guarded": [guarded]})

    schema = StructType([StructField("version", StringType()), StructField("guarded", BooleanType())])
    rows = spark.range(0, 800, numPartitions=8).mapInPandas(probe, schema).collect()
    assert len(rows) == 8
    assert all(r["guarded"] for r in rows)


def test_pyfiles_zip_is_per_package_root(tmp_path):
    """Two checkouts get two zips, each holding its own code, whatever
    order they are built in."""
    roots = []
    for tag in ("one", "two"):
        pkg = tmp_path / tag / "geomesa_spark"
        pkg.mkdir(parents=True)
        (pkg / "__init__.py").write_text(f"CHECKOUT = {tag!r}\n")
        roots.append(str(tmp_path / tag))
    zips = []
    try:
        for root in roots + roots:  # the rebuild pass reuses each zip
            zips.append(contract._build_pyfiles_zip(root))
        assert zips[0] != zips[1]
        assert zips[2:] == zips[:2]
        for root, path in zip(roots, zips):
            with zipfile.ZipFile(path) as z:
                src = z.read("geomesa_spark/__init__.py").decode()
            assert src == f"CHECKOUT = {os.path.basename(root)!r}\n"
    finally:
        for path in set(zips):
            os.remove(path)
