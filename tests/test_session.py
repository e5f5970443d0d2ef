"""Process-level plumbing of the engine: the zip-directory cache that keeps
``importlib.invalidate_caches()`` (called by every PySpark worker task)
from re-reading unchanged archives, in the driver, in a Python worker and
when the engine itself ships as a zip."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

import projcl_spark  # noqa: F401  (installs the zip cache)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_zip_cache_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    m1, m2 = "projcl_zc_m1", "projcl_zc_m2"
    _write_zip(archive, [m1])
    monkeypatch.syspath_prepend(archive)
    for name in (m1, m2):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module(m1).NAME == m1

    reads = []
    stock = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads, "unchanged archive was re-read"

    _write_zip(archive, [m1, m2])
    importlib.invalidate_caches()
    assert importlib.import_module(m2).NAME == m2
    assert reads.count(archive) == 1
    sys.modules.pop(m1, None)
    sys.modules.pop(m2, None)
    sys.path_importer_cache.pop(archive, None)


def test_worker_runs_with_zip_cache(spark):
    """A Python worker that unpickles engine code keeps the wrapper."""
    from projcl_spark import session as engine

    @F.pandas_udf("string")
    def wrapper_module(x: pd.Series) -> pd.Series:
        assert engine is not None  # unpickling this UDF imports the engine
        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(x))

    got = {r[0] for r in spark.range(4).select(wrapper_module("id")).collect()}
    assert got == {"projcl_spark.session"}


def test_packaged_zip_imports_after_invalidate(tmp_path):
    """The ``--py-files`` delivery: the engine loaded from the zip that
    ``make package`` builds keeps importing after ``invalidate_caches``."""
    dist = tmp_path / "dist"
    dist.mkdir()
    archive = str(dist / "projcl_spark.zip")
    subprocess.run(["zip", "-rq", archive, "projcl_spark"],  # as `make package`
                   cwd=ROOT, check=True)
    code = textwrap.dedent(f"""
        import importlib, sys, zipimport
        sys.path.insert(0, {archive!r})
        import projcl_spark
        assert projcl_spark.__file__.startswith({archive!r}), projcl_spark.__file__
        assert zipimport.zipimporter.invalidate_caches.__module__ == "projcl_spark.session"
        reads = []
        stock = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock(p)
        importlib.invalidate_caches()
        import projcl_spark.operators.pip as pip
        assert pip.__file__.startswith({archive!r}), pip.__file__
        assert {archive!r} not in reads, reads
    """)
    # -I: no cwd, PYTHONPATH or user site on sys.path, so only the zip
    # can provide the engine
    out = subprocess.run([sys.executable, "-I", "-c", code], cwd=tmp_path,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
