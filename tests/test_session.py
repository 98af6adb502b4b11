"""Session and Python-worker process setup: the stat-guarded zipimport
cache invalidation (``xarray_scipy_spark._zipcache``) and the host-sized
driver heap (``session._default_driver_memory``)."""

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

import xarray_scipy_spark  # noqa: F401  (installs the zipimport wrapper)
from xarray_scipy_spark import session
from xarray_scipy_spark.core import apply_series_kernel

PATCHED = (3, 10) <= sys.version_info[:2] < (3, 13)


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``m1.py`` first on ``sys.path``, plus a list that
    records every ``zipimport._read_directory`` call."""
    importlib.invalidate_caches()  # settle importers made before the wrapper
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m1"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(arch):
        reads.append(arch)
        return read_directory(arch)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    sys.path.insert(0, path)
    try:
        yield path, reads
    finally:
        sys.path.remove(path)
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)


def test_invalidate_caches_skips_unchanged_archive(archive):
    path, reads = archive
    import m1

    assert m1.NAME == "m1"
    assert reads == [path]  # the importer's own first read
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_invalidate_caches_rereads_rewritten_archive(archive):
    path, reads = archive
    import m1  # noqa: F401

    _write_zip(path, ["m1", "m2"])
    importlib.invalidate_caches()
    import m2

    assert m2.NAME == "m2"
    assert path in reads


@pytest.mark.skipif(not PATCHED, reason="wrapper installs on Python 3.10-3.12")
def test_invalidate_caches_unstattable_archive_goes_to_original(archive):
    path, _ = archive
    import m1  # noqa: F401

    importer = sys.path_importer_cache[path]
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}


@pytest.mark.skipif(not PATCHED, reason="wrapper installs on Python 3.10-3.12")
def test_python_workers_run_the_wrapper(spark):
    def kernel(x):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        wrapped = fn.__module__ == "xarray_scipy_spark._zipcache"
        return {"wrapped": np.full((x.shape[0], 1), float(wrapped))}

    pdf = pd.DataFrame(
        {"ch": np.repeat([0, 1], 4), "t": np.tile(np.arange(4.0), 2), "v": 1.0}
    )
    out = apply_series_kernel(
        spark.createDataFrame(pdf),
        kernel,
        by=["ch"],
        order="t",
        values=["v"],
        out_fields="wrapped double",
        buckets=2,
    ).toPandas()
    assert len(out) == 2
    assert (out["wrapped"] == 1.0).all()


def test_default_driver_memory_fits_the_host(monkeypatch):
    mem = session._default_driver_memory()
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) * 2**20 <= min(phys, 48 * 2**30)

    class Built(Exception):
        pass

    def get_or_create(builder):
        raise Built(builder._options["spark.driver.memory"])

    monkeypatch.setattr(session.SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    with pytest.raises(Built, match="^3g$"):
        session.get_spark()
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    with pytest.raises(Built, match=f"^{mem}$"):
        session.get_spark()
