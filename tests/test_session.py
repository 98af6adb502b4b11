"""Session and Python-worker process setup: the stat-guarded zipimport
cache invalidation (``xarray_scipy_spark._zipcache``), the host-sized
driver heap (``session._default_driver_memory``), the codegen cache
size, and the per-session parquet schema cache of ``load_table``."""

import importlib
import os
import sys
import zipfile
import zipimport
from functools import reduce

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame

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


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one per codegen cache miss)."""
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_warm_working_set(spark):
    """150 projections, each with its own literal, generate 150 classes.
    At Spark's default of 100 entries the LRU drops every one of them
    before its second use; the session's cache keeps them all, so the
    second round compiles nothing."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    # a union compiles each branch's projection as its own class
    union = reduce(
        DataFrame.unionAll,
        [spark.range(0, 2, 1, 1).selectExpr(f"{k} AS k", f"id * 3 + {k} AS v") for k in range(150)],
    )
    before = _compiles(spark)
    union.collect()
    assert _compiles(spark) - before >= 150
    before = _compiles(spark)
    rows = union.collect()
    assert _compiles(spark) == before
    assert sorted(map(tuple, rows)) == [(k, k + 3 * i) for k in range(150) for i in (0, 1)]


def _jobs_of(spark, fn, group):
    """(fn's result, ids of the Spark jobs it started under ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_reuses_the_schema_of_an_unchanged_file(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xarray_scipy_spark.sources import load_table

    pq.write_table(pa.table({"k": [1, 2, 3], "x": [0.5, 1.5, 2.5]}), tmp_path / "t.parquet")
    first, jobs = _jobs_of(spark, lambda: load_table(spark, "t", str(tmp_path)), "cold-load")
    assert jobs  # the cold load infers the schema with a job
    second, jobs = _jobs_of(spark, lambda: load_table(spark, "t", str(tmp_path)), "warm-load")
    assert jobs == []
    assert second.schema == first.schema
    assert sorted(map(tuple, second.collect())) == [(1, 0.5), (2, 1.5), (3, 2.5)]


def test_load_table_infers_a_rewritten_file_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xarray_scipy_spark.sources import load_table

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    assert load_table(spark, "t", str(tmp_path)).columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2], "y": ["a", "b"]}), path)
    df = load_table(spark, "t", str(tmp_path))
    assert df.columns == ["k", "y"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]
