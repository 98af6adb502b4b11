"""Parquet sources for the driver's synthetic tables (TESTDATA.md).

The reference has no storage layer at all (SURVEY.md §2.3 "scans:
absent" — it receives in-memory arrays); sources are where our engine
starts. Plain ``spark.read.parquet`` keeps Catalyst's pushdown/pruning:
filters and column selections written against these DataFrames reach
the parquet scan (check ``PushedFilters``/``ReadSchema`` in
``.explain("formatted")``).

At the 100 TB tier the same loaders apply unchanged — parquet scans
split by row-group; pair with partitioned layouts
(``df.write.partitionBy(...)``) or bucketed tables
(``bucketBy(n, keys)``) when a downstream groupBy/join key is known,
which removes the per-operator shuffle entirely.

Each session keeps the schema it inferred for a table, keyed by the
table's file version (see :func:`load_table`): without it every load
starts a Spark job that reads a parquet footer, and a query that loads
four tables starts four jobs before it runs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# session -> {absolute path: (file version, inferred schema)}
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]] = (
    weakref.WeakKeyDictionary()
)


def _file_version(path: str) -> tuple | None:
    """``(name, st_mtime_ns, st_size)`` of every file at or under
    ``path``, sorted by name; None when ``path`` is not on the local
    file system (a URI, or missing) or changes while it is read, which
    is never cached."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = sorted(os.path.join(root, n) for root, _, names in os.walk(path) for n in names)
    else:
        return None
    version = []
    try:
        for f in files:
            st = os.stat(f)
            version.append((f, st.st_mtime_ns, st.st_size))
    except FileNotFoundError:
        return None
    return tuple(version)


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Table ``name`` of ``sf_dir`` (default ``$SPARK_GRAFT_SF_DIR``,
    else :data:`DEFAULT_SF_DIR`) as a lazy parquet scan.

    The first load of a file version infers the schema (one Spark job
    reading a footer); later loads in the same session pass that schema
    to the reader and start no job. The version is the mtime and size
    of every file under the path, so a rewritten, added or removed file
    is inferred again.
    """
    # TESTDATA parquet stores time columns as timestamp[us], which Spark
    # reads as TIMESTAMP_NTZ (no zone). DuckDB reads the same bytes as a
    # naive timestamp, so wall-clock comparisons agree byte-for-byte;
    # queries doing EPOCH ARITHMETIC must go through
    # functions.timeutil.epoch_us, whose NTZ subtraction matches DuckDB's
    # epoch_us() independently of the session timezone.
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    path = os.path.join(sf_dir, f"{name}.parquet")
    version = _file_version(path)
    if version is None:
        return spark.read.parquet(path)
    schemas = _SCHEMAS.setdefault(spark, {})
    key = os.path.abspath(path)
    cached = schemas.get(key)
    if cached is not None and cached[0] == version:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = (version, df.schema)
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Expose every table as a temp view so the SQL API (spark.sql) can
    be used interchangeably with the DataFrame API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
