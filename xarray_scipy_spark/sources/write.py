"""Sinks: partitioned / bucketed / series-form parquet writers.

The reference has no storage layer (SURVEY.md §2.3); these writers are
the output half of our engine's scan story. Layout choices here are
what make the 100 TB read side cheap:

- ``write_partitioned``: hive-style directory partitioning on a
  low-cardinality column — downstream filters on it become partition
  PRUNING (directories never listed), not row filtering.
- ``write_bucketed``: pre-shuffled bucket files keyed by a join/groupBy
  key — a downstream aggregation or join on that key skips its
  exchange entirely (the shuffle is paid once, at write time).
- ``write_series``: the engine's series-form layout — one row per
  series with the core dim as sorted arrays. Re-reading gives
  kernel-ready blocks with no window/sort; the natural checkpoint
  format between pipeline stages.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = [
    "write_clustered",
    "write_zordered",
    "zvalue",
    "write_partitioned",
    "write_bucketed",
    "register_bucketed",
    "write_series",
    "read_series",
]


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str],
    mode: str = "error",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-partitioned parquet. ``max_records_per_file`` bounds file
    size under skewed partitions (AQE handles task-side skew; this
    handles file-side)."""
    w = df.write.mode(mode).partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: Sequence[str],
    n_buckets: int,
    path: str | None = None,
    sort_by: Sequence[str] = (),
    mode: str = "error",
) -> None:
    """Bucketed table (``saveAsTable`` — bucketing requires the catalog;
    plain ``.parquet()`` silently drops bucket metadata). A downstream
    join/groupBy on ``bucket_by`` reads co-located buckets and skips the
    exchange; ``sort_by`` additionally pre-sorts within buckets (sorted
    merge reads for the series form)."""
    bucket_by = list(bucket_by)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    *,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] = (),
    replace: bool = False,
) -> None:
    """Re-attach an existing bucketed-parquet directory (written by
    :func:`write_bucketed`) to THIS session's catalog as an external
    ``CLUSTERED BY`` table.

    Bucket metadata lives in the catalog, not the files — a new
    session reading the directory with plain ``spark.read.parquet``
    gets correct DATA but loses the exchange-free join/groupBy
    property. This is the read-side half of the write-once/join-many
    layout story (measured at the 1000x tier: the tpch_q7/q8
    fact-fact sort-merge join drops its shuffles — 26.7→13.3 s and
    10.1→5.1 s — tools/q7_bucketed_ab.py at 71b8918, BASELINE.md r13). The
    declared ``bucket_by`` / ``n_buckets`` / ``sort_by`` MUST match
    the values the directory was written with; Spark trusts the
    declaration, so a mismatch silently produces wrong joins. The
    schema is read from the parquet footers, and the declaration is
    sanity-checked before CREATE TABLE (ADVICE r13 #1): every
    ``bucket_by``/``sort_by`` column must exist in that schema, and
    the bucket ids embedded in Spark's bucketed file names (the
    ``_NNNNN`` suffix) must all be < ``n_buckets`` — which catches a
    declaration SMALLER than the written layout whenever a file with
    bucket id >= ``n_buckets`` exists. That is not airtight (ADVICE
    r14 #1): Spark writes NO file for an empty bucket, so a directory
    written with 16 buckets whose keys happen to populate only low
    ids can pass a declared ``n_buckets=8`` silently — a
    ``UserWarning`` fires when the observed distinct ids cover less
    than half the declaration, the sparse-population signature. A
    declaration LARGER than the written one (e.g. written 8, declared
    16) is likewise cheaply undetectable from file names alone (ids
    0..7 are consistent with both) — both directions ultimately rest
    on the caller declaring what was written.

    Note on ``sort_by``: Spark 3+ does not propagate bucket sort
    order by default (a multi-file bucket reads as unordered), so the
    exchange-free SMJ still runs cheap LOCAL sorts over the
    pre-sorted runs. With one file per bucket (repartition on the
    key before :func:`write_bucketed`), setting
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` makes
    the declared order visible and removes those sorts too
    (tests/test_plans.py::test_register_bucketed_roundtrip pins both
    modes).
    """
    schema = spark.read.parquet(path).schema
    missing = [c for c in [*bucket_by, *sort_by] if c not in schema.names]
    if missing:
        raise ValueError(
            f"register_bucketed: declared column(s) {missing} not in the "
            f"parquet schema at {path} (has {schema.names})"
        )
    # bucket ids ride in the file names (part-...-<uuid>_NNNNN.c000...):
    # every observed id must fit under the declared bucket count.
    # Hadoop FS (not os.listdir) so HDFS/object-store paths validate too.
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    ids = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        m = re.search(r"_(\d{5})\.", name)
        if name.endswith(".parquet") and m:
            ids.append(int(m.group(1)))
    if not ids:
        raise ValueError(
            f"register_bucketed: no bucketed parquet files (_NNNNN "
            f"suffix) under {path} — was it written by write_bucketed?"
        )
    if max(ids) >= n_buckets:
        raise ValueError(
            f"register_bucketed: observed bucket id {max(ids)} but "
            f"declared n_buckets={n_buckets} — the directory was written "
            "with MORE buckets than declared; registering would silently "
            "mis-colocate joins"
        )
    # empty buckets write no file, so a sparsely-populated layout can
    # hide a too-small declaration from the max-id check (ADVICE r14
    # #1) — surface the weak-evidence case instead of staying silent.
    if len(set(ids)) < n_buckets / 2:
        import warnings

        warnings.warn(
            f"register_bucketed: only {len(set(ids))} distinct bucket "
            f"ids observed under {path} for declared "
            f"n_buckets={n_buckets}. Empty buckets leave no file, so "
            "the id check cannot rule out a layout written with MORE "
            "buckets than declared — verify n_buckets against the "
            "writer if this directory holds few distinct keys.",
            UserWarning,
            stacklevel=2,
        )
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
    cols = ", ".join(f"`{c}`" for c in bucket_by)
    sort_clause = (
        "SORTED BY (" + ", ".join(f"`{c}`" for c in sort_by) + ") "
        if sort_by
        else ""
    )
    if replace:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({ddl}) USING PARQUET "
        f"CLUSTERED BY ({cols}) {sort_clause}"
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )


def write_series(
    df: DataFrame,
    path: str,
    *,
    by: Sequence[str],
    dim: str,
    values: Sequence[str] = ("value",),
    mode: str = "error",
) -> None:
    """Materialize long-form data as series-form parquet: one row per
    ``by`` group with ``{dim}_arr`` + one array per value column, each
    sorted by ``dim`` (``array_sort`` over the zipped struct keeps the
    coordinate and values aligned through one sort)."""
    by = list(by)
    values = list(values)
    zipped = F.array_sort(F.collect_list(F.struct(F.col(dim).alias("o"), *values)))
    agg = df.groupBy(*by).agg(zipped.alias("z"))
    cols = [F.col("z.o").alias(f"{dim}_arr")] + [
        F.col(f"z.{v}").alias(f"{v}_arr") for v in values
    ]
    agg.select(*by, *cols).write.mode(mode).parquet(path)


def read_series(
    spark: SparkSession,
    path: str,
    *,
    by: Sequence[str],
    dim: str,
    values: Sequence[str] = ("value",),
) -> DataFrame:
    """Explode series-form parquet back to the long form the operators
    consume (inverse of :func:`write_series`)."""
    by = list(by)
    values = list(values)
    df = spark.read.parquet(path)
    arrs = F.arrays_zip(
        F.col(f"{dim}_arr").alias("o"), *[F.col(f"{v}_arr").alias(v) for v in values]
    )
    ex = df.select(*by, F.explode(arrs).alias("e"))
    return ex.select(
        *by, F.col("e.o").alias(dim), *[F.col(f"e.{v}").alias(v) for v in values]
    )


def write_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_by: Sequence[str],
    num_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Write parquet with the rows RANGE-CLUSTERED on ``cluster_by``:
    ``repartitionByRange`` assigns disjoint key ranges to files and
    ``sortWithinPartitions`` orders rows inside each, so every file's
    (and every row group's) min/max statistics for those columns are
    TIGHT. Downstream range/equality predicates on the cluster keys
    then skip whole files and row groups at the scan — the data-layout
    lever that turns a 100 TB "scan everything" into reading the few
    files that can match. (The poor-man's Z-order: one-dimensional,
    exact, no library support needed; for two independent hot
    predicate columns, cluster on the higher-selectivity one.)

    ``num_files``: target file count (defaults to the session's
    shuffle partitioning). Range boundaries come from Spark's sampled
    range partitioner — deterministic for fixed input partitioning.
    """
    cluster_by = list(cluster_by)
    if not cluster_by:
        raise ValueError("cluster_by must name at least one column")
    parts = df.repartitionByRange(
        *([num_files] if num_files else []), *[F.col(c) for c in cluster_by]
    ).sortWithinPartitions(*cluster_by)
    parts.write.mode("overwrite").option("compression", compression).parquet(path)


def zvalue(*cols, bits: int = 21):
    """Morton (Z-order) interleaved value of up to three NON-NEGATIVE
    integer columns as one pure-Catalyst BIGINT expression: bit ``i``
    of dimension ``d`` lands at position ``i * k + d``. ``bits`` low
    bits per dimension are used (``bits * k`` must fit in 63); callers
    quantize floats / negative values first (e.g. epoch-bucket, rank,
    or floor-scaled value). All shifts are literal, so the whole
    expression stays inside whole-stage codegen — no UDF.
    """
    if not cols:
        raise ValueError("zvalue needs at least one column")
    k = len(cols)
    if bits * k > 63:
        raise ValueError(f"bits * dims = {bits * k} exceeds a signed BIGINT")
    out = None
    for d, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        lc = col.cast("long")
        for i in range(bits):
            term = F.shiftleft(
                F.shiftright(lc, i).bitwiseAND(F.lit(1)), i * k + d
            )
            # disjoint bit positions: addition == bitwise OR
            out = term if out is None else out + term
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    zorder_by: Sequence[str],
    bits: int = 21,
    num_files: int | None = None,
    compression: str = "zstd",
) -> None:
    """Write parquet Z-ORDERED on ``zorder_by``: rows are range-
    partitioned and sorted by the Morton interleaving of the key
    columns, so every file/row-group carries TIGHT min/max statistics
    on ALL the keys at once — multi-dimensional data skipping, where
    :func:`write_clustered` serves one dimension exactly. A predicate
    on any single z-key prunes most row groups (each group covers a
    small hyper-rectangle of the key space); the trade is that no
    single dimension is as tight as a dedicated one-dimensional
    clustering. Keys must be non-negative integers (quantize first;
    see :func:`zvalue`). tests/test_sources.py measures the pruning:
    row-group stats admit ~sqrt(G) of G groups per single-key
    predicate instead of all G on an unordered write."""
    zorder_by = list(zorder_by)
    if not zorder_by:
        raise ValueError("zorder_by must name at least one column")
    z = zvalue(*zorder_by, bits=bits)
    parts = (
        df.withColumn("__z__", z)
        .repartitionByRange(
            *([num_files] if num_files else []), F.col("__z__")
        )
        .sortWithinPartitions("__z__")
        .drop("__z__")
    )
    parts.write.mode("overwrite").option("compression", compression).parquet(path)
