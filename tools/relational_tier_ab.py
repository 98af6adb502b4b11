"""Scale evidence for the lineitem-driven r13 operators.

tools/scale_evidence.py replicates only events/documents/embeddings,
so tpch_q4 / tpch_q18 / triangle_count need their own growing inputs:

- q4/q18: orders+lineitem replicated R× with orderkeys shifted by
  r·(max_orderkey+1) (join structure preserved, every replica its own
  key range; custkeys untouched so the customer join still resolves).
  Written via Spark with multiple row groups so the scan parallelism
  is fair to both engines (the 16 MB row-group lesson, BASELINE.md).
- triangle_count: the contract query folds partkeys mod 400, so
  replicating lineitem cannot grow the graph — instead the operator is
  measured directly on synthetic G(n, m) edge files (the pagerank
  precedent) against the canonical-id 3-join DuckDB oracle on the SAME
  parquet.

Usage: python tools/relational_tier_ab.py [--reps R] [--edges M ...]
Prints one JSON line. Build dir .bench_rel/ is gitignored.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"
DST = os.path.join(ROOT, ".bench_rel")


def build_tpch(spark, reps: int) -> str:
    out = os.path.join(DST, f"tpch{reps}x")
    if os.path.isdir(out) and os.path.exists(os.path.join(out, "_OK")):
        return out
    os.makedirs(out, exist_ok=True)
    from pyspark.sql import functions as F

    orders = spark.read.parquet(os.path.join(SRC, "orders.parquet"))
    li = spark.read.parquet(os.path.join(SRC, "lineitem.parquet"))
    shift = orders.agg(F.max("o_orderkey")).first()[0] + 1
    reps_df = spark.range(reps).select(F.col("id").alias("_r"))
    # scale the write fan-out with the tier (16 was single-threaded
    # misery at --reps 1000: ~40 GB of rows through 16 tasks)
    n_out = max(16, min(256, reps // 4))
    for name, df, key in (("orders", orders, "o_orderkey"), ("lineitem", li, "l_orderkey")):
        # the sf0.1 sources are single parquet FILES -> one input
        # partition, so without this repartition the crossJoin
        # generates all reps x rows in ONE task (measured: the 1000x
        # build ran a single core for >10 min per table)
        big = df.repartition(32).crossJoin(F.broadcast(reps_df)).withColumn(
            key, F.col(key) + F.col("_r") * shift
        ).drop("_r")
        (
            big.repartition(n_out)
            .write.option("parquet.block.size", 16 * 1024 * 1024)
            .mode("overwrite")
            .parquet(os.path.join(out, f"{name}.parquet"))
        )
    import shutil

    for t in ("customer", "supplier", "part", "nation", "region"):
        shutil.copyfile(
            os.path.join(SRC, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        )
    open(os.path.join(out, "_OK"), "w").close()
    return out


def build_graph(spark, m: int) -> str:
    out = os.path.join(DST, f"edges{m}.parquet")
    if os.path.exists(out) or os.path.isdir(out):
        return out
    from pyspark.sql import functions as F

    # average degree ~32 at every size: triangle cost tracks wedge
    # count Σ C(d_out, 2), so density must stay FIXED for the A/B to
    # measure engine scaling, not densification blowup
    n = max(64, m // 16)
    e = spark.range(m).select(
        (F.xxhash64(F.col("id"), F.lit(1)) % n).alias("src"),
        (F.xxhash64(F.col("id"), F.lit(2)) % n).alias("dst"),
    ).select(F.abs("src").alias("src"), F.abs("dst").alias("dst"))
    e.repartition(8).write.option(
        "parquet.block.size", 16 * 1024 * 1024
    ).mode("overwrite").parquet(out)
    return out


def spark_median(fn) -> float:
    samples = []
    for i in range(6):
        t0 = time.time()
        fn().write.format("noop").mode("overwrite").save()
        if i:
            samples.append(time.time() - t0)
    return statistics.median(samples)


def duck_median(setup_sql: list[str], sql: str) -> float:
    def once() -> float:
        con = duckdb.connect()
        for s in setup_sql:
            con.execute(s)
        t0 = time.time()
        con.execute(sql).fetchall()
        dt = time.time() - t0
        con.close()
        return dt

    once()
    return statistics.median(once() for _ in range(5))


_TRI_ORACLE = """
WITH raw AS (SELECT src, dst FROM edges),
e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM raw WHERE src <> dst),
t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT node, count(*) AS n_tri FROM (
  SELECT x AS node FROM t UNION ALL
  SELECT y AS node FROM t UNION ALL
  SELECT z AS node FROM t) GROUP BY node
"""


def main() -> int:
    reps = 10
    edge_sizes = [100_000, 1_000_000, 4_000_000]
    tpch_queries = ["tpch_q4", "tpch_q18"]
    # flag loop (not positional if-chains — the old --tpch branch
    # silently dropped any flags after its operands): each flag
    # consumes its operands up to the next --flag
    args = sys.argv[1:]
    i = 0
    while i < len(args):
        flag = args[i]
        vals = []
        i += 1
        while i < len(args) and not args[i].startswith("--"):
            vals.append(args[i])
            i += 1
        if flag == "--reps":
            reps = int(vals[0])
        elif flag == "--tpch":
            # measure these contract queries instead of the default
            # pair (and skip the triangle battery unless --edges also
            # given): r16/r17 slate rows
            tpch_queries = vals
            edge_sizes = []
        elif flag == "--edges":
            edge_sizes = [int(v) for v in vals]
        else:
            print(
                f"unknown flag {flag!r}; usage: relational_tier_ab.py"
                " [--reps N] [--tpch name ...] [--edges N ...]",
                file=sys.stderr,
            )
            return 2

    from xarray_scipy_spark import contract as C
    from xarray_scipy_spark import pipeline as pl
    from xarray_scipy_spark.session import get_spark

    spark = get_spark("relational-tier-ab")
    os.makedirs(DST, exist_ok=True)
    out: dict = {}

    tdir = build_tpch(spark, reps)
    views = [
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet{'/*.parquet' if os.path.isdir(os.path.join(tdir, t + '.parquet')) else ''}')"
        for t in (
            "orders", "lineitem", "customer", "supplier", "part",
            "nation", "region",
        )
    ]
    for name in tpch_queries:
        if name not in C.REGISTRY:
            print(
                f"unknown query {name!r}; valid names: "
                f"{', '.join(sorted(C.REGISTRY))}",
                file=sys.stderr,
            )
            return 2
        fn, osql = C.REGISTRY[name]
        s = spark_median(lambda: fn(spark, tdir))
        d = duck_median(views, osql)
        out[f"{name}@{reps}x"] = {
            "spark_sec": round(s, 3),
            "oracle_sec": round(d, 3),
            "ratio": round(s / d, 2),
        }
        print(f"# {name}@{reps}x spark {s:.3f} oracle {d:.3f}", file=sys.stderr)

    for m in edge_sizes:
        epath = build_graph(spark, m)
        edges = spark.read.parquet(epath)
        s = spark_median(lambda: pl.triangle_count(edges))
        d = duck_median(
            [f"CREATE VIEW edges AS SELECT * FROM read_parquet('{epath}/*.parquet')"],
            _TRI_ORACLE,
        )
        out[f"triangle_count@{m}e"] = {
            "spark_sec": round(s, 3),
            "oracle_sec": round(d, 3),
            "ratio": round(s / d, 2),
        }
        print(f"# triangle@{m} spark {s:.3f} oracle {d:.3f}", file=sys.stderr)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
