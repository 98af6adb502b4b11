"""dsir_weights 100x-documents tier row (VERDICT r13 #6).

The r13 birth row measured dsir_weights at 10x documents (the
alphabet-rotation cap that protects DEDUP pair structure). dsir is an
LM-counting query — no pair semantics — so a 100x documents tier is
legitimate here: replicas reuse alphabet shifts modulo 26, which makes
token statistics repeat across replica cohorts exactly the way a real
corpus's vocabulary grows sublinearly (Heaps' law), while the oracle
reads the SAME parquet so the ratio stays apples-to-apples.

Builds .bench_docs100x/ once (5 M docs from sf0.1's 50 k), then runs
the dsir_weights contract query (from the registry or queue) vs its
DuckDB oracle, bench protocol (warmup + median of 5, noop sink).

Usage: python tools/dsir_tier_ab.py [--reps 100]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ID_OFFSET = 10_000_000


def build(spark, reps: int) -> str:
    out = os.path.join(ROOT, ".bench_docs100x", f"{reps}x")
    dst = os.path.join(out, "documents.parquet")
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    from pyspark.sql import functions as F

    os.makedirs(out, exist_ok=True)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    parts = []
    for k in range(reps):
        p = docs.withColumn("doc_id", F.col("doc_id") + F.lit(k * ID_OFFSET))
        shift = k % 26
        if shift:
            rot = alpha[shift:] + alpha[:shift]
            p = p.withColumn(
                "text",
                F.translate("text", alpha + alpha.upper(), rot + rot.upper()),
            )
        parts.append(p)
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    # sharded files + 16 MB row groups: both engines get row-group /
    # task parallelism, the scale_evidence write_single lesson
    tmp = dst + ".tmpdir"
    big.repartition(32).write.mode("overwrite").option(
        "parquet.block.size", 16 * 1024 * 1024
    ).parquet(tmp)
    os.replace(tmp, dst)
    for junk in glob.glob(os.path.join(dst, "_SUCCESS")):
        os.remove(junk)
    open(os.path.join(out, "_OK"), "w").close()
    return out


def main() -> int:
    from xarray_scipy_spark import contract as C
    from xarray_scipy_spark.session import get_spark

    reps = 100
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    spark = get_spark("dsir-tier")
    tier = build(spark, reps)

    fn, osql = C.REGISTRY["dsir_weights"]

    sp = []
    for i in range(6):
        t0 = time.time()
        fn(spark, tier).write.format("noop").mode("overwrite").save()
        if i:
            sp.append(round(time.time() - t0, 3))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tier}/documents.parquet/*.parquet')"
    )
    od = []
    for i in range(6):
        t0 = time.time()
        con.execute(osql).fetchall()
        if i:
            od.append(round(time.time() - t0, 3))

    s, o = statistics.median(sp), statistics.median(od)
    print(
        json.dumps(
            {
                "reps": reps,
                "spark": sp,
                "spark_med": s,
                "oracle": od,
                "oracle_med": o,
                "ratio": round(s / o, 2),
                "loadavg": [round(x, 2) for x in os.getloadavg()[:2]],
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
