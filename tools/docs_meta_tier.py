"""Big-tier rows for the documents-METADATA floor queries
(VERDICT r9 weak-row list: kfold_weights 18x, auc_eval 51x,
dataset_temperature_mix 13x, weighted_sample 4.25x, cap_per_group
3.5x — all measured at small tiers where the oracle runs in
milliseconds).

These queries read ONLY (doc_id, lang, source, n_chars) — never the
text — so the 25x alphabet-rotation cap that protects dedup pair
structure does not apply. This tool replicates the documents
metadata R times with doc_id offsets and a stubbed empty text column
(the column-pruned scan never reads it), then measures the contract
queries vs their DuckDB oracles on the SAME parquet.

Usage: python tools/docs_meta_tier.py [--reps 1000] [name ...]
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
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT = [
    "kfold_weights",
    "auc_eval",
    "dataset_temperature_mix",
    "weighted_sample",
    "cap_per_group",
]


def build(spark, reps: int) -> str:
    out = os.path.join(ROOT, ".bench_docsmeta", f"{reps}x")
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    reps_df = spark.range(reps).select(F.col("id").alias("_r"))
    big = (
        docs.select("doc_id", "lang", "source", "n_chars")
        .crossJoin(F.broadcast(reps_df))
        .select(
            (F.col("doc_id") + F.col("_r") * shift).alias("doc_id"),
            F.lit("").alias("text"),  # schema-compatible, never read
            "lang",
            "source",
            "n_chars",
        )
    )
    big.repartition(16).write.option(
        "parquet.block.size", 16 * 1024 * 1024
    ).mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    open(os.path.join(out, "_OK"), "w").close()
    return out


def main() -> int:
    reps = 1000
    args = sys.argv[1:]
    if args[:1] == ["--reps"]:
        reps = int(args[1])
        args = args[2:]
    names = args or DEFAULT

    from xarray_scipy_spark import contract as C
    from xarray_scipy_spark.session import get_spark

    spark = get_spark("docs-meta-tier")
    tdir = build(spark, reps)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tdir}/documents.parquet/*.parquet')"
    )

    out = {"reps": reps, "rows": {}}
    for name in names:
        fn, osql = C.REGISTRY[name]
        sp = []
        for i in range(6):
            t0 = time.time()
            fn(spark, tdir).write.format("noop").mode("overwrite").save()
            if i:
                sp.append(time.time() - t0)
        od = []
        for i in range(6):
            t0 = time.time()
            con.execute(osql).fetchall()
            if i:
                od.append(time.time() - t0)
        s, o = statistics.median(sp), statistics.median(od)
        out["rows"][name] = {
            "spark": round(s, 3),
            "oracle": round(o, 3),
            "ratio": round(s / o, 2),
        }
        print(f"# {name}: spark {s:.3f} oracle {o:.3f}", file=sys.stderr)
    out["loadavg"] = [round(x, 2) for x in os.getloadavg()[:2]]
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
