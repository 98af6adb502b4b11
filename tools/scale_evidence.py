"""Scale evidence above sf0.1 (VERDICT r4 task 3).

BASELINE.md argues the 20+ overhead-floored bench ratios (oracle 8-90 ms
vs Spark's ~0.2-0.5 s per-query floor) amortize as data grows. This tool
MEASURES that: it materializes a 10x tier ("sf1") from sf0.1 —

- events/embeddings: 10 replicas with offset ids (per-series /
  per-vector work scales linearly, series lengths unchanged);
- documents: 10 replicas with a per-replica alphabet rotation
  (``translate``), so token hashes are independent across replicas and
  the dedup workload's pair structure stays realistic instead of every
  doc gaining 9 exact copies —

then runs the contract queries on Spark (bench protocol: warmup +
median of 3, plan build included) and their ``oracle_sql`` on DuckDB
(same protocol, scan inside the timed region) over the SAME parquet,
and prints per-query ratios next to the sf0.1 ones.

Usage: python tools/scale_evidence.py [--tier N] [name ...]
(default: the 5 worst sf0.1 ratios + dedup_simhash + the fftshift
floor probe). The tier builds once into .bench_sf1/ (gitignored).

``--tier 100`` builds a 100x tier (.bench_sf10/, ~sf10-equivalent:
10 M events, 100x embeddings) for the queries whose 10x ratios were
still floor-dominated; documents stay at the 10x build recipe (the
alphabet rotation has 25 distinct non-identity shifts, so beyond ~26
replicas dedup pair structure degrades — the 100x tier targets the
events/embeddings-driven queries only).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_sf1")
REPLICAS = 10
ID_OFFSET = 10_000_000
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

DEFAULT = [
    "rfft",
    "stft",
    "istft_roundtrip",
    "ann_cosine_topk",
    "stream_window_stats",
    "dedup_simhash",
    "fftshift",
]


def build_tier(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(DST, exist_ok=True)
    alpha = "abcdefghijklmnopqrstuvwxyz"

    def replicate(df, id_col, jitter_text=False, replicas=None):
        parts = []
        for k in range(replicas if replicas is not None else REPLICAS):
            p = df.withColumn(id_col, F.col(id_col) + F.lit(k * ID_OFFSET))
            if jitter_text and k > 0:
                rot = alpha[k:] + alpha[:k]
                p = p.withColumn(
                    "text", F.translate("text", alpha + alpha.upper(), rot + rot.upper())
                )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    import glob
    import shutil

    def write_single(df, dst):
        # one plain parquet FILE per table, mirroring the testdata
        # layout (the streaming query symlinks {sf_dir}/events.parquet
        # as a file into its stream-source dir). 16 MB row groups: the
        # default 128 MB block left a 159 MB events file with TWO row
        # groups, so every scan — Spark task splits AND DuckDB's
        # row-group parallelism — serialized onto 2 cores regardless
        # of plan shape (measured 1.7 s of pure decode at the 100×
        # tier). Real 100 TB inputs arrive sharded; small row groups
        # inside the single file restore that property for BOTH
        # engines symmetrically.
        tmp = dst + ".tmpdir"
        df.coalesce(1).write.mode("overwrite").option(
            "parquet.block.size", 16 * 1024 * 1024
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(part, dst)
        shutil.rmtree(tmp)

    # documents cap at 10 replicas regardless of tier: the alphabet
    # rotation has only 25 distinct non-identity shifts, so beyond ~26
    # replicas dedup pair structure degrades into exact copies (see
    # module docstring) — the >10x tiers target events/embeddings-driven
    # queries.
    jobs = {
        "events": ("user_id", False, REPLICAS),
        "documents": ("doc_id", True, min(REPLICAS, 10)),
        "embeddings": ("vec_id", False, REPLICAS),
    }
    for table, (id_col, jitter, reps) in jobs.items():
        dst = os.path.join(DST, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
        write_single(replicate(df, id_col, jitter, reps), dst)
        print(f"# built {dst}", file=sys.stderr)
    # small relational tables: plain copies so every query resolves
    for table in TABLES:
        dst = os.path.join(DST, f"{table}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(SRC, f"{table}.parquet"), dst)


def oracle_median(sql: str) -> float:
    def once() -> float:
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(DST, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        t0 = time.time()
        con.execute(sql).fetchall()
        dt = time.time() - t0
        con.close()
        return dt

    once()  # warmup
    return statistics.median(once() for _ in range(5))


def spark_median(spark, fn) -> float:
    # median of 5 timed runs after one warmup — the same protocol as
    # bench.py (r6: the host shows multi-second JVM-pause/steal spikes
    # on single runs of identical plans; a 3-run median still caught
    # one 8.8 s outlier as its middle element)
    # noop sink, not count(): count() lets Catalyst prune projection-
    # only plans (windows/regex/array math) to a bare parquet row count
    # — the pure-Catalyst queries were timing nothing (r6 finding)
    samples = []
    for i in range(6):
        t0 = time.time()
        fn(spark, DST).write.format("noop").mode("overwrite").save()
        if i > 0:
            samples.append(time.time() - t0)
    return statistics.median(samples)


def main() -> int:
    global REPLICAS, DST
    from xarray_scipy_spark.contract import ORACLES, QUERIES
    from xarray_scipy_spark.session import get_spark

    args = sys.argv[1:]
    tier = 10
    if args[:1] == ["--tier"]:
        tier = int(args[1])
        args = args[2:]
        REPLICAS = tier
        DST = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            f".bench_sf{tier // 10}",
        )
    names = args or DEFAULT
    spark = get_spark("scale-evidence")
    build_tier(spark)
    # the same python-worker warmup bench.py uses
    spark.read.parquet(os.path.join(DST, "events.parquet")).limit(256).groupBy(
        "user_id"
    ).applyInPandas(lambda p: p[["user_id"]].head(1), "user_id bigint").count()

    out = {}
    for name in names:
        qfn = QUERIES[name]
        osql = ORACLES.get(name)
        t_spark = spark_median(spark, qfn)
        t_oracle = oracle_median(osql) if osql is not None else None
        out[name] = {
            "spark_sec": round(t_spark, 3),
            "oracle_sec": round(t_oracle, 3) if t_oracle is not None else None,
            "ratio": round(t_spark / t_oracle, 2) if t_oracle else None,
        }
        print(f"# {name}: spark {t_spark:.3f}s oracle "
              f"{t_oracle if t_oracle is None else round(t_oracle, 3)} ",
              file=sys.stderr)
    print(json.dumps({"tier": f"{REPLICAS}x sf0.1", "dir": DST, "results": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
