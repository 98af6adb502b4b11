"""100x-tier rows + the promised HLL swap A/B for the data-quality
layer (VERDICT r9 #4).

Builds (or reuses) the relational_tier_ab lineitem/orders replicate
build at --reps, then measures, warm, median of 5, noop sink:

- data_profile (exact_distinct=True)   vs its DuckDB oracle
- data_profile (exact_distinct=False)  — the documented 100 TB
  HLL-swap knob, Spark-side only (estimates are not cross-engine
  reproducible, so there is no byte oracle by design)
- constraint_check                     vs its DuckDB oracle
- frequent_values                      vs its DuckDB oracle

Usage: python tools/quality_tier_ab.py [--reps 100]
Prints one JSON line; paste the rows into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.relational_tier_ab import build_tpch  # noqa: E402


def _median5(fn):
    ts = []
    for i in range(6):
        t0 = time.time()
        fn()
        if i > 0:
            ts.append(time.time() - t0)
    return round(statistics.median(ts), 3), [round(t, 3) for t in ts]


def main() -> int:
    reps = 40
    if "--reps" in sys.argv:
        reps = int(sys.argv[sys.argv.index("--reps") + 1])
    # --only: measure a subset (e.g. frequent_values at the 1000x tier
    # without paying for the exact-distinct data_profile battery there)
    only: set[str] | None = None
    if "--only" in sys.argv:
        i = sys.argv.index("--only") + 1
        only = set()
        while i < len(sys.argv) and not sys.argv[i].startswith("--"):
            only.add(sys.argv[i])
            i += 1

    from xarray_scipy_spark import contract as C
    from xarray_scipy_spark import pipeline as pl
    from xarray_scipy_spark.session import get_spark
    from xarray_scipy_spark.sources.tables import load_table

    spark = get_spark("quality-tier-ab")
    tier_dir = build_tpch(spark, reps)

    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tier_dir}/{t}.parquet/*.parquet')"
        )

    out = {"reps": reps, "loadavg": [round(x, 2) for x in os.getloadavg()[:2]],
           "rows": {}}
    n_li = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    out["lineitem_rows"] = n_li

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for name, q in (
        ("data_profile", C.q_data_profile),
        ("constraint_check", C.q_constraint_check),
        ("frequent_values", C.q_frequent_values),
    ):
        if only is not None and name not in only:
            continue
        sp_med, sp_runs = _median5(lambda q=q: noop(q(spark, tier_dir)))
        osql = C.ORACLES[name]
        o_med, o_runs = _median5(lambda osql=osql: con.execute(osql).fetchall())
        out["rows"][name] = {
            "spark": sp_med, "spark_runs": sp_runs,
            "oracle": o_med, "oracle_runs": o_runs,
            "ratio": round(sp_med / o_med, 2),
        }

    if only is not None and "data_profile_hll_ab" not in only:
        print(json.dumps(out))
        spark.stop()
        return 0
    # HLL swap A/B: same five columns, approx_count_distinct folded
    # into the single stats aggregate (no Expand, no second pass)
    li = load_table(spark, "lineitem", tier_dir)
    cols = list(C._PROFILE_COLS)  # same columns as the contract query
    hll_med, hll_runs = _median5(
        lambda: noop(pl.data_profile(li, columns=cols, exact_distinct=False))
    )
    exact_med, exact_runs = _median5(
        lambda: noop(pl.data_profile(li, columns=cols, exact_distinct=True))
    )
    out["rows"]["data_profile_hll_ab"] = {
        "exact": exact_med, "exact_runs": exact_runs,
        "hll": hll_med, "hll_runs": hll_runs,
        "speedup": round(exact_med / hll_med, 2),
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
