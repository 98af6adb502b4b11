"""Measure DuckDB-oracle medians for the round-4 contract additions
(convolve_valid, session_window_stats, sosfilt_stream's new oracle) at
sf0.1 — BASELINE.md protocol: median of 3 after one warmup, parquet
views registered fresh per run so the scan is inside the timed region.

Usage: python tools/measure_round4_oracles.py [name ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xarray_scipy_spark.contract import ORACLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

DEFAULT = ["convolve_valid", "session_window_stats", "sosfilt_stream"]


def run_once(sql: str) -> float:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    t0 = time.time()
    con.execute(sql).fetchall()
    dt = time.time() - t0
    con.close()
    return dt


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    out = {}
    for name in names:
        sql = ORACLES[name]
        run_once(sql)  # warmup
        samples = [run_once(sql) for _ in range(3)]
        out[name] = round(statistics.median(samples), 3)
        print(f"# {name}: {out[name]}s (runs: {samples})", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "oracle_median_sec": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
