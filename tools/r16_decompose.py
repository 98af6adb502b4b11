#!/usr/bin/env python
"""Per-query cost decomposition for the r16 optimization round.

For each named query (same resolution order as bench.py), run in THIS
process: warmup + 5 samples of the full noop-sink wall time, split into

- ``build``: Python-side plan construction (``fn(spark, sf_dir)``);
- ``plan``: driver-side analysis + optimization + physical planning
  (forcing ``queryExecution().executedPlan()`` via the Py4J handle);
- ``exec``: the remaining noop-sink execution time.

This separates "Catalyst is chewing a huge expression tree every run"
(a per-run DRIVER cost at any scale, since bench rebuilds the plan
each sample) from genuine cluster-side execution. Usage:

    python tools/r16_decompose.py <query> [<query> ...]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from xarray_scipy_spark.contract import plain
    from xarray_scipy_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    spark = get_spark("r16-decompose")

    # bench.py warmup twin
    from xarray_scipy_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir).limit(256)
    ev.groupBy("user_id").applyInPandas(
        lambda p: p[["user_id"]].head(1), "user_id bigint"
    ).count()

    out = []
    for name in names:
        fn = plain(name)
        if fn is None:
            out.append({"name": name, "error": "unknown query"})
            continue
        rows = []
        for i in range(6):
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            if i > 0:
                rows.append(
                    {
                        "build": round(t1 - t0, 3),
                        "plan": round(t2 - t1, 3),
                        "exec": round(t3 - t2, 3),
                        "total": round(t3 - t0, 3),
                    }
                )
        med = {
            k: round(statistics.median(r[k] for r in rows), 3)
            for k in ("build", "plan", "exec", "total")
        }
        out.append({"name": name, "median": med, "samples": rows})
        print(f"# {name}: {med}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
