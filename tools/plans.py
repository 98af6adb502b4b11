#!/usr/bin/env python
"""Capture explain("formatted") for every bench HEADLINE query.

Writes one ``<outdir>/<name>_<tag>.txt`` per query (same resolution
order as bench.py) plus a ``summary_<tag>.tsv`` counting the plan
nodes that decide a query's cost: Exchange, join strategies,
Python-boundary nodes, scans, windows, sorts. Diff two summaries.

Usage:
    python tools/plans.py <outdir> <tag> [<query> ...]

With no query names, does all of bench.HEADLINE. Building a plan for
queries that call eager localCheckpoint() runs those setup jobs — the
point is the final plan text, so that is accepted cost.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NODES = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
    "FlatMapGroupsInArrow",
    "Scan parquet",
    "Scan ExistingRDD",
    "Window",
    "Sort",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Generate",
)


def main() -> int:
    import bench
    from xarray_scipy_spark.contract import plain
    from xarray_scipy_spark.session import get_spark

    outdir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or bench.HEADLINE
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plans")

    rows = []
    for name in names:
        fn = plain(name)
        if fn is None:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # noqa: BLE001
            rows.append((name, {"error": str(ex)[:120]}))
            continue
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        counts = {}
        for node in NODES:
            # count operator headers only ("(12) Exchange" / "* Sort (3)")
            pat = re.compile(
                r"^\s*(?:\*\s*)?(?:\(\d+\)\s*)?" + re.escape(node) + r"\b",
                re.M,
            )
            n = len(pat.findall(plan))
            if n:
                counts[node] = n
        rows.append((name, counts))
        print(f"# {name}: {counts}", file=sys.stderr)

    with open(os.path.join(outdir, f"summary_{tag}.tsv"), "w") as fh:
        fh.write("query\t" + "\t".join(NODES) + "\n")
        for name, counts in rows:
            if "error" in counts:
                fh.write(f"{name}\tERROR: {counts['error']}\n")
                continue
            fh.write(
                name
                + "\t"
                + "\t".join(str(counts.get(n, 0)) for n in NODES)
                + "\n"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
