#!/usr/bin/env python
"""Isolated sentinel-triple measurement (BASELINE.md drift-anchor protocol).

Runs each sentinel query in its OWN fresh Spark session (subprocess),
warmup + median of 5, noop sink, at $SPARK_GRAFT_SF_DIR (default
sf0.1). Compare against the frozen r9 anchor rows in BASELINE.md
before attributing any bench delta to host drift (VERDICT r9 #8).

Usage: python tools/sentinel.py            # run the triple
       python tools/sentinel.py <name>...  # run specific queries
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SENTINELS = ["audio_spectral", "dedup_ngram_spans", "sosfiltfilt"]

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from xarray_scipy_spark.session import get_spark
from xarray_scipy_spark import contract as C

name = {name!r}
sf_dir = {sf_dir!r}
spark = get_spark("sentinel-" + name)
# sentinels measure the same plain single-variant plan as the bench
fn = C.plain(name)
samples = []
for i in range(6):
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    if i > 0:
        samples.append(dt)
print(json.dumps({{"name": name, "samples": [round(s, 3) for s in samples],
                   "median": round(sorted(samples)[2], 3),
                   "min": round(min(samples), 3)}}))
spark.stop()
"""


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or SENTINELS
    out = {"sf_dir": sf_dir, "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
           "loadavg_before": [round(x, 2) for x in os.getloadavg()[:2]],
           "rows": []}
    for name in names:
        code = _CHILD.format(repo=REPO, name=name, sf_dir=sf_dir)
        # one hung/broken sentinel must not kill the whole run — append
        # an error row and keep measuring the rest (ADVICE r10 #3)
        try:
            r = subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True,
                cwd=REPO, timeout=600,
            )
        except (subprocess.TimeoutExpired, OSError) as ex:
            out["rows"].append({"name": name, "error": f"{type(ex).__name__}: {ex}"[:800]})
            continue
        last = [l for l in r.stdout.strip().splitlines() if l.startswith("{")]
        if not last:
            out["rows"].append({"name": name, "error": r.stderr[-800:]})
        else:
            out["rows"].append(json.loads(last[-1]))
    out["loadavg_after"] = [round(x, 2) for x in os.getloadavg()[:2]]
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
