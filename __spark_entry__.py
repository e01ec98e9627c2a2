"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``kp_crypto_market_analytics_spark``; this
module only adapts the registry to the driver's interface, handing it
over least-recently-verified first (see ``_ordered``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from kp_crypto_market_analytics_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 / reference A1 shape) on sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


# The driver's per-round correctness run covers a registration-order
# PREFIX (~50 entries), so the registry is handed over least-recently-
# verified first: queries whose latest CORRECTNESS_r*.json row is not a
# full match (or that have no row) lead, then green queries by the
# round of their latest row, oldest first; ties keep registry order.
# Each round's prefix thus re-verifies the queries checked longest ago,
# and the order updates itself when a new round's results land.


def _driver_green(root: str | None = None) -> dict[str, int]:
    """Round of each query's latest CORRECTNESS_r*.json row, for the
    queries whose latest row fully matches (a later FAIL drops an
    earlier green row)."""
    import glob
    import json
    import os
    import re

    if root is None:
        root = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, tuple[int, bool]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = bool(
                row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
            )
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, ok)
    return {name: rnd for name, (rnd, ok) in latest.items() if ok}


def _ordered(names: list[str], root: str | None = None) -> list[str]:
    green = _driver_green(root)
    # sorted() is stable, so equal rounds keep registry order.
    return sorted(names, key=lambda n: green.get(n, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _ordered(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (same column names)."""
    return {n: ORACLES[n] for n in _ordered(list(ORACLES))}
