"""Dump `.explain("formatted")` for named queries to plans/<tag>/.

Usage: python tools/explain_dump.py <tag> <suffix> <query> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt for each query (the judge's
plan-evidence contract: `_before`/`_after` pairs per touched query).
Runs on the bench's own session (``bench._bench_session``) at the
bench's SF dir, so the captured plan is the plan the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]

    from bench import _bench_session, _sf_dir
    from kp_crypto_market_analytics_spark.queries import QUERIES

    spark = _bench_session()
    sf_dir = _sf_dir()

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange nodes)")


if __name__ == "__main__":
    main()
