"""Driver-contract smoke: entry() + a fast subset of oracle-gated
queries cross-checked against DuckDB in-process (the full gate is
tools/verify_local.py)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

FAST_SUBSET = [
    "q1_pricing_summary",
    "a1_symbol_metrics",
    "a7_overall_stats",
    "w2_rolling_std",
    "j1_minute_equijoin",
    "stream_candles_1m",
    "dedup_exact",
    "sim_bruteforce_topk",
    "t_repetition",
    "e_quantize_int8",
]


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_registry_consistency():
    import __spark_entry__ as m
    from kp_crypto_market_analytics_spark.queries import ORACLES, QUERIES

    assert list(ORACLES) == list(QUERIES)
    assert all(fn.__name__ == name for name, fn in QUERIES.items())
    # Size floor: an emptied module table or one left out of
    # build_registry must fail here.
    assert len(QUERIES) >= 471
    import importlib
    import pkgutil

    import kp_crypto_market_analytics_spark as pkg

    for mod in pkgutil.iter_modules(pkg.__path__):
        if mod.name.startswith("queries_"):
            table = importlib.import_module(f"{pkg.__name__}.{mod.name}").REGISTRY
            assert table, mod.name
            assert all(fn.__name__ in QUERIES for fn, _ in table), mod.name
    qs, oracles = m.queries(), m.oracle_sql()
    assert list(oracles) == list(qs)
    assert sorted(qs) == sorted(QUERIES)
    # Driver-gate ordering: least-recently-verified first (no green
    # latest CORRECTNESS row = round 0), ties in registry order.  Green
    # rounds derive from the CORRECTNESS_r*.json files on disk, so no
    # specific name is pinned here (see
    # test_driver_green_latest_round_wins).
    green = m._driver_green()
    assert set(green) <= set(QUERIES)
    index = {n: i for i, n in enumerate(QUERIES)}
    keys = [(green.get(n, 0), index[n]) for n in qs]
    assert keys == sorted(keys)


def test_registry_rejects_duplicate_name():
    from kp_crypto_market_analytics_spark.queries import (
        REGISTRY,
        build_registry,
        q1_pricing_summary,
    )

    with pytest.raises(ValueError, match="q1_pricing_summary"):
        build_registry((REGISTRY, ((q1_pricing_summary, "SELECT 1"),)))


def test_driver_green_latest_round_wins(tmp_path):
    # Latest round wins: a later FAIL re-queues a green query; names
    # with no row rank with the failures; greens follow by the round
    # of their latest row; ties keep registry order.
    import json

    import __spark_entry__ as m

    row_ok = {"rows_match": True, "schema_match": True, "hash_match": True}
    row_bad = {"rows_match": True, "schema_match": True, "hash_match": False}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"regressed": row_ok, "old_a": row_ok, "fresh": row_ok, "old_b": row_ok})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"regressed": row_bad, "fresh": row_ok})
    )
    assert m._driver_green(root=str(tmp_path)) == {"old_a": 1, "fresh": 2, "old_b": 1}
    registry = ["fresh", "old_b", "regressed", "old_a", "never_seen"]
    assert m._ordered(registry, root=str(tmp_path)) == [
        "regressed", "never_seen", "old_b", "old_a", "fresh",
    ]


@pytest.mark.parametrize("name", FAST_SUBSET)
def test_query_matches_oracle(spark, name):
    import __spark_entry__ as m
    from tools.verify_local import compare, duck_connection

    sdf = m.queries()[name](spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duck_connection(SF_DIR)
    res = con.execute(m.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    issues, max_delta = compare(spark_rows, res.fetchall(), sdf.columns, duck_cols)
    assert not issues, issues
    assert max_delta == 0.0

