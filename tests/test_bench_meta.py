"""The bench's eval-tier contract (VERDICT r8 ask #4): the only
queries the bench may skip are the declared EVAL_TIER truth baselines,
and each of those must delegate its perf tracking to benched registry
counterparts — so the exclusion is code, not a JSON note."""

from __future__ import annotations


def test_eval_tier_contract():
    from bench import BENCH_QUERIES, EVAL_TIER
    from kp_crypto_market_analytics_spark.queries import ORACLES, QUERIES

    benched = set(BENCH_QUERIES)
    for name, spec in EVAL_TIER.items():
        # the eval-tier query exists, is correctness-gated, and is the
        # only thing its tier removes from the bench
        assert name in QUERIES and name in ORACLES, name
        assert name not in benched, name
        assert spec["reason"], name
        # every counterpart exists AND is actually benched
        counterparts = spec["benched_counterparts"]
        assert counterparts, name
        for c in counterparts:
            assert c in QUERIES and c in ORACLES, (name, c)
            assert c in benched, (name, c)


def test_bench_set_is_registry_minus_eval_tier():
    from bench import BENCH_QUERIES, EVAL_TIER
    from kp_crypto_market_analytics_spark.queries import QUERIES

    assert set(BENCH_QUERIES) == set(QUERIES) - set(EVAL_TIER)
    # no silent shrinkage: the tier stays a short, named list
    assert len(EVAL_TIER) <= 3


def test_sampled_jaccard_is_a_real_subsample():
    # the counterpart must run the SAME uncapped exact plan, only on
    # fewer docs — guard the subsample predicate's modulus so a future
    # edit can't quietly shrink the family's tracked number to nothing
    from kp_crypto_market_analytics_spark.queries_r9 import _JSAMP_MOD

    assert 2 <= _JSAMP_MOD <= 8


def test_drift_canary_is_cheap_and_stable():
    """The canary must be a fixed set of benched, oracle-gated, CHEAP
    queries — an expensive canary would itself perturb the measurement
    it makes."""
    import os

    from bench import (
        BENCH_QUERIES,
        DRIFT_CANARY,
        DRIFT_GATE,
        DRIFT_GATE_LOW,
        _history,
    )
    from kp_crypto_market_analytics_spark.queries import ORACLES

    assert len(DRIFT_CANARY) == 10
    assert len(set(DRIFT_CANARY)) == 10
    assert 1.0 < DRIFT_GATE <= 1.25
    # Two-sided (VERDICT r10 ask #2): a ratio far below 1.0 is a
    # warmup measurement wearing a drift label, not a pass.
    assert 0.5 <= DRIFT_GATE_LOW < 1.0
    benched = set(BENCH_QUERIES)
    for name in DRIFT_CANARY:
        assert name in benched and name in ORACLES, name

    # the newest sf0.1 sweep timed the way the bench times today; a
    # count-era record prices a different action
    root = os.path.join(os.path.dirname(__file__), "..")
    newest = _history(root, 0.1)[1]
    if newest:
        canary_cost = sum(
            newest["queries"].get(n, 0.0) for n in DRIFT_CANARY
        )
        assert canary_cost < 10.0, canary_cost


def test_drift_gate_is_two_sided():
    """VERDICT r10 ask #2: the driver's r10 cold pass shipped ratio
    0.4514 with drift_ok true — a warmup measurement wearing a drift
    label.  The gate must fail BOTH sides with a named reason."""
    from bench import drift_verdict

    ok, reason = drift_verdict(0.4514)
    assert not ok and "warm" in reason
    ok, reason = drift_verdict(1.25)
    assert not ok and "aged" in reason
    ok, reason = drift_verdict(None)
    assert not ok and reason
    for ratio in (0.85, 0.93, 1.0, 1.09):
        ok, reason = drift_verdict(ratio)
        assert ok and reason is None, ratio


def test_median_canary_sample_rejects_single_spike():
    """VERDICT r11 ask #6: one sandbox throughput spike (or one
    anomalously fast pass) must not set the drift ratio — the endpoint
    estimator is the median-total pass of 3.  An actually-aged session
    moves EVERY pass, so the gate still trips (extended from the
    two-sided-gate test)."""
    from bench import drift_verdict, median_canary_sample

    quiet = {"q1": 1.0, "q2": 2.0}          # total 3.0
    spiked = {"q1": 4.0, "q2": 6.0}         # a 2-7x sandbox window
    fast = {"q1": 0.8, "q2": 1.6}
    # start endpoint: spike in one of three passes -> median is quiet
    sample, totals = median_canary_sample([quiet, spiked, quiet])
    assert sample == quiet and totals == [3.0, 10.0, 3.0]
    sample, _ = median_canary_sample([fast, quiet, spiked])
    assert sample == quiet
    # an aged session moves every pass: median reflects it, gate trips
    aged = [{"q1": 2.0, "q2": 3.0}] * 3
    end, _ = median_canary_sample(aged)
    ratio = sum(end.values()) / sum(quiet.values())
    ok, reason = drift_verdict(ratio)
    assert not ok and "aged" in reason


def test_summary_line_fits_budget():
    """A sweep prints ONE line that survives a 2000-char output tail
    whole — the summary scalars plus the slowest queries, in descending
    order, as many as fit."""
    import json

    from bench import ACTION, BENCH_QUERIES, SUMMARY_BYTES, summary_line

    # seconds count down the registry; the record holds them in name
    # order, so the line has to sort them
    slowest = [
        (n, round(0.001 * (len(BENCH_QUERIES) - i), 3))
        for i, n in enumerate(BENCH_QUERIES)
    ]
    rec = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(sec for _, sec in slowest), 3),
        "unit": "sec",
        "queries": dict(sorted(slowest)),
        "sf": 0.1,
        "action": ACTION,
        "repeat": 2,
        "drift_canary": {"ratio": 0.9731, "drift_ok": True},
        "prev_total": 123.456,
    }
    line = summary_line(rec)
    assert SUMMARY_BYTES <= 1900
    assert "\n" not in line and len(line.encode()) <= SUMMARY_BYTES
    out = json.loads(line)
    top = list(out["queries"].items())
    # the slowest prefix, descending — and the budget is used, not wasted
    assert top == slowest[: len(top)]
    assert len(top) >= 40
    assert out["value"] == rec["value"] and out["sf"] == 0.1
    assert out["n_queries"] == 470 and out["drift"] == 0.9731
