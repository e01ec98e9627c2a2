"""Bench history lookup: deltas (_prev_bench) and the --isolate-top
ranking (_slowest_from_history) both read the newest BENCH_HISTORY.jsonl
record at the same SF and timing action — never an off-SF sweep, a
count-era record (no "action" key) or one without its queries dict.
"""

from __future__ import annotations

import json

from bench import ACTION, _history, _prev_bench, _slowest_from_history


def _write_history(tmp_path, records):
    (tmp_path / "BENCH_HISTORY.jsonl").write_text(
        "".join(json.dumps(r) + "\n" for r in records)
    )


def _rec(value, sf=0.1, action=ACTION, queries=None):
    if queries is None:
        queries = {"q1": value}
    rec = {"value": value, "sf": sf, "queries": queries}
    if action is not None:
        rec["action"] = action
    return rec


def test_history_skips_unmatched_records(tmp_path):
    older = _rec(1.0)
    newest = _rec(2.0)
    no_queries = _rec(3.0)
    del no_queries["queries"]
    _write_history(
        tmp_path,
        [
            older,
            newest,
            _rec(4.0, sf=0.01),
            _rec(5.0, action=None),
            no_queries,
            _rec(6.0, queries={}),
        ],
    )
    assert _history(str(tmp_path), 0.1) == (2, newest)
    assert _history(str(tmp_path), 0.01)[1]["value"] == 4.0
    assert _history(str(tmp_path), 1.0) == (None, {})


def test_history_without_file(tmp_path):
    assert _history(str(tmp_path), 0.1) == (None, {})
    assert _prev_bench(str(tmp_path), 0.1) == (None, {})


def test_prev_bench_skips_off_sf_records(tmp_path):
    _write_history(tmp_path, [_rec(7.5), _rec(9.0, sf=0.01)])
    label, rec = _prev_bench(str(tmp_path), 0.1)
    # the record's value becomes the sweep's prev_total
    assert label == "BENCH_HISTORY.jsonl:1" and rec["value"] == 7.5


def test_slowest_ranks_from_fullest_same_sf_record(tmp_path, monkeypatch):
    # The newest same-SF noop record ranks, not a newer sweep at another
    # SF or an older count-era one.
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf0.1")
    full = {f"q{i}": float(i) for i in range(10)}
    _write_history(
        tmp_path,
        [
            _rec(0.0, action=None, queries={"a": 9.0, "b": 8.0}),
            _rec(45.0, queries=full),
            _rec(1.0, sf=0.01, queries={"c": 99.0}),
        ],
    )
    assert _slowest_from_history(str(tmp_path), 3) == ["q9", "q8", "q7"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/data/sf1")
    assert _slowest_from_history(str(tmp_path), 3) == []
