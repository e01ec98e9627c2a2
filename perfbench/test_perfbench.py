"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import check, gen, stats, workloads  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    ("n", "want"),
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile([3.0, 1.0, 2.0], 100) == 3.0


def test_typical_pass_takes_each_operations_median():
    passes = [[1.0, 2.0, 3.0], [1.2, 9.0, 3.1], [0.9, 2.1, None]]
    assert stats.typical_pass_s(passes) == pytest.approx(1.0 + 2.1 + 3.05)
    assert stats.typical_pass_s([[4.0, 5.0]]) == 9.0


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    spec = gen.KlinesSpec(symbols=2, days=2)
    for sub in ("a", "b"):
        gen.write_registry_tables(str(tmp_path / sub / "tables"), seed=7, sf=0.001)
        gen.write_klines_days(str(tmp_path / sub / "klines"), seed=7, spec=spec)
    a, b = _tree_digest(str(tmp_path / "a")), _tree_digest(str(tmp_path / "b"))
    assert a == b
    assert len(a) == len(gen.TABLES) + 2 * 2


def test_other_seed_gives_other_inputs():
    spec = gen.KlinesSpec(symbols=1, days=1)
    assert gen.klines_day_files(1, spec) != gen.klines_day_files(2, spec)
    assert not gen.registry_tables(1, 0.001)["lineitem"].equals(gen.registry_tables(2, 0.001)["lineitem"])


def test_later_days_refetch_the_previous_days_tail():
    days = gen.klines_day_files(3, gen.KlinesSpec(symbols=1, days=2))
    (first,), (second,) = days[0].values(), days[1].values()
    keys = lambda text: {line.split(",")[2] for line in text.splitlines()[1:]}  # noqa: E731
    overlap = keys(first) & keys(second) - {"not-a-time"}
    assert len(overlap) == 3 * 60


def test_registry_sample_is_stable(monkeypatch):
    monkeypatch.setattr(workloads, "REGISTRY_STRIDE", 40)
    names = [f"q{i:03d}" for i in range(200)] + list(workloads.FORCED)
    names += list(workloads.EXCLUDED)
    first = workloads.registry_sample(names)
    assert first == workloads.registry_sample(list(names))
    assert first[:5] == ["q000", "q040", "q080", "q120", "q160"]
    assert set(workloads.FORCED) <= set(first)
    assert not set(workloads.EXCLUDED) & set(first)
    # Registry order is kept, forced queries included.
    assert first == [n for n in names if n in set(first)]


def test_comparator_accepts_reordered_rows_and_columns():
    want = check.Expected([(1, "a", 0.5), (2, "b", 1.5)], ["k", "s", "x"])
    assert check.compare([("b", 1.5, 2), ("a", 0.5, 1)], ["s", "x", "k"], want) is None


def test_comparator_flags_one_perturbed_row():
    rows = [(i, f"s{i}", i / 7.0) for i in range(1000)]
    want = check.Expected(rows, ["k", "s", "x"])
    bad = list(rows)
    bad[500] = (500, "s500", 500 / 7.0 + 1e-6)
    assert check.compare(bad, ["k", "s", "x"], want) == "1 rows differ"
    bad[500] = (500, "s501", 500 / 7.0)
    assert check.compare(bad, ["k", "s", "x"], want) == "1 rows differ"


def test_comparator_tolerates_last_digit_float_noise():
    want = check.Expected([(0.1 + 0.2,)], ["x"])
    assert check.compare([(0.3,)], ["x"], want) is None


def test_comparator_flags_row_count_and_schema():
    want = check.Expected([(1,), (2,)], ["k"])
    assert "row count" in check.compare([(1,)], ["k"], want)
    assert "columns" in check.compare([(1,), (2,)], ["key"], want)


def test_market_expected_is_last_write_wins(tmp_path):
    spec = gen.KlinesSpec(symbols=2, days=3)
    dirs = gen.write_klines_days(str(tmp_path), seed=5, spec=spec)
    exp = check.MarketExpected(dirs, spec.symbols)
    assert exp.rows == 2 * 3 * 1440
    # Overlapping minutes take the newer day's revised values.
    day1 = gen.klines_day_files(5, spec)[1]["klines_SYM00USDT_1m.csv"].splitlines()[1:]
    revised = next(line for line in day1 if not line.split(",")[2].startswith("not"))
    sym, _, ms, open_, _, _, close, *_ = revised.split(",")
    col = {c: i for i, c in enumerate(exp.candles.columns)}
    hit = [r for r in exp.candles.body if r[col["open_ms"]] == repr(int(ms)) and r[col["symbol"]] == repr(sym)]
    assert len(hit) == 1
    assert hit[0][col["close"]] == check._cell(float(close))
    assert hit[0][col["open"]] == check._cell(float(open_))
    assert exp.artifact_rows["correlation"] == 4


def test_parse_metric_total_reads_spark_rendering():
    from perfbench.trace import _SIZE_UNITS, _TIME_UNITS, parse_metric_total

    text = "total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 0.0 B, 1.5 KiB (stage 3.0: task 7))"
    assert parse_metric_total(text, _SIZE_UNITS) == 1536.0
    assert parse_metric_total("total\n2.1 s (1 ms ...)", _TIME_UNITS) == 2.1
    assert parse_metric_total("", _SIZE_UNITS) == 0.0


def test_a_later_pass_failing_its_check_fails_the_run(monkeypatch):
    from perfbench import run

    verdicts = iter([[], ["candles: 1 rows differ"]])
    monkeypatch.setattr(check, "check_market", lambda *_: next(verdicts))
    wl = workloads.MarketWorkload()
    passes = []
    for _ in range(2):
        ops = [workloads.Op("batch_00", 1.0), workloads.Op("report", 2.0, sampled=False)]
        passes.append(workloads.PassResult(3.0, ops, outputs={"table": "", "out_dir": "", "figures": []}))
        wl.check(passes[-1])
    assert passes[0].ops[-1].error is None
    assert run.failures(passes, {"batch_00": None, "report": None}) == {"report": "candles: 1 rows differ"}


def test_prime_and_later_pass_errors_both_count():
    from perfbench import run

    first = workloads.PassResult(1.0, [workloads.Op("a", 0.5), workloads.Op("b", 0.5)])
    second = workloads.PassResult(1.0, [workloads.Op("a", 0.5), workloads.Op("b", error="boom")])
    assert run.failures([first, second], {"a": "1 rows differ", "b": None}) == {"a": "1 rows differ", "b": "boom"}
    assert run.failures([first], {"a": None, "b": None}) == {}
