"""The scaling tool's one flag rule, its measured data ratio and its
untimed warm pass (tools/scaling.py), and the per-call core count of
the sessions it builds — Spark-free (no JVM is started)."""

import os
import sys

import duckdb

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.scaling import (  # noqa: E402
    FLAG_FACTOR,
    MIN_HI_SEC,
    data_ratio,
    flag,
    growth_report,
)


def test_overhead_scale_high_time_never_flags():
    # a 100x jump under MIN_HI_SEC is per-query overhead, not growth
    t_hi = MIN_HI_SEC - 0.01
    ratio, superlinear = flag(t_hi / 100, t_hi, 4.0)
    assert ratio == 100.0 and not superlinear


def test_superlinear_ratio_at_volume_flags():
    data = 4.0
    t_lo = 1.0
    t_hi = max(MIN_HI_SEC, FLAG_FACTOR * data * t_lo + 0.5)
    ratio, superlinear = flag(t_lo, t_hi, data)
    assert ratio > FLAG_FACTOR * data and superlinear
    # at the factor exactly: linear enough, not flagged
    ratio, superlinear = flag(t_lo, FLAG_FACTOR * data * t_lo, data)
    assert ratio == FLAG_FACTOR * data and not superlinear


def test_missing_low_time_has_no_ratio():
    assert flag(None, 40.0, 4.0) == (None, False)
    rec = growth_report({"q": {"hi": 40.0}}, "lo", "hi", 4.0)
    assert rec["queries"]["q"]["ratio_hi_over_lo"] is None
    assert rec["flagged"] == [] and rec["names"] == ["q"]


def test_growth_report_names_flagged_queries():
    times = {"lin": {"lo": 1.0, "hi": 3.0}, "quad": {"lo": 1.0, "hi": 16.0}}
    rec = growth_report(times, "lo", "hi", 4.0)
    assert rec["flagged"] == ["quad"] and rec["names"] == ["lin", "quad"]
    assert rec["queries"]["lin"]["ratio_hi_over_lo"] == 3.0


def test_data_ratio_is_measured_from_documents_rows(tmp_path):
    con = duckdb.connect()
    for name, rows in (("lo", 3), ("hi", 6)):
        d = tmp_path / name
        d.mkdir()
        con.execute(
            f"COPY (SELECT range AS doc_id FROM range({rows})) "
            f"TO '{d}/documents.parquet' (FORMAT PARQUET)"
        )
    assert data_ratio(str(tmp_path / "lo"), str(tmp_path / "hi")) == 2.0
    assert data_ratio(str(tmp_path / "hi"), str(tmp_path / "lo")) == 0.5


def test_time_queries_warms_each_query_before_timing(monkeypatch):
    """Every named query runs once untimed before any timed run, and
    the warm pass's materializations are dropped before timing."""
    import bench
    from kp_crypto_market_analytics_spark.operators import materialize
    from tools.scaling import time_queries

    calls: list[str] = []

    class _Catalog:
        def clearCache(self):
            pass

    class _Spark:
        catalog = _Catalog()

        def stop(self):
            calls.append("stop")

    def fake_time_query(spark, name, sf_dir):
        calls.append(name)
        # a first run pays warm-up; later runs do not
        return 10.0 if calls.count(name) == 1 else 1.0

    monkeypatch.setattr(bench, "_bench_session", lambda: _Spark())
    monkeypatch.setattr(bench, "_time_query", fake_time_query)
    monkeypatch.setattr(
        materialize, "clear_session_materializations", lambda s: calls.append("clear")
    )
    times: dict = {}
    time_queries("sf", ["a", "b"], "t", times)
    assert calls == ["a", "b", "clear", "a", "b", "clear", "stop"]
    assert times == {"a": {"t": 1.0}, "b": {"t": 1.0}}


def test_get_spark_reads_cpus_per_call(monkeypatch):
    """The shuffle partition count follows SPARK_GRAFT_CPUS at call
    time, as the core-scaling sessions set it between sessions."""
    from pyspark.sql import SparkSession

    from kp_crypto_market_analytics_spark.session import get_spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    for cpus in ("32", "8"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        conf = get_spark("t")
        assert conf["spark.sql.shuffle.partitions"] == cpus
        assert conf["spark.master"] == f"local[{cpus}]"
    assert get_spark("t", shuffle_partitions=3)["spark.sql.shuffle.partitions"] == "3"
