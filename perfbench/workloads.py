"""The benchmark workloads: their inputs, untimed prime pass and timed pass.

One closed-loop client, one operation in flight at a time.  A query is
done when every output column has gone through Spark's ``noop`` write
sink; it is timed from the ``QUERIES[name](spark, data_dir)`` call until
that write returns.  A market_etl batch is timed from
``read_klines_csv`` until ``merge_into`` returns.  Correctness checks
run outside every timed region: registry outputs are collected and
compared in the untimed prime pass, market_etl tables and artifacts
after each timed pass.
"""

from __future__ import annotations

import glob
import os
import time
import traceback
from dataclasses import dataclass, field

from perfbench import check, gen
from perfbench.trace import SparkStats, Tracer

# Registry queries no workload times, with the reason.
EXCLUDED = {
    "dedup_ngram_jaccard": "eval-tier truth baseline, quadratic in corpus density by design",
    "w_gapfill_interp": "one noop run takes 103 s at sf0.01 (shrinking window frame), longer than a whole run",
}
# Always in registry_small, whatever the stride picks: two window-frame
# queries whose cost count() hid (10.8 s and 2.3 s under noop at
# sf0.01), and the AllPairs Arrow/NumPy kernel (mapInPandas) standing in
# for the kernels_sf01 workload, which does not fit the run budget.
FORCED = ["w_rolling_skewkurt", "t_ngram_novelty", "dedup_ngram_jaccard_sampled"]
# Every 235th query: q1_pricing_summary and w_interval_merge.  With
# FORCED a warm pass takes about 8.5 s on 4 cores, so three timed passes
# fit a run of 28 s.
REGISTRY_STRIDE = 235
# Per-query cost is mostly fixed at this size: documents and embeddings
# have 500 rows at any sf up to 0.001.
REGISTRY_SF = 0.001

# Six daily loads, so the merge's growth with the table shows, in one
# timed pass of about 18 s on 4 cores.
MARKET = gen.KlinesSpec(symbols=3, days=6)
# The prime pass runs the pipeline once on one small day of other data:
# on 4 cores it warms the JVM in about 23 s, where a cold pass over the
# full days takes about 35 s.
MARKET_PRIME = gen.KlinesSpec(symbols=2, days=1)


def registry_sample(names: list[str]) -> list[str]:
    """Every ``REGISTRY_STRIDE``-th timed registry query in registry
    order, plus FORCED, still in registry order."""
    timed = [n for n in names if n not in EXCLUDED]
    picked = set(timed[::REGISTRY_STRIDE]) | set(FORCED)
    return [n for n in timed if n in picked]


@dataclass
class Op:
    name: str
    latency_s: float | None = None
    # False for the market report: op latency is over queries and batches.
    sampled: bool = True
    error: str | None = None
    detail: dict = field(default_factory=dict)


@dataclass
class PassResult:
    wall_s: float
    ops: list[Op]
    extra: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)


def _error(e: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(e), e)).strip()[-500:]


def _collect_exec(stats: SparkStats | None, tracer: Tracer, op: Op, groups: dict[str, str], sql_mark: int) -> None:
    """Traced runs only: add the operation's Spark counts to the tracer.
    Jobs fired in the ``build`` group ran while the query was being
    constructed; they count as construction jobs, not action jobs."""
    if stats is None:
        return
    with tracer.overhead():
        stats.settle()
        for prefix, group in groups.items():
            counts = stats.exec_counts(group)
            op.detail[f"{prefix}_jobs"] = counts["exec.jobs"]
            if prefix == "build":
                tracer.add("queries.construct_jobs", counts.pop("exec.jobs"))
            for k, v in counts.items():
                tracer.add(k, v)
        for k, v in stats.python_counts(sql_mark).items():
            tracer.add(k, v)


def _csv_rows(day_dir: str) -> int:
    """Data lines (all but the header) in a day's klines CSVs."""
    n = 0
    for path in glob.glob(os.path.join(day_dir, "klines_*.csv")):
        with open(path) as f:
            n += sum(1 for _ in f) - 1
    return n


class RegistryWorkload:
    """registry_small: the ``registry_sample`` of the query registry."""

    def __init__(self):
        from kp_crypto_market_analytics_spark.queries import QUERIES

        self.queries = registry_sample(list(QUERIES))
        self.data_dir = ""
        self.expected: dict = {}
        self._passes = 0

    def sizes(self) -> dict:
        return {"queries": len(self.queries), "sf": REGISTRY_SF}

    def prepare(self, tmp: str, seed: int) -> None:
        from kp_crypto_market_analytics_spark.queries import ORACLES

        self.data_dir = os.path.join(tmp, "data")
        gen.write_registry_tables(self.data_dir, seed, REGISTRY_SF)
        self.expected = check.oracle_answers(self.data_dir, self.queries, ORACLES)

    def prime(self, spark) -> dict[str, str | None]:
        """Untimed first pass in a cold JVM: collect every query and
        compare it with its oracle answer.  Returns the error per query."""
        from kp_crypto_market_analytics_spark.operators.materialize import clear_session_materializations
        from kp_crypto_market_analytics_spark.queries import QUERIES

        errors: dict[str, str | None] = {}
        spark.sparkContext.setJobGroup("pb-prime", "prime")
        for name in self.queries:
            want = self.expected[name]
            if isinstance(want, str):
                errors[name] = want
                continue
            try:
                df = QUERIES[name](spark, self.data_dir)
                errors[name] = check.compare([tuple(r) for r in df.collect()], df.columns, want)
            except Exception as e:
                errors[name] = _error(e)
        clear_session_materializations(spark)
        return errors

    def run_pass(self, spark, tracer: Tracer) -> PassResult:
        """Time every query once, to a noop write."""
        from kp_crypto_market_analytics_spark.operators.materialize import clear_session_materializations
        from kp_crypto_market_analytics_spark.queries import QUERIES

        self._passes += 1
        sc = spark.sparkContext
        stats = SparkStats(spark) if tracer.enabled else None
        clear_session_materializations(spark)
        ops = []
        t0 = time.perf_counter()
        for name in self.queries:
            op = Op(name)
            # Job groups are unique to the pass: the status store is
            # queried by group, and must not mix in another pass's jobs.
            groups = {"build": f"pb-{self._passes}-build-{name}", "run": f"pb-{self._passes}-run-{name}"}
            mark = stats.sql_mark() if stats else 0
            try:
                with tracer.span(name) as s:
                    sc.setJobGroup(groups["build"], name)
                    with tracer.span("construct", "queries.construct_s"):
                        df = QUERIES[name](spark, self.data_dir)
                    if tracer.enabled:
                        # A separate planning probe on the DataFrame's own
                        # query execution.  The noop write plans the query
                        # again in its own command, so exec.action_s still
                        # holds the real planning; the probe's time counts
                        # as tracing overhead.
                        with tracer.overhead(), tracer.span("plan", "catalyst.plan_s"):
                            df._jdf.queryExecution().executedPlan()
                    sc.setJobGroup(groups["run"], name)
                    with tracer.span("action", "exec.action_s"):
                        df.write.format("noop").mode("overwrite").save()
                op.latency_s = s.dur
            except Exception as e:  # one failed query must not end the run
                op.error = _error(e)
            finally:
                sc.setJobGroup("pb-harness", "harness")
            _collect_exec(stats, tracer, op, groups, mark)
            ops.append(op)
        return PassResult(time.perf_counter() - t0, ops)

    def check(self, result: PassResult) -> None:
        """Outputs were checked by ``prime``."""

    def finish(self, spark, tracer: Tracer) -> None:
        """Drop the pass's materializations, counting them as builds."""
        from kp_crypto_market_analytics_spark.operators.materialize import clear_session_materializations

        tracer.add("materialize.builds", clear_session_materializations(spark))


class MarketWorkload:
    """market_etl: daily klines loads into the keyed candle table, then
    the analytics report, as the CLI ``load`` and ``analytics`` verbs."""

    def __init__(self):
        self.tmp = ""
        self.day_dirs: list[str] = []
        self.prime_dir = ""
        self.expected: check.MarketExpected | None = None
        self.rows_in = 0
        self._passes = 0

    def sizes(self) -> dict:
        return {"symbols": MARKET.symbols, "days": MARKET.days,
                "rows_in": self.rows_in, "rows_expected": self.expected.rows if self.expected else None}

    def prepare(self, tmp: str, seed: int) -> None:
        self.tmp = tmp
        self.day_dirs = gen.write_klines_days(os.path.join(tmp, "klines"), seed, MARKET)
        self.prime_dir = gen.write_klines_days(os.path.join(tmp, "prime"), seed + 1, MARKET_PRIME)[0]
        self.expected = check.MarketExpected(self.day_dirs, MARKET.symbols)
        self.rows_in = sum(_csv_rows(d) for d in self.day_dirs)

    def prime(self, spark) -> dict[str, str | None]:
        """Untimed first pass in a cold JVM over the small prime day: the
        same load and report, on less data.  Returns the error per
        operation; the outputs are checked in every timed pass."""
        result = self.run_pass(spark, Tracer(enabled=False), [self.prime_dir])
        return {o.name: o.error for o in result.ops}

    def run_pass(self, spark, tracer: Tracer, day_dirs: list[str] | None = None) -> PassResult:
        from kp_crypto_market_analytics_spark.analytics.pipeline import add_features, analytics_fanout
        from kp_crypto_market_analytics_spark.schemas import CANDLES_KEY
        from kp_crypto_market_analytics_spark.sinks.artifacts import write_csv_artifact
        from kp_crypto_market_analytics_spark.sinks.figures import write_figures
        from kp_crypto_market_analytics_spark.sinks.upsert import merge_into
        from kp_crypto_market_analytics_spark.sources.files import read_klines_csv

        self._passes += 1
        sc = spark.sparkContext
        stats = SparkStats(spark) if tracer.enabled else None
        table = os.path.join(self.tmp, f"candles_{self._passes}")
        out_dir = os.path.join(self.tmp, f"artifacts_{self._passes}")
        ops: list[Op] = []
        input_bytes = 0
        t0 = time.perf_counter()
        for d, day_dir in enumerate(day_dirs or self.day_dirs):
            op = Op(f"batch_{d:02d}")
            # Unique to the pass, so the prime pass's jobs stay out of it.
            group = f"pb-{self._passes}-{op.name}"
            mark = stats.sql_mark() if stats else 0
            try:
                sc.setJobGroup(group, op.name)
                with tracer.span(op.name) as s:
                    with tracer.span("read", "sources.read_s"):
                        staged = read_klines_csv(spark, os.path.join(day_dir, "klines_*.csv"))
                    with tracer.span("merge", "upsert.merge_s"):
                        merge_into(spark, table, staged, CANDLES_KEY)
                op.latency_s = s.dur
            except Exception as e:
                op.error = _error(e)
            finally:
                sc.setJobGroup("pb-harness", "harness")
            if tracer.enabled:
                with tracer.overhead():
                    in_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(day_dir, "klines_*.csv")))
                    rows_in = _csv_rows(day_dir)
                    kept = staged.count() if op.error is None else 0
                    parts = glob.glob(os.path.join(table, "*.parquet"))
                    out_bytes = sum(os.path.getsize(p) for p in parts)
                    input_bytes += in_bytes
                    tracer.add("sources.rows_in", rows_in)
                    tracer.add("sources.rows_dropped", rows_in - kept)
                    tracer.add("upsert.bytes_written", out_bytes)
                    tracer.add("upsert.files_written", len(parts))
                    op.detail.update(table_bytes=out_bytes, rows_in=rows_in)
            _collect_exec(stats, tracer, op, {"run": group}, mark)
            ops.append(op)

        op = Op("report", sampled=False)
        figures: list[str] = []
        group = f"pb-{self._passes}-report"
        mark = stats.sql_mark() if stats else 0
        try:
            sc.setJobGroup(group, "report")
            with tracer.span("report") as s:
                candles = spark.read.parquet(table)
                with tracer.span("features", "analytics.features_s"):
                    feats = add_features(candles)
                with tracer.span("fanout", "analytics.fanout_s"):
                    arts = analytics_fanout(feats)
                for name, df in arts.items():
                    if tracer.enabled:  # the same probe as in RegistryWorkload.run_pass
                        with tracer.overhead(), tracer.span(f"plan_{name}", "catalyst.plan_s"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span(f"write_{name}", "artifacts.write_s"):
                        write_csv_artifact(df, os.path.join(out_dir, name))
                with tracer.span("figures", "figures.write_s"):
                    figures = write_figures(arts, os.path.join(out_dir, "figures"), features=feats)
                feats.unpersist()
            op.latency_s = s.dur
        except Exception as e:
            op.error = _error(e)
        finally:
            sc.setJobGroup("pb-harness", "harness")
        wall = time.perf_counter() - t0
        _collect_exec(stats, tracer, op, {"run": group}, mark)
        ops.append(op)
        if tracer.enabled and input_bytes:
            tracer.add("upsert.write_amp", tracer.counts.get("upsert.bytes_written", 0) / input_bytes)
        batches = [o.latency_s for o in ops[:-1] if o.latency_s is not None]
        return PassResult(wall, ops, {
            "report_s": op.latency_s,
            "load_s": sum(batches),
            "ingest_rows_per_s": self.rows_in / sum(batches) if batches else None,
        }, {"table": table, "out_dir": out_dir, "figures": figures})

    def check(self, result: PassResult) -> None:
        """Compare the pass's candle table and artifacts with the
        expected ones; a mismatch fails the report operation."""
        report = result.ops[-1]
        if any(o.error for o in result.ops):
            return
        out = result.outputs
        problems = check.check_market(out["table"], out["out_dir"], out["figures"], self.expected)
        if problems:
            report.error = "; ".join(problems)[:500]

    def finish(self, spark, tracer: Tracer) -> None:
        pass


def make(name: str):
    if name == "registry_small":
        return RegistryWorkload()
    if name == "market_etl":
        return MarketWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("registry_small", "market_etl")
