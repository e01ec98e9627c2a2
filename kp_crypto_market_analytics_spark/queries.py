"""Gated query registry: every operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; the
oracle is ANSI SQL DuckDB runs on the same parquet.  Each query module
(this one and the ``queries_*`` modules) ends with one ``REGISTRY``
tuple of ``(query_fn, oracle_sql)`` pairs; ``QUERIES`` and ``ORACLES``
key them on ``query_fn.__name__``, module by module in the order listed
at the bottom of this file, and a name declared twice raises.

To add a query: define ``my_query(spark, sf_dir)`` and its oracle SQL in
a query module, then append one line ``(my_query, MY_QUERY_SQL),`` to
that module's ``REGISTRY``.  Registry order is load-bearing (benchmark
sampling and the driver's verification order follow it), so append
rather than insert.  Determinism rules
(SURVEY.md §5 oracle-parity caveats):

- Sums/avgs of doubles accumulate in DECIMAL(18,6) (order-independent,
  exact for <=6-dp inputs) and are presented as DOUBLE — bit-identical
  on both engines.
- Sample stddev is expanded to exact decimal moments:
  sqrt((Σx² − (Σx)²/n)/(n−1)) — identical IEEE ops both sides.
- Exact `percentile` (linear interpolation) = DuckDB quantile_cont;
  corr/log/cosine outputs are ROUND(x, 6) on both sides (last-ulp
  engine differences live far below 1e-6).
- Every ORDER BY feeding a LIMIT carries a unique tiebreaker.
- Timestamp keys only ever appear date_trunc'd (ns-vs-us storage
  precision is truncated away).
- round(decimal₆_sum / count, 6) has a STRUCTURAL tie hazard: the true
  rational lands exactly on .5×10⁻⁶ often (it needs only
  2·count | (2·micro_sum mod 2·count·10⁶-ish alignment), e.g.
  106.64253/36 = 2.96229250), and at a tie the double is one ulp off
  on one engine.  New mean-shaped outputs use
  operators.aggregates.round_mean_micro / sql_round_mean_micro (exact
  int64 half-away division); established driver-green queries keep
  their original formula — their gate data holds no tie, and changing
  them would void the green evidence (see t_word_entropy for the
  measured case: 4/5000 docs at sf0.1).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark import (
    queries_corpus,
    queries_ext,
    queries_graph,
    queries_indicators,
    queries_mining,
    queries_quality,
    queries_r10,
    queries_r11,
    queries_r11b,
    queries_r11c,
    queries_r7,
    queries_r8,
    queries_r9,
    queries_r9b,
    queries_r9c,
    queries_tpch,
)
from kp_crypto_market_analytics_spark.functions.market import (
    heuristic_time_parse,
    minute_bucket,
    weekday_name,
    weekday_sort_key,
)
from kp_crypto_market_analytics_spark.functions.text import (
    LANG_MARKERS,
    fingerprint_md5,
    lang_id_sql,
    lang_scores,
    quality_score_sql,
    stopword_hits,
    token_count,
)
from kp_crypto_market_analytics_spark.operators.aggregates import (
    DEC,
    best_and_spread,
    exact_avg,
    exact_sum,
    percentile_expr,
    quantile_threshold_filter,
)
from kp_crypto_market_analytics_spark.operators.correlation import pairwise_corr_long
from kp_crypto_market_analytics_spark.operators.joins import anti_join, dim_join, semi_join, union_tagged
from kp_crypto_market_analytics_spark.operators.windows import (
    rank_levels,
    top_k,
    top_k_per_group,
)
from kp_crypto_market_analytics_spark.session import ensure_parallelism, load_tables

Query = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------- helpers

def _sum_dec(expr: str) -> str:
    """Oracle-side exact sum presented as double."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def _avg_dec(expr: str) -> str:
    return f"{_sum_dec(expr)} / COUNT({expr})"


def _std_dec(expr: str) -> str:
    """Oracle-side exact sample stddev from decimal moments."""
    sx = _sum_dec(expr)
    sx2 = f"CAST(SUM(CAST({expr} AS DECIMAL(18,6)) * CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"
    n = f"COUNT({expr})"
    return (
        f"CASE WHEN {n} > 1 THEN sqrt(greatest(({sx2} - {sx}*{sx}/{n}) / ({n}-1), 0)) END"
    )


def _exact_std(c: str) -> Column:
    """Spark twin of _std_dec (same IEEE op order)."""
    col = F.col(c)
    n = F.count(col)
    sx = F.sum(col.cast(DEC)).cast("double")
    sx2 = F.sum(col.cast(DEC) * col.cast(DEC)).cast("double")
    return F.when(n > 1, F.sqrt(F.greatest((sx2 - sx * sx / n) / (n - F.lit(1)), F.lit(0.0))))


NORM_TEXT_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


# ============================================================ TPC-H core


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (A1/F4/F8 shape, reference metrics.py:15-24 scaled to
    TPC-H Q1): scan → filter → partial+final hash agg → sort.  Filter
    and the 7-column projection push into the parquet scan."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    l = t["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price.cast(DEC)).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast(DEC)).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("l_quantity")).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.count("l_extendedprice")).alias("avg_price"),
            (F.sum(F.col("l_discount").cast(DEC)).cast("double") / F.count("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {_sum_dec('l_quantity')} AS sum_qty,
  {_sum_dec('l_extendedprice')} AS sum_base_price,
  {_sum_dec('l_extendedprice*(1-l_discount)')} AS sum_disc_price,
  {_sum_dec('l_extendedprice*(1-l_discount)*(1+l_tax)')} AS sum_charge,
  {_avg_dec('l_quantity')} AS avg_qty,
  {_avg_dec('l_extendedprice')} AS avg_price,
  {_avg_dec('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join (J-family) + agg + top-k: customer⋈orders⋈lineitem.
    customer is broadcast (dim_join); TakeOrderedAndProject caps the
    sort at k rows per partition."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    cutoff = F.lit("1997-06-15").cast("timestamp")
    orders = t["orders"].where(F.col("o_orderdate") < cutoff)
    line = t["lineitem"].where(F.col("l_shipdate") > cutoff)
    joined = dim_join(
        orders, cust.select("c_custkey"), orders["o_custkey"] == F.col("c_custkey")
    ).join(line, F.col("o_orderkey") == F.col("l_orderkey"))
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
        .cast("double")
        .alias("revenue")
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("l_orderkey").asc()], 10).select(
        "l_orderkey", "revenue", "o_orderdate", "o_orderpriority"
    )


Q3_SQL = f"""
SELECT l_orderkey,
  {_sum_dec('l_extendedprice*(1-l_discount)')} AS revenue,
  o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way star join: all dimensions broadcast; the single shuffle is
    the final groupBy on n_name."""
    t = load_tables(
        spark, sf_dir, ["region", "nation", "customer", "supplier", "orders", "lineitem"]
    )
    r = t["region"].where(F.col("r_name") == "ASIA")
    j = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["customer"]),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


Q5_SQL = f"""
SELECT n_name, {_sum_dec('l_extendedprice*(1-l_discount)')} AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6 predicate stack + single exact sum; all three filters push
    to the parquet scan (verify via PushedFilters in explain)."""
    t = load_tables(spark, sf_dir, ["lineitem"])
    l = t["lineitem"]
    return l.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q6_SQL = f"""
SELECT {_sum_dec('l_extendedprice*l_discount')} AS revenue, COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# ==================================================== reference analytics
# events(event_id, ts, user_id, event_type, value, props) stands in for
# the trades/candles tables (FIXTURES.md §5).


def a1_symbol_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-symbol metrics (metrics.py:15-24): avg price, sample
    stddev volatility, total volume/trades, rounded like the reference."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    return (
        e.groupBy(F.col("event_type").alias("symbol"))
        .agg(
            F.round(exact_avg("value"), 2).alias("avg_price"),
            F.round(_exact_std("value"), 2).alias("volatility"),
            F.round(exact_sum("value"), 2).alias("total_volume"),
            F.count(F.lit(1)).alias("total_trades"),
        )
        .orderBy("symbol")
    )


A1_SQL = f"""
SELECT event_type AS symbol,
  round({_avg_dec('value')}, 2) AS avg_price,
  round({_std_dec('value')}, 2) AS volatility,
  round({_sum_dec('value')}, 2) AS total_volume,
  COUNT(*) AS total_trades
FROM events GROUP BY event_type ORDER BY symbol
"""


def a2_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — daily summary (binance_analysis.py:655-667)."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy(F.to_date("ts").alias("date"))
        .agg(
            exact_avg("value").alias("avg_value"),
            exact_sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("date")
    )


A2_SQL = f"""
SELECT CAST(ts AS DATE) AS date,
  {_avg_dec('value')} AS avg_value,
  {_sum_dec('value')} AS sum_value,
  MAX(value) AS max_value,
  COUNT(*) AS n_rows
FROM events GROUP BY 1 ORDER BY date
"""


def a3_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — agg-of-agg: month rollup over the daily pre-aggregate
    (binance_analysis.py:669-672).  The second pass re-sums the daily
    decimals, so the rollup is exact too."""
    t = load_tables(spark, sf_dir, ["events"])
    daily = (
        t["events"]
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.sum(F.col("value").cast(DEC)).alias("d_sum"))
    )
    return (
        daily.groupBy(F.date_format("date", "yyyy-MM").alias("month"))
        .agg(F.sum("d_sum").cast("double").alias("volume"))
        .orderBy("month")
    )


A3_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS date, SUM(CAST(value AS DECIMAL(18,6))) AS d_sum
  FROM events GROUP BY 1
)
SELECT strftime(date, '%Y-%m') AS month, CAST(SUM(d_sum) AS DOUBLE) AS volume
FROM daily GROUP BY 1 ORDER BY month
"""


def a4_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — hour-of-day profile (binance_analysis.py:676-684)."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy(F.hour("ts").cast("int").alias("hour"))
        .agg(exact_avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("hour")
    )


A4_SQL = f"""
SELECT CAST(hour(ts) AS INTEGER) AS hour,
  {_avg_dec('value')} AS avg_value, COUNT(*) AS n_rows
FROM events GROUP BY 1 ORDER BY hour
"""


def a5_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — day-of-week profile, Monday-first ordered-categorical
    semantics via an explicit sort key (binance_analysis.py:686-687)."""
    t = load_tables(spark, sf_dir, ["events"])
    return (
        t["events"]
        .groupBy(
            weekday_name("ts").alias("weekday"),
            weekday_sort_key("ts").cast("int").alias("dow_key"),
        )
        .agg(exact_avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("dow_key")
    )


A5_SQL = f"""
SELECT dayname(ts) AS weekday,
  CAST(isodow(ts) - 1 AS INTEGER) AS dow_key,
  {_avg_dec('value')} AS avg_value, COUNT(*) AS n_rows
FROM events GROUP BY 1, 2 ORDER BY dow_key
"""


def a6_weekday_hour_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — weekday×hour heatmap pivot with pinned hour columns 0..23
    (binance_analysis.py:689-690; SURVEY §7 pivot-stability note)."""
    t = load_tables(spark, sf_dir, ["events"])
    piv = (
        t["events"]
        .withColumn("hour_of_day", F.hour("ts"))
        .groupBy(
            weekday_name("ts").alias("weekday"),
            weekday_sort_key("ts").cast("int").alias("dow_key"),
        )
        .pivot("hour_of_day", list(range(24)))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double") / F.count("value"))
        .orderBy("dow_key")
    )
    renames = [F.col("weekday"), F.col("dow_key")] + [
        F.col(str(h)).alias(f"h{h}") for h in range(24)
    ]
    return piv.select(*renames)


def _a6_sql() -> str:
    hours = ",\n  ".join(
        f"{_sum_dec(f'CASE WHEN hour(ts) = {h} THEN value END')}"
        f" / COUNT(CASE WHEN hour(ts) = {h} THEN value END) AS h{h}"
        for h in range(24)
    )
    return f"""
SELECT dayname(ts) AS weekday, CAST(isodow(ts) - 1 AS INTEGER) AS dow_key,
  {hours}
FROM events GROUP BY 1, 2 ORDER BY dow_key
"""


def a7_overall_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — global scalar summary with exact percentiles by default
    (binance_analysis.py:638-651; SURVEY §7: exact `percentile` for
    oracle parity; approx_percentile sketches under
    ``operators.aggregates.APPROX_QUANTILES_CONF`` — the 100 TB path,
    exercised by bench.py)."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    return e.agg(
        exact_avg("value").alias("mean_value"),
        F.round(percentile_expr(e, "value", 0.5), 6).alias("median_value"),
        F.round(percentile_expr(e, "value", 0.95), 6).alias("p95_value"),
        F.round(percentile_expr(e, "value", 0.99), 6).alias("p99_value"),
        exact_sum("value").alias("sum_value"),
        F.count("value").alias("n_rows"),
    )


A7_SQL = f"""
SELECT {_avg_dec('value')} AS mean_value,
  round(quantile_cont(value, 0.5), 6) AS median_value,
  round(quantile_cont(value, 0.95), 6) AS p95_value,
  round(quantile_cont(value, 0.99), 6) AS p99_value,
  {_sum_dec('value')} AS sum_value,
  COUNT(value) AS n_rows
FROM events
"""


def a8_large_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/A8/O2 — quantile-threshold filter + deterministic top-k
    (large-trades selection, binance_analysis.py:399-418).  Threshold
    is a 1-row broadcast aggregate, not a driver collect."""
    t = load_tables(spark, sf_dir, ["events"])
    big = quantile_threshold_filter(t["events"], "value", 0.995)
    return top_k(big, [F.col("value").desc(), F.col("event_id").asc()], 50).select(
        "event_id", "event_type", "user_id", "value"
    )


A8_SQL = """
SELECT event_id, event_type, user_id, value
FROM events
WHERE value >= (SELECT quantile_cont(value, 0.995) FROM events)
ORDER BY value DESC, event_id
LIMIT 50
"""


def a9_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — long-format correlation matrix over minute-aligned series
    (binance_analysis.py:538-543).  Long self-join shape — never a wide
    pivot row (scales to thousands of series)."""
    t = load_tables(spark, sf_dir, ["events"])
    out = pairwise_corr_long(t["events"], "event_type", "ts", "value", "hour")
    return out.select("key_a", "key_b", F.round("corr", 6).alias("corr"))


A9_SQL = """
WITH series AS (
  SELECT event_type AS series_key, date_trunc('hour', ts) AS bucket_ts,
         AVG(value) AS series_value
  FROM events GROUP BY 1, 2
)
SELECT a.series_key AS key_a, b.series_key AS key_b,
       round(corr(a.series_value, b.series_value), 6) AS corr
FROM series a JOIN series b ON a.bucket_ts = b.bucket_ts
GROUP BY 1, 2 ORDER BY key_a, key_b
"""


def a11_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — per-key coverage/gap stats at 1-minute cadence
    (binance_analysis.py:606-621).  Millisecond epochs both sides so
    truncation agrees."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    mn, mx = F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
    expected = F.floor((mx - mn) / F.lit(60000.0)) + 1
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            expected.alias("expected_rows"),
            (expected - F.count(F.lit(1))).alias("missing_rows"),
        )
        .orderBy("event_type")
    )


A11_SQL = """
SELECT event_type,
  COUNT(*) AS n_rows,
  CAST(floor((epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) / 60000.0) + 1 AS BIGINT) AS expected_rows,
  CAST(floor((epoch_ms(MAX(ts)) - epoch_ms(MIN(ts))) / 60000.0) + 1 AS BIGINT) - COUNT(*) AS missing_rows
FROM events GROUP BY 1 ORDER BY event_type
"""


def a12_best_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — best bid/ask + spread/mid via one conditional aggregation
    (binance_analysis.py:499-502).  Side mapping per FIXTURES.md §5:
    purchase/signup = bid, view/click = ask."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].withColumn(
        "side",
        F.when(F.col("event_type").isin("purchase", "signup"), "bid").otherwise("ask"),
    )
    return best_and_spread(e, "side", "value")


A12_SQL = """
WITH sided AS (
  SELECT CASE WHEN event_type IN ('purchase','signup') THEN 'bid' ELSE 'ask' END AS side, value
  FROM events
)
SELECT MAX(CASE WHEN side = 'bid' THEN value END) AS best_bid,
       MIN(CASE WHEN side = 'ask' THEN value END) AS best_ask,
       MIN(CASE WHEN side = 'ask' THEN value END) - MAX(CASE WHEN side = 'bid' THEN value END) AS spread,
       (MIN(CASE WHEN side = 'ask' THEN value END) + MAX(CASE WHEN side = 'bid' THEN value END)) / 2.0 AS mid
FROM sided
"""


def a13_depth_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/O4 — per-group top-20 by value then totals
    (binance_analysis.py:505-512): row_number window + filter + agg."""
    t = load_tables(spark, sf_dir, ["events"])
    top = top_k_per_group(
        t["events"], "event_type", [F.col("value").desc(), F.col("event_id").asc()], 20
    )
    return (
        top.groupBy("event_type")
        .agg(exact_sum("value").alias("depth_value"), F.count(F.lit(1)).alias("n_levels"))
        .orderBy("event_type")
    )


A13_SQL = f"""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
  FROM events
)
SELECT event_type, {_sum_dec('value')} AS depth_value, COUNT(*) AS n_levels
FROM ranked WHERE rn <= 20 GROUP BY 1 ORDER BY event_type
"""


def a14_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 — DISTINCT + ORDER BY (binance_analysis.py:163-165)."""
    t = load_tables(spark, sf_dir, ["events"])
    return t["events"].select("event_type").distinct().orderBy("event_type")


A14_SQL = "SELECT DISTINCT event_type FROM events ORDER BY event_type"


def a15_health_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15/S18 — count/min/max health probe (dashboard app.py:117-120)."""
    t = load_tables(spark, sf_dir, ["events"])
    return t["events"].agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


A15_SQL = "SELECT COUNT(*) AS n_rows, MIN(ts) AS min_ts, MAX(ts) AS max_ts FROM events"


# ============================================================== windows


def w1_lag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — per-group first difference with unique ordering
    (groupby().diff(), binance_analysis.py:220)."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (
        t["events"]
        .withColumn("prev_value", F.lag("value", 1).over(w))
        .withColumn("diff", F.col("value") - F.col("prev_value"))
        .select("event_id", "event_type", "value", "prev_value", "diff")
    )


W1_SQL = """
SELECT event_id, event_type, value,
  lag(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_value,
  value - lag(value, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS diff
FROM events
"""


def w2_rolling_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — 60-row trailing sample stddev with min_periods=30 mask
    (pandas rolling(60, min_periods=30).std(), binance_analysis.py:233-239).

    Exact decimal moments inside ONE window frame: both moment sums and
    the count evaluate in the same sort pass; the masked stddev formula
    is identical IEEE arithmetic on both engines."""
    t = load_tables(spark, sf_dir, ["events"])
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-59, 0)
    )
    v = F.col("value")
    events = t["events"].withColumns(
        {
            "__n": F.count("value").over(w),
            "__sx": F.sum(v.cast(DEC)).over(w).cast("double"),
            "__sx2": F.sum(v.cast(DEC) * v.cast(DEC)).over(w).cast("double"),
        }
    )
    n, sx, sx2 = F.col("__n"), F.col("__sx"), F.col("__sx2")
    std = F.when(
        n >= 30, F.sqrt(F.greatest((sx2 - sx * sx / n) / (n - F.lit(1)), F.lit(0.0)))
    )
    return events.select(
        "event_id", "event_type", "value", std.alias("rolling_std")
    )


W2_SQL = """
SELECT event_id, event_type, value,
  CASE WHEN n >= 30 THEN sqrt(greatest((sx2 - sx*sx/n) / (n-1), 0)) END AS rolling_std
FROM (
  SELECT event_id, event_type, value,
    COUNT(value) OVER w AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx2
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
)
"""


def w3_forward_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J2/F7 — forward log-return via lead(k) with edge + nonpositive
    guards (binance_analysis.py:404-415); log output rounded 6."""
    t = load_tables(spark, sf_dir, ["events"])
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    events = t["events"].withColumn("__led", F.lead("value", 5).over(w))
    led = F.col("__led")
    ret = F.when((F.col("value") > 0) & (led > 0), F.round(F.log(led / F.col("value")), 6))
    return events.select("event_id", "event_type", "value", ret.alias("fwd_ret_5"))


W3_SQL = """
SELECT event_id, event_type, value,
  CASE WHEN value > 0 AND lead(value, 5) OVER w > 0
       THEN round(ln(lead(value, 5) OVER w / value), 6) END AS fwd_ret_5
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
"""


def w4_level_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — orderbook level ranking: bids by price desc, asks asc, one
    window with a conditional sort key (binance_analysis.py:489-497)."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"].withColumn(
        "side",
        F.when(F.col("event_type").isin("purchase", "signup"), "bid").otherwise("ask"),
    )
    ranked = rank_levels(e, [], "value", "side", tiebreak="event_id")
    return ranked.where(F.col("level") <= 100).select(
        "event_id", "side", "value", "level"
    )


W4_SQL = """
WITH sided AS (
  SELECT event_id, value,
    CASE WHEN event_type IN ('purchase','signup') THEN 'bid' ELSE 'ask' END AS side
  FROM events
)
SELECT event_id, side, value,
  row_number() OVER (
    PARTITION BY side
    ORDER BY CASE WHEN side = 'bid' THEN -value ELSE value END, event_id
  ) AS level
FROM sided
QUALIFY level <= 100
"""


# ================================================================ joins


def j1_minute_equijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — large events joined to their minute-bucket aggregate (the
    reference's `pos` dict lookup, binance_analysis.py:392-397).  The
    minute side is aggregated then broadcast — fact side never shuffles."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    minutes = e.groupBy(
        F.col("event_type").alias("m_type"),
        minute_bucket("ts").alias("minute"),
    ).agg(exact_avg("value").alias("minute_avg"), F.count(F.lit(1)).alias("minute_n"))
    big = quantile_threshold_filter(e, "value", 0.99)
    joined = big.join(
        F.broadcast(minutes),
        (F.col("event_type") == F.col("m_type"))
        & (minute_bucket("ts") == F.col("minute")),
        "left",
    )
    return joined.select(
        "event_id", "event_type", "value", "minute_avg", "minute_n"
    ).orderBy("event_id")


J1_SQL = f"""
WITH minutes AS (
  SELECT event_type AS m_type, date_trunc('minute', ts) AS minute,
    {_avg_dec('value')} AS minute_avg, COUNT(*) AS minute_n
  FROM events GROUP BY 1, 2
)
SELECT event_id, event_type, value, minute_avg, minute_n
FROM events LEFT JOIN minutes
  ON event_type = m_type AND date_trunc('minute', ts) = minute
WHERE value >= (SELECT quantile_cont(value, 0.99) FROM events)
ORDER BY event_id
"""


def j_semi_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having at least one order."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    out = semi_join(
        t["customer"], t["orders"].select(F.col("o_custkey").alias("c_custkey")), "c_custkey"
    )
    return out.select("c_custkey", "c_name").orderBy("c_custkey")


J_SEMI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def j_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no 1995 orders.  (Unwindowed, every
    customer has orders at every SF and the gate is vacuously empty —
    the order-date restriction keeps it meaningful, same lesson as
    set_except_parts.)"""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    orders95 = (
        t["orders"]
        .where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    out = anti_join(t["customer"], orders95, "c_custkey")
    return out.select("c_custkey", "c_name").orderBy("c_custkey")


J_ANTI_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
)
ORDER BY c_custkey
"""


def j4_union_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — tagged vertical union (bids+asks concat,
    binance_analysis.py:494)."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    bids = e.where(F.col("event_type").isin("purchase", "signup")).select("event_id", "value")
    asks = e.where(F.col("event_type").isin("view", "click")).select("event_id", "value")
    return union_tagged([(bids, "bid"), (asks, "ask")]).orderBy("event_id")


J4_SQL = """
SELECT event_id, value, 'bid' AS side FROM events WHERE event_type IN ('purchase','signup')
UNION ALL
SELECT event_id, value, 'ask' AS side FROM events WHERE event_type IN ('view','click')
ORDER BY event_id
"""


def set_intersect_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op — INTERSECT: part keys that are both ordered and large."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    ordered = t["lineitem"].select(F.col("l_partkey").alias("partkey"))
    large = t["part"].where(F.col("p_size") > 25).select(F.col("p_partkey").alias("partkey"))
    return ordered.intersect(large).orderBy("partkey")


SET_INTERSECT_SQL = """
SELECT l_partkey AS partkey FROM lineitem
INTERSECT
SELECT p_partkey FROM part WHERE p_size > 25
ORDER BY partkey
"""


def set_except_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op — EXCEPT: parts not ordered during 1995.  (Unwindowed,
    every part is ordered at every SF and the result is vacuously
    empty; the ship-year restriction keeps the gate meaningful at all
    scales: 6/26/244 rows at sf0.001/0.01/0.1.)"""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    allp = t["part"].select(F.col("p_partkey").alias("partkey"))
    ordered = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select(F.col("l_partkey").alias("partkey"))
    return allp.exceptAll(ordered).distinct().orderBy("partkey")


SET_EXCEPT_SQL = """
SELECT p_partkey AS partkey FROM part
EXCEPT
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
ORDER BY partkey
"""


# ======================================================== normalization


def p_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3/F15 — tolerant extraction of a JSON-ish props field with
    null-on-error casts, then aggregate.  Uses string surgery rather
    than a JSON reader so the identical expression is ANSI-portable
    (get_json_object is the natural Spark form; try_cast gives the
    errors='coerce' semantics, load_postgres.py:31)."""
    t = load_tables(spark, sf_dir, ["events"])
    k = F.replace(
        F.replace(F.col("props"), F.lit('{"k": '), F.lit("")), F.lit("}"), F.lit("")
    ).try_cast("long")
    return (
        t["events"]
        .withColumn("k", k)
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("k").alias("n_k"))
        .orderBy("event_type")
    )


P_PROPS_SQL = """
SELECT event_type,
  CAST(SUM(TRY_CAST(replace(replace(props, '{"k": ', ''), '}', '') AS BIGINT)) AS BIGINT) AS sum_k,
  COUNT(TRY_CAST(replace(replace(props, '{"k": ', ''), '}', '') AS BIGINT)) AS n_k
FROM events GROUP BY 1 ORDER BY event_type
"""


def f2_heuristic_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — the reference's heuristic time parser (epoch-ms if numeric
    and > 10^10, else ISO; binance_analysis.py:107-119) exercised by
    round-tripping events.ts through both encodings."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    encoded = F.when(
        F.col("event_id") % 2 == 0, F.unix_millis("ts").cast("string")
    ).otherwise(F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
    parsed = heuristic_time_parse(encoded)
    return (
        e.withColumn("parsed_ts", parsed)
        .groupBy(F.to_date("parsed_ts").alias("date"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("date")
    )


F2_SQL = """
WITH enc AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN CAST(epoch_ms(ts) AS VARCHAR)
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS src
  FROM events
), parsed AS (
  SELECT CASE WHEN TRY_CAST(src AS BIGINT) IS NOT NULL AND TRY_CAST(src AS BIGINT) > 10000000000
              THEN epoch_ms(TRY_CAST(src AS BIGINT))
              ELSE CAST(src AS TIMESTAMP) END AS parsed_ts
  FROM enc
)
SELECT CAST(parsed_ts AS DATE) AS date, COUNT(*) AS n_rows
FROM parsed GROUP BY 1 ORDER BY date
"""


# ============================================================ streaming


def stream_candles_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — 1-minute OHLCV candle construction from the trades-shaped
    events stream (batch-equivalent of the Structured Streaming
    tumbling-window plan in streaming/candles.py; first/last are
    min_by/max_by over (ts, event_id) so ties are deterministic)."""
    t = load_tables(spark, sf_dir, ["events"])
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        t["events"]
        .groupBy(
            F.col("event_type").alias("symbol"),
            minute_bucket("ts").alias("minute"),
        )
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            exact_sum("value").alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
        .orderBy("symbol", "minute")
    )


STREAM_CANDLES_SQL = f"""
WITH ranked AS (
  SELECT event_type, date_trunc('minute', ts) AS minute, value,
    row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts) ORDER BY ts, event_id) AS rn_a,
    row_number() OVER (PARTITION BY event_type, date_trunc('minute', ts) ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type AS symbol, minute,
  MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
  MAX(value) AS high,
  MIN(value) AS low,
  MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
  {_sum_dec('value')} AS volume,
  COUNT(*) AS n_trades
FROM ranked GROUP BY 1, 2 ORDER BY symbol, minute
"""


# ========================================================== text / dedup


def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis — token counting + length stats (training-data
    pipeline §extension; replace-based counting is ANSI-portable and
    codegen-friendly)."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    toks = token_count("text")
    # when-guard, not bare division: an empty document would be a
    # divide-by-zero ERROR under the driver's ANSI session.
    avg_len = F.when(toks > 0, (F.length(norm) - (toks - 1)) / toks)
    return d.select(
        "doc_id",
        F.length(norm).alias("n_chars_norm"),
        toks.alias("n_tokens"),
        avg_len.alias("avg_token_len"),
    ).orderBy("doc_id")


T_TOKEN_SQL = """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents
), counted AS (
  SELECT doc_id, length(t) AS n_chars_norm,
    CASE WHEN length(t) = 0 THEN 0
         ELSE CAST((length(t) - length(replace(t, ' ', ''))) AS BIGINT) + 1 END AS n_tokens
  FROM norm
)
SELECT doc_id, n_chars_norm, n_tokens,
  CASE WHEN n_tokens > 0 THEN (n_chars_norm - (n_tokens - 1)) / n_tokens END AS avg_token_len
FROM counted ORDER BY doc_id
"""


def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: stopword ratio + length features, the
    scalar shape of heuristic quality filters for LLM corpora."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    from kp_crypto_market_analytics_spark.functions.text import quality_score

    toks = token_count("text")
    hits = stopword_hits("text")
    # ANSI-safe: guard the token division (empty doc => null ratio/score).
    ratio = F.when(toks > 0, hits / toks)
    score = quality_score("text")
    return d.select(
        "doc_id",
        toks.alias("n_tokens"),
        hits.alias("stopword_hits"),
        F.round(ratio, 6).alias("stopword_ratio"),
        score.alias("quality_score"),
    ).orderBy("doc_id")


def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-lexicon hit scores, argmax with a
    fixed tie order; compares against the labeled lang column."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = t["documents"]
    scores = lang_scores("text")
    langs = list(LANG_MARKERS)
    out = d
    for lang in langs:
        out = out.withColumn(f"score_{lang}", scores[lang])
    pred = None
    for lang in langs:
        cond_ge_all = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond_ge_all = c if cond_ge_all is None else (cond_ge_all & c)
        pred = (
            F.when(cond_ge_all, F.lit(lang)) if pred is None else pred.when(cond_ge_all, F.lit(lang))
        )
    return out.select(
        "doc_id",
        "lang",
        *[F.col(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("correct"),
    ).orderBy("doc_id")


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5(normalized text): smallest doc_id survives
    (hash-groupBy, one shuffle of fingerprints)."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    return (
        d.withColumn("fp", fingerprint_md5("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "fp", "dup_count")
        .orderBy("doc_id")
    )


DEDUP_EXACT_SQL = f"""
SELECT MIN(doc_id) AS doc_id, md5({NORM_TEXT_SQL}) AS fp, COUNT(*) AS dup_count
FROM documents GROUP BY 2 ORDER BY doc_id
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: exact Jaccard over char-4-gram shingle sets
    via inverted-index self-join (explode → join on shingle → count).
    Threshold 0.6 keeps the verified-pair output small."""
    from kp_crypto_market_analytics_spark.operators.dedup import ngram_jaccard_pairs

    t = load_tables(spark, sf_dir, ["documents"])
    pairs = ngram_jaccard_pairs(
        t["documents"], "text", "doc_id", k=4, threshold=0.6, use_words=False
    )
    return pairs.select(
        "doc_a", "doc_b", "inter_size", "size_a", "size_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


DEDUP_NGRAM_SQL = f"""
WITH norm AS (
  SELECT doc_id, {NORM_TEXT_SQL} AS t FROM documents
), idx AS (
  SELECT doc_id, t, unnest(generate_series(1, greatest(length(t) - 3, 1))) AS i
  FROM norm
), sets AS (
  SELECT DISTINCT doc_id, substr(t, i, 4) AS shingle FROM idx
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM sets GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
  FROM sets a JOIN sets b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter_size, sa.set_size AS size_a, sb.set_size AS size_b,
  round(CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size), 6) AS jaccard
FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size) >= 0.6
ORDER BY doc_a, doc_b
"""


def dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (64 hashes over DF-CAPPED char-4-gram
    shingles, r9 production parameters — see queries_ext's LSH header)
    with the portable md5-derived hash — the signature step of
    MinHash-LSH, verified bit-exactly against SQL.  Docs whose every
    shingle is over the df cap have no signature row (boilerplate-only
    docs belong to the exact/fingerprint pipeline)."""
    from kp_crypto_market_analytics_spark.queries_ext import _minhash_sigs

    return _minhash_sigs(spark, sf_dir).orderBy("doc_id")


def _minhash_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import CAPPED_HSETS_CTE

    return f"""
WITH {CAPPED_HSETS_CTE}
SELECT * FROM sigs ORDER BY doc_id
"""


# ========================================================== similarity


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10: corpus
    scan × broadcast queries, scored with built-in zip_with/aggregate
    (JVM-side), per-query top-k on the ROUNDED score so ordering agrees
    with the oracle bit-for-bit.  A blocked NumPy scorer measured no
    faster (0.69-1.4 s vs 0.57-1.3 s at |q| in {10, 100, 200}): at
    <= 400k dots the Python boundary costs more than the JVM HOF
    saves."""
    from kp_crypto_market_analytics_spark.operators.similarity import brute_force_topk

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.where(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, "embedding", "vec_id", k=5).orderBy(
        "query_id", "rank"
    )


SIM_BRUTE_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    round(list_cosine_similarity(q.qvec, CAST(c.embedding AS DOUBLE[])), 6) AS cos
  FROM q, embeddings c
  WHERE c.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""


def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= 0.45 over all (a<b)
    pairs — the exact-verification stage of embedding dedup.  Runs the
    blocked NumPy form (r11 optimization, guide §4.2/§8): each task
    scores one block of the pair matrix against the corpus parquet it
    reads itself, bit-identically to the HOF join form (see
    neardup_pairs_blocked's exactness contract); measured 1.5 s → 0.75 s
    warm at sf0.1 with the identical 144-row output."""
    from kp_crypto_market_analytics_spark.operators.similarity import (
        neardup_pairs_blocked,
    )

    t = load_tables(spark, sf_dir, ["embeddings"])
    return neardup_pairs_blocked(
        t["embeddings"], f"{sf_dir}/embeddings.parquet", "embedding", "vec_id",
        threshold=0.45,
    ).orderBy("id_a", "id_b")


SIM_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.45
ORDER BY id_a, id_b
"""


# ============================================================= registry

REGISTRY = (
    (q1_pricing_summary, Q1_SQL),
    (q3_shipping_priority, Q3_SQL),
    (q5_local_supplier, Q5_SQL),
    (q6_forecast_revenue, Q6_SQL),
    (a1_symbol_metrics, A1_SQL),
    (a2_daily_summary, A2_SQL),
    (a3_monthly_rollup, A3_SQL),
    (a4_hourly_profile, A4_SQL),
    (a5_dow_profile, A5_SQL),
    (a6_weekday_hour_pivot, _a6_sql()),
    (a7_overall_stats, A7_SQL),
    (a8_large_events, A8_SQL),
    (a9_corr_matrix, A9_SQL),
    (a11_coverage, A11_SQL),
    (a12_best_spread, A12_SQL),
    (a13_depth_topn, A13_SQL),
    (a14_distinct_types, A14_SQL),
    (a15_health_probe, A15_SQL),
    (w1_lag_diff, W1_SQL),
    (w2_rolling_std, W2_SQL),
    (w3_forward_return, W3_SQL),
    (w4_level_rank, W4_SQL),
    (j1_minute_equijoin, J1_SQL),
    (j_semi_customers, J_SEMI_SQL),
    (j_anti_customers, J_ANTI_SQL),
    (j4_union_sides, J4_SQL),
    (set_intersect_parts, SET_INTERSECT_SQL),
    (set_except_parts, SET_EXCEPT_SQL),
    (p_props_extract, P_PROPS_SQL),
    (f2_heuristic_time_parse, F2_SQL),
    (stream_candles_1m, STREAM_CANDLES_SQL),
    (t_token_stats, T_TOKEN_SQL),
    (t_quality_score, quality_score_sql()),
    (t_lang_id, lang_id_sql()),
    (dedup_exact, DEDUP_EXACT_SQL),
    (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    (dedup_minhash_sig, _minhash_sql()),
    (sim_bruteforce_topk, SIM_BRUTE_SQL),
    (sim_neardup_pairs, SIM_NEARDUP_SQL),
)


def build_registry(
    tables: Iterable[tuple[tuple[Query, str], ...]],
) -> tuple[dict[str, Query], dict[str, str]]:
    """Key every ``(query, oracle_sql)`` pair of ``tables`` on the
    query's ``__name__``, in table order; a name declared twice raises."""
    queries: dict[str, Query] = {}
    oracles: dict[str, str] = {}
    for table in tables:
        for fn, sql in table:
            name = fn.__name__
            if name in queries:
                raise ValueError(f"query {name!r} is declared twice")
            queries[name] = fn
            oracles[name] = sql
    return queries, oracles


QUERIES, ORACLES = build_registry((
    REGISTRY,
    queries_ext.REGISTRY,
    queries_tpch.REGISTRY,
    queries_indicators.REGISTRY,
    queries_corpus.REGISTRY,
    queries_quality.REGISTRY,
    queries_graph.REGISTRY,
    queries_mining.REGISTRY,
    queries_r7.REGISTRY,
    queries_r8.REGISTRY,
    queries_r9.REGISTRY,
    queries_r9b.REGISTRY,
    queries_r9c.REGISTRY,
    queries_r10.REGISTRY,
    queries_r11.REGISTRY,
    queries_r11b.REGISTRY,
    queries_r11c.REGISTRY,
))
