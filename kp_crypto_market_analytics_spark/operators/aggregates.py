"""Aggregation operators (SURVEY.md §2.5 A1-A15).

Every operator is a ``groupBy().agg()`` plan — Spark executes these as
partial (map-side) + final hash aggregations, so each one shuffles only
the group keys' partial states, never raw rows.  Decimal-typed sums are
used where the result must be bit-deterministic across partition
orderings (double addition is not associative; decimal is exact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.functions.market import (
    weekday_name,
    weekday_sort_key,
)

# Exact, order-independent sum of a double column: accumulate in
# decimal then present as double.  Double addition is not associative,
# so a plain double sum varies with partition order; decimal is exact
# for inputs with <= 6 decimal places and |x| < 10^12 (all money-like
# columns here).  Cost is ~2x a double sum — worth it for gated/audited
# aggregates; use plain F.sum for throughput paths.
DEC = "decimal(18,6)"


def exact_sum(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def exact_avg(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias("avg")


def round_mean_micro(num_dec: Column, den: Column) -> Column:
    """round(num/den, 6) computed EXACTLY, for a scale-6 DECIMAL
    numerator and integer denominator — immune to the structural
    rounding hazard that `round(CAST(num AS DOUBLE)/den, 6)` carries:
    a 6-dp decimal divided by a small integer lands on an EXACT
    .5×10⁻⁶ tie surprisingly often (e.g. 106.64253/36 = 2.96229250),
    and at a tie the double cannot represent the true value, so two
    engines legitimately disagree on the rounded 6th digit.

    Integer path: micro = num·10⁶ (exact BIGINT for scale-6 input),
    half-away-from-zero division = sign · ((2·|micro| + den) DIV
    (2·den)) — pure int64 arithmetic, bit-identical everywhere.
    ``sql_round_mean_micro`` is the oracle-side twin."""
    micro = (num_dec * F.lit(1000000)).cast("long")
    d = den.cast("long")
    num2 = F.lit(2) * F.abs(micro) + d
    den2 = F.lit(2) * d
    # True integral division (`div`), never `/`: the float path loses
    # exactness once num2 reaches 2^53 (session.py's standing rule).
    q = F.call_function("div", num2, den2)
    sign = F.when(micro < 0, F.lit(-1)).otherwise(F.lit(1))
    return (sign * q) / F.lit(1000000.0)


def sql_round_mean_micro(num_sql: str, den_sql: str) -> str:
    """DuckDB twin of :func:`round_mean_micro` (integer half-away
    rounding of a scale-6 decimal mean)."""
    m = f"CAST(({num_sql}) * 1000000 AS BIGINT)"
    return (
        f"(CASE WHEN {m} < 0 THEN -1 ELSE 1 END"
        f" * ((2 * abs({m}) + ({den_sql})) // (2 * ({den_sql}))))"
        f" / 1000000.0"
    )


def round_ratio_micro_dec(num_dec: Column, den_long: Column) -> Column:
    """round(num/den, 6) EXACTLY for a DECIMAL numerator and BIGINT
    denominator, when num·10⁶ can exceed int64 (TWAP's Σ price·Δt_µs
    numerator ≈ 10¹⁵·10⁶; mutual-information's nt·nh marginal product
    passes 9.2·10¹² once either marginal holds ~3M rows — there
    :func:`round_mean_micro`'s long cast would overflow, and Spark's
    non-ANSI cast would yield silent NULLs while the ANSI oracle
    errors).  Same half-away-from-zero integer division, but the micro
    value stays DECIMAL(38,0) and `div` does the integral division on
    decimals — bit-identical to the DuckDB HUGEINT twin
    :func:`sql_round_ratio_micro_huge`."""
    micro = (num_dec * F.lit(1000000)).cast("decimal(38,0)")
    d = den_long.cast("long")
    num2 = F.lit(2) * F.abs(micro) + d
    den2 = F.lit(2) * d
    q = F.call_function("div", num2, den2)
    sign = F.when(micro < 0, F.lit(-1)).otherwise(F.lit(1))
    return (sign * q) / F.lit(1000000.0)


def sql_round_ratio_micro_huge(num_sql: str, den_sql: str) -> str:
    """DuckDB twin of :func:`round_ratio_micro_dec` (HUGEINT micro)."""
    m = f"CAST(({num_sql}) * 1000000 AS HUGEINT)"
    return (
        f"(CASE WHEN {m} < 0 THEN -1 ELSE 1 END"
        f" * ((2 * abs({m}) + ({den_sql})) // (2 * ({den_sql}))))"
        f" / 1000000.0"
    )


def exact_stddev_samp(col: str | Column) -> Column:
    """Sample stddev via exact decimal moments: identical IEEE result on
    any engine computing sqrt((Σx² − (Σx)²/n)/(n−1)) over exact sums.
    decimal(18,6)² = decimal(36,12) fits precision 38, so both moments
    are exact.  Matches pandas .std() ddof=1 (reference W2/A1 use
    sample stddev)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.count(c)
    sx = F.sum(c.cast(DEC)).cast("double")
    sx2 = F.sum(c.cast(DEC) * c.cast(DEC)).cast("double")
    return F.when(n > 1, F.sqrt((sx2 - sx * sx / n) / (n - F.lit(1))))


def daily_summary(df: DataFrame, ts: str, value: str, extra: dict[str, Column] | None = None) -> DataFrame:
    """A2 — per-day summary (binance_analysis.py:655-667)."""
    aggs = [
        exact_avg(value).alias("avg_value"),
        exact_sum(value).alias("sum_value"),
        F.max(value).alias("max_value"),
        F.count(F.lit(1)).alias("n_rows"),
    ]
    for name, expr in (extra or {}).items():
        aggs.append(expr.alias(name))
    return df.groupBy(F.to_date(ts).alias("date")).agg(*aggs).orderBy("date")


def monthly_rollup(daily: DataFrame, date_col: str = "date", value_col: str = "sum_value") -> DataFrame:
    """A3 — agg-of-agg: month rollup reusing the daily pre-aggregate
    (binance_analysis.py:669-672).  The reuse is the optimization: the
    monthly pass aggregates ~30x fewer rows than raw."""
    return (
        daily.groupBy(F.date_format(date_col, "yyyy-MM").alias("month"))
        .agg(F.sum(value_col).alias("volume"))
        .orderBy("month")
    )


def hourly_profile(df: DataFrame, ts: str, value: str) -> DataFrame:
    """A4 — hour-of-day profile (binance_analysis.py:676-684)."""
    return (
        df.groupBy(F.hour(ts).alias("hour"))
        .agg(exact_avg(value).alias("avg_value"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("hour")
    )


def dow_profile(df: DataFrame, ts: str, value: str) -> DataFrame:
    """A5 — day-of-week profile with Monday-first ordering
    (binance_analysis.py:686-687; ordered categorical semantics)."""
    return (
        df.groupBy(
            weekday_name(ts).alias("weekday"),
            weekday_sort_key(ts).alias("dow_key"),
        )
        .agg(exact_avg(value).alias("avg_value"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("dow_key")
    )


def weekday_hour_pivot(df: DataFrame, ts: str, value: str) -> DataFrame:
    """A6 — weekday × hour heatmap pivot (binance_analysis.py:689-690).

    Pivot values pinned to 0..23 so the output schema is deterministic
    regardless of which hours appear in the data (SURVEY.md §7);
    columns are h0..h23 (never bare-integer column names)."""
    piv = (
        df.withColumn("hour_of_day", F.hour(ts))
        .groupBy(
            weekday_name(ts).alias("weekday"),
            weekday_sort_key(ts).alias("dow_key"),
        )
        .pivot("hour_of_day", list(range(24)))
        .agg(exact_avg(value))
        .orderBy("dow_key")
    )
    return piv.select(
        "weekday", "dow_key", *[F.col(str(h)).alias(f"h{h}") for h in range(24)]
    )


# Quantile scale switch.  Exact `percentile` buffers EVERY value in one
# aggregation state — fine for oracle parity at test SF, a driver-style
# bottleneck on a 100 TB column.  With this session conf set to "true",
# every quantile in the engine flips to `approx_percentile` (KLL-style
# mergeable sketch: bounded state per partial, map-side combinable, so
# the plan keeps partial aggregation and no single state ever holds the
# column).  Default stays exact so the DuckDB oracle gate compares
# bit-for-bit; bench.py sets it to exercise the production path.
APPROX_QUANTILES_CONF = "spark.kp_crypto.approxQuantiles"
# approx_percentile accuracy (relative rank error ~1/accuracy).
APPROX_QUANTILES_ACCURACY = 10000


def percentile_expr(df: DataFrame, value_expr: str, q: float) -> Column:
    """`percentile` (exact, oracle-parity) or `approx_percentile`
    (sketch, scale path) per the session conf above."""
    conf = df.sparkSession.conf
    if str(conf.get(APPROX_QUANTILES_CONF, "false")).lower() == "true":
        return F.expr(
            f"approx_percentile({value_expr}, {q}, {APPROX_QUANTILES_ACCURACY})"
        )
    return F.expr(f"percentile({value_expr}, {q})")


def overall_stats(df: DataFrame, value: str) -> DataFrame:
    """A7 — global scalar summary: mean/median/p95/p99/sum/count
    (binance_analysis.py:638-651).  Exact `percentile` (linear
    interpolation, = pandas/DuckDB quantile) by default, per SURVEY.md
    §7 oracle-parity note; flips to approx_percentile sketches under
    ``APPROX_QUANTILES_CONF`` (the 100 TB path)."""
    v = F.col(value)
    return df.agg(
        exact_avg(value).alias("mean_value"),
        percentile_expr(df, value, 0.5).alias("median_value"),
        percentile_expr(df, value, 0.95).alias("p95_value"),
        percentile_expr(df, value, 0.99).alias("p99_value"),
        exact_sum(value).alias("sum_value"),
        F.count(v).alias("n_rows"),
    )


def quantile_threshold_filter(df: DataFrame, value: str, q: float) -> DataFrame:
    """P7/A8 — filter rows above the q-quantile of ``value``
    (large-trade selection, binance_analysis.py:399-402); exact vs
    sketch per ``APPROX_QUANTILES_CONF``.

    The scalar threshold is a 1-row aggregate broadcast back with a
    cross join — no driver collect, so the plan stays fully lazy and
    cluster-side."""
    thresh = df.agg(percentile_expr(df, value, q).alias("__thresh"))
    return (
        df.crossJoin(F.broadcast(thresh))
        .where(F.col(value) >= F.col("__thresh"))
        .drop("__thresh")
    )


def coverage_stats(df: DataFrame, key: str, ts: str, step_seconds: int = 60) -> DataFrame:
    """A11 — per-key coverage/gap stats: span, observed rows, expected
    rows at a fixed cadence, missing (binance_analysis.py:606-621)."""
    span_sec = F.unix_timestamp(F.max(ts)) - F.unix_timestamp(F.min(ts))
    expected = F.floor(span_sec / F.lit(step_seconds)) + 1
    return (
        df.groupBy(key)
        .agg(
            F.min(ts).alias("first_ts"),
            F.max(ts).alias("max_ts"),
            F.count(F.lit(1)).alias("n_rows"),
            expected.alias("expected_rows"),
            (expected - F.count(F.lit(1))).alias("missing_rows"),
        )
        .orderBy(key)
    )


def best_and_spread(df: DataFrame, side: str, price: str,
                    bid: str = "bid", ask: str = "ask") -> DataFrame:
    """A12 — best bid (max price on bid side), best ask (min price on
    ask side), spread and mid (binance_analysis.py:499-502).  One
    conditional aggregation — a single shuffle-free-after-partial pass,
    no pivot needed."""
    s = F.col(side)
    best_bid = F.max(F.when(s == bid, F.col(price)))
    best_ask = F.min(F.when(s == ask, F.col(price)))
    return df.agg(
        best_bid.alias("best_bid"),
        best_ask.alias("best_ask"),
        (best_ask - best_bid).alias("spread"),
        ((best_ask + best_bid) / 2.0).alias("mid"),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_col: str,
    salt_buckets: int = 16,
):
    """Two-phase skew-proof aggregation: group first on (keys, salt),
    then combine partials on keys alone.  With a hot key, a plain
    groupBy funnels that key's entire volume through one reducer; the
    salt fans it across ``salt_buckets`` reducers and the combine phase
    touches only |keys|×buckets partial rows.

    The salt must be DETERMINISTIC (hash of a high-cardinality column,
    never rand()) so retried tasks re-produce identical partials.
    Returns (stage1_groupby, finalize) — callers supply algebraic
    partial aggs to stage 1 and their combiners to finalize, e.g.::

        g1, fin = salted_agg(df, ["k"], "id")
        daily = fin(g1.agg(F.sum("v").alias("s"), F.count("v").alias("n")),
                    [F.sum("s").alias("s"), F.sum("n").alias("n")])
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_buckets))
    )
    stage1 = salted.groupBy(*keys, "__salt")

    def finalize(partials: DataFrame, combiners: list[Column]) -> DataFrame:
        return partials.groupBy(*keys).agg(*combiners)

    return stage1, finalize


def partial_rollup(df: DataFrame, keys: list[str], value: str | Column) -> DataFrame:
    """Mergeable partial-aggregate state per key group: (n, sum as
    DECIMAL(18,6), min, max).  Decimal sums are exact ⇒ associative ⇒
    partials computed over ANY partition of the input merge to the
    bit-identical final state — the algebraic property incremental
    rollup maintenance rests on."""
    v = F.col(value) if isinstance(value, str) else value
    return df.groupBy(*keys).agg(
        F.count(v).alias("p_n"),
        F.sum(v.cast("decimal(18,6)")).alias("p_sum"),
        F.min(v).alias("p_min"),
        F.max(v).alias("p_max"),
    )


def merge_partial_rollups(parts: DataFrame, keys: list[str]) -> DataFrame:
    """Combine partial states (a union of :func:`partial_rollup`
    outputs) into the final rollup: counts and decimal sums add,
    min/max fold — no rescan of the underlying facts.  This is the
    incremental-ETL core at 100 TB: yesterday's rollup + today's
    increment merge in O(|rollup| + |increment|), and because every
    component is order-independent the result equals the full
    recompute EXACTLY (the oracle gate proves it)."""
    merged = parts.groupBy(*keys).agg(
        F.sum("p_n").alias("n_rows"),
        F.sum("p_sum").alias("d_sum"),
        F.min("p_min").alias("min_value"),
        F.max("p_max").alias("max_value"),
    )
    return merged.select(
        *keys,
        "n_rows",
        F.round(F.col("d_sum").cast("double") / F.col("n_rows"), 6).alias("avg_value"),
        "min_value",
        "max_value",
    )


APPROX_DISTINCT_CONF = "spark.kp_crypto.approxDistinct"
# HyperLogLog++ relative standard deviation of approx_count_distinct.
APPROX_DISTINCT_RSD = 0.02


def distinct_count_expr(df: DataFrame, col: str | Column) -> Column:
    """`count(DISTINCT)` (exact, oracle-parity) or
    `approx_count_distinct` (HyperLogLog++ sketch) per the session conf
    above — the distinct-count twin of :func:`percentile_expr`.  Exact
    distinct is a full shuffle of every distinct value per group; the
    HLL sketch is fixed-size per group and merges map-side, which is
    the only viable shape for user-cardinality and column-profiling
    aggs at 100 TB.  Applied where the consumer wants a CARDINALITY
    ESTIMATE (a_distinct_users, p_profile_columns); joins and weights
    that need exact counts (TF-IDF doc_freq, decontamination overlap)
    keep countDistinct unconditionally."""
    c = F.col(col) if isinstance(col, str) else col
    conf = df.sparkSession.conf
    if str(conf.get(APPROX_DISTINCT_CONF, "false")).lower() == "true":
        return F.approx_count_distinct(c, APPROX_DISTINCT_RSD)
    return F.countDistinct(c)
