"""Market-analytics scalar functions (SURVEY.md §2.3 F1-F15).

Each function mirrors a scalar computed by the reference's pandas
pipeline (citations in docstrings point at /root/reference), expressed
as a Catalyst column expression so it runs JVM-side inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- F1: time


def ms_to_timestamp(col: Column | str) -> Column:
    """Epoch-milliseconds → UTC timestamp.

    Reference: src/collectors/prices_collector.py:9-11 (ms→ISO string).
    """
    return F.timestamp_millis(F.col(col).cast("long") if isinstance(col, str) else col.cast("long"))


def heuristic_time_parse(col: Column | str) -> Column:
    """F2 — tolerant time parse: numeric-looking ⇒ epoch-ms, else ISO.

    Reference: src/analytics/binance_analysis.py:107-119 uses a
    "numeric median > 10^10 ⇒ milliseconds" heuristic; per-value form:
    a value castable to long and > 10^10 is epoch-ms, otherwise an ISO
    timestamp string.  try_cast / try_to_timestamp give null-on-failure
    in BOTH branches, so malformed strings become null (the reference's
    errors='coerce' + dropna(subset=['open_time'])) instead of failing
    the job under the driver's ANSI-on session.
    """
    c = F.col(col) if isinstance(col, str) else col
    as_long = c.cast("string").try_cast("long")
    return F.when(
        as_long.isNotNull() & (as_long > F.lit(10_000_000_000)),
        F.timestamp_millis(as_long),
    ).otherwise(F.try_to_timestamp(c.cast("string")))


# ---------------------------------------------------------- F3-F6: pricing


def typical_price(high: str = "high", low: str = "low", close: str = "close") -> Column:
    """F3 — (high+low+close)/3 (binance_analysis.py:218)."""
    return (F.col(high) + F.col(low) + F.col(close)) / F.lit(3.0)


def ohlc4(o: str = "open", h: str = "high", l: str = "low", c: str = "close") -> Column:
    """F4 — (open+high+low+close)/4 (metrics.py:18)."""
    return (F.col(o) + F.col(h) + F.col(l) + F.col(c)) / F.lit(4.0)


def notional(price: str = "price", qty: str = "qty") -> Column:
    """F6 — trade notional = price*qty (binance_analysis.py:376)."""
    return F.col(price) * F.col(qty)


# --------------------------------------------------- F13/F14: robust z-score


def robust_z_columns(df: DataFrame, cols: list[str], suffix: str = "_z") -> DataFrame:
    """F13 — MAD-based robust z-score: 0.6745*(x-median)/MAD.

    Reference: src/analytics/binance_analysis.py:62-68; degenerate MAD=0
    falls back to (x - median).  Scope note (SURVEY.md §7): the reference
    computes medians over the WHOLE frame, not per symbol (:241-243) —
    preserved here: one global percentile aggregation, broadcast back
    via a 1-row cross join (scalar subquery shape; Catalyst turns the
    1-row side into a broadcast nested-loop, effectively free).  Exact
    by default; approx_percentile sketches under the session conf
    ``operators.aggregates.APPROX_QUANTILES_CONF`` (the 100 TB path).
    """
    from kp_crypto_market_analytics_spark.operators.aggregates import percentile_expr

    aggs = []
    for c in cols:
        aggs.append(percentile_expr(df, c, 0.5).alias(f"__med_{c}"))
    med = df.agg(*aggs)
    joined = df.crossJoin(F.broadcast(med))
    mad_aggs = [
        percentile_expr(df, f"abs({c} - __med_{c})", 0.5).alias(f"__mad_{c}") for c in cols
    ]
    mads = joined.agg(*mad_aggs)
    out = joined.crossJoin(F.broadcast(mads))
    for c in cols:
        med_c, mad_c = F.col(f"__med_{c}"), F.col(f"__mad_{c}")
        out = out.withColumn(
            c + suffix,
            F.when(mad_c > 0, F.lit(0.6745) * (F.col(c) - med_c) / mad_c).otherwise(
                F.col(c) - med_c
            ),
        )
    return out.drop(*[f"__med_{c}" for c in cols], *[f"__mad_{c}" for c in cols])


def anomaly_score(z_a: str, z_b: str) -> Column:
    """F14 — max(|z_a|, |z_b|) (binance_analysis.py:244)."""
    return F.greatest(F.abs(F.col(z_a)), F.abs(F.col(z_b)))


# -------------------------------------------------------- F9/F10: calendar


def weekday_name(ts: str) -> Column:
    """F9 — weekday full name; pair with :func:`weekday_sort_key` for the
    Monday-first ordering the reference enforces via ordered categorical
    (binance_analysis.py:225-230)."""
    return F.date_format(F.col(ts), "EEEE")


def weekday_sort_key(ts: str) -> Column:
    """Monday=0 .. Sunday=6 (Spark dayofweek: Sunday=1)."""
    return (F.dayofweek(F.col(ts)) + 5) % 7


def month_key(ts: str) -> Column:
    """'YYYY-MM' period key (binance_analysis.py:669-670)."""
    return F.date_format(F.col(ts), "yyyy-MM")


def minute_bucket(ts: str) -> Column:
    """F10 — floor to minute (binance_analysis.py:396)."""
    return F.date_trunc("minute", F.col(ts))
