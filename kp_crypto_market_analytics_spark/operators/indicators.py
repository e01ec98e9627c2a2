"""Technical-indicator window builders (beyond-reference family).

The reference computes one indicator — rolling volatility of log
returns (`src/analytics/binance_analysis.py:232-239`, covered by
`w2_rolling_std`) — but any user of a crypto-market analytics engine
reaches next for the classic price-series indicators.  This module
supplies them as composable window expressions that stay entirely
inside whole-stage codegen: one sort pass per (symbol, time) window
serves every indicator stacked on it, and nothing leaves the JVM.

Determinism rules (so each indicator can carry an exact SQL oracle):

- Moving moments accumulate in DECIMAL(18,6) (order-independent —
  both engines may regroup window-frame additions; decimal addition
  is exactly associative where IEEE addition is not).
- Derived doubles are rounded to a fixed scale BEFORE any decimal
  re-accumulation (a 2- or 6-dp double casts to DECIMAL exactly;
  an arbitrary double risks half-up-vs-half-even tie divergence).
- Rolling min/max/counts are exact as-is.
- Recursive smoothings (Wilder RSI, true EMA) are replaced by their
  published window-expressible variants: Cutler's RSI (SMA of gains)
  and the truncated adjust=True EWMA (shared weight literals, the
  ``w_ewma_trunc`` pattern) — closed forms, not recurrences.

Each builder takes a DataFrame and returns it with its indicator
columns added.  A builder selects each distinct window aggregate once,
as a ``__``-prefixed column (``withColumns``), builds the IEEE formula
from those columns in a following projection and drops them again:
Spark evaluates a ``.over(w)`` Column once per reference, so a moment
read five times by a formula would otherwise be aggregated five times
per row over its sliding frame.

Scale: every indicator here is a projection over ONE window sort per
(partition key, time) ordering — a single shuffle on the symbol key,
then O(rows · frame) work with no Python and no extra exchange.  At
100 TB the shuffle is the whole cost, and stacking all indicators on
the same window spec amortizes it across the family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, WindowSpec
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import DEC


def bollinger(
    df: DataFrame,
    col: Column,
    w: WindowSpec,
    min_periods: int,
    k: float = 2.0,
) -> DataFrame:
    """``df`` plus the Bollinger bands ``bb_mid``, ``bb_upper`` and
    ``bb_lower``: SMA ± k·sample-stddev over the frame, masked below
    ``min_periods`` observations.  The moments (n, Σx, Σx²) accumulate
    in DECIMAL and are read as doubles."""
    df = df.withColumns(
        {
            "__bb_n": F.count(col).over(w),
            "__bb_sx": F.sum(col.cast(DEC)).over(w).cast("double"),
            "__bb_sx2": F.sum(col.cast(DEC) * col.cast(DEC)).over(w).cast("double"),
        }
    )
    n, sx, sx2 = F.col("__bb_n"), F.col("__bb_sx"), F.col("__bb_sx2")
    mean = sx / n
    std = F.sqrt(F.greatest((sx2 - sx * sx / n) / (n - F.lit(1)), F.lit(0.0)))
    ok = n >= min_periods
    return df.withColumns(
        {
            "bb_mid": F.when(ok, F.round(mean, 6)),
            "bb_upper": F.when(ok, F.round(mean + F.lit(k) * std, 6)),
            "bb_lower": F.when(ok, F.round(mean - F.lit(k) * std, 6)),
        }
    ).drop("__bb_n", "__bb_sx", "__bb_sx2")


def price_diff(col: Column, w: WindowSpec, scale: int = 2) -> Column:
    """One-step price change rounded back to the input's decimal scale.

    The true difference of two ``scale``-dp prices is exactly a
    ``scale``-dp number, so rounding the IEEE result recovers it
    exactly on both engines — and the rounded double then casts to
    DECIMAL with no tie ambiguity (the re-accumulation precondition).
    """
    return F.round(col - F.lag(col, 1).over(w), scale)


def cutler_rsi(
    df: DataFrame, diff: Column, frame: WindowSpec, periods: int, out: str
) -> DataFrame:
    """``df`` plus Cutler's RSI (SMA-based, the window-expressible
    published variant of Wilder's recursive smoothing) as ``out``:
    100·ΣG/(ΣG+ΣL) over the trailing ``periods`` diffs.  NULL until
    ``periods`` diffs exist and on flat windows (ΣG+ΣL = 0)."""
    gain = F.greatest(diff, F.lit(0.0)).cast(DEC)
    loss = F.greatest(-diff, F.lit(0.0)).cast(DEC)
    df = df.withColumns(
        {
            "__rsi_sg": F.sum(gain).over(frame).cast("double"),
            "__rsi_sl": F.sum(loss).over(frame).cast("double"),
            "__rsi_n": F.count(diff).over(frame),
        }
    )
    sg, sl, n = F.col("__rsi_sg"), F.col("__rsi_sl"), F.col("__rsi_n")
    rsi = F.when(
        (n >= periods) & (sg + sl > 0), F.round(F.lit(100.0) * sg / (sg + sl), 6)
    )
    return df.withColumn(out, rsi).drop("__rsi_sg", "__rsi_sl", "__rsi_n")


def ewma_weights(alpha: float, lags: int) -> list[float]:
    """adjust=True EWMA weights (1-α)^j, j∈[0,lags) — emitted as the
    SAME Python double literals into both engines' expressions so the
    weighted sums are identical IEEE arithmetic (no libm pow)."""
    return [(1.0 - alpha) ** j for j in range(lags)]


def truncated_ema(
    df: DataFrame,
    col: Column,
    w: WindowSpec,
    lags: int,
    emas: dict[str, float],
    scale: int | None = None,
) -> DataFrame:
    """``df`` plus, for each ``out: alpha`` of ``emas``, the truncated
    adjust=True EWMA of ``col`` as ``out``: Σ wⱼ·x_{t-j} / Σ wⱼ over
    available lags — the closed-form cousin of the exact-recurrence
    ``windows.ewma_grouped`` (pandas-parity-tested); this one is
    window-expressible and SQL-oracle-gated.  The lag chain evaluates
    in ONE frame pass of the shared window sort; each lag is selected
    once and read by both sums of every EWMA.  ``scale`` rounds each
    EWMA to that many decimals (the 6-dp grid a chained EWMA or a
    decimal re-accumulation consumes)."""
    names = [f"__ema_lag{j}" for j in range(1, lags)]
    df = df.withColumns({n: F.lag(col, j).over(w) for j, n in enumerate(names, 1)})
    lagged = [F.col(n) for n in names]
    outs = {}
    for out, alpha in emas.items():
        num: Column = F.lit(0.0)
        den: Column = F.lit(0.0)
        for lg, wt in zip([col] + lagged, ewma_weights(alpha, lags)):
            num = num + F.coalesce(lg, F.lit(0.0)) * F.lit(wt)
            den = den + F.when(lg.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        outs[out] = num / den if scale is None else F.round(num / den, scale)
    return df.withColumns(outs).drop(*names)


def stochastic_k(
    df: DataFrame, col: Column, frame: WindowSpec, periods: int, out: str
) -> DataFrame:
    """``df`` plus %K = 100·(x − min)/(max − min) over the trailing
    frame as ``out``; NULL until ``periods`` rows and when the range is
    degenerate."""
    df = df.withColumns(
        {
            "__stk_lo": F.min(col).over(frame),
            "__stk_hi": F.max(col).over(frame),
            "__stk_n": F.count(col).over(frame),
        }
    )
    lo, hi, n = F.col("__stk_lo"), F.col("__stk_hi"), F.col("__stk_n")
    k = F.when(
        (n >= periods) & (hi > lo),
        F.round(F.lit(100.0) * (col - lo) / (hi - lo), 6),
    )
    return df.withColumn(out, k).drop("__stk_lo", "__stk_hi", "__stk_n")


def smoothed(df: DataFrame, col6: Column, frame: WindowSpec, out: str) -> DataFrame:
    """``df`` plus a short SMA of an already-6-dp-rounded double (e.g.
    %D over %K, the MACD signal line) as ``out``: the 6-dp input casts
    to DECIMAL exactly, so the re-accumulation stays order-independent."""
    df = df.withColumns(
        {
            "__sm_s": F.sum(col6.cast(DEC)).over(frame).cast("double"),
            "__sm_n": F.count(col6).over(frame),
        }
    )
    s, n = F.col("__sm_s"), F.col("__sm_n")
    return df.withColumn(out, F.when(n > 0, F.round(s / n, 6))).drop("__sm_s", "__sm_n")


def drawdown(df: DataFrame, col: Column, w_cum: WindowSpec) -> DataFrame:
    """``df`` plus the running ``peak`` and the ``drawdown`` fraction
    ≤ 0 against it (unbounded-preceding running max — exact, max is
    order-free)."""
    df = df.withColumn("peak", F.max(col).over(w_cum))
    peak = F.col("peak")
    return df.withColumn("drawdown", F.round((col - peak) / peak, 6))


def obv_step(diff: Column, volume: Column) -> Column:
    """On-balance-volume increment: +vol on up-tick, −vol on down-tick,
    0 on flat/first — integer, so the cumulative sum is exact."""
    return (
        F.when(diff > 0, volume)
        .when(diff < 0, -volume)
        .otherwise(F.lit(0))
        .cast("long")
    )
