"""Round-11 third-wave registry queries.

Completes the daily-bar indicator toolkit (Hull MA, VWMA, stochastic
RSI, Elder-Ray, Omega ratio, Treynor ratio, drawdown-duration table),
adds distribution-distance statistics (1-Wasserstein, energy distance,
Kuiper test, Ansari-Bradley scale test, Goodman-Kruskal gamma),
classifier-eval metrics (average precision, Matthews correlation,
log-loss), multiple-testing control (Benjamini-Hochberg over hourly
KS tests), reliability coefficients (Cronbach's alpha, ICC(1)), the
Hill tail-index estimator, corpus-law fits (Heaps' law, collocation
PMI, Simpson diversity, term burstiness, mean average precision),
graph centralities (Katz, harmonic closeness, weakly-connected
components), embedding geometry (local intrinsic dimensionality,
representational similarity of the int8-quantized space), TPC-H
consistency audits (order-total reconciliation, date-sanity census),
and signal-processing windows (Savitzky-Golay smoother, z-score peak
detector).

Every query follows the repo determinism recipes (SCALING.md):
integer/decimal folds end-to-end, per-term micro-quantization via the
``round(ln(x)*1e6)`` BIGINT rule where a transcendental must enter a
sum, and ONE final IEEE expression per emitted float — written
token-identically in the Spark and DuckDB dialects.

Reference parity: extends the indicator/stat families surveyed from
the reference's analysis pass (SURVEY.md §2 A-block; reference
src/analytics/binance_analysis.py rolling-stat loops) with the
remaining daily-bar, hypothesis-test, retrieval-eval and
data-consistency catalogue a switching user would expect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.session import (
    ensure_parallelism,
    load_tables,
)


# ----------------------------------------------------------- ti_hma

_HMA_N = 9
_HMA_HALF = 4  # floor(9 / 2); outer smoothing span = floor(sqrt(9)) = 3


def ti_hma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hull moving average (Hull 2005, public) on the daily closes:
    HMA_9 = WMA_3(2·WMA_4 − WMA_9) — the low-lag trend line that
    leads an SMA of the same span by construction.

    Determinism: closes are micro BIGINTs; each WMA keeps its exact
    integer numerator (weights k, k−1, …, 1) and the raw series
    2·WMA_4 − WMA_9 stays a single exact numerator over the common
    denominator 90 (= lcm machinery: 9·N4 − 2·N9); the outer WMA_3
    folds three of those BIGINTs, so the ONE IEEE division by
    540 000 000 (= 6·90·1e6) is the only float op.

    Scale shape: one shuffle to daily bars, then narrow lag chains on
    the per-type day sort — no joins."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    w = _wd()
    # one lag chain of cm serves both weighted sums
    bars = _daily_bars_df(spark, sf_dir).withColumns(
        {
            "__cnt": F.count("cm").over(w.rowsBetween(-(_HMA_N - 1), 0)),
            **{f"__cm{j}": F.lag("cm", j).over(w) for j in range(1, _HMA_N)},
        }
    )
    cnt9 = F.col("__cnt")
    cm_lags = [F.col("cm")] + [F.col(f"__cm{j}") for j in range(1, _HMA_N)]

    def wma_num(k):
        n = F.lit(0).cast("long")
        for j in range(k):
            n = n + F.coalesce(cm_lags[j], F.lit(0)) * F.lit(k - j)
        return n

    raw = F.lit(9) * wma_num(_HMA_HALF) - F.lit(2) * wma_num(_HMA_N)
    b = bars.select(
        "event_type",
        "day",
        F.when(cnt9 == _HMA_N, raw).alias("raw"),
    )
    b = b.withColumns(
        {
            "__raw1": F.lag("raw", 1).over(w),
            "__raw2": F.lag("raw", 2).over(w),
        }
    )
    raw1, raw2 = F.col("__raw1"), F.col("__raw2")
    hnum = F.lit(3) * F.col("raw") + F.lit(2) * raw1 + raw2
    ok = F.col("raw").isNotNull() & raw1.isNotNull() & raw2.isNotNull()
    return (
        b.select(
            "event_type",
            "day",
            F.when(ok, F.round(hnum / F.lit(540_000_000.0), 6) + F.lit(0.0))
            .alias("hma9"),
        )
        .orderBy("event_type", "day")
    )


def _ti_hma_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    def wma_num(col, k):
        terms = []
        for j in range(k):
            lg = col if j == 0 else f"lag({col}, {j}) OVER d"
            terms.append(f"coalesce({lg}, 0) * {k - j}")
        return " + ".join(terms)

    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day,
    CASE WHEN COUNT(cm) OVER (d ROWS BETWEEN {_HMA_N - 1} PRECEDING
                              AND CURRENT ROW) = {_HMA_N}
         THEN 9 * ({wma_num("cm", _HMA_HALF)})
              - 2 * ({wma_num("cm", _HMA_N)}) END AS raw
  FROM bars
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, day,
  CASE WHEN raw IS NOT NULL AND lag(raw, 1) OVER d IS NOT NULL
            AND lag(raw, 2) OVER d IS NOT NULL
       THEN round((3 * raw + 2 * lag(raw, 1) OVER d
                   + lag(raw, 2) OVER d) / 540000000.0, 6) + 0.0
  END AS hma9
FROM b
WINDOW d AS ({_WD_SQL})
ORDER BY event_type, day
"""


# ---------------------------------------------------------- ti_vwma

_VWMA_N = 10


def ti_vwma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted moving average over the trailing 10 daily bars:
    VWMA = Σ(close·vol)/Σvol — the trend line that discounts thin
    days, quoted next to the SMA it diverges from on volume spikes.

    Determinism: close·vol products and the volume sum fold as exact
    DECIMAL(38,0); ONE IEEE division (by Σvol·1e6 to undo the micro
    scale), masked until 10 bars exist and Σvol > 0.

    Scale shape: the shared daily-bar shuffle plus one frame pass."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    fr = _wd().rowsBetween(-(_VWMA_N - 1), 0)
    d = "decimal(38,0)"
    bars = bars.withColumns(
        {
            "__num": F.sum((F.col("cm").cast(d) * F.col("vol").cast(d))).over(fr),
            "__den": F.sum(F.col("vol").cast(d)).over(fr),
            "__n": F.count("cm").over(fr),
        }
    )
    num, den, n = F.col("__num"), F.col("__den"), F.col("__n")
    ok = (n == _VWMA_N) & (den > 0)
    return (
        bars.select(
            "event_type",
            "day",
            F.when(
                ok,
                F.round(
                    num.cast("double") / (den.cast("double") * F.lit(1e6)), 6
                )
                + F.lit(0.0),
            ).alias("vwma10"),
        )
        .orderBy("event_type", "day")
    )


def _ti_vwma_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    fr = f"(d ROWS BETWEEN {_VWMA_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, s AS (
  SELECT event_type, day,
    SUM(CAST(cm AS DECIMAL(38,0)) * CAST(vol AS DECIMAL(38,0)))
      OVER {fr} AS num,
    SUM(CAST(vol AS DECIMAL(38,0))) OVER {fr} AS den,
    COUNT(cm) OVER {fr} AS n
  FROM bars
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, day,
  CASE WHEN n = {_VWMA_N} AND den > 0 THEN
    round(CAST(num AS DOUBLE) / (CAST(den AS DOUBLE) * 1e6), 6) + 0.0
  END AS vwma10
FROM s
ORDER BY event_type, day
"""


# ----------------------------------------------------- ti_stoch_rsi

_SRSI_N = 14


def ti_stoch_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic RSI (Chande & Kroll 1994, public) on the daily
    closes: Cutler's RSI-14 of the close diffs, then the 14-bar
    stochastic normalization %K = 100·(RSI − min)/(max − min) — the
    bounded momentum-of-momentum oscillator.

    Determinism: daily-close diffs are exact BIGINT micro deltas, so
    the gain/loss sums are exact integers and RSI is ONE IEEE
    division rounded to 6 dp; the stochastic stage reads only that
    6-dp column (min/max are order-free), ONE further IEEE expression.

    Scale shape: two frame passes on the same per-type day sort."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    d = F.col("cm") - F.lag("cm", 1).over(w)
    fr = w.rowsBetween(-(_SRSI_N - 1), 0)
    b = bars.select("event_type", "day", d.alias("d"))
    b = b.withColumns(
        {
            "__sg": F.sum(F.greatest(F.col("d"), F.lit(0))).over(fr),
            "__sl": F.sum(F.greatest(-F.col("d"), F.lit(0))).over(fr),
            "__n": F.count("d").over(fr),
        }
    )
    sg, sl, n = F.col("__sg"), F.col("__sl"), F.col("__n")
    rsi = F.when(
        (n >= _SRSI_N) & (sg + sl > 0),
        F.round(F.lit(100.0) * sg / (sg + sl), 6),
    )
    b = b.select("event_type", "day", rsi.alias("rsi"))
    b = b.withColumns(
        {
            "__lo": F.min("rsi").over(fr),
            "__hi": F.max("rsi").over(fr),
            "__nr": F.count("rsi").over(fr),
        }
    )
    lo, hi, nr = F.col("__lo"), F.col("__hi"), F.col("__nr")
    k = F.when(
        (nr >= _SRSI_N) & (hi > lo),
        F.round(F.lit(100.0) * (F.col("rsi") - lo) / (hi - lo), 6)
        + F.lit(0.0),
    )
    return (
        b.select("event_type", "day", F.round("rsi", 6).alias("rsi14"),
                 k.alias("stoch_rsi"))
        .orderBy("event_type", "day")
    )


def _ti_stoch_rsi_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    fr = f"(d ROWS BETWEEN {_SRSI_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, diffs AS (
  SELECT event_type, day, cm - lag(cm, 1) OVER d AS df
  FROM bars
  WINDOW d AS ({_WD_SQL})
), r AS (
  SELECT event_type, day,
    CASE WHEN COUNT(df) OVER {fr} >= {_SRSI_N}
          AND SUM(greatest(df, 0)) OVER {fr}
              + SUM(greatest(-df, 0)) OVER {fr} > 0
         THEN round(100.0 * SUM(greatest(df, 0)) OVER {fr}
                    / (SUM(greatest(df, 0)) OVER {fr}
                       + SUM(greatest(-df, 0)) OVER {fr}), 6) END AS rsi
  FROM diffs
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, day, round(rsi, 6) AS rsi14,
  CASE WHEN COUNT(rsi) OVER {fr} >= {_SRSI_N}
        AND MAX(rsi) OVER {fr} > MIN(rsi) OVER {fr}
       THEN round(100.0 * (rsi - MIN(rsi) OVER {fr})
                  / (MAX(rsi) OVER {fr} - MIN(rsi) OVER {fr}), 6) + 0.0
  END AS stoch_rsi
FROM r
WINDOW d AS ({_WD_SQL})
ORDER BY event_type, day
"""


# --------------------------------------------------- ti_elder_ray

_ER_ALPHA = 2.0 / 14.0
_ER_LAGS = 24


def ti_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder-Ray index (Elder 1993, public) on the daily bars: bull
    power = high − EMA13(close), bear power = low − EMA13(close) —
    the buying/selling-pressure decomposition around the trend EMA.

    Determinism: close/high/low enter as exact micro-int÷1e6 doubles
    (identical IEEE divisions both engines); the EMA13 is the shared
    truncated adjust=True closed form (weights as common Python
    literals, no libm pow), rounded to 6 dp BEFORE the subtraction so
    bull/bear are each ONE IEEE expression over reproducible inputs.

    Scale shape: one lag chain + two subtractions on the daily sort."""
    from kp_crypto_market_analytics_spark.operators.indicators import (
        truncated_ema,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumn(
        "close", F.col("cm") / F.lit(1e6)
    )
    b = truncated_ema(
        bars.select("event_type", "day", "hm", "lm", "close"),
        F.col("close"), _wd(), _ER_LAGS, {"ema13": _ER_ALPHA}, 6,
    )
    return (
        b.select(
            "event_type",
            "day",
            F.col("ema13"),
            (F.round(F.col("hm") / F.lit(1e6) - F.col("ema13"), 6)
             + F.lit(0.0)).alias("bull_power"),
            (F.round(F.col("lm") / F.lit(1e6) - F.col("ema13"), 6)
             + F.lit(0.0)).alias("bear_power"),
        )
        .orderBy("event_type", "day")
    )


def _ti_elder_ray_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_indicators import (
        _des_ema_sql,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    ema = _des_ema_sql("close", _ER_ALPHA, _ER_LAGS)
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day, hm, lm, cm / 1e6 AS close FROM bars
), e AS (
  SELECT event_type, day, hm, lm, round({ema}, 6) AS ema13
  FROM b
  WINDOW w AS ({_WD_SQL})
)
SELECT event_type, day, ema13,
  round(hm / 1e6 - ema13, 6) + 0.0 AS bull_power,
  round(lm / 1e6 - ema13, 6) + 0.0 AS bear_power
FROM e
ORDER BY event_type, day
"""


# ------------------------------------------------- ti_omega_ratio

def ti_omega_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omega ratio at threshold 0 (Keating & Shadwick 2002, public)
    per symbol from daily close-to-close log returns: Σ gains /
    Σ |losses| — the full-distribution gain/loss ratio that dominates
    Sharpe when returns are skewed.

    Determinism: returns quantize to nano-unit BIGINTs (the ti_sharpe
    rule), so the gain and loss sums are exact integers; Omega is ONE
    IEEE division, the gain/loss legs are exact-scale divisions.

    Scale shape: per-day close extraction + lag window + one
    map-side-combined agg to |symbols| rows."""
    from kp_crypto_market_analytics_spark.queries_r7 import _daily_closes

    t = load_tables(spark, sf_dir, ["events"])
    closes = _daily_closes(ensure_parallelism(t["events"]))
    w = Window.partitionBy("event_type").orderBy("day")
    rets = closes.withColumn(
        "r", F.log(F.col("close") / F.lag("close").over(w))
    ).where(F.col("r").isNotNull())
    ru = F.round(F.col("r") * F.lit(1e9), 0).cast("long")
    agg = rets.select("event_type", ru.alias("ru")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.greatest(F.col("ru"), F.lit(0))).alias("gain_u"),
        F.sum(F.greatest(-F.col("ru"), F.lit(0))).alias("loss_u"),
    )
    ok = F.col("loss_u") > 0
    return agg.select(
        "event_type",
        "n_days",
        F.round(F.col("gain_u") / F.lit(1e9), 6).alias("sum_gains"),
        F.round(F.col("loss_u") / F.lit(1e9), 6).alias("sum_losses"),
        F.when(
            ok,
            F.round(
                F.col("gain_u").cast("double") / F.col("loss_u"), 6
            )
            + F.lit(0.0),
        ).alias("omega"),
    ).orderBy("event_type")


def _ti_omega_ratio_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r7 import _CLOSES_SQL

    return f"""
WITH closes AS ({_CLOSES_SQL}),
rets AS (
  SELECT event_type,
    ln(close / lag(close) OVER (PARTITION BY event_type ORDER BY day))
      AS r
  FROM closes
), u AS (
  SELECT event_type, CAST(round(r * 1000000000.0, 0) AS BIGINT) AS ru
  FROM rets WHERE r IS NOT NULL
), agg AS (
  SELECT event_type, COUNT(*) AS n,
    CAST(SUM(greatest(ru, 0)) AS BIGINT) AS gain_u,
    CAST(SUM(greatest(-ru, 0)) AS BIGINT) AS loss_u
  FROM u GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  round(gain_u / 1e9, 6) AS sum_gains,
  round(loss_u / 1e9, 6) AS sum_losses,
  CASE WHEN loss_u > 0
       THEN round(CAST(gain_u AS DOUBLE) / loss_u, 6) + 0.0 END AS omega
FROM agg ORDER BY event_type
"""


# ---------------------------------------------------- ti_treynor

_TREYNOR_ANN = 365.0


def ti_treynor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Treynor ratio per symbol (Treynor 1965, public):
    mean daily log return over CAPM beta vs the densest series — the
    systematic-risk-adjusted twin of ti_sharpe, sharing ti_beta's
    benchmark definition.

    Determinism: the ti_beta recipe verbatim — micro-BIGINT returns,
    exact integer moment sums; Treynor composes mean/beta into ONE
    IEEE expression: sx·(nΣyy−(Σy)²) / (1e6·n·(nΣxy−ΣxΣy)) · 365.

    Scale shape: one daily-close agg, one lag window, one broadcast
    benchmark join, one moment agg to |symbols| rows."""
    from kp_crypto_market_analytics_spark.queries_r8 import _BETA_BENCH

    t = load_tables(spark, sf_dir, ["events"])
    rn = F.row_number().over(
        Window.partitionBy("event_type", F.to_date("ts")).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
    )
    closes = (
        t["events"]
        .withColumn("__rn", rn)
        .where((F.col("__rn") == 1) & (F.col("value") > 0))
        .select(
            "event_type", F.to_date("ts").alias("day"),
            F.col("value").alias("close"),
        )
    )
    wd = Window.partitionBy("event_type").orderBy("day")
    rets = (
        closes.withColumn("prev", F.lag("close").over(wd))
        .where(F.col("prev") > 0)
        .select(
            "event_type",
            "day",
            F.round(
                F.log(F.col("close") / F.col("prev")) * F.lit(1_000_000.0), 0
            )
            .cast("long")
            .alias("rm"),
        )
    )
    bench = rets.where(F.col("event_type") == _BETA_BENCH).select(
        "day", F.col("rm").alias("bm")
    )
    m = rets.join(F.broadcast(bench), "day").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rm").alias("sx"),
        F.sum("bm").alias("sy"),
        F.sum(F.col("bm") * F.col("bm")).alias("syy"),
        F.sum(F.col("rm") * F.col("bm")).alias("sxy"),
    )
    n = F.col("n")
    cov_n = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_b = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    beta = cov_n / var_b
    treynor = (
        F.col("sx").cast("double")
        * var_b
        / (F.lit(1e6) * n * cov_n)
        * F.lit(_TREYNOR_ANN)
    )
    ok_b = (n > 1) & (var_b > 0)
    ok_t = ok_b & (cov_n != 0)
    return m.select(
        "event_type",
        n.cast("long").alias("n_days"),
        F.when(ok_b, F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        F.when(ok_t, F.round(treynor, 6) + F.lit(0.0)).alias("treynor_ann"),
    ).orderBy("event_type")


def _ti_treynor_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r8 import _BETA_BENCH

    return f"""
WITH closes AS (
  SELECT event_type, day, close FROM (
    SELECT event_type, CAST(ts AS DATE) AS day, value AS close,
      row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                         ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1 AND close > 0
), rets AS (
  SELECT event_type, day,
    CAST(round(ln(close / prev) * 1000000.0, 0) AS BIGINT) AS rm
  FROM (
    SELECT event_type, day, close,
      lag(close) OVER (PARTITION BY event_type ORDER BY day) AS prev
    FROM closes
  ) WHERE prev > 0
), bench AS (
  SELECT day, rm AS bm FROM rets WHERE event_type = '{_BETA_BENCH}'
), m AS (
  SELECT r.event_type, COUNT(*) AS n,
    SUM(rm) AS sx, SUM(bm) AS sy,
    SUM(bm * bm) AS syy, SUM(rm * bm) AS sxy
  FROM rets r JOIN bench USING (day) GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 1 AND CAST(n * syy - sy * sy AS DOUBLE) > 0 THEN
    round(CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * syy - sy * sy AS DOUBLE), 6) + 0.0 END AS beta,
  CASE WHEN n > 1 AND CAST(n * syy - sy * sy AS DOUBLE) > 0
        AND CAST(n * sxy - sx * sy AS DOUBLE) <> 0 THEN
    round(CAST(sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)
        / (1e6 * n * CAST(n * sxy - sx * sy AS DOUBLE))
        * {_TREYNOR_ANN!r}, 6) + 0.0 END AS treynor_ann
FROM m ORDER BY event_type
"""


# ------------------------------------------------ ti_dd_duration

def ti_dd_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown-duration table per symbol: days spent below the
    running close peak (time-under-water) and the deepest drawdown —
    the recovery-time half of the ti_drawdown story (Magdon-Ismail &
    Atiya 2004, public).

    Determinism: closes are micro BIGINTs; the running peak and the
    last-peak day are order-free window maxima; durations are exact
    date arithmetic; the depth is ONE IEEE division of exact integers
    per row, max-folded after rounding.

    Scale shape: calendar-bounded windows on the daily frame, one
    final |symbols|-row agg."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    wc = _wd().rowsBetween(Window.unboundedPreceding, 0)
    peak = F.max("cm").over(wc)
    b = bars.select("event_type", "day", "cm", peak.alias("peak"))
    peak_day = F.max(
        F.when(F.col("cm") == F.col("peak"), F.col("day"))
    ).over(wc)
    b = b.select(
        "event_type",
        "day",
        F.datediff(F.col("day"), peak_day).alias("dur"),
        F.round(
            (F.col("peak") - F.col("cm")).cast("double") / F.col("peak"), 6
        ).alias("dd"),
    )
    return b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("dur").cast("long").alias("max_underwater_days"),
        (F.max("dd") + F.lit(0.0)).alias("max_drawdown"),
    ).orderBy("event_type")


def _ti_dd_duration_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    wc = f"(d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, p AS (
  SELECT event_type, day, cm, MAX(cm) OVER {wc} AS peak
  FROM bars
  WINDOW d AS ({_WD_SQL})
), q AS (
  SELECT event_type, day,
    date_diff('day',
      MAX(CASE WHEN cm = peak THEN day END) OVER {wc}, day) AS dur,
    round(CAST(peak - cm AS DOUBLE) / peak, 6) AS dd
  FROM p
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
  CAST(MAX(dur) AS BIGINT) AS max_underwater_days,
  MAX(dd) + 0.0 AS max_drawdown
FROM q GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------------ a_wasserstein_1d

def a_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth-mover) distance between the click and
    view daily-total distributions (Vaserstein 1969, public): W₁ =
    ∫|F_A − F_B| dx over the merged support — the distribution-shift
    metric that, unlike KS, weighs HOW FAR mass moved, the standard
    drift score next to dq_drift_psi.

    Determinism: daily totals are exact micro BIGINTs; on the merged
    sorted support the piecewise-constant |F_A·m·n − F_B·m·n| numerator
    is |cumA·m − cumB·n| (exact integers), each segment contributes
    numerator·Δx as DECIMAL(38,0); ONE IEEE division by n·m·1e6.

    Scale shape: the daily-cells agg then a |days|-row window — the
    100 TB path range-partitions the support like the
    range_partitioned_rank machinery."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
        _daily_cells_df,
    )

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    )
    pts = cells.groupBy("cell").agg(
        F.sum((F.col("event_type") == _PAIR_A).cast("long")).alias("ca"),
        F.sum((F.col("event_type") == _PAIR_B).cast("long")).alias("cb"),
    )
    w = Window.orderBy("cell")
    d = "decimal(38,0)"
    pts = pts.select(
        "cell",
        F.sum("ca").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cuma"),
        F.sum("cb").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cumb"),
        F.lead("cell").over(w).alias("nxt"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pts = pts.withColumns(
        {"n_tot": F.max("cuma").over(wall), "m_tot": F.max("cumb").over(wall)}
    ).select(
        "n_tot",
        "m_tot",
        F.when(
            F.col("nxt").isNotNull(),
            F.abs(
                F.col("cuma").cast(d) * F.col("m_tot")
                - F.col("cumb").cast(d) * F.col("n_tot")
            )
            * (F.col("nxt") - F.col("cell")).cast(d),
        ).alias("term"),
    )
    tot = pts.agg(
        F.max("n_tot").alias("n"),
        F.max("m_tot").alias("m"),
        F.sum("term").alias("num"),
    )
    ok = (F.col("n") > 0) & (F.col("m") > 0)
    return tot.select(
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        F.when(
            ok,
            F.round(
                F.col("num").cast("double")
                / (F.col("n").cast("double") * F.col("m") * F.lit(1e6)),
                6,
            )
            + F.lit(0.0),
        ).alias("wasserstein_1"),
    )


def _a_wasserstein_1d_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH {_CELLS_CTE}, pts AS (
  SELECT cell,
    SUM(CASE WHEN event_type = '{_PAIR_A}' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN event_type = '{_PAIR_B}' THEN 1 ELSE 0 END) AS cb
  FROM cells WHERE event_type IN ('{_PAIR_A}', '{_PAIR_B}')
  GROUP BY cell
), c AS (
  SELECT cell,
    SUM(ca) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS cuma,
    SUM(cb) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS cumb,
    lead(cell) OVER (ORDER BY cell) AS nxt
  FROM pts
), tot AS (
  SELECT MAX(cuma) AS n, MAX(cumb) AS m,
    SUM(CASE WHEN nxt IS NOT NULL THEN
      abs(CAST(cuma AS DECIMAL(38,0)) * (SELECT MAX(cumb) FROM c)
        - CAST(cumb AS DECIMAL(38,0)) * (SELECT MAX(cuma) FROM c))
      * CAST(nxt - cell AS DECIMAL(38,0)) END) AS num
  FROM c
)
SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
  CASE WHEN n > 0 AND m > 0 THEN
    round(CAST(num AS DOUBLE)
          / (CAST(n AS DOUBLE) * m * 1e6), 6) + 0.0
  END AS wasserstein_1
FROM tot
"""


# ---------------------------------------------------------- a_kuiper

def a_kuiper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kuiper test between the click and view daily-total
    distributions (Kuiper 1960, public): V = D⁺ + D⁻ with D⁺ =
    max(F_A − F_B), D⁻ = max(F_B − F_A) — the KS variant that is
    equally sensitive in both tails (and on circular data).

    Determinism: on the merged support the CDF differences keep exact
    integer numerators cumA·m − cumB·n; both maxima fold as BIGINTs
    and V is ONE IEEE division by n·m.

    Scale shape: the daily-cells agg then a |support|-row window."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
        _daily_cells_df,
    )

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    )
    pts = cells.groupBy("cell").agg(
        F.sum((F.col("event_type") == _PAIR_A).cast("long")).alias("ca"),
        F.sum((F.col("event_type") == _PAIR_B).cast("long")).alias("cb"),
    )
    w = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pts = pts.select(
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    ).select(
        "cuma",
        "cumb",
        F.max("cuma").over(wall).alias("n"),
        F.max("cumb").over(wall).alias("m"),
    )
    g = pts.agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.max(
            F.col("cuma") * F.col("m") - F.col("cumb") * F.col("n")
        ).alias("dplus_num"),
        F.max(
            F.col("cumb") * F.col("n") - F.col("cuma") * F.col("m")
        ).alias("dminus_num"),
    )
    ok = (F.col("n") > 0) & (F.col("m") > 0)
    nm = F.col("n").cast("double") * F.col("m")
    dp = F.greatest(F.col("dplus_num"), F.lit(0))
    dm = F.greatest(F.col("dminus_num"), F.lit(0))
    return g.select(
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        F.when(ok, F.round(dp / nm, 6) + F.lit(0.0)).alias("d_plus"),
        F.when(ok, F.round(dm / nm, 6) + F.lit(0.0)).alias("d_minus"),
        F.when(ok, F.round((dp + dm) / nm, 6) + F.lit(0.0)).alias(
            "kuiper_v"
        ),
    )


def _a_kuiper_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH {_CELLS_CTE}, pts AS (
  SELECT cell,
    SUM(CASE WHEN event_type = '{_PAIR_A}' THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN event_type = '{_PAIR_B}' THEN 1 ELSE 0 END) AS cb
  FROM cells WHERE event_type IN ('{_PAIR_A}', '{_PAIR_B}')
  GROUP BY cell
), c AS (
  SELECT
    SUM(ca) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS cuma,
    SUM(cb) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS cumb
  FROM pts
), t AS (
  SELECT cuma, cumb,
    MAX(cuma) OVER () AS n, MAX(cumb) OVER () AS m
  FROM c
), g AS (
  SELECT MAX(n) AS n, MAX(m) AS m,
    MAX(cuma * m - cumb * n) AS dplus_num,
    MAX(cumb * n - cuma * m) AS dminus_num
  FROM t
)
SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
  CASE WHEN n > 0 AND m > 0 THEN
    round(greatest(dplus_num, 0) / (CAST(n AS DOUBLE) * m), 6) + 0.0
  END AS d_plus,
  CASE WHEN n > 0 AND m > 0 THEN
    round(greatest(dminus_num, 0) / (CAST(n AS DOUBLE) * m), 6) + 0.0
  END AS d_minus,
  CASE WHEN n > 0 AND m > 0 THEN
    round((greatest(dplus_num, 0) + greatest(dminus_num, 0))
          / (CAST(n AS DOUBLE) * m), 6) + 0.0
  END AS kuiper_v
FROM g
"""


# -------------------------------------------------- a_energy_distance

def a_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the click and view daily-total
    distributions (Székely & Rizzo 2004, public): E = 2·E|X−Y| −
    E|X−X′| − E|Y−Y′| — the metric two-sample distance that is zero
    iff the distributions coincide, the kernel-free cousin of MMD.

    Determinism: daily totals are micro BIGINTs; all three pairwise
    |·| sums fold as DECIMAL(38,0) over the bounded |days|² pair
    frames; ONE final IEEE expression combines the three exact
    integer ratios.

    Scale shape: the pair frames are |days|×|days| (calendar-bounded,
    ~8k pairs at any SF) — the tick table never self-joins."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
        _daily_cells_df,
    )

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    )
    a = cells.where(F.col("event_type") == _PAIR_A).select(
        F.col("cell").alias("x")
    )
    b = cells.where(F.col("event_type") == _PAIR_B).select(
        F.col("cell").alias("y")
    )
    d = "decimal(38,0)"

    def pair_sum(l, r, lc, rc, out):
        return (
            l.crossJoin(F.broadcast(r))
            .select(F.abs(F.col(lc) - F.col(rc)).cast(d).alias("t"))
            .agg(F.sum("t").alias(out))
        )

    sab = pair_sum(a, b, "x", "y", "sab")
    saa = pair_sum(a, a.select(F.col("x").alias("x2")), "x", "x2", "saa")
    sbb = pair_sum(b, b.select(F.col("y").alias("y2")), "y", "y2", "sbb")
    na = a.agg(F.count(F.lit(1)).alias("n"))
    nb = b.agg(F.count(F.lit(1)).alias("m"))
    g = sab.crossJoin(saa).crossJoin(sbb).crossJoin(na).crossJoin(nb)
    n = F.col("n").cast("double")
    m = F.col("m").cast("double")
    e = (
        F.lit(2.0) * F.col("sab").cast("double") / (n * m)
        - F.col("saa").cast("double") / (n * n)
        - F.col("sbb").cast("double") / (m * m)
    ) / F.lit(1e6)
    ok = (F.col("n") > 0) & (F.col("m") > 0)
    return g.select(
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        F.when(ok, F.round(e, 6) + F.lit(0.0)).alias("energy_distance"),
    )


def _a_energy_distance_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH {_CELLS_CTE}, a AS (
  SELECT cell AS x FROM cells WHERE event_type = '{_PAIR_A}'
), b AS (
  SELECT cell AS y FROM cells WHERE event_type = '{_PAIR_B}'
), s AS (
  SELECT
    (SELECT SUM(CAST(abs(a.x - b.y) AS DECIMAL(38,0))) FROM a, b) AS sab,
    (SELECT SUM(CAST(abs(l.x - r.x) AS DECIMAL(38,0))) FROM a l, a r) AS saa,
    (SELECT SUM(CAST(abs(l.y - r.y) AS DECIMAL(38,0))) FROM b l, b r) AS sbb,
    (SELECT COUNT(*) FROM a) AS n,
    (SELECT COUNT(*) FROM b) AS m
)
SELECT CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
  CASE WHEN n > 0 AND m > 0 THEN
    round((2.0 * CAST(sab AS DOUBLE) / (CAST(n AS DOUBLE) * m)
           - CAST(saa AS DOUBLE) / (CAST(n AS DOUBLE) * n)
           - CAST(sbb AS DOUBLE) / (CAST(m AS DOUBLE) * m)) / 1e6, 6)
    + 0.0
  END AS energy_distance
FROM s
"""


# ------------------------------------------------- a_ansari_bradley

def a_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test between the click and view daily
    totals (Ansari & Bradley 1960, public): rank the pooled sample,
    score each observation min(rank, N+1−rank) (small scores at the
    extremes), AB = Σ scores in the click group — tests equal
    dispersion without assuming equal means are known.

    Determinism: the pooled order is the TOTAL order (cell, day,
    event_type) so ranks are reproducible (cells are micro sums —
    exact ties are effectively impossible, and any would break
    deterministically); AB and its null moments are exact integers
    (parity-split formulas), z is ONE IEEE expression.

    Scale shape: range-partitioned global rank (no single-partition
    sort), then one scalar agg."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
        _daily_cells_df,
    )

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    )
    ranked = range_partitioned_rank(
        cells, ["cell", "day", "event_type"], out_col="rn"
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = ranked.select(
        "event_type",
        "rn",
        F.max("rn").over(wall).alias("nn"),
    )
    score = F.least(F.col("rn"), F.col("nn") + 1 - F.col("rn"))
    g = ranked.agg(
        F.max("nn").alias("nn"),
        F.sum((F.col("event_type") == _PAIR_A).cast("long")).alias("n"),
        F.sum(
            F.when(F.col("event_type") == _PAIR_A, score).otherwise(F.lit(0))
        ).alias("ab"),
    )
    nn, n, ab = F.col("nn"), F.col("n"), F.col("ab")
    m = nn - n
    even = nn % 2 == 0
    mean = F.when(even, n * (nn + 2) / F.lit(4.0)).otherwise(
        n * (nn + 1) * (nn + 1) / (F.lit(4.0) * nn)
    )
    var = F.when(
        even,
        (n.cast("double") * m * (nn + 2) * (nn - 2))
        / (F.lit(48.0) * (nn - 1)),
    ).otherwise(
        (n.cast("double") * m * (nn + 1) * (F.lit(3) + nn * nn))
        / (F.lit(48.0) * nn * nn)
    )
    ok = (n > 0) & (m > 0) & (var > 0)
    return g.select(
        nn.cast("long").alias("n_total"),
        n.cast("long").alias("n_a"),
        ab.cast("long").alias("ab_stat"),
        F.when(
            ok, F.round((ab - mean) / F.sqrt(var), 6) + F.lit(0.0)
        ).alias("z"),
    )


def _a_ansari_bradley_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH {_CELLS_CTE}, pooled AS (
  SELECT event_type,
    row_number() OVER (ORDER BY cell, day, event_type) AS rn,
    COUNT(*) OVER () AS nn
  FROM cells WHERE event_type IN ('{_PAIR_A}', '{_PAIR_B}')
), g AS (
  SELECT MAX(nn) AS nn,
    SUM(CASE WHEN event_type = '{_PAIR_A}' THEN 1 ELSE 0 END) AS n,
    SUM(CASE WHEN event_type = '{_PAIR_A}'
        THEN least(rn, nn + 1 - rn) ELSE 0 END) AS ab
  FROM pooled
)
SELECT CAST(nn AS BIGINT) AS n_total, CAST(n AS BIGINT) AS n_a,
  CAST(ab AS BIGINT) AS ab_stat,
  CASE WHEN n > 0 AND nn - n > 0 AND
    (CASE WHEN nn % 2 = 0
      THEN (CAST(n AS DOUBLE) * (nn - n) * (nn + 2) * (nn - 2))
           / (48.0 * (nn - 1))
      ELSE (CAST(n AS DOUBLE) * (nn - n) * (nn + 1) * (3 + nn * nn))
           / (48.0 * nn * nn) END) > 0
  THEN round(
    (ab - CASE WHEN nn % 2 = 0 THEN n * (nn + 2) / 4.0
          ELSE n * (nn + 1) * (nn + 1) / (4.0 * nn) END)
    / sqrt(CASE WHEN nn % 2 = 0
      THEN (CAST(n AS DOUBLE) * (nn - n) * (nn + 2) * (nn - 2))
           / (48.0 * (nn - 1))
      ELSE (CAST(n AS DOUBLE) * (nn - n) * (nn + 1) * (3 + nn * nn))
           / (48.0 * nn * nn) END), 6) + 0.0
  END AS z
FROM g
"""


# ----------------------------------------------------------- a_pr_auc

def a_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve by
    the step rule) of the quality score as an English-document
    classifier — the imbalanced-data companion to a_auc_roc: AP =
    (1/n⁺)·Σ_{k: rel} P@k over the score-descending ranking.

    Determinism: the ranking is the TOTAL order (pm DESC, doc_id) via
    the range-partitioned rank; each P@k = cum⁺/k quantizes to an
    exact half-away micro BIGINT before summing (float P@k sums would
    be order-dependent); ONE IEEE division by n⁺·1e6.

    Scale shape: one range-partitioned rank + cumulative sum, one
    scalar agg."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )
    from kp_crypto_market_analytics_spark.queries_r10 import _qs_label_df
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away

    s = _qs_label_df(spark, sf_dir)
    ranked = range_partitioned_rank(
        s,
        [F.col("pm").desc(), F.col("doc_id").asc()],
        out_col="k",
        sum_col=F.col("y").cast("long"),
        cumsum_out="cpos",
    )
    d = "decimal(38,0)"
    term = F.when(
        F.col("y"),
        _half_away(
            (F.col("cpos").cast(d) * F.lit(1_000_000).cast(d)),
            F.col("k").cast(d),
        ),
    ).otherwise(F.lit(0))
    g = ranked.agg(
        F.sum(F.col("y").cast("long")).alias("np"),
        F.count(F.lit(1)).alias("n"),
        F.sum(term).alias("ap_u"),
    )
    ok = F.col("np") > 0
    return g.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("np").cast("long").alias("n_pos"),
        F.when(
            ok,
            F.round(
                F.col("ap_u").cast("double")
                / (F.col("np").cast("double") * F.lit(1e6)),
                6,
            )
            + F.lit(0.0),
        ).alias("avg_precision"),
    )


def _a_pr_auc_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r10 import _qs_label_cte
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    term = _sql_half_away("cpos * 1000000", "k")
    return f"""
WITH {_qs_label_cte()}, ranked AS (
  SELECT y,
    row_number() OVER (ORDER BY pm DESC, doc_id) AS k,
    SUM(CASE WHEN y THEN 1 ELSE 0 END)
      OVER (ORDER BY pm DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpos
  FROM scored
), g AS (
  SELECT SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np, COUNT(*) AS n,
    SUM(CASE WHEN y THEN {term} ELSE 0 END) AS ap_u
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_docs, CAST(np AS BIGINT) AS n_pos,
  CASE WHEN np > 0 THEN
    round(CAST(ap_u AS DOUBLE) / (CAST(np AS DOUBLE) * 1e6), 6) + 0.0
  END AS avg_precision
FROM g
"""


# ----------------------------------------------------- a_matthews_corr

def a_matthews_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (and precision/recall/F1) of
    the mean-thresholded quality score as an English-document
    classifier (Matthews 1975, public) — the single-number confusion
    summary robust to class imbalance.

    Determinism: the threshold test pm·n > Σpm compares exact
    integers (no mean division); TP/FP/TN/FN are exact counts; MCC's
    numerator folds as DECIMAL(38,0) and the denominator is ONE IEEE
    sqrt; precision/recall/F1 are single divisions.

    Scale shape: one scalar agg broadcast back over the scan, one
    confusion agg."""
    from kp_crypto_market_analytics_spark.queries_r10 import _qs_label_df

    s = _qs_label_df(spark, sf_dir)
    tot = s.agg(
        F.count(F.lit(1)).alias("n_tot"), F.sum("pm").alias("sum_pm")
    )
    j = s.crossJoin(F.broadcast(tot))
    pred = F.col("pm") * F.col("n_tot") > F.col("sum_pm")
    g = j.agg(
        F.sum((pred & F.col("y")).cast("long")).alias("tp"),
        F.sum((pred & ~F.col("y")).cast("long")).alias("fp"),
        F.sum((~pred & F.col("y")).cast("long")).alias("fn"),
        F.sum((~pred & ~F.col("y")).cast("long")).alias("tn"),
    )
    d = "decimal(38,0)"
    tp, fp, fn, tn = (F.col(c).cast(d) for c in ("tp", "fp", "fn", "tn"))
    num = (tp * tn - fp * fn).cast("double")
    den = (
        (tp + fp).cast("double")
        * (tp + fn).cast("double")
        * (tn + fp).cast("double")
        * (tn + fn).cast("double")
    )
    prec_ok = (F.col("tp") + F.col("fp")) > 0
    rec_ok = (F.col("tp") + F.col("fn")) > 0
    f1_ok = (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")) > 0
    return g.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.when(
            prec_ok,
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp")), 6
            )
            + F.lit(0.0),
        ).alias("precision"),
        F.when(
            rec_ok,
            F.round(
                F.col("tp").cast("double") / (F.col("tp") + F.col("fn")), 6
            )
            + F.lit(0.0),
        ).alias("recall"),
        F.when(
            f1_ok,
            F.round(
                F.lit(2.0)
                * F.col("tp")
                / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")),
                6,
            )
            + F.lit(0.0),
        ).alias("f1"),
        F.when(
            den > 0, F.round(num / F.sqrt(den), 6) + F.lit(0.0)
        ).alias("mcc"),
    )


def _a_matthews_corr_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r10 import _qs_label_cte

    return f"""
WITH {_qs_label_cte()}, tot AS (
  SELECT COUNT(*) AS n_tot, SUM(pm) AS sum_pm FROM scored
), g AS (
  SELECT
    SUM(CASE WHEN pm * n_tot > sum_pm AND y THEN 1 ELSE 0 END) AS tp,
    SUM(CASE WHEN pm * n_tot > sum_pm AND NOT y THEN 1 ELSE 0 END) AS fp,
    SUM(CASE WHEN NOT (pm * n_tot > sum_pm) AND y THEN 1 ELSE 0 END) AS fn,
    SUM(CASE WHEN NOT (pm * n_tot > sum_pm) AND NOT y THEN 1 ELSE 0 END)
      AS tn
  FROM scored, tot
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
  CASE WHEN tp + fp > 0 THEN
    round(CAST(tp AS DOUBLE) / (tp + fp), 6) + 0.0 END AS precision,
  CASE WHEN tp + fn > 0 THEN
    round(CAST(tp AS DOUBLE) / (tp + fn), 6) + 0.0 END AS recall,
  CASE WHEN 2 * tp + fp + fn > 0 THEN
    round(2.0 * tp / (2 * tp + fp + fn), 6) + 0.0 END AS f1,
  CASE WHEN (CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
             * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) > 0
  THEN round(
    CAST(CAST(tp AS DECIMAL(38,0)) * CAST(tn AS DECIMAL(38,0))
         - CAST(fp AS DECIMAL(38,0)) * CAST(fn AS DECIMAL(38,0))
         AS DOUBLE)
    / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
           * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6) + 0.0
  END AS mcc
FROM g
"""


# ----------------------------------------------------------- a_log_loss

_LL_EPS_U = 1_000  # clip floor, micro units (p in [0.001, 0.999])


def a_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary cross-entropy (log-loss) of the quality score read as
    P(english), clipped to [0.001, 0.999] — the proper scoring rule
    next to a_brier_score, punishing confident mistakes.

    Determinism: the clipped probability is an exact micro-int ÷ 1e6
    double; each −ln term quantizes to a micro BIGINT (the repo's
    transcendental rule) so the fold is exact; ONE IEEE division by
    n·1e6.

    Scale shape: map-side expression + one scalar agg."""
    from kp_crypto_market_analytics_spark.queries_r10 import _qs_label_df

    s = _qs_label_df(spark, sf_dir)
    pu = F.least(
        F.greatest(F.col("pm"), F.lit(_LL_EPS_U)),
        F.lit(1_000_000 - _LL_EPS_U),
    )
    p = pu.cast("double") / F.lit(1e6)
    term = F.round(
        -F.log(F.when(F.col("y"), p).otherwise(F.lit(1.0) - p))
        * F.lit(1e6),
        0,
    ).cast("long")
    g = s.select(term.alias("t")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("t").alias("su")
    )
    return g.select(
        F.col("n").cast("long").alias("n_docs"),
        F.round(
            F.col("su").cast("double") / (F.col("n").cast("double") * F.lit(1e6)),
            6,
        ).alias("log_loss"),
    )


def _a_log_loss_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r10 import _qs_label_cte

    return f"""
WITH {_qs_label_cte()}, t AS (
  SELECT CAST(round(-ln(CASE WHEN y
      THEN least(greatest(pm, {_LL_EPS_U}), {1_000_000 - _LL_EPS_U}) / 1e6
      ELSE 1.0 - least(greatest(pm, {_LL_EPS_U}),
                       {1_000_000 - _LL_EPS_U}) / 1e6 END)
    * 1e6, 0) AS BIGINT) AS t
  FROM scored
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  round(CAST(SUM(t) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6)
    AS log_loss
FROM t
"""


# ----------------------------------------------------------- a_fdr_bh

_BH_Q = 0.10


def a_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (1995, public) over the
    24-hour family of two-sample KS tests (click vs view tick values
    within each hour of day): p-values from the asymptotic
    2·exp(−2·D²·nm/(n+m)), then the step-up rule at q = 0.10 — the
    multiple-testing discipline any per-stratum drift monitor needs.

    Determinism: per-hour KS numerators are exact integers
    (cumA·m − cumB·n over the merged per-hour support); each p is ONE
    IEEE exp expression rounded to 6 dp; BH ranks the 24 rounded
    p-values on a (p, hour) total order and the rejection frontier is
    an integer window max.

    Scale shape: everything partitions by hour (24-way); no global
    sort, one 24-row final pass."""
    t = load_tables(spark, sf_dir, ["events"])
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
    )

    e = ensure_parallelism(t["events"]).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    ).select(
        F.hour("ts").alias("hr"),
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
        (F.col("event_type") == _PAIR_A).alias("is_a"),
    )
    pts = e.groupBy("hr", "vm").agg(
        F.sum(F.col("is_a").cast("long")).alias("ca"),
        F.sum((~F.col("is_a")).cast("long")).alias("cb"),
    )
    w = Window.partitionBy("hr").orderBy("vm").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("hr")
    c = pts.select(
        "hr",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    ).select(
        "hr",
        "cuma",
        "cumb",
        F.max("cuma").over(wall).alias("n"),
        F.max("cumb").over(wall).alias("m"),
    )
    g = c.groupBy("hr").agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.max(F.abs(F.col("cuma") * F.col("m") - F.col("cumb") * F.col("n")))
        .alias("dnum"),
    )
    n, m = F.col("n").cast("double"), F.col("m").cast("double")
    dnum = F.col("dnum").cast("double")
    # D² · nm/(n+m) = (dnum/(n·m))² · n·m/(n+m)
    stat = (dnum / (n * m)) * (dnum / (n * m)) * (n * m / (n + m))
    p = F.round(
        F.least(F.lit(1.0), F.lit(2.0) * F.exp(F.lit(-2.0) * stat)), 6
    )
    g = g.select(
        "hr",
        F.col("n").cast("long").alias("n_a"),
        F.col("m").cast("long").alias("n_b"),
        F.round(dnum / (n * m), 6).alias("ks_d"),
        p.alias("p_value"),
    )
    wp = Window.orderBy("p_value", "hr")
    wall2 = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = g.select(
        "*",
        F.row_number().over(wp).alias("i"),
        F.count(F.lit(1)).over(wall2).alias("mm"),
    )
    thr = F.round(
        F.col("i").cast("double") * F.lit(_BH_Q) / F.col("mm"), 6
    )
    ranked = ranked.withColumn(
        "kmax",
        F.max(F.when(F.col("p_value") <= thr, F.col("i"))).over(wall2),
    )
    return ranked.select(
        "hr",
        "n_a",
        "n_b",
        (F.col("ks_d") + F.lit(0.0)).alias("ks_d"),
        (F.col("p_value") + F.lit(0.0)).alias("p_value"),
        (thr + F.lit(0.0)).alias("bh_threshold"),
        F.coalesce(F.col("i") <= F.col("kmax"), F.lit(False)).alias(
            "rejected"
        ),
    ).orderBy("hr")


def _a_fdr_bh_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH e AS (
  SELECT EXTRACT(hour FROM ts) AS hr,
    CAST(round(value * 1000000) AS BIGINT) AS vm,
    event_type = '{_PAIR_A}' AS is_a
  FROM events WHERE event_type IN ('{_PAIR_A}', '{_PAIR_B}')
), pts AS (
  SELECT hr, vm,
    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
  FROM e GROUP BY 1, 2
), c AS (
  SELECT hr,
    SUM(ca) OVER (PARTITION BY hr ORDER BY vm
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
    SUM(cb) OVER (PARTITION BY hr ORDER BY vm
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
  FROM pts
), c2 AS (
  SELECT hr, cuma, cumb,
    MAX(cuma) OVER (PARTITION BY hr) AS n,
    MAX(cumb) OVER (PARTITION BY hr) AS m
  FROM c
), g AS (
  SELECT hr, MAX(n) AS n, MAX(m) AS m,
    MAX(abs(cuma * m - cumb * n)) AS dnum
  FROM c2 GROUP BY hr
), pv AS (
  SELECT hr, CAST(n AS BIGINT) AS n_a, CAST(m AS BIGINT) AS n_b,
    round(CAST(dnum AS DOUBLE) / (CAST(n AS DOUBLE) * m), 6) AS ks_d,
    round(least(1.0, 2.0 * exp(-2.0
      * (CAST(dnum AS DOUBLE) / (CAST(n AS DOUBLE) * m))
      * (CAST(dnum AS DOUBLE) / (CAST(n AS DOUBLE) * m))
      * (CAST(n AS DOUBLE) * m / (CAST(n AS DOUBLE) + m)))), 6)
      AS p_value
  FROM g
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY p_value, hr) AS i,
    COUNT(*) OVER () AS mm
  FROM pv
), k AS (
  SELECT *,
    MAX(CASE WHEN p_value <=
        round(CAST(i AS DOUBLE) * {_BH_Q!r} / mm, 6)
      THEN i END) OVER () AS kmax
  FROM ranked
)
SELECT hr, n_a, n_b, ks_d + 0.0 AS ks_d, p_value + 0.0 AS p_value,
  round(CAST(i AS DOUBLE) * {_BH_Q!r} / mm, 6) + 0.0 AS bh_threshold,
  coalesce(i <= kmax, FALSE) AS rejected
FROM k ORDER BY hr
"""


# ----------------------------------------------------- a_cronbach_alpha

_CA_BANDS = 4  # four six-hour day-part "items"


def a_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (1951, public) of the four six-hour day-part
    activity totals as "items" scoring each day — the internal-
    consistency coefficient: do the day-parts move together enough to
    treat daily volume as one scale?

    Determinism: item scores are exact micro BIGINTs on the dense
    day×band grid (absent cells are true zero activity); every
    variance keeps the exact integer numerator n·Σx² − (Σx)² as
    DECIMAL(38,0) over the common denominator n², so alpha =
    k/(k−1)·(1 − Σᵢnumᵢ/num_total) is ONE IEEE expression.

    Scale shape: one (day, band) agg, a 4-way pivot-free group, two
    scalar folds."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        F.to_date("ts").alias("day"),
        (F.hour("ts") / F.lit(6)).cast("int").alias("band"),
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    days = e.select("day").distinct()
    bands = spark.range(_CA_BANDS).select(F.col("id").cast("int").alias("band"))
    grid = days.crossJoin(F.broadcast(bands))
    cells = e.groupBy("day", "band").agg(F.sum("vm").alias("x"))
    full = grid.join(cells, ["day", "band"], "left").select(
        "day", "band", F.coalesce("x", F.lit(0)).alias("x")
    )
    d = "decimal(38,0)"
    item = full.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d)).alias("sx"),
        F.sum(F.col("x").cast(d) * F.col("x").cast(d)).alias("sxx"),
    )
    item_num = item.select(
        "n",
        (F.col("n").cast(d) * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("vnum"),
    ).agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("vnum").alias("item_vnum"),
    )
    totals = full.groupBy("day").agg(F.sum("x").alias("tot"))
    tot_num = totals.agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum(F.col("tot").cast(d)).alias("st"),
        F.sum(F.col("tot").cast(d) * F.col("tot").cast(d)).alias("stt"),
    ).select(
        (
            F.col("n2").cast(d) * F.col("stt") - F.col("st") * F.col("st")
        ).alias("tot_vnum")
    )
    g = item_num.crossJoin(tot_num)
    k = F.col("k").cast("double")
    ok = (F.col("tot_vnum") > 0) & (F.col("k") > 1)
    alpha = (
        k
        / (k - F.lit(1.0))
        * (
            F.lit(1.0)
            - F.col("item_vnum").cast("double")
            / F.col("tot_vnum").cast("double")
        )
    )
    return g.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("n_items"),
        F.when(ok, F.round(alpha, 6) + F.lit(0.0)).alias("cronbach_alpha"),
    )


def _a_cronbach_alpha_sql() -> str:
    return f"""
WITH e AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(EXTRACT(hour FROM ts) // 6 AS INT) AS band,
    CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
), grid AS (
  SELECT day, band
  FROM (SELECT DISTINCT day FROM e), (SELECT UNNEST(range(4)) AS band)
), cells AS (
  SELECT day, band, SUM(vm) AS x FROM e GROUP BY 1, 2
), filled AS (
  SELECT g.day, g.band, coalesce(c.x, 0) AS x
  FROM grid g LEFT JOIN cells c ON g.day = c.day AND g.band = c.band
), item AS (
  SELECT band, COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
  FROM filled GROUP BY band
), inum AS (
  SELECT MAX(n) AS n, COUNT(*) AS k,
    SUM(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) AS item_vnum
  FROM item
), totals AS (
  SELECT day, SUM(x) AS tot FROM filled GROUP BY day
), tnum AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) * SUM(CAST(tot AS DECIMAL(38,0))
      * CAST(tot AS DECIMAL(38,0)))
    - SUM(CAST(tot AS DECIMAL(38,0))) * SUM(CAST(tot AS DECIMAL(38,0)))
    AS tot_vnum
  FROM totals
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS n_items,
  CASE WHEN tot_vnum > 0 AND k > 1 THEN
    round(CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0)
      * (1.0 - CAST(item_vnum AS DOUBLE) / CAST(tot_vnum AS DOUBLE)), 6)
    + 0.0
  END AS cronbach_alpha
FROM inum, tnum
"""


# -------------------------------------------------------------- a_icc

def a_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraclass correlation ICC(1) (one-way random effects; Shrout
    & Fleiss 1979, public) treating the event types as "raters"
    scoring each day's micro-value total — how much of the variance is
    between days rather than within them.

    Determinism: the day×type grid is dense (absent cells are zero
    activity); both ANOVA sums of squares keep exact DECIMAL(38,0)
    numerators A′ = n·ΣS² − (ΣS)² and B′ = k·Σx² − ΣS², and ICC =
    (A′(k−1) − B′(n−1)) / (A′(k−1) + B′(n−1)(k−1)) is ONE IEEE
    division of exact integers.

    Scale shape: one (day, type) agg, one |days|-row fold."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    days = e.select("day").distinct()
    types = e.select("event_type").distinct()
    grid = days.crossJoin(F.broadcast(types))
    cells = e.groupBy("day", "event_type").agg(F.sum("vm").alias("x"))
    full = grid.join(cells, ["day", "event_type"], "left").select(
        "day", "event_type", F.coalesce("x", F.lit(0)).alias("x")
    )
    d = "decimal(38,0)"
    per_day = full.groupBy("day").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("x").cast(d)).alias("s"),
        F.sum(F.col("x").cast(d) * F.col("x").cast(d)).alias("sxx"),
    )
    g = per_day.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("k").alias("k"),
        F.sum("s").alias("st"),
        F.sum(F.col("s") * F.col("s")).alias("ss2"),
        F.sum("sxx").alias("sxx"),
    )
    n, k = F.col("n").cast(d), F.col("k").cast(d)
    a = (n * F.col("ss2") - F.col("st") * F.col("st")) * (k - 1)
    b = (k * F.col("sxx") - F.col("ss2")) * (n - 1)
    den = (a + b * (k - 1)).cast("double")
    ok = (F.col("n") > 1) & (F.col("k") > 1) & (den != 0)
    return g.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("k").cast("long").alias("n_raters"),
        F.when(
            ok, F.round((a - b).cast("double") / den, 6) + F.lit(0.0)
        ).alias("icc1"),
    )


def _a_icc_sql() -> str:
    return """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
    CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
), grid AS (
  SELECT day, event_type
  FROM (SELECT DISTINCT day FROM e), (SELECT DISTINCT event_type FROM e)
), cells AS (
  SELECT day, event_type, SUM(vm) AS x FROM e GROUP BY 1, 2
), filled AS (
  SELECT g.day, g.event_type, coalesce(c.x, 0) AS x
  FROM grid g LEFT JOIN cells c
    ON g.day = c.day AND g.event_type = c.event_type
), per_day AS (
  SELECT day, COUNT(*) AS k, SUM(CAST(x AS DECIMAL(38,0))) AS s,
    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx
  FROM filled GROUP BY day
), g AS (
  SELECT COUNT(*) AS n, MAX(k) AS k, SUM(s) AS st,
    SUM(s * s) AS ss2, SUM(sxx) AS sxx
  FROM per_day
)
SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS n_raters,
  CASE WHEN n > 1 AND k > 1 AND
    CAST((CAST(n AS DECIMAL(38,0)) * ss2 - st * st) * (k - 1)
         + (CAST(k AS DECIMAL(38,0)) * sxx - ss2) * (n - 1) * (k - 1)
      AS DOUBLE) <> 0
  THEN round(
    CAST((CAST(n AS DECIMAL(38,0)) * ss2 - st * st) * (k - 1)
         - (CAST(k AS DECIMAL(38,0)) * sxx - ss2) * (n - 1) AS DOUBLE)
    / CAST((CAST(n AS DECIMAL(38,0)) * ss2 - st * st) * (k - 1)
           + (CAST(k AS DECIMAL(38,0)) * sxx - ss2) * (n - 1) * (k - 1)
      AS DOUBLE), 6) + 0.0
  END AS icc1
FROM g
"""


# -------------------------------------------------------- a_hill_tail

_HILL_K = 50


def a_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator per event type (Hill 1975, public):
    over the top-50 order statistics of the micro value,
    H = (1/(k−1))·Σ ln(x_(i)/x_(k)), tail index α = 1/H — the
    heavy-tail thickness gauge next to a_evt_gumbel.

    Determinism: order statistics come from the per-type total order
    (vm DESC, event_id); each ln of an exact integer ratio quantizes
    to a micro BIGINT before summing; H and α are single IEEE
    divisions.

    Scale shape: per-type top-k via the bounded window rank, then a
    |types|-row agg."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    ).where(F.col("vm") > 0)
    w = Window.partitionBy("event_type").orderBy(
        F.col("vm").desc(), F.col("event_id").asc()
    )
    topk = e.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= _HILL_K
    )
    xk = topk.where(F.col("rk") == _HILL_K).select(
        "event_type", F.col("vm").alias("xk")
    )
    j = topk.where(F.col("rk") < _HILL_K).join(
        F.broadcast(xk), "event_type"
    )
    term = F.round(
        F.log(F.col("vm").cast("double") / F.col("xk")) * F.lit(1e6), 0
    ).cast("long")
    g = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nk"),
        F.sum(term).alias("su"),
    )
    ok = (F.col("nk") == _HILL_K - 1) & (F.col("su") > 0)
    h = F.col("su").cast("double") / (F.col("nk").cast("double") * F.lit(1e6))
    return g.select(
        "event_type",
        F.col("nk").cast("long").alias("n_top"),
        F.when(ok, F.round(h, 6) + F.lit(0.0)).alias("hill_h"),
        F.when(
            ok,
            F.round(
                F.col("nk").cast("double") * F.lit(1e6)
                / F.col("su").cast("double"),
                6,
            )
            + F.lit(0.0),
        ).alias("tail_alpha"),
    ).orderBy("event_type")


def _a_hill_tail_sql() -> str:
    return f"""
WITH e AS (
  SELECT event_type, event_id,
    CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
  WHERE CAST(round(value * 1000000) AS BIGINT) > 0
), topk AS (
  SELECT event_type, vm,
    row_number() OVER (PARTITION BY event_type
                       ORDER BY vm DESC, event_id) AS rk
  FROM e
), xk AS (
  SELECT event_type, vm AS xk FROM topk WHERE rk = {_HILL_K}
), terms AS (
  SELECT t.event_type,
    CAST(round(ln(CAST(t.vm AS DOUBLE) / x.xk) * 1e6, 0) AS BIGINT) AS u
  FROM topk t JOIN xk x USING (event_type)
  WHERE t.rk < {_HILL_K}
), g AS (
  SELECT event_type, COUNT(*) AS nk, SUM(u) AS su FROM terms GROUP BY 1
)
SELECT event_type, CAST(nk AS BIGINT) AS n_top,
  CASE WHEN nk = {_HILL_K - 1} AND su > 0 THEN
    round(CAST(su AS DOUBLE) / (CAST(nk AS DOUBLE) * 1e6), 6) + 0.0
  END AS hill_h,
  CASE WHEN nk = {_HILL_K - 1} AND su > 0 THEN
    round(CAST(nk AS DOUBLE) * 1e6 / CAST(su AS DOUBLE), 6) + 0.0
  END AS tail_alpha
FROM g ORDER BY event_type
"""


# -------------------------------------------------------- t_heaps_law

def t_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit over the corpus in doc_id order (Heaps 1978,
    public): V(N) ≈ K·N^β — log-log OLS of cumulative vocabulary
    against cumulative token count, the vocabulary-growth exponent a
    tokenizer budget is sized from.

    Determinism: first occurrences are exact (min doc_id per token);
    both cumulative series are integer; each ln quantizes to a micro
    BIGINT so the OLS moments fold exactly; β and K are single IEEE
    chains over those integers.

    Scale shape: token explode → (tok → min doc) agg → per-doc firsts
    → a |docs|-row cumulative pass (range-partitioned at scale, like
    the rank movers)."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    ta = _toks_df(spark, sf_dir)
    # Per-doc token counts are size(toks) — no explode+groupBy needed
    # (r11, guide §2.3); only the first-occurrence pass still explodes.
    per_doc = ta.select("doc_id", F.size("toks").cast("long").alias("nt"))
    firsts = (
        ta.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fo"))
        .groupBy("fo")
        .agg(F.count(F.lit(1)).alias("nf"))
    )
    base = per_doc.join(
        firsts, per_doc["doc_id"] == firsts["fo"], "left"
    ).select(
        per_doc["doc_id"], "nt", F.coalesce("nf", F.lit(0)).alias("nf")
    )
    # both global cumulative series via the range-partitioned prefix
    # sum (no single-partition window over the |docs| frame)
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    # ONE range sort emits BOTH running sums (r11 optimization): the
    # two series share the identical doc_id order, so paying the
    # operator twice bought nothing — same exact integer cumsums.
    c1 = range_partitioned_rank(
        base,
        ["doc_id"],
        out_col="__r1",
        sum_col=["nt", "nf"],
        cumsum_out=["nn", "vv"],
    )
    cum = c1.select("nn", "vv").where(
        (F.col("nn") > 0) & (F.col("vv") > 0)
    )
    d = "decimal(38,0)"
    pts = cum.select(
        F.round(F.log(F.col("nn").cast("double")) * F.lit(1e6), 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("vv").cast("double")) * F.lit(1e6), 0)
        .cast("long")
        .alias("y"),
    )
    g = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d)).alias("sx"),
        F.sum(F.col("y").cast(d)).alias("sy"),
        F.sum(F.col("x").cast(d) * F.col("x").cast(d)).alias("sxx"),
        F.sum(F.col("x").cast(d) * F.col("y").cast(d)).alias("sxy"),
    )
    n = F.col("n").cast(d)
    beta_num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    beta_den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    beta = beta_num / beta_den
    kk = F.exp(
        (
            F.col("sy").cast("double")
            - beta * F.col("sx").cast("double")
        )
        / (F.col("n").cast("double") * F.lit(1e6))
    )
    ok = (F.col("n") > 1) & (beta_den > 0)
    return g.select(
        F.col("n").cast("long").alias("n_points"),
        F.when(ok, F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        F.when(ok, F.round(kk, 6) + F.lit(0.0)).alias("heaps_k"),
    )


def _t_heaps_law_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import TOKENS_CTE

    return f"""
WITH {TOKENS_CTE}, per_doc AS (
  SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id
), firsts AS (
  SELECT fo, COUNT(*) AS nf FROM (
    SELECT tok, MIN(doc_id) AS fo FROM toks GROUP BY tok
  ) GROUP BY fo
), cum AS (
  SELECT
    SUM(nt) OVER (ORDER BY p.doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
    SUM(coalesce(nf, 0)) OVER (ORDER BY p.doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
  FROM per_doc p LEFT JOIN firsts f ON p.doc_id = f.fo
), pts AS (
  SELECT CAST(round(ln(CAST(nn AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
    CAST(round(ln(CAST(vv AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
  FROM cum WHERE nn > 0 AND vv > 0
), g AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(x AS DECIMAL(38,0))) AS sx,
    SUM(CAST(y AS DECIMAL(38,0))) AS sy,
    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
    SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
  CASE WHEN n > 1 AND CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
      AS DOUBLE) > 0 THEN
    round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
        / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE), 6)
    + 0.0 END AS heaps_beta,
  CASE WHEN n > 1 AND CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
      AS DOUBLE) > 0 THEN
    round(exp((CAST(sy AS DOUBLE)
      - (CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
         / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE))
        * CAST(sx AS DOUBLE))
      / (CAST(n AS DOUBLE) * 1e6)), 6) + 0.0 END AS heaps_k
FROM g
"""


# -------------------------------------------------- t_collocation_pmi

_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


def t_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by pointwise mutual information
    (Church & Hanks 1990, public): PMI = ln(p(xy)/(p(x)p(y))) with
    p(xy) = c_xy/B, p(x) = c_x/T — the collocation extractor behind
    phrase vocabularies, floored at count ≥ 5.

    Determinism: all counts are exact integers; PMI's argument is the
    exact integer ratio c_xy·T·T / (B·c_x·c_y) (DECIMAL products), so
    ln runs on an identical double both engines; ordering is on the
    6-dp PMI with a bigram tiebreak.

    Scale shape: adjacent-pair explode shuffles (x, y) pairs once;
    unigram counts broadcast back."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = _toks_df(spark, sf_dir)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) AS x,"
                " element_at(toks, i + 1) AS y))"
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    uni = toks.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = uni.agg(F.sum("c").alias("tt"))
    big = pairs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
    btot = big.agg(F.sum("cxy").alias("bb"))
    d = "decimal(38,0)"
    j = (
        big.where(F.col("cxy") >= _PMI_MIN_COUNT)
        .join(F.broadcast(uni.select(F.col("tok").alias("x"), F.col("c").alias("cx"))), "x")
        .join(F.broadcast(uni.select(F.col("tok").alias("y"), F.col("c").alias("cy"))), "y")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    num = F.col("cxy").cast(d) * F.col("tt").cast(d) * F.col("tt").cast(d)
    den = F.col("bb").cast(d) * F.col("cx").cast(d) * F.col("cy").cast(d)
    pmi = F.round(F.log(num.cast("double") / den.cast("double")), 6)
    return (
        j.select(
            "x",
            "y",
            F.col("cxy").cast("long").alias("pair_count"),
            (pmi + F.lit(0.0)).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "x", "y")
        .limit(_PMI_TOPK)
    )


def _t_collocation_pmi_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import NORM_TEXT_SQL

    return f"""
WITH lsts AS (
  SELECT doc_id, string_split({NORM_TEXT_SQL}, ' ') AS lst FROM documents
), pos AS (
  SELECT doc_id, lst, unnest(generate_series(1, len(lst) - 1)) AS p
  FROM lsts
), pairs AS (
  SELECT lst[p] AS x, lst[p + 1] AS y FROM pos
), uni AS (
  SELECT tok, COUNT(*) AS c FROM (
    SELECT unnest(lst) AS tok FROM lsts
  ) GROUP BY tok
), tot AS (SELECT SUM(c) AS tt FROM uni),
big AS (
  SELECT x, y, COUNT(*) AS cxy FROM pairs GROUP BY x, y
), btot AS (SELECT SUM(cxy) AS bb FROM big)
SELECT x, y, CAST(cxy AS BIGINT) AS pair_count,
  round(ln(CAST(CAST(cxy AS DECIMAL(38,0)) * CAST(tt AS DECIMAL(38,0))
               * CAST(tt AS DECIMAL(38,0)) AS DOUBLE)
           / CAST(CAST(bb AS DECIMAL(38,0)) * CAST(cx.c AS DECIMAL(38,0))
                  * CAST(cy.c AS DECIMAL(38,0)) AS DOUBLE)), 6) + 0.0
    AS pmi
FROM big
JOIN uni cx ON big.x = cx.tok
JOIN uni cy ON big.y = cy.tok
CROSS JOIN tot CROSS JOIN btot
WHERE cxy >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, x, y
LIMIT {_PMI_TOPK}
"""


# ------------------------------------------------ t_simpson_diversity

def t_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus lexical concentration via Simpson's index (Simpson 1949,
    public): D = Σ c_w(c_w−1)/(T(T−1)) — the probability two random
    token draws are the same word; 1−D is the diversity the Yule-K
    family approximates.

    Determinism: token counts are exact; both numerator and
    denominator fold as DECIMAL(38,0); ONE IEEE division.

    Scale shape: one token agg, one scalar fold."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = _toks_df(spark, sf_dir).select(F.explode("toks").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    d = "decimal(38,0)"
    g = uni.agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c").cast(d)).alias("tt"),
        F.sum(F.col("c").cast(d) * (F.col("c").cast(d) - 1)).alias("num"),
    )
    ok = F.col("tt") > 1
    simpson = F.col("num").cast("double") / (
        F.col("tt").cast("double") * (F.col("tt").cast("double") - F.lit(1.0))
    )
    return g.select(
        F.col("vocab").cast("long").alias("vocab"),
        F.col("tt").cast("long").alias("n_tokens"),
        F.when(ok, F.round(simpson, 6) + F.lit(0.0)).alias("simpson_d"),
        F.when(ok, F.round(F.lit(1.0) - simpson, 6) + F.lit(0.0)).alias(
            "diversity"
        ),
    )


def _t_simpson_diversity_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import TOKENS_CTE

    return f"""
WITH {TOKENS_CTE}, uni AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
), g AS (
  SELECT COUNT(*) AS vocab, SUM(CAST(c AS DECIMAL(38,0))) AS tt,
    SUM(CAST(c AS DECIMAL(38,0)) * (CAST(c AS DECIMAL(38,0)) - 1)) AS num
  FROM uni
)
SELECT CAST(vocab AS BIGINT) AS vocab, CAST(tt AS BIGINT) AS n_tokens,
  CASE WHEN tt > 1 THEN
    round(CAST(num AS DOUBLE)
          / (CAST(tt AS DOUBLE) * (CAST(tt AS DOUBLE) - 1.0)), 6) + 0.0
  END AS simpson_d,
  CASE WHEN tt > 1 THEN
    round(1.0 - CAST(num AS DOUBLE)
          / (CAST(tt AS DOUBLE) * (CAST(tt AS DOUBLE) - 1.0)), 6) + 0.0
  END AS diversity
FROM g
"""


# ---------------------------------------------------- t_burstiness

_BURST_TOPK = 20


def t_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995, public) for the top-20
    collection-frequency tokens: the Fano factor var/mean of per-doc
    counts INCLUDING zero-occurrence docs — bursty terms (F ≫ 1)
    concentrate in few docs, function words sit near 1.

    Determinism: with cf = Σc and n docs, F = (n·Σc² − cf²)/(n·cf)
    from exact DECIMAL integers (population variance); ONE IEEE
    division per term; top-k on (cf DESC, tok).

    Scale shape: one (tok, doc) agg; zeros enter through the closed
    form, never materialized."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df

    toks = _toks_df(spark, sf_dir)
    n_docs = toks.agg(F.count(F.lit(1)).alias("n"))
    per = toks.select(
        "doc_id", F.explode("toks").alias("tok")
    ).groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    d = "decimal(38,0)"
    stats = per.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.col("c").cast(d)).alias("cf"),
        F.sum(F.col("c").cast(d) * F.col("c").cast(d)).alias("c2"),
    )
    j = stats.crossJoin(F.broadcast(n_docs))
    fano = (
        (F.col("n").cast(d) * F.col("c2") - F.col("cf") * F.col("cf"))
        .cast("double")
        / (F.col("n").cast(d) * F.col("cf")).cast("double")
    )
    return (
        j.select(
            "tok",
            F.col("df").cast("long").alias("doc_freq"),
            F.col("cf").cast("long").alias("coll_freq"),
            (F.round(fano, 6) + F.lit(0.0)).alias("burstiness"),
        )
        .orderBy(F.col("coll_freq").desc(), "tok")
        .limit(_BURST_TOPK)
    )


def _t_burstiness_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import TOKENS_CTE

    return f"""
WITH {TOKENS_CTE}, nd AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM documents
), per AS (
  SELECT tok, doc_id, COUNT(*) AS c FROM toks GROUP BY 1, 2
), stats AS (
  SELECT tok, COUNT(*) AS df, SUM(CAST(c AS DECIMAL(38,0))) AS cf,
    SUM(CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) AS c2
  FROM per GROUP BY tok
)
SELECT tok, CAST(df AS BIGINT) AS doc_freq, CAST(cf AS BIGINT)
    AS coll_freq,
  round(CAST(CAST(n AS DECIMAL(38,0)) * c2 - cf * cf AS DOUBLE)
        / CAST(CAST(n AS DECIMAL(38,0)) * cf AS DOUBLE), 6) + 0.0
    AS burstiness
FROM stats, nd
ORDER BY coll_freq DESC, tok
LIMIT {_BURST_TOPK}
"""


# ------------------------------------------------------- t_map_eval

def t_map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-average-precision retrieval eval over the three standing
    query terms: per term, rank candidate docs by length-normalized
    term frequency (tf/dl), grade rel = tf ≥ 2, and fold AP =
    (1/n_rel)·Σ P@k at relevant ranks — the multi-query companion to
    t_ndcg_eval's single-query nDCG/MRR.

    Determinism: tf and dl are exact integers; the sort key tf/dl is
    one identical IEEE division with a doc_id tiebreak; every P@k
    quantizes to an exact half-away micro BIGINT before the fold
    (the a_pr_auc rule); AP is ONE IEEE division per term.

    Scale shape: token explode → per-(term, doc) tf agg → per-term
    rank over the candidate slice (df-bounded, never corpus-wide)."""
    from kp_crypto_market_analytics_spark.queries_corpus import _toks_df
    from kp_crypto_market_analytics_spark.queries_ext import _BM25_TERMS
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away

    toks = _toks_df(spark, sf_dir).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.where(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(dl), "doc_id")
    )
    w = Window.partitionBy("tok").orderBy(
        (F.col("tf").cast("double") / F.col("dl")).desc(),
        F.col("doc_id").asc(),
    )
    ranked = tf.select(
        "tok",
        (F.col("tf") >= 2).alias("rel"),
        F.row_number().over(w).alias("k"),
    )
    wc = Window.partitionBy("tok").orderBy("k").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = ranked.select(
        "tok", "rel", "k",
        F.sum(F.col("rel").cast("long")).over(wc).alias("crel"),
    )
    d = "decimal(38,0)"
    term = F.when(
        F.col("rel"),
        _half_away(
            F.col("crel").cast(d) * F.lit(1_000_000).cast(d),
            F.col("k").cast(d),
        ),
    ).otherwise(F.lit(0))
    g = ranked.groupBy("tok").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.col("rel").cast("long")).alias("n_rel"),
        F.sum(term).alias("ap_u"),
    )
    ok = F.col("n_rel") > 0
    return g.select(
        F.col("tok").alias("term"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_rel").cast("long").alias("n_rel"),
        F.when(
            ok,
            F.round(
                F.col("ap_u").cast("double")
                / (F.col("n_rel").cast("double") * F.lit(1e6)),
                6,
            )
            + F.lit(0.0),
        ).alias("avg_precision"),
    ).orderBy("term")


def _t_map_eval_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_ext import (
        _BM25_TERMS,
        TOKENS_CTE,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    ap_term = _sql_half_away("crel * 1000000", "k")
    return f"""
WITH {TOKENS_CTE}, dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
), tf AS (
  SELECT tok, t.doc_id, COUNT(*) AS tf, MAX(dl.dl) AS dl
  FROM toks t JOIN dl ON t.doc_id = dl.doc_id
  WHERE tok IN ({terms})
  GROUP BY tok, t.doc_id
), ranked AS (
  SELECT tok, tf >= 2 AS rel,
    row_number() OVER (PARTITION BY tok
      ORDER BY CAST(tf AS DOUBLE) / dl DESC, doc_id) AS k
  FROM tf
), c AS (
  SELECT tok, rel, k,
    SUM(CASE WHEN rel THEN 1 ELSE 0 END) OVER (PARTITION BY tok
      ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS crel
  FROM ranked
), g AS (
  SELECT tok, COUNT(*) AS n_candidates,
    SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS n_rel,
    SUM(CASE WHEN rel THEN {ap_term} ELSE 0 END) AS ap_u
  FROM c GROUP BY tok
)
SELECT tok AS term, CAST(n_candidates AS BIGINT) AS n_candidates,
  CAST(n_rel AS BIGINT) AS n_rel,
  CASE WHEN n_rel > 0 THEN
    round(CAST(ap_u AS DOUBLE) / (CAST(n_rel AS DOUBLE) * 1e6), 6) + 0.0
  END AS avg_precision
FROM g ORDER BY term
"""


# ---------------------------------------------------------- a_gk_gamma

_GKG_BANDS = 4


def a_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal gamma (1954, public) between time-of-day band
    (four six-hour ordinal levels) and value quartile (rank-derived
    ordinal) over the event ticks: γ = (C − D)/(C + D) from the
    concordant/discordant pair counts of the 4×4 contingency table —
    the ordinal association measure that ignores ties entirely.

    Determinism: the quartile is an exact integer derived from the
    range-partitioned global rank on the TOTAL order (vm, event_id):
    q = (4·(rn−1)) div N; C and D fold as DECIMAL products over the
    16-cell table self-join; ONE IEEE division.

    Scale shape: one global rank (range-partitioned), one 16-row
    contingency agg, a bounded 16×16 pair join."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        "event_id",
        (F.hour("ts") / F.lit(6)).cast("int").alias("band"),
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    ranked = range_partitioned_rank(e, ["vm", "event_id"], out_col="rn")
    # scalar N via a broadcast 1-row agg, never an events-wide window
    nn = e.agg(F.count(F.lit(1)).alias("nn"))
    ranked = ranked.select("band", "rn").crossJoin(F.broadcast(nn))
    q = F.call_function(
        "div", F.lit(_GKG_BANDS) * (F.col("rn") - 1), F.col("nn")
    ).cast("int")
    cells = ranked.select("band", q.alias("q")).groupBy("band", "q").agg(
        F.count(F.lit(1)).alias("c")
    )
    l = cells.select(
        F.col("band").alias("b1"), F.col("q").alias("q1"), F.col("c").alias("c1")
    )
    r = cells.select(
        F.col("band").alias("b2"), F.col("q").alias("q2"), F.col("c").alias("c2")
    )
    d = "decimal(38,0)"
    pairs = l.crossJoin(F.broadcast(r))
    conc = F.sum(
        F.when(
            (F.col("b2") > F.col("b1")) & (F.col("q2") > F.col("q1")),
            F.col("c1").cast(d) * F.col("c2").cast(d),
        )
    )
    disc = F.sum(
        F.when(
            (F.col("b2") > F.col("b1")) & (F.col("q2") < F.col("q1")),
            F.col("c1").cast(d) * F.col("c2").cast(d),
        )
    )
    g = pairs.agg(conc.alias("cc"), disc.alias("dd"))
    ok = (F.col("cc") + F.col("dd")) > 0
    return g.select(
        F.col("cc").cast("long").alias("concordant"),
        F.col("dd").cast("long").alias("discordant"),
        F.when(
            ok,
            F.round(
                (F.col("cc") - F.col("dd")).cast("double")
                / (F.col("cc") + F.col("dd")).cast("double"),
                6,
            )
            + F.lit(0.0),
        ).alias("gk_gamma"),
    )


def _a_gk_gamma_sql() -> str:
    return f"""
WITH e AS (
  SELECT event_id,
    CAST(EXTRACT(hour FROM ts) // 6 AS INT) AS band,
    CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
), ranked AS (
  SELECT band, row_number() OVER (ORDER BY vm, event_id) AS rn,
    COUNT(*) OVER () AS nn
  FROM e
), cells AS (
  SELECT band, CAST(({_GKG_BANDS} * (rn - 1)) // nn AS INT) AS q,
    COUNT(*) AS c
  FROM ranked GROUP BY 1, 2
), g AS (
  SELECT
    SUM(CASE WHEN r.band > l.band AND r.q > l.q
        THEN CAST(l.c AS DECIMAL(38,0)) * CAST(r.c AS DECIMAL(38,0))
        END) AS cc,
    SUM(CASE WHEN r.band > l.band AND r.q < l.q
        THEN CAST(l.c AS DECIMAL(38,0)) * CAST(r.c AS DECIMAL(38,0))
        END) AS dd
  FROM cells l, cells r
)
SELECT CAST(cc AS BIGINT) AS concordant, CAST(dd AS BIGINT) AS discordant,
  CASE WHEN cc + dd > 0 THEN
    round(CAST(cc - dd AS DOUBLE) / CAST(cc + dd AS DOUBLE), 6) + 0.0
  END AS gk_gamma
FROM g
"""


# ------------------------------------------------------------- g_katz

_KATZ_ALPHA = 0.05
_KATZ_ITERS = 3
_KATZ_PREC = 10


def g_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by Katz centrality (Katz 1953, public) on the
    unweighted symmetrized co-purchase graph: x ← β + α·A x from
    x₀ = 1, α = 0.05, three unrolled iterations — the
    walk-counting centrality that credits long-range influence where
    degree stops at one hop.

    Determinism: the pagerank_weighted parity recipe — neighbor
    contributions are α·x with x rounded to 10 dp each iterate, folds
    through DECIMAL(28,12) (exact ⇒ order-independent); the oracle
    unrolls the same three iterations.

    Scale shape: one skinny (node, x) table re-joined across the
    edge list per iteration; AQE broadcasts the shrinking side."""
    from kp_crypto_market_analytics_spark.queries_graph import (
        _copurchase_pairs,
    )

    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    x = nodes.select("node", F.lit(1.0).alias("x"))
    dec = "decimal(28,12)"
    for _ in range(_KATZ_ITERS):
        contrib = (
            edges.join(x.withColumnRenamed("node", "s2"), F.col("src") == F.col("s2"))
            .groupBy("dst")
            .agg(
                F.sum((F.lit(_KATZ_ALPHA) * F.col("x")).cast(dec)).alias("c")
            )
        )
        x = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            F.round(
                F.lit(1.0) + F.coalesce(F.col("c").cast("double"), F.lit(0.0)),
                _KATZ_PREC,
            ).alias("x"),
        )
    return (
        x.select(
            F.col("node").alias("part"),
            (F.round("x", 6) + F.lit(0.0)).alias("katz"),
        )
        .orderBy(F.col("katz").desc(), F.col("part").asc())
        .limit(20)
    )


def _g_katz_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.copurchase import (
        PAIRS_SQL,
    )

    parts = [f"""
WITH {PAIRS_SQL}, edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pairs UNION ALL SELECT v, u FROM pairs
), nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
), x0 AS (
  SELECT node, 1.0 AS x FROM nodes
)"""]
    for i in range(1, _KATZ_ITERS + 1):
        parts.append(f""", c{i} AS (
  SELECT dst, SUM(CAST({_KATZ_ALPHA!r} * x AS DECIMAL(28,12))) AS c
  FROM edges JOIN x{i - 1} p ON edges.src = p.node GROUP BY dst
), x{i} AS (
  SELECT node,
    round(1.0 + coalesce(CAST(c AS DOUBLE), 0.0), {_KATZ_PREC}) AS x
  FROM nodes LEFT JOIN c{i} ON c{i}.dst = nodes.node
)""")
    parts.append(f"""
SELECT node AS part, round(x, 6) + 0.0 AS katz
FROM x{_KATZ_ITERS}
ORDER BY katz DESC, part
LIMIT 20
""")
    return "".join(parts)


# --------------------------------------------------------- g_harmonic

_HARM_SEEDS = 50
_HARM_ROUNDS = 4
_HARM_LCM = 12  # lcm(1..4): 1/d folds as exact 12/d integers


def g_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-4 truncated harmonic closeness (Marchiori & Latora 2000,
    public) of the 50 highest-degree hub parts: h(s) = Σ_{0<d(s,v)≤4}
    1/d(s,v) — the centrality that handles disconnected graphs where
    classic closeness breaks; top-20 reported.

    Determinism: multi-source BFS distances are exact integer
    min-folds on (source, node) keys; 1/d contributions fold as exact
    12/d BIGINTs (lcm(1..4) = 12); ONE IEEE division by 12.

    Scale shape: frontier joins are bounded by 50·|reached| rows per
    round — sources are capped, never all-pairs; the census agg is
    |sources| rows."""
    from kp_crypto_market_analytics_spark.queries_graph import (
        _copurchase_pairs,
    )

    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        pairs.select(F.col("v").alias("a"), F.col("u").alias("b"))
    ).localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    seeds = (
        deg.orderBy(F.col("deg").desc(), F.col("node").asc())
        .limit(_HARM_SEEDS)
        .select(F.col("node").alias("s"))
    )
    dist = seeds.select("s", F.col("s").alias("node"), F.lit(0).alias("dist"))
    for _ in range(_HARM_ROUNDS):
        nb = (
            edges.join(
                dist.withColumnRenamed("node", "b2"),
                F.col("b") == F.col("b2"),
            )
            .groupBy("s", F.col("a").alias("node"))
            .agg((F.min("dist") + 1).alias("nd"))
        )
        dist = (
            dist.join(nb, ["s", "node"], "full")
            .select(
                "s",
                "node",
                F.when(
                    F.col("dist").isNotNull()
                    & (F.col("nd").isNull() | (F.col("dist") <= F.col("nd"))),
                    F.col("dist"),
                )
                .otherwise(F.col("nd"))
                .alias("dist"),
            )
            .localCheckpoint(eager=True)
        )
    g = dist.where(F.col("dist") > 0).groupBy("s").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum(
            F.call_function("div", F.lit(_HARM_LCM), F.col("dist"))
        ).alias("h12"),
    )
    return (
        g.select(
            F.col("s").alias("part"),
            F.col("n_reached").cast("long").alias("n_reached"),
            F.round(
                F.col("h12").cast("double") / F.lit(float(_HARM_LCM)), 6
            ).alias("harmonic"),
        )
        .orderBy(F.col("harmonic").desc(), F.col("part").asc())
        .limit(20)
    )


def _g_harmonic_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.copurchase import (
        PAIRS_SQL,
    )

    parts = [f"""
WITH {PAIRS_SQL}, edges AS MATERIALIZED (
  SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v, u FROM pairs
), deg AS MATERIALIZED (
  SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY 1
), seeds AS MATERIALIZED (
  SELECT node AS s FROM deg ORDER BY deg DESC, node LIMIT {_HARM_SEEDS}
), d0 AS MATERIALIZED (
  SELECT s, s AS node, 0 AS dist FROM seeds
)"""]
    for r in range(_HARM_ROUNDS):
        parts.append(f""", nb{r} AS MATERIALIZED (
  SELECT d.s, e.a AS node, MIN(d.dist) + 1 AS nd
  FROM edges e JOIN d{r} d ON e.b = d.node
  GROUP BY 1, 2
), d{r + 1} AS MATERIALIZED (
  SELECT coalesce(d.s, n.s) AS s, coalesce(d.node, n.node) AS node,
    CASE WHEN d.dist IS NOT NULL AND (n.nd IS NULL OR d.dist <= n.nd)
         THEN d.dist ELSE n.nd END AS dist
  FROM d{r} d FULL JOIN nb{r} n ON d.s = n.s AND d.node = n.node
)""")
    parts.append(f"""
SELECT s AS part, CAST(COUNT(*) AS BIGINT) AS n_reached,
  round(CAST(SUM({_HARM_LCM} // dist) AS DOUBLE)
        / {float(_HARM_LCM)!r}, 6) AS harmonic
FROM d{_HARM_ROUNDS}
WHERE dist > 0
GROUP BY s
ORDER BY harmonic DESC, part
LIMIT 20
""")
    return "".join(parts)


# --------------------------------------------------------------- g_wcc

def g_wcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weakly-connected-component census of the co-purchase graph:
    component-size histogram (size → how many components) — the
    connectivity fingerprint read before any graph algorithm is
    trusted (a giant component plus dust is the healthy shape).

    Determinism: exact min-label propagation to convergence (the
    dedup_clusters CC operator) vs the oracle's recursive reachability
    CTE — both produce the identical min-id labeling; the census is
    pure integer.

    Scale shape: iterative skinny label joins, localCheckpointed; the
    census aggregates |components| rows."""
    from kp_crypto_market_analytics_spark.operators.dedup import (
        connected_component_labels,
    )
    from kp_crypto_market_analytics_spark.queries_graph import (
        _copurchase_pairs,
    )

    pairs = _copurchase_pairs(spark, sf_dir)
    nodes = (
        pairs.select(F.col("u").alias("part"))
        .unionByName(pairs.select(F.col("v").alias("part")))
        .distinct()
    )
    labels = connected_component_labels(
        pairs, nodes, node_col="part", src="u", dst="v", max_iters=40
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .orderBy("size")
    )


def _g_wcc_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.copurchase import (
        PAIRS_SQL,
    )

    return f"""
WITH {PAIRS_SQL}, sym AS (
  SELECT u AS a, v AS b FROM pairs UNION SELECT v, u FROM pairs
), nodes AS (
  SELECT DISTINCT u AS part FROM pairs
  UNION SELECT DISTINCT v FROM pairs
), reach AS (
  WITH RECURSIVE r(node, lab) AS (
    SELECT part, part FROM nodes
    UNION
    SELECT s.b, r.lab FROM r JOIN sym s ON s.a = r.node
  )
  SELECT node, MIN(lab) AS label FROM r GROUP BY node
), sizes AS (
  SELECT label, COUNT(*) AS size FROM reach GROUP BY label
)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components
FROM sizes GROUP BY size ORDER BY size
"""


# --------------------------------------------------------------- e_lid

_LID_K = 10
_LID_QUERIES = 100


def e_lid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local intrinsic dimensionality of the embedding space (MLE of
    Levina & Bickel 2004 / Amsaleg et al. 2015, public): per query
    (vec_id < 100), LID = −k / Σᵢ ln(dᵢ/d_k) over the k = 10 nearest
    cosine distances — the neighborhood-complexity gauge that predicts
    ANN index difficulty; corpus mean/min/max reported.

    Determinism: neighbor sets and distances come from the 6-dp
    rounded cosine (the sim_bruteforce rule), so each dᵢ is an exact
    micro integer; each ln of the exact ratio quantizes to a micro
    BIGINT; the per-query LID is one IEEE division, itself
    micro-quantized before the corpus fold.

    Scale shape: eval-tier brute-force neighbor scoring on the
    bounded query slice (the e_knn_eval contract); the production
    path feeds the same fold from the IVF shortlist."""
    from kp_crypto_market_analytics_spark.operators.similarity import (
        brute_force_topk,
    )

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = t["embeddings"]
    queries = emb.where(F.col("vec_id") < _LID_QUERIES)
    nn = brute_force_topk(emb, queries, "embedding", "vec_id", k=_LID_K)
    du = F.round((F.lit(1.0) - F.col("cos")) * F.lit(1e6), 0).cast("long")
    nn = nn.select("query_id", "rank", du.alias("du"))
    dk = nn.where(F.col("rank") == _LID_K).select(
        "query_id", F.col("du").alias("dk")
    )
    j = nn.join(F.broadcast(dk), "query_id")
    term = F.round(
        F.log(F.col("du").cast("double") / F.col("dk")) * F.lit(1e6), 0
    ).cast("long")
    per_q = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("nk"),
        F.min("du").alias("dmin"),
        F.sum(term).alias("su"),
    ).where(
        (F.col("nk") == _LID_K) & (F.col("dmin") > 0) & (F.col("su") < 0)
    )
    lid_u = F.round(
        -F.lit(float(_LID_K)) * F.lit(1e6) / F.col("su") * F.lit(1e6), 0
    ).cast("long")
    g = per_q.select(lid_u.alias("lu")).agg(
        F.count(F.lit(1)).alias("nq"),
        F.sum("lu").alias("slu"),
        F.min("lu").alias("lmin"),
        F.max("lu").alias("lmax"),
    )
    return g.select(
        F.col("nq").cast("long").alias("n_queries"),
        F.round(
            F.col("slu").cast("double")
            / (F.col("nq").cast("double") * F.lit(1e6)),
            6,
        ).alias("mean_lid"),
        F.round(F.col("lmin").cast("double") / F.lit(1e6), 6).alias(
            "min_lid"
        ),
        F.round(F.col("lmax").cast("double") / F.lit(1e6), 6).alias(
            "max_lid"
        ),
    )


def _e_lid_sql() -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < {_LID_QUERIES}
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    round(list_cosine_similarity(q.qvec, CAST(c.embedding AS DOUBLE[])),
          6) AS cos
  FROM q, embeddings c WHERE c.vec_id <> q.query_id
), topk AS (
  SELECT query_id,
    CAST(round((1.0 - cos) * 1e6, 0) AS BIGINT) AS du,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
), nn AS (
  SELECT query_id, rank, du FROM topk WHERE rank <= {_LID_K}
), dk AS (
  SELECT query_id, du AS dk FROM nn WHERE rank = {_LID_K}
), per_q AS (
  SELECT n.query_id, COUNT(*) AS nk, MIN(n.du) AS dmin,
    SUM(CAST(round(ln(CAST(n.du AS DOUBLE) / d.dk) * 1e6, 0) AS BIGINT))
      AS su
  FROM nn n JOIN dk d USING (query_id)
  GROUP BY 1
), lids AS (
  SELECT CAST(round(-{float(_LID_K)!r} * 1e6 / su * 1e6, 0) AS BIGINT)
    AS lu
  FROM per_q WHERE nk = {_LID_K} AND dmin > 0 AND su < 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
  round(CAST(SUM(lu) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6), 6)
    AS mean_lid,
  round(CAST(MIN(lu) AS DOUBLE) / 1e6, 6) AS min_lid,
  round(CAST(MAX(lu) AS DOUBLE) / 1e6, 6) AS max_lid
FROM lids
"""


# --------------------------------------------------------------- e_rsa

_RSA_N = 60


def e_rsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representational similarity analysis (Kriegeskorte 2008,
    public) between the full-precision embedding space and its int8
    dequantized twin: Spearman correlation of the two pairwise-cosine
    vectors over vec_id < 60 — does quantization preserve the
    GEOMETRY, not just each vector?  The audit e_quantize_int8's
    per-vector cosine can't see (it checks v vs dq(v), not the
    relational structure).

    Determinism: both similarity columns are 6-dp rounded cosines on
    deterministic inputs (the dequantized vector is round(v/scale)
    ·scale — identical IEEE both engines); ranks use the TOTAL order
    (sim, a, b); ρ = 1 − 6Σd²/(n(n²−1)) is exact integers over ONE
    IEEE division.

    Scale shape: bounded 60-vector slice → 1 770 pairs; the corpus
    RSA at scale samples pairs (the o7 reservoir) into the same
    fold."""
    from kp_crypto_market_analytics_spark.functions.vectors import (
        abs_max,
        cosine,
        dequantize,
        quantize_symmetric,
        to_double_array,
    )

    t = load_tables(spark, sf_dir, ["embeddings"])
    e = (
        ensure_parallelism(t["embeddings"])
        .where(F.col("vec_id") < _RSA_N)
        .select("vec_id", to_double_array("embedding").alias("v"))
        .withColumn("scale", abs_max(F.col("v")) / F.lit(127.0))
        .where(F.col("scale") > 0)
        .withColumn(
            "dq",
            dequantize(
                quantize_symmetric(F.col("v"), F.col("scale")),
                F.col("scale"),
            ),
        )
    )
    a = e.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"),
        F.col("dq").alias("dqa"),
    )
    b = e.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
        F.col("dq").alias("dqb"),
    )
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib")).select(
        "ia",
        "ib",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("s1"),
        F.round(cosine(F.col("dqa"), F.col("dqb")), 6).alias("s2"),
    )
    w1 = Window.orderBy("s1", "ia", "ib")
    w2 = Window.orderBy("s2", "ia", "ib")
    ranked = pairs.select(
        (F.row_number().over(w1) - F.row_number().over(w2)).alias("d")
    )
    d = "decimal(38,0)"
    g = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d").cast(d) * F.col("d").cast(d)).alias("sd2"),
    )
    n = F.col("n").cast("double")
    ok = F.col("n") > 1
    rho = F.lit(1.0) - F.lit(6.0) * F.col("sd2").cast("double") / (
        n * (n * n - F.lit(1.0))
    )
    return g.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.when(ok, F.round(rho, 6) + F.lit(0.0)).alias("rsa_spearman"),
    )


def _e_rsa_sql() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < {_RSA_N}
), s AS (
  SELECT vec_id, v,
    list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM e
), q AS (
  SELECT vec_id, v,
    list_transform(list_transform(v, x -> round(x / scale)),
                   x -> x * scale) AS dq
  FROM s WHERE scale > 0
), pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
    round(list_cosine_similarity(a.v, b.v), 6) AS s1,
    round(list_cosine_similarity(a.dq, b.dq), 6) AS s2
  FROM q a JOIN q b ON a.vec_id < b.vec_id
), ranked AS (
  SELECT row_number() OVER (ORDER BY s1, ia, ib)
       - row_number() OVER (ORDER BY s2, ia, ib) AS d
  FROM pairs
), g AS (
  SELECT COUNT(*) AS n,
    SUM(CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))) AS sd2
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_pairs,
  CASE WHEN n > 1 THEN
    round(1.0 - 6.0 * CAST(sd2 AS DOUBLE)
          / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0)), 6)
    + 0.0 END AS rsa_spearman
FROM g
"""


# ------------------------------------------- dq_order_reconciliation

def dq_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table money reconciliation: o_totalprice vs the recomputed
    Σ l_extendedprice·(1−l_discount)·(1+l_tax) per order — the
    classic warehouse consistency audit (TPC-H's own totalprice
    definition); census of orders whose header disagrees with their
    lines by more than a cent.  On this synthetic corpus the header
    does NOT reconcile — exactly what the audit exists to surface.

    Determinism: all money enters as exact DECIMAL (2-dp prices,
    2-dp rates), the per-order sum folds as DECIMAL(38,6), and the
    delta census is decimal comparison — zero float arithmetic until
    the final reporting casts.

    Scale shape: one lineitem→order rollup co-partitioned on
    orderkey, one header join, one census agg."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    li = t["lineitem"].select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
            * (F.lit(1).cast("decimal(4,2)") + F.col("l_tax").cast("decimal(4,2)"))
        ).alias("net"),
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("net").cast("decimal(38,6)")).alias("recomputed")
    )
    j = t["orders"].select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("tp")
    ).join(per_order, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    delta = F.coalesce(F.col("recomputed"), F.lit(0).cast("decimal(38,6)")) - F.col("tp")
    cent = F.lit(0.01).cast("decimal(38,6)")
    g = j.select(
        F.abs(delta).alias("ad"),
        F.col("recomputed").isNull().alias("no_lines"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("no_lines").cast("long")).alias("n_orphan_headers"),
        F.sum((F.col("ad") > cent).cast("long")).alias("n_mismatched"),
        F.max("ad").alias("max_abs"),
        F.sum(F.col("ad")).alias("sum_abs"),
    )
    return g.select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("n_orphan_headers").cast("long").alias("n_orphan_headers"),
        F.col("n_mismatched").cast("long").alias("n_mismatched"),
        F.round(F.col("max_abs").cast("double"), 2).alias("max_abs_delta"),
        F.round(
            F.col("sum_abs").cast("double") / F.col("n_orders"), 6
        ).alias("mean_abs_delta"),
    )


def _dq_order_reconciliation_sql() -> str:
    return """
WITH li AS (
  SELECT l_orderkey,
    CAST(l_extendedprice AS DECIMAL(18,2))
      * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
      * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2))) AS net
  FROM lineitem
), per_order AS (
  SELECT l_orderkey, SUM(CAST(net AS DECIMAL(38,6))) AS recomputed
  FROM li GROUP BY 1
), j AS (
  SELECT abs(coalesce(recomputed, CAST(0 AS DECIMAL(38,6)))
             - CAST(o_totalprice AS DECIMAL(18,2))) AS ad,
    recomputed IS NULL AS no_lines
  FROM orders o LEFT JOIN per_order p ON o.o_orderkey = p.l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CASE WHEN no_lines THEN 1 ELSE 0 END) AS BIGINT)
    AS n_orphan_headers,
  CAST(SUM(CASE WHEN ad > CAST(0.01 AS DECIMAL(38,6)) THEN 1 ELSE 0 END)
    AS BIGINT) AS n_mismatched,
  round(CAST(MAX(ad) AS DOUBLE), 2) AS max_abs_delta,
  round(CAST(SUM(ad) AS DOUBLE) / COUNT(*), 6) AS mean_abs_delta
FROM j
"""


# ---------------------------------------------------- dq_date_sanity

def dq_date_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-consistency audit across the order→lineitem join:
    lines shipped BEFORE their order date (impossible), the ship-lag
    distribution (min/max days), and stale shipments (> 180 days
    after order) — the date-plausibility census run before trusting
    any time-partitioned rollup.

    Determinism: pure date arithmetic and integer counts.

    Scale shape: one co-partitioned orderkey join, one census agg —
    both date columns prune to the scan."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    j = t["lineitem"].select("l_orderkey", "l_shipdate").join(
        t["orders"].select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    lag = F.datediff(
        F.to_date("l_shipdate"), F.to_date("o_orderdate")
    )
    g = j.select(lag.alias("lag")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("lag") < 0).cast("long")).alias("n_ship_before_order"),
        F.sum((F.col("lag") > 180).cast("long")).alias("n_stale"),
        F.min("lag").alias("min_lag_days"),
        F.max("lag").alias("max_lag_days"),
    )
    ppm = F.call_function(
        "div",
        F.lit(2) * F.col("n_ship_before_order") * F.lit(1_000_000)
        + F.col("n_lines"),
        F.lit(2) * F.col("n_lines"),
    )
    return g.select(
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_ship_before_order").cast("long").alias(
            "n_ship_before_order"
        ),
        F.col("n_stale").cast("long").alias("n_stale"),
        F.col("min_lag_days").cast("long").alias("min_lag_days"),
        F.col("max_lag_days").cast("long").alias("max_lag_days"),
        ppm.cast("long").alias("violation_ppm"),
    )


def _dq_date_sanity_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    ppm = _sql_half_away("n_ship_before_order * 1000000", "n_lines")
    return f"""
WITH j AS (
  SELECT date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS lag
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), g AS (
  SELECT COUNT(*) AS n_lines,
    SUM(CASE WHEN lag < 0 THEN 1 ELSE 0 END) AS n_ship_before_order,
    SUM(CASE WHEN lag > 180 THEN 1 ELSE 0 END) AS n_stale,
    MIN(lag) AS min_lag_days, MAX(lag) AS max_lag_days
  FROM j
)
SELECT CAST(n_lines AS BIGINT) AS n_lines,
  CAST(n_ship_before_order AS BIGINT) AS n_ship_before_order,
  CAST(n_stale AS BIGINT) AS n_stale,
  CAST(min_lag_days AS BIGINT) AS min_lag_days,
  CAST(max_lag_days AS BIGINT) AS max_lag_days,
  {ppm} AS violation_ppm
FROM g
"""


# ------------------------------------------------- w_savitzky_golay

_SG_DEN = 35_000_000.0  # 35 · 1e6 micro scale


def w_savitzky_golay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky-Golay smoothing (1964, public) of the daily closes:
    the 5-point quadratic least-squares filter with exact rational
    weights (−3, 12, 17, 12, −3)/35 — the polynomial smoother that
    preserves peak heights a moving average flattens.

    Determinism: the convolution numerator folds exact micro BIGINTs
    with integer weights; ONE IEEE division by 35·1e6; NULL on the
    two edge rows of each series (centered filter contract).

    Scale shape: one lag/lead chain on the shared daily sort."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    num = (
        F.lit(-3) * F.lag("cm", 2).over(w)
        + F.lit(12) * F.lag("cm", 1).over(w)
        + F.lit(17) * F.col("cm")
        + F.lit(12) * F.lead("cm", 1).over(w)
        + F.lit(-3) * F.lead("cm", 2).over(w)
    )
    return (
        bars.select(
            "event_type",
            "day",
            F.round(F.col("cm") / F.lit(1e6), 6).alias("close"),
            (F.round(num / F.lit(_SG_DEN), 6) + F.lit(0.0)).alias(
                "sg_smooth"
            ),
        )
        .orderBy("event_type", "day")
    )


def _w_savitzky_golay_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    return f"""
WITH {DAILY_BARS_CTE}
SELECT event_type, day, round(cm / 1e6, 6) AS close,
  round((-3 * lag(cm, 2) OVER d + 12 * lag(cm, 1) OVER d + 17 * cm
         + 12 * lead(cm, 1) OVER d + (-3) * lead(cm, 2) OVER d)
        / {_SG_DEN!r}, 6) + 0.0 AS sg_smooth
FROM bars
WINDOW d AS ({_WD_SQL})
ORDER BY event_type, day
"""


# --------------------------------------------------- w_zscore_peaks

_PK_WIN = 20
_PK_Z = 2  # z-score threshold (integer so the test stays exact)


def w_zscore_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the daily closes: a day is a peak when it is
    a strict local maximum over ±2 neighbors AND sits more than 2
    sample standard deviations above the trailing 20-day mean — the
    spike census feeding alerting, entirely in EXACT integer
    arithmetic.

    Determinism: the z-condition (x − x̄ > 2s) is squared into the
    all-integer inequality (n−1)·(n·x − Σx)² > 4·n·(n·Σx² − (Σx)²)
    on DECIMAL(38,0) — no float enters the decision; the reported
    z-score is one IEEE chain on the same exact integers.

    Scale shape: two frame passes on the shared daily sort, then a
    filter — no joins."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    fr = w.rowsBetween(-(_PK_WIN - 1), 0)
    d = "decimal(38,0)"
    b = bars.select(
        "event_type",
        "day",
        "cm",
        F.count("cm").over(fr).alias("n"),
        F.sum(F.col("cm").cast(d)).over(fr).alias("s"),
        F.sum(F.col("cm").cast(d) * F.col("cm").cast(d)).over(fr).alias(
            "s2"
        ),
        (
            (F.col("cm") > F.lag("cm", 1).over(w))
            & (F.col("cm") > F.lag("cm", 2).over(w))
            & (F.col("cm") > F.lead("cm", 1).over(w))
            & (F.col("cm") > F.lead("cm", 2).over(w))
        ).alias("local_max"),
    )
    n = F.col("n").cast(d)
    dev = n * F.col("cm").cast(d) - F.col("s")
    varnum = n * F.col("s2") - F.col("s") * F.col("s")
    cond = (
        (F.col("n") == _PK_WIN)
        & F.col("local_max")
        & (dev > 0)
        & ((n - 1) * dev * dev > F.lit(_PK_Z * _PK_Z) * n * varnum)
        & (varnum > 0)
    )
    z = dev.cast("double") / F.sqrt(
        (n * varnum / (n - 1)).cast("double")
    )
    return (
        b.where(cond)
        .select(
            "event_type",
            "day",
            F.round(F.col("cm") / F.lit(1e6), 6).alias("close"),
            (F.round(z, 6) + F.lit(0.0)).alias("zscore"),
        )
        .orderBy("event_type", "day")
    )


def _w_zscore_peaks_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    fr = f"(d ROWS BETWEEN {_PK_WIN - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day, cm,
    COUNT(cm) OVER {fr} AS n,
    SUM(CAST(cm AS DECIMAL(38,0))) OVER {fr} AS s,
    SUM(CAST(cm AS DECIMAL(38,0)) * CAST(cm AS DECIMAL(38,0)))
      OVER {fr} AS s2,
    (cm > lag(cm, 1) OVER d AND cm > lag(cm, 2) OVER d
     AND cm > lead(cm, 1) OVER d AND cm > lead(cm, 2) OVER d)
      AS local_max
  FROM bars
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, day, round(cm / 1e6, 6) AS close,
  round(CAST(CAST(n AS DECIMAL(38,0)) * cm - s AS DOUBLE)
        / sqrt(CAST((CAST(n AS DECIMAL(38,0))
                     * (CAST(n AS DECIMAL(38,0)) * s2 - s * s)
                     / (CAST(n AS DECIMAL(38,0)) - 1)) AS DOUBLE)), 6)
    + 0.0 AS zscore
FROM b
WHERE n = {_PK_WIN} AND local_max
  AND CAST(n AS DECIMAL(38,0)) * cm - s > 0
  AND (CAST(n AS DECIMAL(38,0)) - 1)
      * (CAST(n AS DECIMAL(38,0)) * cm - s)
      * (CAST(n AS DECIMAL(38,0)) * cm - s)
      > {_PK_Z * _PK_Z} * CAST(n AS DECIMAL(38,0))
        * (CAST(n AS DECIMAL(38,0)) * s2 - s * s)
  AND CAST(n AS DECIMAL(38,0)) * s2 - s * s > 0
ORDER BY event_type, day
"""


# --------------------------------------------------- ti_dema_tema

_DT_ALPHA = 0.25
_DT_LAGS = 8


def ti_dema_tema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEMA and TEMA (Mulloy 1994, public) on the daily closes:
    DEMA = 2·E1 − E2, TEMA = 3·E1 − 3·E2 + E3 over chained EMAs —
    the lag-compensated trend lines between the raw EMA and the Hull
    MA in responsiveness.

    Determinism: the ti_trix chain recipe verbatim — each truncated
    adjust=True EMA rounds to 6 dp before feeding the next, so all
    three stages consume identical inputs on both engines; DEMA/TEMA
    are single IEEE combinations of 6-dp terms.

    Scale shape: three lag chains on the ONE shared daily sort."""
    from kp_crypto_market_analytics_spark.operators.indicators import (
        truncated_ema,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumn(
        "cd", F.col("cm").cast("double") / F.lit(1_000_000.0)
    )
    b3 = bars.select("event_type", "day", "cd")
    for src, out in (("cd", "s1"), ("s1", "s2"), ("s2", "s3")):
        b3 = truncated_ema(b3, F.col(src), _wd(), _DT_LAGS, {out: _DT_ALPHA}, 6)
    return (
        b3.select(
            "event_type",
            "day",
            (
                F.round(F.lit(2.0) * F.col("s1") - F.col("s2"), 6)
                + F.lit(0.0)
            ).alias("dema"),
            (
                F.round(
                    F.lit(3.0) * F.col("s1")
                    - F.lit(3.0) * F.col("s2")
                    + F.col("s3"),
                    6,
                )
                + F.lit(0.0)
            ).alias("tema"),
        )
        .orderBy("event_type", "day")
    )


def _ti_dema_tema_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_indicators import (
        _des_ema_sql,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    a, lg = _DT_ALPHA, _DT_LAGS
    return f"""
WITH {DAILY_BARS_CTE}, b0 AS (
  SELECT event_type, day, CAST(cm AS DOUBLE) / 1000000.0 AS cd FROM bars
), b1 AS (
  SELECT event_type, day, round({_des_ema_sql("cd", a, lg)}, 6) AS s1
  FROM b0 WINDOW w AS ({_WD_SQL})
), b2 AS (
  SELECT event_type, day, s1, round({_des_ema_sql("s1", a, lg)}, 6) AS s2
  FROM b1 WINDOW w AS ({_WD_SQL})
), b3 AS (
  SELECT event_type, day, s1, s2,
    round({_des_ema_sql("s2", a, lg)}, 6) AS s3
  FROM b2 WINDOW w AS ({_WD_SQL})
)
SELECT event_type, day,
  round(2.0 * s1 - s2, 6) + 0.0 AS dema,
  round(3.0 * s1 - 3.0 * s2 + s3, 6) + 0.0 AS tema
FROM b3
ORDER BY event_type, day
"""


# ----------------------------------------------------------- ti_tsi

_TSI_A1 = 2.0 / 26.0  # 25-period smoothing
_TSI_A2 = 2.0 / 14.0  # 13-period smoothing
_TSI_LAGS = 8


def ti_tsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Strength Index (Blau 1991, public): TSI = 100·
    EMA13(EMA25(mom)) / EMA13(EMA25(|mom|)) over daily close
    momentum — the double-smoothed momentum oscillator whose
    denominator normalizes to ±100.

    Determinism: momentum is an exact micro-int diff ÷ 1e6 double;
    all four EMA chains are the shared truncated closed form with
    6-dp inter-stage rounding; TSI is ONE IEEE division, masked when
    the smoothed absolute momentum is zero.

    Scale shape: four lag chains on the shared daily sort."""
    from kp_crypto_market_analytics_spark.operators.indicators import (
        truncated_ema,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir).withColumn(
        "__prev_cm", F.lag("cm", 1).over(_wd())
    )
    prev_cm = F.col("__prev_cm")
    mom_u = F.col("cm") - prev_cm
    b = bars.select(
        "event_type",
        "day",
        (mom_u.cast("double") / F.lit(1e6)).alias("m"),
        (F.abs(mom_u).cast("double") / F.lit(1e6)).alias("am"),
    ).where(F.col("m").isNotNull())
    b2 = b
    for src, out, alpha in (
        ("m", "e1m", _TSI_A1), ("am", "e1a", _TSI_A1),
        ("e1m", "e2m", _TSI_A2), ("e1a", "e2a", _TSI_A2),
    ):
        b2 = truncated_ema(b2, F.col(src), _wd(), _TSI_LAGS, {out: alpha}, 6)
    return (
        b2.select(
            "event_type",
            "day",
            F.when(
                F.col("e2a") > 0,
                F.round(F.lit(100.0) * F.col("e2m") / F.col("e2a"), 6)
                + F.lit(0.0),
            ).alias("tsi"),
        )
        .orderBy("event_type", "day")
    )


def _ti_tsi_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_indicators import (
        _des_ema_sql,
    )
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    lg = _TSI_LAGS
    return f"""
WITH {DAILY_BARS_CTE}, b0 AS (
  SELECT * FROM (
    SELECT event_type, day,
      CAST(cm - lag(cm, 1) OVER d AS DOUBLE) / 1e6 AS m,
      CAST(abs(cm - lag(cm, 1) OVER d) AS DOUBLE) / 1e6 AS am
    FROM bars
    WINDOW d AS ({_WD_SQL})
  ) WHERE m IS NOT NULL
), b1 AS (
  SELECT event_type, day,
    round({_des_ema_sql("m", _TSI_A1, lg)}, 6) AS e1m,
    round({_des_ema_sql("am", _TSI_A1, lg)}, 6) AS e1a
  FROM b0 WINDOW w AS ({_WD_SQL})
), b2 AS (
  SELECT event_type, day,
    round({_des_ema_sql("e1m", _TSI_A2, lg)}, 6) AS e2m,
    round({_des_ema_sql("e1a", _TSI_A2, lg)}, 6) AS e2a
  FROM b1 WINDOW w AS ({_WD_SQL})
)
SELECT event_type, day,
  CASE WHEN e2a > 0
       THEN round(100.0 * e2m / e2a, 6) + 0.0 END AS tsi
FROM b2
ORDER BY event_type, day
"""


# ------------------------------------------------ a_jackknife_gini

def a_jackknife_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of daily activity totals WITH a jackknife
    standard error (Quenouille/Tukey, public): G from the rank
    identity 2·Σrᵢxᵢ/(nΣx) − (n+1)/n, and each leave-one-day-out
    replicate Gᵢ in O(1) via prefix sums — S1′ = S1 − rᵢxᵢ −
    (T − cumᵢ), so the jackknife costs one pass, not n recomputes.

    Determinism: totals are exact micro BIGINTs, ranks are the TOTAL
    order (x, day); S1/T/cum fold as DECIMAL(38,0); each Gᵢ is one
    IEEE chain micro-quantized before the variance fold, so the SE is
    a single sqrt over exact integer moments.

    Scale shape: range-partitioned rank + cumsum (no single-partition
    sort), then one |days|-row pass and a scalar agg."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )

    t = load_tables(spark, sf_dir, ["events"])
    daily = (
        ensure_parallelism(t["events"])
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.round(F.col("value") * F.lit(1_000_000.0), 0).cast("long")
            ).alias("x")
        )
    )
    ranked = range_partitioned_rank(
        daily, ["x", "day"], out_col="r", sum_col="x", cumsum_out="cum"
    )
    d = "decimal(38,0)"
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d)).alias("tt"),
        F.sum(F.col("r").cast(d) * F.col("x").cast(d)).alias("s1"),
    )
    j = ranked.crossJoin(F.broadcast(tot))
    n = F.col("n").cast("double")
    tp = (F.col("tt") - F.col("x")).cast("double")
    s1p = (
        F.col("s1")
        - F.col("r").cast(d) * F.col("x").cast(d)
        - (F.col("tt") - F.col("cum").cast(d))
    ).cast("double")
    gi = F.lit(2.0) * s1p / ((n - 1) * tp) - n / (n - 1)
    gu = F.round(
        F.when((F.col("n") > 2) & (tp > 0), gi) * F.lit(1e6), 0
    ).cast("long")
    g = j.select(gu.alias("gu"), "n", "tt", "s1").agg(
        F.max("n").alias("n"),
        F.max("tt").alias("tt"),
        F.max("s1").alias("s1"),
        F.count("gu").alias("ng"),
        F.sum("gu").alias("sgu"),
        F.sum(F.col("gu").cast(d) * F.col("gu").cast(d)).alias("sgu2"),
    )
    nn = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("s1").cast("double")
        / (nn * F.col("tt").cast("double"))
        - (nn + 1) / nn
    )
    ng = F.col("ng").cast("double")
    se = (
        F.sqrt(
            (ng - 1)
            * (
                ng * F.col("sgu2").cast("double")
                - F.col("sgu").cast("double") * F.col("sgu").cast("double")
            )
            / (ng * ng)
        )
        / F.lit(1e6)
    )
    ok = (F.col("n") > 2) & (F.col("tt") > 0) & (F.col("ng") > 1)
    return g.select(
        F.col("n").cast("long").alias("n_days"),
        F.when(ok, F.round(gini, 6) + F.lit(0.0)).alias("gini"),
        F.when(ok, F.round(se, 6) + F.lit(0.0)).alias("jackknife_se"),
    )


def _a_jackknife_gini_sql() -> str:
    return """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
    CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1
), ranked AS (
  SELECT day, x,
    row_number() OVER (ORDER BY x, day) AS r,
    SUM(x) OVER (ORDER BY x, day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM daily
), tot AS (
  SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(38,0))) AS tt,
    SUM(CAST(r AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s1
  FROM ranked
), reps AS (
  SELECT n, tt, s1,
    CAST(round(CASE WHEN n > 2 AND CAST(tt - x AS DOUBLE) > 0 THEN
      2.0 * CAST(s1 - CAST(r AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
                 - (tt - CAST(cum AS DECIMAL(38,0))) AS DOUBLE)
      / ((CAST(n AS DOUBLE) - 1) * CAST(tt - x AS DOUBLE))
      - CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1) END * 1e6, 0)
      AS BIGINT) AS gu
  FROM ranked, tot
), g AS (
  SELECT MAX(n) AS n, MAX(tt) AS tt, MAX(s1) AS s1,
    COUNT(gu) AS ng, SUM(gu) AS sgu,
    SUM(CAST(gu AS DECIMAL(38,0)) * CAST(gu AS DECIMAL(38,0))) AS sgu2
  FROM reps
)
SELECT CAST(n AS BIGINT) AS n_days,
  CASE WHEN n > 2 AND tt > 0 AND ng > 1 THEN
    round(2.0 * CAST(s1 AS DOUBLE)
          / (CAST(n AS DOUBLE) * CAST(tt AS DOUBLE))
          - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE), 6) + 0.0
  END AS gini,
  CASE WHEN n > 2 AND tt > 0 AND ng > 1 THEN
    round(sqrt((CAST(ng AS DOUBLE) - 1)
      * (CAST(ng AS DOUBLE) * CAST(sgu2 AS DOUBLE)
         - CAST(sgu AS DOUBLE) * CAST(sgu AS DOUBLE))
      / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE))) / 1e6, 6) + 0.0
  END AS jackknife_se
FROM g
"""


# -------------------------------------------- e_triplet_violations

_TRIP_ANCHORS = 50
_TRIP_MARGIN_U = 50_000  # 0.05 in micro-cosine units


def e_triplet_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-margin audit of the labeled embedding space (the
    FaceNet/metric-learning loss read as a metric, Schroff 2015,
    public): per anchor (vec_id < 50), the hardest positive is the
    most-similar same-label vector and the hardest negative the
    most-similar other-label vector; a violation is cos(a,n) + 0.05 >
    cos(a,p).  Census: violation ppm + mean margin deficit — the
    would-this-space-train signal next to e_knn_eval.

    Determinism: cosines are 6-dp rounded (exact micro ints), argmaxes
    use (cos DESC, vec_id) total orders, and the deficit cn − cp +
    margin stays in exact micro integers end-to-end; ppm is the
    half-away division.

    Scale shape: eval-tier bounded anchors × corpus scoring (the
    sim_bruteforce contract); per-anchor argmax windows are
    anchor-partitioned."""
    from kp_crypto_market_analytics_spark.functions.vectors import (
        cosine,
        to_double_array,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away

    t = load_tables(spark, sf_dir, ["embeddings"])
    emb = ensure_parallelism(t["embeddings"]).select(
        "vec_id", to_double_array("embedding").alias("v"), "label"
    )
    anchors = emb.where(F.col("vec_id") < _TRIP_ANCHORS).select(
        F.col("vec_id").alias("aid"),
        F.col("v").alias("av"),
        F.col("label").alias("alabel"),
    )
    scored = emb.crossJoin(F.broadcast(anchors)).where(
        F.col("vec_id") != F.col("aid")
    ).select(
        "aid",
        "alabel",
        "vec_id",
        (F.col("label") == F.col("alabel")).alias("same"),
        F.round(cosine(F.col("av"), F.col("v")) * F.lit(1e6), 0)
        .cast("long")
        .alias("cu"),
    )
    w = Window.partitionBy("aid", "same").orderBy(
        F.col("cu").desc(), F.col("vec_id").asc()
    )
    best = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    pos = best.where(F.col("same")).select("aid", F.col("cu").alias("cp"))
    neg = best.where(~F.col("same")).select("aid", F.col("cu").alias("cn"))
    trip = pos.join(neg, "aid")
    deficit = F.col("cn") - F.col("cp") + F.lit(_TRIP_MARGIN_U)
    g = trip.select(
        "aid",
        deficit.alias("du"),
    ).agg(
        F.count(F.lit(1)).alias("na"),
        F.sum((F.col("du") > 0).cast("long")).alias("nv"),
        F.sum(F.when(F.col("du") > 0, F.col("du")).otherwise(F.lit(0)))
        .alias("sdef"),
    )
    d = "decimal(38,0)"
    ppm = _half_away(
        F.col("nv").cast(d) * F.lit(1_000_000).cast(d), F.col("na").cast(d)
    )
    return g.select(
        F.col("na").cast("long").alias("n_anchors"),
        F.col("nv").cast("long").alias("n_violations"),
        ppm.cast("long").alias("violation_ppm"),
        F.when(
            F.col("nv") > 0,
            F.round(
                F.col("sdef").cast("double")
                / (F.col("nv").cast("double") * F.lit(1e6)),
                6,
            )
            + F.lit(0.0),
        ).alias("mean_deficit"),
    )


def _e_triplet_violations_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away

    ppm = _sql_half_away("nv * 1000000", "na")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
), anchors AS (
  SELECT vec_id AS aid, v AS av, label AS alabel FROM e
  WHERE vec_id < {_TRIP_ANCHORS}
), scored AS (
  SELECT a.aid, e.vec_id, e.label = a.alabel AS same,
    CAST(round(list_cosine_similarity(a.av, e.v) * 1e6, 0) AS BIGINT)
      AS cu
  FROM anchors a, e WHERE e.vec_id <> a.aid
), best AS (
  SELECT aid, same, cu,
    row_number() OVER (PARTITION BY aid, same
                       ORDER BY cu DESC, vec_id) AS rk
  FROM scored
), trip AS (
  SELECT p.aid, p.cu AS cp, n.cu AS cn
  FROM (SELECT aid, cu FROM best WHERE same AND rk = 1) p
  JOIN (SELECT aid, cu FROM best WHERE NOT same AND rk = 1) n
  USING (aid)
), g AS (
  SELECT COUNT(*) AS na,
    SUM(CASE WHEN cn - cp + {_TRIP_MARGIN_U} > 0 THEN 1 ELSE 0 END) AS nv,
    SUM(CASE WHEN cn - cp + {_TRIP_MARGIN_U} > 0
        THEN cn - cp + {_TRIP_MARGIN_U} ELSE 0 END) AS sdef
  FROM trip
)
SELECT CAST(na AS BIGINT) AS n_anchors, CAST(nv AS BIGINT) AS n_violations,
  {ppm} AS violation_ppm,
  CASE WHEN nv > 0 THEN
    round(CAST(sdef AS DOUBLE) / (CAST(nv AS DOUBLE) * 1e6), 6) + 0.0
  END AS mean_deficit
FROM g
"""


# ------------------------------------------------- g_eigenvector

_EIG_ITERS = 3
_EIG_PREC = 10


def g_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by eigenvector centrality (Bonacich 1972, public)
    on the unweighted symmetrized co-purchase graph: three power
    iterations x ← A·x / mean(A·x) from x₀ = 1 (L1 normalization to
    |V| keeps magnitudes O(1) without a sqrt).

    Determinism: each iterate's neighbor fold is DECIMAL(28,12) over
    10-dp inputs (exact ⇒ order-free); the normalizer Σy is the same
    exact decimal, so x = y·|V|/Σy is one IEEE division per node per
    iteration, rounded to 10 dp — the oracle unrolls identically.

    Scale shape: the pagerank skinny-join shape — one (node, x) table
    re-joined per iteration."""
    from kp_crypto_market_analytics_spark.queries_graph import (
        _copurchase_pairs,
    )

    pairs = _copurchase_pairs(spark, sf_dir)
    edges = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("nv"))
    x = nodes.select("node", F.lit(1.0).alias("x"))
    dec = "decimal(28,12)"
    for _ in range(_EIG_ITERS):
        y = (
            edges.join(x.withColumnRenamed("node", "s2"), F.col("src") == F.col("s2"))
            .groupBy("dst")
            .agg(F.sum(F.col("x").cast(dec)).alias("y"))
        )
        s = y.agg(F.sum("y").alias("s"))
        x = (
            nodes.join(y, nodes["node"] == y["dst"], "left")
            .crossJoin(F.broadcast(s))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("y").cast("double"), F.lit(0.0))
                    * F.col("nv")
                    / F.col("s").cast("double"),
                    _EIG_PREC,
                ).alias("x"),
            )
        )
    return (
        x.select(
            F.col("node").alias("part"),
            (F.round("x", 6) + F.lit(0.0)).alias("eigen_score"),
        )
        .orderBy(F.col("eigen_score").desc(), F.col("part").asc())
        .limit(20)
    )


def _g_eigenvector_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.copurchase import (
        PAIRS_SQL,
    )

    parts = [f"""
WITH {PAIRS_SQL}, edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM pairs UNION ALL SELECT v, u FROM pairs
), nodes AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
), nn AS (SELECT COUNT(*) AS nv FROM nodes),
x0 AS (
  SELECT node, 1.0 AS x FROM nodes
)"""]
    for i in range(1, _EIG_ITERS + 1):
        parts.append(f""", y{i} AS (
  SELECT dst, SUM(CAST(x AS DECIMAL(28,12))) AS y
  FROM edges JOIN x{i - 1} p ON edges.src = p.node GROUP BY dst
), s{i} AS (SELECT SUM(y) AS s FROM y{i}),
x{i} AS (
  SELECT node,
    round(coalesce(CAST(y AS DOUBLE), 0.0) * nv / CAST(s AS DOUBLE),
          {_EIG_PREC}) AS x
  FROM nodes LEFT JOIN y{i} ON y{i}.dst = nodes.node, s{i}, nn
)""")
    parts.append(f"""
SELECT node AS part, round(x, 6) + 0.0 AS eigen_score
FROM x{_EIG_ITERS}
ORDER BY eigen_score DESC, part
LIMIT 20
""")
    return "".join(parts)


# ---------------------------------------------------- a_cohen_h

def a_cohen_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h effect size (Cohen 1988, public) for the
    weekend-vs-weekday large-event rate: h = 2·asin√p₁ − 2·asin√p₂
    with "large" = value above the global mean — the
    proportion-difference effect size on the variance-stabilized
    scale, the companion to a_cohens_d for rates.

    Determinism: the large predicate compares exact integers
    (vm·N > Σvm — no mean division); both rates are single IEEE
    divisions of exact counts, and the arcsine chain is ONE identical
    IEEE expression per engine rounded to 6 dp (same 1-ulp exposure
    class as the repo's ln/exp recipes).

    Scale shape: one scalar agg broadcast over the scan, one 2-row
    group, one final select."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        F.dayofweek("ts").isin(1, 7).alias("weekend"),
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    tot = e.agg(F.count(F.lit(1)).alias("nn"), F.sum("vm").alias("sv"))
    j = e.crossJoin(F.broadcast(tot))
    large = (F.col("vm").cast("decimal(38,0)") * F.col("nn")) > F.col(
        "sv"
    ).cast("decimal(38,0)")
    g = j.groupBy("weekend").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(large.cast("long")).alias("k"),
    )
    we = g.where(F.col("weekend")).select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    wd = g.where(~F.col("weekend")).select(
        F.col("n").alias("n2"), F.col("k").alias("k2")
    )
    x = we.crossJoin(wd)
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    h = F.lit(2.0) * F.asin(F.sqrt(p1)) - F.lit(2.0) * F.asin(F.sqrt(p2))
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return x.select(
        F.col("n1").cast("long").alias("n_weekend"),
        F.col("n2").cast("long").alias("n_weekday"),
        F.when(ok, F.round(p1, 6) + F.lit(0.0)).alias("rate_weekend"),
        F.when(ok, F.round(p2, 6) + F.lit(0.0)).alias("rate_weekday"),
        F.when(ok, F.round(h, 6) + F.lit(0.0)).alias("cohens_h"),
    )


def _a_cohen_h_sql() -> str:
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek(ts):
    # 0=Sunday..6=Saturday — weekend is {{Sun, Sat}} on both.
    return """
WITH e AS (
  SELECT dayofweek(ts) IN (0, 6) AS weekend,
    CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
), tot AS (
  SELECT COUNT(*) AS nn, SUM(vm) AS sv FROM e
), g AS (
  SELECT weekend, COUNT(*) AS n,
    SUM(CASE WHEN CAST(vm AS DECIMAL(38,0)) * nn
             > CAST(sv AS DECIMAL(38,0)) THEN 1 ELSE 0 END) AS k
  FROM e, tot GROUP BY weekend
), x AS (
  SELECT
    (SELECT n FROM g WHERE weekend) AS n1,
    (SELECT k FROM g WHERE weekend) AS k1,
    (SELECT n FROM g WHERE NOT weekend) AS n2,
    (SELECT k FROM g WHERE NOT weekend) AS k2
)
SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(n2 AS BIGINT) AS n_weekday,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    round(CAST(k1 AS DOUBLE) / n1, 6) + 0.0 END AS rate_weekend,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    round(CAST(k2 AS DOUBLE) / n2, 6) + 0.0 END AS rate_weekday,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    round(2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / n1))
          - 2.0 * asin(sqrt(CAST(k2 AS DOUBLE) / n2)), 6) + 0.0
  END AS cohens_h
FROM x
"""


# ---------------------------------------------------- a_qq_deciles

def a_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile decile table between the click and view
    daily-total distributions: for d = 1..9, the empirical d-th decile
    of each group by the exact order statistic at rank ⌈d·n/10⌉ and
    their ratio — the where-do-the-distributions-diverge view that one
    KS number hides.

    Determinism: deciles are exact order statistics picked by integer
    rank on the (x, day) total order — no interpolation, no floats in
    the selection; the ratio is ONE IEEE division of micro ints.

    Scale shape: per-group rank windows over calendar-bounded daily
    frames, one 9-row broadcast decile spine."""
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
        _daily_cells_df,
    )

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    )
    w = Window.partitionBy("event_type").orderBy("cell", "day")
    wall = Window.partitionBy("event_type")
    ranked = cells.select(
        "event_type",
        "cell",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    dec = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    j = ranked.join(
        F.broadcast(dec),
        F.col("rn")
        == F.call_function(
            "div", F.col("d") * F.col("n") + F.lit(9), F.lit(10)
        ),
    )
    a = j.where(F.col("event_type") == _PAIR_A).select(
        "d", F.col("cell").alias("qa")
    )
    b = j.where(F.col("event_type") == _PAIR_B).select(
        "d", F.col("cell").alias("qb")
    )
    out = a.join(b, "d", "full")
    return out.select(
        "d",
        F.round(F.col("qa") / F.lit(1e6), 6).alias("q_click"),
        F.round(F.col("qb") / F.lit(1e6), 6).alias("q_view"),
        F.when(
            F.col("qb") > 0,
            F.round(F.col("qa").cast("double") / F.col("qb"), 6)
            + F.lit(0.0),
        ).alias("qq_ratio"),
    ).orderBy("d")


def _a_qq_deciles_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH {_CELLS_CTE}, ranked AS (
  SELECT event_type, cell,
    row_number() OVER (PARTITION BY event_type ORDER BY cell, day)
      AS rn,
    COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM cells WHERE event_type IN ('{_PAIR_A}', '{_PAIR_B}')
), dec AS (
  SELECT UNNEST(range(1, 10)) AS d
), j AS (
  SELECT d, event_type, cell
  FROM ranked JOIN dec ON rn = (d * n + 9) // 10
), a AS (
  SELECT d, cell AS qa FROM j WHERE event_type = '{_PAIR_A}'
), b AS (
  SELECT d, cell AS qb FROM j WHERE event_type = '{_PAIR_B}'
)
SELECT CAST(d AS INT) AS d,
  round(qa / 1e6, 6) AS q_click,
  round(qb / 1e6, 6) AS q_view,
  CASE WHEN qb > 0 THEN
    round(CAST(qa AS DOUBLE) / qb, 6) + 0.0 END AS qq_ratio
FROM a FULL JOIN b USING (d)
ORDER BY d
"""


# -------------------------------------------------------------- ti_rvi

_RVI_N = 10


def ti_rvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Vigor Index (Dorsey 2002, public): SMA₁₀(C−O) /
    SMA₁₀(H−L) on the daily bars — closes above opens in rising
    markets regardless of the bar's range, so the ratio oscillates
    around zero with trend conviction.

    Determinism: the daily open is the FIRST tick by the total
    (ts, event_id) order (the close picker mirrored); C−O and H−L
    are exact micro BIGINTs, both 10-day sums fold as integers, and
    RVI is ONE IEEE division masked on a zero range sum.

    Scale shape: the bars build gains one more day-bounded window
    (open picker); the indicator is one frame pass."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )
    from kp_crypto_market_analytics_spark.session import load_tables as _lt

    bars = _daily_bars_df(spark, sf_dir)
    t = _lt(spark, sf_dir, ["events"])
    wo = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    opens = (
        ensure_parallelism(t["events"])
        .select(
            "event_type",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.round(F.col("value") * F.lit(1_000_000.0), 0)
            .cast("long")
            .alias("vm"),
        )
        .withColumn("__rn", F.row_number().over(wo))
        .where(F.col("__rn") == 1)
        .select("event_type", "day", F.col("vm").alias("om"))
    )
    b = bars.join(opens, ["event_type", "day"]).select(
        "event_type",
        "day",
        (F.col("cm") - F.col("om")).alias("co"),
        (F.col("hm") - F.col("lm")).alias("hl"),
    )
    fr = _wd().rowsBetween(-(_RVI_N - 1), 0)
    b = b.withColumns(
        {
            "__sco": F.sum("co").over(fr),
            "__shl": F.sum("hl").over(fr),
            "__n": F.count("co").over(fr),
        }
    )
    sco, shl, n = F.col("__sco"), F.col("__shl"), F.col("__n")
    ok = (n == _RVI_N) & (shl > 0)
    return (
        b.select(
            "event_type",
            "day",
            F.when(
                ok,
                F.round(sco.cast("double") / shl, 6) + F.lit(0.0),
            ).alias("rvi"),
        )
        .orderBy("event_type", "day")
    )


def _ti_rvi_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    fr = f"(d ROWS BETWEEN {_RVI_N - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, opens AS (
  SELECT event_type, day, vm AS om FROM (
    SELECT event_type, CAST(ts AS DATE) AS day,
      CAST(round(value * 1000000) AS BIGINT) AS vm,
      row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                         ORDER BY ts ASC, event_id ASC) AS rn
    FROM events
  ) WHERE rn = 1
), b AS (
  SELECT bars.event_type, bars.day, cm - om AS co, hm - lm AS hl
  FROM bars JOIN opens
    ON bars.event_type = opens.event_type AND bars.day = opens.day
)
SELECT event_type, day,
  CASE WHEN COUNT(co) OVER {fr} = {_RVI_N}
        AND SUM(hl) OVER {fr} > 0
       THEN round(CAST(SUM(co) OVER {fr} AS DOUBLE)
                  / SUM(hl) OVER {fr}, 6) + 0.0
  END AS rvi
FROM b
WINDOW d AS ({_WD_SQL})
ORDER BY event_type, day
"""


# ---------------------------------------------- a_wald_wolfowitz

def a_wald_wolfowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz two-sample runs test (1940, public) between the
    click and view daily totals: sort the pooled sample, count runs of
    same-group labels — too FEW runs means the distributions separate
    (any difference in location, scale, or shape shortens runs).

    Determinism: the pooled order is the TOTAL order (cell, day,
    event_type); the runs count is an exact integer window fold; the
    null moments µ = 2nm/N + 1 and σ² = 2nm(2nm−N)/(N²(N−1)) enter
    ONE IEEE expression of exact integers.

    Scale shape: range-partitioned rank + one lag pass over the
    calendar-bounded pooled frame, then a scalar agg."""
    from kp_crypto_market_analytics_spark.operators.layout import (
        range_partitioned_rank,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _PAIR_A,
        _PAIR_B,
        _daily_cells_df,
    )

    cells = _daily_cells_df(spark, sf_dir).where(
        F.col("event_type").isin(_PAIR_A, _PAIR_B)
    )
    ranked = range_partitioned_rank(
        cells, ["cell", "day", "event_type"], out_col="rn"
    )
    w = Window.orderBy("rn")
    lab = (F.col("event_type") == _PAIR_A).cast("int")
    stepped = ranked.select(
        lab.alias("g"),
        F.lag(lab).over(w).alias("pg"),
    )
    agg = stepped.agg(
        F.count(F.lit(1)).alias("nn"),
        F.sum("g").alias("n"),
        F.sum(
            F.when(
                F.col("pg").isNull() | (F.col("g") != F.col("pg")),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("runs"),
    )
    nn = F.col("nn").cast("double")
    n = F.col("n").cast("double")
    m = (F.col("nn") - F.col("n")).cast("double")
    mu = F.lit(2.0) * n * m / nn + F.lit(1.0)
    var = (
        F.lit(2.0)
        * n
        * m
        * (F.lit(2.0) * n * m - nn)
        / (nn * nn * (nn - F.lit(1.0)))
    )
    ok = (F.col("n") > 0) & ((F.col("nn") - F.col("n")) > 0) & (var > 0)
    return agg.select(
        F.col("nn").cast("long").alias("n_total"),
        F.col("n").cast("long").alias("n_a"),
        F.col("runs").cast("long").alias("n_runs"),
        F.when(
            ok,
            F.round((F.col("runs") - mu) / F.sqrt(var), 6) + F.lit(0.0),
        ).alias("z"),
    )


def _a_wald_wolfowitz_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r11 import (
        _CELLS_CTE,
        _PAIR_A,
        _PAIR_B,
    )

    return f"""
WITH {_CELLS_CTE}, pooled AS (
  SELECT CASE WHEN event_type = '{_PAIR_A}' THEN 1 ELSE 0 END AS g,
    row_number() OVER (ORDER BY cell, day, event_type) AS rn
  FROM cells WHERE event_type IN ('{_PAIR_A}', '{_PAIR_B}')
), stepped AS (
  SELECT g, lag(g) OVER (ORDER BY rn) AS pg FROM pooled
), agg AS (
  SELECT COUNT(*) AS nn, SUM(g) AS n,
    SUM(CASE WHEN pg IS NULL OR g <> pg THEN 1 ELSE 0 END) AS runs
  FROM stepped
)
SELECT CAST(nn AS BIGINT) AS n_total, CAST(n AS BIGINT) AS n_a,
  CAST(runs AS BIGINT) AS n_runs,
  CASE WHEN n > 0 AND nn - n > 0 AND
    (2.0 * CAST(n AS DOUBLE) * (nn - n)
     * (2.0 * CAST(n AS DOUBLE) * (nn - n) - nn)
     / (CAST(nn AS DOUBLE) * nn * (CAST(nn AS DOUBLE) - 1.0))) > 0
  THEN round(
    (runs - (2.0 * CAST(n AS DOUBLE) * (nn - n) / nn + 1.0))
    / sqrt(2.0 * CAST(n AS DOUBLE) * (nn - n)
           * (2.0 * CAST(n AS DOUBLE) * (nn - n) - nn)
           / (CAST(nn AS DOUBLE) * nn * (CAST(nn AS DOUBLE) - 1.0))),
    6) + 0.0
  END AS z
FROM agg
"""


# ---------------------------------------------------- ti_ma_cross

_MAC_FAST = 5
_MAC_SLOW = 20


def ti_ma_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover state table (the golden/death-cross
    signal, classic technical folklore): per day, the SMA-5 vs
    SMA-20 spread of the daily close plus the crossing signal when
    one fires — the discrete trading signal the backtest family
    consumes.  The full state table is emitted (not just crossing
    days) so the gate can never be vacuous on a trend-only series —
    the round-2 j_anti_customers lesson.

    Determinism: the cross test compares exact integer numerators on
    the common denominator 20 (4·Σ₅ vs Σ₂₀) — no float enters the
    decision; the reported spread is ONE IEEE expression.

    Scale shape: two frame sums + one lag on the shared daily sort,
    then a filter to signal days."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    f_fr = w.rowsBetween(-(_MAC_FAST - 1), 0)
    s_fr = w.rowsBetween(-(_MAC_SLOW - 1), 0)
    # diff = 4·Σ5 − Σ20: positive ⇔ SMA5 > SMA20 (common denom 20)
    diff = F.lit(4) * F.sum("cm").over(f_fr) - F.sum("cm").over(s_fr)
    n = F.count("cm").over(s_fr)
    b = bars.select(
        "event_type",
        "day",
        F.when(n == _MAC_SLOW, diff).alias("d"),
    )
    b = b.withColumn("__prev", F.lag("d").over(w))
    prev = F.col("__prev")
    sig = F.when(
        (F.col("d") > 0) & (prev <= 0), F.lit("golden")
    ).when((F.col("d") < 0) & (prev >= 0), F.lit("death"))
    return (
        b.select(
            "event_type",
            "day",
            sig.alias("signal"),
            (F.round(F.col("d") / F.lit(20e6), 6) + F.lit(0.0)).alias(
                "ma_spread"
            ),
        )
        .where(F.col("d").isNotNull())
        .orderBy("event_type", "day")
    )


def _ti_ma_cross_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    f_fr = f"(d ROWS BETWEEN {_MAC_FAST - 1} PRECEDING AND CURRENT ROW)"
    s_fr = f"(d ROWS BETWEEN {_MAC_SLOW - 1} PRECEDING AND CURRENT ROW)"
    return f"""
WITH {DAILY_BARS_CTE}, b AS (
  SELECT event_type, day,
    CASE WHEN COUNT(cm) OVER {s_fr} = {_MAC_SLOW}
         THEN 4 * SUM(cm) OVER {f_fr} - SUM(cm) OVER {s_fr} END AS dd
  FROM bars
  WINDOW d AS ({_WD_SQL})
), s AS (
  SELECT event_type, day, dd, lag(dd) OVER d AS prev
  FROM b
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, day,
  CASE WHEN dd > 0 AND prev <= 0 THEN 'golden'
       WHEN dd < 0 AND prev >= 0 THEN 'death' END AS signal,
  round(dd / 20000000.0, 6) + 0.0 AS ma_spread
FROM s
WHERE dd IS NOT NULL
ORDER BY event_type, day
"""


# ------------------------------------------- a_capture_recapture

def a_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate (Chapman 1951, public) of
    the active-user universe from the first and last calendar days:
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with m the users seen on BOTH days —
    the ecology estimator data teams reuse to size a population from
    two overlapping samples, with its closed-form variance.

    Determinism: all four counts are exact integers; N̂ and its SE
    are single IEEE chains, rounded at 6 dp.

    Scale shape: two day-filtered distinct aggs + one semi-join —
    day predicates prune to the scan."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    days = e.agg(
        F.min("day").alias("d1"), F.max("day").alias("d2")
    )
    j = e.crossJoin(F.broadcast(days))
    s1 = j.where(F.col("day") == F.col("d1")).select("user_id").distinct()
    s2 = j.where(F.col("day") == F.col("d2")).select("user_id").distinct()
    both = s1.join(s2, "user_id", "left_semi")
    g = (
        s1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(both.agg(F.count(F.lit(1)).alias("m")))
    )
    n1 = (F.col("n1") + 1).cast("double")
    n2 = (F.col("n2") + 1).cast("double")
    m1 = (F.col("m") + 1).cast("double")
    nhat = n1 * n2 / m1 - F.lit(1.0)
    var = (
        n1
        * n2
        * (n1 - m1)
        * (n2 - m1)
        / (m1 * m1 * (m1 + F.lit(1.0)))
    )
    ok = (F.col("n1") > 0) & (F.col("n2") > 0)
    return g.select(
        F.col("n1").cast("long").alias("n_day1"),
        F.col("n2").cast("long").alias("n_day2"),
        F.col("m").cast("long").alias("n_both"),
        F.when(ok, F.round(nhat, 6) + F.lit(0.0)).alias("chapman_nhat"),
        F.when(
            ok & (var >= 0), F.round(F.sqrt(var), 6) + F.lit(0.0)
        ).alias("chapman_se"),
    )


def _a_capture_recapture_sql() -> str:
    return """
WITH e AS (
  SELECT CAST(ts AS DATE) AS day, user_id FROM events
), days AS (
  SELECT MIN(day) AS d1, MAX(day) AS d2 FROM e
), s1 AS (
  SELECT DISTINCT user_id FROM e, days WHERE day = d1
), s2 AS (
  SELECT DISTINCT user_id FROM e, days WHERE day = d2
), g AS (
  SELECT (SELECT COUNT(*) FROM s1) AS n1,
    (SELECT COUNT(*) FROM s2) AS n2,
    (SELECT COUNT(*) FROM s1 WHERE user_id IN (SELECT user_id FROM s2))
      AS m
)
SELECT CAST(n1 AS BIGINT) AS n_day1, CAST(n2 AS BIGINT) AS n_day2,
  CAST(m AS BIGINT) AS n_both,
  CASE WHEN n1 > 0 AND n2 > 0 THEN
    round((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
          / (CAST(m AS DOUBLE) + 1) - 1.0, 6) + 0.0
  END AS chapman_nhat,
  CASE WHEN n1 > 0 AND n2 > 0 AND
    ((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
     * (CAST(n1 AS DOUBLE) + 1 - (CAST(m AS DOUBLE) + 1))
     * (CAST(n2 AS DOUBLE) + 1 - (CAST(m AS DOUBLE) + 1))
     / ((CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 1)
        * (CAST(m AS DOUBLE) + 2))) >= 0
  THEN round(sqrt((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
     * (CAST(n1 AS DOUBLE) + 1 - (CAST(m AS DOUBLE) + 1))
     * (CAST(n2 AS DOUBLE) + 1 - (CAST(m AS DOUBLE) + 1))
     / ((CAST(m AS DOUBLE) + 1) * (CAST(m AS DOUBLE) + 1)
        * (CAST(m AS DOUBLE) + 2))), 6) + 0.0
  END AS chapman_se
FROM g
"""


# ---------------------------------------------- a_two_proportion_z

def a_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled; standard intro-stats, public)
    for the weekend-vs-weekday large-event rate — the inferential
    companion to a_cohen_h's effect size on the SAME exact counts:
    z = (p₁−p₂)/√(p̄(1−p̄)(1/n₁+1/n₂)).

    Determinism: identical integer-exact predicate (vm·N > Σvm);
    the z is ONE IEEE chain over the four exact counts.

    Scale shape: one scalar agg broadcast over the scan, one 2-row
    group."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"]).select(
        F.dayofweek("ts").isin(1, 7).alias("weekend"),
        F.round(F.col("value") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("vm"),
    )
    tot = e.agg(F.count(F.lit(1)).alias("nn"), F.sum("vm").alias("sv"))
    j = e.crossJoin(F.broadcast(tot))
    large = (F.col("vm").cast("decimal(38,0)") * F.col("nn")) > F.col(
        "sv"
    ).cast("decimal(38,0)")
    g = j.groupBy("weekend").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(large.cast("long")).alias("k"),
    )
    we = g.where(F.col("weekend")).select(
        F.col("n").alias("n1"), F.col("k").alias("k1")
    )
    wd = g.where(~F.col("weekend")).select(
        F.col("n").alias("n2"), F.col("k").alias("k2")
    )
    x = we.crossJoin(wd)
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    k1, k2 = F.col("k1").cast("double"), F.col("k2").cast("double")
    pbar = (k1 + k2) / (n1 + n2)
    var = pbar * (F.lit(1.0) - pbar) * (F.lit(1.0) / n1 + F.lit(1.0) / n2)
    ok = (F.col("n1") > 0) & (F.col("n2") > 0) & (var > 0)
    return x.select(
        F.col("n1").cast("long").alias("n_weekend"),
        F.col("k1").cast("long").alias("k_weekend"),
        F.col("n2").cast("long").alias("n_weekday"),
        F.col("k2").cast("long").alias("k_weekday"),
        F.when(
            ok,
            F.round((k1 / n1 - k2 / n2) / F.sqrt(var), 6) + F.lit(0.0),
        ).alias("z"),
    )


def _a_two_proportion_z_sql() -> str:
    return """
WITH e AS (
  SELECT dayofweek(ts) IN (0, 6) AS weekend,
    CAST(round(value * 1000000) AS BIGINT) AS vm
  FROM events
), tot AS (
  SELECT COUNT(*) AS nn, SUM(vm) AS sv FROM e
), g AS (
  SELECT weekend, COUNT(*) AS n,
    SUM(CASE WHEN CAST(vm AS DECIMAL(38,0)) * nn
             > CAST(sv AS DECIMAL(38,0)) THEN 1 ELSE 0 END) AS k
  FROM e, tot GROUP BY weekend
), x AS (
  SELECT
    (SELECT n FROM g WHERE weekend) AS n1,
    (SELECT k FROM g WHERE weekend) AS k1,
    (SELECT n FROM g WHERE NOT weekend) AS n2,
    (SELECT k FROM g WHERE NOT weekend) AS k2
)
SELECT CAST(n1 AS BIGINT) AS n_weekend, CAST(k1 AS BIGINT) AS k_weekend,
  CAST(n2 AS BIGINT) AS n_weekday, CAST(k2 AS BIGINT) AS k_weekday,
  CASE WHEN n1 > 0 AND n2 > 0 AND
    ((CAST(k1 AS DOUBLE) + k2) / (CAST(n1 AS DOUBLE) + n2))
    * (1.0 - (CAST(k1 AS DOUBLE) + k2) / (CAST(n1 AS DOUBLE) + n2))
    * (1.0 / n1 + 1.0 / n2) > 0
  THEN round(
    (CAST(k1 AS DOUBLE) / n1 - CAST(k2 AS DOUBLE) / n2)
    / sqrt(((CAST(k1 AS DOUBLE) + k2) / (CAST(n1 AS DOUBLE) + n2))
      * (1.0 - (CAST(k1 AS DOUBLE) + k2) / (CAST(n1 AS DOUBLE) + n2))
      * (1.0 / n1 + 1.0 / n2)), 6) + 0.0
  END AS z
FROM x
"""


# --------------------------------------------------- ti_chaikin_osc

_CHO_FAST = 2.0 / 4.0   # EMA-3 smoothing
_CHO_SLOW = 2.0 / 11.0  # EMA-10 smoothing
_CHO_LAGS = 8


def ti_chaikin_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin oscillator (Chaikin 1981-era folklore, public):
    EMA3 − EMA10 of the accumulation/distribution line, where ADL is
    the running sum of money-flow volume MFV = vol·(2C−H−L)/(H−L) —
    the volume-flow momentum gauge built on the same MFM the CMF
    family uses.

    Determinism: each day's MFV quantizes to a micro BIGINT (exact
    rational (2C−H−L)/(H−L) times volume, half-away), the ADL cumsum
    folds as exact integers, and both EMA chains are the shared
    truncated closed form over the 6-dp ADL.

    Scale shape: one calendar-bounded cumsum + two lag chains on the
    shared daily sort."""
    from kp_crypto_market_analytics_spark.operators.indicators import (
        truncated_ema,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import _half_away
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    d = "decimal(38,0)"
    mfm_num = (
        F.lit(2) * F.col("cm") - F.col("hm") - F.col("lm")
    ).cast(d) * F.col("vol").cast(d) * F.lit(1_000_000).cast(d)
    mfm_den = (F.col("hm") - F.col("lm")).cast(d)
    mfv_u = F.when(
        F.col("hm") > F.col("lm"), _half_away(mfm_num, mfm_den)
    ).otherwise(F.lit(0))
    b = bars.select("event_type", "day", mfv_u.alias("mfv_u"))
    wc = _wd().rowsBetween(Window.unboundedPreceding, 0)
    adl = (
        F.sum("mfv_u").over(wc).cast("double") / F.lit(1e6)
    )
    b = b.select("event_type", "day", F.round(adl, 6).alias("adl"))
    b = truncated_ema(
        b, F.col("adl"), _wd(), _CHO_LAGS, {"__fast": _CHO_FAST, "__slow": _CHO_SLOW}, 6
    )
    fast, slow = F.col("__fast"), F.col("__slow")
    return (
        b.select(
            "event_type",
            "day",
            "adl",
            (F.round(fast - slow, 6) + F.lit(0.0)).alias("chaikin_osc"),
        )
        .orderBy("event_type", "day")
    )


def _ti_chaikin_osc_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_indicators import (
        _des_ema_sql,
    )
    from kp_crypto_market_analytics_spark.queries_r11 import _sql_half_away
    from kp_crypto_market_analytics_spark.queries_r9 import (
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    # HUGEINT before the micro multiply: (2C−H−L)·vol·1e6 overflows
    # INT64 at sf0.1 volumes
    mfv = _sql_half_away(
        "CAST(2 * cm - hm - lm AS HUGEINT) * vol * 1000000", "hm - lm"
    )
    return f"""
WITH {DAILY_BARS_CTE}, m AS (
  SELECT event_type, day,
    CASE WHEN hm > lm THEN {mfv} ELSE 0 END AS mfv_u
  FROM bars
), a AS (
  SELECT event_type, day,
    round(CAST(SUM(mfv_u) OVER (d ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS DOUBLE) / 1e6, 6)
      AS adl
  FROM m
  WINDOW d AS ({_WD_SQL})
)
SELECT event_type, day, adl,
  round(round({_des_ema_sql("adl", _CHO_FAST, _CHO_LAGS)}, 6)
        - round({_des_ema_sql("adl", _CHO_SLOW, _CHO_LAGS)}, 6), 6)
    + 0.0 AS chaikin_osc
FROM a
WINDOW w AS ({_WD_SQL})
ORDER BY event_type, day
"""


REGISTRY = (
    (ti_hma, _ti_hma_sql()),
    (ti_vwma, _ti_vwma_sql()),
    (ti_stoch_rsi, _ti_stoch_rsi_sql()),
    (ti_elder_ray, _ti_elder_ray_sql()),
    (ti_omega_ratio, _ti_omega_ratio_sql()),
    (ti_treynor, _ti_treynor_sql()),
    (ti_dd_duration, _ti_dd_duration_sql()),
    (a_wasserstein_1d, _a_wasserstein_1d_sql()),
    (a_kuiper, _a_kuiper_sql()),
    (a_energy_distance, _a_energy_distance_sql()),
    (a_ansari_bradley, _a_ansari_bradley_sql()),
    (a_pr_auc, _a_pr_auc_sql()),
    (a_matthews_corr, _a_matthews_corr_sql()),
    (a_log_loss, _a_log_loss_sql()),
    (a_fdr_bh, _a_fdr_bh_sql()),
    (a_cronbach_alpha, _a_cronbach_alpha_sql()),
    (a_icc, _a_icc_sql()),
    (a_hill_tail, _a_hill_tail_sql()),
    (t_heaps_law, _t_heaps_law_sql()),
    (t_collocation_pmi, _t_collocation_pmi_sql()),
    (t_simpson_diversity, _t_simpson_diversity_sql()),
    (t_burstiness, _t_burstiness_sql()),
    (t_map_eval, _t_map_eval_sql()),
    (a_gk_gamma, _a_gk_gamma_sql()),
    (g_katz, _g_katz_sql()),
    (g_harmonic, _g_harmonic_sql()),
    (g_wcc, _g_wcc_sql()),
    (e_lid, _e_lid_sql()),
    (e_rsa, _e_rsa_sql()),
    (dq_order_reconciliation, _dq_order_reconciliation_sql()),
    (dq_date_sanity, _dq_date_sanity_sql()),
    (w_savitzky_golay, _w_savitzky_golay_sql()),
    (w_zscore_peaks, _w_zscore_peaks_sql()),
    (ti_dema_tema, _ti_dema_tema_sql()),
    (ti_tsi, _ti_tsi_sql()),
    (a_jackknife_gini, _a_jackknife_gini_sql()),
    (e_triplet_violations, _e_triplet_violations_sql()),
    (g_eigenvector, _g_eigenvector_sql()),
    (a_cohen_h, _a_cohen_h_sql()),
    (a_qq_deciles, _a_qq_deciles_sql()),
    (ti_rvi, _ti_rvi_sql()),
    (a_wald_wolfowitz, _a_wald_wolfowitz_sql()),
    (ti_ma_cross, _ti_ma_cross_sql()),
    (a_capture_recapture, _a_capture_recapture_sql()),
    (a_two_proportion_z, _a_two_proportion_z_sql()),
    (ti_chaikin_osc, _ti_chaikin_osc_sql()),
)
