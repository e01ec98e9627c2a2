"""Round-9 registry queries, second batch: market-microstructure
estimators, time-series econometrics, and two corpus/data-quality
audits.

Microstructure (reference analog: the per-symbol indicator family of
src/analytics/binance_analysis.py:233-420, which stops at rolling
stats — these are the standard next-step estimators a market-analytics
engine is expected to ship):

- ``ti_kyle_lambda`` — price-impact regression (Kyle 1985): OLS slope
  of tick price change on signed volume.
- ``ti_roll_spread`` — Roll (1984) implied effective spread from the
  negative serial covariance of price changes.
- ``ti_corwin_schultz`` — Corwin & Schultz (2012) high-low spread
  estimator over overlapping 2-day bar windows.
- ``a_vpin`` — volume-synchronized order-flow imbalance (VPIN, Easley
  et al. 2012): tick-rule classification, volume-clock bucketing.

Econometrics:

- ``a_yule_walker_ar2`` — AR(2) coefficients from lag-1/2
  autocorrelations via the Yule-Walker equations.
- ``a_durbin_watson`` — Durbin-Watson serial-correlation statistic on
  value~volume regression residuals.
- ``a_newey_west`` — Bartlett-kernel HAC long-run variance of tick
  price changes (L=5).
- ``a_engle_granger`` — two-step cointegration test between two
  minute-aligned series: OLS hedge ratio + Dickey-Fuller t on the
  residuals.
- ``a_tail_dependence`` — upper-tail co-exceedance lift between all
  minute-aligned series pairs.

Corpus / data-quality:

- ``t_coleman_liau`` — Coleman-Liau readability index per document,
  summarized per source (pure character/word/sentence counting — no
  syllable heuristics, so it is exactly SQL-replayable).
- ``dq_l_diversity`` — l-diversity audit of the sensitive user_id
  column within (event_type, day) quasi-identifier groups (the
  companion to dq_k_anonymity).

Determinism recipes (the repo-wide contract): micro-integer prices
(``round(value*1e6)`` as BIGINT), born-decimal integer products
(``decimal(19,0)`` cast BEFORE the multiply so sums stay exact in
decimal(38,0)), single identical IEEE chains for final ratios,
``round(x, 6) + 0.0`` on signed outputs, and micro-quantized longs
wherever IEEE values must be summed across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import (
    DEC,
    round_mean_micro,
    round_ratio_micro_dec,
    sql_round_mean_micro,
    sql_round_ratio_micro_huge,
)
from kp_crypto_market_analytics_spark.session import (
    ensure_parallelism,
    load_tables,
)

DEC19 = "decimal(19,0)"


# ------------------------------------------------------- shared pieces

_K_SQL = "TRY_CAST(replace(replace(props, '{\"k\": ', ''), '}', '') AS BIGINT)"

# Tick frame: micro-integer price + volume proxy, ordered per type.
TICKS_CTE = f"""ticks AS (
  SELECT event_type, ts, event_id,
    CAST(round(value * 1000000) AS BIGINT) AS vm,
    {_K_SQL} AS k
  FROM events
)"""

_WT_SQL = "PARTITION BY event_type ORDER BY ts, event_id"


def _ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed tick frame (micro prices + regex-parsed k) — session-
    materialized (r11 optimization): 10 microstructure queries each
    re-ran the per-row props regex over raw events; the parsed silver
    tick table is the thing a deployment lands once at ingest.  All
    columns exact (BIGINT/timestamp) — parquet round-trip is
    bit-identical.  ``ensure_parallelism`` moves to the read so
    downstream window sorts still fan out."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        from kp_crypto_market_analytics_spark.queries_indicators import _k_col

        t = load_tables(spark, sf_dir, ["events"])
        return t["events"].select(
            "event_type",
            "ts",
            "event_id",
            F.round(F.col("value") * F.lit(1_000_000.0), 0)
            .cast("long")
            .alias("vm"),
            _k_col().alias("k"),
        )

    return ensure_parallelism(
        session_materialized(spark, f"ticks:{sf_dir}", build)
    )


def _wt():
    return Window.partitionBy("event_type").orderBy("ts", "event_id")


# Minute-mean micro series: the alignment grid for the pairwise
# econometrics (Engle-Granger, tail dependence).  The mean is
# CAST(SUM AS DOUBLE)/COUNT — both engines reduce the exact integer
# sum, so the rounded micro value is deterministic.
MINUTES_CTE = (
    TICKS_CTE
    + """, minutes AS (
  SELECT event_type, date_trunc('minute', ts) AS minute,
    CAST(round(CAST(SUM(vm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS mv
  FROM ticks GROUP BY 1, 2
)"""
)


def _minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute-mean micro series — session-materialized on top of the
    materialized tick table (r11 optimization); exact BIGINT values."""
    from kp_crypto_market_analytics_spark.operators.materialize import (
        session_materialized,
    )

    def build() -> DataFrame:
        return (
            _ticks(spark, sf_dir)
            .groupBy(
                "event_type", F.date_trunc("minute", "ts").alias("minute")
            )
            .agg(
                F.round(
                    F.sum("vm").cast("double") / F.count(F.lit(1)), 0
                )
                .cast("long")
                .alias("mv")
            )
        )

    return session_materialized(spark, f"minutes:{sf_dir}", build)


# --------------------------------------------------------- ti_kyle_lambda


def ti_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's lambda per symbol: OLS slope of the tick-to-tick micro
    price change on tick-rule signed volume (sign(dp) * k).  A larger
    lambda means a unit of net order flow moves price more — the
    classic price-impact / illiquidity estimator (Kyle 1985),
    complementing ti_amihud.

    Determinism: dp and signed volume are exact BIGINTs; every moment
    is a born-decimal integer sum (decimal(19,0) cast before the
    product), so the OLS closed form is one identical IEEE chain.
    Scale shape: ONE window sort per symbol + one map-side-combined
    5-row aggregation — no joins, no second pass."""
    e = _ticks(spark, sf_dir)
    w = _wt()
    d = (F.col("vm") - F.lag("vm").over(w)).alias("d")
    e = e.select("event_type", "k", d).where(
        F.col("d").isNotNull() & F.col("k").isNotNull()
    )
    s = F.when(F.col("d") > 0, 1).when(F.col("d") < 0, -1).otherwise(0)
    e = e.select("event_type", "d", (s * F.col("k")).alias("sv"))
    xd = F.col("sv").cast(DEC19)
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(F.col("sv").cast(DEC19)).cast("double")
    sy = F.sum(F.col("d").cast(DEC19)).cast("double")
    sxy = F.sum(xd * F.col("d")).cast("double")
    sxx = F.sum(xd * F.col("sv")).cast("double")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (n * sxy - sx * sy).alias("__cov"),
        (n * sxx - sx * sx).alias("__vx"),
    )
    # guard: a degenerate tape (all signed volumes equal) has no
    # defined slope — NULL, never a NaN that diverges from the oracle
    lam = F.when(
        F.col("__vx") > 0, F.col("__cov") / F.col("__vx")
    )
    return g.select(
        "event_type",
        "n_pairs",
        (F.round(lam / F.lit(1_000_000.0), 6) + F.lit(0.0)).alias(
            "kyle_lambda"
        ),
    ).orderBy("event_type")


def _ti_kyle_lambda_sql() -> str:
    return f"""
WITH {TICKS_CTE}, lagged AS (
  SELECT event_type, k, vm - lag(vm) OVER ({_WT_SQL}) AS d
  FROM ticks
), sv AS (
  SELECT event_type, d,
    (CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END) * k AS sv
  FROM lagged WHERE d IS NOT NULL AND k IS NOT NULL
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(sv AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(d AS DECIMAL(19,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(sv AS DECIMAL(19,0)) * d) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(sv AS DECIMAL(19,0)) * sv) AS DOUBLE) AS sxx
  FROM sv GROUP BY 1
)
SELECT event_type, n_pairs,
  CASE WHEN n*sxx - sx*sx > 0 THEN
    round((n*sxy - sx*sy) / (n*sxx - sx*sx) / 1000000.0, 6) + 0.0
  END AS kyle_lambda
FROM m ORDER BY event_type
"""


# --------------------------------------------------------- ti_roll_spread


def ti_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll (1984) implied effective spread per symbol: bid-ask bounce
    makes consecutive price changes negatively autocorrelated, and
    S = 2*sqrt(-cov(dp_t, dp_{t-1})) recovers the spread when the
    serial covariance is negative (NULL otherwise — trending symbols).

    Determinism: dp pairs are exact BIGINTs, the cross-moment is a
    born-decimal sum, the population covariance and sqrt are one IEEE
    chain.  Scale shape: one window sort per symbol (two lags from the
    same sort), one 5-row aggregation."""
    w = _wt()
    # Both lags come from the same (ts, event_id) sort: d = vm - vm[-1]
    # and dp = vm[-1] - vm[-2], so ONE window pass yields the pair.
    e = _ticks(spark, sf_dir).withColumns(
        {
            "__vm1": F.lag("vm").over(w),
            "__vm2": F.lag("vm", 2).over(w),
        }
    )
    vm1, vm2 = F.col("__vm1"), F.col("__vm2")
    e = e.select(
        "event_type",
        (F.col("vm") - vm1).alias("d"),
        (vm1 - vm2).alias("dp"),
    ).where(F.col("d").isNotNull() & F.col("dp").isNotNull())
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(F.col("d").cast(DEC19)).cast("double")
    sy = F.sum(F.col("dp").cast(DEC19)).cast("double")
    sxy = F.sum(F.col("d").cast(DEC19) * F.col("dp")).cast("double")
    cov = (sxy - sx * sy / n) / n
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"), cov.alias("__cov")
    )
    c = F.col("__cov")
    return g.select(
        "event_type",
        "n_pairs",
        (F.round(c / F.lit(1e12), 6) + F.lit(0.0)).alias("serial_cov_p2"),
        F.when(
            c < 0, F.round(F.lit(2.0) * F.sqrt(-c) / F.lit(1_000_000.0), 6)
        ).alias("roll_spread"),
    ).orderBy("event_type")


def _ti_roll_spread_sql() -> str:
    return f"""
WITH {TICKS_CTE}, lagged AS (
  SELECT event_type,
    vm - lag(vm) OVER ({_WT_SQL}) AS d,
    lag(vm) OVER ({_WT_SQL}) - lag(vm, 2) OVER ({_WT_SQL}) AS dp
  FROM ticks
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM(CAST(d AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(dp AS DECIMAL(19,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(d AS DECIMAL(19,0)) * dp) AS DOUBLE) AS sxy
  FROM lagged WHERE d IS NOT NULL AND dp IS NOT NULL GROUP BY 1
)
SELECT event_type, n_pairs,
  round((sxy - sx*sy/n) / n / 1e12, 6) + 0.0 AS serial_cov_p2,
  CASE WHEN (sxy - sx*sy/n) / n < 0 THEN
    round(2.0 * sqrt(-((sxy - sx*sy/n) / n)) / 1000000.0, 6)
  END AS roll_spread
FROM m ORDER BY event_type
"""


# ----------------------------------------------------- ti_corwin_schultz


def ti_corwin_schultz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz (2012) high-low spread estimator per symbol:
    over each overlapping 2-day bar window, beta = sum of squared
    single-day log ranges, gamma = squared 2-day log range, and the
    spread S = 2(e^a - 1)/(1 + e^a) with
    a = (sqrt(2b) - sqrt(b))/(3 - 2 sqrt 2) - sqrt(g/(3 - 2 sqrt 2)).
    Bars with a zero low are excluded (log range undefined).

    Determinism: bars are micro-integers; each pair's alpha/spread is
    one identical IEEE chain; per-pair spreads are rounded to 1e-6 and
    summed as exact decimals before the final mean.  Scale shape: one
    bar build (two aggs) + one lead window over ~|days| rows per
    symbol — tiny after the daily rollup."""
    from kp_crypto_market_analytics_spark.queries_r9 import _daily_bars_df, _wd

    bars = _daily_bars_df(spark, sf_dir)
    w = _wd()
    p = bars.select(
        "event_type",
        "day",
        "hm",
        "lm",
        F.lead("hm").over(w).alias("h2"),
        F.lead("lm").over(w).alias("l2"),
    ).where(
        F.col("h2").isNotNull()
        & (F.col("lm") > 0)
        & (F.col("l2") > 0)
    )
    ln1 = F.log(F.col("hm").cast("double") / F.col("lm"))
    ln2 = F.log(F.col("h2").cast("double") / F.col("l2"))
    lng = F.log(
        F.greatest("hm", "h2").cast("double") / F.least("lm", "l2")
    )
    b = ln1 * ln1 + ln2 * ln2
    g = lng * lng
    k1 = F.lit(3.0) - F.lit(2.0) * F.sqrt(F.lit(2.0))
    a = (F.sqrt(F.lit(2.0) * b) - F.sqrt(b)) / k1 - F.sqrt(g / k1)
    s = F.lit(2.0) * (F.exp(a) - F.lit(1.0)) / (F.lit(1.0) + F.exp(a))
    p = p.select("event_type", (F.round(s, 6) + F.lit(0.0)).alias("s6"))
    n = F.count(F.lit(1))
    return (
        p.groupBy("event_type")
        .agg(
            n.cast("long").alias("n_pairs"),
            round_mean_micro(F.sum(F.col("s6").cast(DEC)), n).alias(
                "avg_cs_spread"
            ),
            F.max("s6").alias("max_cs_spread"),
            F.sum(F.when(F.col("s6") < 0, 1).otherwise(0))
            .cast("long")
            .alias("n_negative"),
        )
        .orderBy("event_type")
    )


def _ti_corwin_schultz_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (  # noqa: F401
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    return f"""
WITH {DAILY_BARS_CTE}, pairs AS (
  SELECT event_type, hm, lm,
    lead(hm) OVER ({_WD_SQL}) AS h2,
    lead(lm) OVER ({_WD_SQL}) AS l2
  FROM bars
), alphas AS (
  SELECT event_type,
    (sqrt(2.0 * (ln(CAST(hm AS DOUBLE)/lm)*ln(CAST(hm AS DOUBLE)/lm)
               + ln(CAST(h2 AS DOUBLE)/l2)*ln(CAST(h2 AS DOUBLE)/l2)))
     - sqrt(ln(CAST(hm AS DOUBLE)/lm)*ln(CAST(hm AS DOUBLE)/lm)
          + ln(CAST(h2 AS DOUBLE)/l2)*ln(CAST(h2 AS DOUBLE)/l2)))
      / (3.0 - 2.0*sqrt(2.0))
    - sqrt((ln(CAST(greatest(hm,h2) AS DOUBLE)/least(lm,l2))
           *ln(CAST(greatest(hm,h2) AS DOUBLE)/least(lm,l2)))
           / (3.0 - 2.0*sqrt(2.0))) AS a
  FROM pairs WHERE h2 IS NOT NULL AND lm > 0 AND l2 > 0
), s AS (
  SELECT event_type,
    round(2.0 * (exp(a) - 1.0) / (1.0 + exp(a)), 6) + 0.0 AS s6
  FROM alphas
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  {sql_round_mean_micro("SUM(CAST(s6 AS DECIMAL(18,6)))", "COUNT(*)")}
    AS avg_cs_spread,
  MAX(s6) AS max_cs_spread,
  CAST(SUM(CASE WHEN s6 < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
FROM s GROUP BY 1 ORDER BY event_type
"""


# ----------------------------------------------------------------- a_vpin

_VPIN_BUCKETS = 50


def a_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN (Easley-Lopez de Prado-O'Hara) per symbol: classify each
    tick buy/sell by the tick rule (sign of the price change,
    carried forward through zero-change ticks), cut the classified
    tape into ~50 equal-VOLUME buckets (the volume clock — bucket
    boundaries are data-derived integers: V = ceil(total/50), bucket
    = volume-before DIV V), and average the per-bucket absolute
    order-flow imbalance over bucket volume.

    Determinism: classification, cumulative volume, bucket ids and
    imbalances are all exact integers; the single final division is
    the only IEEE step.  Scale shape: two window passes over the same
    per-symbol sort (sign carry-forward, then cumulative volume) + one
    (symbol, bucket) agg + one symbol agg — the volume clock never
    materializes more than one row per tick."""
    w = _wt()
    e = _ticks(spark, sf_dir).withColumn("__prev_vm", F.lag("vm").over(w))
    prev_vm = F.col("__prev_vm")
    d = F.col("vm") - prev_vm
    s0 = F.when(d > 0, 1).when(d < 0, -1)
    e = e.select(
        "event_type",
        "ts",
        "event_id",
        "k",
        F.last(s0, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s"),
    ).where(F.col("s").isNotNull() & F.col("k").isNotNull())
    wt = Window.partitionBy("event_type").orderBy("ts", "event_id")
    e = e.withColumn("__tot", F.sum("k").over(Window.partitionBy("event_type")))
    tot = F.col("__tot")
    cumb = F.coalesce(
        F.sum("k").over(wt.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    v = F.greatest(
        F.lit(1).cast("long"),
        F.call_function("div", tot + F.lit(_VPIN_BUCKETS - 1), F.lit(_VPIN_BUCKETS)),
    )
    e = e.select(
        "event_type",
        "s",
        "k",
        v.alias("vsize"),
        F.call_function("div", cumb, v).alias("bucket"),
    )
    b = e.groupBy("event_type", "bucket").agg(
        F.max("vsize").alias("vsize"),
        F.sum(F.when(F.col("s") == 1, F.col("k")).otherwise(0)).alias("bv"),
        F.sum(F.when(F.col("s") == -1, F.col("k")).otherwise(0)).alias("sv"),
        F.sum("k").alias("bvol"),
    )
    return (
        b.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("vsize").cast("long").alias("bucket_volume"),
            round_ratio_micro_dec(
                F.sum(F.abs(F.col("bv") - F.col("sv"))).cast(DEC),
                F.sum("bvol").cast("long"),
            ).alias("vpin"),
        )
        .orderBy("event_type")
    )


def _a_vpin_sql() -> str:
    return f"""
WITH {TICKS_CTE}, diffs AS (
  SELECT event_type, ts, event_id, k,
    CASE WHEN vm - lag(vm) OVER ({_WT_SQL}) > 0 THEN 1
         WHEN vm - lag(vm) OVER ({_WT_SQL}) < 0 THEN -1 END AS s0
  FROM ticks
), signed AS (
  SELECT event_type, ts, event_id, k,
    last_value(s0 IGNORE NULLS)
      OVER ({_WT_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM diffs
), classified AS (
  SELECT event_type, ts, event_id, k, s FROM signed
  WHERE s IS NOT NULL AND k IS NOT NULL
), clocked AS (
  SELECT event_type, s, k,
    greatest(1, (SUM(k) OVER (PARTITION BY event_type)
                 + {_VPIN_BUCKETS - 1}) // {_VPIN_BUCKETS}) AS vsize,
    coalesce(SUM(k) OVER ({_WT_SQL}
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
  FROM classified
), buckets AS (
  SELECT event_type, cumb // vsize AS bucket, MAX(vsize) AS vsize,
    SUM(CASE WHEN s = 1 THEN k ELSE 0 END) AS bv,
    SUM(CASE WHEN s = -1 THEN k ELSE 0 END) AS sv,
    SUM(k) AS bvol
  FROM clocked GROUP BY 1, 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
  CAST(MAX(vsize) AS BIGINT) AS bucket_volume,
  {sql_round_ratio_micro_huge('CAST(SUM(abs(bv - sv)) AS DECIMAL(18,6))', 'SUM(bvol)')} AS vpin
FROM buckets GROUP BY 1 ORDER BY event_type
"""


# ------------------------------------------------------ a_yule_walker_ar2


def a_yule_walker_ar2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) fit per symbol via the Yule-Walker equations: lag-1/2
    pairwise autocorrelations r1, r2 (the ti_acf moment recipe), then
    phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2).  The phis are
    computed from the ROUNDED r's, so the closed form is deterministic
    given the (already exact-decimal) correlation aggregates.

    Scale shape: one window sort per symbol yields both lag columns;
    one grouped aggregation computes both correlations."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    w = _wt()
    e = e.select(
        "event_type",
        "value",
        F.lag("value", 1).over(w).alias("y1"),
        F.lag("value", 2).over(w).alias("y2"),
    )
    aggs = []
    for kk in (1, 2):
        y = F.col(f"y{kk}")
        x = F.when(y.isNotNull(), F.col("value"))
        xd, yd = x.cast(DEC), y.cast(DEC)
        n = F.count(y).cast("double")
        sx = F.sum(xd).cast("double")
        sy = F.sum(yd).cast("double")
        sxx = F.sum(xd * xd).cast("double")
        syy = F.sum(yd * yd).cast("double")
        sxy = F.sum(xd * yd).cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx * vy), 6) + F.lit(0.0),
        )
        aggs.append(r.alias(f"r{kk}"))
    g = e.groupBy("event_type").agg(
        F.count("y2").cast("long").alias("n_pairs"), *aggs
    )
    r1, r2 = F.col("r1"), F.col("r2")
    den = F.lit(1.0) - r1 * r1
    phi1 = F.when(den != 0, F.round(r1 * (F.lit(1.0) - r2) / den, 6) + F.lit(0.0))
    phi2 = F.when(den != 0, F.round((r2 - r1 * r1) / den, 6) + F.lit(0.0))
    return g.select(
        "event_type", "n_pairs", "r1", "r2",
        phi1.alias("phi1"), phi2.alias("phi2"),
    ).orderBy("event_type")


def _a_yule_walker_ar2_sql() -> str:
    def moments(kk: int) -> str:
        xd = f"CASE WHEN y{kk} IS NOT NULL THEN CAST(value AS DECIMAL(18,6)) END"
        yd = f"CAST(y{kk} AS DECIMAL(18,6))"
        return (
            f"CAST(COUNT(y{kk}) AS DOUBLE) AS n{kk},\n"
            f"    CAST(SUM({xd}) AS DOUBLE) AS sx{kk},\n"
            f"    CAST(SUM({yd}) AS DOUBLE) AS sy{kk},\n"
            f"    CAST(SUM(({xd}) * ({xd})) AS DOUBLE) AS sxx{kk},\n"
            f"    CAST(SUM({yd} * {yd}) AS DOUBLE) AS syy{kk},\n"
            f"    CAST(SUM(({xd}) * {yd}) AS DOUBLE) AS sxy{kk}"
        )

    def r(kk: int) -> str:
        return (
            f"CASE WHEN n{kk}*sxx{kk} - sx{kk}*sx{kk} > 0"
            f" AND n{kk}*syy{kk} - sy{kk}*sy{kk} > 0 THEN\n"
            f"    round((n{kk}*sxy{kk} - sx{kk}*sy{kk})"
            f" / sqrt((n{kk}*sxx{kk} - sx{kk}*sx{kk})"
            f" * (n{kk}*syy{kk} - sy{kk}*sy{kk})), 6) + 0.0 END"
        )

    return f"""
WITH lagged AS (
  SELECT event_type, value,
    lag(value, 1) OVER ({_WT_SQL}) AS y1,
    lag(value, 2) OVER ({_WT_SQL}) AS y2
  FROM events
), m AS (
  SELECT event_type, CAST(COUNT(y2) AS BIGINT) AS n_pairs,
    {moments(1)},
    {moments(2)}
  FROM lagged GROUP BY 1
), rs AS (
  SELECT event_type, n_pairs,
    {r(1)} AS r1,
    {r(2)} AS r2
  FROM m
)
SELECT event_type, n_pairs, r1, r2,
  CASE WHEN 1.0 - r1*r1 <> 0 THEN
    round(r1 * (1.0 - r2) / (1.0 - r1*r1), 6) + 0.0 END AS phi1,
  CASE WHEN 1.0 - r1*r1 <> 0 THEN
    round((r2 - r1*r1) / (1.0 - r1*r1), 6) + 0.0 END AS phi2
FROM rs ORDER BY event_type
"""


# -------------------------------------------------------- a_durbin_watson


def a_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic per symbol on the residuals of the
    value~volume OLS (micro price on props.k): DW = sum of squared
    successive residual differences over the residual sum of squares,
    in (ts, event_id) order.  DW ~ 2 means no first-order serial
    correlation in the regression errors.

    Determinism: OLS coefficients come from exact born-decimal integer
    moments; each residual is one IEEE chain micro-quantized to a
    BIGINT, so both DW sums are exact integer folds.  Scale shape:
    one 5-row moments agg, broadcast join of the coefficients, one
    window sort per symbol, one final agg."""
    e = _ticks(spark, sf_dir).where(F.col("k").isNotNull())
    kd = F.col("k").cast(DEC19)
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(kd).cast("double")
    sy = F.sum(F.col("vm").cast(DEC19)).cast("double")
    sxy = F.sum(kd * F.col("vm")).cast("double")
    sxx = F.sum(kd * F.col("k")).cast("double")
    coef = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        # guard: constant volume regressor has no defined slope
        F.when(
            (n * sxx - sx * sx) > 0,
            (n * sxy - sx * sy) / (n * sxx - sx * sx),
        ).alias("b"),
        sx.alias("sx"),
        sy.alias("sy"),
        n.alias("nd"),
    )
    coef = coef.select(
        "event_type",
        "n",
        "b",
        ((F.col("sy") - F.col("b") * F.col("sx")) / F.col("nd")).alias("a"),
    )
    r = e.join(F.broadcast(coef), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "n",
        "b",
        F.round(
            F.col("vm") - F.col("a") - F.col("b") * F.col("k"), 0
        )
        .cast("long")
        .alias("em"),
    )
    w = _wt()
    r = r.select(
        "event_type",
        "n",
        "b",
        "em",
        (F.col("em") - F.lag("em").over(w)).alias("dd"),
    )
    emd = F.col("em").cast(DEC19)
    ddd = F.col("dd").cast(DEC19)
    g = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("b").alias("__b"),
        F.sum(ddd * F.col("dd")).cast("double").alias("__num"),
        F.sum(emd * F.col("em")).cast("double").alias("__den"),
    )
    return g.select(
        "event_type",
        "n",
        (F.round(F.col("__b") / F.lit(1_000_000.0), 6)
         + F.lit(0.0)).alias("slope"),
        F.when(
            F.col("__den") > 0, F.round(F.col("__num") / F.col("__den"), 6)
        ).alias("dw"),
    ).orderBy("event_type")


def _a_durbin_watson_sql() -> str:
    return f"""
WITH {TICKS_CTE}, base AS (
  SELECT * FROM ticks WHERE k IS NOT NULL
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    CAST(SUM(CAST(k AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(vm AS DECIMAL(19,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(k AS DECIMAL(19,0)) * vm) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(k AS DECIMAL(19,0)) * k) AS DOUBLE) AS sxx
  FROM base GROUP BY 1
), coef AS (
  SELECT event_type, n,
    CASE WHEN nd*sxx - sx*sx > 0
         THEN (nd*sxy - sx*sy) / (nd*sxx - sx*sx) END AS b,
    CASE WHEN nd*sxx - sx*sx > 0
         THEN (sy - (nd*sxy - sx*sy) / (nd*sxx - sx*sx) * sx) / nd
    END AS a
  FROM m
), resid AS (
  SELECT b.event_type, b.ts, b.event_id, c.n, c.b,
    CAST(round(b.vm - c.a - c.b * b.k) AS BIGINT) AS em
  FROM base b JOIN coef c USING (event_type)
), diffs AS (
  SELECT event_type, n, b, em,
    em - lag(em) OVER ({_WT_SQL}) AS dd
  FROM resid
)
SELECT event_type, MAX(n) AS n,
  round(MAX(b) / 1000000.0, 6) + 0.0 AS slope,
  CASE WHEN CAST(SUM(CAST(em AS DECIMAL(19,0)) * em) AS DOUBLE) > 0 THEN
    round(CAST(SUM(CAST(dd AS DECIMAL(19,0)) * dd) AS DOUBLE)
          / CAST(SUM(CAST(em AS DECIMAL(19,0)) * em) AS DOUBLE), 6)
  END AS dw
FROM diffs GROUP BY 1 ORDER BY event_type
"""


# ----------------------------------------------------------- a_newey_west

_NW_LAGS = 5


def a_newey_west(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (Bartlett kernel, L=5) HAC long-run variance of tick
    price changes per symbol: lrv = g0 + 2*sum_k (1 - k/(L+1)) * gk,
    where gk is the lag-k autocovariance.  The ratio lrv/g0 > 1 flags
    positively autocorrelated flow (variance underestimated by iid
    standard errors).

    Determinism: every gk comes from exact born-decimal integer sums
    over the lag-k pair frame (S, A, B, n per lag), combined in one
    IEEE chain.  Scale shape: ONE window sort per symbol yields all
    five lag columns; one grouped aggregation computes all moments."""
    e = _ticks(spark, sf_dir)
    w = _wt()
    d = (F.col("vm") - F.lag("vm").over(w)).alias("d")
    e = e.select("event_type", "ts", "event_id", d)
    e = e.select(
        "event_type",
        "d",
        *[
            F.lag("d", kk).over(w).alias(f"d{kk}")
            for kk in range(1, _NW_LAGS + 1)
        ],
    )
    aggs = [
        F.count("d").cast("long").alias("n"),
        F.sum(F.col("d").cast(DEC19)).cast("double").alias("sd"),
        F.sum(F.col("d").cast(DEC19) * F.col("d")).cast("double").alias("sd2"),
    ]
    for kk in range(1, _NW_LAGS + 1):
        dk = F.col(f"d{kk}")
        both = F.col("d").isNotNull() & dk.isNotNull()
        x = F.when(both, F.col("d"))
        y = F.when(both, dk)
        aggs += [
            F.count(x).cast("double").alias(f"n{kk}"),
            F.sum(x.cast(DEC19)).cast("double").alias(f"a{kk}"),
            F.sum(y.cast(DEC19)).cast("double").alias(f"b{kk}"),
            F.sum(x.cast(DEC19) * y).cast("double").alias(f"s{kk}"),
        ]
    g = e.groupBy("event_type").agg(*aggs)
    g0 = (F.col("sd2") - F.col("sd") * F.col("sd") / F.col("n")) / F.col("n")
    lrv = g0
    for kk in range(1, _NW_LAGS + 1):
        # guard: series shorter than the lag contributes zero, not NaN
        gk = F.when(
            F.col(f"n{kk}") > 0,
            (
                F.col(f"s{kk}")
                - F.col(f"a{kk}") * F.col(f"b{kk}") / F.col(f"n{kk}")
            )
            / F.col(f"n{kk}"),
        ).otherwise(F.lit(0.0))
        lrv = lrv + F.lit(2.0) * (F.lit(1.0) - F.lit(float(kk)) / F.lit(float(_NW_LAGS + 1))) * gk
    return g.select(
        "event_type",
        "n",
        (F.round(g0 / F.lit(1e12), 6) + F.lit(0.0)).alias("gamma0_p2"),
        (F.round(lrv / F.lit(1e12), 6) + F.lit(0.0)).alias("lrv_p2"),
        F.when(g0 > 0, F.round(lrv / g0, 6) + F.lit(0.0)).alias("nw_ratio"),
    ).orderBy("event_type")


def _a_newey_west_sql() -> str:
    lag_cols = ",\n    ".join(
        f"lag(d, {kk}) OVER ({_WT_SQL}) AS d{kk}" for kk in range(1, _NW_LAGS + 1)
    )
    momcols = []
    for kk in range(1, _NW_LAGS + 1):
        x = f"CASE WHEN d IS NOT NULL AND d{kk} IS NOT NULL THEN d END"
        y = f"CASE WHEN d IS NOT NULL AND d{kk} IS NOT NULL THEN d{kk} END"
        momcols.append(
            f"CAST(COUNT({x}) AS DOUBLE) AS n{kk},\n"
            f"    CAST(SUM(CAST(({x}) AS DECIMAL(19,0))) AS DOUBLE) AS a{kk},\n"
            f"    CAST(SUM(CAST(({y}) AS DECIMAL(19,0))) AS DOUBLE) AS b{kk},\n"
            f"    CAST(SUM(CAST(({x}) AS DECIMAL(19,0)) * ({y})) AS DOUBLE) AS s{kk}"
        )
    moments = ",\n    ".join(momcols)
    g0 = "(sd2 - sd*sd/n) / n"
    terms = [g0]
    for kk in range(1, _NW_LAGS + 1):
        w = f"(1.0 - {float(kk)} / {float(_NW_LAGS + 1)})"
        terms.append(
            f"2.0 * {w} * (CASE WHEN n{kk} > 0 THEN"
            f" (s{kk} - a{kk}*b{kk}/n{kk}) / n{kk} ELSE 0.0 END)"
        )
    lrv = " + ".join(terms)
    return f"""
WITH {TICKS_CTE}, diffs AS (
  SELECT event_type, ts, event_id,
    vm - lag(vm) OVER ({_WT_SQL}) AS d
  FROM ticks
), lagged AS (
  SELECT event_type, d,
    {lag_cols}
  FROM diffs
), m AS (
  SELECT event_type,
    CAST(COUNT(d) AS BIGINT) AS n_pairs,
    CAST(COUNT(d) AS DOUBLE) AS n,
    CAST(SUM(CAST(d AS DECIMAL(19,0))) AS DOUBLE) AS sd,
    CAST(SUM(CAST(d AS DECIMAL(19,0)) * d) AS DOUBLE) AS sd2,
    {moments}
  FROM lagged GROUP BY 1
)
SELECT event_type, n_pairs AS n,
  round(({g0}) / 1e12, 6) + 0.0 AS gamma0_p2,
  round(({lrv}) / 1e12, 6) + 0.0 AS lrv_p2,
  CASE WHEN {g0} > 0 THEN
    round(({lrv}) / ({g0}), 6) + 0.0 END AS nw_ratio
FROM m ORDER BY event_type
"""


# --------------------------------------------------------- a_engle_granger

_EG_Y = "click"
_EG_X = "view"


def a_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger two-step cointegration test between the
    minute-aligned click and view series: (1) OLS hedge ratio
    y = a + b*x on the inner-joined minutes; (2) Dickey-Fuller
    regression (no constant) of the residual first differences on the
    lagged residual, de_t = rho * e_{t-1}, reporting rho and its
    t-statistic.  A strongly negative df_t rejects a unit root in the
    residuals (the pair is cointegrated).

    Determinism: minute means and residuals are micro-quantized
    BIGINTs, all regression moments are exact born-decimal integer
    sums, and rho / t are single IEEE chains.  Scale shape: one minute
    rollup, one equi-join on minute, two 1-group aggs — the time join
    carries only (minute, mv)."""
    m = _minutes(spark, sf_dir)
    y = m.where(F.col("event_type") == _EG_Y).select(
        "minute", F.col("mv").alias("yv")
    )
    x = m.where(F.col("event_type") == _EG_X).select(
        "minute", F.col("mv").alias("xv")
    )
    j = y.join(x, "minute")
    xd = F.col("xv").cast(DEC19)
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(xd).cast("double")
    sy = F.sum(F.col("yv").cast(DEC19)).cast("double")
    sxy = F.sum(xd * F.col("yv")).cast("double")
    sxx = F.sum(xd * F.col("xv")).cast("double")
    coef = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_minutes"),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("b"),
        sx.alias("sx"),
        sy.alias("sy"),
        n.alias("nd"),
    ).select(
        "n_minutes",
        "b",
        ((F.col("sy") - F.col("b") * F.col("sx")) / F.col("nd")).alias("a"),
    )
    r = j.crossJoin(F.broadcast(coef)).select(
        "minute",
        "n_minutes",
        "b",
        F.round(F.col("yv") - F.col("a") - F.col("b") * F.col("xv"), 0)
        .cast("long")
        .alias("em"),
    )
    w = Window.orderBy("minute")
    r = r.withColumn("el", F.lag("em").over(w)).select(
        "n_minutes",
        "b",
        "el",
        (F.col("em") - F.col("el")).alias("de"),
    ).where(F.col("el").isNotNull())
    eld = F.col("el").cast(DEC19)
    ded = F.col("de").cast(DEC19)
    g = r.agg(
        F.max("n_minutes").alias("n_minutes"),
        F.max("b").alias("__b"),
        F.count(F.lit(1)).cast("double").alias("np"),
        F.sum(eld * F.col("el")).cast("double").alias("see"),
        F.sum(eld * F.col("de")).cast("double").alias("sede"),
        F.sum(ded * F.col("de")).cast("double").alias("sdede"),
    )
    rho = F.when(F.col("see") > 0, F.col("sede") / F.col("see"))
    s2 = (F.col("sdede") - F.col("sede") * F.col("sede") / F.col("see")) / (
        F.col("np") - F.lit(1.0)
    )
    # guard: a perfectly-fit pair has zero lagged-residual energy
    t = F.when(
        (F.col("see") > 0) & (F.col("np") > 1),
        rho / F.sqrt(s2 / F.col("see")),
    )
    return g.select(
        "n_minutes",
        (F.round(F.col("__b"), 6) + F.lit(0.0)).alias("hedge_ratio"),
        (F.round(rho, 6) + F.lit(0.0)).alias("rho"),
        (F.round(t, 6) + F.lit(0.0)).alias("df_t"),
    )


def _a_engle_granger_sql() -> str:
    return f"""
WITH {MINUTES_CTE}, j AS (
  SELECT y.minute, y.mv AS yv, x.mv AS xv
  FROM (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_Y}') y
  JOIN (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_X}') x
    USING (minute)
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_minutes,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    CAST(SUM(CAST(xv AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(yv AS DECIMAL(19,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(xv AS DECIMAL(19,0)) * yv) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(xv AS DECIMAL(19,0)) * xv) AS DOUBLE) AS sxx
  FROM j
), coef AS (
  SELECT n_minutes,
    (nd*sxy - sx*sy) / (nd*sxx - sx*sx) AS b,
    (sy - (nd*sxy - sx*sy) / (nd*sxx - sx*sx) * sx) / nd AS a
  FROM m
), resid AS (
  SELECT j.minute, c.n_minutes, c.b,
    CAST(round(j.yv - c.a - c.b * j.xv) AS BIGINT) AS em
  FROM j CROSS JOIN coef c
), diffs AS (
  SELECT n_minutes, b,
    lag(em) OVER (ORDER BY minute) AS el,
    em - lag(em) OVER (ORDER BY minute) AS de
  FROM resid
), g AS (
  SELECT MAX(n_minutes) AS n_minutes, MAX(b) AS b,
    CAST(COUNT(*) AS DOUBLE) AS np,
    CAST(SUM(CAST(el AS DECIMAL(19,0)) * el) AS DOUBLE) AS see,
    CAST(SUM(CAST(el AS DECIMAL(19,0)) * de) AS DOUBLE) AS sede,
    CAST(SUM(CAST(de AS DECIMAL(19,0)) * de) AS DOUBLE) AS sdede
  FROM diffs WHERE el IS NOT NULL
)
SELECT n_minutes,
  round(b, 6) + 0.0 AS hedge_ratio,
  CASE WHEN see > 0 THEN round(sede / see, 6) + 0.0 END AS rho,
  CASE WHEN see > 0 AND np > 1 THEN
    round((sede / see)
          / sqrt(((sdede - sede*sede/see) / (np - 1.0)) / see), 6) + 0.0
  END AS df_t
FROM g
"""


# ------------------------------------------------------ a_tail_dependence


def a_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-tail co-exceedance between every pair of minute-aligned
    series: flag each series' top decile of minutes (by minute-mean
    value; rank ties broken by minute), join pairs on minute, and
    report the joint exceedance probability and its lift over
    independence.  Lift >> 1 means the two series spike together —
    the empirical tail-dependence screen behind a_corr (which only
    sees the body of the distribution).

    Determinism: deciles are exact integer ranks (row_number over
    (mv DESC, minute)); all outputs are ratios of exact counts.
    Scale shape: one minute rollup, one rank window per series, one
    self-equi-join on minute (both sides pre-filtered to skinny
    (type, minute, flag) rows), one pair agg."""
    m = _minutes(spark, sf_dir)
    wr = Window.partitionBy("event_type").orderBy(
        F.col("mv").desc(), F.col("minute").asc()
    )
    cnt = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    f = m.select(
        "event_type",
        "minute",
        (
            F.row_number().over(wr)
            <= F.greatest(
                F.lit(1).cast("long"),
                F.call_function("div", cnt, F.lit(10)),
            )
        )
        .cast("int")
        .alias("top"),
    )
    a = f.selectExpr(
        "event_type AS type_a", "minute", "top AS top_a"
    )
    b = f.selectExpr(
        "event_type AS type_b", "minute", "top AS top_b"
    )
    j = a.join(b, "minute").where(F.col("type_a") < F.col("type_b"))
    g = j.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_joint"),
        F.sum(F.col("top_a") * F.col("top_b")).cast("long").alias("n_both"),
        F.sum("top_a").cast("long").alias("n_top_a"),
        F.sum("top_b").cast("long").alias("n_top_b"),
    )
    return g.select(
        "type_a",
        "type_b",
        "n_joint",
        "n_both",
        round_mean_micro(F.col("n_both").cast(DEC), F.col("n_joint")).alias(
            "p_both"
        ),
        F.when(
            (F.col("n_top_a") > 0) & (F.col("n_top_b") > 0),
            round_mean_micro(
                (F.col("n_both") * F.col("n_joint")).cast(DEC),
                F.col("n_top_a") * F.col("n_top_b"),
            ),
        ).alias("tail_lift"),
    ).orderBy("type_a", "type_b")


def _a_tail_dependence_sql() -> str:
    return f"""
WITH {MINUTES_CTE}, flags AS (
  SELECT event_type, minute,
    CAST(row_number() OVER (PARTITION BY event_type
                            ORDER BY mv DESC, minute ASC)
         <= greatest(1, COUNT(*) OVER (PARTITION BY event_type) // 10)
         AS INT) AS top
  FROM minutes
), j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
    a.top AS top_a, b.top AS top_b
  FROM flags a JOIN flags b USING (minute)
  WHERE a.event_type < b.event_type
), g AS (
  SELECT type_a, type_b,
    CAST(COUNT(*) AS BIGINT) AS n_joint,
    CAST(SUM(top_a * top_b) AS BIGINT) AS n_both,
    CAST(SUM(top_a) AS BIGINT) AS n_top_a,
    CAST(SUM(top_b) AS BIGINT) AS n_top_b
  FROM j GROUP BY 1, 2
)
SELECT type_a, type_b, n_joint, n_both,
  {sql_round_mean_micro('CAST(n_both AS DECIMAL(18,6))', 'n_joint')} AS p_both,
  CASE WHEN n_top_a > 0 AND n_top_b > 0 THEN
    {sql_round_mean_micro('CAST(n_both * n_joint AS DECIMAL(18,6))', 'n_top_a * n_top_b')}
  END AS tail_lift
FROM g ORDER BY type_a, type_b
"""


# -------------------------------------------------------- t_coleman_liau


def t_coleman_liau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coleman-Liau readability index per document, summarized per
    source: CLI = 0.0588*L - 0.296*S - 15.8 with L = letters per 100
    words and S = sentences per 100 words.  Chosen over Flesch exactly
    because it needs NO syllable heuristic — letters, words and
    sentence terminators are pure character counts, so the score is
    SQL-replayable bit-for-bit.  (The synthetic corpus contains no
    sentence punctuation, so S degenerates to one sentence per doc —
    the operator is the deliverable, the corpus is the fixture.)

    Scale shape: per-doc map-only expressions + one 20-row source agg;
    nothing wider than (source, cli) shuffles."""
    t = load_tables(spark, sf_dir, ["documents"])
    d = ensure_parallelism(t["documents"])
    letters = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    words = F.greatest(
        F.lit(1), F.size(F.split(F.trim(F.col("text")), "\\s+"))
    )
    sentences = F.greatest(
        F.lit(1),
        F.length(F.regexp_replace(F.col("text"), "[^.!?]", "")),
    )
    lpw = letters.cast("double") * F.lit(100.0) / words
    spw = sentences.cast("double") * F.lit(100.0) / words
    cli = F.lit(0.0588) * lpw - F.lit(0.296) * spw - F.lit(15.8)
    d = d.select(
        "source", (F.round(cli, 6) + F.lit(0.0)).alias("cli6")
    )
    n = F.count(F.lit(1))
    return (
        d.groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            round_mean_micro(F.sum(F.col("cli6").cast(DEC)), n).alias(
                "avg_cli"
            ),
            F.min("cli6").alias("min_cli"),
            F.max("cli6").alias("max_cli"),
        )
        .orderBy("source")
    )


def _t_coleman_liau_sql() -> str:
    mean6 = sql_round_mean_micro(
        "SUM(CAST(cli6 AS DECIMAL(18,6)))", "COUNT(*)"
    )
    return r"""
WITH percdoc AS (
  SELECT source,
    round(0.0588 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) * 100.0
                    / greatest(1, len(regexp_split_to_array(trim(text), '\s+'))))
        - 0.296 * (CAST(greatest(1,
                     length(regexp_replace(text, '[^.!?]', '', 'g')))
                    AS DOUBLE) * 100.0
                    / greatest(1, len(regexp_split_to_array(trim(text), '\s+'))))
        - 15.8, 6) + 0.0 AS cli6
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  {{mean6}}
    AS avg_cli,
  MIN(cli6) AS min_cli,
  MAX(cli6) AS max_cli
FROM percdoc GROUP BY 1 ORDER BY source
""".replace("{{mean6}}", mean6)


# -------------------------------------------------------- dq_l_diversity

_LDIV_FLOOR = 10


def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (the re-identification companion to
    dq_k_anonymity): within each (event_type, day) quasi-identifier
    group, l = number of DISTINCT sensitive values (user_id); a group
    with small l lets an attacker who knows the QI infer the sensitive
    attribute even when k-anonymity holds.  Reports per event_type the
    group count, min/avg l, and how many groups fall below l=10.

    Scale shape: one (type, day, user) pre-dedup agg feeding one
    (type, day) count — both map-side combinable; no row explodes."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    g = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").alias("l"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    n = F.count(F.lit(1))
    return (
        g.groupBy("event_type")
        .agg(
            n.cast("long").alias("n_groups"),
            F.min("l").cast("long").alias("min_l"),
            round_mean_micro(F.sum("l").cast(DEC), n).alias("avg_l"),
            F.sum(F.when(F.col("l") < _LDIV_FLOOR, 1).otherwise(0))
            .cast("long")
            .alias("n_below_floor"),
        )
        .orderBy("event_type")
    )


def _dq_l_diversity_sql() -> str:
    return f"""
WITH g AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    COUNT(DISTINCT user_id) AS l
  FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(MIN(l) AS BIGINT) AS min_l,
  {sql_round_mean_micro('CAST(SUM(l) AS DECIMAL(18,6))', 'COUNT(*)')} AS avg_l,
  CAST(SUM(CASE WHEN l < {_LDIV_FLOOR} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_below_floor
FROM g GROUP BY 1 ORDER BY event_type
"""


# ------------------------------------------------------ a_granger_causality


def a_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger lead-lag test between the minute-aligned click and view
    return series, BOTH directions: restricted model y_t ~ y_{t-1}
    vs unrestricted y_t ~ y_{t-1} + x_{t-1}, F = (RSS_r - RSS_u)
    * (n-3) / RSS_u for the single added regressor.  A large F for
    'click->view' means lagged click returns improve the view
    forecast — the classic lead-lag screen for pairs.

    Determinism: minute means and diffs are exact micro BIGINTs; the
    two-regressor normal equations are solved by Cramer's rule from
    born-decimal integer moments, one IEEE chain per direction.
    Scale shape: one minute rollup + one equi-join on minute + one
    time-bounded window (one row per minute) + a 2-row agg."""
    m = _minutes(spark, sf_dir)
    y = m.where(F.col("event_type") == _EG_Y).select(
        "minute", F.col("mv").alias("cv")
    )
    x = m.where(F.col("event_type") == _EG_X).select(
        "minute", F.col("mv").alias("vv")
    )
    j = y.join(x, "minute")
    w = Window.orderBy("minute")
    j = j.select(
        "minute",
        (F.col("cv") - F.lag("cv").over(w)).alias("dc"),
        (F.col("vv") - F.lag("vv").over(w)).alias("dv"),
    )
    j = j.select(
        "dc",
        "dv",
        F.lag("dc").over(w).alias("dc1"),
        F.lag("dv").over(w).alias("dv1"),
    )
    both = (
        j.select(
            F.lit(f"{_EG_Y}->{_EG_X}").alias("direction"),
            F.col("dv").alias("y"),
            F.col("dv1").alias("u"),
            F.col("dc1").alias("z"),
        )
        .unionAll(
            j.select(
                F.lit(f"{_EG_X}->{_EG_Y}").alias("direction"),
                F.col("dc").alias("y"),
                F.col("dc1").alias("u"),
                F.col("dv1").alias("z"),
            )
        )
        .where(
            F.col("y").isNotNull()
            & F.col("u").isNotNull()
            & F.col("z").isNotNull()
        )
    )
    yd = F.col("y").cast(DEC19)
    ud = F.col("u").cast(DEC19)
    zd = F.col("z").cast(DEC19)
    g = both.groupBy("direction").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(ud).cast("double").alias("su"),
        F.sum(zd).cast("double").alias("sz"),
        F.sum(yd * F.col("y")).cast("double").alias("syy"),
        F.sum(ud * F.col("u")).cast("double").alias("suu"),
        F.sum(zd * F.col("z")).cast("double").alias("szz"),
        F.sum(ud * F.col("y")).cast("double").alias("suy"),
        F.sum(zd * F.col("y")).cast("double").alias("szy"),
        F.sum(ud * F.col("z")).cast("double").alias("suz"),
    )
    nd = F.col("nd")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / nd
    cuu = F.col("suu") - F.col("su") * F.col("su") / nd
    czz = F.col("szz") - F.col("sz") * F.col("sz") / nd
    cuy = F.col("suy") - F.col("su") * F.col("sy") / nd
    czy = F.col("szy") - F.col("sz") * F.col("sy") / nd
    cuz = F.col("suz") - F.col("su") * F.col("sz") / nd
    den = cuu * czz - cuz * cuz
    b = (cuy * czz - czy * cuz) / den
    c = (czy * cuu - cuy * cuz) / den
    rss_u = cyy - b * cuy - c * czy
    rss_r = cyy - cuy * cuy / cuu
    # guards: collinear regressors (den = 0) or a perfect fit
    # (rss_u = 0) have no defined F; zero-variance y has no R^2
    ok = (den != 0) & (cuu > 0)
    fstat = F.when(
        ok & (rss_u > 0),
        (rss_r - rss_u) * (nd - F.lit(3.0)) / rss_u,
    )
    r2 = F.when(ok & (cyy > 0), F.lit(1.0) - rss_u / cyy)
    return g.select(
        "direction",
        "n",
        (F.round(fstat, 6) + F.lit(0.0)).alias("f_stat"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2_u"),
    ).orderBy("direction")


def _a_granger_causality_sql() -> str:
    return f"""
WITH {MINUTES_CTE}, j AS (
  SELECT y.minute, y.mv AS cv, x.mv AS vv
  FROM (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_Y}') y
  JOIN (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_X}') x
    USING (minute)
), d AS (
  SELECT minute,
    cv - lag(cv) OVER (ORDER BY minute) AS dc,
    vv - lag(vv) OVER (ORDER BY minute) AS dv
  FROM j
), l AS (
  SELECT dc, dv,
    lag(dc) OVER (ORDER BY minute) AS dc1,
    lag(dv) OVER (ORDER BY minute) AS dv1
  FROM d
), dirs AS (
  SELECT '{_EG_Y}->{_EG_X}' AS direction, dv AS y, dv1 AS u, dc1 AS z FROM l
  UNION ALL
  SELECT '{_EG_X}->{_EG_Y}' AS direction, dc AS y, dc1 AS u, dv1 AS z FROM l
), m AS (
  SELECT direction, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(u AS DECIMAL(19,0))) AS DOUBLE) AS su,
    CAST(SUM(CAST(z AS DECIMAL(19,0))) AS DOUBLE) AS sz,
    CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy,
    CAST(SUM(CAST(u AS DECIMAL(19,0)) * u) AS DOUBLE) AS suu,
    CAST(SUM(CAST(z AS DECIMAL(19,0)) * z) AS DOUBLE) AS szz,
    CAST(SUM(CAST(u AS DECIMAL(19,0)) * y) AS DOUBLE) AS suy,
    CAST(SUM(CAST(z AS DECIMAL(19,0)) * y) AS DOUBLE) AS szy,
    CAST(SUM(CAST(u AS DECIMAL(19,0)) * z) AS DOUBLE) AS suz
  FROM dirs WHERE y IS NOT NULL AND u IS NOT NULL AND z IS NOT NULL
  GROUP BY 1
), c AS (
  SELECT direction, n, nd,
    syy - sy*sy/nd AS cyy, suu - su*su/nd AS cuu, szz - sz*sz/nd AS czz,
    suy - su*sy/nd AS cuy, szy - sz*sy/nd AS czy, suz - su*sz/nd AS cuz
  FROM m
), fit AS (
  SELECT direction, n, nd, cyy, cuy, czy, cuu,
    cuu*czz - cuz*cuz AS det,
    (cuy*czz - czy*cuz) / (cuu*czz - cuz*cuz) AS b,
    (czy*cuu - cuy*cuz) / (cuu*czz - cuz*cuz) AS c2,
    cyy - cuy*cuy/cuu AS rss_r
  FROM c
)
SELECT direction, n,
  CASE WHEN det <> 0 AND cuu > 0 AND cyy - b*cuy - c2*czy > 0 THEN
    round((rss_r - (cyy - b*cuy - c2*czy)) * (nd - 3.0)
          / (cyy - b*cuy - c2*czy), 6) + 0.0
  END AS f_stat,
  CASE WHEN det <> 0 AND cuu > 0 AND cyy > 0 THEN
    round(1.0 - (cyy - b*cuy - c2*czy) / cyy, 6) + 0.0
  END AS r2_u
FROM fit ORDER BY direction
"""


# --------------------------------------------------------- a_partial_corr

_PC_Z = "purchase"


def a_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of the click and view minute series
    controlling for purchase: r_xy.z = (r_xy - r_xz*r_yz)
    / sqrt((1-r_xz^2)(1-r_yz^2)) over the three-way inner-joined
    minute grid.  Separates direct co-movement from co-movement
    induced by the common driver.

    Determinism: the three pairwise correlations come from exact
    born-decimal integer moments and are rounded before the closed
    form.  Scale shape: one minute rollup + two equi-joins on minute
    (skinny (minute, mv) rows) + one 1-row agg."""
    m = _minutes(spark, sf_dir)

    def series(t: str, alias: str):
        return m.where(F.col("event_type") == t).select(
            "minute", F.col("mv").alias(alias)
        )

    j = (
        series(_EG_Y, "xv")
        .join(series(_EG_X, "yv"), "minute")
        .join(series(_PC_Z, "zv"), "minute")
    )
    xd = F.col("xv").cast(DEC19)
    yd = F.col("yv").cast(DEC19)
    zd = F.col("zv").cast(DEC19)
    nd = F.count(F.lit(1)).cast("double")
    g = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_minutes"),
        nd.alias("nd"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(zd).cast("double").alias("sz"),
        F.sum(xd * F.col("xv")).cast("double").alias("sxx"),
        F.sum(yd * F.col("yv")).cast("double").alias("syy"),
        F.sum(zd * F.col("zv")).cast("double").alias("szz"),
        F.sum(xd * F.col("yv")).cast("double").alias("sxy"),
        F.sum(xd * F.col("zv")).cast("double").alias("sxz"),
        F.sum(yd * F.col("zv")).cast("double").alias("syz"),
    )

    def corr(sab, sa, sb, saa, sbb):
        cov = F.col("nd") * F.col(sab) - F.col(sa) * F.col(sb)
        va = F.col("nd") * F.col(saa) - F.col(sa) * F.col(sa)
        vb = F.col("nd") * F.col(sbb) - F.col(sb) * F.col(sb)
        return F.round(cov / F.sqrt(va * vb), 6) + F.lit(0.0)

    g = g.select(
        "n_minutes",
        corr("sxy", "sx", "sy", "sxx", "syy").alias("r_xy"),
        corr("sxz", "sx", "sz", "sxx", "szz").alias("r_xz"),
        corr("syz", "sy", "sz", "syy", "szz").alias("r_yz"),
    )
    num = F.col("r_xy") - F.col("r_xz") * F.col("r_yz")
    den2 = (F.lit(1.0) - F.col("r_xz") * F.col("r_xz")) * (
        F.lit(1.0) - F.col("r_yz") * F.col("r_yz")
    )
    # guard: |control correlation| = 1 leaves no residual variance
    return g.select(
        "n_minutes",
        "r_xy",
        "r_xz",
        "r_yz",
        F.when(
            den2 > 0, F.round(num / F.sqrt(den2), 6) + F.lit(0.0)
        ).alias("partial_r"),
    )


def _a_partial_corr_sql() -> str:
    def corr(sab, sa, sb, saa, sbb):
        return (
            f"round((nd*{sab} - {sa}*{sb})"
            f" / sqrt((nd*{saa} - {sa}*{sa}) * (nd*{sbb} - {sb}*{sb})), 6)"
            f" + 0.0"
        )

    return f"""
WITH {MINUTES_CTE}, j AS (
  SELECT x.minute, x.mv AS xv, y.mv AS yv, z.mv AS zv
  FROM (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_Y}') x
  JOIN (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_X}') y
    USING (minute)
  JOIN (SELECT minute, mv FROM minutes WHERE event_type = '{_PC_Z}') z
    USING (minute)
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_minutes,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    CAST(SUM(CAST(xv AS DECIMAL(19,0))) AS DOUBLE) AS sx,
    CAST(SUM(CAST(yv AS DECIMAL(19,0))) AS DOUBLE) AS sy,
    CAST(SUM(CAST(zv AS DECIMAL(19,0))) AS DOUBLE) AS sz,
    CAST(SUM(CAST(xv AS DECIMAL(19,0)) * xv) AS DOUBLE) AS sxx,
    CAST(SUM(CAST(yv AS DECIMAL(19,0)) * yv) AS DOUBLE) AS syy,
    CAST(SUM(CAST(zv AS DECIMAL(19,0)) * zv) AS DOUBLE) AS szz,
    CAST(SUM(CAST(xv AS DECIMAL(19,0)) * yv) AS DOUBLE) AS sxy,
    CAST(SUM(CAST(xv AS DECIMAL(19,0)) * zv) AS DOUBLE) AS sxz,
    CAST(SUM(CAST(yv AS DECIMAL(19,0)) * zv) AS DOUBLE) AS syz
  FROM j
), rs AS (
  SELECT n_minutes,
    {corr('sxy', 'sx', 'sy', 'sxx', 'syy')} AS r_xy,
    {corr('sxz', 'sx', 'sz', 'sxx', 'szz')} AS r_xz,
    {corr('syz', 'sy', 'sz', 'syy', 'szz')} AS r_yz
  FROM m
)
SELECT n_minutes, r_xy, r_xz, r_yz,
  CASE WHEN (1.0 - r_xz*r_xz) * (1.0 - r_yz*r_yz) > 0 THEN
    round((r_xy - r_xz*r_yz)
          / sqrt((1.0 - r_xz*r_xz) * (1.0 - r_yz*r_yz)), 6) + 0.0
  END AS partial_r
FROM rs
"""


# ---------------------------------------------------- a_cross_corr_leadlag

_CCF_MAX_LAG = 5


def a_cross_corr_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the click and view minute
    series at row lags -5..+5 on the joined minute grid: positive
    lag_k correlates click_t with view_{t+k} (click leading).  The
    lag is in GRID ROWS of the inner-joined minute sequence, not
    calendar minutes — gaps compress (documented contract; the
    calendar variant is w_rolling_corr's hour-bucket family).

    Determinism: the ti_acf pairwise-moment recipe per lag, exact
    decimal sums, round 6.  Scale shape: ONE time-bounded window sort
    (one row per joined minute) yields all 10 shifted columns; one
    grouped agg computes all 11 correlations; stack() unpivots."""
    m = _minutes(spark, sf_dir)
    y = m.where(F.col("event_type") == _EG_Y).select(
        "minute", F.col("mv").alias("cv")
    )
    x = m.where(F.col("event_type") == _EG_X).select(
        "minute", F.col("mv").alias("vv")
    )
    j = y.join(x, "minute")
    w = Window.orderBy("minute")
    shifts = {0: F.col("vv")}
    for kk in range(1, _CCF_MAX_LAG + 1):
        shifts[kk] = F.lead("vv", kk).over(w)
        shifts[-kk] = F.lag("vv", kk).over(w)
    j = j.select(
        "cv", *[shifts[kk].alias(f"v_{kk + _CCF_MAX_LAG}") for kk in sorted(shifts)]
    )
    aggs = []
    for kk in sorted(shifts):
        yc = F.col(f"v_{kk + _CCF_MAX_LAG}")
        xc = F.when(yc.isNotNull(), F.col("cv"))
        xd, yd = xc.cast(DEC19), yc.cast(DEC19)
        n = F.count(yc).cast("double")
        sx = F.sum(xd).cast("double")
        sy = F.sum(yd).cast("double")
        sxx = F.sum(xd * xc).cast("double")
        syy = F.sum(yd * yc).cast("double")
        sxy = F.sum(xd * yc).cast("double")
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (vx > 0) & (vy > 0),
            F.round(cov / F.sqrt(vx * vy), 6) + F.lit(0.0),
        )
        i = kk + _CCF_MAX_LAG
        aggs += [r.alias(f"ccf_{i}"), F.count(yc).cast("long").alias(f"n_{i}")]
    g = j.agg(*aggs)
    stack = ", ".join(
        f"{kk}, ccf_{kk + _CCF_MAX_LAG}, n_{kk + _CCF_MAX_LAG}"
        for kk in sorted(shifts)
    )
    return g.selectExpr(
        f"stack({len(shifts)}, {stack}) AS (lag_k, ccf, n_pairs)"
    ).orderBy("lag_k")


def _a_cross_corr_leadlag_sql() -> str:
    shift_cols, branches = [], []
    for kk in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1):
        i = kk + _CCF_MAX_LAG
        if kk == 0:
            shift_cols.append(f"vv AS v_{i}")
        elif kk > 0:
            shift_cols.append(f"lead(vv, {kk}) OVER (ORDER BY minute) AS v_{i}")
        else:
            shift_cols.append(f"lag(vv, {-kk}) OVER (ORDER BY minute) AS v_{i}")
        xd = f"CASE WHEN v_{i} IS NOT NULL THEN CAST(cv AS DECIMAL(19,0)) END"
        xr = f"CASE WHEN v_{i} IS NOT NULL THEN cv END"
        yd = f"CAST(v_{i} AS DECIMAL(19,0))"
        m = (
            f"SELECT CAST(COUNT(v_{i}) AS DOUBLE) AS n,"
            f" CAST(COUNT(v_{i}) AS BIGINT) AS n_pairs,\n"
            f"    CAST(SUM({xd}) AS DOUBLE) AS sx,"
            f" CAST(SUM({yd}) AS DOUBLE) AS sy,\n"
            f"    CAST(SUM(({xd}) * ({xr})) AS DOUBLE) AS sxx,\n"
            f"    CAST(SUM({yd} * v_{i}) AS DOUBLE) AS syy,\n"
            f"    CAST(SUM(({xd}) * v_{i}) AS DOUBLE) AS sxy\n"
            f"  FROM shifted"
        )
        branches.append(
            f"SELECT {kk} AS lag_k,\n"
            f"  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN\n"
            f"    round((n*sxy - sx*sy)"
            f" / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) + 0.0 END AS ccf,\n"
            f"  n_pairs\nFROM ({m})"
        )
    cols = ",\n    ".join(shift_cols)
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH {MINUTES_CTE}, j AS (
  SELECT y.minute, y.mv AS cv, x.mv AS vv
  FROM (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_Y}') y
  JOIN (SELECT minute, mv FROM minutes WHERE event_type = '{_EG_X}') x
    USING (minute)
), shifted AS (
  SELECT cv,
    {cols}
  FROM j
)
SELECT * FROM (
{union}
) ORDER BY lag_k
"""


# --------------------------------------------------------- ti_kaufman_er


def ti_kaufman_er(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman efficiency ratio per symbol over the full tick series:
    ER = |net price change| / sum of absolute tick changes.  ER near 1
    means trending (every tick in the same direction); near 0 means
    churn.  The adaptive-MA building block complementing ti_atr.

    Determinism: numerator and denominator are exact BIGINTs
    (arg-min/max endpoints by (ts, event_id)); the single division
    uses the exact half-away micro path.  Scale shape: one window
    sort per symbol for the diffs + one map-side-combined agg."""
    e = _ticks(spark, sf_dir)
    w = _wt()
    e = e.select(
        "event_type",
        "ts",
        "event_id",
        "vm",
        F.abs(F.col("vm") - F.lag("vm").over(w)).alias("ad"),
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
        F.expr("min_by(vm, struct(ts, event_id))").alias("first_vm"),
        F.expr("max_by(vm, struct(ts, event_id))").alias("last_vm"),
        F.coalesce(F.sum("ad"), F.lit(0)).cast("long").alias("path"),
    )
    return g.select(
        "event_type",
        "n_ticks",
        F.when(
            F.col("path") > 0,
            round_ratio_micro_dec(
                F.abs(F.col("last_vm") - F.col("first_vm")).cast(DEC),
                F.col("path"),
            ),
        ).alias("efficiency_ratio"),
    ).orderBy("event_type")


def _ti_kaufman_er_sql() -> str:
    # DECIMAL(38,6): the helper multiplies by 1e6 BEFORE its HUGEINT
    # cast, so an int64-scale numerator needs int128 headroom.
    er = sql_round_ratio_micro_huge(
        "CAST(abs(last_vm - first_vm) AS DECIMAL(38,6))", "path"
    )
    return f"""
WITH {TICKS_CTE}, d AS (
  SELECT event_type, vm,
    abs(vm - lag(vm) OVER ({_WT_SQL})) AS ad,
    first_value(vm) OVER ({_WT_SQL}) AS fvm,
    last_value(vm) OVER ({_WT_SQL}
      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lvm
  FROM ticks
), g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_ticks,
    MAX(fvm) AS first_vm, MAX(lvm) AS last_vm,
    CAST(coalesce(SUM(ad), 0) AS BIGINT) AS path
  FROM d GROUP BY 1
)
SELECT event_type, n_ticks,
  CASE WHEN path > 0 THEN {er} END AS efficiency_ratio
FROM g ORDER BY event_type
"""


# --------------------------------------------------------------- ti_cmf

_CMF_WINDOW = 20


def ti_cmf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin Money Flow per symbol over daily bars: the 20-day
    ratio of accumulation/distribution volume to total volume, where
    each bar contributes mfv = vol * ((close-low)-(high-close))
    / (high-low).  CMF > 0 sustained means buying pressure.

    Determinism: the per-bar multiplier is one IEEE chain on micro
    integers, quantized to a micro BIGINT before the window sums, so
    both rolling sums are exact integer folds; only bars with n >= 20
    trailing days are scored.  Scale shape: bar build + one window
    per symbol + one 5-row agg (arg-max endpoints)."""
    from kp_crypto_market_analytics_spark.queries_r9 import (
        _daily_bars_df,
        _wd,
    )

    bars = _daily_bars_df(spark, sf_dir)
    rng = F.col("hm") - F.col("lm")
    mfm = F.when(
        rng > 0,
        (F.lit(2) * F.col("cm") - F.col("lm") - F.col("hm")).cast("double")
        / rng,
    ).otherwise(F.lit(0.0))
    b = bars.select(
        "event_type",
        "day",
        "vol",
        F.round(mfm * F.col("vol") * F.lit(1_000_000.0), 0)
        .cast("long")
        .alias("mfv_micro"),
    )
    wf = _wd().rowsBetween(-(_CMF_WINDOW - 1), 0)
    b = b.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(wf).alias("nw"),
        F.sum("mfv_micro").over(wf).alias("s_mfv"),
        F.sum("vol").over(wf).alias("s_vol"),
    ).where((F.col("nw") >= _CMF_WINDOW) & (F.col("s_vol") > 0))
    cmf = (
        F.round(
            F.col("s_mfv").cast("double")
            / (F.lit(1_000_000.0) * F.col("s_vol")),
            6,
        )
        + F.lit(0.0)
    ).alias("cmf6")
    b = b.select("event_type", "day", cmf)
    return (
        b.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.expr("max_by(cmf6, day)").alias("last_cmf"),
            F.min("cmf6").alias("min_cmf"),
            F.max("cmf6").alias("max_cmf"),
        )
        .orderBy("event_type")
    )


def _ti_cmf_sql() -> str:
    from kp_crypto_market_analytics_spark.queries_r9 import (  # noqa: F401
        DAILY_BARS_CTE,
        _WD_SQL,
    )

    frame = f"{_WD_SQL} ROWS BETWEEN {_CMF_WINDOW - 1} PRECEDING AND CURRENT ROW"
    return f"""
WITH {DAILY_BARS_CTE}, mf AS (
  SELECT event_type, day, vol,
    CAST(round(
      (CASE WHEN hm - lm > 0
            THEN CAST(2*cm - lm - hm AS DOUBLE) / (hm - lm)
            ELSE 0.0 END) * vol * 1000000) AS BIGINT) AS mfv_micro
  FROM bars
), rolled AS (
  SELECT event_type, day,
    COUNT(*) OVER ({frame}) AS nw,
    SUM(mfv_micro) OVER ({frame}) AS s_mfv,
    SUM(vol) OVER ({frame}) AS s_vol
  FROM mf
), scored AS (
  SELECT event_type, day,
    round(CAST(s_mfv AS DOUBLE) / (1000000.0 * s_vol), 6) + 0.0 AS cmf6
  FROM rolled WHERE nw >= {_CMF_WINDOW} AND s_vol > 0
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
  arg_max(cmf6, day) AS last_cmf,
  MIN(cmf6) AS min_cmf,
  MAX(cmf6) AS max_cmf
FROM scored GROUP BY 1 ORDER BY event_type
"""


# --------------------------------------------------- a_markov_entropy_rate


def a_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plug-in entropy rate of the per-user event-type Markov chain
    (the information-theoretic summary of a_markov_transition's
    matrix): H = sum_ij (n_ij/N) * ln(n_i./n_ij) nats — the
    conditional entropy of the next event type given the current one,
    under the empirical joint.  efficiency = H / ln(n_states) in
    [0, 1]; near 1 means next-event is unpredictable.

    Determinism: counts are exact; each of the <= |types|^2 cell terms
    is one IEEE chain quantized to nano BIGINTs before the final sum.
    Scale shape: one per-user lead window + a |types|^2 agg + a 1-row
    fold — nothing data-sized past the first agg."""
    t = load_tables(spark, sf_dir, ["events"])
    e = ensure_parallelism(t["events"])
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        e.select(
            "user_id",
            F.col("event_type").alias("cur_type"),
            "ts",
            "event_id",
        )
        .withColumn("next_type", F.lead("cur_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    row_tot = trans.groupBy("cur_type").agg(F.sum("nij").alias("ni"))
    cells = trans.join(F.broadcast(row_tot), "cur_type")
    tot = cells.agg(
        F.sum("nij").alias("nn"),
        F.count_distinct("cur_type").alias("ns"),
    )
    term = (
        F.col("nij").cast("double") / F.col("nn")
    ) * F.log(F.col("ni").cast("double") / F.col("nij"))
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "nn",
        "ns",
        F.round(term * F.lit(1e9), 0).cast("long").alias("tn"),
    )
    g = scored.groupBy("nn", "ns").agg(F.sum("tn").alias("hn"))
    h = F.col("hn") / F.lit(1e9)
    return g.select(
        F.col("nn").cast("long").alias("n_transitions"),
        F.col("ns").cast("long").alias("n_states"),
        F.round(h, 6).alias("entropy_rate_nats"),
        # Degenerate-input guard (e69a1fc convention): with a single
        # state ln(1) = 0 and Spark's null-on-divide-by-zero would
        # diverge from DuckDB's IEEE NaN — pin both engines to NULL.
        F.when(
            F.col("ns") > 1,
            F.round(h / F.log(F.col("ns").cast("double")), 6),
        ).alias("efficiency"),
    )


def _a_markov_entropy_rate_sql() -> str:
    return """
WITH seq AS (
  SELECT event_type AS cur_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS next_type
  FROM events
), trans AS (
  SELECT cur_type, next_type, COUNT(*) AS nij
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
), rows_t AS (
  SELECT cur_type, SUM(nij) AS ni FROM trans GROUP BY 1
), cells AS (
  SELECT t.cur_type, t.nij, r.ni FROM trans t JOIN rows_t r USING (cur_type)
), tot AS (
  SELECT SUM(nij) AS nn, COUNT(DISTINCT cur_type) AS ns FROM cells
), scored AS (
  SELECT nn, ns,
    CAST(round((CAST(nij AS DOUBLE) / nn)
               * ln(CAST(ni AS DOUBLE) / nij) * 1e9) AS BIGINT) AS tn
  FROM cells CROSS JOIN tot
)
SELECT CAST(nn AS BIGINT) AS n_transitions, CAST(ns AS BIGINT) AS n_states,
  round(SUM(tn) / 1e9, 6) AS entropy_rate_nats,
  CASE WHEN ns > 1
    THEN round(SUM(tn) / 1e9 / ln(CAST(ns AS DOUBLE)), 6)
  END AS efficiency
FROM scored GROUP BY nn, ns
"""


# ---------------------------------------------------- a_vpin_stream_parity

_SVPIN_V = 2000  # fixed bucket volume — the streaming operator's param


def a_vpin_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming VPIN operator
    (streaming/vpin.py): the completed fixed-volume buckets of each
    symbol's tick-rule-classified tape.  Bucket ids are pure integer
    arithmetic (cumulative-volume-before DIV the FIXED bucket volume —
    streaming cannot know total volume, so unlike a_vpin the clock is
    a parameter, not data-derived), and a bucket is complete exactly
    when a later bucket has rows, so each symbol's max bucket id (the
    operator's in-state open bucket) is dropped.  tests/
    test_sinks_streaming.py pins the real applyInPandasWithState
    operator to this table row-for-row across 3 file-split triggers.

    Determinism: every column is an exact BIGINT.  Scale shape: the
    a_vpin window pair + one (type, bucket) agg; output rows =
    total_volume / V per symbol."""
    w = _wt()
    e = _ticks(spark, sf_dir).withColumn("__prev_vm", F.lag("vm").over(w))
    prev_vm = F.col("__prev_vm")
    d = F.col("vm") - prev_vm
    s0 = F.when(d > 0, 1).when(d < 0, -1)
    e = e.select(
        "event_type",
        "ts",
        "event_id",
        "k",
        F.last(s0, ignorenulls=True)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("s"),
    ).where(F.col("s").isNotNull() & F.col("k").isNotNull())
    cumb = F.coalesce(
        F.sum("k").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    e = e.select(
        "event_type",
        "s",
        "k",
        F.call_function("div", cumb, F.lit(_SVPIN_V)).alias("bucket_id"),
    )
    b = e.groupBy("event_type", "bucket_id").agg(
        F.sum(F.when(F.col("s") == 1, F.col("k")).otherwise(0))
        .cast("long")
        .alias("buy_vol"),
        F.sum(F.when(F.col("s") == -1, F.col("k")).otherwise(0))
        .cast("long")
        .alias("sell_vol"),
        F.sum("k").cast("long").alias("bucket_vol"),
    )
    wmax = Window.partitionBy("event_type")
    b = b.withColumn("__max_b", F.max("bucket_id").over(wmax)).where(
        F.col("bucket_id") < F.col("__max_b")
    )
    return b.select(
        "event_type",
        "bucket_id",
        "buy_vol",
        "sell_vol",
        "bucket_vol",
        F.abs(F.col("buy_vol") - F.col("sell_vol")).alias("imbalance"),
    ).orderBy("event_type", "bucket_id")


def _a_vpin_stream_parity_sql() -> str:
    return f"""
WITH {TICKS_CTE}, diffs AS (
  SELECT event_type, ts, event_id, k,
    CASE WHEN vm - lag(vm) OVER ({_WT_SQL}) > 0 THEN 1
         WHEN vm - lag(vm) OVER ({_WT_SQL}) < 0 THEN -1 END AS s0
  FROM ticks
), signed AS (
  SELECT event_type, ts, event_id, k,
    last_value(s0 IGNORE NULLS)
      OVER ({_WT_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM diffs
), classified AS (
  SELECT event_type, ts, event_id, k, s FROM signed
  WHERE s IS NOT NULL AND k IS NOT NULL
), clocked AS (
  SELECT event_type, s, k,
    coalesce(SUM(k) OVER ({_WT_SQL}
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      // {_SVPIN_V} AS bucket_id
  FROM classified
), buckets AS (
  SELECT event_type, bucket_id,
    CAST(SUM(CASE WHEN s = 1 THEN k ELSE 0 END) AS BIGINT) AS buy_vol,
    CAST(SUM(CASE WHEN s = -1 THEN k ELSE 0 END) AS BIGINT) AS sell_vol,
    CAST(SUM(k) AS BIGINT) AS bucket_vol
  FROM clocked GROUP BY 1, 2
)
SELECT event_type, CAST(bucket_id AS BIGINT) AS bucket_id,
  buy_vol, sell_vol, bucket_vol,
  abs(buy_vol - sell_vol) AS imbalance
FROM (
  SELECT *, MAX(bucket_id) OVER (PARTITION BY event_type) AS max_b
  FROM buckets
) WHERE bucket_id < max_b
ORDER BY event_type, bucket_id
"""


REGISTRY = (
    (ti_kyle_lambda, _ti_kyle_lambda_sql()),
    (ti_roll_spread, _ti_roll_spread_sql()),
    (ti_corwin_schultz, _ti_corwin_schultz_sql()),
    (a_vpin, _a_vpin_sql()),
    (a_yule_walker_ar2, _a_yule_walker_ar2_sql()),
    (a_durbin_watson, _a_durbin_watson_sql()),
    (a_newey_west, _a_newey_west_sql()),
    (a_engle_granger, _a_engle_granger_sql()),
    (a_tail_dependence, _a_tail_dependence_sql()),
    (t_coleman_liau, _t_coleman_liau_sql()),
    (dq_l_diversity, _dq_l_diversity_sql()),
    (a_granger_causality, _a_granger_causality_sql()),
    (a_partial_corr, _a_partial_corr_sql()),
    (a_cross_corr_leadlag, _a_cross_corr_leadlag_sql()),
    (ti_kaufman_er, _ti_kaufman_er_sql()),
    (ti_cmf, _ti_cmf_sql()),
    (a_markov_entropy_rate, _a_markov_entropy_rate_sql()),
    (a_vpin_stream_parity, _a_vpin_stream_parity_sql()),
)
