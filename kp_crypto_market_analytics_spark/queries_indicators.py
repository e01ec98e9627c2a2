"""Technical-indicator + CDC gated queries (beyond-reference family).

The reference stops at rolling volatility
(`src/analytics/binance_analysis.py:232-239` → `w2_rolling_std`); this
module adds the rest of the classic price-series toolkit a crypto
analytics user expects — Bollinger bands, RSI, MACD, drawdown,
stochastic oscillator, VWAP, OBV — plus a snapshot-diff CDC operator
for the ETL side (the reference's Postgres upsert,
`src/etl/load_postgres.py:83-103`, is "apply changes"; snapshot diff
is the inverse: derive the change set).

Every query maps events → a tick series (symbol = event_type,
price = value, volume = the props `k` field, time = ts with event_id
as the total-order tiebreaker) and carries an exact DuckDB oracle.
All indicators stack on ONE window sort per symbol — a single shuffle;
see operators/indicators.py for the determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kp_crypto_market_analytics_spark.operators.aggregates import (
    DEC,
    round_mean_micro,
    sql_round_mean_micro,
)
from kp_crypto_market_analytics_spark.operators.indicators import (
    bollinger,
    cutler_rsi,
    drawdown,
    ewma_weights,
    obv_step,
    price_diff,
    smoothed,
    stochastic_k,
    truncated_ema,
)
from kp_crypto_market_analytics_spark.session import load_tables

# Shared tick-series window: one sort pass per symbol serves every
# indicator below (ORDER BY ts, event_id — total order, no ties).
_W_SQL = "PARTITION BY event_type ORDER BY ts, event_id"


def _w():
    return Window.partitionBy("event_type").orderBy("ts", "event_id")


_K_EXPR = "TRY_CAST(replace(replace(props, '{\"k\": ', ''), '}', '') AS BIGINT)"


def _k_col():
    """Volume proxy: the props `k` field, null-on-error (P2/P3 cast)."""
    return (
        F.replace(
            F.replace(F.col("props"), F.lit('{"k": '), F.lit("")), F.lit("}"), F.lit("")
        ).try_cast("long")
    )


# ------------------------------------------------------- ti_bollinger


def ti_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands: 20-row SMA ± 2·sample-stddev per symbol,
    masked below 20 observations.  Decimal moments in one frame of the
    shared window sort (the w2_rolling_std machinery, re-pointed)."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w().rowsBetween(-19, 0)
    return bollinger(t["events"], F.col("value"), w, min_periods=20, k=2.0).select(
        "event_id", "event_type", "value", "bb_mid", "bb_upper", "bb_lower"
    )


TI_BOLLINGER_SQL = f"""
SELECT event_id, event_type, value,
  CASE WHEN n >= 20 THEN round(sx/n, 6) END AS bb_mid,
  CASE WHEN n >= 20 THEN round(sx/n + 2.0 * sqrt(greatest((sx2 - sx*sx/n) / (n-1), 0)), 6) END AS bb_upper,
  CASE WHEN n >= 20 THEN round(sx/n - 2.0 * sqrt(greatest((sx2 - sx*sx/n) / (n-1), 0)), 6) END AS bb_lower
FROM (
  SELECT event_id, event_type, value,
    COUNT(value) OVER w AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
    CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx2
  FROM events
  WINDOW w AS ({_W_SQL} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
"""


# ------------------------------------------------------------- ti_rsi


def ti_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cutler's RSI-14 per symbol (SMA-of-gains variant — the
    window-expressible published form of Wilder's recursive smoothing).
    Diffs are re-rounded to the price scale so the gain/loss decimal
    sums are order-independent on both engines."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    frame = w.rowsBetween(-13, 0)
    d = price_diff(F.col("value"), w)
    df = t["events"].withColumn("d", d)
    return cutler_rsi(df, F.col("d"), frame, periods=14, out="rsi14").select(
        "event_id", "event_type", "value", "rsi14"
    )


TI_RSI_SQL = f"""
SELECT event_id, event_type, value,
  CASE WHEN n >= 14 AND sg + sl > 0 THEN round(100.0 * sg / (sg + sl), 6) END AS rsi14
FROM (
  SELECT event_id, event_type, value,
    COUNT(d) OVER f AS n,
    CAST(SUM(CAST(greatest(d, 0.0) AS DECIMAL(18,6))) OVER f AS DOUBLE) AS sg,
    CAST(SUM(CAST(greatest(-d, 0.0) AS DECIMAL(18,6))) OVER f AS DOUBLE) AS sl
  FROM (
    SELECT event_id, event_type, ts, value,
      round(value - lag(value, 1) OVER ({_W_SQL}), 2) AS d
    FROM events
  )
  WINDOW f AS ({_W_SQL} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
"""


# ------------------------------------------------------------ ti_macd

_MACD_FAST = 2.0 / 13.0  # EMA-12 smoothing
_MACD_SLOW = 2.0 / 27.0  # EMA-26 smoothing
_MACD_LAGS = 24  # truncation depth (shared by Spark and the oracle)


def ti_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD from truncated adjust=True EWMAs (24-lag closed form, the
    w_ewma_trunc pattern — weights are shared Python literals so both
    engines run identical IEEE chains), with an SMA-9 signal line over
    the 6-dp-rounded MACD and the histogram.  Both lag chains and the
    signal frame ride the ONE shared window sort."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    df = t["events"].select("event_id", "event_type", "ts", "value")
    df = truncated_ema(
        df, F.col("value"), w, _MACD_LAGS, {"__fast": _MACD_FAST, "__slow": _MACD_SLOW}
    )
    df = df.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        F.round(F.col("__fast") - F.col("__slow"), 6).alias("macd"),
    )
    df = smoothed(df, F.col("macd"), _w().rowsBetween(-8, 0), "signal")
    return df.select(
        "event_id",
        "event_type",
        "value",
        "macd",
        "signal",
        F.round(F.col("macd") - F.col("signal"), 6).alias("histogram"),
    )


def _ema_sql(alpha: float) -> str:
    # Weights are emitted as CAST(<repr> AS DOUBLE): DuckDB otherwise
    # parses the 17-digit literals as DECIMALs and runs (part of) the
    # chain in decimal arithmetic — diverging from Spark's IEEE chain
    # and overflowing DECIMAL(18) on the den sum.
    weights = ewma_weights(alpha, _MACD_LAGS)
    lag = lambda j: "value" if j == 0 else f"lag(value, {j}) OVER w"
    num = " + ".join(
        f"coalesce({lag(j)}, CAST(0.0 AS DOUBLE)) * CAST({wt!r} AS DOUBLE)"
        for j, wt in enumerate(weights)
    )
    den = " + ".join(
        f"CASE WHEN {lag(j)} IS NOT NULL THEN CAST({wt!r} AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
        for j, wt in enumerate(weights)
    )
    return f"({num}) / ({den})"


TI_MACD_SQL = f"""
SELECT event_id, event_type, value, macd,
  round(CAST(SUM(CAST(macd AS DECIMAL(18,6))) OVER f AS DOUBLE) / COUNT(macd) OVER f, 6) AS signal,
  round(macd - round(CAST(SUM(CAST(macd AS DECIMAL(18,6))) OVER f AS DOUBLE) / COUNT(macd) OVER f, 6), 6) AS histogram
FROM (
  SELECT event_id, event_type, ts, value,
    round(({_ema_sql(_MACD_FAST)}) - ({_ema_sql(_MACD_SLOW)}), 6) AS macd
  FROM events
  WINDOW w AS ({_W_SQL})
)
WINDOW f AS ({_W_SQL} ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
"""


# -------------------------------------------------------- ti_drawdown


def ti_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak + drawdown fraction per symbol (unbounded-preceding
    running max — exact, order-free)."""
    t = load_tables(spark, sf_dir, ["events"])
    w_cum = _w().rowsBetween(Window.unboundedPreceding, 0)
    return drawdown(t["events"], F.col("value"), w_cum).select(
        "event_id", "event_type", "value", "peak", "drawdown"
    )


TI_DRAWDOWN_SQL = f"""
SELECT event_id, event_type, value,
  MAX(value) OVER w AS peak,
  round((value - MAX(value) OVER w) / MAX(value) OVER w, 6) AS drawdown
FROM events
WINDOW w AS ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ------------------------------------------------------ ti_stochastic


def ti_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator: %K over a 14-row hi/lo channel, %D =
    SMA-3 of the 6-dp %K (rounded-then-reaccumulated, so the decimal
    sums agree across engines)."""
    t = load_tables(spark, sf_dir, ["events"])
    frame = _w().rowsBetween(-13, 0)
    df = t["events"].select("event_id", "event_type", "ts", "value")
    df = stochastic_k(df, F.col("value"), frame, periods=14, out="pct_k")
    df = smoothed(df, F.col("pct_k"), _w().rowsBetween(-2, 0), "pct_d")
    return df.select("event_id", "event_type", "value", "pct_k", "pct_d")


TI_STOCH_SQL = f"""
SELECT event_id, event_type, value, pct_k,
  CASE WHEN COUNT(pct_k) OVER f > 0
    THEN round(CAST(SUM(CAST(pct_k AS DECIMAL(18,6))) OVER f AS DOUBLE) / COUNT(pct_k) OVER f, 6)
  END AS pct_d
FROM (
  SELECT event_id, event_type, ts, value,
    CASE WHEN COUNT(value) OVER f14 >= 14 AND MAX(value) OVER f14 > MIN(value) OVER f14
      THEN round(100.0 * (value - MIN(value) OVER f14) / (MAX(value) OVER f14 - MIN(value) OVER f14), 6)
    END AS pct_k
  FROM events
  WINDOW f14 AS ({_W_SQL} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
WINDOW f AS ({_W_SQL} ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# ------------------------------------------------------------ ti_vwap


def ti_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday cumulative VWAP per (symbol, day): Σ(price·vol)/Σvol
    running within the session, volume = props `k` (null-tolerant).
    price::DECIMAL(18,6) × INTEGER volume keeps the running notional at
    scale 6 exactly, so the divide-and-round runs in exact int64
    (`round_mean_micro`) — the double path hit a real .5×10⁻⁶ tie at
    sf0.1 (see queries.py determinism rules)."""
    from kp_crypto_market_analytics_spark.operators.aggregates import round_mean_micro

    t = load_tables(spark, sf_dir, ["events"])
    w = (
        Window.partitionBy("event_type", "d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    df = t["events"].withColumn("d", F.to_date("ts")).withColumn("vol", _k_col())
    notional = (F.col("value").cast(DEC) * F.col("vol")).alias("notional")
    df = df.withColumns(
        {
            "__cum_not": F.sum(notional).over(w),
            "__cum_vol": F.sum("vol").over(w),
        }
    )
    cum_not, cum_vol = F.col("__cum_not"), F.col("__cum_vol")
    return df.select(
        "event_id",
        "event_type",
        "d",
        "value",
        F.when(cum_vol > 0, round_mean_micro(cum_not, cum_vol)).alias("vwap"),
    )


def _ti_vwap_sql() -> str:
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        sql_round_mean_micro,
    )

    mean = sql_round_mean_micro("cum_not", "cum_vol")
    return f"""
SELECT event_id, event_type, d, value,
  CASE WHEN cum_vol > 0 THEN {mean} END AS vwap
FROM (
  SELECT event_id, event_type, d, value,
    SUM(CAST(value AS DECIMAL(18,6)) * vol) OVER w AS cum_not,
    SUM(vol) OVER w AS cum_vol
  FROM (
    SELECT event_id, event_type, CAST(ts AS DATE) AS d, ts, value, {_K_EXPR} AS vol
    FROM events
  )
  WINDOW w AS (PARTITION BY event_type, d ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
"""


TI_VWAP_SQL = _ti_vwap_sql()


# ------------------------------------------------------------- ti_obv


def ti_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-balance volume per symbol: cumulative ±volume by tick
    direction (volume = props `k`).  Integer steps ⇒ the running sum is
    exact regardless of accumulation order."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    d = price_diff(F.col("value"), w)
    df = t["events"].withColumn("d", d)
    df = df.withColumn("step", obv_step(F.col("d"), F.coalesce(_k_col(), F.lit(0))))
    obv = F.sum("step").over(_w().rowsBetween(Window.unboundedPreceding, 0))
    return df.select("event_id", "event_type", "value", obv.alias("obv"))


TI_OBV_SQL = f"""
SELECT event_id, event_type, value, CAST(SUM(step) OVER w AS BIGINT) AS obv
FROM (
  SELECT event_id, event_type, ts, value,
    CAST(CASE WHEN d > 0 THEN vol WHEN d < 0 THEN -vol ELSE 0 END AS BIGINT) AS step
  FROM (
    SELECT event_id, event_type, ts, value,
      round(value - lag(value, 1) OVER ({_W_SQL}), 2) AS d,
      coalesce({_K_EXPR}, 0) AS vol
    FROM events
  )
)
WINDOW w AS ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# -------------------------------------------------------- ti_backtest

_BT_OVERSOLD = 30.0
_BT_OVERBOUGHT = 70.0


def ti_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized strategy backtest — the query the indicator family
    exists to feed: RSI mean-reversion (long when Cutler-RSI-14 < 30,
    short when > 70), position held for one step, P&L = position ×
    next-step log return.  Per symbol: trade counts, total/mean/stddev
    of per-trade returns, hit rate.

    The whole backtest is ONE window sort (RSI frame + lead share the
    partitioning) and one terminal 5-row aggregate: no loop over time,
    no Python — at 100 TB the backtest costs the same as any other
    indicator.  Returns are 6-dp rounded then decimal-summed (exact);
    hit_rate/means divide at the end."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    frame = w.rowsBetween(-13, 0)
    d = price_diff(F.col("value"), w)
    df = cutler_rsi(t["events"].withColumn("d", d), F.col("d"), frame, periods=14, out="rsi")
    df = df.withColumn("__led", F.lead("value").over(w))
    led = F.col("__led")
    fwd = F.when(
        (F.col("value") > 0) & (led > 0), F.round(F.log(led / F.col("value")), 6)
    )
    df = df.select(
        "event_id",
        "event_type",
        "rsi",
        fwd.alias("fwd_ret"),
    )
    pos = (
        F.when(F.col("rsi") < _BT_OVERSOLD, F.lit(1))
        .when(F.col("rsi") > _BT_OVERBOUGHT, F.lit(-1))
        .otherwise(F.lit(0))
    )
    trade_ret = F.when(
        (pos != 0) & F.col("fwd_ret").isNotNull(), pos * F.col("fwd_ret")
    )
    tr = df.select("event_type", pos.alias("pos"), trade_ret.alias("tr"))
    n = F.count("tr")
    s = F.sum(F.col("tr").cast(DEC)).cast("double")
    s2 = F.sum(F.col("tr").cast(DEC) * F.col("tr").cast(DEC)).cast("double")
    return (
        tr.groupBy("event_type")
        .agg(
            F.count(F.when((F.col("pos") == 1) & F.col("tr").isNotNull(), 1)).alias("n_long"),
            F.count(F.when((F.col("pos") == -1) & F.col("tr").isNotNull(), 1)).alias("n_short"),
            n.alias("n_trades"),
            F.coalesce(F.round(s, 6), F.lit(0.0)).alias("total_ret"),
            F.when(n > 0, F.round(s / n, 6)).alias("avg_ret"),
            F.when(
                n > 1,
                F.round(F.sqrt(F.greatest((s2 - s * s / n) / (n - F.lit(1)), F.lit(0.0))), 6),
            ).alias("std_ret"),
            F.when(n > 0, F.round(F.count(F.when(F.col("tr") > 0, 1)) / n, 6)).alias("hit_rate"),
        )
        .orderBy("event_type")
    )


TI_BACKTEST_SQL = f"""
WITH rsi_base AS (
  SELECT event_id, event_type, ts, value,
    round(value - lag(value, 1) OVER ({_W_SQL}), 2) AS d
  FROM events
), sig AS (
  SELECT event_id, event_type, ts, value,
    CASE WHEN COUNT(d) OVER f >= 14
          AND CAST(SUM(CAST(greatest(d, 0.0) AS DECIMAL(18,6))) OVER f AS DOUBLE)
            + CAST(SUM(CAST(greatest(-d, 0.0) AS DECIMAL(18,6))) OVER f AS DOUBLE) > 0
      THEN round(100.0 * CAST(SUM(CAST(greatest(d, 0.0) AS DECIMAL(18,6))) OVER f AS DOUBLE)
           / (CAST(SUM(CAST(greatest(d, 0.0) AS DECIMAL(18,6))) OVER f AS DOUBLE)
              + CAST(SUM(CAST(greatest(-d, 0.0) AS DECIMAL(18,6))) OVER f AS DOUBLE)), 6)
    END AS rsi,
    lead(value) OVER ({_W_SQL}) AS nxt
  FROM rsi_base
  WINDOW f AS ({_W_SQL} ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
), trades AS (
  SELECT event_type,
    CASE WHEN rsi < {_BT_OVERSOLD!r} THEN 1 WHEN rsi > {_BT_OVERBOUGHT!r} THEN -1 ELSE 0 END AS pos,
    CASE WHEN (CASE WHEN rsi < {_BT_OVERSOLD!r} THEN 1 WHEN rsi > {_BT_OVERBOUGHT!r} THEN -1 ELSE 0 END) <> 0
          AND value > 0 AND nxt > 0
      THEN (CASE WHEN rsi < {_BT_OVERSOLD!r} THEN 1 ELSE -1 END) * round(ln(nxt / value), 6)
    END AS tr
  FROM sig
)
SELECT event_type,
  COUNT(CASE WHEN pos = 1 AND tr IS NOT NULL THEN 1 END) AS n_long,
  COUNT(CASE WHEN pos = -1 AND tr IS NOT NULL THEN 1 END) AS n_short,
  COUNT(tr) AS n_trades,
  coalesce(round(CAST(SUM(CAST(tr AS DECIMAL(18,6))) AS DOUBLE), 6), 0.0) AS total_ret,
  CASE WHEN COUNT(tr) > 0
    THEN round(CAST(SUM(CAST(tr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(tr), 6) END AS avg_ret,
  CASE WHEN COUNT(tr) > 1 THEN round(sqrt(greatest(
    (CAST(SUM(CAST(tr AS DECIMAL(18,6)) * CAST(tr AS DECIMAL(18,6))) AS DOUBLE)
     - CAST(SUM(CAST(tr AS DECIMAL(18,6))) AS DOUBLE) * CAST(SUM(CAST(tr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(tr))
    / (COUNT(tr) - 1), 0)), 6) END AS std_ret,
  CASE WHEN COUNT(tr) > 0
    THEN round(COUNT(CASE WHEN tr > 0 THEN 1 END) / COUNT(tr), 6) END AS hit_rate
FROM trades GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------- cdc_snapshot_diff

_CDC_CUTOFF = "2024-01-02"


def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC with tombstones: per-user latest state as of
    the cutoff (snapshot A) vs end of data (snapshot B); a user whose
    latest event is type 'error' is a tombstone (soft-deleted).

    change_type: 'insert' (absent/tombstoned in A, live in B),
    'delete' (live in A, tombstoned in B), 'update' (live in both,
    value changed), 'unchanged' (live-equal or tombstoned in both).
    Liveness is an EXPLICIT presence flag (not value-is-null — a live
    row may legitimately carry a NULL value) and the update test is
    null-safe, so NULL values classify identically on both engines;
    `was_live`/`is_live` ride along so a change consumer (cdc_apply)
    can reconstruct without value-null proxies.
    This is the inverse of the reference's upsert apply
    (load_postgres.py:83-103): derive the change set two snapshots
    imply.  Scale: two window-dedup passes + one shuffle-free join on
    the already-partitioned user key; states are one row per user, so
    the join input is tiny relative to the event log."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]

    def snapshot(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(
                "user_id",
                "value",
                (F.col("event_type") == "error").alias("deleted"),
                F.lit(True).alias("present"),
            )
        )

    a = snapshot(e.where(F.col("ts") < F.lit(_CDC_CUTOFF).cast("timestamp")))
    b = snapshot(e)
    j = a.alias("a").join(b.alias("b"), "user_id", "full_outer")
    a_live = F.coalesce(F.col("a.present"), F.lit(False)) & ~F.col("a.deleted")
    b_live = F.coalesce(F.col("b.present"), F.lit(False)) & ~F.col("b.deleted")
    changed_value = ~F.col("a.value").eqNullSafe(F.col("b.value"))
    change = (
        F.when(~a_live & b_live, F.lit("insert"))
        .when(a_live & ~b_live, F.lit("delete"))
        .when(a_live & b_live & changed_value, F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "user_id",
        change.alias("change_type"),
        F.when(a_live, F.col("a.value")).alias("old_value"),
        F.when(b_live, F.col("b.value")).alias("new_value"),
        a_live.alias("was_live"),
        b_live.alias("is_live"),
    ).orderBy("user_id")


CDC_SNAPSHOT_SQL = f"""
WITH a AS (
  SELECT user_id, value, (event_type = 'error') AS deleted
  FROM (
    SELECT user_id, value, event_type,
      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{_CDC_CUTOFF} 00:00:00'
  ) WHERE rn = 1
), b AS (
  SELECT user_id, value, (event_type = 'error') AS deleted
  FROM (
    SELECT user_id, value, event_type,
      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
  CASE
    WHEN NOT coalesce(NOT a.deleted, FALSE) AND coalesce(NOT b.deleted, FALSE) THEN 'insert'
    WHEN coalesce(NOT a.deleted, FALSE) AND NOT coalesce(NOT b.deleted, FALSE) THEN 'delete'
    WHEN coalesce(NOT a.deleted, FALSE) AND coalesce(NOT b.deleted, FALSE)
         AND a.value IS DISTINCT FROM b.value THEN 'update'
    ELSE 'unchanged'
  END AS change_type,
  CASE WHEN coalesce(NOT a.deleted, FALSE) THEN a.value END AS old_value,
  CASE WHEN coalesce(NOT b.deleted, FALSE) THEN b.value END AS new_value,
  coalesce(NOT a.deleted, FALSE) AS was_live,
  coalesce(NOT b.deleted, FALSE) AS is_live
FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
ORDER BY user_id
"""


def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip identity: APPLY the derived change set back onto
    snapshot A's live state and return the reconstructed snapshot B —
    the oracle computes B directly from the raw event log, so the hash
    gate proves apply ∘ diff = identity (the property the reference's
    upsert loader, load_postgres.py:83-103, silently relies on).

    The apply consumes only what a change consumer would have:
    old_value (A's live state) + change_type/new_value/is_live (the
    change set).  inserts/updates take new_value, deletes drop,
    unchanged LIVE rows carry old_value forward — liveness comes from
    the explicit is_live flag, never from value-is-null (a live row
    may carry a NULL value).  Same partitioning as the diff — no
    extra exchange."""
    diff = cdc_snapshot_diff(spark, sf_dir)
    ct = F.col("change_type")
    return (
        diff.where(
            ct.isin("insert", "update")
            | ((ct == "unchanged") & F.col("is_live"))
        )
        .select(
            "user_id",
            F.when(ct.isin("insert", "update"), F.col("new_value"))
            .otherwise(F.col("old_value"))
            .alias("value"),
        )
        .orderBy("user_id")
    )


CDC_APPLY_SQL = """
SELECT user_id, value FROM (
  SELECT user_id, value, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
"""


# ------------------------------------------------------------- ti_acf

_ACF_LAGS = (1, 5, 10)


def ti_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the price series per symbol at lags 1/5/10:
    Pearson corr of (x_t, x_{t-k}) pairs from exact decimal moments
    (the a_regression formula family).  ONE window sort produces all
    three lag columns; one grouped aggregation computes all three
    correlations; stack() unpivots to long form — single shuffle."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    e = t["events"].select(
        "event_type",
        "value",
        *[F.lag("value", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    aggs = []
    for k in _ACF_LAGS:
        y = F.col(f"y{k}")
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
        acf = F.when((vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6))
        aggs += [acf.alias(f"acf{k}"), F.count(y).alias(f"n{k}")]
    g = e.groupBy("event_type").agg(*aggs)
    stack = ", ".join(f"{k}, acf{k}, n{k}" for k in _ACF_LAGS)
    return g.selectExpr(
        "event_type", f"stack({len(_ACF_LAGS)}, {stack}) AS (lag_k, acf, n_pairs)"
    ).orderBy("event_type", "lag_k")


def _acf_sql() -> str:
    lag_cols = ",\n    ".join(
        f"lag(value, {k}) OVER ({_W_SQL}) AS y{k}" for k in _ACF_LAGS
    )
    branches = []
    for k in _ACF_LAGS:
        xd = f"CASE WHEN y{k} IS NOT NULL THEN CAST(value AS DECIMAL(18,6)) END"
        yd = f"CAST(y{k} AS DECIMAL(18,6))"
        m = (
            f"SELECT event_type, CAST(COUNT(y{k}) AS DOUBLE) AS n, COUNT(y{k}) AS n_pairs,\n"
            f"    CAST(SUM({xd}) AS DOUBLE) AS sx, CAST(SUM({yd}) AS DOUBLE) AS sy,\n"
            f"    CAST(SUM(({xd}) * ({xd})) AS DOUBLE) AS sxx,\n"
            f"    CAST(SUM({yd} * {yd}) AS DOUBLE) AS syy,\n"
            f"    CAST(SUM(({xd}) * {yd}) AS DOUBLE) AS sxy\n"
            f"  FROM lagged GROUP BY 1"
        )
        branches.append(
            f"SELECT event_type, {k} AS lag_k,\n"
            f"  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0\n"
            f"    THEN round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) END AS acf,\n"
            f"  n_pairs\nFROM ({m})"
        )

    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH lagged AS (
  SELECT event_type, value,
    {lag_cols}
  FROM events
)
{union}
ORDER BY event_type, lag_k
"""


TI_ACF_SQL = _acf_sql()


# ------------------------------------------------------------ w_cusum

_CUSUM_K = 0.25  # slack, in baseline-σ units
_CUSUM_H = 4.0  # alarm threshold, in baseline-σ units


def w_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point statistic per symbol against the
    per-symbol global baseline (μ, σ from exact decimal moments).

    The textbook form is a per-row recurrence
    S⁺_t = max(0, S⁺_{t-1} + (x_t − μ − κ)) — seemingly a stateful
    Python loop.  It unrolls to S⁺_t = RS_t − min(0, min_{j≤t} RS_j)
    over the prefix sums RS of the drift-adjusted series, so the whole
    operator is two window passes (cumulative decimal sum + running
    min) on ONE sort — no Python, exact decimal arithmetic end-to-end,
    and it scales as a single shuffle on the symbol key.  z-steps are
    rounded to 6dp before accumulation (decimal-cast precondition)."""
    t = load_tables(spark, sf_dir, ["events"])
    e = t["events"]
    stats = e.groupBy("event_type").agg(
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("value")).alias("mu"),
        _exact_std_local("value").alias("sigma"),
    )
    df = e.join(F.broadcast(stats), "event_type")
    kappa = F.lit(_CUSUM_K) * F.col("sigma")
    z_pos = F.round(F.col("value") - F.col("mu") - kappa, 6).cast(DEC)
    z_neg = F.round(F.col("mu") - F.col("value") - kappa, 6).cast(DEC)
    cum = _w().rowsBetween(Window.unboundedPreceding, 0)
    zero = F.lit(0).cast(DEC)
    df = df.withColumn("zp", z_pos).withColumn("zn", z_neg)
    df = df.withColumns(
        {
            "__rs_p": F.sum("zp").over(cum),
            "__rs_n": F.sum("zn").over(cum),
        }
    )
    rs_p, rs_n = F.col("__rs_p"), F.col("__rs_n")
    df = df.withColumns(
        {
            "__lo_p": F.min(rs_p).over(cum),
            "__lo_n": F.min(rs_n).over(cum),
        }
    )
    lo_p, lo_n = F.col("__lo_p"), F.col("__lo_n")
    # Subtract in DOUBLE on both engines (DuckDB silently promotes
    # wide-decimal subtraction to DOUBLE, so a decimal-exact difference
    # is not portable; identical decimal→double operands subtracted in
    # IEEE are): RS and its running min are still decimal-exact.
    cp = rs_p.cast("double") - F.least(zero, lo_p).cast("double")
    cn = rs_n.cast("double") - F.least(zero, lo_n).cast("double")
    h = F.lit(_CUSUM_H) * F.col("sigma")
    return df.select(
        "event_id",
        "event_type",
        "value",
        cp.alias("cusum_pos"),
        cn.alias("cusum_neg"),
        ((cp > h) | (cn > h)).alias("alarm"),
    )


def _exact_std_local(c: str):
    col = F.col(c)
    n = F.count(col)
    sx = F.sum(col.cast(DEC)).cast("double")
    sx2 = F.sum(col.cast(DEC) * col.cast(DEC)).cast("double")
    return F.when(
        n > 1, F.sqrt(F.greatest((sx2 - sx * sx / n) / (n - F.lit(1)), F.lit(0.0)))
    )


W_CUSUM_SQL = f"""
WITH stats AS (
  SELECT event_type,
    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS mu,
    CASE WHEN COUNT(value) > 1 THEN sqrt(greatest(
      (CAST(SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       - CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value))
      / (COUNT(value) - 1), 0)) END AS sigma
  FROM events GROUP BY 1
), z AS (
  SELECT e.event_id, e.event_type, e.ts, e.value,
    CAST(round(e.value - s.mu - {_CUSUM_K!r} * s.sigma, 6) AS DECIMAL(18,6)) AS zp,
    CAST(round(s.mu - e.value - {_CUSUM_K!r} * s.sigma, 6) AS DECIMAL(18,6)) AS zn,
    s.sigma
  FROM events e JOIN stats s USING (event_type)
), rs0 AS (
  SELECT event_id, event_type, ts, value, sigma,
    CAST(SUM(zp) OVER w AS DECIMAL(28,6)) AS rsp,
    CAST(SUM(zn) OVER w AS DECIMAL(28,6)) AS rsn
  FROM z
  WINDOW w AS ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), rs AS (
  -- The decimal prefix sums and running mins are exact; the FINAL
  -- subtraction runs in DOUBLE on both engines (DuckDB silently
  -- promotes wide-decimal subtraction to DOUBLE, so instead both
  -- sides cast the identical decimals to double and subtract —
  -- identical IEEE operands, identical results).
  SELECT event_id, event_type, value, sigma, rsp, rsn,
    MIN(rsp) OVER w AS mp, MIN(rsn) OVER w AS mn
  FROM rs0
  WINDOW w AS ({_W_SQL} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, value,
  CAST(rsp AS DOUBLE) - CAST(least(CAST(0 AS DECIMAL(28,6)), mp) AS DOUBLE) AS cusum_pos,
  CAST(rsn AS DOUBLE) - CAST(least(CAST(0 AS DECIMAL(28,6)), mn) AS DOUBLE) AS cusum_neg,
  (CAST(rsp AS DOUBLE) - CAST(least(CAST(0 AS DECIMAL(28,6)), mp) AS DOUBLE) > {_CUSUM_H!r} * sigma
   OR CAST(rsn AS DOUBLE) - CAST(least(CAST(0 AS DECIMAL(28,6)), mn) AS DOUBLE) > {_CUSUM_H!r} * sigma) AS alarm
FROM rs
"""


# ------------------------------------------------------ ti_twap


# Promoted to operators.aggregates (a_mutual_info needs the same
# overflow-safe path); the private names remain for this module's
# call sites.
from kp_crypto_market_analytics_spark.operators.aggregates import (  # noqa: E402
    round_ratio_micro_dec as _round_ratio_micro_dec,
    sql_round_ratio_micro_huge as _sql_round_ratio_micro_huge,
)


def ti_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price over an IRREGULARLY sampled tick
    series — each observation holds until the next tick of the same
    symbol, so its weight is that holding time in exact epoch-µs
    (ti_vwap weights by volume; TWAP is the execution-benchmark twin
    that weights by time).  Per (symbol, day of interval start):
    observation count, total holding time, time-weighted mean, and
    the unweighted mean for contrast.  The day's last tick's interval
    crosses midnight and is attributed to its start day (standard
    TWAP bucketing); each symbol's final tick has no successor and is
    excluded.

    Determinism: Δt is exact BIGINT µs from the lead over the shared
    symbol sort; price·Δt sums as exact DECIMAL; the quotient rounds
    half-away via pure integer division on DECIMAL(38,0) micro units
    (``_round_ratio_micro_dec`` — num·10⁶ ≈ 10²¹ overflows int64, so
    the int64 helper would be wrong here, not just slow).

    Scale shape: ONE window sort per symbol (the family's shared
    exchange) then a (symbol, day)-grain agg with map-side partials;
    nothing wider than scalars shuffles."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    ticks = (
        t["events"]
        .select(
            "event_type",
            "event_id",
            "ts",
            F.unix_micros(F.col("ts")).alias("s_us"),
            F.col("value").cast(DEC).alias("price"),
        )
        .withColumn("next_us", F.lead("s_us").over(w))
        .where(F.col("next_us").isNotNull())
        .withColumn("dt_us", F.col("next_us") - F.col("s_us"))
    )
    agg = ticks.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("dt_us").alias("held_us"),
        F.sum(F.col("price") * F.col("dt_us")).alias("pv"),
        F.sum("price").alias("psum"),
    )
    return agg.select(
        "event_type",
        "day",
        "n_obs",
        "held_us",
        _round_ratio_micro_dec(F.col("pv"), F.col("held_us")).alias("twap"),
        round_mean_micro(F.col("psum"), F.col("n_obs")).alias("mean_price"),
    ).orderBy("event_type", "day")


TI_TWAP_SQL = f"""
WITH ticks AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    epoch_us(ts) AS s_us,
    lead(epoch_us(ts)) OVER ({_W_SQL}) AS next_us,
    CAST(value AS DECIMAL(18,6)) AS price
  FROM events
), held AS (
  SELECT event_type, day, price, next_us - s_us AS dt_us
  FROM ticks WHERE next_us IS NOT NULL
), agg AS (
  SELECT event_type, day, COUNT(*) AS n_obs, SUM(dt_us) AS held_us,
    SUM(price * dt_us) AS pv, SUM(price) AS psum
  FROM held GROUP BY event_type, day
)
SELECT event_type, day, CAST(n_obs AS BIGINT) AS n_obs,
  CAST(held_us AS BIGINT) AS held_us,
  {_sql_round_ratio_micro_huge("pv", "held_us")} AS twap,
  {sql_round_mean_micro("psum", "n_obs")} AS mean_price
FROM agg ORDER BY event_type, day
"""


# ------------------------------------------------------ ti_realized_vol

_RV_HALF_PI = 1.5707963267948966  # pi/2, shared double literal


def ti_realized_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility + bipower variation per (symbol, day)
    (Barndorff-Nielsen & Shephard 2004, public): RV = Σ r², BV =
    (π/2)·Σ|rᵢ||rᵢ₋₁| over intraday log returns — BV is jump-robust,
    so max(0, RV − BV) isolates the jump component.  The econometrics
    pair every volatility desk computes from tick data.

    Determinism: returns are within-day lags on the family's shared
    (symbol, time) sort; each Σ folds as rounded BIGINT micro-units
    (r² ≤ ~120 on this data, so µ-units hold 6 significant decimals)
    — float sums over intraday returns would be order-dependent; the
    π/2 scaling and the final rounds are single IEEE ops on exact
    integers.

    Scale shape: ONE window sort per symbol (two lags ride the same
    frame), then a (symbol, day)-grain agg with map-side partials."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    r = F.log(F.col("value") / F.lag("value").over(w))
    ticks = (
        # zero prices exist in the synthetic stream (6 at sf0.1) and a
        # log return is undefined through them — drop them BEFORE the
        # lag so consecutive positive ticks still pair up (the oracle
        # filters identically).
        t["events"]
        .where(F.col("value") > 0)
        .select(
            "event_type",
            "event_id",
            "ts",
            "value",
            F.to_date("ts").alias("day"),
            F.lag(F.to_date("ts")).over(w).alias("prev_day"),
            r.alias("r"),
        )
        .where(F.col("r").isNotNull() & (F.col("day") == F.col("prev_day")))
        .withColumn("prev_abs_r", F.lag(F.abs("r")).over(_w()))
        .withColumn("prev_day2", F.lag("day").over(_w()))
    )
    rv_u = F.round(F.col("r") * F.col("r") * F.lit(1_000_000.0), 0).cast("long")
    bp_u = F.when(
        F.col("prev_abs_r").isNotNull() & (F.col("day") == F.col("prev_day2")),
        F.round(
            F.abs("r") * F.col("prev_abs_r") * F.lit(1_000_000.0), 0
        ).cast("long"),
    ).otherwise(F.lit(0))
    agg = ticks.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_returns"),
        F.sum(rv_u).alias("rv_u"),
        F.sum(bp_u).alias("bp_u"),
    )
    rv = F.col("rv_u") / F.lit(1_000_000.0)
    bv = F.round(F.lit(_RV_HALF_PI) * F.col("bp_u") / F.lit(1_000_000.0), 6)
    return agg.select(
        "event_type",
        "day",
        "n_returns",
        (F.round(rv, 6) + F.lit(0.0)).alias("rv"),
        (bv + F.lit(0.0)).alias("bv"),
        (F.round(F.greatest(F.lit(0.0), rv - bv), 6) + F.lit(0.0)).alias("jump"),
    ).orderBy("event_type", "day")


TI_REALIZED_VOL_SQL = f"""
WITH lagged AS (
  SELECT event_type, ts, event_id, CAST(ts AS DATE) AS day,
    lag(CAST(ts AS DATE)) OVER ({_W_SQL}) AS prev_day,
    ln(value / lag(value) OVER ({_W_SQL})) AS r
  FROM events WHERE value > 0
), rets2 AS (
  SELECT event_type, day, r,
    lag(abs(r)) OVER (PARTITION BY event_type ORDER BY rn) AS prev_abs_r,
    lag(day) OVER (PARTITION BY event_type ORDER BY rn) AS prev_day2
  FROM (
    SELECT event_type, day, r,
      row_number() OVER ({_W_SQL}) AS rn
    FROM lagged WHERE r IS NOT NULL AND day = prev_day
  )
), folded AS (
  SELECT event_type, day, COUNT(*) AS n_returns,
    SUM(CAST(round(r * r * 1000000.0, 0) AS BIGINT)) AS rv_u,
    SUM(CASE WHEN prev_abs_r IS NOT NULL AND day = prev_day2
      THEN CAST(round(abs(r) * prev_abs_r * 1000000.0, 0) AS BIGINT)
      ELSE 0 END) AS bp_u
  FROM rets2 GROUP BY event_type, day
)
SELECT event_type, day, CAST(n_returns AS BIGINT) AS n_returns,
  round(rv_u / 1000000.0, 6) + 0.0 AS rv,
  round({_RV_HALF_PI!r} * bp_u / 1000000.0, 6) + 0.0 AS bv,
  round(greatest(0.0, rv_u / 1000000.0
    - round({_RV_HALF_PI!r} * bp_u / 1000000.0, 6)), 6) + 0.0 AS jump
FROM folded ORDER BY event_type, day
"""


# ------------------------------------------------------ w_des_forecast

_DES_ALPHA = 0.3
_DES_LAGS = 24


def _des_ema_sql(col: str, alpha: float, lags: int) -> str:
    """Truncated-EMA SQL chain over an arbitrary column (the ti_macd
    _ema_sql generalized) — weights emitted as CAST(repr AS DOUBLE) so
    DuckDB runs the same IEEE chain Spark does."""
    weights = ewma_weights(alpha, lags)
    lag = lambda j: col if j == 0 else f"lag({col}, {j}) OVER w"  # noqa: E731
    num = " + ".join(
        f"coalesce({lag(j)}, CAST(0.0 AS DOUBLE)) * CAST({wt!r} AS DOUBLE)"
        for j, wt in enumerate(weights)
    )
    den = " + ".join(
        f"CASE WHEN {lag(j)} IS NOT NULL THEN CAST({wt!r} AS DOUBLE)"
        f" ELSE CAST(0.0 AS DOUBLE) END"
        for j, wt in enumerate(weights)
    )
    return f"({num}) / ({den})"


def w_des_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing (level + trend) — the
    one-parameter trend forecaster between w_seasonal_naive_forecast
    (no trend) and a full Holt-Winters: s₁ = EMA(x), s₂ = EMA(s₁),
    level = 2s₁ − s₂, trend = α/(1−α)·(s₁ − s₂), next-step forecast =
    level + trend (Brown 1956, public).

    Determinism: both EMA stages are the ti_macd truncated closed form
    (weights as shared Python double literals — no libm pow, no
    recurrence); s₁ rounds to 6 dp BEFORE feeding s₂ so the second
    chain consumes identical inputs on both engines.

    Scale shape: two lag chains on the family's ONE shared symbol
    sort; the second chain reads the first's output column, same
    exchange."""
    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    staged = t["events"].select("event_id", "event_type", "ts", "value")
    for src, out in (("value", "s1"), ("s1", "s2")):
        staged = truncated_ema(staged, F.col(src), w, _DES_LAGS, {out: _DES_ALPHA}, 6)
    level = F.lit(2.0) * F.col("s1") - F.col("s2")
    trend = F.lit(_DES_ALPHA / (1.0 - _DES_ALPHA)) * (F.col("s1") - F.col("s2"))
    return staged.select(
        "event_id",
        "event_type",
        "value",
        "s1",
        "s2",
        (F.round(level, 6) + F.lit(0.0)).alias("level"),
        (F.round(trend, 6) + F.lit(0.0)).alias("trend"),
        (F.round(level + trend, 6) + F.lit(0.0)).alias("forecast"),
    )


def _w_des_forecast_sql() -> str:
    a = _DES_ALPHA
    return f"""
WITH s1t AS (
  SELECT event_id, event_type, ts, value,
    round({_des_ema_sql("value", a, _DES_LAGS)}, 6) AS s1
  FROM events
  WINDOW w AS ({_W_SQL})
), s2t AS (
  SELECT event_id, event_type, value, s1,
    round({_des_ema_sql("s1", a, _DES_LAGS)}, 6) AS s2
  FROM s1t
  WINDOW w AS ({_W_SQL})
)
SELECT event_id, event_type, value, s1, s2,
  round(2.0 * s1 - s2, 6) + 0.0 AS level,
  round(CAST({a / (1.0 - a)!r} AS DOUBLE) * (s1 - s2), 6) + 0.0 AS trend,
  round((2.0 * s1 - s2) + CAST({a / (1.0 - a)!r} AS DOUBLE) * (s1 - s2), 6) + 0.0
    AS forecast
FROM s2t
"""


# ------------------------------------------------------ ti_var_cvar


def ti_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and expected shortfall per symbol:
    VaR95 = the exact 5th percentile of the return series, CVaR95 =
    the mean of the tail at or below it (Rockafellar & Uryasev's
    historical estimator, public) — the risk report next to
    ti_realized_vol's variance decomposition.

    Determinism: returns round to 6 dp BEFORE anything else (so the
    tail membership test `r <= VaR` compares exact 6-dp values — no
    boundary can flip between engines); VaR is the exact interpolated
    percentile (flips to approx_percentile under the standing
    APPROX_QUANTILES_CONF at scale), rounded 6 and used in that
    rounded form on BOTH sides; CVaR is the exact half-away micro mean
    of DECIMAL-cast tail returns.

    Scale shape: returns ride the family's ONE shared symbol sort; the
    per-symbol percentile is a |symbols|-group agg; the tail pass is a
    broadcast join of 5 scalar thresholds back onto the return
    frame."""
    from kp_crypto_market_analytics_spark.operators.aggregates import (
        percentile_expr,
        round_mean_micro,
    )

    t = load_tables(spark, sf_dir, ["events"])
    w = _w()
    rets = (
        t["events"]
        .where(F.col("value") > 0)
        .select(
            "event_type",
            F.round(F.log(F.col("value") / F.lag("value").over(w)), 6).alias("r"),
        )
        .where(F.col("r").isNotNull())
    )
    var = rets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_returns"),
        F.round(percentile_expr(rets, "r", 0.05), 6).alias("var95"),
        F.min("r").alias("worst"),
    )
    tail = (
        rets.join(F.broadcast(var.select("event_type", "var95")), "event_type")
        .where(F.col("r") <= F.col("var95"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_tail"),
            F.sum(F.col("r").cast(DEC)).alias("tail_sum"),
        )
    )
    return (
        var.join(tail, "event_type")
        .select(
            "event_type",
            "n_returns",
            (F.col("var95") + F.lit(0.0)).alias("var95"),
            (
                round_mean_micro(F.col("tail_sum"), F.col("n_tail")) + F.lit(0.0)
            ).alias("cvar95"),
            (F.col("worst") + F.lit(0.0)).alias("worst"),
            F.col("n_tail").cast("long").alias("n_tail"),
        )
        .orderBy("event_type")
    )


TI_VAR_CVAR_SQL = f"""
WITH rets AS (
  SELECT event_type,
    round(ln(value / lag(value) OVER ({_W_SQL})), 6) AS r
  FROM events WHERE value > 0
), rr AS (
  SELECT event_type, r FROM rets WHERE r IS NOT NULL
), var AS (
  SELECT event_type, COUNT(*) AS n_returns,
    round(quantile_cont(r, 0.05), 6) AS var95,
    MIN(r) AS worst
  FROM rr GROUP BY event_type
), tail AS (
  SELECT rr.event_type, COUNT(*) AS n_tail,
    SUM(CAST(r AS DECIMAL(18,6))) AS tail_sum
  FROM rr JOIN var ON var.event_type = rr.event_type
  WHERE r <= var95 GROUP BY rr.event_type
)
SELECT v.event_type, CAST(n_returns AS BIGINT) AS n_returns,
  var95 + 0.0 AS var95,
  {sql_round_mean_micro("tail_sum", "n_tail")} + 0.0 AS cvar95,
  worst + 0.0 AS worst,
  CAST(n_tail AS BIGINT) AS n_tail
FROM var v JOIN tail t ON t.event_type = v.event_type
ORDER BY v.event_type
"""


REGISTRY = (
    (ti_bollinger, TI_BOLLINGER_SQL),
    (ti_rsi, TI_RSI_SQL),
    (ti_macd, TI_MACD_SQL),
    (ti_drawdown, TI_DRAWDOWN_SQL),
    (ti_stochastic, TI_STOCH_SQL),
    (ti_vwap, TI_VWAP_SQL),
    (ti_obv, TI_OBV_SQL),
    (ti_acf, TI_ACF_SQL),
    (ti_backtest, TI_BACKTEST_SQL),
    (w_cusum, W_CUSUM_SQL),
    (cdc_snapshot_diff, CDC_SNAPSHOT_SQL),
    (cdc_apply, CDC_APPLY_SQL),
    (ti_twap, TI_TWAP_SQL),
    (ti_realized_vol, TI_REALIZED_VOL_SQL),
    (w_des_forecast, _w_des_forecast_sql()),
    (ti_var_cvar, TI_VAR_CVAR_SQL),
)
