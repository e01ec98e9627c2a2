"""Feature pipeline + analytics fan-out (SURVEY.md §3 E3).

``add_features`` is the reference's add_features
(binance_analysis.py:209-245) as a single narrow-transform +
window-op DAG; ``analytics_fanout`` mirrors the main() fan-out — one
persisted feature frame feeding N branched aggregations (the
reference "caches" by holding the pandas frame in RAM; here an
explicit persist before the branch point, SURVEY §4)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kp_crypto_market_analytics_spark.functions.market import (
    anomaly_score,
    typical_price,
    weekday_name,
    weekday_sort_key,
)
from kp_crypto_market_analytics_spark.operators.aggregates import (
    daily_summary,
    dow_profile,
    hourly_profile,
    monthly_rollup,
    weekday_hour_pivot,
)
from kp_crypto_market_analytics_spark.operators.correlation import pairwise_corr_long
from kp_crypto_market_analytics_spark.operators.windows import log_return, rolling_std


def add_features(candles: DataFrame) -> DataFrame:
    """binance_analysis.py:209-245, step for step:

    sort → typical_price (F3) → log cols (F5) → per-symbol log-return
    (W1) → abs_ret → rolling 60m vol ×√60, min_periods 30 (W2) →
    hour/weekday (F9) → GLOBAL MAD z-scores (F13 — whole-frame scope,
    not per-symbol, :241-243) → anomaly_score (F14).

    One shuffle on symbol serves both window ops; the z-score medians
    are two exact-percentile global aggregates broadcast back.
    """
    from kp_crypto_market_analytics_spark.functions.market import robust_z_columns

    df = candles.withColumn("typical_price", typical_price())
    df = df.withColumn("log_close", F.when(F.col("close") > 0, F.log("close")))
    df = df.withColumn("log_volume", F.log1p("volume"))
    df = log_return(df, "symbol", "open_time", "close", out="log_ret")
    df = df.withColumn("abs_ret", F.abs("log_ret"))
    df = rolling_std(
        df, "symbol", "open_time", "log_ret",
        window_rows=60, min_periods=30, scale=60 ** 0.5, out="vol_60m",
    )
    df = df.withColumn("hour", F.hour("open_time"))
    df = df.withColumn("weekday", weekday_name("open_time"))
    df = df.withColumn("dow_key", weekday_sort_key("open_time"))
    # fillna(0) before scoring (:242-243), global scope per reference
    df = df.na.fill({"abs_ret": 0.0, "log_volume": 0.0})
    df = robust_z_columns(df, ["abs_ret", "log_volume"])
    return df.withColumn("anomaly_score", anomaly_score("abs_ret_z", "log_volume_z"))


def analytics_fanout(features: DataFrame) -> dict[str, DataFrame]:
    """The main() fan-out (binance_analysis.py:590-728): all artifact
    tables branched off ONE persisted feature frame.  Callers own
    unpersist()."""
    features.persist(StorageLevel.MEMORY_AND_DISK)
    out = {
        "daily": daily_summary(features, "open_time", "typical_price"),
        "monthly": monthly_rollup(
            daily_summary(features, "open_time", "volume")
        ),
        "hourly": hourly_profile(features, "open_time", "abs_ret"),
        "dow": dow_profile(features, "open_time", "abs_ret"),
        "heatmap": weekday_hour_pivot(features, "open_time", "abs_ret"),
        "correlation": pairwise_corr_long(
            features.na.drop(subset=["log_ret"]), "symbol", "open_time", "log_ret"
        ),
        "top_anomalies": features.orderBy(
            F.col("anomaly_score").desc(), "symbol", "open_time"
        ).limit(200),
    }
    return out
