"""Correlation operators (SURVEY.md §2.5 A9/A10).

The reference pivots symbols wide then calls DataFrame.corr()
(binance_analysis.py:538-543) — a dense N×N matrix that cannot scale
past a few thousand series.  The Spark-first shape keeps the data LONG:
align series on the time bucket with a self-join, then one hash
aggregation of corr() per pair.  For S symbols that is S² pairs of
*aggregate state* (tiny), never a wide row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def corr_moments(x: Column | str, y: Column | str) -> Column:
    """Pearson correlation from explicit moments with a guarded
    denominator — null (not an error) on zero-variance series.

    Spark's built-in ``corr`` aggregate THROWS DIVIDE_BY_ZERO under
    ANSI mode when either series is constant (its internal division is
    ANSI-checked); this form keeps the division inside a lazily
    evaluated ``when``.  Pairwise null deletion matches ``corr``."""
    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    both = xc.isNotNull() & yc.isNotNull()
    xm, ym = F.when(both, xc), F.when(both, yc)
    n = F.count(xm).cast("double")
    sx, sy = F.sum(xm), F.sum(ym)
    sxx, syy, sxy = F.sum(xm * xm), F.sum(ym * ym), F.sum(xm * ym)
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return F.when((varx > 0) & (vary > 0), cov / F.sqrt(varx * vary))


def aligned_series(df: DataFrame, key: str, ts: str, value: str, bucket: str = "minute") -> DataFrame:
    """Bucket timestamps and average values per (key, bucket) — the
    alignment grid both correlation shapes share."""
    return df.groupBy(
        F.col(key).alias("series_key"),
        F.date_trunc(bucket, F.col(ts)).alias("bucket_ts"),
    ).agg(F.avg(value).alias("series_value"))


def pairwise_corr_long(
    df: DataFrame, key: str, ts: str, value: str, bucket: str = "minute"
) -> DataFrame:
    """A9 — long-format correlation matrix: (key_a, key_b, corr).

    Self-join on the time bucket aligns the series (inner join = the
    reference's pivot-then-corr pairwise-complete NaN handling is
    replaced by bucket-complete pairs; with a dense grid they agree).
    Emits the full symmetric matrix including the diagonal, like
    pandas .corr().
    """
    a = aligned_series(df, key, ts, value, bucket)
    b = (
        a.withColumnRenamed("series_key", "key_b")
        .withColumnRenamed("series_value", "value_b")
    )
    joined = a.withColumnRenamed("series_key", "key_a").withColumnRenamed(
        "series_value", "value_a"
    ).join(b, "bucket_ts")
    return (
        joined.groupBy("key_a", "key_b")
        .agg(corr_moments("value_a", "value_b").alias("corr"))
        .orderBy("key_a", "key_b")
    )


def scalar_corr(df: DataFrame, pairs: list[tuple[str, str]], min_rows: int = 10) -> DataFrame:
    """A10 — named scalar correlations with the reference's small-sample
    guard (binance_analysis.py:627-636: only computed when len > 10)."""
    n = F.count(F.lit(1))
    aggs = [
        F.when(n > min_rows, corr_moments(x, y)).alias(f"corr_{x}_{y}") for x, y in pairs
    ]
    return df.agg(*aggs)
