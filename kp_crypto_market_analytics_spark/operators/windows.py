"""Window operators (SURVEY.md §2.6 W1-W4, §2.7 top-k).

All are single-shuffle plans: Spark partitions by the window key once,
sorts within partitions, and evaluates every frame in that pass.
Ordering keys always include a unique tiebreaker so results are
deterministic under ties (pandas positional semantics made explicit).

A ``.over(w)`` Column is one window aggregate per *reference*: the
analyzer extracts every occurrence as its own ``_weN`` expression and
never dedupes them, so a moment used in five places of a formula is
computed five times per row (a sliding ROWS frame re-aggregates the
frame for each).  Formulas therefore select each window aggregate once
as a ``__``-prefixed column (``withColumns``) and read it through
``F.col`` in a following projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def series_window(partition: str | list[str], order: str | list[str]) -> WindowSpec:
    parts = [partition] if isinstance(partition, str) else partition
    orders = [order] if isinstance(order, str) else order
    return Window.partitionBy(*parts).orderBy(*orders)


def log_return(df: DataFrame, partition, order, value: str, out: str = "log_ret") -> DataFrame:
    """W1 variant — log-return: log(x) − lag(log(x)); null on nonpositive."""
    w = series_window(partition, order)
    lx = F.when(F.col(value) > 0, F.log(value))
    return df.withColumn(out, lx - F.lag(lx, 1).over(w))


def rolling_std(
    df: DataFrame,
    partition,
    order,
    value: str,
    window_rows: int = 60,
    min_periods: int = 30,
    scale: float | None = None,
    out: str = "rolling_std",
) -> DataFrame:
    """W2 — trailing N-row sample stddev with a min_periods mask
    (pandas rolling(60, min_periods=30).std() * sqrt(60);
    binance_analysis.py:233-239).

    Two expressions over ONE window frame (Spark evaluates both in the
    same sort pass): stddev_samp over rowsBetween(-(N-1), 0), masked
    null where the frame holds < min_periods non-null values — exactly
    pandas' partial-window rule.  ddof=1 both sides.
    """
    w = series_window(partition, order).rowsBetween(-(window_rows - 1), 0)
    std = F.stddev_samp(value).over(w)
    cnt = F.count(value).over(w)
    expr = F.when(cnt >= min_periods, std)
    if scale is not None:
        expr = expr * F.lit(scale)
    return df.withColumn(out, expr)


def rank_levels(
    df: DataFrame,
    partition,
    price: str,
    side: str,
    bid: str = "bid",
    ask: str = "ask",
    tiebreak: str | list[str] | None = None,
    out: str = "level",
) -> DataFrame:
    """W4 — orderbook level ranking: bids rank by price DESC, asks by
    price ASC, per (partition, side) (binance_analysis.py:489-494).

    One window with a conditional sort key (price negated on the bid
    side) — a single shuffle instead of the two-branch union."""
    sort_key = F.when(F.col(side) == bid, -F.col(price)).otherwise(F.col(price))
    parts = ([partition] if isinstance(partition, str) else list(partition)) + [side]
    ties = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    w = Window.partitionBy(*parts).orderBy(sort_key, *[F.col(t) for t in ties])
    return df.withColumn(out, F.row_number().over(w))


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """O2/O3 — global top-k: orderBy + limit.  Catalyst compiles this to
    TakeOrderedAndProject — each partition keeps a k-row heap, the
    driver merges heaps; no full sort, no full shuffle."""
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame, partition, order: list[Column], k: int, rank_col: str = "rn"
) -> DataFrame:
    """O4/A13 — per-group top-k via row_number ≤ k.  AQE handles skewed
    groups; for extreme skew pre-aggregate a per-partition top-k first."""
    parts = [partition] if isinstance(partition, str) else partition
    w = Window.partitionBy(*parts).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int = 1800,
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the previous event of the same key EXCEEDS ``gap_seconds``.
    session_id = running count of session starts — two window passes
    over ONE sort (lag + cumulative sum share the partitioning), so the
    whole op is a single shuffle on ``key``.

    Batch twin of Structured Streaming's ``session_window`` (the
    streaming path in streaming/candles.py uses the built-in); batch
    results are identical for fully-arrived data.  Boundary convention
    (empirically matched to Spark's session_window, which merges
    touching windows): an event exactly ``gap_seconds`` after its
    predecessor JOINS the session — only a strictly larger gap starts a
    new one (hence ``>`` below; equivalence incl. the exact-gap case is
    pinned by tests/test_sinks_streaming.py)."""
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    df = df.withColumn("__prev", F.lag(ts).over(w))
    prev = F.col("__prev")
    new_session = F.when(
        prev.isNull() | (F.unix_millis(F.col(ts)) - F.unix_millis(prev) > gap_seconds * 1000),
        1,
    ).otherwise(0)
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("__new", new_session).withColumn(
        "session_id", F.sum("__new").over(running)
    ).drop("__new", "__prev")


def ewma_grouped(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    alpha: float = 0.1,
    tiebreak: str | None = None,
) -> DataFrame:
    """Per-key exponentially weighted moving average — the sequential
    recurrence s_t = a·x_t + (1-a)·s_{t-1} has no closed window-frame
    form, so it runs as a grouped-map ``applyInPandas`` stage: one
    Arrow-batched pandas worker per key group, vectorized ewm inside.
    Matches pandas ewm(alpha, adjust=False) exactly.

    Scale notes: one shuffle on ``key``; each group must fit a worker's
    memory (time-series per symbol do); for million-row groups switch
    to applyInPandasWithState over time-ordered micro-batches
    (streaming/stateful.py shows the pattern)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts] + ([tiebreak] if tiebreak else [])
    out_schema = StructType(df.schema.fields + [StructField("ewma", DoubleType())])

    def fn(pdf: "pandas.DataFrame") -> "pandas.DataFrame":  # noqa: F821
        pdf = pdf.sort_values(order)
        pdf["ewma"] = pdf[value].ewm(alpha=alpha, adjust=False).mean()
        return pdf

    return df.groupBy(key).applyInPandas(fn, out_schema)


def skew_split_cumsum(
    df: DataFrame,
    key: str,
    ts: str,
    tiebreak: str,
    value: str,
    bucket_seconds: int = 86400,
    out: str = "cum_value",
) -> DataFrame:
    """Skew-hardened per-key running total — the split-and-merge window
    plan SCALING.md names as the 100× lever for hot window keys (a
    5-value key column like event_type puts ~20% of a 100 TB table's
    rows into ONE sort partition under the naive
    ``sum() OVER (PARTITION BY key ORDER BY ts)``).

    Three stages, none of which ever sorts a whole hot key on one task:

    1. within-bucket window: partition (key, time-bucket) — a hot key's
       rows spread across span/bucket_seconds partitions;
    2. bucket totals (map-side-combined agg, |keys|·|buckets| rows) and
       an EXCLUSIVE running prefix per key over buckets — a window over
       the skinny aggregate, not the fact table;
    3. broadcast-join the prefix back on (key, bucket) and add.

    Sums run in DECIMAL(18,6) — exact, associative — so split + prefix
    equals the naive single-partition window bit-for-bit (the
    ``w_skew_split`` gate proves it against that naive plan as oracle).
    Bucket assignment uses floor(epoch_seconds/bucket), monotone in
    ``ts``, so equal-``ts`` ties can never straddle a bucket boundary.
    """
    dec = F.col(value).cast("decimal(18,6)")
    b = F.floor(F.unix_timestamp(ts) / F.lit(bucket_seconds)).cast("long")
    dfb = df.withColumn("__b", b)
    w1 = (
        Window.partitionBy(key, "__b")
        .orderBy(ts, tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = F.sum(dec).over(w1)
    totals = dfb.groupBy(key, "__b").agg(F.sum(dec).alias("__tot"))
    w2 = (
        Window.partitionBy(key)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = totals.withColumn("__prefix", F.sum("__tot").over(w2)).drop("__tot")
    return (
        dfb.withColumn("__within", within)
        .join(F.broadcast(prefix), [key, "__b"])
        .withColumn(
            out,
            F.col("__within")
            + F.coalesce(F.col("__prefix"), F.lit(0).cast("decimal(18,6)")),
        )
        .drop("__b", "__within", "__prefix")
    )


def resample_ffill(
    df: DataFrame,
    key: str,
    ts: str,
    value: str,
    step_seconds: int = 300,
) -> DataFrame:
    """Gap-free resampling with forward fill — the time-series twin of
    a11 coverage_stats (which only COUNTS missing buckets; this one
    materializes them): bucket per (key, step), then generate every
    bucket between each key's first and last, left-join the observed
    aggregates, and carry the last observed average forward into the
    gaps (pandas ``resample().ffill()`` parity, reference
    binance_analysis.py's regular-grid assumption made explicit).

    Plan: one bucket agg (map-side combined), a skinny per-key bounds
    agg whose ``sequence()`` explode generates the grid WITHOUT a
    shuffle, one left join on (key, bucket) — broadcast when the grid
    side is small, AQE decides — and one ordered window per key for
    the fill.  The grid is |keys|·(span/step) rows of three scalars,
    never the fact table; decimal-summed averages keep the fill values
    engine-exact."""
    b = F.floor(F.unix_timestamp(ts) / F.lit(step_seconds)).cast("long")
    v = F.col(value)
    agg = df.groupBy(F.col(key), b.alias("b")).agg(
        F.count(v).alias("n_events"),
        F.round(
            F.sum(v.cast("decimal(18,6)")).cast("double") / F.count(v), 6
        ).alias("avg_value"),
    )
    bounds = agg.groupBy(key).agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    grid = bounds.select(key, F.explode(F.sequence("lo", "hi")).alias("b"))
    joined = grid.join(agg, [key, "b"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key,
        F.to_timestamp(F.col("b") * step_seconds).alias("bucket"),
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        F.last("avg_value", ignorenulls=True).over(w).alias("ff_value"),
        F.when(F.col("avg_value").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("filled"),
    )
